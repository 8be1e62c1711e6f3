package graft.plans

import org.apache.spark.sql.internal.SQLConf

/** The input size both small-input rules ([[SmallSortRule]] at run time,
  * [[SmallInputRule]] before the first job) read as "one partition".
  */
object OnePartition {

  /** Bytes at or below which `CoalesceShufflePartitions` reads a shuffle
    * as one partition: `coalescePartitions.minPartitionSize` when
    * `coalescePartitions.parallelismFirst` is true, else
    * `advisoryPartitionSizeInBytes`; `None` when it does not coalesce at
    * all. Spark's own confs set it; there is no graft knob.
    */
  def bytes(conf: SQLConf): Option[Long] =
    if (!conf.coalesceShufflePartitionsEnabled) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
}
