package graft.sources

import java.util.{List => JList, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.pojo.{Field, FieldType, Schema => ArrowSchema}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for Arrow IPC *stream* files — the
  * cluster-scale half of the reference's `to_arrow`/`from_arrow`
  * interop ([[ArrowInterop]] is the driver-side half): a directory of
  * `.arrow` files any pyarrow/pandas/torch dataloader mmaps directly.
  *
  * {{{
  * df.write.format(classOf[graft.sources.ArrowSource].getName).save(dir)
  * spark.read.format(classOf[graft.sources.ArrowSource].getName).load(dir)
  * }}}
  *
  * Scale shape: the split unit is the FILE (an IPC stream is
  * sequential, like gzip'd JSON) — one InputPartition per file, one
  * output file per write task, so parallelism on both paths equals the
  * file/partition count. Column pruning is pushed into the reader
  * (`SupportsPushDownRequiredColumns`): only required vectors are
  * handed to Spark, as columnar batches. All I/O goes through the
  * Hadoop FileSystem API, so `file://`, `hdfs://`, etc. work alike.
  * Types: the reference column set (bool/int/long/float/double/string),
  * null masks preserved. Writes are two-phase: tasks write under
  * `_temporary/` and the driver's job commit renames to final names —
  * task retries, speculation, and failures never leave a partial file
  * visible (see [[ArrowWriteBuilder]]).
  */
class ArrowSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "ArrowSource requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = new Path(pathOf(options))
    val fs = FileSystem.get(path.toUri, new Configuration())
    val file = ArrowSource.listArrowFiles(fs, path).headOption.getOrElse(
      throw new IllegalArgumentException(s"no .arrow files under $path"))
    val allocator = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(fs.open(file), allocator)
    try {
      StructType(reader.getVectorSchemaRoot.getSchema.getFields.asScala.toSeq.map { f =>
        StructField(f.getName, ArrowInterop.fromArrowType(f.getFieldType.getType), f.isNullable)
      })
    } finally { reader.close(); allocator.close() }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ArrowTable(properties.get("path"), schema)
}

private[sources] object ArrowSource {
  def listArrowFiles(fs: FileSystem, path: Path): Seq[Path] = {
    val st = fs.getFileStatus(path)
    if (st.isDirectory)
      fs.listStatus(path).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".arrow"))
        .map(_.getPath).sortBy(_.getName)
    else Seq(path)
  }
}

private[sources] class ArrowTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"arrow:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ArrowScanBuilder(path, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ArrowWriteBuilder(path, info.schema())
}

private[sources] class ArrowScanBuilder(path: String, full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new ArrowScan(path, required)
}

private[sources] case class ArrowFilePartition(file: String) extends InputPartition

private[sources] class ArrowScan(path: String, required: StructType)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"ArrowScan(${required.fieldNames.mkString(",")})"

  /** Size from the files (IPC is uncompressed, so bytes-on-disk ≈
    * bytes-in-memory): without this a DSv2 source reports the default
    * "huge" estimate and a small arrow dim table would never broadcast.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val total: Long = {
      val p = new Path(path)
      val fs = FileSystem.get(p.toUri, new Configuration())
      ArrowSource.listArrowFiles(fs, p).map(f => fs.getFileStatus(f).getLen).sum
    }
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(total)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, new Configuration())
    ArrowSource.listArrowFiles(fs, p).map(f => ArrowFilePartition(f.toString)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val req = required
    new PartitionReaderFactory {
      // Arrow batches ARE Spark columnar batches (ArrowColumnVector is
      // public API) — hand them over whole; Spark inserts the
      // codegen'd ColumnarToRow, exactly like the vectorized parquet
      // reader. Every partition reads columnar, so Spark never asks
      // for a row reader.
      override def supportColumnarReads(partition: InputPartition): Boolean = true
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        throw new UnsupportedOperationException("ArrowScan reads columnar batches only")
      override def createColumnarReader(partition: InputPartition)
          : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
        new ArrowColumnarFileReader(partition.asInstanceOf[ArrowFilePartition].file, req)
    }
  }
}

/** Streams one IPC file batch-by-batch: each IPC record batch becomes
  * one ColumnarBatch of ArrowColumnVector wrappers — zero per-row
  * conversion in the source; row materialization happens in Spark's
  * codegen'd ColumnarToRow. The vectors alias the reader's root, valid
  * until the next `next()` — the batch-reader contract.
  */
private[sources] class ArrowColumnarFileReader(file: String, required: StructType)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnarBatch, ColumnVector}

  private val fsPath = new Path(file)
  private val allocator = new RootAllocator(Long.MaxValue)
  private val reader = new ArrowStreamReader(
    FileSystem.get(fsPath.toUri, new Configuration()).open(fsPath), allocator)
  private val root = reader.getVectorSchemaRoot
  private val ordinals: Array[Int] = required.fieldNames.map { n =>
    val i = root.getSchema.getFields.asScala.indexWhere(_.getName == n)
    require(i >= 0, s"column '$n' not in arrow file $file")
    i
  }

  override def next(): Boolean = reader.loadNextBatch()

  override def get(): ColumnarBatch = {
    val cols: Array[ColumnVector] =
      ordinals.map(i => new ArrowColumnVector(root.getVector(i)): ColumnVector)
    new ColumnarBatch(cols, root.getRowCount)
  }

  override def close(): Unit = { reader.close(); allocator.close() }
}

/** Task-commit message: where the task's temp file is and what final
  * name it should take on driver-side job commit.
  */
private[sources] case class ArrowCommitMessage(temp: String, dest: String)
  extends WriterCommitMessage

private[sources] class ArrowWriteBuilder(path: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** Atomic two-phase commit: each task writes
    * `_temporary/part-<pid>-<tid>.arrow` (invisible to readers — the
    * scan lists only top-level `*.arrow`), task commit reports the temp
    * path, and the DRIVER's job commit renames every reported file to
    * its final top-level name. A retried/speculated/failed task never
    * leaves a partial or duplicate file visible: losers either abort
    * (deleting their temp) or are never reported to job commit (Spark's
    * commit coordinator admits one attempt per partition), and job
    * abort removes the whole temp dir. Rename is the primitive HDFS /
    * local FS make atomic per file; on S3-like stores you'd swap in a
    * manifest commit, same protocol shape.
    */
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
        val p = new Path(path)
        val fs = FileSystem.get(p.toUri, new Configuration())
        if (doTruncate && fs.exists(p)) fs.delete(p, true)
        fs.mkdirs(new Path(p, "_temporary"))
        val dir = path
        val s = schema
        new DataWriterFactory {
          override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
            new ArrowFileWriter2(
              temp = s"$dir/_temporary/part-$partitionId-$taskId.arrow",
              dest = s"$dir/part-$partitionId-$taskId.arrow", s)
        }
      }

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val p = new Path(path)
        val fs = FileSystem.get(p.toUri, new Configuration())
        messages.foreach { case ArrowCommitMessage(temp, dest) =>
          val t = new Path(temp)
          val d = new Path(dest)
          if (fs.exists(d)) fs.delete(d, false)
          if (!fs.rename(t, d))
            throw new java.io.IOException(s"ArrowSource commit: rename $t -> $d failed")
        }
        fs.delete(new Path(p, "_temporary"), true)
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit = {
        val p = new Path(path)
        val fs = FileSystem.get(p.toUri, new Configuration())
        fs.delete(new Path(p, "_temporary"), true)
      }
    }
  }
}

/** Writes one task partition as one IPC stream file in bounded-size
  * record batches (no whole-partition buffering). Writes to `temp`;
  * the final rename to `dest` happens in the driver's job commit.
  */
private[sources] class ArrowFileWriter2(temp: String, dest: String, schema: StructType,
    batchSize: Int = 4096) extends DataWriter[InternalRow] {
  private val fsPath = new Path(temp)
  private val fs = FileSystem.get(fsPath.toUri, new Configuration())
  private val allocator = new RootAllocator(Long.MaxValue)
  private val fields: JList[Field] = schema.fields.map { f =>
    new Field(f.name, new FieldType(f.nullable, ArrowInterop.toArrowType(f.dataType), null), null)
  }.toSeq.asJava
  private val root = VectorSchemaRoot.create(new ArrowSchema(fields), allocator)
  private val out = fs.create(fsPath, true)
  private val writer = new ArrowStreamWriter(root, null, java.nio.channels.Channels.newChannel(out))
  writer.start()
  root.allocateNew()
  private var n = 0

  override def write(row: InternalRow): Unit = {
    var c = 0
    while (c < schema.length) {
      val vec = root.getVector(c)
      if (row.isNullAt(c)) vec match {
        case v: BitVector     => v.setNull(n)
        case v: IntVector     => v.setNull(n)
        case v: BigIntVector  => v.setNull(n)
        case v: Float4Vector  => v.setNull(n)
        case v: Float8Vector  => v.setNull(n)
        case v: VarCharVector => v.setNull(n)
      } else vec match {
        case v: BitVector     => v.setSafe(n, if (row.getBoolean(c)) 1 else 0)
        case v: IntVector     => v.setSafe(n, row.getInt(c))
        case v: BigIntVector  => v.setSafe(n, row.getLong(c))
        case v: Float4Vector  => v.setSafe(n, row.getFloat(c))
        case v: Float8Vector  => v.setSafe(n, row.getDouble(c))
        case v: VarCharVector => v.setSafe(n, row.getUTF8String(c).getBytes)
      }
      c += 1
    }
    n += 1
    if (n >= batchSize) flushBatch()
  }

  private def flushBatch(): Unit = {
    if (n > 0) {
      root.setRowCount(n)
      writer.writeBatch()
      root.allocateNew()
      n = 0
    }
  }

  override def commit(): WriterCommitMessage = {
    flushBatch()
    writer.end(); writer.close(); out.close()
    ArrowCommitMessage(temp, dest)
  }

  override def abort(): Unit = {
    close()
    // best-effort removal of this attempt's temp file; job abort
    // removes the whole _temporary dir regardless
    try fs.delete(fsPath, false) catch { case _: Throwable => () }
  }

  override def close(): Unit = {
    try { writer.close(); out.close() } catch { case _: Throwable => () }
    root.close(); allocator.close()
  }
}
