package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one JVM-wide session built by the
  * harness bootstrap (GraftSession) on 4 cores, so specs plan under the
  * confs Bench and Verify run with.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  // no data dir: specs read small fixtures, so the shuffle width is
  // the core count (Tuning.shufflePartitions floors at cores)
  lazy val session: SparkSession = GraftSession.local(cpus = 4, dataDir = "")
}
