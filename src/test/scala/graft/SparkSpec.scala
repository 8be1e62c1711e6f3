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

  /** Run `body` with session confs `kv` set, restoring them after. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  // no data dir: specs read small fixtures, so the shuffle width is
  // the core count (Tuning.shufflePartitions floors at cores)
  lazy val session: SparkSession = GraftSession.local(cpus = 4, dataDir = "")
}
