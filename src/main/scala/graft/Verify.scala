package graft
import java.nio.file.{Files, Paths}
import org.json4s.JsonAST.{JObject, JString}
import org.json4s.jackson.JsonMethods.compact
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = GraftSession.local(GraftSession.cpus, sfDir)
    new java.io.File(outDir).mkdirs()
    // Data-contract canary FIRST: if the harness regenerated a table with
    // an unexpected physical type (round 5: events.ts nanos→µs), fail
    // loudly with ONE named diagnosis instead of 50 identical stack traces.
    graft.sources.DataContract.report(spark, sfDir).foreach(l => println(s"[contract] $l"))
    // optional 3rd arg: comma-separated query-name prefixes, for a
    // subset run
    SparkEntry.selected(args.lift(2)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A failed query must leave a marker row in the artifact, not a
        // silent gap: round 5's 54 runtime failures were absent from
        // CORRECTNESS (reading as green) because this branch only logged.
        // The one-row sentinel frame forces a schema/hash mismatch against
        // the query's oracle, and tools/check_oracle.py reports any result
        // carrying a __graft_error column as FAIL with this message.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
            .toDF("__graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-marker write failed: ${e2.getMessage}")
        }
      }
    }
    // json4s escapes quotes, backslashes and every control char: a tab or
    // CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness.
    val json = compact(JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) }))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
