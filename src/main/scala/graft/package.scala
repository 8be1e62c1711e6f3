package object graft {
  /** A named query in the driver contract: (session, scale-factor dir) ⇒ result. */
  type Q = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** One registry entry: a query's name, its plan and the DuckDB SQL
    * that checks it. `SparkEntry` derives both contract maps from these.
    */
  final case class Query(name: String, plan: Q, oracle: String)
}
