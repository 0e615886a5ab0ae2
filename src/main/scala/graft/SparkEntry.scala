package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.gate.{Gate, GateOracle}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * All queries live in [[graft.gate.Gate]]; their DuckDB oracle SQL in
  * [[graft.gate.GateOracle]].
  */
object SparkEntry {
  /** Flagship: build the inverted index over sf0.001 documents and run a
    * 2-term disjunction top-10 (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame =
    Gate.engineTopk(spark, "/root/testdata/sf0.001",
      graft.query.Query.Bool(should = Seq("spark", "window")), 10)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Gate.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] = GateOracle.sql
}
