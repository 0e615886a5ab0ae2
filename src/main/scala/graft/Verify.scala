package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare
  * (`scripts/compare_oracle.py <sfDir> <outDir>`).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [gate1,gate2,...]` — the
  * optional third argument limits the dump to the named gates.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val names = args.lift(2).map(_.split(',').toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, args(0), args(1), names)
    spark.stop()
  }

  /** Writes each named gate's result to `outDir/<name>` and the gates'
    * oracle SQL to `outDir/oracle_sql.json`. Returns each written gate's
    * physical plan; a failing gate is logged and left out.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val plans = names.flatMap { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        Some(name -> df.queryExecution.executedPlan.toString)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
      }
    }.toMap
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = names.filter(SparkEntry.oracleSql.contains)
      .map(k => s"${q(k)}: ${q(SparkEntry.oracleSql(k))}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    plans
  }
}
