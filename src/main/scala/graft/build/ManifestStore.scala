package graft.build

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Snapshot/lineage store for the index build — the commit-point analog of
  * Lucene's two-phase `segments_N` publish
  * (/root/reference/src/Lucene.Net/Index/IndexWriter.cs:4092) realized as
  * atomic manifest-file commits on the index directory. Each build stage
  * commits a JSON record (rows, wall ms, per-output-file lineage); a stage
  * whose record exists is skipped on re-run, which makes the build resumable
  * mid-merge (north_rule resumability). Works on any Hadoop filesystem.
  */
final class ManifestStore(indexDir: String, spark: SparkSession) {

  private val fs: FileSystem = {
    val conf = spark.sessionState.newHadoopConf()
    new Path(indexDir).getFileSystem(conf)
  }
  private def manifestDir = new Path(indexDir, "_manifest")
  private def stagePath(stage: String) = new Path(manifestDir, s"$stage.json")

  def isDone(stage: String): Boolean = fs.exists(stagePath(stage))

  /** Atomically (temp + rename) record a completed stage with its lineage. */
  def commit(stage: String, rows: Long, wallMs: Long, outputPath: Option[String]): Unit = {
    val files: Seq[(String, Long)] = outputPath.toSeq.flatMap { p =>
      val path = new Path(p)
      if (fs.exists(path)) {
        fs.listStatus(path).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
          .map(s => (s.getPath.getName, s.getLen))
      } else Nil
    }
    val fileJson = files
      .map { case (n, b) => s"""{"file":"$n","bytes":$b}""" }
      .mkString("[", ",", "]")
    val json =
      s"""{"stage":"$stage","status":"committed","rows":$rows,"wall_ms":$wallMs,
         |"committed_at":${System.currentTimeMillis()},"outputs":$fileJson}""".stripMargin
    fs.mkdirs(manifestDir)
    val tmp = new Path(manifestDir, s".$stage.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(stagePath(stage))) fs.delete(stagePath(stage), false)
    fs.rename(tmp, stagePath(stage))
  }

  /** The bytes of every output file a committed stage recorded. */
  def outputBytes(stage: String): Long = {
    val in = fs.open(stagePath(stage))
    val json = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    "\"bytes\":(\\d+)".r.findAllMatchIn(json).map(_.group(1).toLong).sum
  }

  /** Whether `stage`'s output table is still on disk. */
  def hasOutput(stage: String): Boolean = fs.exists(new Path(indexDir, stage))

  /** Delete `stage`'s output table, keeping its commit record. */
  def dropOutput(stage: String): Unit = fs.delete(new Path(indexDir, stage), true)

  def committedStages(): Seq[String] =
    if (!fs.exists(manifestDir)) Nil
    else fs.listStatus(manifestDir).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".json")).map(_.stripSuffix(".json"))
}
