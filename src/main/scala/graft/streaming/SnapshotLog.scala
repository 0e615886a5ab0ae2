package graft.streaming

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Atomic snapshot pointer for a segmented index — the `segments_N` analog
  * (two-phase commit semantics of IndexWriter.Commit,
  * /root/reference/src/Lucene.Net/Index/IndexWriter.cs:4092 and
  * SegmentInfos, /root/reference/src/Lucene.Net/Index/SegmentInfos.cs:119):
  * numbered JSON files under `indexDir/_snapshots/`; readers resolve the
  * highest N; writers stage to a temp name and rename (atomic on HDFS-like
  * stores), so a query never observes a half-committed segment set.
  */
final class SnapshotLog(indexDir: String, spark: SparkSession) {

  final case class Snapshot(id: Long, maxDoc: Long, base: Option[String],
                            segments: Seq[String], tombs: Seq[String] = Nil)

  private val fs: FileSystem = {
    val conf = spark.sessionState.newHadoopConf()
    new Path(indexDir).getFileSystem(conf)
  }
  private def dir = new Path(indexDir, "_snapshots")

  def latest(): Option[Snapshot] = {
    if (!fs.exists(dir)) return None
    val files = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
    if (files.isEmpty) return None
    val maxN = files.map(_.stripPrefix("snap-").stripSuffix(".json").toLong).max
    Some(parse(read(new Path(dir, f"snap-$maxN%012d.json")), maxN))
  }

  /** Commit the next snapshot (id = latest + 1). */
  def commit(maxDoc: Long, base: Option[String], segments: Seq[String],
             tombs: Seq[String] = Nil): Snapshot = {
    // The snapshot file is fixed-shape JSON with a substring parser; reject
    // path characters that would corrupt the round-trip (legal on POSIX but
    // never produced by our own segment naming).
    (base.toSeq ++ segments ++ tombs).foreach { p =>
      require(!p.exists(c => c == ',' || c == '}' || c == ']' || c == '"'),
        s"index path contains JSON-breaking character: $p")
    }
    val id = latest().map(_.id + 1).getOrElse(0L)
    val json =
      s"""{"id":$id,"max_doc":$maxDoc,"base":${base.map(b => "\"" + b + "\"").getOrElse("null")},
         |"segments":[${segments.map(s => "\"" + s + "\"").mkString(",")}],
         |"tombs":[${tombs.map(s => "\"" + s + "\"").mkString(",")}]}""".stripMargin
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".snap-$id.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val dst = new Path(dir, f"snap-$id%012d.json")
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(s"snapshot commit race on $dst")
    Snapshot(id, maxDoc, base, segments, tombs)
  }

  private def read(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  // minimal parser for our own fixed-shape JSON (no external deps)
  private def parse(json: String, id: Long): Snapshot = {
    def field(name: String): String = {
      val i = json.indexOf("\"" + name + "\":")
      json.substring(i + name.length + 3).takeWhile(c => c != ',' && c != '}')
    }
    val maxDoc = field("max_doc").trim.toLong
    val baseRaw = field("base").trim
    val base = if (baseRaw == "null") None else Some(baseRaw.stripPrefix("\"").stripSuffix("\""))
    def list(name: String): Seq[String] = {
      val marker = "\"" + name + "\":["
      val at = json.indexOf(marker)
      if (at < 0) Nil
      else {
        val raw = json.substring(at + marker.length).takeWhile(_ != ']')
        if (raw.trim.isEmpty) Nil
        else raw.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
      }
    }
    Snapshot(id, maxDoc, base, list("segments"), list("tombs"))
  }
}
