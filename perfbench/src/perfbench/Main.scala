package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: runs one workload against the library's
  * public API and writes the raw record document (ops, set-up steps, spans,
  * Spark jobs/stages, check outcomes) to `--out`. `perfbench/run.py` starts
  * this process and turns the document into metrics.
  *
  *   perfbench.Main --workload build|search|nrt --seed N --seconds S
  *                  --trace 0|1 --out FILE --work DIR --cpus N --jar JAR
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        out: String, work: String, cpus: Int, jar: String,
                        executors: Int)

  /** Heap of each `local-cluster` executor JVM. */
  final val ExecutorMemMb = 1024

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("out"), m("work"), m("cpus").toInt, m.getOrElse("jar", ""),
      m.get("executors").map(_.toInt).getOrElse(0))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Recorder
    rec.context ++= Seq("seed" -> a.seed, "workload" -> a.workload, "cpus" -> a.cpus,
      "seconds" -> a.seconds, "trace" -> a.trace,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"))
    val rss = new RssSampler
    rss.start()
    var code = 0
    try {
      a.workload match {
        case "build" => new BuildWorkload(a, rec, rss).run()
        case "search" => new SearchWorkload(a, rec, rss).run()
        case "nrt" => new NrtWorkload(a, rec, rss).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.counters("fatal") = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        code = 1
    } finally {
      rss.halt()
      rec.endRun()
      rec.counters("peak_rss_bytes") = rss.peak
      rec.counters("rss_samples") = rss.samples
      Files.write(Paths.get(a.out), Json.document(rec).getBytes(StandardCharsets.UTF_8))
    }
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(code)
  }

  /** A fresh Spark application: `local[cpus]`, or with `executors > 0` a
    * `local-cluster` of that many one-core executor JVMs that load the
    * library from `jar`; the call returns once all of them have registered.
    */
  def session(a: Args, shuffle: Int, executors: Int = 0): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val master =
      if (executors > 0) s"local-cluster[$executors,1,${ExecutorMemMb + 256}]"
      else s"local[${a.cpus}]"
    val b = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
    if (executors > 0) {
      b.config("spark.jars", a.jar)
        .config("spark.executor.memory", s"${ExecutorMemMb}m")
        .config("spark.executor.extraJavaOptions", s"-Djava.io.tmpdir=${a.work}/tmp")
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (executors > 0) {
      val deadline = System.currentTimeMillis() + 120000L
      while (s.sparkContext.getExecutorMemoryStatus.size < executors + 1) {
        require(System.currentTimeMillis() < deadline, s"executors did not register: $master")
        Thread.sleep(50)
      }
    }
    s
  }

  /** Flush dirty pages so one op's write-back never lands in the next op. */
  def sync(): Unit =
    try { new ProcessBuilder("sync").start().waitFor(); () }
    catch { case _: Throwable => () }

  def bytesUnder(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.iterator.map(bytesUnder).sum).getOrElse(0L)

  /** The `_manifest/<stage>.json` records `ManifestStore.commit` wrote. */
  def manifest(indexDir: String): Seq[String] = {
    val d = new java.io.File(indexDir, "_manifest")
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".json") && !f.getName.startsWith("."))
      .sortBy(_.getName)
      .map(f => new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
  }

  /** Run `body` with the listener registered when `traced`; the listener is
    * drained and removed before this returns.
    */
  def withListener[A](spark: SparkSession, traced: Boolean, rec: Recorder)
                     (body: => A): A =
    if (!traced) body
    else {
      val l = new StageListener
      spark.sparkContext.addSparkListener(l)
      try body
      finally {
        l.drain()
        spark.sparkContext.removeSparkListener(l)
        rec.absorb(l)
      }
    }
}

/** Peak resident memory of this JVM plus every descendant process (the
  * executor JVMs of a `local-cluster` master), sampled from `/proc` while
  * switched on: during set-up and timed work, not during output checks.
  */
final class RssSampler extends Thread("perfbench-rss") {
  setDaemon(true)
  @volatile var on = false
  @volatile var peak = 0L
  @volatile var samples = 0L
  @volatile private var stopped = false

  private def rssOf(pid: Long): Long =
    try {
      Files.readAllLines(Paths.get(s"/proc/$pid/status")).asScala
        .find(_.startsWith("VmRSS:"))
        .map(_.split("\\s+")(1).toLong * 1024L).getOrElse(0L)
    } catch { case _: Throwable => 0L }

  override def run(): Unit = while (!stopped) {
    if (on) {
      val self = ProcessHandle.current()
      val total = rssOf(self.pid()) +
        self.descendants().iterator().asScala.map(p => rssOf(p.pid())).sum
      if (total > peak) peak = total
      samples += 1
    }
    Thread.sleep(50)
  }
  def halt(): Unit = stopped = true
}
