package perfbench

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.model.Turn
import graft.verify.IndexVerifier
import org.apache.spark.sql.functions.{col, count, octet_length, sum}

/** `build`, one half: a seeded corpus indexed with default
  * `IndexBuilder.Options()` in a fresh Spark application on
  * `local-cluster[executors,1,m]` (executor JVMs, not threads). `run.py`
  * starts one process for 1 executor and one for `cpus` executors, so each
  * application pays its own driver JIT warm-up as a batch job does. The
  * application builds the corpus into a fresh directory until half of the
  * run time is used (at least `minBuilds` times); executor start-up and
  * corpus synthesis are set-up.
  */
final class BuildWorkload(a: Main.Args, rec: Recorder, rss: RssSampler) {
  private val convs = BuildWorkload.Convs
  private val corpus = s"${a.work}/corpus"
  // Same partitioning at both executor counts: the work is data-sized.
  private val shuffle = 4 * a.cpus
  private val minBuilds = if (a.trace) 2 else 1

  def run(): Unit = {
    val executors = a.executors
    require(executors > 0, "build needs --executors")
    rec.context("convs") = convs
    rss.on = true
    val spark = rec.setup(s"local-cluster[$executors]") {
      Main.session(a, shuffle, executors)
    }
    import spark.implicits._
    rec.setup("corpus") {
      Transcripts.dataset(spark, convs, a.seed).write.mode("overwrite").parquet(corpus)
      val (turns, textBytes) = spark.read.parquet(corpus)
        .agg(count("*"), sum(octet_length(col("text"))))
        .as[(Long, Long)].head()
      rec.counters("turns") = turns
      rec.counters("text_bytes") = textBytes
    }
    val deadline = Clock.nowMs() + a.seconds * 500.0
    val done = scala.collection.mutable.ArrayBuffer[(Op, String)]()
    var i = 0
    while (i < minBuilds || Clock.nowMs() < deadline) {
      val dir = s"${a.work}/build/idx-$executors-$i"
      Main.sync()
      val traced = a.trace
      Main.withListener(spark, traced, rec) {
        rec.op("build", s"x$executors", traced) { o =>
          o.info("executors") = executors
          rec.call("IndexBuilder.buildFromTurns") {
            IndexBuilder.buildFromTurns(spark.read.parquet(corpus).as[Turn], dir)
          }
        }
      }
      done += ((rec.ops.last, dir))
      i += 1
    }
    rss.on = false
    // Output checks, untimed: the index is consistent and its docmap holds
    // exactly the synthesized turns.
    val keys = spark.read.parquet(corpus).select("conv_id", "turn_idx")
    done.foreach { case (o, dir) =>
      o.info("manifest") = Main.manifest(dir)
      o.info("tables") = Seq("runs", "docmap", "norms", "termdict", "postings", "stats")
        .map(t => t -> Main.bytesUnder(new java.io.File(dir, t))).toMap
      if (o.ok) {
        val violations = IndexVerifier.verify(spark, dir)
        rec.check(o, violations.isEmpty, s"IndexVerifier: ${violations.take(3).mkString("; ")}")
        val docmap = spark.read.parquet(s"$dir/docmap").select("conv_id", "turn_idx")
        val same = docmap.count() == keys.count() &&
          docmap.exceptAll(keys).isEmpty && keys.exceptAll(docmap).isEmpty
        rec.check(o, same, "docmap rows differ from the synthesized turns")
      }
    }
    if (a.trace && executors == a.cpus) {
      val dir = done.last._2
      val sample = Transcripts.local(500L, a.seed).map(_.text)
      rec.counters("analysis.tokens_per_s") = MicroTimings.analysis(sample)
      MicroTimings.codecAndScore(spark, dir, Pool.Common).foreach { case (k, v) => rec.counters(k) = v }
    }
    spark.stop()
  }
}

object BuildWorkload {
  /** Corpus size in conversations (about 4 turns each). */
  final val Convs = 20000
}
