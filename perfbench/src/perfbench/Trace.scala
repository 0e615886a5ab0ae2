package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Raw event recording for one benchmark process. Nothing here computes a
  * metric: the recorder keeps ops, spans, Spark jobs/stages and check
  * outcomes in memory and writes them as one JSON document at exit; the
  * Python side (perfbench/bench/metrics.py) derives every number from it.
  *
  * Clock: every timestamp is epoch milliseconds as a double with
  * sub-millisecond resolution (a nanoTime offset from one epoch anchor), so
  * op/call spans and Spark listener events (epoch ms) share one time base.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** One span: a run, an op, or a call into the library inside an op. */
final case class Span(id: Long, parent: Long, op: Long, level: String,
                      name: String, t0: Double, var t1: Double)

/** One timed operation; `ok` turns false on a throw or a failed check. */
final case class Op(id: Long, kind: String, cls: String, t0: Double,
                    var t1: Double, traced: Boolean,
                    var ok: Boolean, var error: String,
                    info: mutable.LinkedHashMap[String, Any])

final class Recorder {
  private val nextId = new AtomicLong(1)

  val ops = mutable.ArrayBuffer[Op]()
  val spans = mutable.ArrayBuffer[Span]()
  val setups = mutable.ArrayBuffer[(String, Double)]()
  val context = mutable.LinkedHashMap[String, Any]()
  val counters = mutable.LinkedHashMap[String, Any]()
  val checkFailures = mutable.ArrayBuffer[String]()
  val jobs = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  val stages = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()

  /** Keep a drained listener's job and stage records. */
  def absorb(l: StageListener): Unit = l.synchronized {
    l.jobs.values.foreach { j =>
      jobs += mutable.LinkedHashMap[String, Any]("id" -> j.id, "t0" -> j.t0, "t1" -> j.t1)
    }
    l.stages.values.foreach { s =>
      stages += mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "attempt" -> s.attempt, "job" -> s.job, "name" -> s.name,
        "t0" -> s.t0, "t1" -> s.t1, "tasks" -> s.tasks,
        "failed_tasks" -> s.failedTasks, "retried_tasks" -> s.retriedTasks,
        "run_ms" -> s.runMs, "gc_ms" -> s.gcMs, "spill_bytes" -> s.spill,
        "shuffle_write_bytes" -> s.shuffleWrite,
        "shuffle_read_bytes" -> s.shuffleRead, "input_bytes" -> s.inputBytes,
        "task_ms" -> s.durations.sorted)
    }
  }

  /** Spans are recorded only while this is set (traced ops). */
  @volatile var tracing: Boolean = false
  private var stack: List[Span] = Nil
  private val runSpan = Span(nextId.getAndIncrement(), 0L, 0L, "run", "run", Clock.nowMs(), 0.0)
  spans += runSpan
  def endRun(): Unit = runSpan.t1 = Clock.nowMs()

  /** Time one set-up step (session start, corpus, set-up builds). */
  def setup[A](name: String)(body: => A): A = {
    val t0 = Clock.nowMs()
    val a = body
    setups += ((name, (Clock.nowMs() - t0) / 1000.0))
    a
  }

  /** One timed operation. A throw marks the op failed and is not rethrown:
    * the loop goes on and the failure counts in `failed`.
    */
  def op[A](kind: String, cls: String, traced: Boolean)(body: Op => A): Option[A] = {
    val o = Op(nextId.getAndIncrement(), kind, cls, Clock.nowMs(), 0.0, traced,
      ok = true, error = null, mutable.LinkedHashMap())
    val was = tracing
    tracing = traced
    val span = if (traced) {
      val s = Span(o.id, runSpan.id, o.id, "op", s"$kind.$cls",
        o.t0, 0.0)
      spans += s
      stack = s :: stack
      Some(s)
    } else None
    try Some(body(o))
    catch {
      case e: Throwable =>
        o.ok = false
        o.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    } finally {
      o.t1 = Clock.nowMs()
      span.foreach { s => s.t1 = o.t1; stack = stack.drop(1) }
      ops += o
      tracing = was
    }
  }

  /** A call into one public library function, inside the current op. */
  def call[A](name: String)(body: => A): A = {
    if (!tracing || stack.isEmpty) body
    else {
      val parent = stack.head
      val s = Span(nextId.getAndIncrement(), parent.id, parent.op, "call", name,
        Clock.nowMs(), 0.0)
      spans += s
      stack = s :: stack
      try body
      finally { s.t1 = Clock.nowMs(); stack = stack.drop(1) }
    }
  }

  /** An untimed correctness check; a failure is attributed to `op`. */
  def check(op: Op, cond: Boolean, what: => String): Unit = if (!cond) {
    op.ok = false
    if (op.error == null) op.error = s"wrong result: $what"
    if (checkFailures.size < 50) checkFailures += s"${op.kind}.${op.cls}#${op.id}: $what"
  }
}

/** Benchmark-owned listener: job and stage intervals plus per-stage task
  * aggregates, recorded from outside the library. It is registered only
  * around traced ops, so untraced ops pay no listener cost.
  */
final class StageListener extends SparkListener {
  final class Stage(val id: Int, val attempt: Int, val name: String) {
    var job: Int = -1
    var t0: Double = 0.0
    var t1: Double = 0.0
    var tasks = 0
    var failedTasks = 0
    var retriedTasks = 0
    var runMs = 0L
    var gcMs = 0L
    var spill = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var inputBytes = 0L
    val durations = mutable.ArrayBuffer[Long]()
  }
  final class Job(val id: Int, val t0: Double) {
    var t1: Double = 0.0
  }

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val stageJob = mutable.HashMap[Int, Int]()
  @volatile var started = 0L
  @volatile var ended = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val j = new Job(e.jobId, e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    jobs.get(e.jobId).foreach(_.t1 = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { j =>
      val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
        new Stage(i.stageId, i.attemptNumber(), i.name))
      s.job = j
      s.t0 = i.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs())
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.t1 = i.completionTime.map(_.toDouble).getOrElse(Clock.nowMs())
      if (s.t0 == 0.0) s.t0 = i.submissionTime.map(_.toDouble).getOrElse(s.t1)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      val info = e.taskInfo
      if (!info.successful) s.failedTasks += 1
      if (info.attemptNumber > 0 || info.speculative) s.retriedTasks += 1
      s.durations += info.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Listener delivery is asynchronous: wait until every started job has
    * been seen to end (bounded), so attribution sees complete records.
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline && (ended < started || ended != last)) {
      last = ended
      Thread.sleep(100)
    }
  }
}

/** The raw-record document as JSON. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def document(rec: Recorder): String = {
    val ops = rec.ops.map { o =>
      mutable.LinkedHashMap[String, Any]("id" -> o.id, "kind" -> o.kind, "cls" -> o.cls,
        "t0" -> o.t0, "t1" -> o.t1, "traced" -> o.traced, "ok" -> o.ok,
        "error" -> o.error, "info" -> o.info)
    }
    val spans = rec.spans.map { s =>
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "level" -> s.level, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1)
    }
    mapper.writeValueAsString(mutable.LinkedHashMap[String, Any](
      "context" -> rec.context, "setups" -> rec.setups.map { case (n, s) =>
        mutable.LinkedHashMap[String, Any]("name" -> n, "s" -> s) },
      "ops" -> ops, "spans" -> spans, "jobs" -> rec.jobs, "stages" -> rec.stages,
      "counters" -> rec.counters, "check_failures" -> rec.checkFailures))
  }
}
