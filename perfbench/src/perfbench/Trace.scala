package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftShims

/** Spark-side counters of one span: the listener totals at its two edges. */
final case class Counters(jobs: Long, tasks: Long, taskMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes)
}

/** The benchmark's only SparkListener. Totals are monotone; spans read
  * them after draining the bus, so a span's delta covers exactly the
  * events posted inside it. Job intervals give the time during which no
  * Spark job ran (the Spark driver's serial floor).
  */
final class LayerListener extends SparkListener {
  private val jobs, tasks, taskMs, gcMs, shuffleWrite, spill = new AtomicLong
  private val starts = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    starts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def counters: Counters = Counters(jobs.get, tasks.get, taskMs.get, gcMs.get,
    shuffleWrite.get, spill.get)

  /** Milliseconds of [from, to) covered by at least one Spark job. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val clipped = (intervals ++ starts.values.map(s => (s, to)))
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var busy = 0L
    var reach = from
    clipped.foreach { case (s, e) =>
      if (e > reach) { busy += e - math.max(s, reach); reach = e }
    }
    busy
  }
}

/** One recorded span. Times are seconds since the run started. */
final case class Span(name: String, parent: Option[String], job: Int,
    start: Double, end: Double, counters: Option[Counters], gapS: Double) {
  def wallS: Double = end - start
}

/** Span recorder around the benchmark's calls into each graft layer.
  * Disabled, `span` only evaluates its body. Enabled, each span drains the
  * listener bus at both edges and records wall time, the listener's counter
  * deltas and its job-free gap. Spans stay in memory until [[jsonl]].
  */
final class Tracer(sc: SparkContext, t0: Long) {
  private val listener = new LayerListener
  private val done = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[String]()
  private var on = false
  var job: Int = -1

  def enable(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      GraftShims.drainListenerBus(sc)
      val c0 = listener.counters
      val ms0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val parent = open.headOption
      open.push(name)
      try body
      finally {
        open.pop()
        val s1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        GraftShims.drainListenerBus(sc)
        val wall = (s1 - s0) / 1e9
        val gap = math.max(0.0, wall - listener.busyMs(ms0, ms1) / 1e3)
        done += Span(name, parent, job, (s0 - t0) / 1e9, (s1 - t0) / 1e9,
          Some(listener.counters - c0), gap)
      }
    }

  /** Wall-only span for set-up, recorded whether or not tracing is on. */
  def setupSpan[A](name: String)(body: => A): A = {
    val s0 = System.nanoTime()
    try body
    finally done += Span(name, None, job, (s0 - t0) / 1e9, (System.nanoTime() - t0) / 1e9,
      None, 0.0)
  }

  def spans: Seq[Span] = done.toSeq

  /** Self time: wall minus the part of it that child spans cover. */
  def selfS(s: Span): Double = {
    val kids = done.filter(k => k.job == s.job && k.parent.contains(s.name) &&
      k.start >= s.start && k.end <= s.end).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0.0
    var reach = s.start
    kids.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    s.wallS - covered
  }

  def jsonl: String = done.map { s =>
    val c = s.counters.fold("") { c =>
      s""","jobs":${c.jobs},"tasks":${c.tasks},"task_s":${c.taskMs / 1e3},""" +
        s""""gc_s":${c.gcMs / 1e3},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""spill_bytes":${c.spillBytes},"driver_gap_s":${s.gapS},"self_s":${selfS(s)}"""
    }
    val p = s.parent.fold("null")(Json.str)
    s"""{"name":${Json.str(s.name)},"parent":$p,"job":${s.job},""" +
      s""""start":${s.start},"end":${s.end},"wall_s":${s.wallS}$c}"""
  }.mkString("", "\n", "\n")
}

object Json {
  def str(s: String): String = graft.plans.Jsonl.jstr(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
