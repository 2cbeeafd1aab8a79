package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed layer call: name, wall-clock interval, the span that caused it
  * (same thread), and the run it belongs to. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, runId: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` just runs its body, so the
  * untraced runs pay nothing but a boolean check. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parents.headOption.getOrElse(0L), runId))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time of each span called `name` that started at or after
    * `sinceNs`: its duration minus the part its direct children cover. */
  def selfMs(name: String, sinceNs: Long): Seq[Double] = {
    val spans = all
    val childMs = spans.groupMapReduce(_.parent)(_.ms)(_ + _)
    spans.filter(s => s.name == name && s.startNs >= sinceNs)
      .map(s => s.ms - childMs.getOrElse(s.id, 0.0))
  }

  def writeJsonl(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"run_id":"${s.runId}"}""")
    } finally w.close()
  }
}

/** Per-task record kept by [[WorkListener]]. */
final case class TaskRec(durationMs: Long, cpuNs: Long, gcMs: Long,
    recordsRead: Long, bytesWritten: Long, shuffleWriteBytes: Long)

/** Work counters per tagged window, from Spark's public listener API. The
  * caller tags its jobs with a local property; tasks are attributed through
  * their stage's job. */
final class WorkListener extends SparkListener {
  import WorkListener._
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[String, java.lang.Integer]()
  private val tasks = new ConcurrentHashMap[String, ConcurrentLinkedQueue[TaskRec]]()
  // markers whose task end has been processed (see drain)
  private val ended = ConcurrentHashMap.newKeySet[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).orNull
    if (tag != null) {
      e.stageIds.foreach(stageTag.put(_, tag))
      jobs.merge(tag, 1, (a, b) => a + b)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    if (tag == null) return
    if (tag.startsWith(MarkerPrefix)) { ended.add(tag); return }
    val m = e.taskMetrics
    val rec =
      if (m == null) TaskRec(e.taskInfo.duration, 0, 0, 0, 0, 0)
      else TaskRec(e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten)
    tasks.computeIfAbsent(tag, _ => new ConcurrentLinkedQueue[TaskRec]()).add(rec)
  }

  def jobCount(tag: String): Int = Option(jobs.get(tag)).map(_.intValue).getOrElse(0)

  def taskRecs(tag: String): Seq[TaskRec] =
    Option(tasks.get(tag)).map(_.asScala.toSeq).getOrElse(Nil)

  /** Block until the listener has processed every event posted so far: run a
    * one-task marker job and wait for its task-end to arrive behind them. */
  def drain(sc: SparkContext): Unit = {
    val marker = MarkerPrefix + System.nanoTime()
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(TagKey, prev)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!ended.contains(marker) && System.nanoTime() < deadline) Thread.sleep(2)
    if (!ended.contains(marker)) throw new IllegalStateException("listener did not drain")
  }
}

object WorkListener {
  final val TagKey = "perfbench.tag"
  final val MarkerPrefix = "__marker_"

  def tagged[A](sc: SparkContext, tag: String)(body: => A): A = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.length == 1) return s.head
    val r = p / 100 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** p99, or the highest percentile with at least ten samples beyond it;
    * below 20 samples there is no such percentile and the tail is the max.
    * Returns (value, percentile used). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    val p = if (n >= 1000) 99.0 else if (n >= 20) 100.0 * (n - 10) / n else 100.0
    (percentile(xs, p), p)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Fixed single-thread CPU loop, timed: a yardstick for host speed. */
  def calMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42) println("") // keep the loop live
    ms
  }
}
