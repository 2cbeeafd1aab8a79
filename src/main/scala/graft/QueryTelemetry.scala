package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished task's metrics. `recordsRead` counts the rows it read from a
  * scan or a shuffle.
  */
final case class TaskWork(stageId: Int, runMs: Long, cpuMs: Long, gcMs: Long,
    inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    shuffleWriteRecords: Long, recordsRead: Long)

/** One stage's tasks, summed and maxed, with the stage's label. */
final case class StageWork(stageId: Int, name: String, tasks: Int, maxTaskMs: Long,
    sumTaskMs: Long, maxShuffleReadBytes: Long, maxInputBytes: Long)

/** What the jobs run under one tag did: job count, the stages that ran
  * (id → label) and every task's metrics. Jobs, stages and shuffle
  * bytes/records are the deterministic work counters; the task times are
  * the machine's.
  */
final case class QueryWork(jobs: Int, stageNames: Map[Int, String], tasks: Seq[TaskWork]) {
  def stages: Int = stageNames.size
  def taskMs: Long = tasks.map(_.runMs).sum
  def gcMs: Long = tasks.map(_.gcMs).sum
  def maxTaskMs: Long = tasks.map(_.runMs).maxOption.getOrElse(0L)
  def maxInputBytes: Long = tasks.map(_.inputBytes).maxOption.getOrElse(0L)
  def maxShuffleReadBytes: Long = tasks.map(_.shuffleReadBytes).maxOption.getOrElse(0L)
  def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  def shuffleWriteRecords: Long = tasks.map(_.shuffleWriteRecords).sum

  def ++(o: QueryWork): QueryWork =
    QueryWork(jobs + o.jobs, stageNames ++ o.stageNames, tasks ++ o.tasks)

  def perStage: Seq[StageWork] =
    tasks.groupBy(_.stageId).toSeq.sortBy(_._1).map { case (id, ts) =>
      StageWork(id, stageNames.getOrElse(id, ""), ts.size, ts.map(_.runMs).max,
        ts.map(_.runMs).sum, ts.map(_.shuffleReadBytes).max, ts.map(_.inputBytes).max)
    }
}

/** The one task-telemetry listener. The caller tags its jobs through a
  * job-local property ([[tagged]]); a task is attributed through its
  * stage's job, so concurrent callers on one session each see only their
  * own work. Read a tag with [[take]] after [[drain]], which returns only
  * once every event posted before it has been processed.
  */
final class QueryTelemetry private (sc: SparkContext) extends SparkListener {
  import QueryTelemetry._

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[String, java.lang.Integer]()
  private val stageNames = new ConcurrentHashMap[String, ConcurrentHashMap[Int, String]]()
  private val tasks = new ConcurrentHashMap[String, ConcurrentLinkedQueue[TaskWork]]()
  // markers whose task end has been processed (see drain)
  private val ended = ConcurrentHashMap.newKeySet[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).orNull
    if (tag != null) {
      e.stageIds.foreach(stageTag.put(_, tag))
      jobs.merge(tag, 1, (a, b) => a + b)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val tag = stageTag.get(info.stageId)
    if (tag == null || tag.startsWith(MarkerPrefix)) return
    // details carries the full callsite stack; the first graft frame names
    // the operator (the short name is an AQE thread-pool frame). RDD scopes
    // name the physical operators the stage executes.
    val site = info.details.linesIterator.find(_.contains("graft.")).map(_.trim).getOrElse("")
    val scopes = info.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString("|")
    stageNames.computeIfAbsent(tag, _ => new ConcurrentHashMap[Int, String]())
      .put(info.stageId,
        (info.name.takeWhile(_ != '$') + " " + site + " [" + scopes + "]").take(160))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    if (tag == null) return
    if (tag.startsWith(MarkerPrefix)) { ended.add(tag); return }
    val m = e.taskMetrics
    val rec =
      if (m == null) TaskWork(e.stageId, 0, 0, 0, 0, 0, 0, 0, 0)
      else TaskWork(e.stageId, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
    tasks.computeIfAbsent(tag, _ => new ConcurrentLinkedQueue[TaskWork]()).add(rec)
  }

  /** Run `body` with every job it starts on this thread tagged `tag`. */
  def tagged[A](tag: String)(body: => A): A = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }

  /** Block until the listener has processed every event posted so far: run a
    * one-task marker job and wait for its task end to arrive behind them.
    */
  def drain(): Unit = {
    val marker = MarkerPrefix + markers.incrementAndGet()
    tagged(marker)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30e9.toLong
    while (!ended.contains(marker) && System.nanoTime() < deadline) Thread.sleep(2)
    if (!ended.remove(marker)) throw new IllegalStateException("listener did not drain")
    stageTag.values.removeIf(_ == marker)
  }

  /** The work recorded under `tag` so far, which is then forgotten (so a
    * reused tag starts from zero). Call [[drain]] first.
    */
  def take(tag: String): QueryWork = {
    stageTag.values.removeIf(_ == tag)
    QueryWork(
      Option(jobs.remove(tag)).map(_.intValue).getOrElse(0),
      Option(stageNames.remove(tag)).map(_.asScala.toMap).getOrElse(Map.empty),
      Option(tasks.remove(tag)).map(_.asScala.toVector).getOrElse(Vector.empty))
  }
}

object QueryTelemetry {
  final val TagKey = "graft.telemetry.tag"
  private final val MarkerPrefix = "__drain_"
  private val markers = new java.util.concurrent.atomic.AtomicLong

  /** A listener registered on `sc`. */
  def attach(sc: SparkContext): QueryTelemetry = {
    val t = new QueryTelemetry(sc)
    sc.addSparkListener(t)
    t
  }
}
