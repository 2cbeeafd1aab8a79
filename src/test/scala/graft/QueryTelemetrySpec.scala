package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** The one task-telemetry listener: tasks are attributed to their caller's
  * tag even when callers share a session, the work counters of a query
  * repeat exactly, and `drain` waits for every event already posted.
  */
class QueryTelemetrySpec extends SparkSpec {
  private lazy val telemetry = QueryTelemetry.attach(spark.sparkContext)

  test("concurrent tagged callers each get only their own jobs and tasks") {
    val sc = spark.sparkContext
    val start = new CountDownLatch(1)
    // (tag, jobs, partitions per job)
    val callers = Seq(("a", 5, 3), ("b", 4, 5)).map { case (tag, jobs, parts) =>
      val t = new Thread(() => {
        start.await()
        telemetry.tagged(tag) {
          (1 to jobs).foreach { _ =>
            sc.parallelize(1 to 60, parts).map { x => Thread.sleep(1); x }.count()
          }
        }
      })
      t.start()
      t
    }
    start.countDown()
    callers.foreach(_.join())
    telemetry.drain()
    val (a, b) = (telemetry.take("a"), telemetry.take("b"))
    assert((a.jobs, a.tasks.size, a.stages) == (5, 15, 5))
    assert((b.jobs, b.tasks.size, b.stages) == (4, 20, 4))
    assert(a.stageNames.keySet.intersect(b.stageNames.keySet).isEmpty)
    assert(a.tasks.map(_.stageId).toSet == a.stageNames.keySet)
    assert(b.tasks.map(_.stageId).toSet == b.stageNames.keySet)
    // read once: a taken tag starts from zero
    assert(telemetry.take("a") == QueryWork(0, Map.empty, Nil))
  }

  test("a shuffle query's jobs, stages and shuffle bytes/records repeat exactly") {
    def run(tag: String): QueryWork = {
      telemetry.tagged(tag) {
        spark.range(0, 20000, 1, 4).groupBy((col("id") % 97).as("k"))
          .agg(sum("id").as("s")).collect()
      }
      telemetry.drain()
      telemetry.take(tag)
    }
    val (first, second) = (run("shuffle.1"), run("shuffle.2"))
    assert(first.jobs > 0 && first.stages >= 2)
    assert(first.shuffleWriteBytes > 0 && first.shuffleWriteRecords > 0)
    assert((first.jobs, first.stages, first.shuffleWriteBytes, first.shuffleWriteRecords) ==
      (second.jobs, second.stages, second.shuffleWriteBytes, second.shuffleWriteRecords))
  }

  test("drain returns only after the tagged tasks have been counted") {
    // a slow listener on the same bus holds task-end events back, so the
    // job returns long before the telemetry has seen its tasks
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    val sc = spark.sparkContext
    telemetry // attached before the slow listener
    sc.addSparkListener(slow)
    try {
      telemetry.tagged("slow")(sc.parallelize(1 to 40, 40).count())
      telemetry.drain()
      val w = telemetry.take("slow")
      assert((w.jobs, w.tasks.size) == (1, 40))
    } finally sc.removeSparkListener(slow)
  }
}
