package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CryptoCodec
import graft.pipeline.{ColumnPolicy, PerValue, ProtectionPipeline}
import graft.queries.GraftSession

/** The spread encrypt → write under task retry: on `local[2,2]` (two cores,
  * each task may fail once) a task of the scan stage and one of the protect
  * stage fail on their first attempt, and every output file must still hold
  * exactly the rows a clean run writes to it. Runs its own session and stops it afterwards; the
  * next suite creates its shared session afresh.
  */
class ProtectRetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    (SparkSession.getActiveSession ++ SparkSession.getDefaultSession).foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder("local[2,2]", 2).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Rows of each output file (by its part number), as sorted strings. */
  private def rowsPerFile(dir: String): Map[String, Seq[String]] =
    new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet")).map { f =>
      f.getName.split('-')(1) -> spark.read.parquet(f.getPath).collect().toSeq
        .map(_.toSeq.map {
          case b: Array[Byte] => b.map("%02x".format(_)).mkString
          case x => String.valueOf(x)
        }.mkString("|")).sorted
    }.toMap

  test("a retried protect task writes the same rows to every file as a clean run") {
    val root = Files.createTempDirectory("graft-retry")
    val in = root.resolve("in").toString
    spark.range(20000).select(col("id"),
      concat(lit("user-"), col("id").cast("string")).as("email"),
      (col("id") % 97).cast("double").as("score"))
      .coalesce(1).write.parquet(in)
    val failures = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo.failed) failures.incrementAndGet()
    })
    // its drain() returns once every task end posted so far has been handled
    val telemetry = QueryTelemetry.attach(spark.sparkContext)

    // passes every row; throws in the first attempt of task `failPartition`
    // of the stage it runs in
    def passOrFail(failPartition: Int) = udf { (keep: Boolean) =>
      val tc = TaskContext.get()
      if (tc.partitionId == failPartition && tc.attemptNumber == 0)
        throw new IllegalStateException("injected first-attempt failure")
      keep
    }.asNondeterministic()
    // `failScan` fails a task of the scan stage (which places rows by their
    // position), `failProtect` one of the protect stage after the exchange
    def run(failScan: Int, failProtect: Int): String = {
      val out = root.resolve(s"out-$failScan-$failProtect").toString
      val read = spark.read.parquet(in).filter(passOrFail(failScan)(col("id") >= 0))
      val enc = ProtectionPipeline.encrypt(read, Seq(
        ColumnPolicy("email", "retry-e", PerValue, CryptoCodec.AesDet),
        ColumnPolicy("score", "retry-s", PerValue, CryptoCodec.Xor)))
      enc.filter(passOrFail(failProtect)(col("id") >= 0)).write.parquet(out)
      out
    }

    val clean = rowsPerFile(run(failScan = -1, failProtect = -1))
    telemetry.drain()
    assert(failures.get == 0)
    val retried = rowsPerFile(run(failScan = 0, failProtect = 1))
    telemetry.drain()
    assert(failures.get == 2, "each injected failure must have happened once")
    assert(clean.size == spark.sparkContext.defaultParallelism)
    assert(clean.values.map(_.size).sum == 20000)
    assert(retried == clean)
  }
}
