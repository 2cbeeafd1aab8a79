package graft

import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/** One-off diagnostic: run one op on the 100x corpus under several session
  * configs, each behind its own quiet gate, and print per-config wall + the
  * heaviest stages (task count, max task, task-sum, shuffle telemetry) so
  * straggler hunts aim at the right stage instead of re-rolling the whole
  * evidence row. Not part of any evidence path.
  *
  * Usage: graft.StageProbe <workDir> <query> "k=v,k=v" "k=v" ...
  * (one arg per config; <query> is a SparkEntry.queries name, or
  * `s07auto` for the s07 production operating point)
  */
object StageProbe {
  private def gate(threshold: Double, maxWaitSec: Int): Double = {
    def la(): Double = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+").head.toDouble
    val deadline = System.currentTimeMillis() + maxWaitSec * 1000L
    var l = la()
    while (l > threshold && System.currentTimeMillis() < deadline) {
      Thread.sleep(5000); l = la()
    }
    l
  }

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft_scale100x")
    // empty string falls back too (ADVICE r12: SCALING.md's example passed
    // "" as the query, which resolved to SparkEntry.queries("") and threw)
    val query = args.lift(1).filter(_.nonEmpty).getOrElse("s07auto")
    val configs = if (args.length > 2) args.drop(2).toSeq else Seq("")
    configs.foreach { confStr =>
      SparkSessionCleanup()
      val l = gate(2.5, 240)
      val (spark, _) = Bench.freshSession("32")
      confStr.split(",").filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) }
      case class St(var tasks: Int = 0, var maxMs: Long = 0,
        var sumMs: Long = 0, var maxShuf: Long = 0, var maxIn: Long = 0,
        var name: String = "")
      val stages = TrieMap.empty[Int, St]
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
          val st = stages.getOrElseUpdate(e.stageId, St())
          val m = e.taskMetrics
          if (m != null) {
            st.tasks += 1
            st.maxMs = math.max(st.maxMs, m.executorRunTime)
            st.sumMs += m.executorRunTime
            st.maxShuf = math.max(st.maxShuf,
              m.shuffleReadMetrics.totalBytesRead)
            st.maxIn = math.max(st.maxIn, m.inputMetrics.bytesRead)
          }
        }
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val st = stages.getOrElseUpdate(e.stageInfo.stageId, St())
          // details carries the full callsite stack; the first graft frame
          // names the operator (the short name is an AQE thread-pool frame).
          // RDD scopes name the physical operators the stage executes —
          // the only reliable label for stages submitted from AQE's pool.
          val site = e.stageInfo.details.linesIterator
            .find(_.contains("graft.")).map(_.trim).getOrElse("")
          val scopes = e.stageInfo.rddInfos
            .flatMap(_.scope.map(_.name)).distinct.mkString("|")
          st.name = (e.stageInfo.name.takeWhile(_ != '$') + " " + site +
            " [" + scopes + "]").take(160)
        }
      })
      def run() =
        if (query == "s07auto") {
          val emb = spark.read.parquet(s"$workDir/embeddings.parquet")
          graft.ops.Similarity.cosineNearDupBucketed(emb, "vec_id",
            "embedding", 0.9, point = graft.ops.FromCorpus).count()
        } else SparkEntry.queries(query)(spark, workDir).count()
      run() // warm
      spark.catalog.clearCache()
      // same pre-collect discipline as Bench.measure(): without it the warm
      // run's unpersisted cache + ContextCleaner debt lands in the timed
      // run's tasks (measured here: d03's verify stage 70 s max task dirty
      // vs 4.5 s clean — the r6 56×-inflation mode in miniature)
      System.gc()
      Thread.sleep(200)
      stages.clear()
      val t0 = System.nanoTime()
      val n = run()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"QUERY $query CONFIG [$confStr] gateLoad=$l%.2f wall=$sec%.1fs rows=$n")
      stages.toSeq.sortBy(-_._2.maxMs).take(8).foreach { case (id, s) =>
        println(f"  stage $id%4d tasks=${s.tasks}%4d max=${s.maxMs}%6d ms " +
          f"sum=${s.sumMs / 1000}%5d s maxShuf=${s.maxShuf / 1048576.0}%7.1f MB " +
          f"maxIn=${s.maxIn / 1048576.0}%6.1f MB  ${s.name}")
      }
      spark.stop()
    }
  }

  private object SparkSessionCleanup {
    def apply(): Unit = System.gc()
  }
}
