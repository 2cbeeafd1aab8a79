package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.GraftSession

/** Plan and stage inspection tool: runs each query three times and prints
  * each run's wall time, then its row count from one untimed `count()`.
  * Every run starts after an untimed cache clear, so a query that caches
  * internally pays its full cost in each run, and computes every output
  * column ([[run]]). Usage:
  *   sbt "runMain graft.Explain <dataDir> <query> [query ...]"
  *   sbt "runMain graft.Explain <dataDir> <query> --plan"   (also dump plan)
  *   sbt "runMain graft.Explain <dataDir> <query> --stages" (run 3's work
  *     counters — jobs, stages, shuffle write — and per-stage telemetry:
  *     tasks, max and summed task ms, max task shuffle read and input, and
  *     the stage's label, so a straggler hunt aims at the stage that owns
  *     the task-seconds)
  *   sbt "runMain graft.Explain <dataDir> <query> --conf k=v"  (conf override)
  * `<query>` is a registry name, or `s07auto` for s07 at the production
  * operating point the scale rows run ([[Bench.s07Production]]).
  * `<dataDir>` may be a synthesized scale corpus (e.g. /tmp/graft_scale100x).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val wantPlan = args.contains("--plan")
    val wantStages = args.contains("--stages")
    val confs = args.sliding(2).collect {
      case Array("--conf", kv) if kv.contains('=') =>
        val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    val names = args.tail.filterNot(_.startsWith("--"))
      .filterNot(a => confs.exists(c => s"${c._1}=${c._2}" == a))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = confs.foldLeft(
      GraftSession.builder(s"local[$cpus]", cpus.toInt)) {
      case (b, (k, v)) => b.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val telemetry = QueryTelemetry.attach(spark.sparkContext)
    names.foreach { name =>
      val fn: (SparkSession, String) => DataFrame =
        if (name == "s07auto") Bench.s07Production else SparkEntry.queries(name)
      if (wantPlan) {
        println(s"===== $name plan =====")
        fn(spark, sfDir).explain("formatted")
      }
      (1 to 3).foreach { i =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        telemetry.tagged(s"$name.$i")(run(fn(spark, sfDir)))
        println(f"$name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      println(s"$name rows=${fn(spark, sfDir).count()}")
      telemetry.drain()
      val run3 = (1 to 3).map(i => telemetry.take(s"$name.$i")).last
      if (wantStages) {
        println(s"===== $name run3: jobs=${run3.jobs} stages=${run3.stages} " +
          s"shuffleWrite=${run3.shuffleWriteBytes} B/${run3.shuffleWriteRecords} records =====")
        run3.perStage.foreach { s =>
          println(f"stage ${s.stageId}%4d  tasks=${s.tasks}%4d  maxTask=${s.maxTaskMs}%6d ms  " +
            f"sum=${s.sumTaskMs / 1000.0}%7.1f s  " +
            f"maxShufRead=${s.maxShuffleReadBytes / 1048576.0}%7.1f MiB  " +
            f"maxInput=${s.maxInputBytes / 1048576.0}%7.1f MiB  ${s.name}")
        }
      }
    }
    spark.stop()
  }

  /** The timed action: compute every column of `df` and discard it through
    * the `noop` writer. A `count()` would let the optimizer prune each
    * projection it does not read, which removes the encrypt/decrypt work of
    * a protected query whose row count does not depend on it.
    */
  def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
