package graft

/** Small-heap re-measurement child (forked by [[Bench]] at `-Xmx8g` —
  * VERDICT r7 #8). The bench sweep runs on a bigger heap, which can absorb
  * a whole run's ContextCleaner debt without a single major GC — exactly
  * the condition that let the r6 56× sweep inflation go unnoticed until the
  * heaviest query paid the debt. This main runs the sweep's own
  * [[Bench.measure]] on a deliberately small heap and prints ONE JSON line
  * of the sweep's [[QueryStat]] rows, which the parent embeds as the
  * `heap8g` section. A median > ~2× the big-heap one means the GC-debt bug
  * class is back.
  *
  * Usage: `graft.HeapSmoke <sfDir> <cpus> <query> [query ...]`
  */
object HeapSmoke {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, cpus) = args.take(2)
    val (spark, telemetry) = Bench.freshSession(cpus)
    val rows = args.drop(2).toSeq.map { name =>
      name -> Bench.measure(spark, telemetry, SparkEntry.queries(name), sfDir).json
    }
    val heapGb = Runtime.getRuntime.maxMemory / 1e9
    println(BenchJson.render(BenchJson.obj(("heap_gb" -> BenchJson.fixed(heapGb, 1)) +: rows: _*)))
    spark.stop()
  }
}
