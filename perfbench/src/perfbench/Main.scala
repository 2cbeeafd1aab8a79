package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.queries.GraftSession

/** The benchmark's JVM side: runs one workload untraced (end-to-end metrics)
  * or the traced per-layer run, and writes one JSON result file.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cpus <n> --work <dir> --protect-data <dir> --query-data <dir> --result <file>
  * }}}
  */
object Main {
  import Workload._

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val runId = s"$workload-$seed-${if (trace) "traced" else "untraced"}"

    // the service workload runs without Spark, so the session starts on first use
    var sessionMs = 0.0
    val listener = if (trace) Some(new WorkListener) else None
    lazy val spark = {
      val (s, ms) = timed {
        GraftSession.builder(s"local[$cpus]", cpus)
          .config("spark.local.dir", s"$work/spark-local")
          .config("spark.sql.warehouse.dir", s"$work/warehouse")
          .getOrCreate()
      }
      sessionMs = ms
      s.sparkContext.setLogLevel("ERROR")
      listener.foreach(s.sparkContext.addSparkListener)
      s
    }

    val queryOut = s"$work/query_out"
    def make(name: String): Workload = {
      val data = if (name == "protect_parquet") a("protect-data") else a("query-data")
      val env = Env(() => spark, data, s"$work/$name", seed, cpus, listener)
      name match {
        case "protect_parquet" => new ProtectParquet(env)
        case "service_pages" => new ServicePages(env)
        case "query_mix" => new QueryMix(env, queryOut)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }

    val off = new Tracer(false, runId)
    val on = new Tracer(true, runId)
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.ArrayBuffer.empty[String]
    val unstable = mutable.ArrayBuffer.empty[String]
    val ops = mutable.ArrayBuffer.empty[Op]
    val opened = mutable.ArrayBuffer.empty[Workload]

    /** Rounds until `forSeconds` have passed (at least `minRounds`). */
    def measure(w: Workload, tracer: Tracer, forSeconds: Double,
        minRounds: Int): (Seq[Double], Seq[Op]) = {
      val deadline = System.nanoTime() + (forSeconds * 1e9).toLong
      val walls = mutable.ArrayBuffer.empty[Double]
      val timedOps = mutable.ArrayBuffer.empty[Op]
      while (walls.size < minRounds || System.nanoTime() < deadline) {
        val (o, ms) = timed(w.round(tracer))
        walls += ms
        timedOps ++= o
      }
      (walls.toSeq, timedOps.toSeq)
    }

    def roundS(walls: Seq[Double]): Double = Stats.median(walls) / 1e3

    try {
      val w = make(workload)
      opened += w
      if (trace || workload != "service_pages") spark
      val setupMs = (1 to 3).map(_ => timed(w.setUp(off))._2)
      val (warm, warmMs) = timed((1 to w.warmUpRounds).flatMap(_ => w.round(off)))
      ops ++= warm
      val (walls, timedOps) =
        if (trace) measure(w, off, seconds / 2, 1) else measure(w, off, seconds, 5)
      ops ++= timedOps
      val (tailValue, tailPct) = Stats.tail(timedOps.map(_.ms))
      notes += f"rounds=${walls.size} ops=${timedOps.size} tail=p$tailPct%.1f ($tailValue%.3f ms)" +
        walls.map(ms => f"${ms / 1e3}%.3f").mkString(" round walls (s): ", ", ", "")
      timedOps.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, o) =>
        notes += f"  $k: median ${Stats.median(o.map(_.ms))}%.1f ms over ${o.size}"
      }
      if (!trace) {
        metrics("setup_s") = (sessionMs + Stats.median(setupMs) + warmMs) / 1e3
        metrics("round_s") = roundS(walls)
        notes += f"setup: session ${sessionMs / 1e3}%.2f s, " +
          f"set-up step ${Stats.median(setupMs) / 1e3}%.2f s (median of 3), warm-up ${warmMs / 1e3}%.2f s"
        ops ++= w.finalChecks()
      } else {
        // every workload's layers, each from one traced round after a warm
        // untraced one and a discarded traced one (so the traced wrappers'
        // first calls and a rebuilt server's new connections stay out of
        // it); for the chosen workload the traced set-up step and round
        // against the untraced ones above are the tracing overhead
        val cal0 = Stats.calMs()
        val bag = metrics
        val others = Seq("protect_parquet", "service_pages", "query_mix").filter(_ != workload)
          .map { n =>
            val x = make(n)
            opened += x
            x.setUp(off)
            ops ++= x.round(off)
            x
          }
        (w +: others).foreach { x =>
          val tracedSetupMs = timed(x.setUp(on))._2
          ops ++= x.round(on)
          val (traced, tracedMs) = timed(x.round(on))
          ops ++= traced
          if (x eq w) {
            bag("overhead.setup_s") = (tracedSetupMs - Stats.median(setupMs)) / 1e3
            bag("overhead.round_s") = tracedMs / 1e3 - roundS(walls)
          }
          ops ++= x.layers(on, traced, tracedMs, bag, s => unstable += s"${x.name}: $s")
          ops ++= x.finalChecks()
        }
        bag("host.cal_ms") = Stats.median(Seq(cal0, Stats.calMs(), Stats.calMs()))
        bag("determinism.unstable_counts") = unstable.size.toDouble
        on.writeJsonl(s"$work/spans.jsonl")
        notes += s"spans=${on.all.size} written to spans.jsonl"
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ops += Op("harness", 0, ok = false)
    } finally {
      opened.foreach(w => try w.close() catch { case _: Exception => })
    }

    ops.filterNot(_.ok).take(20).foreach(o => notes += s"FAILED ${o.kind}")
    unstable.foreach(u => notes += s"UNSTABLE COUNT $u")
    if (new java.io.File(queryOut).isDirectory) {
      val oracle = graft.SparkEntry.oracleSql.filter(kv => QueryMix.Queries.contains(kv._1))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$queryOut/oracle_sql.json"),
        new ObjectMapper().writeValueAsString(oracle.asJava))
    }
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("attempted", ops.size)
    result.put("failed", ops.count(!_.ok))
    result.put("metrics", metrics.asJava)
    result.put("notes", notes.asJava)
    result.put("query_out", if (new java.io.File(queryOut).isDirectory) queryOut else null)
    result.put("queries", QueryMix.Queries.asJava)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("result")),
      new ObjectMapper().writeValueAsString(result))
    if (sessionMs > 0) spark.stop()
  }
}
