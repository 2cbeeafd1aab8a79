package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON for [[Bench]]'s typed records. A number is rounded once, the way
  * `%.Nf` prints it, when its record is serialised; each document is
  * rendered once, through json4s.
  */
private[graft] object BenchJson {
  /** `x` as `%.{digits}f` prints it, keeping those digits when rendered. */
  def fixed(x: Double, digits: Int): JValue =
    if (x.isNaN || x.isInfinite) JDouble(x)
    else JDecimal(BigDecimal(("%." + digits + "f").formatLocal(java.util.Locale.ROOT, x)))

  /** An object from Scala values; `None` and `JNothing` fields are left out. */
  def obj(fields: (String, Any)*): JObject =
    JObject(fields.toList.flatMap { case (k, v) => value(v).map(k -> _) })

  private def value(v: Any): Option[JValue] = v match {
    case None | JNothing => None
    case Some(x) => value(x)
    case j: JValue => Some(j)
    case s: String => Some(JString(s))
    case b: Boolean => Some(JBool(b))
    case i: Int => Some(JLong(i))
    case l: Long => Some(JLong(l))
    case d: Double => Some(JDouble(d))
    case xs: Seq[_] => Some(JArray(xs.flatMap(value).toList))
  }

  def render(j: JValue): String = JsonMethods.compact(JsonMethods.render(j))

  /** Parse, keeping each number's written digits (`45.200` stays `45.200`). */
  def parse(s: String): JValue = JsonMethods.parse(s, useBigDecimalForDouble = true)

  def num(j: JValue): Option[Double] = j match {
    case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case _ => None
  }

  /** A field for a markdown cell: strings bare, absent fields as `—`. */
  def text(j: JValue): String = j match {
    case JString(s) => s
    case JNothing | JNull => "—"
    case v => render(v)
  }
}

import BenchJson.{fixed, obj}

/** One sweep query: warm-up + timed iteration walls plus telemetry.
  *  - `taskSec`/`taskGcSec`/`maxTaskMs` cover every run of the query;
  *  - `jobs`/`stages`/`shuffleWriteBytes`, `ccRounds` and `st*` are the
  *    last iteration's work counters (-1 = the query never ran that op):
  *    the work is deterministic, so a mover whose counters match its
  *    baseline moved with the machine, one whose counters differ moved in
  *    its work;
  *  - `cal` (before, after rows/s) and `stealPct` are the sweep's
  *    machine-state brackets, absent where the query ran outside it.
  */
private[graft] final case class QueryStat(
    med: Double, min: Double, max: Double, load: String, gcSec: Double,
    taskSec: Double, taskGcSec: Double, maxTaskMs: Long, retried: Boolean,
    errors: Int = 0, isolated: Double = -1.0, ccRounds: Int = -1,
    stBatches: Long = -1, stStateRows: Long = -1, jobs: Int = 0, stages: Int = 0,
    shuffleWriteBytes: Long = 0, cal: Option[(Double, Double)] = None,
    stealPct: Option[String] = None) {
  /** All timed iterations threw: there is no legitimate time to publish. */
  def failed: Boolean = med < 0
  /** Published value: the in-sweep median unless an isolated re-run
    * measured lower (then the sweep number was contamination, not cost).
    */
  def value: Double = if (isolated >= 0) math.min(med, isolated) else med

  private def work: Seq[(String, Any)] = Seq(
    "cc_rounds" -> Some(ccRounds).filter(_ >= 0),
    "st_batches" -> Some(stBatches).filter(_ >= 0))

  private def counters: Seq[(String, Any)] =
    Seq("jobs" -> jobs, "stages" -> stages, "shuffle_write_bytes" -> shuffleWriteBytes)

  /** The `query_spread` row of bench_full.json (and a heap8g row). */
  def json: JObject = obj(Seq(
    "med" -> fixed(med, 3), "min" -> fixed(min, 3), "max" -> fixed(max, 3),
    "load" -> load, "gc_s" -> fixed(gcSec, 2), "task_s" -> fixed(taskSec, 1),
    "task_gc_s" -> fixed(taskGcSec, 1), "max_task_ms" -> maxTaskMs, "retried" -> retried,
    "cal_b_mrows" -> cal.map(c => fixed(c._1 / 1e6, 1)),
    "cal_a_mrows" -> cal.map(c => fixed(c._2 / 1e6, 1)),
    "steal_pct" -> stealPct) ++ work ++ Seq(
    "st_state_rows" -> Some(stStateRows).filter(_ >= 0),
    "errors" -> Some(errors).filter(_ > 0),
    "isolated" -> Some(isolated).filter(_ >= 0).map(fixed(_, 3))) ++ counters: _*)

  /** The `attribution` row of bench_norm_rN.json: machine state and work
    * counters, so a later round's mover table can cite both sides.
    */
  def attribution: JObject = obj(Seq(
    "cal_b_mrows" -> fixed(cal.fold(0.0)(_._1) / 1e6, 1),
    "cal_a_mrows" -> fixed(cal.fold(0.0)(_._2) / 1e6, 1),
    "steal_pct" -> stealPct.getOrElse(""), "load" -> load) ++ work ++ counters: _*)
}

/** Avg/stdev/min/max over a scenario's timed iterations (ms). */
private[graft] sealed trait Laps {
  def timesMs: Seq[Double]
  lazy val avg: Double = timesMs.sum / timesMs.size
  lazy val stdev: Double = math.sqrt(timesMs.map(x => (x - avg) * (x - avg)).sum / timesMs.size)
}

/** A crypto grid scenario: `rows` values per iteration. `retried` is absent
  * for the engine-only (jvm) rows, which have no retry gate.
  */
private[graft] final case class CryptoRow(timesMs: Seq[Double], rows: Long, load: String,
    calRowsPerS: Double, retried: Option[Boolean]) extends Laps {
  /** Reference protocol (avg); best iteration, robust to ambient noise. */
  def rowsPerS: JValue = fixed(rows / (avg / 1000), 0)
  def rowsPerSBest: JValue = fixed(rows / (timesMs.min / 1000), 0)

  def json: JObject = obj("avg_ms" -> fixed(avg, 1), "min_ms" -> fixed(timesMs.min, 1),
    "max_ms" -> fixed(timesMs.max, 1), "stdev_ms" -> fixed(stdev, 1),
    "rows_per_s" -> rowsPerS, "rows_per_s_best" -> rowsPerSBest, "load" -> load,
    "cal_mrows" -> fixed(calRowsPerS / 1e6, 1), "retried" -> retried)
}

private[graft] final case class CryptoGrid(rows: Long, gridLoad: String,
    scenarios: Seq[(String, CryptoRow)]) {
  def get(name: String): Option[CryptoRow] = scenarios.collectFirst { case (`name`, r) => r }
  def json: JObject = obj(Seq("rows" -> rows, "loadavg_grid_start" -> gridLoad) ++
    scenarios.map { case (k, r) => k -> r.json }: _*)
}

/** A page grid scenario: one `payloadBytes` page of `values` values per
  * iteration.
  */
private[graft] final case class PageRow(timesMs: Seq[Double], values: Long, payloadBytes: Long,
    load: String, calRowsPerS: Double, retried: Boolean) extends Laps {
  lazy val med: Double = timesMs.sorted.apply(timesMs.size / 2)
  def valuesPerS: JValue = fixed(values / (avg / 1000), 0)
  def valuesPerSMed: JValue = fixed(values / (med / 1000), 0)
  def valuesPerSBest: JValue = fixed(values / (timesMs.min / 1000), 0)

  def json: JObject = obj("avg_ms" -> fixed(avg, 1), "med_ms" -> fixed(med, 1),
    "min_ms" -> fixed(timesMs.min, 1), "max_ms" -> fixed(timesMs.max, 1),
    "stdev_ms" -> fixed(stdev, 1), "values_per_s" -> valuesPerS,
    "values_per_s_med" -> valuesPerSMed, "values_per_s_best" -> valuesPerSBest,
    "mb_per_s" -> fixed(payloadBytes / 1e6 / (avg / 1000), 1), "load" -> load,
    "cal_mrows" -> fixed(calRowsPerS / 1e6, 1), "retried" -> retried)
}

private[graft] final case class PageGrid(values: Long, payloadBytes: Long,
    scenarios: Seq[(String, PageRow)]) {
  def get(name: String): Option[PageRow] = scenarios.collectFirst { case (`name`, r) => r }
  def json: JObject = obj(Seq("values" -> values, "payload_bytes" -> payloadBytes) ++
    scenarios.map { case (k, r) => k -> r.json }: _*)
}

/** One timed scale-row run and its telemetry (-1 counters = not run). */
private[graft] final case class ScaleRun(sec: Double, n: Long, maxTask: Long,
    maxIn: Long, maxShuf: Long, load: String, gcS: Double, taskS: Double,
    taskGcS: Double, stealPct: String, ccRounds: Int, calRowsPerS: Double,
    stBatches: Long, stStateRows: Long)

/** A scale row: its chronological runs, or the error that left it none.
  * `extra` holds the untimed corpus fields (operating point, candidate mass).
  */
private[graft] final case class ScaleRow(key: String, form: String, runs: Seq[ScaleRun],
    retries: Int, errorRuns: Int, error: String, extra: Seq[(String, Any)],
    cores: Int, diskAvailGb: Double) {

  /** The published wall (see [[Bench.warmMedian]]); None for an error row. */
  def sec: Option[Double] =
    if (runs.isEmpty) None else Some(Bench.warmMedian(runs.map(_.sec)))

  def json: JObject = sec match {
    case None => obj("error" -> error, "form" -> form, "error_runs" -> errorRuns,
      "disk_avail_gb" -> fixed(diskAvailGb, 1))
    case Some(pubSec) =>
      // telemetry from the warm run whose wall is closest to the published
      // value (ties toward the slower run)
      val warm = if (runs.length >= 2) runs.drop(1) else runs
      val r = warm.minBy(x => (math.abs(x.sec - pubSec), -x.sec))
      // task-second accounting: the wall a perfectly-scheduled run would
      // take on these cores, and the published wall over it
      val floorS = r.taskS / math.max(1, cores)
      val wallOverCore = if (floorS > 0) pubSec / floorS else 0.0
      obj(Seq(
        "sec" -> fixed(pubSec, 3), "pub" -> "warm_median", "form" -> form,
        "runs_s" -> runs.map(x => fixed(x.sec, 3)), "retries" -> retries,
        "error_runs" -> Some(errorRuns).filter(_ > 0),
        "cc_rounds" -> Some(runs.map(_.ccRounds)).filter(_.exists(_ >= 0)),
        "cal_mrows_per_run" -> runs.map(x => fixed(x.calRowsPerS / 1e6, 1)),
        "task_s_per_run" -> runs.map(x => fixed(x.taskS, 1)),
        // the row's straggler figure is the MIN over runs: a hot partition
        // stretches the same task on every run, a throttled host a random
        // one; the per-run list stays for weather attribution
        "max_task_ms_per_run" -> runs.map(_.maxTask)) ++
        (if (runs.exists(_.stBatches >= 0))
          Seq("st_batches" -> runs.map(_.stBatches), "st_state_rows" -> runs.map(_.stStateRows))
        else Nil) ++ extra ++ Seq(
        "rows" -> r.n, "max_task_ms" -> runs.map(_.maxTask).min,
        "max_task_input_mb" -> fixed(r.maxIn / 1048576.0, 1),
        "max_task_shuffle_mb" -> fixed(r.maxShuf / 1048576.0, 1),
        "load" -> r.load, "steal_pct" -> r.stealPct, "gc_s" -> fixed(r.gcS, 2),
        "task_s" -> fixed(r.taskS, 1), "task_gc_s" -> fixed(r.taskGcS, 1),
        "cores" -> cores, "core_floor_s" -> fixed(floorS, 1),
        "wall_over_core" -> fixed(wallOverCore, 2),
        "disk_avail_gb" -> fixed(diskAvailGb, 1)): _*)
  }
}
