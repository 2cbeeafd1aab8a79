package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.BenchJson.{obj, render}

/** Pins the serialised JSON of the bench's typed records, key by key and
  * digit by digit, in the format the committed bench artifacts and
  * `tools/check_*.py` read; keys beyond that format are named in the test
  * titles. Renaming or dropping a key, or changing a rounding, fails here.
  */
class BenchRecordsSpec extends AnyFunSuite {

  private def row(key: String, json: org.json4s.JObject): String = render(obj(key -> json))

  private val full = QueryStat(1.23456, 1.1, 2.0049, "0.52", 0.126, 12.34, 0.04, 812,
    retried = true, errors = 1, isolated = 0.9876, ccRounds = 4, stBatches = 3,
    stStateRows = 120, jobs = 7, stages = 9, shuffleWriteBytes = 12345,
    cal = Some((23.14e6, 22.56e6)), stealPct = Some("0.4"))

  test("sweep row with every optional field (added: jobs, stages, shuffle_write_bytes)") {
    assert(row("q", full.json) ==
      """{"q":{"med":1.235,"min":1.100,"max":2.005,"load":"0.52","gc_s":0.13,"task_s":12.3,""" +
      """"task_gc_s":0.0,"max_task_ms":812,"retried":true,"cal_b_mrows":23.1,"cal_a_mrows":22.6,""" +
      """"steal_pct":"0.4","cc_rounds":4,"st_batches":3,"st_state_rows":120,"errors":1,""" +
      """"isolated":0.988,"jobs":7,"stages":9,"shuffle_write_bytes":12345}}""")
  }

  test("sweep row without optional fields (added: jobs, stages, shuffle_write_bytes)") {
    val bare = QueryStat(0.5, 0.4, 0.6, "", 0.0, 1.0, 0.0, 10, retried = false,
      jobs = 1, stages = 1)
    assert(row("q", bare.json) ==
      """{"q":{"med":0.500,"min":0.400,"max":0.600,"load":"","gc_s":0.00,"task_s":1.0,""" +
      """"task_gc_s":0.0,"max_task_ms":10,"retried":false,"jobs":1,"stages":1,""" +
      """"shuffle_write_bytes":0}}""")
  }

  test("baseline attribution row (added: jobs, stages, shuffle_write_bytes)") {
    assert(row("q", full.attribution) ==
      """{"q":{"cal_b_mrows":23.1,"cal_a_mrows":22.6,"steal_pct":"0.4","load":"0.52",""" +
      """"cc_rounds":4,"st_batches":3,"jobs":7,"stages":9,"shuffle_write_bytes":12345}}""")
  }

  test("crypto rows: gated (with retried) and engine-only (without)") {
    val gated = CryptoRow(Seq(10.0, 12.5, 11.25), 60175, "0.31", 2.2e7, Some(false))
    assert(row("string_xor_per_value", gated.json) ==
      """{"string_xor_per_value":{"avg_ms":11.3,"min_ms":10.0,"max_ms":12.5,"stdev_ms":1.0,""" +
      """"rows_per_s":5348889,"rows_per_s_best":6017500,"load":"0.31","cal_mrows":22.0,""" +
      """"retried":false}}""")
    val jvm = CryptoRow(Seq(3.0, 2.5, 2.75), 60175, "0.31", 2.2e7, None)
    assert(row("jvm_string_xor_per_value", jvm.json) ==
      """{"jvm_string_xor_per_value":{"avg_ms":2.8,"min_ms":2.5,"max_ms":3.0,"stdev_ms":0.2,""" +
      """"rows_per_s":21881818,"rows_per_s_best":24070000,"load":"0.31","cal_mrows":22.0}}""")
  }

  test("page row") {
    val page = PageRow(Seq(4.0, 5.0, 6.5), 20000, 540000, "0.2", 2.1e7, retried = true)
    assert(row("v1_plain_snappy", page.json) ==
      """{"v1_plain_snappy":{"avg_ms":5.2,"med_ms":5.0,"min_ms":4.0,"max_ms":6.5,"stdev_ms":1.0,""" +
      """"values_per_s":3870968,"values_per_s_med":4000000,"values_per_s_best":5000000,""" +
      """"mb_per_s":104.5,"load":"0.2","cal_mrows":21.0,"retried":true}}""")
  }

  test("scale rows: cc rounds and corpus fields; streaming counters and error runs") {
    val runs = Seq(
      ScaleRun(3.2, 5000, 800, 2097152, 1048576, "0.8", 0.12, 9.6, 0.1, "0.0", 3, 2.2e7, -1, -1),
      ScaleRun(2.9, 5000, 700, 3145728, 524288, "0.7", 0.08, 8.8, 0.2, "0.1", 3, 2.3e7, -1, -1),
      ScaleRun(3.05, 5000, 750, 1048576, 524288, "0.6", 0.1, 9.1, 0.1, "0.2", 4, 2.1e7, -1, -1))
    val s07 = ScaleRow("s07_10x", "s07_cosine_neardup_lsh@t0.9auto", runs, retries = 1,
      errorRuns = 0, error = "", extra = Seq("op_point" -> "planes=18,tables=113",
        "cand_pair_mass" -> 123456L, "max_bucket" -> 42L, "corpus_n" -> 9000L),
      cores = 4, diskAvailGb = 12.34)
    assert(row(s07.key, s07.json) ==
      """{"s07_10x":{"sec":2.975,"pub":"warm_median","form":"s07_cosine_neardup_lsh@t0.9auto",""" +
      """"runs_s":[3.200,2.900,3.050],"retries":1,"cc_rounds":[3,3,4],""" +
      """"cal_mrows_per_run":[22.0,23.0,21.0],"task_s_per_run":[9.6,8.8,9.1],""" +
      """"max_task_ms_per_run":[800,700,750],"op_point":"planes=18,tables=113",""" +
      """"cand_pair_mass":123456,"max_bucket":42,"corpus_n":9000,"rows":5000,"max_task_ms":700,""" +
      """"max_task_input_mb":3.0,"max_task_shuffle_mb":0.5,"load":"0.7","steal_pct":"0.1",""" +
      """"gc_s":0.08,"task_s":8.8,"task_gc_s":0.2,"cores":4,"core_floor_s":2.2,""" +
      """"wall_over_core":1.35,"disk_avail_gb":12.3}}""")
    assert(s07.sec.exists(s => math.abs(s - 2.975) < 1e-9))
    val st = ScaleRow("st04_100x", "st04_stream_neardup",
      Seq(ScaleRun(1.5, 10, 300, 0, 0, "1.1", 0.0, 2.0, 0.0, "", -1, 2.0e7, 5, 40)),
      retries = 0, errorRuns = 1, error = "", extra = Nil, cores = 4, diskAvailGb = 3.0)
    assert(row(st.key, st.json) ==
      """{"st04_100x":{"sec":1.500,"pub":"warm_median","form":"st04_stream_neardup",""" +
      """"runs_s":[1.500],"retries":0,"error_runs":1,"cal_mrows_per_run":[20.0],""" +
      """"task_s_per_run":[2.0],"max_task_ms_per_run":[300],"st_batches":[5],""" +
      """"st_state_rows":[40],"rows":10,"max_task_ms":300,"max_task_input_mb":0.0,""" +
      """"max_task_shuffle_mb":0.0,"load":"1.1","steal_pct":"","gc_s":0.00,"task_s":2.0,""" +
      """"task_gc_s":0.0,"cores":4,"core_floor_s":0.5,"wall_over_core":3.00,"disk_avail_gb":3.0}}""")
  }

  test("a scale row whose every run failed reports the error, not a time") {
    val failed = ScaleRow("d06_100x", "d06_neardup_clusters", Nil, retries = 2,
      errorRuns = 4, error = "IOException: No space left on device", extra = Nil,
      cores = 4, diskAvailGb = 0.04)
    assert(failed.sec.isEmpty)
    assert(row(failed.key, failed.json) ==
      """{"d06_100x":{"error":"IOException: No space left on device",""" +
      """"form":"d06_neardup_clusters","error_runs":4,"disk_avail_gb":0.0}}""")
  }

  test("parse keeps a number's written digits, so an embedded artifact re-renders as written") {
    val art = """{"rows":{"s07_100x":{"sec":50.990,"runs_s":[62.476,54.030],"rows":900000}}}"""
    assert(render(BenchJson.parse(art)) == art)
  }
}
