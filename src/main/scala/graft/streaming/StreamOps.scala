package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.CryptoCodec
import graft.functions.{TokenHash, protect}

/** Structured Streaming surface: the protection expressions compose
  * unchanged over streams (`readStream` → encrypt → watermark → windowed
  * agg → sink). The reference is synchronous request/response only
  * (SURVEY.md §1.6); this is the Spark-native growth path.
  */
object StreamOps {

  /** Micro-batch/state telemetry of the last stream run through
    * [[runToCompletion]] in this JVM — bench-readable attribution for the
    * streaming scale rows (VERDICT r14 ask: st04_100x's 22–124 s run
    * spread needs per-run fields naming what the slow runs did). -1 until
    * a run completes; bench rows run serially per JVM.
    */
  @volatile var lastRunBatches: Long = -1
  @volatile var lastRunStateRows: Long = -1

  /** Await a streaming query and record its micro-batch count and final
    * state-store row count into the telemetry fields above.
    */
  def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
    val prog = q.recentProgress
    lastRunBatches = prog.count(_.numInputRows > 0).toLong
    lastRunStateRows = prog.lastOption
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
  }

  /** Exact row count of a parquet directory from file FOOTERS — O(numFiles)
    * metadata I/O, zero rows decoded (the [[graft.ops.Layout]] footer-stats
    * discipline, guide §6). Streaming query sites use it to size the state
    * width from the fixture they just wrote without an extra Spark job.
    * Recurses into partition directories (`partitionBy` output); files or
    * directories whose name starts with `_` or `.` are skipped, as Spark's
    * file index skips them.
    */
  def parquetRowCount(spark: SparkSession, dir: String): Long = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(dir).getFileSystem(conf)
    val root = fs.makeQualified(new Path(dir))
    def hidden(p: Path): Boolean = p != root && p.getParent != null && {
      val n = p.getName
      n.startsWith("_") || n.startsWith(".") || hidden(p.getParent)
    }
    val files = fs.listFiles(root, true)
    var rows = 0L
    while (files.hasNext) {
      val st = files.next()
      if (!hidden(st.getPath)) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try rows += reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally reader.close()
      }
    }
    rows
  }

  /** State-store width sized from EXPECTED STATE VOLUME (VERDICT r16 #2 —
    * the width was a hardcoded 8, honest only at this harness's state
    * sizes): width = clamp(ceil(expectedStateRows / targetRowsPerStore),
    * minStateWidth, cap). The floor is the r16-measured contention point
    * (st07, quiet gate: 32 stores = 15.1 s wall / 353 task-seconds with a
    * UNIFORM ~6 s per task, 8 stores = 4.0 s / 12 task-seconds for
    * identical output — per-store commit/maintenance contends across
    * concurrent stores on one executor, so fewer, fuller stores win until
    * state volume forces more). The target-rows-per-store default bounds
    * one store's heap footprint (~2 M rows × ~100 B ≈ 200 MB) and its
    * per-batch commit time; a 100 TB ingest with 10¹⁰ live keys derives
    * width ≈ 5000 from the same formula — the width grows with the STATE,
    * never with the core count. Both knobs are session-conf-overridable
    * for production tuning.
    *
    * @param expectedStateRows upper bound on live state rows (input row
    *   count for per-key dedup/join state; the a-priori cell bound for
    *   fixed-size sketch state). Non-positive = unknown, floor wins.
    */
  def derivedStateWidth(spark: SparkSession, expectedStateRows: Long): Int = {
    def confLong(key: String, dflt: Long): Long =
      spark.conf.getOption(key).map(_.toLong).getOrElse(dflt)
    val target = math.max(1L, confLong("spark.graft.streaming.targetRowsPerStore", 2000000L))
    val floor = confLong("spark.graft.streaming.minStateWidth", 8L)
    val need =
      if (expectedStateRows <= 0) floor
      else (expectedStateRows + target - 1) / target
    math.max(floor, math.min(need, 1 << 20)).toInt
  }

  /** Start a streaming query at a RIGHT-SIZED state-store width and run it
    * to completion ([[runToCompletion]] telemetry included). Streaming
    * state width is a different knob from the session's batch shuffle
    * width: `spark.sql.shuffle.partitions` at query start fixes the
    * state-store partition count for the checkpoint's lifetime. The width
    * is derived from state volume — see [[derivedStateWidth]] for the
    * formula and the r16 st07 contention measurements behind its floor.
    * The session width is restored after termination (the width is bound
    * to the query at start; the sink-side batch reads run under the
    * session default + AQE).
    *
    * @param expectedStateRows state-volume bound passed to
    *   [[derivedStateWidth]]; ≤ 0 uses the configured floor.
    * @param skipTrailingNoDataBatch disable `noDataMicroBatches` for this
    *   query. ONLY legal when the operator emits its output IN the data
    *   batch (the dropDuplicates family, inner stream-stream joins): the trailing
    *   no-data micro-batch then exists solely to evict state that an
    *   AvailableNow run is about to discard with the checkpoint — a full
    *   batch cycle (plan + offset log + 8-store commit + commit log) spent
    *   on work with no observable output. A long-running production stream
    *   keeps the default (eviction is what bounds state); an
    *   emit-on-watermark operator (append-mode windowed agg — st02) MUST
    *   keep it (the no-data batch is where finalized windows emit).
    */
  def runAtStateWidth(spark: SparkSession, expectedStateRows: Long = -1L,
      skipTrailingNoDataBatch: Boolean = false)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(key)
    val prevNoData = spark.conf.get(noDataKey)
    spark.conf.set(key, derivedStateWidth(spark, expectedStateRows).toString)
    if (skipTrailingNoDataBatch) spark.conf.set(noDataKey, "false")
    try runToCompletion(start)
    finally {
      spark.conf.set(key, prev)
      spark.conf.set(noDataKey, prevNoData)
    }
  }

  /** events table schema as stored (naive timestamp[us]; the session reads
    * it as TimestampType in UTC — see GraftSession's inferTimestampNTZ
    * opt-out, which file-source streams honor via this explicit schema).
    */
  val rawEventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source event stream (ts already TimestampType micros). */
  def readEventStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(rawEventSchema).parquet(path)

  /** Protect the payload in-flight, then hourly windowed aggregation with a
    * watermark — proves protection expressions are streaming-safe (per-row,
    * no state of their own).
    */
  def hourlyProtectedAgg(events: DataFrame): DataFrame =
    events
      .withColumn("props_enc",
        protect.encrypt_value(col("props"), "stream-key", CryptoCodec.AesDet, "props"))
      .withColumn("props_back",
        protect.decrypt_value(col("props_enc"), "stream-key", StringType,
          CryptoCodec.AesDet, "props"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"),
        sum(length(col("props_back")).cast("long")).as("payload_chars"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("value_cents"), col("payload_chars"))

  case class SessionEvent(user_id: Long, tsMicros: Long)
  case class SessionState(lastTs: Long, sessions: Long, events: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Stateful sessionization via `flatMapGroupsWithState` — the custom-state
    * streaming surface (gap-based sessions, same semantics as the batch
    * q29_sessionize windows). Events inside one trigger are sorted per key;
    * state carries (last event time, session count, event count) across
    * triggers.
    *
    * `mode` is the OPERATOR output mode and must match the sink's: Update
    * for a memory/console sink that wants per-trigger running counters
    * (the default), Append for a file sink (file sinks reject update mode;
    * with a single source micro-batch — the st06 oracle row's shape — the
    * appended rows ARE the final per-user counters).
    */
  def sessionizeStream(events: org.apache.spark.sql.DataFrame,
      gapMinutes: Int = 30,
      mode: org.apache.spark.sql.streaming.OutputMode =
        org.apache.spark.sql.streaming.OutputMode.Update): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val gapMicros = gapMinutes * 60L * 1000000L
    events.select(col("user_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        mode, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(_.tsMicros)
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val newSession = st.lastTs == Long.MinValue ||
              e.tsMicros - st.lastTs > gapMicros
            st = SessionState(e.tsMicros,
              st.sessions + (if (newSession) 1 else 0), st.events + 1)
          }
          state.update(st)
          Iterator(UserSessions(user, st.sessions, st.events))
      }
  }

  /** Stream-stream interval join: for each "purchase" event, the same
    * user's "click" events in the preceding hour. Both sides carry
    * watermarks so Spark can bound the join state — the canonical
    * stream-stream pattern (state is pruned once `click.ts` falls behind
    * `purchase watermark - 1 hour`).
    */
  def clickToPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
  }

  /** Streaming exact dedup for a document stream — the streaming form of
    * `Dedup.exactSurvivors`: canonical-text fingerprint (same expression as
    * batch t04) + `dropDuplicatesWithinWatermark`. State holds one
    * fingerprint per distinct doc WITHIN THE WATERMARK HORIZON, so state
    * size is bounded by the dedup window, not the stream length — the only
    * formulation that survives an unbounded 100 TB/day ingest (a plain
    * `dropDuplicates` on a stream accumulates state forever).
    */
  def dedupDocumentStream(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", withinWatermark: String = "1 hour"): DataFrame =
    docs.withColumn("fp", graft.ops.TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, withinWatermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Per-ROW SimHash signature as a pure column expression — identical bit
    * semantics to the batch [[graft.ops.Dedup.simhash]] aggregate under the
    * same `hash` (one token hash per OCCURRENCE, ±1 vote per bit, sign →
    * bit), but computed inside one row so it works where an aggregation
    * can't: a streaming dedup key. Powers-of-two ride along as a
    * materialized array column — a constant captured in a HOF lambda would
    * otherwise be rebuilt per element (the lambda-capture rule).
    */
  def withSimhash(df: DataFrame, textCol: String, out: String,
      hash: TokenHash = TokenHash.Xxhash64): DataFrame = {
    val powers = array((0 until 64).map(b => lit(1L << b)): _*)
    df.withColumn("_toks", graft.ops.TextOps.tokens(col(textCol)))
      .withColumn("_hashes", transform(col("_toks"), t => hash(t)))
      .withColumn("_pw", powers)
      .withColumn("_votes",
        aggregate(col("_hashes"), array_repeat(lit(0), 64),
          (acc, h) => zip_with(acc, col("_pw"),
            (a, p) => a + when(h.bitwiseAND(p) =!= 0, 1).otherwise(-1))))
      .withColumn(out,
        aggregate(
          zip_with(col("_votes"), col("_pw"),
            (v, p) => when(v > 0, p).otherwise(lit(0L))),
          lit(0L), (acc, x) => acc.bitwiseOR(x)))
      .drop("_toks", "_hashes", "_pw", "_votes")
  }

  /** Streaming NEAR-dup dedup: drop any document whose SimHash signature
    * was already seen inside the watermark horizon. Signature equality is
    * the bounded-state streaming analog of the batch hamming-≤k pair join
    * (banding across rows needs a join the streaming engine can't bound);
    * heavy-boilerplate near-dups collapse to equal signatures, and the
    * batch d04/d08 path sweeps the residual hamming 1–3 tail offline.
    * State: one 64-bit signature per distinct doc per horizon.
    *
    * State-store backend (VERDICT r13 #4, measured r14): the r13 8 GB-heap
    * replay published 11.9 s vs 4.5 s big-heap — re-measured on a quiet
    * host (loadavg 0.7) the 8 GB default-provider run is 3.9 s, UNDER the
    * big-heap wall, so that 2.65× was ambient contamination, not a heap
    * floor. RocksDB (SPARK_GRAFT_STATESTORE=rocksdb, or set
    * spark.sql.streaming.stateStore.providerClass) measured 4.4 s / st01
    * 2.3 s at the same heap — 5–12 % SLOWER at this state size (~10⁴–10⁵
    * signature rows): JNI + disk overhead beats heap pressure that isn't
    * there. Re-measured r17 WITH changelog checkpointing enabled
    * (`...rocksdb.changelogCheckpointing.enabled=true`, the lighter
    * per-batch commit that uploads a changelog instead of snapshotting):
    * st01 1.74/1.80 s vs 1.59/1.77 default, st04 2.86/2.79 vs 2.97/2.77,
    * st07 2.96/2.81 vs 2.42/2.51 — a wash on dedup state, 15 % slower on
    * join state (gated clean windows both sides). Default stays
    * HDFS-backed; flip the knob when horizon state genuinely exceeds
    * executor heap (10⁸+ rows/executor), which is the regime RocksDB
    * exists for — and enable changelog checkpointing with it there.
    *
    * `bands = 4` closes the hamming-≤3 tail in-stream instead (r5's
    * deferred item): the 64-bit signature splits into four 16-bit bands;
    * two signatures within hamming distance 3 must agree on ≥1 band
    * (pigeonhole over 4 bands), so four chained
    * `dropDuplicatesWithinWatermark` passes — one per band — drop every doc
    * that repeats ANY band of a doc that survived ahead of it. A 1-bit flip
    * leaves 3 of 4 bands equal and is dropped at the first shared band.
    * State: 4 bounded dedup states (one band value per surviving doc per
    * horizon) — still watermark-bounded, unlike any join formulation.
    *
    * Precision trade (documented, inherent to in-stream banding): band
    * equality is NECESSARY, not sufficient, for hamming ≤ 3 — two unrelated
    * docs can chance-share one 16-bit band (p ≈ 4/2^16 per pair), so within
    * horizons approaching 2^16 distinct docs this over-drops; production
    * widens the signature (the formulation is width-agnostic) or extends
    * each band key with a cheap blocking column (lang, length bucket).
    */
  def nearDupDedupDocumentStream(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", withinWatermark: String = "1 hour",
      hash: TokenHash = TokenHash.Xxhash64, bands: Int = 1): DataFrame = {
    require(bands == 1 || bands == 4,
      s"bands must be 1 (signature equality) or 4 (16-bit bands), got $bands")
    val sig = withSimhash(docs, textCol, "simhash", hash)
    if (bands == 1)
      sig.withWatermark(tsCol, withinWatermark).dropDuplicatesWithinWatermark("simhash")
    else {
      val keys = (0 until 4).map(b => s"band$b")
      keys.zipWithIndex.foldLeft(sig) { case (df, (k, b)) =>
        df.withColumn(k, shiftrightunsigned(col("simhash"), 16 * b).bitwiseAND(lit(0xffffL)))
      }.withWatermark(tsCol, withinWatermark)
        .transform(df => keys.foldLeft(df)(_.dropDuplicatesWithinWatermark(_)))
        .drop(keys: _*)
    }
  }

  /** Streaming incremental dedup against an accepted HISTORY table — the
    * streaming form of `Dedup.incrementalExactSurvivors`: within-stream
    * copies drop via watermark-bounded
    * `dropDuplicatesWithinWatermark` ([[dedupDocumentStream]]), then a
    * STREAM-STATIC left-anti join removes docs whose fingerprint is already
    * accepted. The static side never needs a watermark and re-reads per
    * micro-batch; at corpus scale, store `historyKeys` bucketed (or as a
    * broadcast-sized distinct-key table) so each micro-batch joins map-side
    * — the streaming twin of the daily-ingest d11 contract.
    *
    * @param historyKeys STATIC single-column frame of accepted fingerprints
    *                    (column name `fp`)
    */
  def incrementalDedupStream(docs: DataFrame, historyKeys: DataFrame,
      textCol: String = "text", tsCol: String = "ts",
      withinWatermark: String = "1 hour"): DataFrame =
    dedupDocumentStream(docs, textCol, tsCol, withinWatermark)
      .join(historyKeys, Seq("fp"), "left_anti")

  /** Streaming benchmark decontamination: the exact membership form
    * ([[graft.ops.Decontamination.decontaminateBySet]]) is a stateless
    * projection — no join, no watermark, NO state — so contaminated docs
    * drop in-flight at ingest speed. Build the gram-hash set once from the
    * static benchmark corpus (a batch job), probe every arriving doc. This
    * is the formulation that survives an unbounded ingest: the exact-join
    * form would be a stream-static join re-shuffling every micro-batch.
    */
  def decontaminateStream(docs: DataFrame, benchmarkGramSet: Array[Byte],
      textCol: String = "text", n: Int = 8): DataFrame =
    graft.ops.Decontamination.decontaminateBySet(
      docs, benchmarkGramSet, textCol, lit(false), n)

  /** Streaming count-min sketch: the groupBy-aggregation form of
    * [[graft.ops.Sketches.countMinSketch]] over an unbounded document
    * stream. The state IS the sketch — the rare stateful streaming
    * aggregation that needs NO watermark to stay bounded, because state
    * rows are (seed, bucket) CELLS, not stream keys: at most depth·width
    * of them however long the stream runs. Emit complete/update; the
    * result is cell-identical to the batch sketch over the same docs
    * (StreamingSpec), and cross-shard merges stay a cell-wise add
    * ([[graft.ops.Sketches.merge]]) — so a 100 TB/day ingest keeps one
    * always-current frequency structure without ever revisiting data.
    */
  def sketchDocumentStream(docs: DataFrame, textCol: String = "text",
      depth: Int = 3, width: Int = 1024): DataFrame =
    graft.ops.Sketches.countMinSketch(
      docs.select(explode(graft.ops.TextOps.tokens(col(textCol))).as("tok"))
        .filter(length(col("tok")) > 0),
      "tok", depth, width)

  /** Streaming HLL register table of `keyCol` — the distinct-count sibling
    * of [[sketchDocumentStream]]. Cells are (register, max rank): MAX is
    * commutative/associative, so like the CMS the full table is
    * deterministic under ANY micro-batching, state is bounded a priori at
    * m = 1024 rows however long the stream runs, and per-day streamed
    * tables still fold into a global count via
    * [[graft.ops.Sketches.hllMerge]]. Complete/update-mode aggregation;
    * cell-identical to the batch register table over the same rows
    * (the st08 oracle recomputes every cell in DuckDB).
    */
  def hllRegisterStream(rows: DataFrame, keyCol: String): DataFrame =
    graft.ops.Sketches.hllRegisters(rows, keyCol)

  /** Streaming fixed-bin histogram — the quantile sibling: cells are
    * (group, bin, count), plain sums, so the table is deterministic under
    * any micro-batching and state is bounded a priori at domain/binWidth
    * rows per group. Quantiles read off the live table via
    * [[graft.ops.Sketches.histogramQuantile]] stay within binWidth of
    * exact, and shard/stream tables fold via
    * [[graft.ops.Sketches.histogramMerge]].
    */
  def histogramStream(rows: DataFrame, valueCol: org.apache.spark.sql.Column,
      binWidth: Long, groupCols: Seq[String] = Nil): DataFrame =
    graft.ops.Sketches.histogram(rows, valueCol, binWidth, groupCols)

  /** Streaming KMV (bottom-k distinct, theta) sketch — the set-operation
    * sketch's stream mode: state is the single ≤ k-long
    * [[graft.functions.KmvAgg]] buffer however long the stream runs, and
    * because the sketch is order-free (k smallest distinct of a union),
    * the streamed array is identical to the batch one under any
    * micro-batching — DuckDB recomputes every retained hash (st10).
    * Shard/stream sketches fold via [[graft.ops.Sketches.kmvMergeArr]];
    * estimators read off the live array via kmvEstimate/thetaIntersection.
    */
  def kmvSketchStream(rows: DataFrame, hashCol: String, k: Int): DataFrame =
    rows.agg(graft.functions.KmvAgg.kmv_agg(col(hashCol), k).as("sketch"))

  /** Batch reference computation for the streaming agg (same expressions,
    * same results — used by the equivalence spec).
    */
  def hourlyBatchReference(events: DataFrame): DataFrame =
    events
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"),
        sum(length(col("props")).cast("long")).as("payload_chars"))
}
