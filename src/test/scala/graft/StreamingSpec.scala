package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.functions.TokenHash
import graft.queries.GraftTables
import graft.streaming.StreamOps

/** Structured Streaming equivalence: the protected hourly aggregation over a
  * file-source stream must produce exactly the batch result on the same data
  * (complete output mode drains the finite source).
  */
class StreamingSpec extends SparkSpec {

  test("derivedStateWidth sizes from state volume with the configured floor") {
    // unknown / tiny state → the floor (8 by default)
    assert(StreamOps.derivedStateWidth(spark, -1L) === 8)
    assert(StreamOps.derivedStateWidth(spark, 1000L) === 8)
    // state volume drives the width past the floor: ceil(rows / target)
    assert(StreamOps.derivedStateWidth(spark, 2000000L * 12) === 12)
    assert(StreamOps.derivedStateWidth(spark, 2000000L * 12 + 1) === 13)
    // both knobs are conf-overridable (production tuning surface)
    spark.conf.set("spark.graft.streaming.targetRowsPerStore", "1000")
    spark.conf.set("spark.graft.streaming.minStateWidth", "4")
    try {
      assert(StreamOps.derivedStateWidth(spark, 10L) === 4)
      assert(StreamOps.derivedStateWidth(spark, 9001L) === 10)
    } finally {
      spark.conf.unset("spark.graft.streaming.targetRowsPerStore")
      spark.conf.unset("spark.graft.streaming.minStateWidth")
    }
  }

  test("runAtStateWidth binds the state width to the query and restores the session width") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-width").toString
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$root/src")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    var widthDuring = -1
    // footer-based row count is the width input the query sites use
    assert(StreamOps.parquetRowCount(spark, s"$root/src") === 3L)
    spark.conf.set("spark.graft.streaming.minStateWidth", "4")
    try StreamOps.runAtStateWidth(spark, expectedStateRows = 3L) {
      val stream = spark.readStream.schema(schema).parquet(s"$root/src")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
      val q = StreamOps.dedupDocumentStream(stream, "text", "ts", "1 hour")
        .writeStream.outputMode("append")
        .format("parquet").option("path", s"$root/out")
        .option("checkpointLocation", s"$root/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      widthDuring = spark.conf.get("spark.sql.shuffle.partitions").toInt
      q
    } finally spark.conf.unset("spark.graft.streaming.minStateWidth")
    assert(widthDuring === 4, "state width must be bound while the query starts")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === prev,
      "session width must be restored after termination")
    // the checkpoint's state dirs ARE the bound width: one NUMBERED dir
    // per store (the state root also holds metadata entries)
    val stateDirs = new java.io.File(s"$root/chk/state/0").listFiles()
      .count(f => f.isDirectory && f.getName.forall(_.isDigit))
    assert(stateDirs === 4, s"expected 4 state-store dirs, got $stateDirs")
    assert(spark.read.parquet(s"$root/out").count() === 2)
  }

  test("parquetRowCount counts every partition of a partitionBy directory") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-rowcount").toString
    (1L to 7L).map(i => (i, s"t$i", i % 3)).toDF("doc_id", "text", "bucket")
      .write.partitionBy("bucket").parquet(s"$root/src")
    // a leftover under a hidden directory is not part of the table
    val part = Files.list(Paths.get(s"$root/src/bucket=0")).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get()
    val stray = Files.createDirectories(Paths.get(s"$root/src/_temporary/0"))
    Files.copy(part, stray.resolve(part.getFileName))
    assert(StreamOps.parquetRowCount(spark, s"$root/src") === 7L)
    assert(spark.read.parquet(s"$root/src").count() === 7L)
  }

  test("stateful dedup survives a checkpoint restart: no dropped, no duplicated survivors") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-restart").toString
    val (src, out, chk) = (s"$root/src", s"$root/out", s"$root/chk")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
    def startQuery() = {
      val stream = spark.readStream.schema(docSchema).parquet(src)
        // event times minutes apart, all inside the 1 h dedup horizon
        .withColumn("ts", timestamp_micros(lit(1700000000L * 1000000L) +
          col("doc_id") * 60L * 1000000L))
      StreamOps.dedupDocumentStream(stream, "text", "ts", "1 hour")
        .select("doc_id", "text", "fp")
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", chk)
        .start()
    }
    // run 1: a batch with an in-batch duplicate, then KILL the query
    writeBatch(Seq((1L, "alpha text"), (2L, "beta text"), (3L, "alpha text")))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // run 2 from the SAME checkpoint: a cross-restart duplicate (must be
    // dropped — proves the dedup state was restored, not rebuilt empty)
    // and a novel doc (must survive — proves nothing is over-dropped)
    writeBatch(Seq((10L, "alpha text"), (11L, "gamma text")))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    val byFp = got.groupBy(_._2)
    assert(byFp.values.forall(_.size == 1),
      s"a fingerprint was emitted twice across the restart: $got")
    assert(byFp.size == 3, s"expected alpha/beta/gamma survivors, got $got")
    // the alpha survivor must be a run-1 copy (1 or 3), never the
    // post-restart dup 10 — that would mean the state came back empty
    assert(!got.exists(_._1 == 10L),
      s"history dup 10 must be dropped by restored state: $got")
    assert(got.exists(_._1 == 11L), s"novel doc 11 must survive: $got")
  }

  test("streaming protected hourly agg equals batch reference") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$tmp/events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val stream = StreamOps.readEventStream(spark, tmp)
    assert(stream.isStreaming, "file source must be a streaming DataFrame")
    val q = StreamOps.hourlyProtectedAgg(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out")
      .start()
    try {
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("hourly_out")
      .orderBy("hour", "event_type")
      .collect().map(_.toSeq).toSeq
    val want = StreamOps.hourlyBatchReference(
        GraftTables.read(spark, "/root/testdata/sf0.001", "events"))
      .orderBy("hour", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("stream-stream interval join equals the batch join") {
    val tmp = Files.createTempDirectory("graft-ssjoin").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$tmp/events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val q = StreamOps.clickToPurchaseJoin(StreamOps.readEventStream(spark, tmp))
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join_out")
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("ss_join_out")
      .orderBy("p_id", "c_ts")
      .collect().map(_.toSeq).toSeq
    val want = StreamOps.clickToPurchaseJoin(
        GraftTables.read(spark, "/root/testdata/sf0.001", "events"))
      .orderBy("p_id", "c_ts")
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streaming dedup (dropDuplicatesWithinWatermark) equals batch distinct") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft-dedup-stream").toString
    // plant exact duplicates: the same corpus arrives twice
    for (name <- Seq("a.parquet", "b.parquet"))
      Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
        Paths.get(s"$tmp/$name"), StandardCopyOption.REPLACE_EXISTING)

    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // +1 day offset: a row AT the epoch equals the operator's initial
    // watermark and is discarded as late before any state exists
    val stream = spark.readStream.schema(docSchema).parquet(tmp)
      .withColumn("ts", timestamp_micros((col("doc_id") + 86400L) * 1000000L))
    val q = StreamOps.dedupDocumentStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    try q.processAllAvailable() finally q.stop()

    val gotFps = spark.table("dedup_out").select("fp").collect().map(_.getString(0)).toSeq
    val wantFps = graft.queries.GraftTables.read(spark, "/root/testdata/sf0.001", "documents")
      .select(graft.ops.TextOps.fingerprint(col("text")).as("fp"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(gotFps.nonEmpty)
    assert(gotFps.size == gotFps.toSet.size, "a fingerprint was emitted twice")
    assert(gotFps.toSet == wantFps, "survivor set differs from batch distinct")
    // the corpus arrived twice → dedup must have dropped at least half
    assert(gotFps.size <= wantFps.size)
  }

  test("streaming count-min sketch is cell-identical to the batch sketch") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft-sketch-stream").toString
    // two arrival batches: the sketch must accumulate across micro-batches
    for (name <- Seq("a.parquet", "b.parquet"))
      Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
        Paths.get(s"$tmp/$name"), StandardCopyOption.REPLACE_EXISTING)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.option("maxFilesPerTrigger", "1")
      .schema(docSchema).parquet(tmp)
    val q = StreamOps.sketchDocumentStream(stream, "text", depth = 3, width = 256)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sketch_out")
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("sketch_out")
    // the stream saw the corpus TWICE → every cell is exactly 2× the batch
    val docs = graft.queries.GraftTables.read(spark, "/root/testdata/sf0.001", "documents")
    val batch = graft.ops.Sketches.countMinSketch(
      docs.select(explode(graft.ops.TextOps.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0), "tok", depth = 3, width = 256)
      .withColumn("cnt", col("cnt") * 2)
    assert(got.count() > 0 && got.count() <= 3L * 256,
      "sketch state must stay bounded by depth x width")
    assert(got.exceptAll(batch).count() === 0L &&
      batch.exceptAll(got).count() === 0L,
      "streaming sketch cells must equal the (doubled) batch sketch")
  }

  test("stream-static incremental dedup equals the batch daily-ingest form") {
    import org.apache.spark.sql.types._
    import graft.ops.{Dedup, TextOps}
    import spark.implicits._
    val history = Seq((1L, "seen before"), (2L, "also seen"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "seen before"),   // history dup → dropped by the static join
      (11L, "fresh content"), // novel → survives
      (12L, "fresh content"), // within-batch dup → dropped by stream state
      (13L, "brand new"))
    val histKeys = history
      .select(TextOps.fingerprint(col("text")).as("fp")).distinct()
    // batch truth (min-id within batch, absent from history): 11, 13
    val want = Dedup.incrementalExactSurvivors(history,
        incoming.toDF("doc_id", "text"), "doc_id",
        TextOps.fingerprint(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val tmp = Files.createTempDirectory("graft-incdedup-stream").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(docSchema).parquet(tmp)
      .withColumn("ts", timestamp_micros((col("doc_id") + 86400L) * 1000000L))
    val q = StreamOps.incrementalDedupStream(stream, histKeys)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory").queryName("incdedup_out")
      .start()
    try {
      // one file + drain per doc so arrival order is id order — the batch
      // min-id winner and the stream first-arrival winner must coincide for
      // the equivalence to be exact
      incoming.zipWithIndex.foreach { case ((id, text), i) =>
        val stage = s"$tmp-stage$i"
        Seq((id, text)).toDF("doc_id", "text")
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.copy(part.toPath, Paths.get(s"$tmp/doc$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("incdedup_out").collect().map(_.getLong(0)).toSet
    assert(got == Set(11L, 13L) && got == want,
      s"stream vs batch: got=$got want=$want")
  }

  test("per-row simhash column equals the batch SimHashAgg signatures") {
    val docs = GraftTables.read(spark, "/root/testdata/sf0.001", "documents")
    for (hash <- Seq(TokenHash.Xxhash64, TokenHash.Fmix63, TokenHash.Md5)) {
      val got = StreamOps.withSimhash(docs, "text", "simhash", hash)
        .select("doc_id", "simhash").orderBy("doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      val want = graft.ops.Dedup.simhash(docs, "doc_id", "text", hash)
        .orderBy("doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(got.nonEmpty)
      assert(got == want, s"per-row signature diverges from the aggregate under $hash")
      // the st04/d05 and d04 oracle CTEs recompute only the bits these
      // token hashes can set
      hash match {
        case TokenHash.Md5 => assert(want.forall(_._2 >>> 60 == 0L),
          "md5 signatures must keep bits 60..63 clear")
        case TokenHash.Fmix63 => assert(want.forall(_._2 >= 0L),
          "fmix signatures must be non-negative")
        case TokenHash.Xxhash64 =>
      }
    }
  }

  test("streaming near-dup dedup keeps one doc per simhash signature") {
    import org.apache.spark.sql.types._
    val tmp = Files.createTempDirectory("graft-neardup-stream").toString
    for (name <- Seq("a.parquet", "b.parquet")) // corpus arrives twice
      Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
        Paths.get(s"$tmp/$name"), StandardCopyOption.REPLACE_EXISTING)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(docSchema).parquet(tmp)
      .withColumn("ts", timestamp_micros((col("doc_id") + 86400L) * 1000000L))
    val q = StreamOps.nearDupDedupDocumentStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_out")
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("neardup_out").select("simhash")
      .collect().map(_.getLong(0)).toSeq
    val want = StreamOps.withSimhash(
        GraftTables.read(spark, "/root/testdata/sf0.001", "documents"),
        "text", "simhash")
      .select("simhash").distinct().collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty)
    assert(got.size == got.toSet.size, "a signature was emitted twice")
    assert(got.toSet == want, "survivor signatures differ from batch distinct")
  }

  test("banded streaming near-dup dedup drops a 1-to-3-bit near-dup in-stream") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // Deterministic pair search: a ~400-token base keeps per-bit vote margins
    // wide, so appending one token flips only the few bits sitting at a
    // ±1 margin — some variant in the set lands at hamming 1..3. The search
    // result is fixed for the fixed xxhash64, so this never flakes.
    val baseText = (0 until 400).map(i => "tok" + i).mkString(" ")
    val variantTexts = (0 until 120).map(j => baseText + " xtr" + j)
    val farTexts = (0 until 40).map(k =>
      (0 until 60).map(i => "zzz" + k + "w" + i).mkString(" "))
    val named = (Seq("base" -> baseText) ++
      variantTexts.zipWithIndex.map { case (t, j) => ("v" + j) -> t } ++
      farTexts.zipWithIndex.map { case (t, k) => ("f" + k) -> t }).toDF("name", "text")
    val sigs = StreamOps.withSimhash(named, "text", "sig")
      .select("name", "sig").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = sigs("base")
    def bandSet(s: Long): Set[(Int, Long)] =
      (0 until 4).map(k => k -> ((s >>> (16 * k)) & 0xffffL)).toSet
    val nearIdx = variantTexts.indices.find { j =>
      val d = java.lang.Long.bitCount(b ^ sigs("v" + j)); d >= 1 && d <= 3
    }
    assert(nearIdx.isDefined, "no 1-3-bit variant in the search set; widen it")
    // the control doc must chance-share no band with base or the near-dup
    val nearSig = sigs("v" + nearIdx.get)
    val farIdx = farTexts.indices.find { k =>
      (bandSet(sigs("f" + k)) intersect (bandSet(b) ++ bandSet(nearSig))).isEmpty
    }
    assert(farIdx.isDefined, "no band-disjoint control doc found; widen it")

    val docs = Seq((1L, baseText), (2L, variantTexts(nearIdx.get)),
      (3L, farTexts(farIdx.get)))
    val tmp = Files.createTempDirectory("graft-banded-stream").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    for (bands <- Seq(0, 2, 3, 8))
      intercept[IllegalArgumentException](
        StreamOps.nearDupDedupDocumentStream(named, bands = bands))
    val q = StreamOps.nearDupDedupDocumentStream(
        spark.readStream.schema(docSchema).parquet(tmp)
          .withColumn("ts", timestamp_micros(lit(86400L) * 1000000L)),
        bands = 4)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory").queryName("banded_out")
      .start()
    try {
      // one file + drain per doc: arrival order is the point of the test
      // (the original must provably precede its near-dup)
      docs.zipWithIndex.foreach { case ((id, text), i) =>
        val stage = s"$tmp-stage$i"
        Seq((id, text)).toDF("doc_id", "text")
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.copy(part.toPath, Paths.get(s"$tmp/doc$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("banded_out").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L),
      s"expected the near-dup (doc 2) dropped in-stream, survivors = $got")
  }

  test("streaming decontamination equals the batch filter, statelessly") {
    import org.apache.spark.sql.types._
    import graft.ops.Decontamination
    val batch = GraftTables.read(spark, "/root/testdata/sf0.001", "documents")
    val pred = col("doc_id") % 10 === 0
    val gramSet = Decontamination.benchmarkGramSet(batch, "doc_id", "text", pred, n = 8)
    val want = Decontamination.decontaminateBySet(batch, gramSet, "text", pred, n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val tmp = Files.createTempDirectory("graft-decon-stream").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(s"$tmp/docs.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(docSchema).parquet(tmp)
      .filter(col("doc_id") % 10 =!= 0) // corpus side only, like the batch op
    val q = StreamOps.decontaminateStream(stream, gramSet)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory").queryName("decon_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("decon_out").collect().map(_.getLong(0)).toSet
    assert(got == want, "stream survivors diverge from the batch bloom filter")
    // and the contract is real: contaminated docs existed and were dropped
    assert(batch.filter(!pred).count() > want.size)
  }

  test("stateful sessionization (flatMapGroupsWithState) equals batch q29") {
    val tmp = Files.createTempDirectory("graft-sessions").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$tmp/events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val q = StreamOps.sessionizeStream(StreamOps.readEventStream(spark, tmp))
      .writeStream.outputMode("update")
      .format("memory").queryName("sessions_out")
      .start()
    try q.processAllAvailable() finally q.stop()

    // update mode may emit a row per trigger per key; both counters are
    // monotonically increasing, so max() picks the final state (last()
    // without an ordering would be nondeterministic)
    val got = spark.table("sessions_out")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("n_sessions").as("n_sessions"),
        org.apache.spark.sql.functions.max("n_events").as("n_events"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    val want = SparkEntry.queries("q29_sessionize")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streaming chunking equals the batch chunker, statelessly") {
    import org.apache.spark.sql.types._
    import graft.ops.TextOps
    val batch = GraftTables.read(spark, "/root/testdata/sf0.001", "documents")
    val want = TextOps.chunkDocuments(batch, "doc_id", "text", 32, 24)
      .select("doc_id", "chunk_idx", "chunk_text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    val tmp = Files.createTempDirectory("graft-chunk-stream").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(s"$tmp/docs.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // chunkDocuments is pure projection+explode — it applies to a streaming
    // frame unchanged (no watermark, no state)
    val stream = spark.readStream.schema(docSchema).parquet(tmp)
    val q = TextOps.chunkDocuments(stream, "doc_id", "text", 32, 24)
      .select("doc_id", "chunk_idx", "chunk_text")
      .writeStream.outputMode("append").format("memory").queryName("chunk_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("chunk_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want)
  }
}
