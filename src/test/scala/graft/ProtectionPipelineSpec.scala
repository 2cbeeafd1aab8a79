package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{CryptoCodec, GraftInvalidInputException}
import graft.functions.protect
import graft.pipeline._

/** FIXTURES.md §1 translation: per-type round-trip suites with null patterns,
  * metadata/version semantics, boolean per-block fallback, determinism; and
  * the spread of narrow inputs before the protect projection.
  */
class ProtectionPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def roundTrip(df: DataFrame, col_ : String, codec: String): Unit = {
    val enc = ProtectionPipeline.encrypt(df,
      Seq(ColumnPolicy(col_, "rt-key", PerValue, codec)))
    assert(enc.schema(col_).dataType == BinaryType)
    val dec = ProtectionPipeline.decrypt(enc)
    ProtectionPipeline.assertSchemaRestored(df.schema, dec.schema)
    val a = df.collect().map(_.toSeq).toSeq
    val b = dec.collect().map(_.toSeq).toSeq
    assert(bytesNorm(a) == bytesNorm(b), s"round trip mismatch for $col_ [$codec]")
  }

  private def bytesNorm(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rows.map(_.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }).sortBy(_.toString())

  // FIXTURES.md null patterns: none / leading / trailing / alternating / all-null
  private def withNullPatterns[T](values: Seq[T]): Seq[Seq[Option[T]]] = Seq(
    values.map(Some(_)),
    None +: values.tail.map(Some(_)),
    values.init.map(Some(_)) :+ None,
    values.zipWithIndex.map { case (v, i) => if (i % 2 == 0) Some(v) else None },
    values.map(_ => Option.empty[T]))

  for (codec <- Seq(CryptoCodec.Xor, CryptoCodec.AesDet)) {
    test(s"ints32 round trip [$codec]") {
      withNullPatterns(Seq(3344, 5566, 7788, -1, Int.MinValue, Int.MaxValue, 0))
        .foreach(vs => roundTrip(vs.toDF("id"), "id", codec))
    }
    test(s"ints64 round trip [$codec]") {
      withNullPatterns(Seq(1L << 62, -(1L << 62), 0L, Long.MinValue, Long.MaxValue))
        .foreach(vs => roundTrip(vs.toDF("id"), "id", codec))
    }
    test(s"floats round trip [$codec]") {
      withNullPatterns(Seq(1.5f, -2.25f, 3.14159f, 0.0f, -999.123456f,
        1234567.89f, -0.00001f, 42.0f, Float.MinPositiveValue))
        .foreach(vs => roundTrip(vs.toDF("x"), "x", codec))
    }
    test(s"doubles round trip [$codec]") {
      withNullPatterns(Seq(1.5, -2.25, math.Pi, 0.0, Double.MinPositiveValue,
        -4.9e-324, 1.7976931348623157e308))
        .foreach(vs => roundTrip(vs.toDF("x"), "x", codec))
    }
    test(s"strings round trip incl. UTF-8 and empties [$codec]") {
      withNullPatterns(Seq("user1@example.com", "user2@example.com",
        "café 🚀 树 🌍", "", "x" * 50000, "\t\n\"quoted\""))
        .foreach(vs => roundTrip(vs.toDF("email"), "email", codec))
    }
    test(s"binary (FLBA analog) round trip [$codec]") {
      withNullPatterns(Seq("Hello123", "World456", "Test7890")
        .map(_.getBytes("UTF-8")))
        .foreach(vs => roundTrip(vs.toDF("code"), "code", codec))
    }
    test(s"booleans round trip via per-block fallback [$codec]") {
      withNullPatterns(Seq(true, false, true)).foreach { vs =>
        val df = vs.toDF("flag")
        val enc = ProtectionPipeline.encrypt(df,
          Seq(ColumnPolicy("flag", "k", PerValue, codec)))
        // plan-time fallback recorded in metadata (reference:
        // BooleanTypeUsesPerBlockEncryption)
        assert(enc.schema("flag").metadata.getString(ProtectionPipeline.KeyMode)
          == PerBlock.name)
        val dec = ProtectionPipeline.decrypt(enc)
        assert(bytesNorm(df.collect().map(_.toSeq).toSeq) ==
          bytesNorm(dec.collect().map(_.toSeq).toSeq))
      }
    }
    test(s"timestamps and dates round trip [$codec]") {
      val ts = Seq(Timestamp.valueOf("1995-01-02 03:04:05.123456"),
        Timestamp.valueOf("2024-01-30 23:57:12"))
      withNullPatterns(ts).foreach(vs => roundTrip(vs.toDF("ts"), "ts", codec))
      val dates = Seq(java.sql.Date.valueOf("1995-01-02"),
        java.sql.Date.valueOf("2024-12-31"))
      withNullPatterns(dates).foreach(vs => roundTrip(vs.toDF("d"), "d", codec))
    }
    test(s"decimal round trip [$codec]") {
      val ds = Seq(BigDecimal("123456.78"), BigDecimal("-0.01"), BigDecimal("0.00"))
      withNullPatterns(ds).foreach { vs =>
        roundTrip(vs.toDF("amt").select(col("amt").cast("decimal(12,2)").as("amt")),
          "amt", codec)
      }
    }
  }

  test("metadata carries version/mode/codec/key/original type") {
    val enc = ProtectionPipeline.encrypt(Seq(1, 2).toDF("v"),
      Seq(ColumnPolicy("v", "meta-key", PerValue, CryptoCodec.AesDet)))
    val m = enc.schema("v").metadata
    assert(m.getString(ProtectionPipeline.KeyVersion) == ProtectionPipeline.AgentVersion)
    assert(m.getString(ProtectionPipeline.KeyMode) == PerValue.name)
    assert(m.getString(ProtectionPipeline.KeyCodec) == CryptoCodec.AesDet)
    assert(m.getString(ProtectionPipeline.KeyKeyId) == "meta-key")
    assert(DataType.fromJson(m.getString(ProtectionPipeline.KeyOrigType)) == IntegerType)
  }

  test("decrypt rejects wrong agent version (P5 prefix match)") {
    val enc = ProtectionPipeline.encrypt(Seq(1).toDF("v"),
      Seq(ColumnPolicy("v", "k", PerValue, CryptoCodec.Xor)))
    val badMeta = new MetadataBuilder()
      .withMetadata(enc.schema("v").metadata)
      .putString(ProtectionPipeline.KeyVersion, "v9.99-other").build()
    val tampered = enc.withColumn("v", col("v").as("v", badMeta))
    intercept[GraftInvalidInputException](ProtectionPipeline.decrypt(tampered))
  }

  test("decrypt rejects missing or damaged protection metadata, naming column and key") {
    import ProtectionPipeline._
    val enc = ProtectionPipeline.encrypt(Seq(1).toDF("v"),
      Seq(ColumnPolicy("v", "k", PerValue, CryptoCodec.Xor)))
    def decryptWith(edit: MetadataBuilder => MetadataBuilder): String = {
      val meta = edit(new MetadataBuilder().withMetadata(enc.schema("v").metadata)).build()
      intercept[GraftInvalidInputException](
        ProtectionPipeline.decrypt(enc.withColumn("v", col("v").as("v", meta)))).getMessage
    }
    for (key <- Seq(KeyKeyId, KeyOrigType, KeyMode, KeyCodec)) {
      val dropped = decryptWith(_.remove(key))
      assert(dropped.contains("'v'") && dropped.contains(key), dropped)
      val notString = decryptWith(_.putLong(key, 7L))
      assert(notString.contains("'v'") && notString.contains(key), notString)
    }
    val damaged = Seq(
      KeyOrigType -> """{"type": "struct", "fields": [""",
      KeyOrigType -> "\"no_such_type\"",
      KeyOrigType -> ArrayType(IntegerType).json,
      KeyMode -> "sideways",
      KeyCodec -> "rot13")
    for ((key, value) <- damaged) {
      val msg = decryptWith(_.putString(key, value))
      assert(msg.contains("'v'") && msg.contains(key), msg)
    }
  }

  test("decrypt of subset columns + missing-column policy errors") {
    val df = Seq((1, "a"), (2, "b")).toDF("i", "s")
    val enc = ProtectionPipeline.encrypt(df, Seq(
      ColumnPolicy("i", "k1"), ColumnPolicy("s", "k2")))
    val halfDec = ProtectionPipeline.decrypt(enc, Seq("i"))
    assert(halfDec.schema("i").dataType == IntegerType)
    assert(halfDec.schema("s").dataType == BinaryType)
    intercept[GraftInvalidInputException](ProtectionPipeline.decrypt(enc, Seq("nope")))
    intercept[GraftInvalidInputException](
      ProtectionPipeline.encrypt(df, Seq(ColumnPolicy("missing", "k"))))
  }

  test("deterministic codecs give stable ciphertext across evaluations") {
    val df = Seq("a", "b", "a").toDF("v")
      .withColumn("ct", protect.encrypt_value(col("v"), "k", CryptoCodec.AesDet, "v"))
    val cts = df.collect().map(r => r.getAs[Array[Byte]]("ct").toSeq)
    assert(cts(0) == cts(2), "equal plaintexts must give equal ciphertext")
    assert(cts(0) != cts(1))
    val again = df.collect().map(r => r.getAs[Array[Byte]]("ct").toSeq)
    assert(cts.toSeq == again.toSeq)
  }

  test("randomized codec produces differing ciphertexts but still decrypts") {
    val df = Seq("x", "x").toDF("v")
      .withColumn("ct", protect.encrypt_value(col("v"), "k", CryptoCodec.AesRnd, "v"))
      .withColumn("back", protect.decrypt_value(col("ct"), "k", StringType,
        CryptoCodec.AesRnd, "v"))
    val rows = df.collect()
    assert(rows.forall(_.getString(2) == "x"))
    assert(!rows(0).getAs[Array[Byte]]("ct").sameElements(rows(1).getAs[Array[Byte]]("ct")))
  }

  test("arbitrary junk bytes fail decrypt cleanly (no JVM crash)") {
    val rnd = new scala.util.Random(7)
    val junk = Seq.fill(50)(rnd.nextBytes(rnd.nextInt(40)))
    junk.foreach { j =>
      val df = Seq(j).toDF("ct")
        .withColumn("out", protect.decrypt_value(col("ct"), "k", StringType,
          CryptoCodec.Xor, "v"))
      val t = intercept[Throwable](df.collect())
      def chain(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
      assert(chain(t).exists(_.isInstanceOf[GraftInvalidInputException]),
        s"expected GraftInvalidInputException in cause chain, got $t")
    }
  }

  test("SQL surface: graft_encrypt/graft_decrypt_string round trip") {
    protect.register(spark)
    Seq("alpha", "beta").toDF("s").createOrReplaceTempView("t_sql")
    val out = spark.sql(
      """SELECT graft_decrypt_string(
        |  graft_encrypt(s, 'sql-key', 'aes_det', 'c'),
        |  'sql-key', 'aes_det', 'c') AS back FROM t_sql ORDER BY back"""
        .stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("alpha", "beta"))
  }

  test("whole-stage codegen path actually runs our expressions") {
    // A projection over a parquet scan goes through WholeStageCodegen; this
    // guards the doGenCode path (addReferenceObj call) against regressions.
    val df = spark.range(1000).select(col("id"))
      .withColumn("ct", protect.encrypt_value(col("id"), "cg", CryptoCodec.Xor, "id"))
      .withColumn("back", protect.decrypt_value(col("ct"), "cg", LongType,
        CryptoCodec.Xor, "id"))
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"expected codegen'd Project in plan:\n$plan")
    assert(df.filter(col("id") === col("back")).count() == 1000)
  }

  test("two policies for one column are rejected at plan time, naming it") {
    val df = Seq((1, "a")).toDF("i", "s")
    val e = intercept[GraftInvalidInputException](ProtectionPipeline.encrypt(df, Seq(
      ColumnPolicy("s", "k1"), ColumnPolicy("i", "k2"), ColumnPolicy("s", "k3", PerBlock))))
    assert(e.getMessage.contains("'s'"), e.getMessage)
  }

  // ---------------------------------------------- spreading narrow inputs

  private lazy val telemetry = QueryTelemetry.attach(spark.sparkContext)
  private def cores = spark.sparkContext.defaultParallelism

  /** `rows` rows of (id, name, amount[, m]) written as `files` parquet files;
    * `rowGroupBytes` sets the parquet row-group size.
    */
  private def fixture(rows: Int, rowGroupBytes: Long, withMap: Boolean = false,
      files: Int = 1): String = {
    val dir = Files.createTempDirectory("graft-spread").resolve("t").toString
    val base = spark.range(rows).select(col("id"),
      concat(lit("name-"), col("id").cast("string")).as("name"),
      (col("id") * 1.25).as("amount"))
    val df = if (withMap) base.withColumn("m", map(col("name"), col("id"))) else base
    df.repartition(files).write.option("parquet.block.size", rowGroupBytes).parquet(dir)
    dir
  }

  /** Files Spark cuts into byte ranges of at most `bytes` while `body` runs. */
  private def withSplitBytes[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def exchanges(df: DataFrame): Int = {
    def count(p: SparkPlan): Int = (p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case _: ShuffleExchangeLike => 1
      case _ => 0
    }) + p.children.map(count).sum
    count(df.queryExecution.executedPlan)
  }

  private def rowGroups(dir: String): Int =
    new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath),
        spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.size finally r.close()
    }.sum

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.map(col).toIndexedSeq
    assert(a.count() == b.count() &&
      a.select(cols: _*).exceptAll(b.select(cols: _*)).isEmpty)
  }

  private val policies = Seq(ColumnPolicy("name", "spread-n", PerValue, CryptoCodec.AesDet),
    ColumnPolicy("amount", "spread-a", PerValue, CryptoCodec.Xor))

  test("a one-row-group file cut into several splits is encrypted on several cores") {
    val in = fixture(40000, 64L << 20)
    assert(rowGroups(in) == 1)
    val out = in + "-enc"
    withSplitBytes(64L << 10) {
      val df = spark.read.parquet(in)
      assert(df.rdd.getNumPartitions >= cores, "the fixture must be cut into several splits")
      val enc = telemetry.tagged("plan")(ProtectionPipeline.encrypt(df, policies))
      telemetry.tagged("spread")(enc.write.parquet(out))
    }
    telemetry.drain()
    assert(telemetry.take("plan").jobs == 0, "the split probe must start no job")
    val work = telemetry.take("spread")
    val projectStage = work.tasks.map(_.stageId).max
    val withRows = work.tasks.count(t => t.stageId == projectStage && t.recordsRead > 0)
    assert(withRows >= math.min(cores, 2), work.perStage)
    val written = new java.io.File(out).listFiles.count(_.getName.endsWith(".parquet"))
    assert(written == cores)
    sameRows(ProtectionPipeline.decrypt(spark.read.parquet(out)), spark.read.parquet(in))
  }

  test("many-file and many-row-group inputs are left unspread") {
    val manyFiles = fixture(40000, 64L << 20, files = 16)
    val manyGroups = fixture(40000, 16L << 10)
    assert(rowGroups(manyGroups) >= 8)
    assert(exchanges(ProtectionPipeline.encrypt(spark.read.parquet(manyFiles), policies)) == 0)
    withSplitBytes(64L << 10) {
      val enc = ProtectionPipeline.encrypt(spark.read.parquet(manyGroups), policies)
      assert(exchanges(enc) == 0)
      sameRows(ProtectionPipeline.decrypt(enc), spark.read.parquet(manyGroups))
    }
  }

  test("decrypt(encrypt(x)) in one plan spreads once") {
    val in = fixture(20000, 64L << 20)
    val df = spark.read.parquet(in)
    val enc = ProtectionPipeline.encrypt(df, policies)
    assert(exchanges(enc) == 1)
    val back = ProtectionPipeline.decrypt(enc)
    assert(exchanges(back) == 1)
    sameRows(back, df)
  }

  test("a streaming frame is left as it is") {
    val in = fixture(100, 64L << 20)
    val stream = spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
    val enc = ProtectionPipeline.encrypt(stream, policies)
    assert(enc.isStreaming)
    assert(enc.queryExecution.analyzed.collect { case r: RepartitionOperation => r }.isEmpty)
  }

  test("a frame with a map column round-trips through the spread") {
    val in = fixture(5000, 64L << 20, withMap = true)
    val df = spark.read.parquet(in)
    val enc = ProtectionPipeline.encrypt(df, policies)
    assert(exchanges(enc) == 1)
    val back = ProtectionPipeline.decrypt(enc)
    ProtectionPipeline.assertSchemaRestored(df.schema, back.schema)
    val key = (r: Row) => r.getLong(0)
    assert(back.collect().sortBy(key).toSeq == df.collect().sortBy(key).toSeq)
  }

  test("the file a spread row is written to does not depend on its protected values") {
    val in = fixture(20000, 64L << 20)
    // same rows in the same order, other plaintext in the protected columns
    val other = in + "-other"
    spark.read.parquet(in).withColumn("name", reverse(col("name")))
      .withColumn("amount", -col("amount")).coalesce(1).write.parquet(other)
    def idsPerFile(src: String): Map[String, Set[Long]] = {
      val out = src + "-enc"
      ProtectionPipeline.encrypt(spark.read.parquet(src), policies).write.parquet(out)
      new java.io.File(out).listFiles.filter(_.getName.endsWith(".parquet")).map { f =>
        f.getName.split('-')(1) ->
          spark.read.parquet(f.getPath).select("id").collect().map(_.getLong(0)).toSet
      }.toMap
    }
    val placed = idsPerFile(in)
    assert(placed.size == cores)
    assert(idsPerFile(other) == placed)
  }
}
