package perfbench

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CellCryptor, CryptoCodec, ProtectionContext}
import graft.functions.protect
import graft.pipeline.{ColumnPolicy, PerValue, ProtectionPipeline}

/** README quick start over the sf0.1 lineitem file: encrypt 5 columns → write
  * parquet, then read back → decrypt → order-independent fingerprint. */
final class ProtectParquet(env: Env) extends Workload {
  import Workload._

  val name = "protect_parquet"
  private val spark = env.spark
  private val input = s"${env.dataDir}/lineitem.parquet"
  private val policies = Seq(
    ColumnPolicy("l_orderkey", "bench-orderkey", PerValue, CryptoCodec.Xor),
    ColumnPolicy("l_linenumber", "bench-linenumber", PerValue, CryptoCodec.Xor),
    ColumnPolicy("l_shipdate", "bench-shipdate", PerValue, CryptoCodec.Xor),
    ColumnPolicy("l_extendedprice", "bench-price", PerValue, CryptoCodec.AesDet),
    ColumnPolicy("l_returnflag", "bench-flag", PerValue, CryptoCodec.AesDet))
  private val cols = policies.map(_.column)

  private var schema: StructType = _
  private var rows = 0L
  private var reference: Row = _
  private var rounds = 0
  private var dirs = 0
  private var lastOut: String = _

  private def fingerprint(df: DataFrame): Row =
    df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
      .cast("decimal(38,0)"))).head()

  def setUp(tracer: Tracer): Unit = tracer.span("protect.setup") {
    val df = spark.read.parquet(input)
    schema = df.schema
    reference = fingerprint(df)
    rows = reference.getLong(0)
  }

  private def freshDir(kind: String): String = {
    dirs += 1
    val d = new java.io.File(s"${env.work}/$kind-$dirs")
    deleteRecursively(d)
    d.getPath
  }

  def round(tracer: Tracer): Seq[Op] = {
    spark.catalog.clearCache()
    val out = freshDir("protected")
    Option(lastOut).foreach(p => deleteRecursively(new java.io.File(p)))
    lastOut = out
    rounds += 1
    val tag = s"protect.$rounds"
    val enc = op("encrypt") {
      tracer.span("pipeline.encrypt_write") {
        WorkListener.tagged(env.sc, s"$tag.encrypt") {
          ProtectionPipeline.encrypt(spark.read.parquet(input), policies).write.parquet(out)
        }
      }
      true
    }
    val dec = op("decrypt") {
      tracer.span("pipeline.read_decrypt") {
        WorkListener.tagged(env.sc, s"$tag.decrypt") {
          val restored = ProtectionPipeline.decrypt(spark.read.parquet(out))
          ProtectionPipeline.assertSchemaRestored(schema, restored.schema)
          fingerprint(restored) == reference
        }
      }
    }
    Seq(enc, dec)
  }

  /** Deterministic ciphertext in the written file equals the kernel's output
    * on a sample of the same plaintext values. */
  override def finalChecks(): Seq[Op] = Seq(op("ciphertext_sample") {
    val sample = spark.read.parquet(input).select(cols.map(col): _*).limit(64).collect()
    val written = spark.read.parquet(lastOut)
    policies.zipWithIndex.forall { case (p, i) =>
      val cryptor = CellCryptor(schema(p.column).dataType,
        ProtectionContext(p.keyId, p.column), p.codec, perValue = true)
      val expected = sample.map(r => hexOf(cryptor.encryptCell(catalyst(r.get(i))))).toSet
      val found = written.select(hex(col(p.column))).where(hex(col(p.column)).isin(
        expected.toSeq: _*)).distinct().collect().map(_.getString(0)).toSet
      found == expected
    }
  })

  private def hexOf(b: Array[Byte]): String = b.map("%02X".format(_)).mkString

  private def catalyst(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case t: java.sql.Timestamp =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
    case other => other
  }

  def layers(tracer: Tracer, traced: Seq[Op], tracedMs: Double, bag: mutable.Map[String, Double],
      unstable: String => Unit): Seq[Op] = {
    val same = sameCount(unstable) _
    val listener = env.listener.get
    listener.drain(env.sc)
    val cells = rows.toDouble * cols.size
    traced.foreach(o => bag(s"pipeline.${o.kind}_cells_per_s") = cells / (o.ms / 1e3))

    val (a, b) = (listener.taskRecs(s"protect.${rounds - 1}.encrypt"),
      listener.taskRecs(s"protect.$rounds.encrypt"))
    def both(name: String, f: Seq[TaskRec] => Double) = same(name, f(a), f(b))
    bag("pipeline.tasks") = both("pipeline.tasks", _.size.toDouble)
    bag("pipeline.tasks_with_input") =
      both("pipeline.tasks_with_input", _.count(_.recordsRead > 0).toDouble)
    bag("pipeline.output_bytes") = both("pipeline.output_bytes", _.map(_.bytesWritten).sum.toDouble)
    bag("pipeline.max_task_ms") = b.map(_.durationMs).max.toDouble
    bag("pipeline.median_task_ms") = Stats.median(b.map(_.durationMs.toDouble))
    bag("pipeline.task_cpu_s") = b.map(_.cpuNs).sum / 1e9
    bag("pipeline.gc_ms") = b.map(_.gcMs).sum.toDouble

    // IO floor: the same columns read → write with no protection
    val plain = freshDir("plain")
    bag("pipeline.plain_copy_s") = timed(tracer.span("pipeline.plain_copy") {
      spark.read.parquet(input).select(cols.map(col): _*).write.parquet(plain)
    })._2 / 1e3
    bag("pipeline.stored_bytes_ratio") = columnBytes(lastOut).toDouble / columnBytes(plain)
    deleteRecursively(new java.io.File(plain))

    functionsLayer(tracer, bag)
    coreLayer(tracer, bag)
    Nil
  }

  /** Compressed bytes of the protected columns, from the parquet footers. */
  private def columnBytes(dir: String): Long = {
    val conf = env.sc.hadoopConfiguration
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try r.getFooter.getBlocks.asScala.map(_.getColumns.asScala
        .filter(c => cols.contains(c.getPath.toDotString)).map(_.getTotalSize).sum).sum
      finally r.close()
    }.sum
  }

  /** The protection expressions over rows already in memory, spread over
    * `cpus` partitions: no scan, no write. */
  private def functionsLayer(tracer: Tracer, bag: mutable.Map[String, Double]): Unit = {
    val mem = spark.read.parquet(input).select(cols.map(col): _*)
      .repartition(env.cpus).persist(StorageLevel.MEMORY_ONLY)
    mem.count()
    def encrypted = mem.select(policies.map(p =>
      protect.encrypt_value(col(p.column), p.keyId, p.codec, p.column).as(p.column)): _*)
    def noop(df: DataFrame, span: String): Double =
      Stats.median((1 to 2).map(_ => timed(tracer.span(span) {
        df.write.format("noop").mode("overwrite").save()
      })._2))
    // time the encrypt before its output is cached, or the cache would answer
    bag("functions.encrypt_rows_per_s") = rows / (noop(encrypted, "functions.encrypt") / 1e3)
    val encMem = encrypted.persist(StorageLevel.MEMORY_ONLY)
    encMem.count()
    val decrypted = encMem.select(policies.map(p =>
      protect.decrypt_value(col(p.column), p.keyId, schema(p.column).dataType, p.codec,
        p.column).as(p.column)): _*)
    bag("functions.decrypt_rows_per_s") = rows / (noop(decrypted, "functions.decrypt") / 1e3)
    encMem.unpersist(blocking = true)
    mem.unpersist(blocking = true)
  }

  /** Single-thread kernel loop over a sample of the workload's own values. */
  private def coreLayer(tracer: Tracer, bag: mutable.Map[String, Double]): Unit = {
    val n = 100000
    val sample = spark.read.parquet(input).select(cols.map(col): _*).limit(n).collect()
    val perCol = policies.zipWithIndex.map { case (p, i) =>
      val cryptor = CellCryptor(schema(p.column).dataType,
        ProtectionContext(p.keyId, p.column), p.codec, perValue = true)
      (cryptor, sample.map(r => catalyst(r.get(i))))
    }
    val values = perCol.map(_._2.length).sum.toDouble
    var cts: Seq[Array[Array[Byte]]] = Nil
    val encNs = (1 to 2).map { _ =>
      timed(tracer.span("core.encrypt") {
        cts = perCol.map { case (c, vs) => vs.map(c.encryptCell) }
      })._2 * 1e6 / values
    }
    val decNs = (1 to 2).map { _ =>
      timed(tracer.span("core.decrypt") {
        perCol.zip(cts).foreach { case ((c, _), cs) => cs.foreach(c.decryptCell) }
      })._2 * 1e6 / values
    }
    bag("core.encrypt_ns_per_value") = Stats.median(encNs)
    bag("core.decrypt_ns_per_value") = Stats.median(decNs)
  }
}
