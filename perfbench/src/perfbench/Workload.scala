package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One user-visible call the workload made, its latency, and whether its
  * output checked out. */
final case class Op(kind: String, ms: Double, ok: Boolean)

/** Everything a workload needs from the harness. `work` is a fresh directory
  * that only this workload writes under. */
final case class Env(session: () => SparkSession, dataDir: String, work: String,
    seed: Long, cpus: Int, listener: Option[WorkListener]) {
  def spark: SparkSession = session()
  def sc = spark.sparkContext
}

trait Workload {
  def name: String

  /** Untimed rounds before measuring: until the JIT has settled. */
  def warmUpRounds: Int = 1

  /** The repeatable part of set-up (fixture load, server start, first token).
    * Run several times; the last one stays in force. */
  def setUp(tracer: Tracer): Unit

  /** One fixed unit of work. Every op is checked against its expected output. */
  def round(tracer: Tracer): Seq[Op]

  /** Checks that run once, outside the timed rounds. */
  def finalChecks(): Seq[Op] = Nil

  /** Per-layer metrics from the traced round just run (`traced`, `tracedMs`)
    * plus the workload's own layer probes; returns any further ops it ran.
    * Counts are compared with the round before and reported to `unstable`
    * when they differ. */
  def layers(tracer: Tracer, traced: Seq[Op], tracedMs: Double, bag: mutable.Map[String, Double],
      unstable: String => Unit): Seq[Op]

  def close(): Unit = ()
}

object Workload {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Run `body` as one checked op; an exception is a failed op. */
  def op(kind: String)(body: => Boolean): Op = {
    val t0 = System.nanoTime()
    val ok =
      try body
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: $e")
        false
      }
    Op(kind, (System.nanoTime() - t0) / 1e6, ok)
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Compare a count between two traced rounds; report it if it moved. */
  def sameCount(unstable: String => Unit)(name: String, a: Double, b: Double): Double = {
    if (a != b) unstable(s"$name: $a then $b")
    b
  }
}
