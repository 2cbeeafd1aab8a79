package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

/** Scopes the lifetime of intermediate `.cache()`s inside multi-consumer
  * pipelines (shingle tables, quantized embeddings).
  *
  * The dedup/similarity pipelines cache frames that feed 3–4 downstream
  * consumers, and Spark's `CacheManager` holds each until `unpersist` or
  * `clearCache` (the ContextCleaner never reaps it with the plan).
  * `CacheScope.withScope { scope => ... materialize ... }` unpersists
  * everything the pipeline cached as soon as the result is materialized;
  * under the default [[CacheScope.unmanaged]] a caller looping over many
  * corpora must `clearCache()` itself, or the session's cache only grows.
  */
final class CacheScope private[ops] (track: Boolean) {
  private val frames = ArrayBuffer.empty[DataFrame]

  /** Cache `df`; remember it for [[unpersistAll]] if this scope tracks. */
  def cached(df: DataFrame): DataFrame = {
    val c = df.cache()
    if (track) frames.synchronized { frames += c }
    c
  }

  /** Unpersist every frame cached through this scope (blocking, so a spec
    * can assert `sparkContext.getPersistentRDDs` is empty right after).
    */
  def unpersistAll(blocking: Boolean = true): Unit = frames.synchronized {
    frames.foreach(_.unpersist(blocking))
    frames.clear()
  }
}

object CacheScope {
  /** Untracked scope: caches live until the session's `clearCache()`.
    * Fits one-shot jobs only (registry queries).
    */
  val unmanaged: CacheScope = new CacheScope(track = false)

  /** Run `f` with a tracking scope; unpersist everything it cached on exit
    * (also on failure). Materialize results inside `f` — frames returned
    * lazily will recompute after the scope closes.
    */
  def withScope[T](f: CacheScope => T): T = {
    val scope = new CacheScope(track = true)
    try f(scope) finally scope.unpersistAll()
  }
}
