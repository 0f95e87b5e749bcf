package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for cached intermediate tables. Query builders
  * are re-invoked freely (Bench runs each query 3x, Verify once, specs
  * repeatedly) — a bare `.cache()` inside a builder leaks one fresh
  * copy of the same table per invocation, and the leaked copies
  * compound into session-wide memory pressure. Memoizing the cached
  * DataFrame per (session, key) pins exactly one copy, the same
  * discipline TagIndex and Dedup.clusters already follow.
  *
  * Keys are namespaced `<owning module>.<intermediate>:<dataset>` —
  * two builders may share a key ONLY by calling the same build (e.g.
  * `dedup.planted:` is the planted-twin corpus shared by the dedup and
  * ANN gates); an accidental key collision between different frames
  * would silently cross-wire them.
  */
object Memo {
  private val m =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Build happens OUTSIDE the map lock: computeIfAbsent would hold the
    * bin lock during plan construction, so a builder that itself calls
    * Memo.cached (nested memoized intermediates) could deadlock or throw
    * per the CHM recursive-update contract. check → build → putIfAbsent
    * is safe; the losing duplicate of a race is unpersisted.
    */
  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = (spark, key)
    val existing = m.get(k)
    if (existing != null) existing
    else {
      val fresh = build.cache()
      val prev = m.putIfAbsent(k, fresh)
      if (prev != null) {
        try fresh.unpersist() catch { case _: Throwable => () }
        prev
      } else fresh
    }
  }

  /** [[cached]]'s check → build → putIfAbsent order for a driver-side
    * model held in the caller's own map (a merge table, a sketch):
    * the build runs outside any map lock, so a Spark job inside it
    * never blocks other keys' readers; a racing duplicate build of an
    * immutable value is discarded.
    */
  def getOrBuild[K, V](m: java.util.concurrent.ConcurrentHashMap[K, V], k: K)(build: => V): V = {
    val existing = m.get(k)
    if (existing != null) existing
    else {
      val fresh = build
      val prev = m.putIfAbsent(k, fresh)
      if (prev != null) prev else fresh
    }
  }

  /** Unpersist + drop every memo held for a session (test hygiene). */
  def clear(spark: SparkSession): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) {
        try e.getValue.unpersist()
        catch { case _: Throwable => () }
        it.remove()
      }
    }
  }
}
