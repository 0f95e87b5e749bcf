package graft

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry of derived state: every memo and landed fixture the
  * library keeps — cached intermediate frames, memory-sink tables of
  * the streaming gates, landed fixture directories, broadcasts and
  * driver-side models (BPE merges, IVF/PQ codebooks, Bloom sketches) —
  * is one entry here, keyed by (scope, key).
  *
  * Query builders are re-invoked freely (Bench runs each query 3×,
  * Verify once, specs repeatedly); deriving or `.cache()`-ing per call
  * would repeat the work and leak one copy per invocation. The
  * registry holds exactly one copy per key.
  *
  * The contract:
  *  - a key builds exactly once per scope; concurrent callers of the
  *    key wait for that one build and share its value;
  *  - builds run outside any map lock — the map only allocates a
  *    holder, and the build runs under that holder's own monitor — so
  *    a build may run Spark jobs, or read other registry keys, without
  *    blocking callers of any other key (a build that re-enters its
  *    own key fails instead of recursing);
  *  - a build that throws leaves no entry: the caller sees the
  *    failure, and the next call builds afresh;
  *  - [[clear]] and [[clearAll]] drop entries and release them, waiting
  *    for a build in progress: cached frames are unpersisted, and each
  *    entry's release hook runs (a broadcast is unpersisted, a
  *    memory-sink table dropped).
  *
  * Scopes: an entry belongs to its session ([[apply]], [[cached]])
  * when its value is session state, or to the JVM ([[global]]) when it
  * is a function of the dataset alone (a store landed once per
  * dataset). Keys are values, namespaced
  * `<owning module>.<intermediate>:<dataset>[:params]` — never
  * identity hashes. Two builders may share a key ONLY by calling the
  * same build (e.g. `dedup.planted:` is the planted-twin corpus shared
  * by the dedup and ANN gates); an accidental collision between
  * different values would silently cross-wire them.
  */
object Memo {

  private object Jvm

  private object Failed

  /** One entry: the build runs at most once, under this holder's
    * monitor, on the first [[get]]. */
  private final class Cell(key: (AnyRef, String), build: () => Any,
      val release: Any => Unit) {
    private var value: Any = null
    private var state = 0 // 0 empty, 1 building, 2 built, 3 failed

    /** The built value; waits for a build in progress. */
    def built: Option[Any] = synchronized(if (state == 2) Some(value) else None)

    def get(): Any = synchronized {
      if (state == 1)
        throw new IllegalStateException(s"${key._2}: build re-entered its own key")
      if (state == 0) {
        state = 1
        try { value = build(); state = 2 }
        catch {
          case t: Throwable =>
            state = 3
            cells.remove(key, this)
            throw t
        }
      }
      if (state == 3) Failed else value
    }
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(AnyRef, String), Cell]()

  @annotation.tailrec
  private def once[V](scope: AnyRef, key: String, release: V => Unit,
      build: => V): V = {
    val k = (scope, key)
    val c = cells.computeIfAbsent(k,
      _ => new Cell(k, () => build, release.asInstanceOf[Any => Unit]))
    c.get() match {
      // the build this caller waited on threw and its holder is gone
      case Failed => once(scope, key, release, build)
      case v => v.asInstanceOf[V]
    }
  }

  /** The value of `key` in this session, built once. */
  def apply[V](spark: SparkSession, key: String)(build: => V): V =
    once(spark, key, (_: V) => (), build)

  /** [[apply]] for a value that holds resources: a clear calls
    * `release` on it. */
  def apply[V](spark: SparkSession, key: String, release: V => Unit)(
      build: => V): V =
    once(spark, key, release, build)

  /** The value of `key` for the whole JVM, built once. */
  def global[V](key: String)(build: => V): V =
    once(Jvm, key, (_: V) => (), build)

  /** `build`, cached once in this session; a clear unpersists it. */
  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    once[DataFrame](spark, key, _.unpersist(false), build.cache())

  /** The landed-fixture rule: `<tmpdir>/<prefix>_<fingerprint>` is
    * reused whole once its `_done` marker exists. A directory without
    * the marker is a crashed or half-finished build: it is wiped, and
    * `build` fills it from scratch — never resumes into it — before
    * the marker is written. */
  def landed(prefix: String, fingerprint: String)(build: File => Unit): File = {
    val base = tmp(s"${prefix}_$fingerprint")
    val done = new File(base, "_done")
    if (!done.exists()) {
      wipe(base)
      base.mkdirs()
      build(base)
      done.createNewFile()
    }
    base
  }

  /** `name` under the JVM's temp directory. */
  def tmp(name: String): File =
    new File(System.getProperty("java.io.tmpdir"), name)

  /** This JVM's own directory under the temp directory, removed when
    * the JVM exits. */
  private lazy val jvmDir: File = {
    val d = java.nio.file.Files.createTempDirectory("graft_jvm_").toFile
    sys.addShutdownHook(wipe(d))
    d
  }

  private val freshSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A not-yet-existing directory `<name>_<n>` that no other build in
    * any JVM uses: one build's files, which no other session's build
    * can overwrite while they are served. */
  def fresh(name: String): File =
    new File(jvmDir, s"${name}_${freshSeq.incrementAndGet()}")

  /** Delete `f` and everything under it. */
  def wipe(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(wipe))
    f.delete()
  }

  /** The keys held, built or building, for `spark` and the JVM. */
  private[graft] def keys(spark: SparkSession): Set[String] =
    snapshot.collect { case ((s, k), _) if (s eq spark) || (s eq Jvm) => k }.toSet

  private def snapshot: Seq[((AnyRef, String), Cell)] = {
    val out = Seq.newBuilder[((AnyRef, String), Cell)]
    cells.forEach((k, c) => out += (k -> c))
    out.result()
  }

  private def drop(which: AnyRef => Boolean): Unit =
    snapshot.foreach { case (k, c) =>
      if (which(k._1) && cells.remove(k, c))
        c.built.foreach(v => try c.release(v) catch { case _: Throwable => () })
    }

  /** Drop and release every entry of this session. */
  def clear(spark: SparkSession): Unit = drop(_ eq spark)

  /** Drop and release every entry of every session and the JVM. */
  def clearAll(): Unit = drop(_ => true)
}
