package graft

import java.io.File
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The [[Memo]] registry contract: one build per key, builds outside
  * any map lock, failures not cached, `_done`-landed fixtures, and
  * clears that release what they drop. */
class MemoSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  private val seq = new AtomicInteger()
  private def key(tag: String): String = s"memospec.$tag:${seq.incrementAndGet()}"

  private def inThread[A](body: => A): java.util.concurrent.Future[A] = {
    val pool = Executors.newSingleThreadExecutor()
    try pool.submit(new Callable[A] { def call(): A = body })
    finally pool.shutdown()
  }

  test("two threads on one key run the build once") {
    val k = key("once")
    val builds = new AtomicInteger()
    val release = new CountDownLatch(1)
    def get(): Int = Memo(spark, k) { release.await(); builds.incrementAndGet() }
    val a = inThread(get())
    val b = inThread(get())
    Thread.sleep(200) // both callers are now inside: one builds, one waits
    release.countDown()
    assert(a.get(30, TimeUnit.SECONDS) == 1 && b.get(30, TimeUnit.SECONDS) == 1)
    assert(builds.get() == 1)
  }

  test("a build blocked on a latch does not block a different key's build") {
    val hold = new CountDownLatch(1)
    val started = new CountDownLatch(1)
    val slow = inThread(Memo(spark, key("slow")) {
      started.countDown(); hold.await(); "slow"
    })
    try {
      assert(started.await(30, TimeUnit.SECONDS))
      // a different key — here a cached frame whose build runs a Spark
      // job — completes while the first build still holds its holder
      val fast = inThread(Memo.cached(spark, key("fast"))(spark.range(10).toDF()).count())
      assert(fast.get(60, TimeUnit.SECONDS) == 10L)
      assert(!slow.isDone)
    } finally hold.countDown()
    assert(slow.get(30, TimeUnit.SECONDS) == "slow")
  }

  test("a build that throws leaves no entry, and the next call rebuilds") {
    val k = key("fail")
    var builds = 0
    intercept[IllegalStateException](Memo(spark, k) {
      builds += 1
      throw new IllegalStateException("build failed")
    })
    assert(!Memo.keys(spark).contains(k))
    assert(Memo(spark, k) { builds += 1; builds } == 2)
    assert(Memo(spark, k)(-1) == 2)
  }

  test("a build that reads another registry key completes") {
    val (outer, inner) = (key("outer"), key("inner"))
    assert(Memo(spark, outer)(Memo.global(inner)(20) + 1) == 21)
    assert(Memo.global(inner)(0) == 20)
    val df = Memo.cached(spark, key("frame_outer")) {
      Memo.cached(spark, key("frame_inner"))(spark.range(5).toDF())
        .filter(col("id") > 1)
    }
    assert(df.count() == 3L)
  }

  test("a build that re-enters its own key fails instead of recursing") {
    val k = key("reenter")
    def loop(): Int = Memo(spark, k)(loop() + 1)
    intercept[IllegalStateException](loop())
    assert(!Memo.keys(spark).contains(k))
  }

  private def fixtureFp(): String = s"spec${System.nanoTime()}"

  test("a landed fixture without _done is wiped and rebuilt") {
    val fp = fixtureFp()
    val base = Memo.tmp(s"graft_memospec_$fp")
    try {
      // a crashed earlier build: files but no marker
      assert(new File(base, "stale").mkdirs())
      var builds = 0
      val got = Memo.landed("graft_memospec", fp) { b =>
        builds += 1
        assert(!new File(b, "stale").exists(), "the half-built fixture was not wiped")
        assert(new File(b, "part").createNewFile())
      }
      assert(got == base && builds == 1)
      assert(new File(base, "_done").exists() && new File(base, "part").exists())
    } finally Memo.wipe(base)
  }

  test("a landed fixture with _done is reused without running the build") {
    val fp = fixtureFp()
    val base = Memo.tmp(s"graft_memospec_$fp")
    try {
      assert(base.mkdirs() && new File(base, "part").createNewFile() &&
        new File(base, "_done").createNewFile())
      val got = Memo.landed("graft_memospec", fp) { _ =>
        fail("a committed fixture was rebuilt")
      }
      assert(got == base && new File(base, "part").exists())
    } finally Memo.wipe(base)
  }

  test("a build that throws inside landed leaves no _done, so it rebuilds") {
    val fp = fixtureFp()
    val base = Memo.tmp(s"graft_memospec_$fp")
    try {
      intercept[RuntimeException](Memo.landed("graft_memospec", fp) { b =>
        new File(b, "half").createNewFile()
        throw new RuntimeException("crash mid-build")
      })
      assert(!new File(base, "_done").exists())
      Memo.landed("graft_memospec", fp)(b => assert(!new File(b, "half").exists()))
      assert(new File(base, "_done").exists())
    } finally Memo.wipe(base)
  }

  test("Caches.clear returns getPersistentRDDs to its earlier key set " +
      "after an index, a dedup, an ANN and a DV-table gate") {
    Caches.clear()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (q <- Seq("match_eq", "dedup_clusters", "ann_ivf", "io_dv_dsv2"))
      SparkEntry.queries(q)(spark, dir).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet != before,
      "the gates pinned nothing — the check would be vacuous")
    Caches.clear()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    assert(!Memo.keys(spark).exists(k => k.startsWith("index.") ||
      k.startsWith("dedup.") || k.startsWith("ann.") || k.startsWith("sources.")))
  }

  test("Caches.clear drops a streaming gate's sink table; the gate reruns") {
    def sinks = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_h12_")).toSet
    val first = gates.StreamGates.topkStreamed(spark, dir).collect().toSet
    assert(sinks.nonEmpty)
    Caches.clear()
    assert(sinks.isEmpty)
    assert(gates.StreamGates.topkStreamed(spark, dir).collect().toSet == first)
  }

  test("io fixture: a second session's build leaves the first's table whole") {
    // the gate's frame in session A lists the fixture's files when it
    // is built; session B's build of the same gate must not replace them
    val inA = SparkEntry.queries("io_orc")(spark, dir)
    val b = spark.newSession()
    try {
      val inB = SparkEntry.queries("io_orc")(b, dir).collect().map(_.toSeq).toSet
      assert(inB.nonEmpty)
      assert(inA.collect().map(_.toSeq).toSet == inB)
    } finally Memo.clear(b)
    // releasing B's entries leaves A's fixture in place
    assert(inA.collect().map(_.toSeq).toSet.nonEmpty)
  }

  private val root = new File("src/main/scala")

  /** The main sources, but `except`. */
  private def sources(except: String): Seq[File] = {
    def scala(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scala)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = scala(root)
    assert(files.nonEmpty, s"no sources under ${root.getAbsolutePath}")
    files.filter(_.getPath != new File(root, except).getPath)
  }

  test("no hand-rolled memo maps under src/main outside graft/Memo.scala") {
    val offenders = for {
      f <- sources(except = "graft/Memo.scala")
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      pat <- Seq("computeIfAbsent", "new java.util.concurrent.ConcurrentHashMap",
        "new ConcurrentHashMap") if src.contains(pat)
    } yield s"${f.getPath}: $pat"
    assert(offenders.isEmpty,
      "derived state belongs in the graft.Memo registry:\n" + offenders.mkString("\n"))
  }

  test("fixture directories come from graft/Memo.scala and catalogs are bound in graft/gates/Fixture.scala") {
    // code lines only: a doc comment may show a catalog conf
    def uses(pat: String)(f: File): Boolean =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").split("\n")
        .exists(l => !l.trim.startsWith("*") && !l.trim.startsWith("/") && l.contains(pat))
    val offenders =
      sources(except = "graft/Memo.scala").filter(uses("createTempDirectory"))
        .map(f => s"${f.getPath}: createTempDirectory") ++
      sources(except = "graft/gates/Fixture.scala").filter(uses("\"spark.sql.catalog."))
        .map(f => s"${f.getPath}: a spark.sql.catalog. conf")
    assert(offenders.isEmpty,
      "a fixture's directory is a graft.Memo one, and its catalog binding goes " +
        "through graft.gates.Fixture.catalog:\n" + offenders.mkString("\n"))
  }
}
