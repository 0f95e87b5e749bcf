package graft

import graft.index.{LabelMatcher, MatchOp, TagIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TagIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import MatchOp._

  // tiny hand-built sample stream: 4 series over 2 labels
  lazy val index: TagIndex = {
    import spark.implicits._
    val df = Seq(
      // (event_id, ts_sec, value, usr, typ)
      (0L, 100L, 1.0, "1", "click"),
      (1L, 200L, 2.0, "1", "click"),
      (2L, 150L, 3.0, "1", "view"),
      (3L, 300L, 4.0, "2", "click"),
      (4L, 400L, 5.0, "2", "error"),
      (5L, 9000L, 6.0, "2", "error")
    ).toDF("event_id", "ts_sec", "value", "usr", "typ")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    new TagIndex(df, Seq("usr", "typ"))
  }

  private def resolved(ms: LabelMatcher*): Set[(String, String)] =
    index.resolveMatchers(ms).select("usr", "typ").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  test("tsid: a missing label stays apart from a shifted value") {
    import spark.implicits._
    // {a="x", b=null} and {a=null, b="x"}: concat_ws alone skips the
    // null and hashes both as "x"
    val df = Seq((0L, 100L, 1.0, Some("x"), Option.empty[String]),
        (1L, 200L, 2.0, Option.empty[String], Some("x")))
      .toDF("event_id", "ts_sec", "value", "a", "b")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val sparse = new TagIndex(df, Seq("a", "b"))
    assert(sparse.labeled.select("tsid").distinct().count() == 2)
    assert(sparse.seriesCatalog.count() == 2)
    assert(sparse.resolveMatchers(Seq(LabelMatcher("a", Eql, "x")))
      .select("b").collect().map(_.getString(0)).toSeq == Seq(null))
  }

  test("tsid: a fully-labelled series keeps its NUL-joined hash") {
    // xxhash64("1\u0000click", seed 42) — the tsid persisted warm
    // catalogs and IndexStore segments already carry
    val t = index.labeled.filter(col("usr") === "1" && col("typ") === "click")
      .select("tsid").head().getLong(0)
    assert(t == 8468917265113425992L)
    assert(t == streaming.StreamOps.tsidOf("1", "click"))
  }

  test("series catalog has one row per label set with bounds") {
    val cat = index.seriesCatalog.collect()
    assert(cat.length == 4)
    val err = index.seriesCatalog.filter(col("usr") === "2" && col("typ") === "error")
      .select("n_samples").head().getLong(0)
    assert(err == 2)
  }

  test("eq matcher") {
    assert(resolved(LabelMatcher("typ", Eql, "click")) ==
      Set(("1", "click"), ("2", "click")))
  }

  test("neq subtracts from inclusive set") {
    assert(resolved(LabelMatcher("typ", Eql, "click"), LabelMatcher("usr", Neq, "1")) ==
      Set(("2", "click")))
  }

  test("range matchers on same label intersect correctly") {
    assert(resolved(LabelMatcher("usr", Gte, "1"), LabelMatcher("usr", Lte, "1")) ==
      Set(("1", "click"), ("1", "view")))
  }

  test("anchored regex matches whole value only") {
    // "lick" is a substring but not a full match
    assert(resolved(LabelMatcher("typ", EqlRegex, "lick")).isEmpty)
    assert(resolved(LabelMatcher("typ", EqlRegex, "c.*")) ==
      Set(("1", "click"), ("2", "click")))
  }

  test("negated regex over full universe") {
    assert(resolved(LabelMatcher("typ", NeqRegex, "(click|view)")) ==
      Set(("2", "error")))
  }

  test("exists does exact label-set lookup") {
    assert(index.exists(Map("usr" -> "2", "typ" -> "error")).count() == 1)
    assert(index.exists(Map("usr" -> "9", "typ" -> "error")).count() == 0)
  }

  test("label_values") {
    val vs = index.labelValues("typ").collect().map(_.getString(0)).toSet
    assert(vs == Set("click", "view", "error"))
  }

  test("label_values reads the catalog column: equals the inverted-index form") {
    import spark.implicits._
    def exploded(i: TagIndex, name: String) =
      i.invertedIndex.filter(col("label_name") === name)
        .select(col("label_value").as("value")).distinct()
    def values(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => Option(r.getString(0))).toSeq.sortBy(_.toString)
    val events = TagIndex.forEvents(spark, "/root/testdata/sf0.001")
    val sparse = new TagIndex(Seq((0L, 100L, 1.0, Some("x"), Option.empty[String]),
        (1L, 200L, 2.0, Option.empty[String], Some("y")),
        (2L, 300L, 3.0, Some("x"), Some("z")))
      .toDF("event_id", "ts_sec", "value", "a", "b")
      .withColumn("ts", timestamp_seconds(col("ts_sec"))), Seq("a", "b"))
    for ((i, name) <- Seq(events -> "usr", events -> "typ", events -> "nope",
        sparse -> "a", sparse -> "b", sparse -> "nope")) {
      val got = i.labelValues(name)
      assert(got.schema == exploded(i, name).schema, name)
      assert(values(got) == values(exploded(i, name)), name)
    }
    assert(values(sparse.labelValues("b")) == Seq(None, Some("y"), Some("z")))
    assert(events.labelValues("nope").isEmpty)
  }

  test("select applies index time pruning and exact sample range") {
    val out = index.select(Seq(LabelMatcher("typ", Eql, "error")),
      timestamp_seconds(lit(350)), timestamp_seconds(lit(500)))
    assert(out.select("event_id").collect().map(_.getLong(0)).toSet == Set(4L))
  }

  test("empty sample stream yields empty results, not errors") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Double, String, String)]
      .toDF("event_id", "ts_sec", "value", "usr", "typ")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val e = new TagIndex(empty, Seq("usr", "typ"))
    assert(e.resolveMatchers(Seq(LabelMatcher("typ", Eql, "x"))).count() == 0)
    assert(e.resolveMatchers(Seq(LabelMatcher("typ", NeqRegex, ".*"))).count() == 0)
    assert(e.labelValues("typ").count() == 0)
    assert(e.select(Seq(LabelMatcher("typ", Eql, "x")),
      timestamp_seconds(lit(0)), timestamp_seconds(lit(100))).count() == 0)
  }

  test("time-pruned resolve skips series outside range") {
    val out = index.resolveMatchers(Seq(LabelMatcher("usr", Eql, "1")),
      Some(timestamp_seconds(lit(5000))), Some(timestamp_seconds(lit(6000))))
    assert(out.count() == 0)
  }

  test("warm-store load ≡ fresh derivation (catalog, inverted, resolution)") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    // force a cold build (wipes this dataset's warm dir and the memo)
    val fp = Tables.fingerprint(s"$dir/events.parquet")
    val warm = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_warmidx_${graft.index.IndexStore.Layout}_${fp}_usr_typ")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(warm)
    Caches.clear()
    val cold = TagIndex.forEvents(spark, dir)
    val coldCat = rows(cold.seriesCatalog)
    val coldInv = rows(cold.invertedIndex)
    assert(new java.io.File(warm, "_done").exists(),
      "cold build must persist the warm store")
    // a 'fresh session' load: clear the memo so forEvents re-enters
    // memoWarm and takes the _done load path
    Caches.clear()
    val loaded = TagIndex.forEvents(spark, dir)
    assert(rows(loaded.seriesCatalog) == coldCat && coldCat.nonEmpty)
    assert(rows(loaded.invertedIndex) == coldInv && coldInv.nonEmpty)
    val ms = Seq(LabelMatcher("typ", Eql, "purchase"),
      LabelMatcher("usr", Gte, "10"))
    assert(rows(loaded.resolveMatchers(ms).select("usr", "typ"))
      == rows(cold.resolveMatchers(ms).select("usr", "typ")))
    Caches.clear() // leave no cross-suite state
  }
}
