package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions` production path: a session built with
  * GraftExtensions can call every injected function from plain SQL —
  * no library imports, no temp-function registration.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions makes graft functions SQL-callable") {
    // ensure a context exists, then build a FRESH session with the
    // extensions over the same context (getOrCreate would return the
    // suite-shared session and silently skip injection)
    val base = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s.implicits._
      Seq((1L, Array(1.0f, 2.0f), 7L), (2L, Array(3.0f, 4.0f), 7L),
        (3L, Array(0.0f, 1.0f), 9L))
        .toDF("id", "v", "k").createOrReplaceTempView("ext_t")

      val dot = s.sql("SELECT vec_dot(v, v) AS d FROM ext_t WHERE id = 1")
        .head().getDouble(0)
      assert(dot == 5.0)

      val vs = s.sql("SELECT vec_sum(v, 2) AS s FROM ext_t")
        .head().getSeq[Double](0)
      assert(vs == Seq(4.0, 7.0))

      val fi = s.sql(
        "SELECT freq_items(k, 16) AS f FROM ext_t")
        .head().getSeq[org.apache.spark.sql.Row](0)
      assert(fi.map(r => (r.getLong(0), r.getLong(1))) == Seq((7L, 2L), (9L, 1L)))

      val sh = s.sql("SELECT simhash_fp(k, id) AS fp FROM ext_t").head().getLong(0)
      assert(sh != 0L) // fingerprint computed through the SQL path

      // dual polynomial token hash: h('ab') = (131a+b)*2^31 + (137a+b)
      val hp = s.sql("SELECT str_poly2('ab') AS h").head().getLong(0)
      val a = 'a'.toLong; val b = 'b'.toLong
      assert(hp == (a * 131 + b) * 2147483648L + (a * 137 + b))

      // bounded-heap top/bottom-k through SQL: struct array best-first
      val tk = s.sql(
        "SELECT topk(cast(id as double), cast(id as string), 'x', 2) AS t FROM ext_t")
        .head().getSeq[org.apache.spark.sql.Row](0)
      assert(tk.map(_.getDouble(0)) == Seq(3.0, 2.0))
      val bk = s.sql(
        "SELECT bottomk(cast(id as double), cast(id as string), 'x', 2) AS t FROM ext_t")
        .head().getSeq[org.apache.spark.sql.Row](0)
      assert(bk.map(_.getDouble(0)) == Seq(1.0, 2.0))

      // Morton interleave: x=3 (bits 0,1 -> even positions 0,2),
      // y=1 (bit 0 -> odd position 1) => 0b0111 = 7
      val z = s.sql("SELECT zorder2(3, 1) AS z").head().getLong(0)
      assert(z == 7L)

      // bloom pair: build over k, probe members and a non-member (the
      // bloom side must be a scalar subquery or constant, per the
      // expression's contract)
      val bl = s.sql(
        """SELECT
          |  bloom_probe((SELECT bloom_agg(k, 100, 800) FROM ext_t), 7L) AS p7,
          |  bloom_probe((SELECT bloom_agg(k, 100, 800) FROM ext_t), 12345L) AS px
          |""".stripMargin).head()
      assert(bl.getBoolean(0), "bloom must contain an inserted key")
      assert(!bl.getBoolean(1), "bloom FP on a distant key at 8 bits/item")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  /** The index surface from PURE SQL (the reference's adapter/SWIG
    * reachability, swig/wrapper.h:1): every matcher shape A2–A11 plus
    * the B1 select path runs through the injected TVFs and returns
    * exactly what the Scala builder API returns.
    */
  test("index TVFs: pure SQL ≡ builder API for every matcher shape") {
    val base = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val dir = "/root/testdata/sf0.001"
      import graft.index.{IndexQueries, IndexSql, LabelMatcher, MatchOp, TagIndex}

      def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

      // selectors covering every MatchOp (A2 =, A3 !=, A4 </>/<=/>=,
      // A5 =~, A6 !~, A7 conjunction)
      val shapes: Seq[(String, Seq[LabelMatcher])] = Seq(
        ("""typ="click"""" -> Seq(LabelMatcher("typ", MatchOp.Eql, "click"))),
        ("""typ="click", usr!="7"""" ->
          Seq(LabelMatcher("typ", MatchOp.Eql, "click"),
            LabelMatcher("usr", MatchOp.Neq, "7"))),
        ("""usr>="2", usr<="5"""" ->
          Seq(LabelMatcher("usr", MatchOp.Gte, "2"),
            LabelMatcher("usr", MatchOp.Lte, "5"))),
        ("""usr>"2", usr<"5"""" ->
          Seq(LabelMatcher("usr", MatchOp.Gtr, "2"),
            LabelMatcher("usr", MatchOp.Lss, "5"))),
        ("""typ=~"(click|view)"""" ->
          Seq(LabelMatcher("typ", MatchOp.EqlRegex, "(click|view)"))),
        ("""usr="3", typ!~"(error|signup)"""" ->
          Seq(LabelMatcher("usr", MatchOp.Eql, "3"),
            LabelMatcher("typ", MatchOp.NeqRegex, "(error|signup)"))),
        ("""typ="purchase", usr>="10", usr!="12"""" ->
          Seq(LabelMatcher("typ", MatchOp.Eql, "purchase"),
            LabelMatcher("usr", MatchOp.Gte, "10"),
            LabelMatcher("usr", MatchOp.Neq, "12"))))
      for ((sel, ms) <- shapes) {
        val viaSql = s.sql(s"SELECT usr, typ FROM graft_match('$dir', '$sel')")
        val viaApi = TagIndex.forEvents(s, dir).resolveMatchers(ms)
          .select("usr", "typ")
        assert(sorted(viaSql) == sorted(viaApi), s"selector: $sel")
      }

      // A8 label_values + A8c constrained + A8b label_names
      assert(sorted(s.sql(s"SELECT value FROM graft_label_values('$dir', 'typ')"))
        == sorted(TagIndex.forEvents(s, dir).labelValues("typ")))
      assert(sorted(s.sql(
        s"""SELECT value FROM graft_label_values('$dir', 'usr', 'typ="purchase", usr>="10"')"""))
        == sorted(IndexQueries.labelValuesMatched(s, dir)))
      assert(sorted(s.sql(s"SELECT label_name FROM graft_label_names('$dir')"))
        == Seq("typ", "usr"))

      // A20: constrained label_names(selector) — SQL ≡ API (on the
      // 2-label model both names survive any non-empty match; the
      // sparse-label discrimination is gated by label_names_matched)
      val sqlLn = s.sql(
        s"""SELECT label_name FROM graft_label_names('$dir', 'typ="purchase"')""")
      val apiLn = index.TagIndex.forEvents(s, dir).labelNames(
        Seq(index.LabelMatcher("typ", index.MatchOp.Eql, "purchase")))
      assert(sorted(sqlLn) == sorted(apiLn) && sorted(sqlLn) == Seq("typ", "usr"))

      // B1 select(): matchers + time range → samples, fully from SQL
      val sqlSel = s.sql(
        s"""SELECT event_id, usr, typ, unix_timestamp(ts) AS ts_sec,
           |  round(value, 2) AS value
           |FROM graft_select('$dir', 'typ="purchase"',
           |  '2024-01-10 00:00:00', '2024-01-12 00:00:00')""".stripMargin)
      assert(sorted(sqlSel) == sorted(IndexQueries.selectRange(s, dir)))

      // B49 from SQL: the alerting-rule TVF ≡ the Rules API
      val sqlAlerts = s.sql(
        s"""SELECT alertname, usr, t_sec, alertstate
           |FROM graft_promql_alerts('$dir',
           |  'sum by (usr) (count_over_time({typ="purchase"}[2d])) > 0',
           |  '2024-01-03 00:00:00', '2024-01-31 00:00:00',
           |  '86400', '172800', 'A')""".stripMargin)
      val apiAlerts = promql.Rules.alerts(TagIndex.forEvents(s, dir),
        """sum by (usr) (count_over_time({typ="purchase"}[2d])) > 0""",
        "2024-01-03 00:00:00", "2024-01-31 00:00:00", 86400L, 172800L, "A")
      assert(sorted(sqlAlerts) == sorted(apiAlerts) && sqlAlerts.count() > 0)

      // B53 from SQL: the rollup-tier dashboard TVF ≡ the Rollup API
      val sqlRoll = s.sql(
        s"""SELECT usr, typ, day_sec, n, sum_cents, vmin, vmax, last_v
           |FROM graft_rollup_daily('$dir', '1704067200',
           |  '${1704067200L + 7L * 86400L}')""".stripMargin)
      val apiRoll = tsdb.Rollup.serveDaily(s, dir, 86400L,
        1704067200L, 1704067200L + 7L * 86400L)
      assert(sorted(sqlRoll) == sorted(apiRoll) && sqlRoll.count() > 0)

      // B55 from SQL: the native-histogram family ≡ the API path
      val sqlNh = s.sql(
        s"""SELECT typ, value FROM graft_promql_native('$dir',
           |  'histogram_quantile(0.9, {typ=~".*"})',
           |  '2024-01-08 00:00:00')""".stripMargin)
      val apiNh = promql.NativeHist.eval(s, dir,
        """histogram_quantile(0.9, {typ=~".*"})""", "2024-01-08 00:00:00")
      assert(sorted(sqlNh) == sorted(apiNh) && sqlNh.count() > 0)

      // parser rejects garbage loudly
      val err = intercept[Exception](IndexSql.parseSelector("""typ~="click""""))
      assert(err.getMessage.contains("bad matcher term"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("round-11 TVFs: graft_promql_native_mixed and " +
      "graft_nhcb_quantile — pure SQL ≡ API") {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    index.IndexSql.register(s)
    val dir = "/root/testdata/sf0.001"
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    val apiMixed = promql.NativeHist.eval(s, dir,
      """histogram_quantile(0.9, sum({typ=~".*"}))""",
      "2024-01-08 00:00:00", mixed = true)
    val sqlMixed = s.sql(s"""SELECT * FROM graft_promql_native_mixed(
      |'$dir', 'histogram_quantile(0.9, sum({typ=~".*"}))',
      |'2024-01-08 00:00:00')""".stripMargin)
    assert(sorted(apiMixed) == sorted(sqlMixed) && sorted(apiMixed).nonEmpty)
    val apiN = promql.NativeHist.nhcbQuantile(s, dir, 0.9,
      "2024-01-08 00:00:00")
    val sqlN = s.sql(
      s"SELECT * FROM graft_nhcb_quantile('$dir', '0.9', '2024-01-08 00:00:00')")
    assert(sorted(apiN) == sorted(sqlN) && sorted(apiN).nonEmpty)
  }

  test("I26 DSv2 connector: SQL (CREATE TEMP VIEW USING graft) ≡ API; " +
      "versionAsOf resolves through the commit list; stats options " +
      "prune the scan; DV versions served merge-on-read") {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val t = java.nio.file.Files
      .createTempDirectory("graft_dsv2_spec").toString + "/table"
    sources.Io.tableAppendStats(
      (1L to 10L).toDF("k").repartitionByRange(2, col("k")), t, "k") // v0
    sources.Io.tableAppendStats(
      (11L to 20L).toDF("k").repartitionByRange(2, col("k")), t, "k") // v1
    // versionAsOf: v0 sees 10 rows, HEAD (default) sees 20
    val v0 = s.read.format("graft").option("versionAsOf", 0).load(t)
    assert(v0.count() == 10)
    assert(s.read.format("graft").load(t).count() == 20)
    // pure SQL ≡ API
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW g0 " +
      s"USING graft OPTIONS (path '$t', versionAsOf '0')")
    assert(s.sql("SELECT sum(k) FROM g0").head().getLong(0) ==
      v0.agg(sum(col("k"))).head().getLong(0))
    // stats skipping prunes the FILE list (4 files at HEAD; the k<6
    // band overlaps only v0's first range file) — counted at runtime
    // via input_file_name (the wrapper table hides the FileIndex from
    // DataFrame.inputFiles)
    def scannedFiles(df: org.apache.spark.sql.DataFrame) =
      df.select(input_file_name()).distinct().count()
    val full = s.read.format("graft").load(t)
    val skip = s.read.format("graft")
      .option("skipCol", "k").option("skipLo", 1).option("skipHi", 6)
      .load(t)
    assert(scannedFiles(skip) < scannedFiles(full),
      s"skip read ${scannedFiles(skip)} of ${scannedFiles(full)}")
    assert(skip.filter(col("k") >= 1 && col("k") < 6).count() == 5)
    // round 12: a DV-carrying version is served MERGE-ON-READ by the
    // connector itself — the key-set row filter wraps the parquet
    // readers, which the API read and the TVF load too
    sources.Io.tableDeleteWhereDv(s, t, col("k") === 4) // v2
    val dvHead = s.read.format("graft").load(t)
    assert(dvHead.count() == 19)
    assert(dvHead.filter(col("k") === 4).count() == 0)
    // count(*) (empty required schema: the key col is read-augmented
    // and projected out) and a key-free projection both stay DV-exact
    assert(dvHead.selectExpr("k * 2 AS kk").agg(sum(col("kk"))).head()
      .getLong(0) == ((1L to 20L).sum - 4L) * 2)
    // the pinned API read and the TVF of the DV version drop k = 4 too
    index.IndexSql.register(s)
    assert(sources.Io.readTableVersion(s, t, 2L)
      .agg(sum(col("k"))).head().getLong(0) == (1L to 20L).sum - 4L)
    assert(s.sql(s"SELECT count(*) FROM graft_table('$t', '-1')")
      .head().getLong(0) == 19)
    assert(s.sql(s"SELECT count(*) FROM graft_table('$t', '2')")
      .filter(lit(true)).head().getLong(0) == 19)
    assert(s.sql(s"SELECT sum(k) FROM graft_table('$t', '1')")
      .head().getLong(0) == (1L to 20L).sum)
    // version isolation through the connector: the pre-delete version
    // still serves k=4
    assert(s.read.format("graft").option("versionAsOf", 1).load(t)
      .count() == 20)
    assert(s.read.format("graft").option("versionAsOf", 1).load(t)
      .filter(col("k") === 4).count() == 1)
    // skipCol composes with the DV filter (stats carried across the
    // DV delete): the k<6 band prunes files AND drops the deleted row
    val dvSkip = s.read.format("graft")
      .option("skipCol", "k").option("skipLo", 1).option("skipHi", 6)
      .load(t).filter(col("k") >= 1 && col("k") < 6)
    assert(dvSkip.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 5L))
    // predicate pushdown still reaches the parquet scan under the DV
    // wrapper (PushedFilters in the formatted plan)
    val pushed = dvHead.filter(col("k") >= 10)
    assert(pushed.queryExecution.executedPlan.toString
      .contains("PushedFilters: [IsNotNull(k), GreaterThanOrEqual(k,10)]") ||
      pushed.queryExecution.toString
        .contains("GreaterThanOrEqual(k,10)"),
      "filter must still push down on DV versions")
    assert(pushed.count() == 11) // k ∈ 10..20 — the deleted k=4 is below
  }

  test("SQL DELETE FROM through the connector: DV path with deleteKey, " +
      "COW without, pinned views refuse") {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val t = java.nio.file.Files
      .createTempDirectory("graft_dsv2_del").toString + "/table"
    sources.Io.tableAppend(
      (1L to 20L).toDF("k").repartitionByRange(2, col("k")), t) // v0
    // a deleteKey'd view routes DELETE FROM into the DV path
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW gdel " +
      s"USING graft OPTIONS (path '$t', deleteKey 'k')")
    s.sql("DELETE FROM gdel WHERE k = 7")
    assert(sources.Io.tableVersion(s, t) == 1L)
    assert(new java.io.File(s"$t/_commits/00000001.dv").exists(),
      "point delete must ride the DV sidecar")
    assert(sources.Io.readTableVersion(s, t, 1L).count() == 19)
    // without deleteKey the delete is COW — but the table now carries
    // DVs, so the plain path refuses (no resurrect) until OPTIMIZE
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW gdel2 " +
      s"USING graft OPTIONS (path '$t', versionAsOf '0')")
    val pinned = intercept[Exception] { s.sql("DELETE FROM gdel2 WHERE k = 1") }
    assert(pinned.getMessage.contains("pinned"))
    sources.Io.optimizeTableDv(s, t) // v2: materialize, DV-free
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW gdel3 " +
      s"USING graft OPTIONS (path '$t')")
    s.sql("DELETE FROM gdel3 WHERE k <= 5")
    assert(sources.Io.readTableVersion(s, t, 3L).count() == 14)
    assert(!new java.io.File(s"$t/_commits/00000003.dv").exists(),
      "keyless delete is copy-on-write")
    // reads through the TVF see the DML results (k=7 and k≤5 gone)
    index.IndexSql.register(s)
    assert(s.sql(s"SELECT min(k) FROM graft_table('$t', '-1')")
      .head().getLong(0) == 6L)
    assert(s.sql(s"SELECT count(*) FROM graft_table('$t', '-1')")
      .head().getLong(0) == 14L)
    // round 12 (row-level ops): on a PATH temp view the row-level
    // rewrite cannot engage (the View node hides the V2 relation from
    // the analyzer rule — the Delta/Iceberg situation too), so a
    // predicate the metadata surface can't express still refuses…
    val bad = intercept[Exception] {
      s.sql("DELETE FROM gdel3 WHERE k <=> 8")
    }
    assert(bad.getMessage.contains("Cannot delete"),
      s"unexpected: ${bad.getMessage}")
    // …but the SAME delete through a CATALOG identifier takes the COW
    // row-level rewrite and just works, as one more commit
    s.conf.set("spark.sql.catalog.gdelc", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.gdelc.warehouse",
      new java.io.File(t).getParent)
    s.sql("DELETE FROM gdelc.table WHERE k <=> 8")
    assert(sources.Io.tableVersion(s, t) == 4L)
    assert(sources.Io.readTableVersion(s, t, 4L).count() == 13)
    assert(!new java.io.File(s"$t/_commits/00000004.dv").exists(),
      "rewrite delete is copy-on-write")
    // round 12: skipCol over a stats-less table refuses with the
    // actionable message, not a bare NoSuchElementException
    val noStats = intercept[Exception] {
      s.read.format("graft").option("skipCol", "k")
        .option("skipLo", 1).option("skipHi", 5).load(t).count()
    }
    assert(noStats.getMessage.contains("no commit stats"),
      s"unhelpful message: ${noStats.getMessage}")
    // …and a stats-carrying table pointed at a MISSING column gets the
    // per-column message (the round-11 ADVICE bare-lookup fix)
    val t2 = java.nio.file.Files
      .createTempDirectory("graft_dsv2_del2").toString + "/table"
    sources.Io.tableAppendStats(Seq(1L).toDF("k"), t2, "k")
    val noCol = intercept[Exception] {
      s.read.format("graft").option("skipCol", "nope")
        .option("skipLo", 1).option("skipHi", 5).load(t2).count()
    }
    assert(noCol.getMessage.contains("no commit stats for column nope"),
      s"unhelpful message: ${noCol.getMessage}")
  }

  test("GraftCatalog (round 12): CREATE/INSERT/SELECT/DELETE/RENAME/" +
      "DROP as graft.<ns>.<table> identifiers, one machinery with the " +
      "path surfaces") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_catalog").toString
    s.conf.set("spark.sql.catalog.gcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    // CREATE: schema sidecar bridges create → first insert; the empty
    // table SELECTs as zero rows with the declared schema
    s.sql("CREATE TABLE gcat.db.t (k BIGINT, v BIGINT)")
    assert(s.sql("SELECT * FROM gcat.db.t").count() == 0)
    assert(s.sql("SELECT * FROM gcat.db.t").schema.fieldNames.toSeq
      == Seq("k", "v"))
    // INSERT INTO = the V1Write → OCC append (v0 creates)
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
      .createOrReplaceTempView("__cat_src")
    s.sql("INSERT INTO gcat.db.t SELECT * FROM __cat_src")
    assert(s.sql("SELECT sum(v) FROM gcat.db.t").head().getLong(0) == 60L)
    assert(sources.Io.tableVersion(s, s"$wh/db/t") == 0L,
      "first INSERT must land as commit v0")
    // a second INSERT is one more commit; the path surface sees it too
    s.sql("INSERT INTO gcat.db.t VALUES (4, 40)")
    assert(s.read.format("graft").load(s"$wh/db/t").count() == 4,
      "catalog and path surfaces must serve the same table")
    // DELETE routes into the COW commit protocol
    s.sql("DELETE FROM gcat.db.t WHERE k = 2")
    assert(s.sql("SELECT count(*) FROM gcat.db.t").head().getLong(0) == 3)
    assert(sources.Io.readTableVersion(s, s"$wh/db/t", 1L).count() == 4,
      "history stays immutable under catalog DML")
    // DESCRIBE EXTENDED serves the commit-log facts as table props
    val props = s.sql("DESCRIBE TABLE EXTENDED gcat.db.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val tblProps = props.getOrElse("Table Properties", "")
    assert(tblProps.contains("graft.version=2") &&
      tblProps.contains("graft.head=2") &&
      tblProps.contains("graft.numFiles="),
      s"expected commit-log props, got: $tblProps")
    // SHOW TABLES sees it; RENAME moves it; DROP removes it
    assert(s.sql("SHOW TABLES IN gcat.db").collect()
      .map(_.getString(1)).contains("t"))
    s.sql("ALTER TABLE gcat.db.t RENAME TO db.t2")
    assert(s.sql("SELECT count(*) FROM gcat.db.t2").head().getLong(0) == 3)
    intercept[Exception] { s.sql("SELECT * FROM gcat.db.t").collect() }
    s.sql("DROP TABLE gcat.db.t2")
    assert(s.sql("SHOW TABLES IN gcat.db").collect().isEmpty)
    // CREATE over an existing table refuses
    s.sql("CREATE TABLE gcat.db.u (k BIGINT)")
    intercept[Exception] { s.sql("CREATE TABLE gcat.db.u (k BIGINT)") }
  }

  test("GraftCatalog atomic CTAS + SQL time travel (round 12): " +
      "CREATE TABLE AS SELECT stages invisibly and commits v0 through " +
      "OCC; VERSION AS OF / TIMESTAMP AS OF resolve through loadTable") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import s.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_catalog_ctas").toString
    s.conf.set("spark.sql.catalog.gct", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.gct.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gct.db")
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
      .createOrReplaceTempView("__ctas_src")
    // atomic CTAS: one statement creates + lands v0
    s.sql("CREATE TABLE gct.db.t AS SELECT * FROM __ctas_src")
    assert(s.sql("SELECT sum(v) FROM gct.db.t").head().getLong(0) == 60L)
    assert(sources.Io.tableVersion(s, s"$wh/db/t") == 0L,
      "CTAS must land exactly commit v0")
    // CTAS over an existing table refuses and leaves it untouched
    intercept[Exception] {
      s.sql("CREATE TABLE gct.db.t AS SELECT * FROM __ctas_src")
    }
    assert(s.sql("SELECT count(*) FROM gct.db.t").head().getLong(0) == 3)
    // a FAILED CTAS leaves no table behind (atomicity): the SELECT
    // throws mid-write, loadTable must then not see db.bad
    intercept[Exception] {
      s.sql("CREATE TABLE gct.db.bad AS " +
        "SELECT k, assert_true(k < 2, 'boom') AS chk FROM __ctas_src")
    }
    intercept[Exception] { s.sql("SELECT * FROM gct.db.bad").collect() }
    // empty-SELECT CTAS: zero data files, schema still serves
    s.sql("CREATE TABLE gct.db.empty AS SELECT * FROM __ctas_src WHERE k < 0")
    assert(s.sql("SELECT * FROM gct.db.empty").count() == 0)
    assert(s.sql("SELECT * FROM gct.db.empty").schema.fieldNames.toSeq
      == Seq("k", "v"))
    s.sql("INSERT INTO gct.db.empty VALUES (9, 90)")
    assert(s.sql("SELECT sum(v) FROM gct.db.empty").head().getLong(0) == 90L)
    // SQL time travel: append v1, then read both cuts by identifier
    s.sql("INSERT INTO gct.db.t VALUES (4, 40)")
    assert(s.sql("SELECT sum(v) FROM gct.db.t").head().getLong(0) == 100L)
    assert(s.sql("SELECT sum(v) FROM gct.db.t VERSION AS OF 0")
      .head().getLong(0) == 60L)
    assert(s.sql("SELECT sum(v) FROM gct.db.t VERSION AS OF 1")
      .head().getLong(0) == 100L)
    // TIMESTAMP AS OF now() resolves to HEAD (commit mtimes are past)
    assert(s.sql("SELECT sum(v) FROM gct.db.t TIMESTAMP AS OF " +
      "current_timestamp()").head().getLong(0) == 100L)
    intercept[Exception] {
      s.sql("SELECT * FROM gct.db.t VERSION AS OF 7").collect()
    }
  }

  test("REPLACE TABLE AS SELECT + MERGE NOT MATCHED BY SOURCE " +
      "(round 12): replace = one more version on the append-only log; " +
      "the full three-clause merge plans over the same COW machinery") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import s.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_replace").toString
    s.conf.set("spark.sql.catalog.grt", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.grt.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS grt.db")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .createOrReplaceTempView("__rt_a")
    Seq((7L, 70L), (8L, 80L), (9L, 90L)).toDF("k", "v")
      .createOrReplaceTempView("__rt_b")
    s.sql("CREATE TABLE grt.db.t AS SELECT * FROM __rt_a")
    // REPLACE swaps the whole content as version 1; v0 stays readable
    s.sql("REPLACE TABLE grt.db.t AS SELECT * FROM __rt_b")
    assert(s.sql("SELECT sum(v) FROM grt.db.t").head().getLong(0) == 240L)
    assert(s.sql("SELECT sum(v) FROM grt.db.t VERSION AS OF 0")
      .head().getLong(0) == 30L)
    assert(sources.Io.tableVersion(s, s"$wh/db/t") == 1L)
    // REPLACE of a missing table refuses; CREATE OR REPLACE creates
    intercept[Exception] {
      s.sql("REPLACE TABLE grt.db.nope AS SELECT * FROM __rt_a")
    }
    s.sql("CREATE OR REPLACE TABLE grt.db.u AS SELECT * FROM __rt_a")
    assert(s.sql("SELECT count(*) FROM grt.db.u").head().getLong(0) == 2L)
    s.sql("CREATE OR REPLACE TABLE grt.db.u AS SELECT * FROM __rt_b")
    assert(s.sql("SELECT count(*) FROM grt.db.u").head().getLong(0) == 3L)
    // three-clause MERGE: matched update, not-matched insert, and
    // NOT MATCHED BY SOURCE delete (the group filter then scans all
    // groups — correctness over pruning, Spark plans it)
    Seq((8L, 800L), (12L, 120L)).toDF("k", "v")
      .createOrReplaceTempView("__rt_src")
    s.sql("""MERGE INTO grt.db.t AS tg USING __rt_src AS src
            |ON tg.k = src.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(s.sql("SELECT k, v FROM grt.db.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((8L, 800L), (12L, 120L)),
      "matched row updated, unmatched-by-source rows deleted, " +
        "new key inserted")
  }

  test("SQL UPDATE / MERGE INTO / COW DELETE (round 12): row-level " +
      "operations rewrite ONLY touched files (runtime group filter), " +
      "write through executor-side parquet, commit one OCC version") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import s.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_rowlevel").toString
    s.conf.set("spark.sql.catalog.grl", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.grl.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS grl.db")
    val t = s"$wh/db/t"
    // two appends → two data files (one part each)
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1)
      .createOrReplaceTempView("__rl_a")
    Seq((3L, 30L), (4L, 40L)).toDF("k", "v").coalesce(1)
      .createOrReplaceTempView("__rl_b")
    s.sql("CREATE TABLE grl.db.t AS SELECT * FROM __rl_a")
    s.sql("INSERT INTO grl.db.t SELECT * FROM __rl_b")
    val v1Files = sources.Io.commitEntries(s, t, 1L)
    assert(v1Files.size == 2)
    // UPDATE touches only the file holding k=4
    s.sql("UPDATE grl.db.t SET v = v + 5 WHERE k = 4")
    assert(s.sql("SELECT v FROM grl.db.t WHERE k = 4").head().getLong(0)
      == 45L)
    assert(s.sql("SELECT sum(v) FROM grl.db.t").head().getLong(0) == 105L)
    assert(sources.Io.tableVersion(s, t) == 2L, "UPDATE = one commit")
    val v2Files = sources.Io.commitEntries(s, t, 2L)
    assert(v2Files.size == 2)
    assert(v2Files.toSet.intersect(v1Files.toSet).size == 1,
      "the file without matches must carry BY REFERENCE — got " +
        s"v1=$v1Files v2=$v2Files")
    // history stays immutable
    assert(s.sql("SELECT sum(v) FROM grl.db.t VERSION AS OF 1")
      .head().getLong(0) == 100L)
    // MERGE INTO: matched UPDATE + not-matched INSERT
    Seq((1L, 100L), (9L, 90L)).toDF("k", "v")
      .createOrReplaceTempView("__rl_src")
    s.sql("""MERGE INTO grl.db.t USING __rl_src AS src ON t.k = src.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(s.sql("SELECT v FROM grl.db.t WHERE k = 1").head().getLong(0)
      == 100L)
    assert(s.sql("SELECT count(*) FROM grl.db.t").head().getLong(0) == 5L)
    val v3Files = sources.Io.commitEntries(s, t, 3L)
    assert(v3Files.toSet.intersect(v2Files.toSet).nonEmpty,
      "merge must carry untouched files by reference")
    // DELETE with an untranslatable predicate falls back to COW rewrite
    s.sql("DELETE FROM grl.db.t WHERE k % 2 = 1")
    assert(s.sql("SELECT collect_list(k) FROM " +
      "(SELECT k FROM grl.db.t ORDER BY k)").head()
      .getSeq[Long](0) == Seq(2L, 4L))
    // UPDATE on a version-pinned view refuses
    intercept[Exception] {
      s.sql("UPDATE grl.db.t VERSION AS OF 1 SET v = 0")
    }
    // _graft_file is selectable provenance
    val files = s.sql("SELECT DISTINCT _graft_file FROM grl.db.t")
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("data/")))
  }

  test("row-level DELETE on a DV-carrying table (round 12): the COW " +
      "rewrite scan is DV-filtered and the commit carries the sidecar " +
      "— deletes compose, nothing resurrects") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import s.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_rldv").toString
    val t = s"$wh/tbl"
    // v0: 20 rows; v1: DV-delete k=3 (merge-on-read, sidecar only)
    sources.Io.tableAppend(
      (1L to 20L).map(k => (k, k * 10L)).toDF("k", "v"), t)
    sources.Io.tableDeleteWhereDv(s,
      t, org.apache.spark.sql.functions.col("k") === 3L)
    assert(new java.io.File(s"$t/_commits/00000001.dv").exists())
    assert(sources.Io.readTableVersion(s, t, 1L).count() == 19)
    // catalog DELETE with an untranslatable predicate → COW rewrite
    s.conf.set("spark.sql.catalog.grldv", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.grldv.warehouse", wh)
    s.sql("DELETE FROM grldv.tbl WHERE k % 2 = 0")
    assert(sources.Io.tableVersion(s, t) == 2L)
    val left = s.sql("SELECT k FROM grldv.tbl ORDER BY k").collect()
      .map(_.getLong(0)).toSeq
    assert(left == Seq(1L, 5L, 7L, 9L, 11L, 13L, 15L, 17L, 19L),
      s"odd keys minus the DV-deleted 3 — got $left")
    // the rewrite must not resurrect k=3 (it was only ever DV-deleted)
    assert(!left.contains(3L))
    // history: v1 still merge-on-read correct
    assert(sources.Io.readTableVersion(s, t, 1L).count() == 19)
  }

  test("DSv2 write path (round 12): mode(append) commits through OCC " +
      "exactly once, racing writers serialize, overwrite = a replace " +
      "commit with history intact, pinned views refuse") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val t = java.nio.file.Files
      .createTempDirectory("graft_dsv2_write").toString + "/table"
    sources.Io.tableAppend(Seq(0L).toDF("k"), t) // v0 (creation is API)
    // a connector append is ONE commit with exactly the written rows
    (1L to 10L).toDF("k").write.format("graft").mode("append").save(t)
    assert(sources.Io.tableVersion(s, t) == 1L)
    assert(s.read.format("graft").load(t).count() == 11)
    // racing writers: 8 concurrent appends all land, versions 2..9,
    // no lost updates (the I23 discipline through the V1Write path)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val futs = (1 to 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit =
          Seq(100L + i).toDF("k").write.format("graft")
            .mode("append").save(t)
      })
    }
    futs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(sources.Io.tableVersion(s, t) == 9L)
    val all = s.read.format("graft").load(t)
    assert(all.count() == 19)
    assert(all.filter(col("k") > 100).count() == 8)
    // overwrite (round 12 s3) = a REPLACE COMMIT: the next version
    // lists only the fresh batch, every prior cut stays readable
    Seq(1000L).toDF("k").write.format("graft").mode("overwrite").save(t)
    assert(sources.Io.tableVersion(s, t) == 10L)
    assert(s.read.format("graft").load(t).count() == 1)
    assert(s.read.format("graft").option("versionAsOf", "9").load(t)
      .count() == 19, "the pre-overwrite cut must keep serving")
    // roll the overwrite back (RESTORE is a commit too) so the DV
    // rows below continue from the 19-row state
    sources.Io.tableRestore(s, t, 9L) // v11
    // a pinned view refuses appends (HEAD-only, like DELETE)
    val pin = intercept[Exception] {
      Seq(1L).toDF("k").write.format("graft")
        .option("versionAsOf", "1").mode("append").save(t)
    }
    assert(pin.getMessage.contains("HEAD"), s"unexpected: ${pin.getMessage}")
    // appends through the connector carry DV sidecars like any flavor
    sources.Io.tableDeleteWhereDv(s, t, col("k") === 5) // v12
    Seq(200L).toDF("k").write.format("graft").mode("append").save(t) // v13
    val afterDv = s.read.format("graft").load(t)
    assert(afterDv.count() == 19 && afterDv.filter(col("k") === 5).count() == 0,
      "connector append must not resurrect DV-deleted rows")
    // txnVersion (exactly-once sink): redelivery no-ops, gaps refuse
    val t2 = java.nio.file.Files
      .createTempDirectory("graft_dsv2_txn").toString + "/table"
    sources.Io.tableAppend(Seq(0L).toDF("k"), t2) // v0
    def txnWrite(b: Long, k: Long): Unit =
      Seq(k).toDF("k").write.format("graft")
        .option("txnVersion", b).mode("append").save(t2)
    txnWrite(1L, 10L)
    txnWrite(1L, 10L) // redelivered — must not commit again
    assert(sources.Io.tableVersion(s, t2) == 1L)
    assert(s.read.format("graft").load(t2).count() == 2)
    val gap = intercept[Exception] { txnWrite(5L, 50L) }
    assert(gap.getMessage.contains("delivered before"),
      s"unexpected: ${gap.getMessage}")
  }

  test("round-13 ALTER TABLE ADD COLUMN: sidecar evolves, null " +
      "backfill at HEAD, pinned versions keep their era's schema, " +
      "non-add changes refuse") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val wh = java.nio.file.Files
      .createTempDirectory("graft_alter").toString
    s.conf.set("spark.sql.catalog.galter", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.galter.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS galter.db")
    s.sql("CREATE TABLE galter.db.a AS SELECT CAST(1 AS BIGINT) AS k")
    s.sql("ALTER TABLE galter.db.a ADD COLUMN v BIGINT")
    s.sql("INSERT INTO galter.db.a VALUES (CAST(2 AS BIGINT), " +
      "CAST(20 AS BIGINT))")
    val rows = s.sql("SELECT k, v FROM galter.db.a ORDER BY k").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).isNullAt(1),
      "pre-evolution row must null-backfill the added column")
    assert(rows(1).getLong(0) == 2L && rows(1).getLong(1) == 20L)
    // a pinned pre-evolution version keeps its own era's schema
    val v0 = s.sql("SELECT * FROM galter.db.a VERSION AS OF 0")
    assert(v0.columns.toSeq == Seq("k"),
      s"v0 must not grow phantom columns, got ${v0.columns.mkString(",")}")
    // non-add changes refuse; added columns must be nullable
    intercept[Exception] {
      s.sql("ALTER TABLE galter.db.a DROP COLUMN v")
    }
    intercept[Exception] {
      s.sql("ALTER TABLE galter.db.a ALTER COLUMN k TYPE INT")
    }
    intercept[Exception] {
      s.sql("ALTER TABLE galter.db.a ADD COLUMN w BIGINT NOT NULL")
    }
    // the add survives a fresh loadTable (sidecar, not session state)
    assert(s.sql("SELECT count(v) FROM galter.db.a").head().getLong(0) == 1)
  }

  test("round-13 DSv2 streaming source: appends stream exactly once " +
      "(mid-stream append served by its own batch); non-append " +
      "commits refuse; DV tables refuse") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_src").toString
    val t = s"$base/table"
    sources.Io.tableAppend((1L to 10L).toDF("k"), t) // v0
    val q = s.readStream.format("graft").load(t)
      .writeStream.queryName("gsrc_rows").outputMode("append")
      .format("memory")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    q.processAllAvailable()
    assert(s.table("gsrc_rows").count() == 10)
    sources.Io.tableAppend((11L to 15L).toDF("k"), t) // v1 mid-stream
    q.processAllAvailable()
    assert(s.table("gsrc_rows").count() == 15,
      "the mid-stream append must arrive exactly once")
    assert(s.table("gsrc_rows").agg(sum("k")).head().getLong(0) ==
      (1L to 15L).sum)
    // a non-append commit (COW delete) poisons the next batch range —
    // processAllAvailable rethrows the query's failure
    sources.Io.tableDeleteWhere(s, t, col("k") <= 3) // v2 removes files
    sources.Io.tableAppend(Seq(100L).toDF("k"), t)   // v3
    try q.processAllAvailable() catch { case _: Throwable => () }
    def msgs(e: Throwable): String =
      if (e == null) "" else e.getMessage + " | " + msgs(e.getCause)
    assert(q.exception.isDefined &&
      msgs(q.exception.get).contains("non-append"),
      s"expected a non-append refusal, got ${q.exception}")
    // DV-carrying tables refuse at stream construction (one file so
    // the 1-of-10 delete stays under the COW threshold and actually
    // leaves a DV — the session's parallelism must not decide that)
    val t2 = s"$base/table2"
    sources.Io.tableAppend((1L to 10L).toDF("k").coalesce(1), t2)
    sources.Io.tableDeleteWhereDv(s, t2, col("k") === 5)
    assert(sources.Io.dvDirsOf(s, t2, 1L).nonEmpty)
    val dvq = intercept[Exception] {
      s.readStream.format("graft").load(t2)
        .writeStream.format("memory").queryName("gsrc_dv")
        .option("checkpointLocation", s"$base/ckpt2").start()
        .processAllAvailable()
    }
    assert(dvq.getMessage != null)
  }

  test("round-13 MERGE-ON-READ DML (SupportsDelta): UPDATE/DELETE/MERGE " +
      "write DV entries + fresh rows, never rewrite a data file; " +
      "re-updating an updated key works") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val wh = java.nio.file.Files
      .createTempDirectory("graft_mor").toString
    s.conf.set("spark.sql.catalog.gmor", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.gmor.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gmor.db")
    // 50-row files so single-row mutations stay under the DV
    // COW-fallback threshold (a 5-row file would COW at 20%)
    s.sql("CREATE TABLE gmor.db.t AS SELECT id AS k, id * 10 AS v " +
      "FROM range(1, 201)")
    val t = s"$wh/db/t"
    val v0 = sources.Io.commitEntries(s, t, 0L).toSet
    s.conf.set("graft.dml.mode", "mor")
    try {
      // (1) MOR UPDATE: one DV entry + one fresh row, all files carried
      s.sql("UPDATE gmor.db.t SET v = 333 WHERE k = 3")
      val v1 = sources.Io.commitEntries(s, t, 1L).toSet
      assert(v0.subsetOf(v1), "MOR UPDATE must carry every prior file")
      assert((v1 -- v0).size == 1, "exactly one fresh insert file")
      assert(sources.Io.dvDirsOf(s, t, 1L).nonEmpty, "DV sidecar at v1")
      assert(s.sql("SELECT v FROM gmor.db.t WHERE k = 3")
        .head().getLong(0) == 333L)
      assert(s.sql("SELECT count(*) FROM gmor.db.t").head().getLong(0)
        == 200L)
      // history: v0 still serves the original value
      assert(s.sql("SELECT v FROM gmor.db.t VERSION AS OF 0 WHERE k = 3")
        .head().getLong(0) == 30L)
      // (2) RE-UPDATE of the already-updated key — the second update
      // DV-deletes the FIRST update's fresh row by its own (file, pos)
      // (the retired key-based model killed both copies here)
      s.sql("UPDATE gmor.db.t SET v = 444 WHERE k = 3")
      assert(s.sql("SELECT v FROM gmor.db.t WHERE k = 3")
        .head().getLong(0) == 444L)
      assert(s.sql("SELECT count(*) FROM gmor.db.t WHERE k = 3")
        .head().getLong(0) == 1L, "exactly one live copy after re-update")
      assert(sources.Io.commitEntries(s, t, 1L).toSet
        .subsetOf(sources.Io.commitEntries(s, t, 2L).toSet))
      // (3) MOR DELETE through the metadata path: DV entries only
      s.sql("DELETE FROM gmor.db.t WHERE k = 5")
      assert(sources.Io.commitEntries(s, t, 3L).toSet ==
        sources.Io.commitEntries(s, t, 2L).toSet,
        "a MOR DELETE must not touch the file list")
      assert(s.sql("SELECT count(*) FROM gmor.db.t").head().getLong(0)
        == 199L)
      // (4) MOR MERGE: matched rows update (delete+insert), unmatched
      // insert; still zero rewrites
      s.sql("CREATE OR REPLACE TEMPORARY VIEW __mor_src AS " +
        "SELECT id AS k, id * 100 AS v FROM range(190, 211)")
      s.sql(
        """MERGE INTO gmor.db.t AS tg USING __mor_src AS src
          |ON tg.k = src.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val vLast = sources.Io.tableVersion(s, t)
      assert(sources.Io.commitEntries(s, t, vLast - 1).toSet
        .subsetOf(sources.Io.commitEntries(s, t, vLast).toSet),
        "MOR MERGE must carry every prior file")
      assert(s.sql("SELECT v FROM gmor.db.t WHERE k = 195")
        .head().getLong(0) == 19500L)
      assert(s.sql("SELECT v FROM gmor.db.t WHERE k = 205")
        .head().getLong(0) == 20500L)
      assert(s.sql("SELECT count(*) FROM gmor.db.t").head().getLong(0)
        == 209L) // 200 - k5 + inserts 201..210
      // OPTIMIZE folds the accumulated DV state into clean files
      sources.Io.optimizeTableDv(s, t)
      assert(sources.Io.dvDirsOf(s, t,
        sources.Io.tableVersion(s, t)).isEmpty)
      assert(s.sql("SELECT count(*) FROM gmor.db.t").head().getLong(0)
        == 209L)
      assert(s.sql("SELECT v FROM gmor.db.t WHERE k = 3")
        .head().getLong(0) == 444L)
    } finally s.conf.unset("graft.dml.mode")
  }

  test("round-13 streaming source rate control: maxVersionsPerTrigger " +
      "bounds each micro-batch to N commit versions") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_rate").toString
    val t = s"$base/table"
    sources.Io.tableAppend((1L to 5L).toDF("k"), t)   // v0
    sources.Io.tableAppend((6L to 10L).toDF("k"), t)  // v1
    sources.Io.tableAppend((11L to 15L).toDF("k"), t) // v2
    val q = s.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1").load(t)
      .writeStream.queryName("gsrc_rate").outputMode("append")
      .format("memory")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    q.processAllAvailable()
    assert(s.table("gsrc_rate").count() == 15)
    // catching up on 3 versions under a 1-version cap takes >= 3
    // non-empty batches (one giant first batch would be exactly 1)
    val fed = q.recentProgress.count(_.numInputRows > 0)
    assert(fed >= 3, s"expected >=3 rate-limited batches, got $fed")
    q.stop()
    // startingVersion skips history: a v2-start stream sees only v2
    val q2 = s.readStream.format("graft")
      .option("startingVersion", "2").load(t)
      .writeStream.queryName("gsrc_sv").outputMode("append")
      .format("memory")
      .option("checkpointLocation", s"$base/ckpt_sv")
      .start()
    q2.processAllAvailable(); q2.stop()
    assert(s.table("gsrc_sv").agg(min("k"), max("k"), count(lit(1)))
      .head().toSeq == Seq(11L, 15L, 5L))
    // startingTimestamp: a cut at the last commit's mtime serves
    // nothing until a NEWER append lands
    val cut = System.currentTimeMillis()
    val q3 = s.readStream.format("graft")
      .option("startingTimestamp", cut.toString).load(t)
      .writeStream.queryName("gsrc_st").outputMode("append")
      .format("memory")
      .option("checkpointLocation", s"$base/ckpt_st")
      .start()
    q3.processAllAvailable()
    assert(s.table("gsrc_st").count() == 0,
      "a now-cut stream must start empty")
    Thread.sleep(1100) // commit mtimes are second-ish granular
    sources.Io.tableAppend((16L to 18L).toDF("k"), t) // v3
    q3.processAllAvailable(); q3.stop()
    assert(s.table("gsrc_st").agg(min("k"), max("k"), count(lit(1)))
      .head().toSeq == Seq(16L, 18L, 3L),
      "only the post-cut append streams")
    // Trigger.AvailableNow (the backfill pattern): drain everything
    // committed so far under the rate cap, then TERMINATE on its own
    val q4 = s.readStream.format("graft")
      .option("maxVersionsPerTrigger", "2").load(t)
      .writeStream.queryName("gsrc_now").outputMode("append")
      .format("memory")
      .option("checkpointLocation", s"$base/ckpt_now")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q4.awaitTermination(120000),
      "an AvailableNow stream must terminate after draining")
    assert(s.table("gsrc_now").count() == 18,
      "AvailableNow must drain every committed version exactly once")
  }

  test("round-14 streaming source withSnapshot: a DV table's initial " +
      "snapshot serves MOR-filtered as batch 0, appends tail exactly " +
      "once, a post-start DV change refuses, default still refuses") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_snap_src").toString
    val t = s"$base/table"
    sources.Io.tableAppend((1L to 10L).toDF("k").coalesce(1), t) // v0
    sources.Io.tableDeleteWhereDv(s, t, col("k") === 5)          // v1 DV
    assert(sources.Io.dvDirsOf(s, t, 1L).nonEmpty)
    // default (no option): DV tables refuse at stream construction
    val refuse = intercept[Exception] {
      s.readStream.format("graft").load(t)
        .writeStream.format("memory").queryName("snap_refuse")
        .option("checkpointLocation", s"$base/ckpt0").start()
        .processAllAvailable()
    }
    assert(refuse.getMessage != null)
    // withSnapshot: batch 0 = the MOR cut (9 rows, k=5 absent)
    val q = s.readStream.format("graft")
      .option("withSnapshot", "true").load(t)
      .writeStream.queryName("snap_rows").outputMode("append")
      .format("memory")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    q.processAllAvailable()
    assert(s.table("snap_rows").count() == 9)
    assert(s.table("snap_rows").filter(col("k") === 5).count() == 0,
      "the DV-deleted row must never enter the stream")
    // a mid-stream append tails exactly once
    sources.Io.tableAppend((11L to 13L).toDF("k"), t) // v2
    q.processAllAvailable()
    assert(s.table("snap_rows").agg(count(lit(1)), sum("k"))
      .head().toSeq == Seq(12L, (1L to 13L).sum - 5L))
    // a post-start DV change refuses loudly
    sources.Io.tableDeleteWhereDv(s, t, col("k") === 7) // v3: new DV
    sources.Io.tableAppend(Seq(100L).toDF("k"), t)      // v4
    try q.processAllAvailable() catch { case _: Throwable => () }
    def msgs(e: Throwable): String =
      if (e == null) "" else e.getMessage + " | " + msgs(e.getCause)
    assert(q.exception.isDefined &&
      msgs(q.exception.get).contains("deletion vectors changed"),
      s"expected a DV-change refusal, got ${q.exception}")
  }

  test("round-14 streaming CDF source: typed change rows per " +
      "transition, appends tail exactly once, COW rewrites refuse " +
      "mid-stream, batch reads and pinned views refuse") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_cdf_src").toString
    val t = s"$base/table"
    sources.Io.tableAppend((1L to 10L).toDF("k").coalesce(1), t) // v0
    sources.Io.tableDeleteWhereDv(s, t, col("k") === 5)          // v1 DV
    assert(sources.Io.dvDirsOf(s, t, 1L).nonEmpty)
    val q = s.readStream.format("graft")
      .option("readChangeFeed", "true").load(t)
      .writeStream.queryName("cdf_rows").outputMode("append")
      .format("memory")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    q.processAllAvailable()
    val b0 = s.table("cdf_rows")
    assert(b0.filter(col("_change_type") === "insert").count() == 10)
    assert(b0.filter(col("_change_type") === "insert")
      .agg(max("_commit_version")).head().getLong(0) == 0L)
    // the DELETED ROW ITSELF feeds, typed and version-stamped
    assert(b0.filter(col("_change_type") === "delete")
      .select("k", "_commit_version").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1))) == Seq((5L, 1L)))
    // a mid-stream append tails exactly once
    sources.Io.tableAppend((11L to 12L).toDF("k"), t) // v2
    q.processAllAvailable()
    assert(s.table("cdf_rows")
      .filter(col("_commit_version") === 2L)
      .agg(count(lit(1)), sum("k")).head().toSeq == Seq(2L, 23L))
    // a rewrite commit (file removal — OPTIMIZE materializing the DVs)
    // refuses loudly mid-stream
    sources.Io.optimizeTableDv(s, t) // v3: rewrites the DV-carrying file
    try q.processAllAvailable() catch { case _: Throwable => () }
    def msgs(e: Throwable): String =
      if (e == null) "" else e.getMessage + " | " + msgs(e.getCause)
    assert(q.exception.isDefined &&
      msgs(q.exception.get).contains("removed files"),
      s"expected a COW refusal, got ${q.exception}")
    // batch reads refuse (the batch feed is Io.changeFeed)
    val batch = intercept[Exception] {
      s.read.format("graft").option("readChangeFeed", "true")
        .load(t).count()
    }
    assert(msgs(batch).contains("STREAMING option"), msgs(batch))
    // pinned views refuse at resolution
    val pinned = intercept[Exception] {
      s.readStream.format("graft").option("readChangeFeed", "true")
        .option("versionAsOf", "0").load(t)
    }
    assert(msgs(pinned).contains("readChangeFeed"), msgs(pinned))
  }

  test("round-14 streaming CDF source inherits the rate/cut controls: " +
      "maxVersionsPerTrigger bounds catch-up, startingVersion cuts " +
      "the feed") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_cdf_rate").toString
    val t = s"$base/table"
    sources.Io.tableAppend((1L to 5L).toDF("k"), t)   // v0
    sources.Io.tableAppend((6L to 10L).toDF("k"), t)  // v1
    sources.Io.tableAppend((11L to 15L).toDF("k"), t) // v2
    val q = s.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load(t)
      .writeStream.queryName("gcdf_rate").outputMode("append")
      .format("memory")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    q.processAllAvailable()
    assert(s.table("gcdf_rate").count() == 15)
    assert(s.table("gcdf_rate")
      .filter(col("_change_type") === "insert").count() == 15)
    val fed = q.recentProgress.count(_.numInputRows > 0)
    assert(fed >= 3, s"expected >=3 rate-limited CDF batches, got $fed")
    q.stop()
    // startingVersion cuts the change history like the plain source
    val q2 = s.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").load(t)
      .writeStream.queryName("gcdf_sv").outputMode("append")
      .format("memory")
      .option("checkpointLocation", s"$base/ckpt_sv")
      .start()
    q2.processAllAvailable(); q2.stop()
    assert(s.table("gcdf_sv")
      .agg(min("k"), max("k"), count(lit(1)), max("_commit_version"))
      .head().toSeq == Seq(11L, 15L, 5L, 2L))
  }

  test("round-14 graft.clusterBy property: OPTIMIZE routes through " +
      "the z-order re-cluster, band pruning holds on both columns") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_cluster_spec").toString
    val t = s"$base/table"
    // two uniform dimensions, scrambled across 4 files
    val df = (0L until 4000L)
      .map(i => (i, (i * 2654435761L) % 4000L)).toDF("k1", "k2")
      .repartition(4)
    sources.Io.tableAppendStats(df, t, "k1", "k2") // v0
    sources.Io.tableSetProperties(s, t,
      Seq("graft.clusterBy" -> "k1, k2")) // v1
    val v = sources.Io.tableOptimize(s, t, 4) // routes through zorder
    assert(v == 2L)
    // files the connector's scan plans (Dataset.inputFiles only
    // sees file tables, not the graft connector)
    def keep(c: String, lo: Long, hi: Long): Long =
      sources.Io.readTableVersionSkipping(s, t, 2L, c, lo, hi)
        .queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.relation.table.properties().get("graft.numFiles").toLong
        }.sum
    // bands with rank margin inside a half/quarter: both must prune
    assert(keep("k1", 1000L, 1800L) < 4, "clusterBy must prune k1 bands")
    assert(keep("k2", 1000L, 1800L) < 4, "clusterBy must prune k2 bands")
    // content identical through the re-cluster
    assert(sources.Io.readTableVersion(s, t, 2L)
      .agg(count(lit(1)), sum("k1"), sum("k2")).head().toSeq ==
      Seq(4000L, 7998000L, df.agg(sum("k2")).head().getLong(0)))
  }

  test("round-15 OPTIMIZE ZORDER layout is a pure function of the data: " +
      "identical tables re-cluster to identical per-file stats under " +
      "different session histories") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_zrepro_spec").toString
    val df = (0L until 4000L)
      .map(i => (i, (i * 2654435761L) % 4000L)).toDF("k1", "k2")
      .repartition(4)
    def statsOf(t: String): Seq[(String, Long, Long)] = {
      sources.Io.tableAppendStats(df, t, "k1", "k2")
      sources.Io.tableSetProperties(s, t, Seq("graft.clusterBy" -> "k1, k2"))
      assert(sources.Io.tableOptimize(s, t, 4) == 2L)
      // compare the layout itself (the multiset of per-file band
      // bounds), not file names: if two runs disagree here, pruning
      // quality is run-dependent — the round-14 flake
      sources.Io.readStatsFile(s, t, 2L).toSeq
        .map { case ((_, c), (mn, mx)) => (c, mn, mx) }.sorted
    }
    val a = statsOf(s"$base/ta")
    // perturb session history between the two runs: RDD ids, shuffle
    // ids and cached-plan state all advance — the inputs
    // repartitionByRange's sampler used to draw its seed from
    (1 to 3).foreach { i =>
      s.range(1000L * i).repartition(3).selectExpr("sum(id)").collect()
    }
    val b = statsOf(s"$base/tb")
    assert(a == b, s"z-order layout must not depend on session history:\n$a\nvs\n$b")
    // and the band layout must actually prune on both dimensions
    def keep(t: String, c: String): Long =
      sources.Io.readTableVersionSkipping(s, t, 2L, c, 1000L, 1800L)
        .queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.relation.table.properties().get("graft.numFiles").toLong
        }.sum
    for (t <- Seq(s"$base/ta", s"$base/tb"); c <- Seq("k1", "k2"))
      assert(keep(t, c) < 4, s"clusterBy must prune $c bands at $t")
  }

  test("round-14 identity columns: racing OCC appends never " +
      "double-allocate (high-water CAS in the claim window), explicit " +
      "values pass through, drop re-opens the column") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_ident_spec").toString
    val t = s"$base/table"
    sources.Io.tableAppend(
      (1L to 10L).map(k => (k, s"seed$k")).toDF("rid", "payload"), t)
    sources.Io.tableAddIdentityColumn(s, t, "rid")
    // two racing OCC appends, neither carrying rid — the loser's CAS
    // conflict must re-land against the fresh high water
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map { w =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = sources.Io.tableAppendOcc(
            (1L to 500L).map(k => s"w$w-$k").toDF("payload"), t,
            writer = s"w$w")
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    val cut = sources.Io.readTableVersion(s, t,
      sources.Io.tableVersion(s, t))
    assert(cut.count() == 1010L)
    assert(cut.agg(countDistinct(col("rid"))).head().getLong(0) == 1010L,
      "racing appends must never share an id")
    assert(cut.filter(col("rid").isNull).count() == 0)
    // explicit values pass through (BY DEFAULT semantics)
    sources.Io.tableAppend(
      Seq((999999L, "explicit")).toDF("rid", "payload"), t)
    assert(sources.Io.readTableVersion(s, t,
        sources.Io.tableVersion(s, t))
      .filter(col("payload") === "explicit")
      .head().getAs[Long]("rid") == 999999L)
    // drop: the column stays as plain data, appends stop assigning
    sources.Io.tableDropIdentityColumn(s, t, "rid")
    assert(sources.Io.readIdentity(s, t).isEmpty)
  }

  test("round-14 TBLPROPERTIES: SET/UNSET land as commits, DESCRIBE " +
      "EXTENDED serves them, clones carry them, graft.* facts stay " +
      "authoritative") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_props_spec").toString
    s.conf.set("spark.sql.catalog.graftpp", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftpp.warehouse", s"$base/wh")
    val t = s"$base/wh/g/ev"
    sources.Io.tableAppend(Seq((1L, "a")).toDF("k", "g"), t) // v0
    s.sql("ALTER TABLE graftpp.g.ev SET TBLPROPERTIES " +
      "('pipeline.owner' = 'data-eng', 'retention.days' = '30')")
    assert(sources.Io.tableVersion(s, t) == 1L) // a claim-serialized commit
    def props(): Map[String, String] = {
      val rows = s.sql("DESCRIBE TABLE EXTENDED graftpp.g.ev").collect()
      val line = rows.find(_.getString(0) == "Table Properties")
        .map(_.getString(1)).getOrElse("")
      line.stripPrefix("[").stripSuffix("]").split(",")
        .map(_.trim.split("=", 2)).collect {
          case Array(k, v) => k -> v
        }.toMap
    }
    assert(props().get("pipeline.owner").contains("data-eng"))
    assert(props().get("retention.days").contains("30"))
    // a shadowing user key cannot override the commit-log facts
    s.sql("ALTER TABLE graftpp.g.ev SET TBLPROPERTIES " +
      "('graft.version' = '999')")
    assert(props().get("graft.version").contains("2"))
    s.sql("ALTER TABLE graftpp.g.ev UNSET TBLPROPERTIES ('pipeline.owner')")
    assert(!props().contains("pipeline.owner"))
    assert(props().get("retention.days").contains("30"))
    // clones carry the properties (the Delta clone contract)
    sources.Io.tableClone(s, t, s"$base/wh/g/ev2")
    assert(sources.Io.readTableProps(s, s"$base/wh/g/ev2")
      .toMap.get("retention.days").contains("30"))
  }

  test("round-14 replaceWhere: writeTo(...).overwrite(cond) replaces " +
      "exactly the region in one commit, a violating batch refuses " +
      "with HEAD unmoved, and NULL-predicate rows survive COW deletes") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_rw_spec").toString
    s.conf.set("spark.sql.catalog.graftrw", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graftrw.warehouse", s"$base/wh")
    val t = s"$base/wh/g/ev"
    sources.Io.tableAppend(
      Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")).toDF("k", "g")
        .repartition(2, col("g")), t) // v0
    // region replace through the DSv2 overwrite-by-filter surface
    Seq((30L, "b"), (40L, "b")).toDF("k", "g")
      .writeTo("graftrw.g.ev").overwrite(col("g") === "b")
    assert(sources.Io.tableVersion(s, t) == 1L)
    assert(s.table("graftrw.g.ev").orderBy("k").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))) ==
      Seq((1L, "a"), (2L, "a"), (30L, "b"), (40L, "b")))
    // a batch holding rows OUTSIDE the region refuses atomically
    intercept[Throwable] {
      Seq((5L, "a")).toDF("k", "g")
        .writeTo("graftrw.g.ev").overwrite(col("g") === "b")
    }
    assert(sources.Io.tableVersion(s, t) == 1L)
    // SQL DELETE semantics: rows where the predicate is NULL are NOT
    // deleted — they must SURVIVE the COW rewrite
    val t2 = s"$base/t2"
    sources.Io.tableAppend(
      Seq(Some(1L), None, Some(10L)).toDF("v").coalesce(1), t2)
    sources.Io.tableDeleteWhere(s, t2, col("v") > 5)
    assert(sources.Io.readTableVersion(s, t2, 1L)
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
      .sorted.toSeq == Seq(-1L, 1L))
  }

  test("round-14 ALTER serializes through the OCC protocol: a schema " +
      "change is a claim-serialized commit; a stale-base change " +
      "conflicts loudly; sequential ALTERs compose") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val wh = java.nio.file.Files
      .createTempDirectory("graft_alter_occ").toString
    s.conf.set("spark.sql.catalog.gaocc", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.gaocc.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gaocc.db")
    s.sql("CREATE TABLE gaocc.db.t AS SELECT CAST(1 AS BIGINT) AS k")
    val t = s"$wh/db/t"
    val v0 = sources.Io.tableVersion(s, t)
    assert(v0 == 0L)
    // ALTER lands as a version: HEAD advances, file list unchanged
    s.sql("ALTER TABLE gaocc.db.t ADD COLUMN a BIGINT")
    assert(sources.Io.tableVersion(s, t) == 1L,
      "ALTER must land as a claim-serialized commit")
    assert(sources.Io.commitEntries(s, t, 1L) ==
      sources.Io.commitEntries(s, t, 0L),
      "a schema-change commit carries the same file list")
    // two schema changes computed against the SAME base version: the
    // second claim must conflict loudly (the racing-ALTER shape, made
    // deterministic by replaying the stale base)
    val base = sources.Io.tableVersion(s, t)
    val sch = sources.GraftTables.readSchemaSidecar(s, t).get
    sources.Io.commitSchemaChange(s, t, base, sch.add("b",
      org.apache.spark.sql.types.LongType, nullable = true))
    intercept[sources.Io.CommitConflictException] {
      sources.Io.commitSchemaChange(s, t, base, sch.add("c",
        org.apache.spark.sql.types.LongType, nullable = true))
    }
    // the winner's column is the one that landed; the loser's never
    // interleaved into the sidecar
    val after = sources.GraftTables.readSchemaSidecar(s, t).get
    assert(after.fieldNames.contains("b") && !after.fieldNames.contains("c"))
    // sequential ALTERs (each reading fresh state) compose fine
    s.sql("ALTER TABLE gaocc.db.t ADD COLUMN d BIGINT")
    assert(sources.GraftTables.readSchemaSidecar(s, t).get
      .fieldNames.toSeq.containsSlice(Seq("b", "d")))
    // and the evolved table still reads: old rows null-backfill
    val row = s.sql("SELECT k, a, b, d FROM gaocc.db.t").head()
    assert(row.getLong(0) == 1L && row.isNullAt(1) && row.isNullAt(2) &&
      row.isNullAt(3))
  }

  test("round-14 direct DSv2 streaming sink: writeStream.format(graft) " +
      "commits one version per epoch; sink -> source round-trip; " +
      "Complete mode refuses") {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_dsink_spec").toString
    val landing = s"$base/landing"
    val t = s"$base/table"
    (1L to 10L).toDF("k").coalesce(1)
      .write.mode("append").parquet(landing)
    (11L to 20L).toDF("k").coalesce(1)
      .write.mode("append").parquet(landing)
    sources.Io.tableCreate(s, t, s.read.parquet(landing).schema)
    val q = s.readStream.schema(s.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
      .writeStream.format("graft")
      .option("checkpointLocation", s"$base/ckpt")
      .start(t)
    q.processAllAvailable(); q.stop()
    // one version per epoch (2 landing files → epochs 0 and 1)
    assert(sources.Io.tableVersion(s, t) == 1L,
      s"expected v1 after 2 epochs, got v${sources.Io.tableVersion(s, t)}")
    assert(sources.Io.readTableVersion(s, t, 0L).count() == 10)
    assert(sources.Io.readTableVersion(s, t, 1L).count() == 20)
    // sink → source round-trip: the round-13 streaming SOURCE tails
    // the table the round-14 direct sink wrote
    val q2 = s.readStream.format("graft").load(t)
      .writeStream.queryName("dsink_rt").outputMode("append")
      .format("memory")
      .option("checkpointLocation", s"$base/ckpt_rt")
      .start()
    q2.processAllAvailable()
    assert(s.table("dsink_rt").agg(count(lit(1)), sum("k"))
      .head().toSeq == Seq(20L, (1L to 20L).sum))
    // a mid-stream DIRECT-SINK epoch is served exactly once by the tail
    (21L to 25L).toDF("k").coalesce(1)
      .write.mode("append").parquet(landing)
    val q3 = s.readStream.schema(s.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
      .writeStream.format("graft")
      .option("checkpointLocation", s"$base/ckpt") // same checkpoint
      .start(t)
    q3.processAllAvailable(); q3.stop()
    assert(sources.Io.tableVersion(s, t) == 2L,
      "the resumed sink must commit exactly the new epoch")
    q2.processAllAvailable(); q2.stop()
    assert(s.table("dsink_rt").agg(count(lit(1)), sum("k"))
      .head().toSeq == Seq(25L, (1L to 25L).sum))
    // Complete mode refuses (no insert-only representation) — against
    // the committed table so OUR toStreaming require is what fires,
    // not a capability check on an empty table
    val agg = s.readStream.schema(s.read.parquet(landing).schema)
      .parquet(landing).select(col("k")).groupBy().count()
    val err = intercept[Exception] {
      agg.withColumnRenamed("count", "k")
        .writeStream.format("graft").outputMode("complete")
        .option("checkpointLocation", s"$base/ckpt_c")
        .start(t)
        .processAllAvailable()
    }
    assert(err.getMessage != null)
  }

  private val events = "/root/testdata/sf0.001"

  /** How often the parameterised-literal strategy sits in a session's
    * planner. */
  private def paramStrategies(s: SparkSession): Int =
    s.sessionState.planner.strategies.count(_ == graft.plans.ParamPlans.Strategy)

  /** Whether a filter's literal reaches the executed plan parameterised. */
  private def parameterises(s: SparkSession): Boolean = {
    import org.apache.spark.sql.functions.col
    val df = s.range(10).filter(col("id") > 3)
    assert(df.count() == 6L)
    df.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition
    }.exists(_.exists(_.isInstanceOf[graft.plans.ParamLiteral]))
  }

  test("a GraftExtensions session plans with parameterised literals") {
    val base = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      assert(paramStrategies(s) == 1)
      assert(parameterises(s))
      // an entry point's install sees the injected strategy
      graft.plans.ParamPlans.install(s)
      assert(paramStrategies(s) == 1)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("a plain session gets parameterised literals on its first TagIndex.forEvents") {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate().newSession()
    assert(paramStrategies(s) == 0)
    assert(!parameterises(s))
    graft.index.TagIndex.forEvents(s, events)
    assert(paramStrategies(s) == 1)
    assert(parameterises(s))
  }

  test("ParamPlans.install is idempotent; a new session installs on first use") {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate().newSession()
    (1 to 3).foreach(_ => graft.plans.ParamPlans.install(s))
    graft.index.TagIndex.forEvents(s, events)
    assert(paramStrategies(s) == 1)
    val fresh = s.newSession()
    assert(paramStrategies(fresh) == 0)
    val store = java.nio.file.Files.createTempDirectory("graft_param").toString + "/idx"
    graft.index.IndexStore.load(fresh, store)
    assert(paramStrategies(fresh) == 1)
  }
}
