package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** Pure-SQL drivability of the index surface — the Spark analog of the
  * reference exposing its index to any client through the prom adapter
  * and SWIG wrapper (/root/reference/include/tagtree/swig/wrapper.h:1,
  * /root/reference/src/swig/tagtree.i): a SQL analyst with no Scala can
  * resolve matchers, list label values, and run the full select() path
  * from `spark.sql(...)` alone, via table-valued functions:
  *
  *  - `graft_match(dir, selector)`            → matching series rows
  *  - `graft_select(dir, selector, t0, t1)`   → samples in [t0, t1]
  *  - `graft_label_values(dir, name [, selector])` → distinct values
  *  - `graft_label_names(dir [, selector])`   → label-name universe,
  *    or the names defined on ≥1 matched series (constrained form)
  *  - `graft_match_at(storePath, ord, selector)` → matched label rows
  *    from a materialized IndexStore AS OF segment ordinal `ord`
  *    (snapshot / time-travel read)
  *
  * `selector` is a Prometheus-style matcher list, e.g.
  * `typ="purchase", usr>="10", usr!="12", typ=~"(click|view)"`,
  * with the reference's full MatchOp set (=, !=, =~, !~, <, >, <=, >=;
  * index_tree.cpp:113-140). The TVF resolves to the SAME logical plan
  * the Scala builder API produces — one optimizer, one execution path,
  * so everything Catalyst does for the builders (broadcasts, pushdown,
  * partial aggs) holds from SQL too.
  */
object IndexSql {

  /** Parse a Prometheus-style selector list. Ops are matched longest-
    * first so `!=`/`=~`/`>=` never misparse as `=`/`>`. Values are
    * double-quoted; commas inside quotes belong to the value.
    */
  def parseSelector(s: String): Seq[LabelMatcher] = {
    val trimmed = s.trim
    if (trimmed.isEmpty) sys.error("empty selector")
    // split on commas outside double quotes
    val terms = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    trimmed.foreach {
      case '"' => inQ = !inQ; cur.append('"')
      case ',' if !inQ => terms += cur.result(); cur.clear()
      case c => cur.append(c)
    }
    terms += cur.result()
    if (inQ) sys.error(s"unterminated quote in selector: $s")

    val TermRe = """\s*([A-Za-z_][A-Za-z0-9_]*)\s*(=~|!~|!=|>=|<=|=|<|>)\s*"((?:[^"\\]|\\.)*)"\s*""".r
    terms.toSeq.map {
      case TermRe(name, op, raw) =>
        val value = raw.replace("\\\"", "\"").replace("\\\\", "\\")
        val mop = op match {
          case "="  => MatchOp.Eql
          case "!=" => MatchOp.Neq
          case "=~" => MatchOp.EqlRegex
          case "!~" => MatchOp.NeqRegex
          case "<"  => MatchOp.Lss
          case ">"  => MatchOp.Gtr
          case "<=" => MatchOp.Lte
          case ">=" => MatchOp.Gte
        }
        LabelMatcher(name, mop, value)
      case bad => sys.error(
        s"""bad matcher term '$bad' — expected name<op>"value" with op in = != =~ !~ < > <= >=""")
    }
  }

  private def argString(name: String, exprs: Seq[Expression], i: Int): String = {
    require(exprs.length > i, s"$name: missing argument ${i + 1}")
    val e = exprs(i)
    require(e.foldable, s"$name argument ${i + 1} must be a string literal, got $e")
    val v = e.eval()
    require(v != null, s"$name argument ${i + 1} must not be NULL")
    v.toString
  }

  // ---- DataFrame builders backing the TVFs (shared with the tests) ----

  def matchSeries(spark: SparkSession, dir: String, selector: String): DataFrame =
    TagIndex.forEvents(spark, dir)
      .resolveMatchers(parseSelector(selector))
      .select(col("usr"), col("typ"))

  def selectRange(spark: SparkSession, dir: String, selector: String,
      t0: String, t1: String): DataFrame =
    TagIndex.forEvents(spark, dir)
      .select(parseSelector(selector),
        lit(t0).cast("timestamp"), lit(t1).cast("timestamp"))

  def labelValues(spark: SparkSession, dir: String, name: String,
      selector: Option[String]): DataFrame = {
    val i = TagIndex.forEvents(spark, dir)
    selector match {
      case Some(s) => i.labelValues(name, parseSelector(s))
      case None    => i.labelValues(name)
    }
  }

  def labelNames(spark: SparkSession, dir: String,
      selector: Option[String] = None): DataFrame = selector match {
    case Some(s) =>
      // the constrained /api/v1/labels form: names defined on at least
      // one matched series (A20)
      TagIndex.forEvents(spark, dir).labelNames(parseSelector(s))
    case None =>
      TagIndex.forEvents(spark, dir)
        .invertedIndex.select(col("label_name")).distinct()
  }

  /** Snapshot (time-travel) matcher resolution against a materialized
    * [[IndexStore]]: the matched series' label rows AS OF segment
    * ordinal `ord` — SQL drivability for the store's `loadAt` read
    * path (the reference's old-COW-root queries, cow_tree.h).
    */
  def matchStoredAt(spark: SparkSession, storePath: String, ord: Long,
      selector: String): DataFrame = {
    val matched = IndexStore.resolvePostingsAt(spark, storePath, ord, parseSelector(selector))
    matched.select(col("tsid"), TagIndex.labelPairs(TagIndex.catalogLabels(matched)))
  }

  // ---- TVF plan builders (argument literals → the builder's plan) ----

  private def plan(df: DataFrame): LogicalPlan = df.queryExecution.logical

  private[graft] val tvfs: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    "graft_match" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2, "graft_match expects (dir, selector)")
      plan(matchSeries(SparkSession.active,
        argString("graft_match", exprs, 0), argString("graft_match", exprs, 1)))
    },
    "graft_select" -> { exprs: Seq[Expression] =>
      require(exprs.length == 4, "graft_select expects (dir, selector, start, end)")
      plan(selectRange(SparkSession.active,
        argString("graft_select", exprs, 0), argString("graft_select", exprs, 1),
        argString("graft_select", exprs, 2), argString("graft_select", exprs, 3)))
    },
    "graft_label_values" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2 || exprs.length == 3,
        "graft_label_values expects (dir, name [, selector])")
      plan(labelValues(SparkSession.active,
        argString("graft_label_values", exprs, 0),
        argString("graft_label_values", exprs, 1),
        if (exprs.length == 3) Some(argString("graft_label_values", exprs, 2)) else None))
    },
    "graft_match_at" -> { exprs: Seq[Expression] =>
      require(exprs.length == 3,
        "graft_match_at expects (storePath, ord, selector)")
      val ord =
        try argString("graft_match_at", exprs, 1).toLong
        catch { case _: NumberFormatException =>
          sys.error("graft_match_at: ord must be an integer segment ordinal") }
      plan(matchStoredAt(SparkSession.active,
        argString("graft_match_at", exprs, 0), ord,
        argString("graft_match_at", exprs, 2)))
    },
    "graft_label_names" -> { exprs: Seq[Expression] =>
      require(exprs.length == 1 || exprs.length == 2,
        "graft_label_names expects (dir [, selector])")
      plan(labelNames(SparkSession.active,
        argString("graft_label_names", exprs, 0),
        if (exprs.length == 2) Some(argString("graft_label_names", exprs, 1)) else None))
    },
    // the prom API's /series endpoint: the series catalog with time
    // bounds and sample counts
    "graft_series" -> { exprs: Seq[Expression] =>
      require(exprs.length == 1, "graft_series expects (dir)")
      plan(IndexQueries.seriesIngest(SparkSession.active,
        argString("graft_series", exprs, 0)))
    },
    // the full client surface: a PromQL expression evaluated at an
    // instant, from SQL — `SELECT * FROM graft_promql('/data',
    // 'sum by (typ) (rate({typ="click"}[1h]))', '2024-01-31 00:00:00')`
    "graft_promql" -> { exprs: Seq[Expression] =>
      require(exprs.length == 3 || exprs.length == 4,
        "graft_promql expects (dir, expr, t [, lookbackSec])")
      val lookback =
        if (exprs.length == 4) argString("graft_promql", exprs, 3).toLong else 86400L
      plan(graft.promql.PromQl.eval(SparkSession.active,
        argString("graft_promql", exprs, 0), argString("graft_promql", exprs, 1),
        argString("graft_promql", exprs, 2), lookback))
    },
    // the adapter's /query_range form: one row per series per grid
    // timestamp (`t_sec`), e.g. graft_promql_range('/data',
    // 'rate({typ="click"}[1d])', '2024-01-08 00:00:00',
    // '2024-01-14 00:00:00', '86400')
    "graft_promql_range" -> { exprs: Seq[Expression] =>
      require(exprs.length == 5 || exprs.length == 6,
        "graft_promql_range expects (dir, expr, start, end, stepSec [, lookbackSec])")
      val lookback =
        if (exprs.length == 6) argString("graft_promql_range", exprs, 5).toLong else 86400L
      plan(graft.promql.PromQl.evalRange(SparkSession.active,
        argString("graft_promql_range", exprs, 0),
        argString("graft_promql_range", exprs, 1),
        argString("graft_promql_range", exprs, 2),
        argString("graft_promql_range", exprs, 3),
        argString("graft_promql_range", exprs, 4).toLong, lookback))
    },

    // B55 from SQL: the native-histogram function family at an
    // instant, e.g. graft_promql_native('/data',
    // 'histogram_quantile(0.9, sum(rate({typ=~".*"}[1d])))',
    // '2024-01-08 00:00:00')
    "graft_promql_native" -> { exprs: Seq[Expression] =>
      require(exprs.length == 3,
        "graft_promql_native expects (dir, expr, t)")
      def a(i: Int) = argString("graft_promql_native", exprs, i)
      plan(graft.promql.NativeHist.eval(SparkSession.active,
        a(0), a(1), a(2)))
    },

    // B55+ from SQL: the MIXED-schema model (per-series schema 0/3,
    // downscale-to-coarsest sum) — graft_promql_native with a 4th
    // 'mixed' flag, e.g. graft_promql_native_mixed('/data',
    // 'histogram_quantile(0.9, sum(rate({typ=~".*"}[1d])))',
    // '2024-01-08 00:00:00')
    "graft_promql_native_mixed" -> { exprs: Seq[Expression] =>
      require(exprs.length == 3,
        "graft_promql_native_mixed expects (dir, expr, t)")
      def a(i: Int) = argString("graft_promql_native_mixed", exprs, i)
      plan(graft.promql.NativeHist.eval(SparkSession.active,
        a(0), a(1), a(2), mixed = true))
    },

    // B59 from SQL: the custom-bucket quantile, e.g.
    // graft_nhcb_quantile('/data', '0.9', '2024-01-08 00:00:00')
    "graft_nhcb_quantile" -> { exprs: Seq[Expression] =>
      require(exprs.length == 3,
        "graft_nhcb_quantile expects (dir, phi, t)")
      def a(i: Int) = argString("graft_nhcb_quantile", exprs, i)
      val phi =
        try a(1).toDouble
        catch { case _: NumberFormatException =>
          sys.error("graft_nhcb_quantile: phi must be a number") }
      plan(graft.promql.NativeHist.nhcbQuantile(SparkSession.active,
        a(0), phi, a(2)))
    },

    // I25/I14 from SQL: a commit-log version read by path — the
    // `format("graft")` connector's scan, deletion vectors applied in
    // it; version -1 = HEAD. e.g.
    // graft_table('/tbl', '-1'), graft_table('/tbl', '2')
    "graft_table" -> { exprs: Seq[Expression] =>
      require(exprs.length == 2,
        "graft_table expects (path, version; -1 = HEAD)")
      def a(i: Int) = argString("graft_table", exprs, i)
      val spark = SparkSession.active
      val v0 =
        try a(1).toLong
        catch { case _: NumberFormatException =>
          sys.error("graft_table: version must be a number (-1 = HEAD)") }
      val v = if (v0 < 0) graft.sources.Io.tableVersion(spark, a(0)) else v0
      plan(graft.sources.Io.readTableVersion(spark, a(0), v))
    },

    // B53 from SQL: the daily dashboard served from the landed 1h
    // rollup tier, e.g. graft_rollup_daily('/data', '1704067200',
    // '1705881600') — from/to are epoch-second hour bounds
    "graft_rollup_daily" -> { exprs: Seq[Expression] =>
      require(exprs.length == 3,
        "graft_rollup_daily expects (dir, fromSec, toSec)")
      def a(i: Int) = argString("graft_rollup_daily", exprs, i)
      val (from, to) =
        try (a(1).toLong, a(2).toLong)
        catch { case _: NumberFormatException =>
          sys.error("graft_rollup_daily: from/to must be epoch seconds") }
      plan(graft.tsdb.Rollup.serveDaily(SparkSession.active, a(0),
        stepSec = 86400L, fromSec = from, toSec = to))
    },

    // B49 from SQL: the alerting-rule grid, e.g.
    // graft_promql_alerts('/data', 'expr > 2', '2024-01-03 00:00:00',
    // '2024-01-31 00:00:00', '86400', '172800', 'HighRate')
    "graft_promql_alerts" -> { exprs: Seq[Expression] =>
      require(exprs.length == 7,
        "graft_promql_alerts expects (dir, expr, start, end, stepSec, forSec, alertName)")
      def a(i: Int) = argString("graft_promql_alerts", exprs, i)
      plan(graft.promql.Rules.alerts(
        graft.index.TagIndex.forEvents(SparkSession.active, a(0)),
        a(1), a(2), a(3), a(4).toLong, a(5).toLong, a(6)))
    })

  /** Imperative per-session registration (the path Verify/Bench sessions
    * use; GraftExtensions injects the same builders for
    * `spark.sql.extensions` sessions).
    */
  def register(spark: SparkSession): Unit =
    tvfs.foreach { case (name, builder) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
