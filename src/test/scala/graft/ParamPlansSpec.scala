package graft

import graft.index.IndexSql
import graft.plans.ParamPlans
import graft.promql.PromQl
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Parameterised plan literals ([[graft.plans.ParamPlans]]): a query
  * shape run again with a fresh time or regex reuses the classes Spark
  * compiled for it, returns the rows the literal plan returns, and its
  * scans keep the literal filters that prune them.
  */
class ParamPlansSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  val dir = "/root/testdata/sf0.001"

  /** Janino compiles while `body` runs. */
  private def compiles(body: => Any): Long = {
    val c = CodegenMetrics.METRIC_COMPILATION_TIME
    val n0 = c.getCount
    body
    c.getCount - n0
  }

  /** `body` planned with the strategy removed. */
  private def plain[T](body: => T): T = {
    val ex = spark.experimental
    val saved = ex.extraStrategies
    ex.extraStrategies = saved.filterNot(_ == ParamPlans.Strategy)
    try body finally ex.extraStrategies = saved
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The shape `q` at `a` then at `b`: the second run compiles nothing
    * and matches the literal plan; returns its executed plan. Two
    * literal-plan runs at `c` and `d` show the control: each fresh
    * value compiles there.
    */
  private def reused(q: String => DataFrame, a: String, b: String,
      c: String, d: String): SparkPlan = {
    q(a).collect()
    val df = q(b)
    assert(compiles(df.collect()) == 0, s"the second value of the shape compiled")
    val fresh = q(b)
    assert(rows(df) == plain(rows(fresh)))
    assert(rows(df).nonEmpty)
    plain(q(c).collect())
    val control = q(d)
    assert(plain(compiles(control.collect())) > 0,
      "a fresh value compiles without the strategy")
    df.queryExecution.executedPlan
  }

  private def eventScans(p: SparkPlan): Seq[String] = collect(p) {
    case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
      _.toString.endsWith("events.parquet")) => s.metadata("PushedFilters")
  }

  test("PromQL at two times: no compile, same rows, time bounds still pushed") {
    val q = (t: String) => PromQl.eval(spark, dir,
      """sum by (typ) (count_over_time({usr=~"1.*"}[1d]))""", t)
    val p = reused(q, "2024-01-10 00:00:00", "2024-01-20 00:00:00",
      "2024-01-21 00:00:00", "2024-01-22 00:00:00")
    val pushed = eventScans(p)
    assert(pushed.nonEmpty && pushed.forall(f =>
      f.contains("GreaterThanOrEqual(ts,2024-01-19 00:00:00.0)") &&
        f.contains("LessThanOrEqual(ts,2024-01-20 00:00:00.0)")), pushed)
  }

  test("selectRange over two windows: no compile, same rows, bounds still pushed") {
    val q = (t0: String) => IndexSql.selectRange(spark, dir, """usr=~"1.*"""",
      t0, t0.replace(" 00:", " 12:"))
    val p = reused(q, "2024-01-10 00:00:00", "2024-01-20 00:00:00",
      "2024-01-21 00:00:00", "2024-01-22 00:00:00")
    val pushed = eventScans(p)
    assert(pushed.nonEmpty && pushed.forall(f =>
      f.contains("GreaterThanOrEqual(ts,2024-01-20 00:00:00.0)") &&
        f.contains("LessThanOrEqual(ts,2024-01-20 12:00:00.0)")), pushed)
  }

  test("a session-window aggregate (buffers bound by id) keeps its literal plan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    ParamPlans.install(spark)
    val q = () => Seq(("2024-01-01 00:00:00", "1", 1.0), ("2024-01-01 00:10:00", "1", 2.0),
        ("2024-01-01 00:55:00", "1", 4.0), ("2024-01-01 00:05:00", "2", 8.0))
      .toDF("ts", "usr", "v").withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(session_window(col("ts"), "30 minutes"), col("usr"))
      .agg(count(lit(1)).as("n"), sum(col("v") * 2).as("s"))
    assert(rows(q()) == plain(rows(q())))
    assert(rows(q()).length == 3)
  }

  test("matchSeries with two regexes: no compile, same rows, prefix still prunes") {
    val q = (re: String) => IndexSql.matchSeries(spark, dir, s"""usr=~"$re"""")
    val p = reused(q, "1.*", "2.*", "3.*", "4.*")
    // the in-memory catalog scan keeps the literal prefix its batch
    // statistics prune on
    val preds = collect(p) { case s: InMemoryTableScanExec => s.predicates.map(_.toString) }
      .flatten
    assert(preds.exists(f => f.startsWith("StartsWith(usr") && f.endsWith(", 2)")), preds)
  }
}
