package graft

import graft.tsdb.Rollup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** B53 downsample rollup tiers + C27 priority sampling. */
class RollupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  /** Independent daily derivation straight from raw events (window
    * last + group agg — no tier involved). */
  private def dailyRaw() = {
    val raw = Tables.eventsRaw(spark, dir)
    val d = raw.select(
        col("user_id").cast("string").as("usr"),
        col("event_type").as("typ"),
        unix_micros(Tables.tsCol(raw)).as("us"),
        col("event_id"), col("value"))
      .withColumn("day_sec",
        expr("us div 1000000") - pmod(expr("us div 1000000"), lit(86400L)))
    val w = Window.partitionBy(col("usr"), col("typ"), col("day_sec"))
      .orderBy(col("us").desc, col("event_id").desc)
    d.withColumn("__rn", row_number().over(w))
      .groupBy(col("usr"), col("typ"), col("day_sec"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        max(when(col("__rn") === 1, col("value"))).as("last_v"))
  }

  test("B53: tier-served daily dashboard ≡ raw-derived daily (all days)") {
    val tier = Rollup.dailyFromHours(Rollup.buildHourTier(spark, dir))
    val raw = dailyRaw()
    assert(tier.count() == raw.count())
    assert(tier.except(raw).isEmpty && raw.except(tier).isEmpty,
      "tier rollup diverges from raw daily derivation")
  }

  test("B53: planner picks the tier for hour-aligned steps, raw otherwise — identical answers") {
    val t0 = 1704067200L
    val viaTier = Rollup.serveDaily(spark, dir, 86400L, t0, t0 + 7L * 86400L)
    val viaRaw = Rollup.serveDaily(spark, dir, 900L, t0, t0 + 7L * 86400L)
    assert(viaTier.except(viaRaw).isEmpty && viaRaw.except(viaTier).isEmpty)
    // the hour-aligned path must actually scan the LANDED tier files
    // (and nothing else: one scan, rooted in the tier store)
    val plan = viaTier.queryExecution.executedPlan.toString
    assert(plan.contains("graft_rollup_"),
      s"hour-aligned plan does not scan the tier store:\n$plan")
    assert(!plan.contains("events.parquet"),
      "hour-aligned plan still touches raw events")
  }

  test("B54: the landed 1d tier (derived from the 1h tier, never raw) " +
      "≡ the raw daily derivation") {
    val tier1d = Rollup.readTier(spark, s"${Rollup.tierRoot(spark, dir)}/1d")
    val raw = dailyRaw()
    assert(tier1d.count() == raw.count())
    assert(tier1d.except(raw).isEmpty && raw.except(tier1d).isEmpty,
      "1d tier-of-tier diverges from the raw daily derivation")
  }

  test("B53: the 1h tier is a real downsample (rows ≪ raw samples)") {
    val tierRows = Rollup.readTier(spark,
      s"${Rollup.tierRoot(spark, dir)}/1h").count()
    val rawRows = Tables.eventsRaw(spark, dir).count()
    assert(tierRows < rawRows,
      s"tier $tierRows rows vs raw $rawRows — not a rollup")
  }

  test("round 12: tiers are commit-log tables — connector reads serve " +
      "them, stats pruning drops off-band files, time travel holds") {
    val root = Rollup.tierRoot(spark, dir)
    // the tier store is a real commit-log table (commit + stats)
    assert(new java.io.File(s"$root/1h/_commits/00000000.commit").exists())
    assert(sources.Io.readStatsFile(spark, s"$root/1h", 0L).nonEmpty)
    // pruned read plans fewer data files than the full tier
    def dataFiles(df: org.apache.spark.sql.DataFrame) =
      df.select(input_file_name()).distinct().count()
    val full = Rollup.readTier(spark, s"$root/1h")
    val lo = 1704067200L + 7L * 86400L
    val pruned = spark.read.format("graft")
      .option("skipCol", "h_sec").option("skipLo", lo)
      .option("skipHi", lo + 3L * 86400L).load(s"$root/1h")
    assert(dataFiles(pruned) < dataFiles(full),
      s"pruned ${dataFiles(pruned)} of ${dataFiles(full)} files")
    // pruning + residual ≡ unpruned filter
    val band = full.filter(col("h_sec") >= lo && col("h_sec") < lo + 3L * 86400L)
    val bandP = pruned.filter(col("h_sec") >= lo && col("h_sec") < lo + 3L * 86400L)
    assert(bandP.except(band).isEmpty && band.except(bandP).isEmpty)
    // versionAsOf composes on the tier store
    assert(spark.read.format("graft").option("versionAsOf", 0)
      .load(s"$root/1h").count() == full.count())
  }

  test("C27: priority sample is 200 distinct docs with HT weights ≥ raw weights, bounded by τ rule") {
    val s = operators.Relational.weightedSample(spark, dir).collect()
    assert(s.length == 200)
    assert(s.map(_.getLong(0)).distinct.length == 200, "duplicate docs sampled")
    val tau = s.map(r => r.getDouble(3)).min // ŵ = max(w, τ) ≥ τ... smallest ŵ is τ or a large w
    s.foreach { r =>
      val w = r.getLong(1).toDouble
      val p = r.getDouble(2)
      val what = r.getDouble(3)
      assert(what >= w, "HT estimate below raw weight")
      assert(p >= w, "priority = w/u with u ≤ 1 must be ≥ w")
      assert(what == math.max(w, tau) || what == w,
        s"ŵ must be max(w, τ): w=$w ŵ=$what τ=$tau")
    }
    // unbiasedness sanity (not a statistical test — just that the
    // estimator is in the right regime): Σŵ within 3× of Σw
    val estimate = s.map(_.getDouble(3)).sum
    val truth = Tables.documents(spark, dir)
      .agg(sum(col("n_chars"))).collect()(0).getLong(0).toDouble
    assert(estimate > truth / 3 && estimate < truth * 3,
      s"HT estimate $estimate wildly off Σw=$truth")
  }
}
