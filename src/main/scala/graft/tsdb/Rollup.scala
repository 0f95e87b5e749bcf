package graft.tsdb

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** B53: downsample rollup tiers — the Thanos-compact / M3 aggregation
  * policy the reference's storage layer would grow at fleet scale
  * (tagtree stores raw postings + samples; a serving deployment over
  * years of data pre-aggregates). A 1-hour tier holds, per
  * (series, hour): sample count, exact integer-cents sum, min, max
  * and the last value (picked by the full (µs, event_id) sample
  * order, so it is arrival-order-free). Every column is MERGEABLE,
  * which is the whole design: daily/weekly dashboard queries
  * re-aggregate tier rows instead of raw samples, and the tier also
  * answers avg_over_time exactly (sum/count) — not an approximation.
  *
  * Scale story: the tier is ∝ #series × hours — at 100 TB of raw
  * samples (~10¹² rows) the 1h tier is 3-4 orders of magnitude
  * smaller, and a 3-week dashboard grid reads ONLY tier files (the
  * gate reads the LANDED tier parquet; hour predicates push into its
  * row-group stats). Building the tier is one groupBy pass over raw —
  * partial aggregation makes the shuffle ∝ tier rows, not samples.
  */
object Rollup {

  /** One landed tier pair per (session, dataset) — the landed-files
    * discipline: the gate reads these files back, so build→write→read
    * is what the oracle checks. Round 12: tiers land as COMMIT-LOG
    * TABLES (`Io.tableAppendStats` with time-band stats, range-laid
    * so per-file bounds are tight), which buys them everything the
    * lakehouse has — time travel, OCC appends for incremental
    * maintenance, commit-embedded stats skipping — and serves them
    * through `format("graft")` to ANY Spark job, no graft code
    * linked. The serving reads below go through the connector.
    */
  def tierRoot(spark: SparkSession, dir: String): String =
    graft.gates.Fixture.fresh(spark, dir, "graft_rollup") { base =>
      graft.sources.Io.tableAppendStats(
        buildHourTier(spark, dir)
          .repartitionByRange(3, col("h_sec")), s"$base/1h", "h_sec")
      // B54: the 1d tier is maintained FROM the landed 1h tier
      // (tier-of-tier — Thanos's 5m→1h chain): every column merges
      // from the hourly partials, so the daily compactor never
      // re-reads raw samples
      graft.sources.Io.tableAppendStats(
        dailyFromHours(readTier(spark, s"$base/1h"))
          .repartitionByRange(2, col("day_sec")), s"$base/1d", "day_sec")
    }

  /** A tier read THROUGH the DSv2 connector — the proof any vanilla
    * Spark job can consume the tier store. */
  def readTier(spark: SparkSession, table: String): DataFrame =
    spark.read.format("graft").load(table)

  /** The 1h tier derivation (exposed for the spec's tier ≡ raw
    * equality proof). last_v uses max_by over the (µs, event_id)
    * struct — the B2 seek order — so the fold commutes: any partition
    * layout or merge order produces the same tier.
    */
  def buildHourTier(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRaw(spark, dir)
    buildHourTierOn(raw.select(
      col("user_id").cast("string").as("usr"),
      col("event_type").as("typ"),
      unix_micros(Tables.tsCol(raw)).as("us"),
      col("event_id"), col("value")))
  }

  /** DataFrame-generic tier build; input needs (usr, typ, us,
    * event_id, value). Exposed for the scale probe. */
  def buildHourTierOn(ev: DataFrame): DataFrame =
    ev.groupBy(col("usr"), col("typ"),
        (expr("us div 1000000") - pmod(expr("us div 1000000"), lit(3600L)))
          .as("h_sec"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"),
        max_by(col("value"), struct(col("us"), col("event_id"))).as("last_v"))

  /** Daily dashboard aggregation over hour rows (tier or equivalent):
    * every output column merges from the hourly partials — count and
    * cents-sum add, min/max fold, and the day's last value is the
    * last hour's last (within-hour order was already resolved at tier
    * build by the full (µs, event_id) key, and ts determines the
    * hour, so max_by on h_sec completes the same total order).
    */
  def dailyFromHours(hours: DataFrame): DataFrame =
    hours
      .groupBy(col("usr"), col("typ"),
        (col("h_sec") - pmod(col("h_sec"), lit(86400L))).as("day_sec"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"),
        max_by(col("last_v"), col("h_sec")).as("last_v"))

  /** B53 gate: the 3-week daily dashboard served FROM THE LANDED TIER
    * (2024-01-01 .. 01-22), while the DuckDB oracle computes the same
    * dashboard from RAW events — the gate therefore proves the tier
    * is a lossless rollup for this query class, not merely
    * self-consistent. The hour predicate lands on the tier scan.
    */
  def rollupServe(spark: SparkSession, dir: String): DataFrame = {
    val t0 = 1704067200L // 2024-01-01 00:00:00 UTC
    dailyFromHours(
      readTier(spark, s"${tierRoot(spark, dir)}/1h")
        .filter(col("h_sec") >= t0 && col("h_sec") < t0 + 21L * 86400L))
  }

  /** Round 12 gate: a 3-day dashboard band served from the 1h tier
    * with COMMIT-STATS FILE PRUNING — the connector's skipCol planning
    * drops tier files whose [min,max] h_sec band misses the query
    * (RollupSpec pins the file-count drop); the residual filter makes
    * it exact and the DuckDB oracle replays the band from RAW events,
    * so pruning provably loses nothing.
    */
  def rollupServePruned(spark: SparkSession, dir: String): DataFrame = {
    val t0 = 1704067200L
    val lo = t0 + 7L * 86400L  // 2024-01-08
    val hi = t0 + 10L * 86400L // .. 01-11 (exclusive)
    dailyFromHours(
      spark.read.format("graft")
        .option("skipCol", "h_sec").option("skipLo", lo).option("skipHi", hi)
        .load(s"${tierRoot(spark, dir)}/1h")
        .filter(col("h_sec") >= lo && col("h_sec") < hi))
  }

  /** B54 gate: the 4-week weekly dashboard served FROM THE LANDED 1d
    * TIER (itself derived from the 1h tier, never from raw) — weeks
    * are epoch-aligned (`day_sec - day_sec % 604800`, a pure formula
    * both engines replay); every column merges from daily partials
    * and the day's last value completes the (µs, event_id) total
    * order through max_by on day_sec. The DuckDB oracle computes the
    * same weeks from RAW samples, so the gate proves the whole
    * 1h → 1d → weekly chain is lossless.
    */
  def rollupServeWeekly(spark: SparkSession, dir: String): DataFrame = {
    val t0 = 1704067200L // 2024-01-01 00:00:00 UTC
    readTier(spark, s"${tierRoot(spark, dir)}/1d")
      .filter(col("day_sec") >= t0 && col("day_sec") < t0 + 28L * 86400L)
      .groupBy(col("usr"), col("typ"),
        (col("day_sec") - pmod(col("day_sec"), lit(604800L))).as("week_sec"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"),
        max_by(col("last_v"), col("day_sec")).as("last_v"))
  }

  /** Tier selection — the query-planner face of the tiers: a grid
    * whose step is a whole number of hours is served from the 1h
    * tier; anything finer falls back to raw samples (which the spec
    * proves answer identically where both can serve). This is the
    * Thanos `--query.auto-downsampling` decision in one line.
    */
  def serveDaily(spark: SparkSession, dir: String, stepSec: Long,
      fromSec: Long, toSec: Long): DataFrame = {
    val hours =
      if (stepSec % 3600L == 0L)
        readTier(spark, s"${tierRoot(spark, dir)}/1h")
      else buildHourTier(spark, dir)
    dailyFromHours(
      hours.filter(col("h_sec") >= fromSec && col("h_sec") < toSec))
  }
}
