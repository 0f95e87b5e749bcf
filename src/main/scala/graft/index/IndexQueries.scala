package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import MatchOp._

/** Oracle-shaped queries over the tag index (SURVEY.md §2.A).
  * Output conventions for DuckDB parity: label columns are strings
  * (`usr`, `typ`), timestamps are epoch-seconds BIGINTs, floats are
  * rounded.
  */
object IndexQueries {

  private def idx(spark: SparkSession, dir: String): TagIndex =
    TagIndex.forEvents(spark, dir)

  private def series(df: DataFrame): DataFrame = df.select("usr", "typ")

  /** A1: ingest — distinct label-sets become series with time bounds. */
  def seriesIngest(spark: SparkSession, dir: String): DataFrame =
    idx(spark, dir).seriesCatalog.select(
      col("usr"), col("typ"),
      unix_timestamp(col("min_ts")).as("first_ts"),
      unix_timestamp(col("max_ts")).as("last_ts"),
      col("n_samples"))

  /** A18: cardinality stats — the index-introspection surface
    * (Prometheus's /api/v1/status/tsdb head stats over the reference's
    * index): per label name, the distinct-value count, total posting
    * entries, and the hottest value with its postings size — the
    * numbers that catch a label-cardinality explosion before it melts
    * the index. Two aggregates over the inverted index (∝ #series,
    * never #samples), both partial-agg friendly.
    */
  def indexStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perValue = idx(spark, dir).invertedIndex
      .groupBy(col("label_name"), col("label_value"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("label_name"))
      .orderBy(col("cnt").desc, col("label_value"))
    perValue.withColumn("rk", row_number().over(w))
      .groupBy(col("label_name"))
      .agg(count(lit(1)).as("n_values"),
        sum(col("cnt")).as("n_postings"),
        max(col("cnt")).as("max_postings"),
        max(when(col("rk") === 1, col("label_value"))).as("top_value"))
  }

  /** A22 (round 9): series CHURN — the cardinality-over-time
    * introspection a TSDB operator watches (Prometheus's
    * head-series churn dashboards): per day, how many series were
    * born (first sample), how many died (last sample), and the net
    * count still open after that day. One pass over the series
    * catalog (∝ #series, never #samples — the per-series
    * [min_ts, max_ts] bounds the reference's mem_index keeps per
    * posting entry are exactly what answers this), a tiny full-outer
    * day join, and one ~30-row running sum. `open_after(d)` =
    * births(≤d) − deaths(≤d): series whose last sample fell on d are
    * no longer counted after it.
    */
  def indexChurn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // each series contributes one birth row and one death row; a
    // single day groupBy replaces the born⋈died full-outer join (which
    // would be the plan's only SortMergeJoin, over ~30-row sides)
    val s = idx(spark, dir).seriesCatalog.select(explode(array(
      struct(date_format(col("min_ts"), "yyyy-MM-dd").as("day"),
        lit(1L).as("b"), lit(0L).as("d")),
      struct(date_format(col("max_ts"), "yyyy-MM-dd").as("day"),
        lit(0L).as("b"), lit(1L).as("d")))).as("x"))
    s.groupBy(col("x.day").as("day"))
      .agg(sum(col("x.b")).as("born"), sum(col("x.d")).as("died"))
      .withColumn("open_after",
        sum(col("born") - col("died")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** A25 (round 10): series-cardinality LIMIT enforcement — the
    * ingestion guard every production TSDB runs (Prometheus
    * sample/series limits, M3's per-metric cardinality limiter,
    * Cortex/Mimir per-tenant series caps) against the cardinality
    * explosions the reference's mem_index bounds exist to surface:
    * per metric (typ), only the FIRST `maxSeries` series in
    * first-seen order (min_ts, then the usr label as the
    * engine-replayable tie key) are admitted; later series — the
    * runaway-label blow-up — are rejected. The gate reports the
    * admission accounting per metric, incl. how many SAMPLES the
    * guard would have dropped (the operational number capacity
    * planning needs). Cost ∝ #series (one catalog window pass), never
    * samples — the catalog is the mem_index analog, so the guard
    * runs at metadata scale.
    */
  def cardinalityGuard(spark: SparkSession, dir: String,
      maxSeries: Long = 40L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("typ"))
      .orderBy(unix_micros(col("min_ts")), col("usr"))
    idx(spark, dir).seriesCatalog
      .withColumn("__rk", row_number().over(w))
      .withColumn("__ok", col("__rk") <= maxSeries)
      .groupBy(col("typ"))
      .agg(count(lit(1)).as("n_series"),
        sum(when(col("__ok"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(!col("__ok"), 1L).otherwise(0L)).as("n_rejected"),
        sum(when(!col("__ok"), col("n_samples")).otherwise(0L))
          .as("samples_dropped"))
  }

  /** A12: the materialized inverted index, aggregated per label entry. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    idx(spark, dir).invertedIndex
      .groupBy(col("label_name"), col("label_value"))
      .agg(count(lit(1)).as("n_series"),
        unix_timestamp(min(col("min_ts"))).as("min_ts"),
        unix_timestamp(max(col("max_ts"))).as("max_ts"))

  /** A2 */
  def matchEq(spark: SparkSession, dir: String): DataFrame =
    series(idx(spark, dir).resolveMatchers(Seq(LabelMatcher("typ", Eql, "click"))))

  /** A3 */
  def matchNeq(spark: SparkSession, dir: String): DataFrame =
    series(idx(spark, dir).resolveMatchers(Seq(
      LabelMatcher("typ", Eql, "click"), LabelMatcher("usr", Neq, "7"))))

  /** A4: lexicographic value range (labels are strings in the reference). */
  def matchRange(spark: SparkSession, dir: String): DataFrame =
    series(idx(spark, dir).resolveMatchers(Seq(
      LabelMatcher("usr", Gte, "2"), LabelMatcher("usr", Lte, "5"))))

  /** A5: anchored regex. */
  def matchRegex(spark: SparkSession, dir: String): DataFrame =
    series(idx(spark, dir).resolveMatchers(Seq(
      LabelMatcher("typ", EqlRegex, "(click|view)"))))

  /** A6: negated regex subtracting from an inclusive set. */
  def matchNregex(spark: SparkSession, dir: String): DataFrame =
    series(idx(spark, dir).resolveMatchers(Seq(
      LabelMatcher("usr", Eql, "3"), LabelMatcher("typ", NeqRegex, "(error|signup)"))))

  private val conj = Seq(
    LabelMatcher("typ", Eql, "purchase"),
    LabelMatcher("usr", Gte, "10"),
    LabelMatcher("usr", Neq, "12"))

  /** A7: conjunction mixing =, range and != */
  def matchConj(spark: SparkSession, dir: String): DataFrame =
    series(idx(spark, dir).resolveMatchers(conj))

  /** The series `matchers` select from the store at `store`. */
  private def storedSeries(spark: SparkSession, store: String,
      matchers: Seq[LabelMatcher]): DataFrame =
    series(IndexStore.resolvePostings(spark, store, matchers))

  /** A8 */
  def labelValues(spark: SparkSession, dir: String): DataFrame =
    idx(spark, dir).labelValues("typ")

  /** A8c: constrained label_values(name, matchers...) — which users
    * ever emitted a purchase series with usr lexicographically ≥ "10"
    * (labels are strings; ordering is lexicographic as in the
    * reference).
    */
  def labelValuesMatched(spark: SparkSession, dir: String): DataFrame =
    idx(spark, dir).labelValues("usr", Seq(
      LabelMatcher("typ", Eql, "purchase"), LabelMatcher("usr", Gte, "10")))

  /** A8b: label_names — the index's label-name universe. */
  def labelNames(spark: SparkSession, dir: String): DataFrame =
    idx(spark, dir).invertedIndex.select(col("label_name")).distinct()

  /** A20: constrained label_names(matchers...) — the prom API's
    * /api/v1/labels with matchers. Discriminating label model: a
    * sparse `ab` (amount band) label defined ONLY on purchase series,
    * so `label_names({typ="view"})` must NOT list it while
    * `label_names({typ="purchase"})` must — the name universe really
    * depends on the matched set, not the schema.
    */
  private def amtIdx(spark: SparkSession, dir: String): TagIndex =
    TagIndex.memo(spark, dir, "usr,typ,ab") {
      val raw = graft.Tables.eventsRaw(spark, dir)
      val ev = raw.select(
        col("event_id"), col("ts_ns"),
        graft.Tables.tsCol(raw).as("ts"), col("value"),
        col("user_id").cast("string").as("usr"),
        col("event_type").as("typ"),
        when(col("event_type") === "purchase",
          floor(col("value") / 50).cast("long").cast("string")).as("ab"))
      new TagIndex(ev, Seq("usr", "typ", "ab"))
    }

  def labelNamesMatched(spark: SparkSession, dir: String): DataFrame = {
    val i = amtIdx(spark, dir)
    i.labelNames(Seq(LabelMatcher("typ", Eql, "view")))
      .withColumn("q", lit("view"))
      .unionAll(i.labelNames(Seq(LabelMatcher("typ", Eql, "purchase")))
        .withColumn("q", lit("purchase")))
  }

  /** A15: posting-list materialization — per label entry the sorted
    * series list (the DataFrame analog of the reference's Roaring
    * posting bitmaps, mem_postings.h), emitted as a joined string so
    * the oracle can hash-compare it.
    */
  def postingsList(spark: SparkSession, dir: String): DataFrame =
    idx(spark, dir).labeled
      .groupBy(col("typ"))
      .agg(array_join(array_sort(collect_set(col("usr"))), ",").as("postings"),
        countDistinct(col("usr")).as("n"))

  /** A13: generic n-label model — the JSON `props.k` (bucketed mod 10)
    * joins {usr, typ} as a third label, and matchers mix all three.
    * Shows the index is label-set-generic, not hardcoded to two labels
    * (the reference's labels are arbitrary vectors, promql/labels.h).
    */
  private def jsonIdx(spark: SparkSession, dir: String): TagIndex =
    TagIndex.memo(spark, dir, "usr,typ,kb") {
      val raw = graft.Tables.eventsRaw(spark, dir)
      val ev = raw.select(
        col("event_id"), col("ts_ns"),
        graft.Tables.tsCol(raw).as("ts"), col("value"),
        col("user_id").cast("string").as("usr"),
        col("event_type").as("typ"),
        pmod(get_json_object(col("props"), "$.k").cast("long"), lit(10))
          .cast("string").as("kb"))
      new TagIndex(ev, Seq("usr", "typ", "kb"))
    }

  def matchJsonLabel(spark: SparkSession, dir: String): DataFrame =
    jsonIdx(spark, dir).resolveMatchers(Seq(
      LabelMatcher("typ", Eql, "view"),
      LabelMatcher("kb", Eql, "3"),
      LabelMatcher("usr", Lte, "5")))
      .select("usr", "typ", "kb")

  /** PromQL over the GENERIC n-label model (A13 × B42): the evaluator
    * takes its label universe from the TagIndex (labelNames), so the
    * JSON-derived `kb` label participates in selectors, grouping and
    * vector identity exactly like the native two — the reference's
    * arbitrary-label-vector claim (promql/labels.h) through the whole
    * query language, not just matcher resolution.
    */
  def promqlJsonLabels(spark: SparkSession, dir: String): DataFrame =
    graft.promql.PromQl.evalIndexed(jsonIdx(spark, dir),
      """sum by (kb, typ) (count_over_time({typ=~"(view|click)", usr<="5"}[30d]))""",
      "2024-01-31 00:00:00")

  // a store path per dataset under tmpdir, emptied: every JVM writes
  // its store from scratch (materialize is a first flush only, and a
  // crashed earlier build must not leave rows or tombstones behind)
  private def tmpStore(prefix: String, dir: String): String = {
    val base = graft.Memo.tmp(prefix + graft.Tables.fingerprint(s"$dir/events.parquet"))
    graft.Memo.wipe(base)
    base.toString
  }

  // one materialized store per source dataset (written once per JVM)
  private def storeFor(spark: SparkSession, dir: String): String =
    graft.Memo.global(s"index.store:$dir") {
      val p = tmpStore("graft_idxstore_", dir)
      IndexStore.materialize(idx(spark, dir), p)
      p
    }

  /** C9 (oracle-gated): the A7 conjunction resolved from the
    * MATERIALIZED store instead of the in-memory index — the two paths
    * share the one resolution filter, so the same oracle gates both;
    * what this query proves is that the flushed parquet segments
    * resolve identically (the reference's claim that MemIndex and the
    * on-disk tree answer the same queries, index_server.cpp
    * try_compact).
    */
  def matchConjStored(spark: SparkSession, dir: String): DataFrame =
    storedSeries(spark, storeFor(spark, dir), conj)

  // a PRIVATE store of two batch flushes merged into one segment
  // (separate from storeFor so compaction can't mask a merge-on-read
  // bug there)
  private def compactStoreFor(spark: SparkSession, dir: String): String =
    graft.Memo.global(s"index.compactstore:$dir") {
      val p = tmpStore("graft_compactstore_", dir)
      val i = idx(spark, dir)
      for (b <- 0L to 1L) IndexStore.flushBatch(new TagIndex(
        i.samples.filter(pmod(col("event_id"), lit(2)) === b), i.labelNames), p, b)
      IndexStore.compact(spark, p)
      p
    }

  /** C9+ (oracle-gated, round 9 s4): the A7 conjunction resolved from
    * a COMPACTED store — the reference's try_compact outcome
    * (index_server.cpp): after the background merge retires the
    * segment pile into one, matchers must answer identically. Shares
    * `match_conj`'s oracle, so the gate proves the compacted
    * single-segment layout serves the same algebra the multi-segment
    * merge-on-read view did.
    */
  def matchCompacted(spark: SparkSession, dir: String): DataFrame =
    storedSeries(spark, compactStoreFor(spark, dir), conj)

  // a PRIVATE store with a delete_series tombstone applied (separate
  // from storeFor — deletes must not contaminate the other gates)
  private def tombStoreFor(spark: SparkSession, dir: String): String =
    graft.Memo.global(s"index.tombstore:$dir") {
      val p = tmpStore("graft_tombstore_", dir)
      IndexStore.materialize(idx(spark, dir), p)
      val n = IndexStore.deleteSeries(spark, p,
        Seq(LabelMatcher("typ", Eql, "error")))
      require(n > 0, s"delete_series matched no series at $p")
      p
    }

  /** A24/C9+ (oracle-gated, round 9 s4): matcher resolution through a
    * store with a delete_series TOMBSTONE applied — the reference's
    * delete path (storage.h delete_series) as a SERVING mode, not just
    * a spec: every `typ="error"` series is tombstoned, then an
    * unrelated matcher resolves from the merge-on-read view and the
    * deleted series must be invisible. The DuckDB oracle replays the
    * matcher algebra over the source MINUS the deleted class, so the
    * hide semantics (not merely "fewer rows") are what hash-gates.
    */
  def matchTombstoned(spark: SparkSession, dir: String): DataFrame =
    storedSeries(spark, tombStoreFor(spark, dir), Seq(LabelMatcher("usr", Gte, "10")))

  // a store populated ONLY through the H9 streaming foreachBatch loop
  // (one per dataset and segment format; `_done` marks a completed
  // build — a partial leftover from a crashed run is wiped and rebuilt,
  // never resumed into, so replayed landings can't double-flush under
  // fresh batch ids)
  private def streamedStoreFor(spark: SparkSession, dir: String): String =
    graft.Memo.global(s"index.streamstore:$dir") {
      val base = graft.Memo.landed(s"graft_streamstore_${IndexStore.Layout}",
          graft.Tables.fingerprint(s"$dir/events.parquet")) { b =>
        val raw = graft.Tables.eventsRaw(spark, dir)
        val ev = raw.select(
          col("event_id"), col("ts_ns"), graft.Tables.tsCol(raw).as("ts"),
          col("value"), col("user_id").cast("string").as("usr"),
          col("event_type").as("typ"))
        // land the events as 4 files; one file per trigger turns them
        // into 4 micro-batches through the checkpointed ingest loop
        graft.streaming.StreamOps.landParts(ev, s"$b/landing")
        graft.streaming.StreamOps.replayed(spark, s"$b/landing")(
          graft.streaming.StreamOps.streamToStoreIndexed(
            _, s"$b/lake", s"$b/ckpt", s"$b/index"))
      }
      s"$base/index"
    }

  /** H9 (oracle-gated): the A7 conjunction resolved from a store that
    * was populated ONLY via the streaming WAL→flush loop
    * (StreamOps.streamToStoreIndexed — the reference's
    * index_server.h:48-66 ingest cycle): concurrent ingest + query
    * under the same oracle as the in-memory and batch-materialized
    * paths. Resolution cost is ∝ index entries, independent of how
    * many micro-batches fed the store.
    */
  def matchConjStreamed(spark: SparkSession, dir: String): DataFrame =
    storedSeries(spark, streamedStoreFor(spark, dir), conj)

  /** H17: a full PromQL query answered from the STREAM-MAINTAINED
    * index: matcher resolution reads the store that only the
    * checkpointed foreachBatch ingest loop populated (the reference's
    * serving loop — queries resolve against the index the WAL→compact
    * cycle maintains, index_server.h:48-66), while the evaluator's
    * sample fetch, window folds and aggregation run unchanged. The
    * oracle is plain batch SQL over the same events, so the gate proves
    * stream-ingested postings ≡ batch-derived postings through the
    * whole query algebra, not just a matcher conjunction.
    */
  def promqlStreamed(spark: SparkSession, dir: String): DataFrame = {
    val store = streamedStoreFor(spark, dir)
    val si = TagIndex.memo(spark, dir, "usr,typ:storeq") {
      val raw = graft.Tables.eventsRaw(spark, dir)
      val ev = raw.select(
        col("event_id"), col("ts_ns"), graft.Tables.tsCol(raw).as("ts"),
        col("value"), col("user_id").cast("string").as("usr"),
        col("event_type").as("typ"))
      new StoreTagIndex(ev, Seq("usr", "typ"), store)
    }
    graft.promql.PromQl.evalIndexed(si,
      """sum by (usr) (count_over_time({typ="purchase", usr>="10"}[30d]))""",
      "2024-01-31 00:00:00")
  }

  // A21: a time-segmented snapshot store over the (usr, typ, day) label
  // model. The derived `day` label makes series FIRST-SIGHTINGS
  // time-dependent (a (usr,typ,day) series exists only once its day's
  // samples arrive), so a historical snapshot is a genuinely smaller
  // index than the live view — the store is built as three incremental
  // time-watermark flushes (ts < Jan-10, < Jan-20, rest) and the memo
  // remembers the FIRST segment's ordinal as the snapshot point.
  private def snapStoreFor(spark: SparkSession, dir: String): (String, Long) =
    graft.Memo.global(s"index.snapstore:$dir") {
      val p = tmpStore("graft_snapstore_", dir)
      def idxUpTo(cutNs: Option[Long]): TagIndex = {
        val raw = graft.Tables.eventsRaw(spark, dir)
        val ev = raw.select(
          col("event_id"), col("ts_ns"), graft.Tables.tsCol(raw).as("ts"),
          col("value"), col("user_id").cast("string").as("usr"),
          col("event_type").as("typ"),
          date_format(graft.Tables.tsCol(raw), "yyyy-MM-dd").as("day"))
        // strict < on the raw-ns column (file-native in the NANOS
        // encoding; the derived one costs a per-row check, like tsBetween)
        new TagIndex(cutNs.fold(ev)(c => ev.filter(col("ts_ns") < lit(c))),
          Seq("usr", "typ", "day"))
      }
      def ns(iso: String): Long =
        java.time.Instant.parse(iso).getEpochSecond * 1000000000L
      IndexStore.materialize(idxUpTo(Some(ns("2024-01-10T00:00:00Z"))), p)
      val ord1 = IndexStore.storedWatermarkNs(spark, p)
        .getOrElse(sys.error(s"snapshot store at $p committed no segment"))
      IndexStore.materializeIncremental(idxUpTo(Some(ns("2024-01-20T00:00:00Z"))), p)
      IndexStore.materializeIncremental(idxUpTo(None), p)
      (p, ord1)
    }

  /** A21 (oracle-gated): snapshot (time-travel) matcher resolution via
    * the `graft_match_at` SQL surface — matchers resolved against the
    * index AS OF the first segment's ordinal (IndexStore.loadAt), i.e.
    * the store as it stood before the Jan-10+ flushes. The reference's
    * equivalent is serving queries from an old COW-tree root
    * (include/tagtree/tree/cow_tree.h); here immutable `seg=` dirs make
    * the historical read a segment-pruned scan. The DuckDB oracle
    * replays the same resolution over the SOURCE table filtered to the
    * snapshot's time cut — series first sighted after it must not
    * appear, which the derived `day` label makes a real difference.
    */
  def matchAt(spark: SparkSession, dir: String): DataFrame = {
    val (store, ord) = snapStoreFor(spark, dir)
    IndexSql.register(spark)
    spark.sql(
      s"""SELECT
         |  max(CASE WHEN label_name = 'usr' THEN label_value END) AS usr,
         |  max(CASE WHEN label_name = 'typ' THEN label_value END) AS typ,
         |  max(CASE WHEN label_name = 'day' THEN label_value END) AS day
         |FROM graft_match_at('$store', $ord, 'typ="click", usr<="5"')
         |GROUP BY tsid""".stripMargin)
  }

  /** A9: tsid → labels (get_labels): recover series labels for sample ids. */
  def seriesLookup(spark: SparkSession, dir: String): DataFrame = {
    val i = idx(spark, dir)
    val wanted = i.labeled.filter(col("event_id") < 10).select("event_id", "tsid")
    wanted.join(i.seriesCatalog.select("tsid", "usr", "typ"), Seq("tsid"))
      .select("event_id", "usr", "typ")
  }

  /** A10: exact label-set existence. */
  def seriesExists(spark: SparkSession, dir: String): DataFrame =
    series(idx(spark, dir).exists(Map("usr" -> "5", "typ" -> "click")))

  /** A11: matchers + time range, index-pruned then sample-exact. */
  def matchTimerange(spark: SparkSession, dir: String): DataFrame = {
    val t1 = lit("2024-01-08 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-15 00:00:00").cast("timestamp")
    idx(spark, dir).select(Seq(LabelMatcher("typ", Eql, "error")), t1, t2)
      .select("usr", "typ").distinct()
  }

  /** A16: absent() — 1 when no series matches the matcher set, else 0
    * (PromQL's alerting primitive for missing series). Always one row.
    */
  def absent(spark: SparkSession, dir: String): DataFrame =
    idx(spark, dir).resolveMatchers(Seq(LabelMatcher("typ", Eql, "nonexistent")))
      .agg(count(lit(1)).as("__n"))
      .select(when(col("__n") === 0, 1).otherwise(0).as("absent"))

  /** B1: full select path — matchers + range → samples. */
  def selectRange(spark: SparkSession, dir: String): DataFrame = {
    val t1 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-12 00:00:00").cast("timestamp")
    idx(spark, dir).select(Seq(LabelMatcher("typ", Eql, "purchase")), t1, t2)
      .select(col("event_id"), col("usr"), col("typ"),
        unix_timestamp(col("ts")).as("ts_sec"),
        round(col("value"), 2).as("value"))
  }
}
