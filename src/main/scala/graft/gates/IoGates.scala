package graft.gates

import graft.Tables
import graft.gates.Fixture._
import graft.sources.Io._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The io_* gates: each lands a fixture through [[Fixture]], reads
  * the landed files back and must reproduce a batch aggregation the
  * DuckDB oracle computes from the source table — write→parse→read is
  * what is checked, not the in-memory frame.
  */
object IoGates {

  // ---- oracle-gated round-trip queries (round 8): the LANDED FILES
  // answer the gate, so the whole write→parse→read loop of each format
  // is what the DuckDB oracle checks — not the in-memory frame ----

  /** One materialization per (session, dataset): the events projection
    * in round-trip-exact column types (longs + strings — CSV/JSON have
    * no binary timestamp or float form, so µs epochs and integer cents
    * carry the values losslessly) written as csv, json-lines, orc AND
    * the day-partitioned parquet layout.
    */
  private def roundtripRoot(spark: SparkSession, dir: String): String =
    fresh(spark, dir, "graft_io_rt") { base =>
      val raw = Tables.eventsRaw(spark, dir)
      val flat = raw.select(col("event_id"),
        unix_micros(Tables.tsCol(raw)).as("us"),
        col("user_id").cast("string").as("usr"),
        col("event_type").as("typ"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      writeCsv(flat, s"$base/csv")
      writeJson(flat, s"$base/json")
      writeOrc(flat, s"$base/orc")
      writePartitionedSamples(spark, dir, s"$base/daily")
    }

  /** [[typeSummary]] of raw events rows (cents rounded from `value`). */
  private def eventsSummary(df: DataFrame): DataFrame =
    typeSummary(df.select(col("event_type").as("typ"), col("event_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents")))

  private val rtDdl =
    "event_id BIGINT, us BIGINT, usr STRING, typ STRING, cents BIGINT"

  private def rtAgg(df: DataFrame): DataFrame =
    df.groupBy(col("typ")).agg(
      count(lit(1)).as("n"),
      sum(col("cents")).as("sum_cents"),
      min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
      min(col("us")).as("min_us"), max(col("us")).as("max_us"))

  /** I2: header CSV round-trip, gated on the landed files. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame =
    rtAgg(readCsv(spark, s"${roundtripRoot(spark, dir)}/csv", rtDdl))

  /** I3: JSON-lines round-trip, gated on the landed files. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame =
    rtAgg(readJson(spark, s"${roundtripRoot(spark, dir)}/json", rtDdl))

  /** I4: ORC round-trip, gated on the landed files. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    rtAgg(readOrc(spark, s"${roundtripRoot(spark, dir)}/orc"))

  /** I1: the day-partitioned lakehouse layout, gated through a PRUNED
    * single-day read (IoSpec separately asserts the PartitionFilters
    * actually prune; here the oracle proves the routed day's CONTENT).
    */
  def dailyPartitionRead(spark: SparkSession, dir: String): DataFrame =
    readDay(spark, s"${roundtripRoot(spark, dir)}/daily", "2024-01-05")
      .transform(eventsSummary)

  /** One maintenance materialization per (session, dataset): a
    * day-partitioned copy COMPACTED in place, a z-ordered copy, a
    * manifest over a value-clustered copy, and an UPSERTED copy (day
    * 2024-01-10 rewritten with cents+1 for even event_ids plus one
    * synthetic new row) — each gated query reads the maintained FILES.
    */
  private def maintRoot(spark: SparkSession, dir: String): String =
    // `_done`-landed: the fixture is a pure function of the dataset, and
    // re-running the rewrites over a previous JVM's completed output
    // proved fragile (a re-compaction read a day it had just rewritten)
    landed(spark, dir, "graft_io_maint")(buildMaint(spark, dir, _))

  private def buildMaint(spark: SparkSession, dir: String, base: String): Unit = {
      // compaction target: the day-partitioned layout, rewritten to
      // ~1 MB files (small target so the rewrite genuinely re-buckets)
      writePartitionedSamples(spark, dir, s"$base/compacted")
      compactPartitioned(spark, s"$base/compacted", 1024L * 1024)
      // z-order target: cluster on (user_id, cents)
      val raw = Tables.eventsRaw(spark, dir)
      val flat = raw.select(col("event_id"),
        unix_micros(Tables.tsCol(raw)).as("us"),
        col("user_id"), col("event_type").as("typ"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      writeZordered(flat, "user_id", "cents", s"$base/zorder", 8)
      // manifest target: value-clustered files + the stats manifest
      flat.repartitionByRange(8, col("cents"))
        .sortWithinPartitions(col("cents"))
        .write.mode("overwrite").parquet(s"$base/clustered")
      writeManifest(spark, s"$base/clustered", "cents")
      // upsert target: day-partitioned copy, then MERGE a derived
      // update batch for one day (even event_ids get cents'=cents+1;
      // one new row with event_id = maxId+1)
      writePartitionedSamples(spark, dir, s"$base/upserted")
      val day = "2024-01-10"
      val maxId = Tables.events(spark, dir).agg(max(col("event_id"))).head().getLong(0)
      val dayRows = Tables.events(spark, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .filter(col("day") === day)
      val firstId = dayRows.agg(min(col("event_id"))).head().getLong(0)
      val updates = dayRows.filter(pmod(col("event_id"), lit(2)) === 0)
        .withColumn("value", col("value") + 1.0)
        .unionByName(dayRows.filter(col("event_id") === firstId)
          .withColumn("event_id", lit(maxId + 1))
          .withColumn("value", lit(42.0)))
      upsertPartitioned(spark, s"$base/upserted", updates, "event_id")
  }

  /** I6, oracle-gated: content preserved bit-for-bit by the rewrite. */
  def compactedRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${maintRoot(spark, dir)}/compacted")
      .transform(eventsSummary)

  /** I11, oracle-gated: clustering reorders files, never content. */
  def zorderRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${maintRoot(spark, dir)}/zorder")
      .transform(typeSummary)

  /** I12, oracle-gated: the manifest-pruned band is EXACT (conservative
    * file skipping + residual predicate).
    */
  def prunedRead(spark: SparkSession, dir: String): DataFrame =
    readPruned(spark, s"${maintRoot(spark, dir)}/clustered", "cents",
      lit(2000L), lit(6000L))
      .transform(typeSummary)

  /** I10, oracle-gated: the post-MERGE table ≡ the oracle's replay of
    * the same deterministic update batch (anti-join + union per day).
    */
  def upsertedRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${maintRoot(spark, dir)}/upserted")
      .transform(eventsSummary)

  /** I13, oracle-gated: land the day-partitioned layout, vacuum days
    * before 2024-01-15, read the surviving files back — the aggregate
    * must equal DuckDB's replay of the same cutoff over the source
    * table (write→vacuum→read ≡ filtered batch).
    */
  def retentionRead(spark: SparkSession, dir: String): DataFrame = {
    val root = fresh(spark, dir, "graft_io_ret") { base =>
      writePartitionedSamples(spark, dir, s"$base/t")
      vacuumPartitioned(spark, s"$base/t", "2024-01-15")
    }
    spark.read.parquet(s"$root/t")
      .groupBy(col("event_type").as("typ"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        countDistinct(col("day")).as("n_days"))
  }

  /** One bucketed-table pair per (session, dataset): the events
    * projection and the per-user purchase counts, both `bucketBy(8,
    * usr)` + sortBy external tables (the co-located layout a 100 TB
    * deployment uses so per-key joins, aggregations and windows never
    * shuffle). Returns the dataset fingerprint that scopes the catalog
    * table names.
    */
  private def bucketedTables(spark: SparkSession, dir: String): String = {
    val fp = graft.Tables.fingerprint(s"$dir/events.parquet")
    fresh(spark, dir, "graft_io_bk") { base =>
      val raw = Tables.eventsRaw(spark, dir)
      val ev = raw.select(col("event_id"),
        col("user_id").cast("string").as("usr"),
        col("event_type").as("typ"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      ev.write.mode("overwrite").bucketBy(8, "usr").sortBy("usr", "event_id")
        .option("path", s"$base/events_bk").saveAsTable(s"events_bk_$fp")
      ev.filter(col("typ") === "purchase").groupBy(col("usr"))
        .agg(count(lit(1)).as("n_purch"))
        .write.mode("overwrite").bucketBy(8, "usr").sortBy("usr")
        .option("path", s"$base/purch_bk").saveAsTable(s"purch_bk_$fp")
    }
    fp
  }

  /** I5+I8, oracle-gated (round 9): the bucketed layout read BACK from
    * its landed files through the session catalog, driving the three
    * shuffle-free shapes at once — a per-user aggregation, a per-user
    * window (last event's cents in event_id order), and a co-located
    * join against the second bucketed table. The DuckDB oracle replays
    * all three from the SOURCE events table, so write→bucket→read ≡
    * batch is what's gated; BucketedJoinSpec keeps the plan half (no
    * Exchange anywhere in these shapes on a bucketed scan).
    */
  def bucketedRead(spark: SparkSession, dir: String): DataFrame = {
    val fp = bucketedTables(spark, dir)
    val ev = spark.table(s"events_bk_$fp")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("usr")).orderBy(col("event_id").desc)
    val lastc = ev.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).select(col("usr"), col("cents").as("last_cents"))
    val agg = ev.groupBy(col("usr"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    agg.join(lastc, Seq("usr"))
      .join(spark.table(s"purch_bk_$fp"), Seq("usr"))
      .select("usr", "n", "sum_cents", "last_cents", "n_purch")
  }

  /** I9, oracle-gated: two write ERAS of one table — era 1 without the
    * `quality` column (odd event_ids), era 2 with it (even event_ids,
    * quality = cents mod 7) — then ONE mergeSchema read; era-1 rows
    * must surface quality as null (backfill), which the gate pins via
    * coalesce(quality, -1) sums the oracle replays per era.
    */
  def evolvedRead(spark: SparkSession, dir: String): DataFrame = {
    val base = fresh(spark, dir, "graft_io_evo") { root =>
      val flat = centsOf(spark, dir)
      flat.filter(pmod(col("event_id"), lit(2)) === 1)
        .write.mode("overwrite").parquet(s"$root/tbl/era=1")
      flat.filter(pmod(col("event_id"), lit(2)) === 0)
        .withColumn("quality", pmod(col("cents"), lit(7)))
        .write.mode("overwrite").parquet(s"$root/tbl/era=2")
    }
    readMerged(spark, s"$base/tbl")
      .groupBy(col("typ")).agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        sum(coalesce(col("quality"), lit(-1L))).as("sum_quality"),
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("n_backfilled"))
  }

  /** I14, oracle-gated: three commits — v0 creates (days 01-01..01-10),
    * v1 appends (01-11..01-20), v2 copy-on-write-deletes the purchase
    * rows — then BOTH v1 and v2 are read back through the commit log
    * and aggregated. The oracle replays the two cuts from the source
    * table, so the gate proves (a) a version read sees exactly its
    * commit's files (days 21+ were never committed and must not
    * appear), (b) v1 still serves the purchases AFTER v2 deleted them
    * (history immutable under COW), (c) the delete rewrote precisely
    * the matching rows out.
    */
  def timetravelRead(spark: SparkSession, dir: String): DataFrame =
    versions(readTableVersion(spark, ttTable(spark, dir), _), 1L, 2L)

  /** I15, oracle-gated: the change feed of BOTH commit transitions of
    * the I14 table — v0→v1 (pure insert of the appended days) and
    * v1→v2 (pure delete of the purchase rows via COW rewrite, where
    * the surviving rewritten rows must cancel exactly in the multiset
    * diff) — aggregated per (transition, change type, typ) and
    * replayed by DuckDB from the source cuts.
    */
  def cdfRead(spark: SparkSession, dir: String): DataFrame =
    feeds(changeFeed(spark, ttTable(spark, dir), _, _), 0L, 1L)

  /** I16, oracle-gated: table HISTORY — the DESCRIBE HISTORY
    * introspection of the commit-log table: every committed version
    * with its row count, each read through its own commit's file list
    * (so the listing is itself a set of time-travel reads — v0/v1
    * counts must still be servable after v2's COW delete). The oracle
    * replays each version's cut from the source.
    */
  def historyRead(spark: SparkSession, dir: String): DataFrame = {
    val table = ttTable(spark, dir)
    (0L to tableVersion(spark, table)).map { v =>
      readTableVersion(spark, table, v)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(v).as("version"), col("n_rows"))
    }.reduce(_ unionByName _)
  }

  private def ttTable(spark: SparkSession, dir: String): String =
    fresh(spark, dir, "graft_io_tt") { t =>
      buildEventsTable(spark, dir, t)
    }

  // the shared 3-commit fixture: v0 creates (days ≤ 01-10), v1 appends
  // (01-11..20), v2 copy-on-write-deletes the purchase rows
  private def buildEventsTable(spark: SparkSession, dir: String,
      t: String): Unit = {
    val flat = centsOf(spark, dir, withUs = true)
    tableAppend(flat.filter(col("us") < 1704931200000000L), t)       // ≤ 01-10
    tableAppend(flat.filter(col("us") >= 1704931200000000L &&
      col("us") < 1705795200000000L), t)                             // 01-11..20
    tableDeleteWhere(spark, t, col("typ") === "purchase")
  }

  /** I24, oracle-gated: append-time schema evolution on the commit
    * log — v0 creates with (event_id, us, cents), v1 APPENDS rows
    * that additionally carry `typ` (the evolved column). Both
    * versions then read back through [[readTableVersionEvolved]]:
    * v1 serves the union schema with pre-evolution rows
    * null-backfilled in `typ` (the per-version typed/untyped split is
    * exactly the two commits' row counts), while v0 — time travel to
    * BEFORE the evolution — has no `typ` at all (asserted, then
    * aggregated under the same output schema). The oracle replays
    * both cuts from the source events, so what the gate proves is
    * land→commit→evolve→read across the schema boundary.
    */
  def evolveLogRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_evl") { p =>
      val flat = centsOf(spark, dir, withUs = true)
      tableAppend(flat.filter(col("us") < 1704931200000000L)
        .drop("typ"), p)                                        // v0: old schema
      tableAppend(flat.filter(col("us") >= 1704931200000000L &&
        col("us") < 1705795200000000L), p)                      // v1: + typ
    }
    val v0 = readTableVersionEvolved(spark, t, 0L)
    require(!v0.columns.contains("typ"),
      "time travel to before the evolution must serve the OLD schema")
    def agg(df: DataFrame, ver: Long): DataFrame =
      df.agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          sum(when(col("typ").isNotNull, 1L).otherwise(0L)).as("n_typed"),
          countDistinct(col("typ")).as("n_typs"))
        .select(lit(ver).as("ver"), col("n"), col("sum_cents"),
          col("n_typed"), col("n_typs"))
    agg(v0.withColumn("typ", lit(null).cast("string")), 0L)
      .unionByName(agg(readTableVersionEvolved(spark, t, 1L), 1L))
  }

  /** I17, oracle-gated: shallow clone + divergence — the clone of the
    * I14 table (at its COW-deleted v2) is read back at its own v0
    * (must ≡ the source's v2 cut, served purely through the absolute
    * file references — zero bytes copied at clone time), then the
    * CLONE alone deletes the view rows and both the clone's v1 and the
    * untouched SOURCE are read back: the oracle replaying all three
    * cuts from the source table proves clone correctness AND
    * clone/source isolation under COW divergence.
    */
  def cloneRead(spark: SparkSession, dir: String): DataFrame = {
    val src = ttTable(spark, dir)
    val cl = fresh(spark, dir, "graft_io_clone") { t =>
      tableClone(spark, src, t)
      tableDeleteWhere(spark, t, col("typ") === "view")
    }
    def agg(tag: String, df: DataFrame): DataFrame =
      countsBy(df, lit(tag).as("rel"), col("typ"))
    agg("clone_v0", readTableVersion(spark, cl, 0L))
      .unionByName(agg("clone_v1", readTableVersion(spark, cl, 1L)))
      .unionByName(agg("src_v2", latest(spark, src)))
  }

  /** I18, oracle-gated: vacuum then read — a private 3-commit table is
    * vacuumed down to its latest version (the COW delete made every
    * original c0/c1 file an orphan, so the GC does real deletion —
    * required > 0), then the retained version is read back through the
    * commit log and must still reproduce the source cut exactly:
    * liveness comes from the log, and the GC removed only dead files.
    */
  def vacuumRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_vac") { tt =>
      buildEventsTable(spark, dir, tt)
      val removed = vacuumTable(spark, tt, retainFrom = 2L)
      require(removed > 0, s"vacuum removed no orphans at $tt")
    }
    countsBy(readTableVersion(spark, t, 2L), col("typ"))
  }

  /** I21, oracle-gated: optimize-then-read — the 3-commit fixture's
    * latest version is bin-packed to one file as commit v3; the
    * optimized read must ≡ the v2 cut exactly (layout changed, content
    * never), replayed by DuckDB from the source. IoSpec pins the
    * file-count drop, pre-optimize history intactness, and that
    * vacuum afterwards removes the superseded small files.
    */
  def optimizeRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_opt") { tt =>
      buildEventsTable(spark, dir, tt)
      val before = record(spark, tt, 2L).files.size
      val v = tableOptimize(spark, tt, 1)
      require(v == 3L && record(spark, tt, 3L).files.size < before,
        s"optimize did not shrink the file list at $tt")
    }
    readTableVersion(spark, t, 3L).transform(typeSummary)
  }

  /** I47, oracle-gated: OPTIMIZE ZORDER BY — a deliberately scrambled
    * 8-file stats table (round-robin repartition: every file spans
    * both dimensions, so band reads on either keep ALL files) is
    * z-order-compacted on (event_id, cents); the builder requires the
    * pre-state un-prunable and the post-state prunable on BOTH
    * dimensions (the clustered layout's whole point), then the gate
    * serves a band read per dimension THROUGH the skipping reader at
    * HEAD — content must ≡ the oracle's replay of the same bands from
    * the raw source (pruning is conservative, the residual predicate
    * exact). */
  def optimizeZorderRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_zopt") { tt =>
      val flat = centsOf(spark, dir)
        .repartition(8)
      tableAppendStats(flat, tt, "event_id", "cents")
      val (ilo, ihi, clo, chi) = zoptBands(spark, tt)
      def keep(v: Long, c: String, lo: Long, hi: Long): Int =
        { val rec = record(spark, tt, v)
          statsBand(tt, v, rec, rec.files, c, lo, hi).size }
      require(keep(0L, "event_id", ilo, ihi) == 8 &&
        keep(0L, "cents", clo, chi) == 8,
        s"scrambled pre-state at $tt must keep all 8 files on both bands")
      val v = tableOptimizeZorder(spark, tt, "event_id", "cents", 16)
      require(v == 1L, s"expected zorder commit v1 at $tt, got $v")
      val nf = record(spark, tt, 1L).files.size
      require(keep(1L, "event_id", ilo, ihi) < nf,
        s"z-ordered layout at $tt must prune the event_id band")
      require(keep(1L, "cents", clo, chi) < nf,
        s"z-ordered layout at $tt must prune the cents band")
    }
    val (ilo, ihi, clo, chi) = zoptBands(spark, t)
    // global agg (not groupBy-on-literal): an empty band still yields
    // one row, matching the oracle's aggregate-without-GROUP-BY
    def agg(tag: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .select(lit(tag).as("band"), col("n"), col("sum_cents"),
          col("min_id"), col("max_id"))
    agg("by_id",
        readTableVersionSkipping(spark, t, 1L, "event_id", ilo, ihi))
      .unionByName(agg("by_cents",
        readTableVersionSkipping(spark, t, 1L, "cents", clo, chi)))
  }

  /** The two deterministic band cuts of the zorder gate — quarter and
    * eighth spans off each dimension's [min, max] (all values
    * positive, so Long `/` matches DuckDB's floor `//`). */
  private def zoptBands(spark: SparkSession,
      table: String): (Long, Long, Long, Long) = {
    val st = readStatsFile(spark, table, 0L)
    def span(c: String): (Long, Long) = {
      val es = st.collect { case ((_, `c`), mm) => mm }
      (es.map(_._1).min, es.map(_._2).max)
    }
    val (mni, mxi) = span("event_id")
    val (mnc, mxc) = span("cents")
    // the id band sits at [5/16, 7/16) of the span — margins off the
    // quantile split boundaries (a band edge ON a partition boundary
    // keeps every upper file: its min lands a hair under the edge)
    (mni + 5 * (mxi - mni) / 16, mni + 7 * (mxi - mni) / 16,
      mnc + (mxc - mnc) / 8, mnc + (mxc - mnc) / 4)
  }

  /** I48, oracle-gated: replaceWhere through the connector write
    * surface — v0 lands typ-hashed across 4 files, then a
    * `mode("overwrite").option("replaceWhere", "typ = 'purchase'")`
    * save replaces exactly the purchase region with a re-priced batch
    * in ONE commit; the builder first requires a VIOLATING batch (a
    * click row smuggled in) to refuse atomically with HEAD unmoved,
    * then requires untouched files to carry by reference (file-
    * granular COW, not a table rewrite). Final cut ≡ the oracle's
    * region replay. */
  def replaceWhereRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_rw") { tt =>
      val flat = centsOf(spark, dir)
      tableAppend(flat.repartition(4, col("typ")), tt) // v0
      val newBatch = flat.filter(col("typ") === "purchase")
        .withColumn("cents", col("cents") + 100000L)
      val thrown = refuses[Throwable](
        newBatch.unionByName(flat.filter(col("typ") === "click").limit(1))
          .write.format("graft").mode("overwrite")
          .option("replaceWhere", "typ = 'purchase'").save(tt))
      require(thrown && tableVersion(spark, tt) == 0L,
        s"a violating replaceWhere batch at $tt must refuse with HEAD " +
          "unmoved")
      newBatch.write.format("graft").mode("overwrite")
        .option("replaceWhere", "typ = 'purchase'").save(tt)
      require(tableVersion(spark, tt) == 1L,
        s"replaceWhere at $tt must land exactly one commit")
      require(shared(spark, tt, 0L, 1L).nonEmpty,
        s"replaceWhere at $tt must carry untouched files by reference")
    }
    latest(spark, t).transform(typeSummary)
  }

  /** I20, oracle-gated: restore-then-read — a private 3-commit table
    * (create / append / COW-delete purchases) is RESTORED to v1,
    * un-deleting the purchases as commit v3; the latest read must then
    * ≡ the v1 cut (purchases back, served through the ORIGINAL c0/c1
    * files by reference) while v2 read back unchanged proves the
    * rollback added history instead of rewriting it. Both cuts
    * replayed by DuckDB from the source.
    */
  def restoreRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_restore") { tt =>
      buildEventsTable(spark, dir, tt)
      val v = tableRestore(spark, tt, 1L)
      require(v == 3L, s"expected restore to commit v3 at $tt, got $v")
    }
    def agg(tag: String, v: Long): DataFrame =
      readTableVersion(spark, t, v).transform(summaryBy(_, lit(tag).as("rel")))
    agg("restored", 3L).unionByName(agg("pre_restore", 2L))
  }

  private def dvTable(spark: SparkSession, dir: String): String =
    fresh(spark, dir, "graft_io_dv") { t =>
      val flat = centsOf(spark, dir, withUs = true)
      // type-clustered layout so the two deletes exercise BOTH paths:
      // the point-ish delete (error ∧ id≡0 mod 7 ≈ 1/7 of one file)
      // rides the DV, the bulk delete (all purchases ≈ a whole file)
      // trips the per-file COW fallback
      tableAppend(clustered(flat), t)
      tableDeleteWhereDv(spark, t,
        col("typ") === "error" && pmod(col("event_id"), lit(7)) === 0)
      tableDeleteWhereDv(spark, t, col("typ") === "purchase")
    }

  /** I25+I15, oracle-gated: the change feed of both DV-table
    * transitions — v0→v1 is a DV-ONLY delete (no file changes: the
    * file-diff CDF sees nothing; the feed must come from the new DV
    * entries) and v1→v2 mixes the COW fallback (file diff, both sides
    * MOR-filtered so v1's DV'd rows don't re-emit) with any
    * under-threshold DV'd files. The oracle replays both delete sets
    * from the source. */
  def dvCdfRead(spark: SparkSession, dir: String): DataFrame =
    feeds(changeFeedMor(spark, dvTable(spark, dir), _, _), 0L, 1L)

  /** I25, oracle-gated: all three versions of the DV table read back
    * MERGE-ON-READ and aggregated — v0 (everything), v1 (after the
    * DV-path point delete), v2 (after the bulk delete's COW fallback).
    * The oracle replays each cut from the raw source, so the gate
    * proves write→DV→positional-scan-filter content AND
    * version isolation (v1 still serves rows v2 deleted). */
  def dvRead(spark: SparkSession, dir: String): DataFrame =
    versions(readTableVersion(spark, dvTable(spark, dir), _), 0L, 1L, 2L)

  /** MERGE gate (round 12), oracle-gated: v0 = the flat events table
    * (type-clustered layout so the merge touches SOME files, not all);
    * one MERGE whose source UPDATES every purchase (cents + 100000,
    * matched by event_id) and INSERTS a displaced copy of every click
    * (event_id + 10^12 — collision-free); both version cuts read back
    * and aggregated, the oracle replaying them from the raw source —
    * so update-in-place, insert, untouched-type carry-over AND version
    * isolation are all content-checked. */
  def mergeRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_merge") { tt =>
      val flat = centsOf(spark, dir)
      tableAppend(clustered(flat), tt)
      val src = flat.filter(col("typ") === "purchase")
        .withColumn("cents", col("cents") + 100000L)
        .unionByName(flat.filter(col("typ") === "click")
          .withColumn("event_id", col("event_id") + 1000000000000L))
      val v = tableMerge(spark, tt, src, "event_id")
      require(v == 1L, s"expected merge commit v1 at $tt, got $v")
    }
    versions(readTableVersion(spark, t, _), 0L, 1L)
  }

  /** MERGE × positional-DV gate (round 13): v0 = the flat table
    * (type-clustered layout); v1 DV-deletes the error ∧ (id%7=0) class
    * (merge-on-read DV, no rewrite); v2 MERGEs a source that
    * UPDATES every non-error id%5=0 row (cents → 2·cents+1) and
    * RE-INSERTS the id%14=0 half of the DELETED class with the same
    * transform — legal only under positional DVs (the round-12 key
    * model refused DV-table merges outright). The source matches no
    * LIVE error row, so the error file carries BY REFERENCE with its
    * DV entries still load-bearing: the id%7=0 ∧ id%14≠0 half must
    * stay hidden at v2 while the re-inserted half serves fresh rows.
    * Both cuts read back and aggregated; the oracle replays them from
    * the raw source. */
  def mergeReinsertRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_mergere") { tt =>
      val flat = centsOf(spark, dir)
      tableAppend(clustered(flat), tt)
      val v1 = tableDeleteWhereDv(spark, tt,
        col("typ") === "error" && pmod(col("event_id"), lit(7)) === 0)
      require(v1 == 1L && dvDirsOf(spark, tt, 1L).nonEmpty,
        s"expected a DV-path delete at $tt v1")
      val src = flat.filter(
        (col("typ") =!= "error" && pmod(col("event_id"), lit(5)) === 0) ||
          (col("typ") === "error" && pmod(col("event_id"), lit(14)) === 0))
        .withColumn("cents", col("cents") * 2 + 1)
      val v2 = tableMerge(spark, tt, src, "event_id")
      require(v2 == 2L, s"expected merge commit v2 at $tt, got $v2")
      require(dvDirsOf(spark, tt, 2L).nonEmpty,
        s"merge at $tt must carry the DV dirs for kept files")
    }
    versions(readTableVersion(spark, t, _), 1L, 2L)
  }

  /** Catalog gate (round 12), oracle-gated: the whole table lifecycle
    * as `graft.<ns>.<table>` SQL identifiers — CREATE TABLE (declared
    * schema), INSERT INTO ... SELECT (V1Write → OCC, v0 creates),
    * DELETE FROM (COW commit), then the aggregation SELECT back
    * through the catalog; the DuckDB oracle replays insert-minus-
    * delete from the raw source, so identifier-addressed DML is
    * content-checked end to end. */
  def catalogRead(spark: SparkSession, dir: String): DataFrame =
    warehouse(spark, dir, Warehouse("graft_warehouse",
      sql = Seq("CREATE TABLE {t} (event_id BIGINT, typ STRING, cents BIGINT)",
        "INSERT INTO {t} SELECT * FROM {src}",
        "DELETE FROM {t} WHERE typ = 'view'"),
      read = t => typeSummary(t.head)))

  /** SQL UPDATE gate (round 12), oracle-gated: the row-level-operation
    * framework end to end — CTAS lands the flat events table
    * type-clustered (so purchases live in a SUBSET of files), one
    * `UPDATE ... SET cents = cents + 100000 WHERE typ = 'purchase'`
    * rewrites exactly the touched files (runtime group filtering; the
    * builder asserts untouched files carried BY REFERENCE), and both
    * version cuts read back via `VERSION AS OF` — the oracle replays
    * them from the raw source, so update-in-place, carry-over and
    * version isolation are all content-checked. */
  def updateRead(spark: SparkSession, dir: String): DataFrame =
    warehouse(spark, dir, Warehouse("graft_upd_wh", source = clustered,
      sql = Seq("CREATE TABLE {t} AS SELECT * FROM {src}",
        "UPDATE {t} SET cents = cents + 100000 WHERE typ = 'purchase'"),
      holds = t => {
        val v0 = commitEntries(spark, t.path, 0L).toSet
        val v1 = commitEntries(spark, t.path, 1L).toSet
        require(v0.intersect(v1).nonEmpty,
          s"UPDATE must carry untouched files by reference (v0=$v0 v1=$v1)")
        require(v1 != v0, "UPDATE must rewrite the touched files")
      },
      read = t => versions(t.at, 0L, 1L)))

  /** ALTER TABLE ADD COLUMN gate (round 13), oracle-gated: a pure-SQL
    * catalog user evolves a table's schema — CTAS the even-id half
    * (3 columns), `ALTER TABLE ... ADD COLUMN band BIGINT`, INSERT the
    * odd-id half WITH the new column (band = cents % 10), then read
    * the whole table back through the catalog: pre-evolution rows must
    * serve `band` as NULL (count(band) sees only era-2 rows), both
    * eras' data intact. The oracle replays the two eras from the raw
    * source with an explicit NULL band on era 1. */
  def alterAddRead(spark: SparkSession, dir: String): DataFrame =
    warehouse(spark, dir, Warehouse("graft_alter_wh", sql = twoEras,
      read = t => bandSummary(t.head)))

  /** Cross-era DML gate (round 14, round-13 ADVICE high): DML AFTER a
    * schema evolution must not lose the added column — CTAS the
    * even-id era (3 columns), ALTER ADD `band`, INSERT the odd-id era
    * WITH band, then `DELETE FROM ... WHERE typ = 'view'` (the
    * translatable-predicate metadata delete → [[tableDeleteWhere]]'s
    * COW rewrite, whose touched files span BOTH eras). The rewrite
    * reads with the DECLARED schema ([[readFilesDeclared]]), so
    * post-evolution rows keep their band values and pre-evolution rows
    * keep their NULLs; a single-footer inference would have silently
    * nulled era-2 bands. The oracle replays insert-minus-delete from
    * the raw source with the era-aware band. */
  def alterDmlRead(spark: SparkSession, dir: String): DataFrame =
    warehouse(spark, dir, Warehouse("graft_alterdml_wh",
      sql = twoEras :+ "DELETE FROM {t} WHERE typ = 'view'",
      read = t => bandSummary(t.head)))

  /** CTAS the even-id era (3 columns), ALTER ADD `band`, INSERT the
    * odd-id era WITH band. */
  private val twoEras = Seq(
    "CREATE TABLE {t} AS SELECT * FROM {src} WHERE event_id % 2 = 0",
    "ALTER TABLE {t} ADD COLUMN band BIGINT",
    "INSERT INTO {t} SELECT event_id, typ, cents, cents % 10 AS band " +
      "FROM {src} WHERE event_id % 2 = 1")

  /** [[typeSummary]] plus the count and sum of the added `band`. */
  private def bandSummary(df: DataFrame): DataFrame =
    df.groupBy(col("typ")).agg(count(lit(1)).as("n"),
      sum(col("cents")).as("sum_cents"), count(col("band")).as("n_band"),
      sum(col("band")).as("sum_band"), min(col("event_id")).as("min_id"),
      max(col("event_id")).as("max_id"))

  /** TYPE-WIDENING gate (round 14), oracle-gated: a CTAS table with an
    * INT cents column is widened to BIGINT (`ALTER COLUMN ... TYPE` —
    * a metadata-only commit; the builder also requires a NARROWING
    * and a string→int change to refuse), then an INSERT lands values
    * past the int range; the final cut sums exactly — pre-widening
    * files served through Spark's parquet upcast, unrewritten. */
  def alterWidenRead(spark: SparkSession, dir: String): DataFrame =
    warehouse(spark, dir, Warehouse("graft_alterw_wh",
      sql = Seq("CREATE TABLE {t} AS SELECT event_id, typ, " +
          "CAST(cents AS INT) AS cents FROM {src} WHERE event_id % 2 = 0",
        "ALTER TABLE {t} ALTER COLUMN cents TYPE BIGINT",
        "INSERT INTO {t} SELECT event_id, typ, cents + 3000000000 " +
          "FROM {src} WHERE event_id % 2 = 1"),
      holds = t => {
        require(refuses[Exception](spark.sql(
          s"ALTER TABLE ${t.name} ALTER COLUMN cents TYPE SMALLINT")),
          "a NARROWING type change must refuse")
        require(refuses[Exception](spark.sql(
          s"ALTER TABLE ${t.name} ALTER COLUMN typ TYPE INT")),
          "a non-widening type change must refuse")
      },
      read = t => typeSummary(t.head)))

  /** CHECK-constraint gate (round 14), oracle-gated: the full
    * constraint lifecycle — declare `cents >= 0` on an existing table
    * (validated against current data), a VALID append lands, a
    * VIOLATING append refuses (the builder asserts the refusal and
    * that no version landed), a violating MERGE refuses the same way,
    * and dropping the constraint lets the once-refused batch land.
    * The gate reads the final cut; the oracle replays source ∪ valid
    * batch ∪ post-drop batch — so enforcement, refusal atomicity and
    * drop semantics are all content-checked. */
  def constraintRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_constr") { tt =>
      val flat = centsOf(spark, dir)
      tableAppend(flat, tt) // v0
      // a constraint existing data violates refuses at declaration
      require(refuses[IllegalArgumentException](
        tableAddConstraint(spark, tt, "impossible", "cents > 1000000")),
        "adding a violated constraint must refuse")
      val v1 = tableAddConstraint(spark, tt, "cents_nonneg", "cents >= 0")
      require(v1 == 1L, s"ADD CONSTRAINT must land a commit, got v$v1")
      // valid append passes
      tableAppend(flat.filter(col("typ") === "click")
        .withColumn("event_id", col("event_id") + 1000000000000L), tt) // v2
      // violating append refuses ATOMICALLY (no version lands)
      val before = tableVersion(spark, tt)
      val refused = refuses[IllegalArgumentException](
        tableAppend(flat.limit(50).withColumn("cents", lit(-1L)), tt))
      require(refused && tableVersion(spark, tt) == before,
        "a violating append must refuse without committing")
      // violating MERGE refuses too (the rewrite chokepoint)
      val refusedMerge = refuses[IllegalArgumentException](tableMerge(spark, tt,
        flat.filter(col("typ") === "purchase").limit(20)
          .withColumn("cents", col("cents") - 1000000L), "event_id"))
      require(refusedMerge && tableVersion(spark, tt) == before,
        "a violating merge must refuse without committing")
      // drop, and the once-refused shape (negative cents) now lands
      tableDropConstraint(spark, tt, "cents_nonneg") // v3
      tableAppend(flat.filter(col("typ") === "error")
        .withColumn("event_id", col("event_id") + 2000000000000L)
        .withColumn("cents", -col("cents")), tt) // v4
    }
    latest(spark, t).transform(typeSummary)
  }

  /** CONVERT gate (round 14), oracle-gated: a plain parquet directory
    * becomes a commit-log table with ZERO data copied
    * ([[tableConvert]] — renames into `data/c0-convert/`, commits v0),
    * then the full verb set applies: a COW DELETE rewrites only
    * touched files at v1, an append lands v2, and BOTH v0 (the
    * pre-conversion content, served by the original bytes) and HEAD
    * read back — the oracle replays each cut from the raw source, so
    * conversion losslessness AND post-conversion DML are
    * content-checked. */
  def convertRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_conv") { tt =>
      val flat = centsOf(spark, dir)
      // the pre-existing plain layout a user would convert
      clustered(flat).write.mode("overwrite").parquet(tt)
      val v0 = tableConvert(spark, tt)
      require(v0 == 0L)
      val v1 = tableDeleteWhere(spark, tt, col("typ") === "view")
      require(v1 == 1L)
      // untouched files must carry BY REFERENCE through the delete
      require(shared(spark, tt, 0L, 1L).nonEmpty,
        "post-convert COW delete must carry untouched converted files")
      tableAppend(
        flat.filter(col("typ") === "click")
          .withColumn("event_id", col("event_id") + 1000000000000L), tt)
    }
    versions(readTableVersion(spark, t, _), 0L, 2L)
  }

  /** MERGE-ON-READ DML gate (round 13, SupportsDelta over positional
    * DVs): with `graft.dml.mode=mor`, three SQL mutations land WITHOUT
    * rewriting a single data file — v1 UPDATEs every purchase
    * (cents = id%1000+7: DV entries for the old rows + fresh row
    * images), v2 RE-UPDATEs the id%10=0 slice of those already-updated
    * rows (cents+5 — the case the retired key-based DV model could not
    * express: the second update DV-deletes the FIRST update's fresh
    * row by its own (file, pos)), v3 DV-deletes the sparse
    * error∧(id%23=0) class. The builder asserts every prior file
    * carried by reference at every version; the gate reads the final
    * cut back through the catalog and the oracle replays it from the
    * raw source. */
  def updateMorRead(spark: SparkSession, dir: String): DataFrame =
    warehouse(spark, dir, Warehouse("graft_mor_wh", confs = mor,
      sql = Seq("CREATE TABLE {t} AS SELECT * FROM {src}",
        "UPDATE {t} SET cents = event_id % 1000 + 7 WHERE typ = 'purchase'",
        "UPDATE {t} SET cents = cents + 5 " +
          "WHERE typ = 'purchase' AND event_id % 10 = 0",
        "DELETE FROM {t} WHERE typ = 'error' AND event_id % 23 = 0"),
      holds = t => (1L to 3L).foreach { v =>
        val prev = commitEntries(spark, t.path, v - 1).toSet
        val cur = commitEntries(spark, t.path, v).toSet
        require(prev.subsetOf(cur),
          s"MOR v$v must carry EVERY prior file by reference " +
            s"(missing: ${prev -- cur})")
        require(dvDirsOf(spark, t.path, v).nonEmpty,
          s"MOR v$v must carry a DV dir")
      },
      read = t => typeSummary(t.head)))

  /** CDC pre/post-image pairing gate (round 14, round-13 VERDICT #3),
    * oracle-gated: a MOR UPDATE (`graft.dml.mode=mor`) surfaces
    * through the change feed as PAIRED `update_preimage` /
    * `update_postimage` rows — Delta's CDF row types — instead of bare
    * delete+insert: the statement's dv dir and insert tag share a
    * `moru-<uid>` marker the feed keys on. The fixture updates every
    * purchase (cents = id%1000+7) in one MOR statement and also
    * appends a plain insert batch in a second commit, then feeds BOTH
    * transitions: the update pairs, the append stays `insert`. The
    * oracle replays pre-images (original purchase rows), post-images
    * (updated values) and the appended batch from the raw source. */
  def cdfMorRead(spark: SparkSession, dir: String): DataFrame =
    warehouse(spark, dir, Warehouse("graft_cdfmor_wh", confs = mor,
      sql = Seq("CREATE TABLE {t} AS SELECT * FROM {src} WHERE event_id % 2 = 0",
        "UPDATE {t} SET cents = event_id % 1000 + 7 WHERE typ = 'purchase'",
        // a plain append on top: its feed rows must stay `insert`
        "INSERT INTO {t} SELECT * FROM {src} WHERE event_id % 2 = 1"),
      read = t => feeds(changeFeed(spark, t.path, _, _), 0L, 1L)))

  /** COPY INTO gate (round 14), oracle-gated: idempotent landing-dir
    * ingest — two slices land as one file each and the first COPY INTO
    * ingests both in one commit; a RE-RUN over the same dir is a no-op
    * (zero files, HEAD unmoved — the exactly-once ledger); a third
    * slice lands and the next run ingests ONLY it. The final table cut
    * must equal the oracle's replay of the whole source. */
  def copyIntoRead(spark: SparkSession, dir: String): DataFrame = {
    val base = fresh(spark, dir, "graft_copyinto") { base =>
      val table = s"$base/table"
      val landing = s"$base/landing"
      val flat = centsOf(spark, dir)
      third(flat, 0).write.mode("append").parquet(landing)
      third(flat, 1).write.mode("append").parquet(landing)
      val n1 = tableCopyInto(spark, table, landing)
      require(n1 == 2L,
        s"first COPY INTO must ingest both landed files, got $n1")
      val v1 = tableVersion(spark, table)
      require(tableCopyInto(spark, table, landing) == 0L,
        "a re-run over the same landing dir must be a no-op")
      require(tableVersion(spark, table) == v1,
        "a no-op COPY INTO must not move HEAD")
      third(flat, 2).write.mode("append").parquet(landing)
      val n2 = tableCopyInto(spark, table, landing)
      require(n2 == 1L,
        s"incremental COPY INTO must ingest only the new file, got $n2")
    }
    latest(spark, s"$base/table").transform(typeSummary)
  }

  /** Generated-column gate (round 14), oracle-gated: the GENERATED
    * ALWAYS AS lifecycle — v0 lands WITH a conforming `band =
    * pmod(cents, 97)` column, the declaration commits (after a
    * nonconforming declaration refuses), an append WITHOUT the column
    * gets it COMPUTED at the chokepoint, an append with a WRONG
    * explicit value refuses atomically, and an append with matching
    * explicit values passes. Final cut ≡ the oracle recomputing the
    * column for every row from source. */
  def generatedRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_gen") { tt =>
      val flat = centsOf(spark, dir)
      val withBand = flat.withColumn("band", pmod(col("cents"), lit(97L)))
      tableAppend(withBand.filter(pmod(col("event_id"), lit(3)) === 0), tt) // v0
      // a nonconforming declaration refuses
      require(refuses[IllegalArgumentException](
        tableAddGeneratedColumn(spark, tt, "band", "pmod(cents, 96)")),
        "declaring a nonconforming generated column must refuse")
      val v1 = tableAddGeneratedColumn(spark, tt, "band", "pmod(cents, 97)")
      require(v1 == 1L, s"generated declaration must commit, got v$v1")
      // an append WITHOUT the column gets it computed
      tableAppend(flat.filter(pmod(col("event_id"), lit(3)) === 1), tt) // v2
      // a wrong explicit value refuses atomically
      val before = tableVersion(spark, tt)
      val refused = refuses[IllegalArgumentException](tableAppend(
        withBand.filter(pmod(col("event_id"), lit(3)) === 2)
          .withColumn("band", col("band") + 1L), tt))
      require(refused && tableVersion(spark, tt) == before,
        "a mismatching generated value must refuse without committing")
      // matching explicit values pass
      tableAppend(withBand.filter(pmod(col("event_id"), lit(3)) === 2), tt) // v3
    }
    latest(spark, t)
      .groupBy(col("typ"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("band")).as("sum_band"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
  }

  /** MERGE WITH SCHEMA EVOLUTION gate (round 14), oracle-gated: the
    * source carries a `score` column the target lacks plus brand-new
    * keys — without the flag the merge refuses (column mismatch, HEAD
    * unmoved); with it, the schema evolves as its own commit and the
    * merge lands as the next one: matched purchases update WITH their
    * score, pre-evolution rows read score NULL, new keys insert.
    * Final cut ≡ the oracle's era-aware replay. */
  def mergeEvolveRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_mevo") { tt =>
      val flat = centsOf(spark, dir)
      tableAppend(flat.repartition(4, col("typ")), tt) // v0
      val upd = flat.filter(col("typ") === "purchase")
        .withColumn("cents", col("cents") + 50000L)
        .withColumn("score", pmod(col("event_id"), lit(13L)))
      val ins = flat.filter(col("typ") === "purchase" &&
          pmod(col("event_id"), lit(10)) === 0)
        .select((col("event_id") + 1000000000000L).as("event_id"),
          lit("restock").as("typ"), col("cents"),
          pmod(col("event_id"), lit(13L)).as("score"))
      val source = upd.unionByName(ins)
      // without the flag: a source/target mismatch refuses, HEAD unmoved
      val refused = refuses[IllegalArgumentException](
        tableMerge(spark, tt, source, "event_id"))
      require(refused && tableVersion(spark, tt) == 0L,
        s"an unflagged wider-source merge at $tt must refuse")
      val vEnd = tableMerge(spark, tt, source, "event_id",
        schemaEvolution = true)
      require(vEnd == 2L,
        s"evolving merge at $tt must land schema + merge commits, got $vEnd")
    }
    latest(spark, t)
      .groupBy(col("typ"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        count(col("score")).as("n_score"), sum(col("score")).as("sum_score"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
  }

  /** IDENTITY gate (round 14), oracle-gated on derived invariants:
    * v0 seeds `rid` with explicit unique values (the event ids), the
    * declaration syncs the high water from their max, an append
    * WITHOUT the column gets system-assigned values strictly above
    * it; per-type `count(DISTINCT rid)` must equal `count(*)` —
    * global uniqueness the oracle replays as count-of-rows — and the
    * builder asserts every assigned id clears the seeded range. */
  def identityRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_ident") { tt =>
      val flat = centsOf(spark, dir)
      tableAppend(flat.filter(pmod(col("event_id"), lit(2)) === 0)
        .withColumn("rid", col("event_id")), tt) // v0: explicit seed
      val v1 = tableAddIdentityColumn(spark, tt, "rid")
      require(v1 == 1L, s"identity declaration must commit, got v$v1")
      val seedMax = readIdentity(spark, tt).head._4
      tableAppend(flat.filter(pmod(col("event_id"), lit(2)) === 1), tt) // v2
      val assignedMin = readTableVersion(spark, tt, 2L)
        .filter(pmod(col("event_id"), lit(2)) === 1)
        .agg(min(col("rid"))).head().getLong(0)
      require(assignedMin > seedMax,
        s"assigned ids must clear the seeded range at $tt " +
          s"($assignedMin !> $seedMax)")
      require(readIdentity(spark, tt).head._4 >= assignedMin,
        s"the high water at $tt must advance with the assignment")
    }
    latest(spark, t)
      .groupBy(col("typ"))
      .agg(count(lit(1)).as("n"), countDistinct(col("rid")).as("n_ids"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
  }

  /** SQL MERGE INTO gate (round 12), oracle-gated: the io_merge
    * fixture driven by the MERGE STATEMENT through the catalog instead
    * of the API verb — same source (purchases updated by event_id,
    * clicks re-inserted displaced), same two-cut oracle. SQL MERGE ≡
    * API merge ≡ source replay. */
  def mergeSqlRead(spark: SparkSession, dir: String): DataFrame =
    warehouse(spark, dir, Warehouse("graft_msql_wh", source = clustered,
      sql = Seq("CREATE TABLE {t} AS SELECT * FROM {src}",
        """MERGE INTO {t} AS tg USING (
          |  SELECT event_id, typ, cents + 100000 AS cents FROM {src}
          |  WHERE typ = 'purchase'
          |  UNION ALL
          |  SELECT event_id + 1000000000000 AS event_id, typ, cents FROM {src}
          |  WHERE typ = 'click') AS src
          |ON tg.event_id = src.event_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin),
      holds = t => require(shared(spark, t.path, 0L, 1L).nonEmpty,
        "SQL MERGE must carry untouched files by reference"),
      read = t => versions(t.at, 0L, 1L)))

  /** INSERT OVERWRITE gate (round 12 s3), oracle-gated: CTAS lands the
    * full flat table as v0, `INSERT OVERWRITE ... SELECT` replaces the
    * content with the purchases-only cut as v1 (ONE replace commit —
    * fresh files only), and BOTH cuts read back via `VERSION AS OF` —
    * the oracle replays each from the raw source, so overwrite content
    * AND history intactness are content-checked. */
  def overwriteRead(spark: SparkSession, dir: String): DataFrame =
    warehouse(spark, dir, Warehouse("graft_ow_wh",
      sql = Seq("CREATE TABLE {t} AS SELECT * FROM {src}",
        "INSERT OVERWRITE {t} SELECT * FROM {src} WHERE typ = 'purchase'"),
      holds = t => require(tableVersion(spark, t.path) == 1L,
        "overwrite must land exactly one replace commit"),
      read = t => versions(t.at, 0L, 1L)))

  /** Atomic-CTAS + SQL-time-travel gate (round 12), oracle-gated:
    * `CREATE TABLE ... AS SELECT` lands the whole source as commit v0
    * in ONE statement (the staged create — invisible until the OCC v0
    * claim wins), `DELETE FROM` lands v1, and the gate reads `VERSION
    * AS OF 0` back BY IDENTIFIER — Spark's time-travel clause through
    * the catalog's loadTable(ident, version). The DuckDB oracle
    * replays the FULL source aggregation, so the pinned cut must see
    * through the later delete: CTAS content + version isolation are
    * both content-checked. */
  def ctasRead(spark: SparkSession, dir: String): DataFrame =
    warehouse(spark, dir, Warehouse("graft_ctas_wh",
      sql = Seq("CREATE TABLE {t} AS SELECT * FROM {src}",
        "DELETE FROM {t} WHERE typ = 'view'"),
      read = t => typeSummary(t.at(0L))))

  /** Transactional DSv2 write gate (round 12), oracle-gated: the
    * foreachBatch sink pattern through the connector — batch 1
    * (purchases) committed via `option("txnVersion", 1)`, REDELIVERED
    * (must no-op: a duplicate would double the purchase sums the
    * oracle checks), then batch 2 (the rest); HEAD read ≡ the full
    * source aggregation. Same oracle as `io_write_dsv2` — the content
    * contract is identical, the delivery discipline is what differs. */
  def dsv2WriteTxnRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_dsv2txn") { tt =>
      val flat = centsOf(spark, dir)
      tableAppend(flat.filter(col("typ") === "view"), tt) // v0 (API)
      def deliver(b: Long, df: DataFrame): Unit =
        df.write.format("graft").option("txnVersion", b)
          .mode("append").save(tt)
      val purchases = flat.filter(col("typ") === "purchase")
      deliver(1L, purchases)
      deliver(1L, purchases) // redelivery — MUST no-op
      require(tableVersion(spark, tt) == 1L,
        s"redelivered txn batch committed twice at $tt")
      deliver(2L,
        flat.filter(!col("typ").isInCollection(Seq("view", "purchase"))))
    }
    spark.read.format("graft").load(t).transform(typeSummary)
  }

  /** I26 write path (round 12), oracle-gated: two thirds of the events
    * table are appended THROUGH the connector
    * (`df.write.format("graft").mode("append")` → V1Write →
    * tableAppendOcc) onto an API-created v0, then the final version is
    * read back and aggregated — write→commit-log→read must reproduce
    * the batch aggregation DuckDB computes from the source. The write
    * is the thing gated: a dropped/duplicated/mis-committed append
    * shifts n and sum_cents. */
  def dsv2WriteRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fresh(spark, dir, "graft_io_dsv2w") { tt =>
      val flat = centsOf(spark, dir)
      // v0 creates the table via the API (the connector needs an
      // existing log to infer schema from); v1 and v2 land through
      // the DSv2 write path
      tableAppend(flat.filter(col("typ") === "view"), tt)
      flat.filter(col("typ") === "purchase")
        .write.format("graft").mode("append").save(tt)
      flat.filter(!col("typ").isInCollection(Seq("view", "purchase")))
        .write.format("graft").mode("append").save(tt)
      require(tableVersion(spark, tt) == 2L,
        s"expected 3 commits at $tt, head is ${tableVersion(spark, tt)}")
    }
    spark.read.format("graft").load(t).transform(typeSummary)
  }

  private def skipTable(spark: SparkSession, dir: String): String =
    fresh(spark, dir, "graft_io_skip") { t =>
      val flat = centsOf(spark, dir, withUs = true)
      // three stats-carrying commits by day band, each range-laid-out
      // into 3 time-bounded files (the Z-order/I11 discipline in one
      // dimension) so the stats bounds are tight per file; stats
      // collected on BOTH us and cents (round 11: multi-column — the
      // Delta add-action shape), skipping reads pick their column
      def batch(loUs: Long, hiUs: Long): Unit = {
        tableAppendStats(
          flat.filter(col("us") >= loUs && col("us") < hiUs)
            .repartitionByRange(3, col("us")), t, "us", "cents")
        ()
      }
      batch(0L, 1704931200000000L)                      // ≤ 01-10
      batch(1704931200000000L, 1705795200000000L)       // 01-11..20
      batch(1705795200000000L, Long.MaxValue)           // 01-21..
    }

  /** I22, oracle-gated: the latest version read through commit stats
    * for the 2024-01-08..14 band — IoSpec separately pins that the
    * skipping read touches strictly fewer files than the commit lists
    * and equals the unpruned filtered read; here the oracle proves the
    * routed band's CONTENT against the raw source.
    */
  def skippingRead(spark: SparkSession, dir: String): DataFrame = {
    val t = skipTable(spark, dir)
    val lo = 1704672000000000L // 2024-01-08 00:00:00 UTC (µs)
    val hi = 1705190400000000L // 2024-01-14 00:00:00 UTC (µs)
    readTableVersionSkipping(spark, t, tableVersion(spark, t), "us", lo, hi).transform(typeSummary)
  }
}
