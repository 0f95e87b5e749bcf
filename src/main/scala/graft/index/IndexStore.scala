package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized tag index — the Spark analog of the reference's
  * compaction: MemIndex snapshots are flushed into the on-disk
  * COW B+-tree (/root/reference/src/index/index_server.cpp
  * try_compact/compact, index_tree.cpp write paths). A segment holds
  * what the in-memory index holds: series-catalog rows (tsid, <label
  * columns>, min_ts, max_ts, n_samples), so the in-memory and the
  * on-disk index answer matchers through the one filter
  * [[TagIndex.resolve]].
  *
  * The store is LSM-shaped, like the reference's flush-then-compact
  * cycle (index_server.h:50-66 keeps a compaction watermark and
  * flushes only entries past it):
  *
  *  - each flush writes a *segment* directory `seg=<wm_ns>` of
  *    catalog rows (plain parquet files, no label_name partitioning),
  *    where `wm_ns` is the segment's EXCLUSIVE ingest-time high watermark in
  *    raw nanoseconds: every sample with ts_ns < wm_ns is covered by
  *    this or an earlier segment, every sample with ts_ns >= wm_ns by a
  *    later one. Half-open nanosecond intervals mean no boundary sample
  *    can ever be dropped or double-counted (a µs-truncated watermark
  *    could do both), and the watermark is read back from committed
  *    directory names — crash-consistent, no sidecar state;
  *  - [[materializeIncremental]] indexes only samples at-or-past the
  *    newest segment's watermark (the analog of last_compaction_wm) —
  *    at 100 TB a per-batch flush touches the batch, never the
  *    history. A retry after a crash between commit and anything else
  *    recomputes the same fresh set, lands on the same `seg=` name and
  *    overwrites it: flush is idempotent;
  *  - [[load]] is the merge-on-read view: per (tsid, labels) the
  *    segment rows fold with min/max/sum, all decomposable, so the
  *    view equals a full rebuild exactly;
  *  - [[compact]] (manual_compact) folds the segments into one (built
  *    write-aside, swapped via backup-rename — a crash at any point
  *    leaves a complete store at either the path or the backup).
  *
  * An inclusive matcher on `name op value` reaches the segment scan as
  * a pushed filter on the label column (row-group stats — the analog
  * of the per-label tree descent). The index is ∝ #series, so at
  * 100 TB of samples it stays a few GB.
  */
object IndexStore {

  /** The segment format, part of the prefix of stores landed across
    * JVMs, so a store written in an older format is rebuilt, not read. */
  private[graft] val Layout = "cat"

  private def write(catalog: DataFrame, segDir: String): Unit =
    catalog.write.mode("overwrite").parquet(segDir)

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Raw-nanosecond event time of a sample frame (falls back to µs*1000
    * when only the converted timestamp is present — exact there, since
    * that column carries µs precision).
    */
  private def nsCol(df: DataFrame): Column =
    if (df.columns.contains("ts_ns")) col("ts_ns")
    else unix_micros(col("ts")) * 1000L

  /** Exclusive ns watermark of a batch: max sample ts_ns + 1. */
  private def batchWmNs(samples: DataFrame): Option[Long] =
    Option(samples.agg(max(nsCol(samples))).head().get(0))
      .map(_.asInstanceOf[Long] + 1L)

  /** Directory names under `path` starting with `prefix` (`seg=`,
    * `del=`) that finished their write — a crash mid-flush leaves a
    * dir WITHOUT Spark's _SUCCESS commit marker, and such a dir must
    * count for nothing: not for the watermark (a segment's name alone
    * would make the retry skip the lost rows) and not for reads
    * (partial files). Every store operation goes through this filter;
    * uncommitted leftovers are overwritten by the retry.
    */
  private def committed(spark: SparkSession, path: String, prefix: String): Seq[String] =
    if (!exists(spark, path)) Seq.empty
    else {
      val f = fs(spark, path)
      f.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(_.isDirectory).map(_.getPath)
        .filter(p => p.getName.startsWith(prefix) &&
          f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
        .map(_.getName).toSeq
    }

  /** The store's exclusive ingest-time watermark in raw ns, read from
    * COMMITTED segment directory names (None for an empty/absent
    * store) — exactly what has been durably flushed, nothing else.
    */
  def storedWatermarkNs(spark: SparkSession, path: String): Option[Long] =
    committed(spark, path, "seg=")
      .filter(isNumericSeg) // skip seg=b<id> batch segments
      .map(_.stripPrefix("seg=").toLong).maxOption

  /** Ingest-time high watermark as a timestamp (µs-truncated view of
    * [[storedWatermarkNs]] - 1; None for an empty/absent store).
    */
  def watermark(spark: SparkSession, path: String): Option[java.sql.Timestamp] =
    storedWatermarkNs(spark, path).map { wm =>
      val us = (wm - 1L) / 1000L
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }

  /** Full flush (first compaction): rewrite the whole store as one
    * segment. An empty batch rebuilds an EMPTY store (the path always
    * ends up replaced — a rebuild must never leave stale rows serving
    * reads; [[load]] renders a segment-less store as an empty index).
    *
    * Built write-aside and swapped via the same checked backup-rename
    * protocol as [[compact]]: the old store serves reads until the new
    * segment's write COMMITS, and a crash at any instant leaves a
    * complete store at `path` or `path.bak` (healed by [[recover]]) —
    * never the silently-empty index a delete-then-write would render
    * after a crash between the delete and the write.
    */
  def materialize(idx: TagIndex, path: String): Unit = {
    val spark = idx.samples.sparkSession
    recover(spark, path)
    val wm = batchWmNs(idx.samples)
    val f = fs(spark, path)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val tmp = path + ".compacting"
    val bak = path + ".bak"
    f.delete(p(tmp), true)
    wm match {
      case Some(w) => write(idx.seriesCatalog, s"$tmp/seg=$w")
      case None    => f.mkdirs(p(tmp)) // empty batch → empty store
    }
    f.delete(p(bak), true)
    // rename onto an existing dir NESTS (see compact) — clear first
    if (exists(spark, path))
      require(f.rename(p(path), p(bak)) && !f.exists(p(path)),
        s"rename $path -> $bak failed")
    require(f.rename(p(tmp), p(path)), s"rename $tmp -> $path failed")
    f.delete(p(bak), true)
  }

  /** Incremental flush (try_compact analog): index only the samples
    * at-or-past the stored exclusive watermark and commit them as a new
    * segment named by the new watermark. Cost is ∝ the new batch — the
    * history is never rescanned. The ts_ns filter reaches parquet
    * row-group stats (a filter on the converted timestamp cannot push).
    *
    * Refuses a store built from batch-id segments ([[flushBatch]]):
    * those carry no event-time watermark, so a time-based incremental
    * flush cannot know what is already indexed — silently falling back
    * to a full [[materialize]] would DELETE the streamed history.
    */
  def materializeIncremental(idx: TagIndex, path: String): Unit = {
    val spark = idx.samples.sparkSession
    storedWatermarkNs(spark, path) match {
      case None =>
        require(committed(spark, path, "seg=").isEmpty,
          s"store at $path holds batch-id segments (streaming flushBatch); " +
            "time-watermark incremental flush does not apply — keep using flushBatch")
        materialize(idx, path)
      case Some(wm) =>
        val fresh = idx.samples.filter(nsCol(idx.samples) >= wm)
        batchWmNs(fresh).foreach { newWm =>
          write(new TagIndex(fresh, idx.labelNames).seriesCatalog,
            s"$path/seg=$newWm")
        }
    }
  }

  /** Streaming flush: index an ENTIRE micro-batch as segment
    * `seg=b<batchId>`. In the streaming loop the micro-batch id is the
    * ingest clock (monotone and replay-stable under the checkpoint), so
    * this needs no event-time assumption — late data is indexed by the
    * batch that carries it. Idempotence under foreachBatch replay:
    * a COMMITTED segment for this batch id already holds exactly this
    * batch's rows, so the replayed flush is a no-op — which also makes
    * it safe for [[compact]] to reuse the max batch id as the merged
    * segment's name (a replay can never clobber merged history);
    * an UNCOMMITTED leftover (crash mid-write) is overwritten. Empty
    * micro-batches (idle stream ticks) write nothing. This is the
    * reference's WAL → MemIndex → try_compact loop
    * (index_server.h:48-66) with the checkpoint standing in for the WAL.
    */
  def flushBatch(idx: TagIndex, path: String, batchId: Long): Unit = {
    val spark = idx.samples.sparkSession
    // one listing serves both the family guard and the idempotence
    // check — per-micro-batch metadata RPCs stay O(#segments), not 2×
    val segs = committed(spark, path, "seg=")
    require(!segs.exists(s => isNumericSeg(s)),
      s"store at $path holds time-watermark segments; streaming flushBatch " +
        "into it would double-count samples past the watermark in the " +
        "merge-on-read fold — use a dedicated store path per ingest mode")
    // batch ids must be monotone over the store's life: a RESET streaming
    // checkpoint restarts ids at 0, whose segments no longer match the
    // committed history (especially after compact renamed it to the max
    // id), so already-merged rows would be re-flushed and double-counted
    // by the merge-on-read fold. Replay of the max id itself is the
    // legitimate foreachBatch retry and falls through to the skip below.
    val maxCommitted = segs.map(_.stripPrefix("seg=b"))
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption
    require(maxCommitted.forall(batchId >= _),
      s"flushBatch(batchId=$batchId) into $path, which already committed " +
        s"batch ${maxCommitted.getOrElse(-1L)}: checkpoint reset into an " +
        "existing store is unsupported — use a fresh store path")
    if (!segs.contains(s"seg=b$batchId") && !idx.samples.isEmpty)
      write(idx.seriesCatalog, s"$path/seg=b$batchId")
  }

  private def isNumericSeg(name: String): Boolean = {
    val n = name.stripPrefix("seg=")
    n.nonEmpty && n.forall(_.isDigit)
  }

  /** Segment ordinal for tombstone scoping: the ns watermark of a
    * time segment, or the batch id of a `seg=b<id>` segment — both
    * monotone over the store's life (enforced by flushBatch /
    * materializeIncremental), which is what lets a tombstone pin
    * "everything flushed so far" as a single number.
    */
  private def segOrd(name: String): Long =
    name.stripPrefix("seg=").stripPrefix("b").toLong

  /** delete_series — the admin surface every TSDB needs (Prometheus's
    * delete_series; tombstones over the reference's COW index): resolve
    * the matchers against the CURRENT merged view, record the matched
    * tsids in a tombstone `del=<k>` stamped with the store's max
    * segment ordinal. Merge-on-read hides tombstoned series in every
    * segment up to that ordinal; data flushed AFTER the delete
    * resurrects the series (delete covers existing blocks, never
    * future ingest — Prometheus semantics); [[compact]] physically
    * purges the rows and retires the tombstones with the swap. A full
    * [[materialize]] rebuild from samples also discards tombstones —
    * the source of truth wins. Like compact, deletes serialize with
    * other store mutations (run during an ingest pause). Returns the
    * number of series tombstoned.
    */
  def deleteSeries(spark: SparkSession, path: String,
      matchers: Seq[LabelMatcher]): Long = {
    val segs = committed(spark, path, "seg=")
    if (segs.isEmpty) return 0L
    val resolved = resolvePostings(spark, path, matchers)
    if (resolved.isEmpty) return 0L
    val nextDel = committed(spark, path, "del=")
      .map(_.stripPrefix("del=").toLong).maxOption.getOrElse(-1L) + 1L
    // the count is read back from the COMMITTED tombstone, so it is
    // its contents by construction; the set is never collected
    val del = s"$path/del=$nextDel"
    resolved.select(col("tsid"), lit(segs.map(segOrd).max).as("upto"))
      .sortWithinPartitions(col("tsid"))
      .write.mode("overwrite").parquet(del)
    spark.read.parquet(del).count()
  }

  /** Merge-on-read view of the store: COMMITTED segments folded per
    * series into catalog rows (an uncommitted crash leftover
    * contributes nothing). With one segment (post-[[compact]]) the
    * fold is the identity.
    */
  def load(spark: SparkSession, path: String): DataFrame = {
    graft.plans.ParamPlans.install(spark)
    val segs = committed(spark, path, "seg=")
    if (segs.isEmpty) emptyView(spark)
    else loadSegs(spark, path, segs, committed(spark, path, "del="))
  }

  /** A store that exists but holds no committed segments yet (e.g. a
    * just-started streaming pipeline whose first batches were empty)
    * is an EMPTY index, not an error: a catalog without label columns.
    */
  private def emptyView(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("tsid", LongType), StructField("min_ts", TimestampType),
        StructField("max_ts", TimestampType), StructField("n_samples", LongType))))
  }

  /** Snapshot (time-travel) read: the merge-on-read view as of segment
    * ordinal `maxOrd` — only segments with ordinal ≤ maxOrd and only
    * tombstones whose `upto` ≤ maxOrd contribute, so the result equals
    * what [[load]] returned when that segment was the store's newest.
    * Because committed segments and tombstones are immutable (flush
    * overwrites only UNcommitted leftovers, compact retires via
    * backup-rename), every historical view stays readable until a
    * compact folds it away — the debugging/replay surface a pipeline
    * needs when a bad ingest must be diffed against the pre-ingest
    * index.
    */
  def loadAt(spark: SparkSession, path: String, maxOrd: Long): DataFrame = {
    graft.plans.ParamPlans.install(spark)
    val segs = committed(spark, path, "seg=").filter(segOrd(_) <= maxOrd)
    if (segs.isEmpty) return emptyView(spark)
    val dels = committed(spark, path, "del=")
    val upto = tombstoneUpto(spark, path, dels)
    loadSegs(spark, path, segs, dels.filter(d => upto.get(d).forall(_ <= maxOrd)))
  }

  /** Each tombstone's `upto` ordinal, by tombstone dir — one aggregate
    * in one task (no exchange, so one job however many tombstones),
    * collected: one row per tombstone. An empty tombstone hides
    * nothing and has no row.
    */
  private def tombstoneUpto(spark: SparkSession, path: String,
      dels: Seq[String]): Map[String, Long] =
    if (dels.isEmpty) Map.empty
    else tombstones(spark, path, dels)
      .select(col("del"), col("upto")).coalesce(1)
      .groupBy(col("del")).agg(max(col("upto")))
      .collect().map(r => s"del=${r.get(0)}" -> r.getLong(1)).toMap

  /** Tombstone rows (tsid, upto, del): [[deleteSeries]] writes the
    * first two, the dir name gives the third. The schema is declared,
    * so opening them reads no footer (no schema-inference job).
    */
  private def tombstones(spark: SparkSession, path: String, dels: Seq[String]): DataFrame =
    spark.read.schema("tsid BIGINT, upto BIGINT").option("basePath", path)
      .parquet(dels.map(d => s"$path/$d"): _*)

  /** The merge-on-read fold over an EXPLICIT segment + tombstone list —
    * lets compact build its merged copy from exactly the snapshot it is
    * about to replace, never a later listing. A tombstoned tsid's rows
    * are dropped from every segment at-or-below the tombstone's `upto`
    * ordinal BEFORE the fold (so a resurrected series' counts restart
    * from its post-delete segments only). The tombstone set is
    * ∝ deleted series — Catalyst broadcasts it into the row filter.
    */
  private def loadSegs(spark: SparkSession, path: String, segs: Seq[String],
      dels: Seq[String]): DataFrame = {
    val raw = spark.read.option("basePath", path)
      .schema(segSchema(spark, s"$path/${segs.head}"))
      .parquet(segs.map(s => s"$path/$s"): _*)
    val live =
      if (dels.isEmpty) raw
      else {
        val tomb = tombstones(spark, path, dels)
          .groupBy(col("tsid")).agg(max(col("upto")).as("__upto"))
        // `seg` is the partition column of the segment layout; its
        // ordinal comparison works for both families (b-prefix stripped)
        val ord = regexp_replace(col("seg").cast("string"), "^b", "").cast("long")
        raw.withColumn("__ord", ord)
          .join(tomb, Seq("tsid"), "left")
          .filter(col("__upto").isNull || col("__ord") > col("__upto"))
          .drop("__ord", "__upto")
      }
    // per series: tsid and the label columns of the segment schema
    live.groupBy(col("tsid") +: TagIndex.catalogLabels(live.drop("seg")).map(col): _*)
      .agg(min(col("min_ts")).as("min_ts"), max(col("max_ts")).as("max_ts"),
        sum(col("n_samples")).as("n_samples"))
  }

  /** The segments' data schema, read on the driver from the footer of
    * one part file of `segDir`: Spark writes its row schema into the
    * footer metadata, the fact parquet schema inference reads in a
    * Spark job of its own (inference, too, reads a single footer).
    * Every committed segment is a [[write]] of a catalog frame, and
    * Spark writes a part file carrying that key even for an empty
    * frame, so a segment without one is refused, never inferred.
    */
  private def segSchema(spark: SparkSession, segDir: String)
      : org.apache.spark.sql.types.StructType = {
    val part = fs(spark, segDir).listStatus(new org.apache.hadoop.fs.Path(segDir))
      .map(_.getPath).filter(_.getName.startsWith("part-")).sortBy(_.getName).headOption
    require(part.nonEmpty, s"index segment $segDir has no part file")
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part.get,
        spark.sparkContext.hadoopConfiguration))
    val json = try r.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    finally r.close()
    require(json != null, s"index segment $segDir: ${part.get.getName} carries no Spark row schema")
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** manual_compact: fold all segments into one merged segment carrying
    * the same watermark identity — the numeric ns watermark when
    * present, else the max batch id (safe against foreachBatch replay
    * because [[flushBatch]] skips committed segments). Mixed stores
    * (both families) are refused: a numeric merged name would let a
    * later time-based flush re-index batch-segment samples past the
    * watermark and double-count them.
    *
    * The merged store is built write-aside, then swapped via a backup
    * rename with every rename result CHECKED — at every instant a
    * complete store exists at `path` or at `path.bak`, and a crash in
    * the window between the two renames is healed by the automatic
    * bak-restore at the start of the next compact (or [[recover]]).
    *
    * Like the reference's manual_compact (which serializes on
    * compaction_mutex, index_server.h:61-66), compact assumes no
    * concurrent flush into this store — run it during an ingest pause.
    * As a backstop: everything derives from ONE segment listing; after
    * the store is frozen (renamed to the backup) the frozen contents
    * are re-verified against that snapshot, and any unexpected state —
    * a commit in the snapshot-to-freeze gap, or a racing flush
    * recreating the store dir — ABORTS LOUDLY with both copies
    * preserved rather than guessing. Out-of-contract concurrency can
    * cost a retry, never data.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    recover(spark, path)
    // ONE listing drives the family guard, the merged name AND the
    // snapshot — a second listing could disagree under a racing flush
    // and hand the merged segment a stale identity
    val snapshot = committed(spark, path, "seg=")
    val numeric = snapshot.filter(isNumericSeg)
    val batchSegs = snapshot.filter(s => !isNumericSeg(s))
    require(numeric.isEmpty || batchSegs.isEmpty,
      s"store at $path mixes time-watermark and batch-id segments; " +
        "compact cannot assign the merged segment a safe identity")
    val segName = numeric.map(_.stripPrefix("seg=").toLong).maxOption
      .map(wm => s"seg=$wm")
      .orElse {
        batchSegs.map(_.stripPrefix("seg=b"))
          .filter(n => n.nonEmpty && n.forall(_.isDigit))
          .map(_.toLong).maxOption.map(b => s"seg=b$b")
      }
    segName.foreach { sn =>
      val tmp = path + ".compacting"
      val bak = path + ".bak"
      val f = fs(spark, path)
      def p(s: String) = new org.apache.hadoop.fs.Path(s)
      // IMPORTANT rename semantics: Hadoop FileSystem.rename onto an
      // EXISTING directory does not fail — it nests the source inside
      // the destination. Every rename below therefore checks the
      // destination's absence explicitly first; on any unexpected
      // state the swap ABORTS LOUDLY with both copies preserved
      // (pre-compact store at bak, merged copy at tmp) — the store is
      // never silently lost, nested, or double-counted.
      f.delete(p(tmp), true)
      // tombstones from the same snapshot instant: the merged segment
      // is physically purged, and the del= dirs retire with the swap
      // (they move to the backup with the old store and are deleted)
      write(loadSegs(spark, path, snapshot, committed(spark, path, "del=")), s"$tmp/$sn")
      f.delete(p(bak), true)
      // freeze the store; from here no flush can commit into it
      require(f.rename(p(path), p(bak)) && !f.exists(p(path)),
        s"rename $path -> $bak failed")
      def abortPreserving(reason: String): Nothing =
        throw new IllegalStateException(
          s"$reason; pre-compact store preserved at $bak, merged copy at $tmp " +
            "— quiesce ingest, reconcile, then re-run compact")
      if (committed(spark, bak, "seg=").toSet != snapshot.toSet) {
        // something committed between the snapshot and the freeze and
        // is NOT in the merged copy — put the store back untouched
        if (f.exists(p(path)))
          abortPreserving(s"store at $path changed during compact AND was " +
            "recreated by a racing flush")
        require(f.rename(p(bak), p(path)), s"restore $bak -> $path failed")
        f.delete(p(tmp), true)
        throw new IllegalStateException(
          s"store at $path changed during compact; aborted without touching " +
            "the store — retry during an ingest pause")
      }
      if (f.exists(p(path)))
        abortPreserving(s"a racing flush recreated $path during compact")
      require(f.rename(p(tmp), p(path)), s"rename $tmp -> $path failed")
      f.delete(p(bak), true)
    }
  }

  /** Heal the compact crash window: if the store path is gone but a
    * complete backup exists, restore it. Invoked automatically by
    * [[compact]]; callable directly after a crash.
    */
  def recover(spark: SparkSession, path: String): Unit = {
    val bak = path + ".bak"
    if (!exists(spark, path) && exists(spark, bak)) {
      val f = fs(spark, path)
      require(f.rename(new org.apache.hadoop.fs.Path(bak),
        new org.apache.hadoop.fs.Path(path)), s"restore $bak -> $path failed")
    }
  }

  /** Resolve matchers against the merge-on-read catalog
    * ([[TagIndex.resolve]], the in-memory index's filter): the matched
    * series' catalog rows, tsid first. Label names come from the
    * segment schema; predicates on them push below the merge fold
    * into the segment scan.
    */
  def resolvePostings(spark: SparkSession, path: String,
      matchers: Seq[LabelMatcher],
      startTs: Option[Column] = None, endTs: Option[Column] = None): DataFrame =
    resolveOn(load(spark, path), matchers, startTs, endTs)

  /** Matcher resolution against a HISTORICAL snapshot: the index view
    * as of segment ordinal `maxOrd` ([[loadAt]] — immutable segments
    * make time travel a segment-pruned read, and tombstones written
    * after the snapshot don't rewrite history). The reference's
    * equivalent is querying an old COW-tree root (cow_tree.h).
    */
  def resolvePostingsAt(spark: SparkSession, path: String, maxOrd: Long,
      matchers: Seq[LabelMatcher],
      startTs: Option[Column] = None, endTs: Option[Column] = None): DataFrame =
    resolveOn(loadAt(spark, path, maxOrd), matchers, startTs, endTs)

  private def resolveOn(view: DataFrame, matchers: Seq[LabelMatcher],
      startTs: Option[Column], endTs: Option[Column]): DataFrame =
    TagIndex.resolve(view, TagIndex.catalogLabels(view), matchers, startTs, endTs)
}
