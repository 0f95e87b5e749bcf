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
  * The store is a [[SegmentLog]], LSM-shaped like the reference's
  * flush-then-compact cycle (index_server.h:50-66 keeps a compaction
  * watermark and flushes only entries past it):
  *
  *  - each time-based flush writes a segment `seg=<wm_ns>` of catalog
  *    rows (plain parquet files, no label_name partitioning), where
  *    `wm_ns` is the segment's EXCLUSIVE ingest-time high watermark in
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
  *  - [[load]] is the merge-on-read view: per (tsid, labels) the live
  *    segments' rows fold with min/max/sum, all decomposable, so the
  *    view equals a full rebuild exactly;
  *  - [[compact]] (manual_compact) commits that fold as one more
  *    segment and deletes what it covers; flushes keep running while
  *    it does, and every flush merges once more than
  *    [[SegmentLog.MaxLive]] segments are live.
  *
  * An inclusive matcher on `name op value` reaches the segment scan as
  * a pushed filter on the label column (row-group stats — the analog
  * of the per-label tree descent). The index is ∝ #series, so at
  * 100 TB of samples it stays a few GB.
  */
object IndexStore {
  import SegmentLog.{Listing, batchSeg, isBatch, ordinal, timeSeg}

  /** The segment format, part of the prefix of stores landed across
    * JVMs, so a store written in an older format is rebuilt, not read. */
  private[graft] val Layout = "cat"

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

  private def watermarkNs(l: Listing): Option[Long] =
    l.live.filterNot(isBatch).map(ordinal).maxOption

  /** The store's exclusive ingest-time watermark in raw ns, read from
    * COMMITTED segment directory names (None for an empty/absent
    * store) — exactly what has been durably flushed, nothing else.
    */
  def storedWatermarkNs(spark: SparkSession, path: String): Option[Long] =
    watermarkNs(SegmentLog.list(spark, path))

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

  /** First flush: the whole index as one segment. It is not a rebuild:
    * a path that holds committed segments is refused and left as it
    * is. An empty batch writes nothing ([[load]] renders a
    * segment-less store as an empty index).
    */
  def materialize(idx: TagIndex, path: String): Unit = {
    val spark = idx.samples.sparkSession
    val l = SegmentLog.list(spark, path)
    require(l.segs.isEmpty, s"store at $path already holds committed segments: " +
      "materialize is the first flush only (a store of batch-id segments takes flushBatch)")
    batchWmNs(idx.samples).foreach(w =>
      SegmentLog.append(spark, path, l, timeSeg(w), idx.seriesCatalog)(fold(spark, path)))
  }

  /** Incremental flush (try_compact analog): index only the samples
    * at-or-past the stored exclusive watermark and commit them as a new
    * segment named by the new watermark. Cost is ∝ the new batch — the
    * history is never rescanned. The ts_ns filter reaches parquet
    * row-group stats (a filter on the converted timestamp cannot push).
    *
    * Refuses a store built from batch-id segments ([[flushBatch]]):
    * those carry no event-time watermark, so a time-based incremental
    * flush cannot know what is already indexed.
    */
  def materializeIncremental(idx: TagIndex, path: String): Unit = {
    val spark = idx.samples.sparkSession
    val l = SegmentLog.list(spark, path)
    watermarkNs(l) match {
      case None => materialize(idx, path)
      case Some(wm) =>
        val fresh = idx.samples.filter(nsCol(idx.samples) >= wm)
        batchWmNs(fresh).foreach { newWm =>
          SegmentLog.append(spark, path, l, timeSeg(newWm),
            new TagIndex(fresh, idx.labelNames).seriesCatalog)(fold(spark, path))
        }
    }
  }

  /** Streaming flush: index an ENTIRE micro-batch as segment
    * `seg=b<batchId>`. In the streaming loop the micro-batch id is the
    * ingest clock (monotone and replay-stable under the checkpoint), so
    * this needs no event-time assumption — late data is indexed by the
    * batch that carries it. Idempotence under foreachBatch replay:
    * a committed segment of this ordinal (the batch's own, or a merge
    * whose k is this id) already holds exactly this batch's rows, so
    * the replayed flush is a no-op; an UNCOMMITTED leftover (crash
    * mid-write) is overwritten. Empty micro-batches (idle stream ticks)
    * write nothing. This is the reference's WAL → MemIndex →
    * try_compact loop (index_server.h:48-66) with the checkpoint
    * standing in for the WAL.
    */
  def flushBatch(idx: TagIndex, path: String, batchId: Long): Unit = {
    val spark = idx.samples.sparkSession
    // one listing serves the family guard, the idempotence check and
    // the log's live-segment count
    val l = SegmentLog.list(spark, path)
    require(l.segs.forall(isBatch),
      s"store at $path holds time-watermark segments; streaming flushBatch " +
        "into it would double-count samples past the watermark in the " +
        "merge-on-read fold — use a dedicated store path per ingest mode")
    // batch ids must be monotone over the store's life: a RESET streaming
    // checkpoint restarts ids at 0, whose segments no longer match the
    // committed history (a merge covers every id up to its k), so
    // already-merged rows would be re-flushed and double-counted by the
    // merge-on-read fold. Replay of the max id itself is the legitimate
    // foreachBatch retry and falls through to the skip below.
    val maxCommitted = l.segs.map(ordinal).maxOption
    require(maxCommitted.forall(batchId >= _),
      s"flushBatch(batchId=$batchId) into $path, which already committed " +
        s"batch ${maxCommitted.getOrElse(-1L)}: checkpoint reset into an " +
        "existing store is unsupported — use a fresh store path")
    if (!maxCommitted.contains(batchId) && !idx.samples.isEmpty)
      SegmentLog.append(spark, path, l, batchSeg(batchId), idx.seriesCatalog)(fold(spark, path))
  }

  /** delete_series — the admin surface every TSDB needs (Prometheus's
    * delete_series; tombstones over the reference's COW index): resolve
    * the matchers against the CURRENT merged view, record the matched
    * tsids in a tombstone `del=<n>` stamped with the store's max
    * segment ordinal. Merge-on-read hides tombstoned series in every
    * segment up to that ordinal; data flushed AFTER the delete
    * resurrects the series (delete covers existing blocks, never
    * future ingest — Prometheus semantics); the next merge physically
    * purges the rows and deletes the tombstone. A delete must not
    * overlap a merge: a tombstone committed after the merge's listing
    * is not folded into it, and it no longer reaches the rows the
    * merge carried past its ordinal, so the delete is lost. Flushes
    * may run alongside. Returns the number of series tombstoned.
    */
  def deleteSeries(spark: SparkSession, path: String,
      matchers: Seq[LabelMatcher]): Long = {
    val l = SegmentLog.list(spark, path)
    if (l.live.isEmpty) return 0L
    val resolved = resolveOn(loadListed(spark, path, l), matchers, None, None)
    if (resolved.isEmpty) return 0L
    // the count is read back from the COMMITTED tombstone, so it is
    // its contents by construction; the set is never collected
    val del = l.nextTombstone
    SegmentLog.write(resolved.select(col("tsid"), lit(l.maxOrdinal.get).as("upto"))
      .sortWithinPartitions(col("tsid")), path, del)
    spark.read.parquet(s"$path/$del").count()
  }

  /** Merge-on-read view of the store: the live segments folded per
    * series into catalog rows (an uncommitted crash leftover and the
    * segments a merge covers contribute nothing). With one live
    * segment and no tombstones (post-[[compact]]) the fold is the
    * identity.
    */
  def load(spark: SparkSession, path: String): DataFrame =
    loadListed(spark, path, SegmentLog.list(spark, path))

  private def loadListed(spark: SparkSession, path: String, l: Listing): DataFrame = {
    graft.plans.ParamPlans.install(spark)
    if (l.live.isEmpty) emptyView(spark) else fold(spark, path)(l)
  }

  /** What a merge writes: the live segments of its listing folded,
    * with that listing's tombstones applied. */
  private def fold(spark: SparkSession, path: String)(l: Listing): DataFrame =
    loadSegs(spark, path, l.live, l.dels)

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
    * ordinal `maxOrd` — only live segments with ordinal ≤ maxOrd and
    * only tombstones whose `upto` ≤ maxOrd contribute, so the result
    * equals what [[load]] returned when that segment was the store's
    * newest. Committed segments and tombstones are immutable (flush
    * overwrites only UNcommitted leftovers), so every historical view
    * stays readable until a merge folds it away — the debugging/replay
    * surface a pipeline needs when a bad ingest must be diffed against
    * the pre-ingest index.
    */
  def loadAt(spark: SparkSession, path: String, maxOrd: Long): DataFrame = {
    graft.plans.ParamPlans.install(spark)
    val l = SegmentLog.list(spark, path)
    val segs = l.live.filter(ordinal(_) <= maxOrd)
    if (segs.isEmpty) return emptyView(spark)
    val upto = tombstoneUpto(spark, path, l.dels)
    loadSegs(spark, path, segs, l.dels.filter(d => upto.get(d).forall(_ <= maxOrd)))
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
    * lets a merge build its segment from exactly the listing it
    * covers, never a later one. A tombstoned tsid's rows are dropped
    * from every segment at-or-below the tombstone's `upto` ordinal
    * BEFORE the fold (so a resurrected series' counts restart from its
    * post-delete segments only). Re-applying a tombstone a merge
    * already folded changes nothing: the merge holds only rows from
    * segments past its `upto`. The tombstone set is ∝ deleted series —
    * Catalyst broadcasts it into the row filter.
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
        // `seg` is the partition column of the segment layout: its
        // leading digits, after a batch segment's `b`, are the ordinal
        // (a merge's `m<g>` suffix is not)
        val ord = regexp_extract(col("seg").cast("string"), "^b?([0-9]+)", 1).cast("long")
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
    * Every committed segment is a write of a catalog frame, and
    * Spark writes a part file carrying that key even for an empty
    * frame, so a segment without one is refused, never inferred.
    */
  private def segSchema(spark: SparkSession, segDir: String)
      : org.apache.spark.sql.types.StructType = {
    val dir = new org.apache.hadoop.fs.Path(segDir)
    val part = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
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

  /** manual_compact: fold the live segments into one merge segment
    * named by their max ordinal, keeping the store's watermark
    * identity (the ns watermark, or the max batch id — safe against
    * foreachBatch replay because [[flushBatch]] skips a committed
    * ordinal), and purge the tombstoned rows. Mixed stores (both
    * families) are refused: one ordinal cannot order both.
    *
    * Unlike the reference's manual_compact, which serializes on
    * compaction_mutex (index_server.h:61-66), flushes need no pause:
    * the merge covers only ordinals ≤ its listing's max, and a flush
    * commits a higher one ([[SegmentLog]]). Deletes must not overlap
    * it ([[deleteSeries]]).
    */
  def compact(spark: SparkSession, path: String): Unit =
    SegmentLog.merge(spark, path)(fold(spark, path))

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
