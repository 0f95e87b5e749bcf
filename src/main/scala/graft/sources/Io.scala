package graft.sources

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources and sinks (SURVEY.md §3). The reference owns its storage
  * files (series_file_manager.cpp, WAL); the Spark-native equivalent is
  * a lakehouse layout: samples partitioned by event date — time-range
  * queries prune whole directories before any IO — with csv/json
  * interchange for ingest/export.
  */
object Io {

  /** Write the sample stream day-partitioned: the batch form of the
    * reference's time-partitioned index tree. At cluster scale add
    * `.bucketBy(N, "tsid")` via saveAsTable for shuffle-free per-series
    * access; path-based writes here.
    */
  def writePartitionedSamples(spark: SparkSession, dir: String, outPath: String): Unit =
    Tables.events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .repartition(col("day")) // one file per partition dir, not one per task
      .write.mode("overwrite")
      .partitionBy("day")
      .parquet(outPath)

  /** Read back with a day predicate — Catalyst turns it into partition
    * pruning (PartitionFilters in the scan, untouched dirs unread).
    */
  def readDay(spark: SparkSession, path: String, day: String): DataFrame =
    spark.read.parquet(path).filter(col("day") === day)

  /** Small-file compaction — the standing lakehouse maintenance job:
    * streaming ingest (H3's foreachBatch appends) leaves one file per
    * micro-batch per partition; thousands of KB-files per day turn
    * every scan into a metadata storm. Rewrite each `k=v` partition dir
    * into ~`targetBytes` files (computed from the partition's actual
    * bytes), write-aside, then swap via a BACKUP rename: at every
    * instant a complete dataset exists at `path` or `path.bak`, so a
    * crash anywhere loses nothing (delete-then-rename had a window with
    * neither). Top-level non-partition entries (_SUCCESS and friends)
    * are carried over from the original.
    *
    * Only valid for append-layout datasets (foreachBatch / batch
    * writes). A streaming FILE-SINK dataset is defined by its
    * _spark_metadata log, which would still list the pre-compaction
    * files — refused explicitly rather than silently corrupted.
    */
  def compactPartitioned(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compacting")
    val bak = new org.apache.hadoop.fs.Path(path + ".bak")
    // heal a previous run's crash window (src renamed away, swap-in
    // never happened): restore the complete backup first
    if (!fs.exists(src) && fs.exists(bak))
      require(fs.rename(bak, src), s"restore $bak -> $src failed")
    require(!fs.exists(new org.apache.hadoop.fs.Path(src, "_spark_metadata")),
      s"$path is a streaming file-sink dataset (_spark_metadata): its " +
        "metadata log is the read source of truth and lists the original " +
        "files; compact the sink by rewriting through the sink itself")
    fs.delete(tmp, true)
    // stale-after-rewrite sidecars that must NOT carry over: parquet
    // summary files enumerate the PRE-compaction part files, and .crc
    // checksums are named for them — a reader honoring either would
    // resolve dead data. Everything else (commit markers, manifests the
    // rewrite doesn't regenerate) is preserved.
    def staleSidecar(name: String): Boolean =
      name == "_metadata" || name == "_common_metadata" || name.endsWith(".crc")
    val srcUri = src.toUri.getPath
    def rel(d: org.apache.hadoop.fs.Path): String =
      d.toUri.getPath.stripPrefix(srcUri).stripPrefix("/")
    // walk to LEAF partition directories so nested layouts
    // (batch=N/day=...) keep every partition level: rewriting a
    // non-leaf dir with a plain parquet write would collapse the inner
    // k=v dirs into data columns and kill their pruning. Non-partition
    // entries (_SUCCESS markers, sidecar files) are preserved at EVERY
    // level — a per-batch commit marker at batch=N/ is as load-bearing
    // as a top-level one; leaf rewrites mint their own _SUCCESS.
    def walk(d: org.apache.hadoop.fs.Path,
        isRoot: Boolean): Seq[org.apache.hadoop.fs.Path] = {
      val entries = fs.listStatus(d)
      val kids = entries.filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (!isRoot && kids.isEmpty) Seq(d) // leaf: the rewrite handles it
      else {
        entries.filterNot(s => s.isDirectory && s.getPath.getName.contains("="))
          .filterNot(e => e.isFile && staleSidecar(e.getPath.getName))
          .foreach { e =>
            org.apache.hadoop.fs.FileUtil.copy(fs, e.getPath, fs,
              new org.apache.hadoop.fs.Path(tmp, rel(e.getPath)),
              false, spark.sparkContext.hadoopConfiguration)
          }
        kids.toSeq.flatMap(k => walk(k.getPath, isRoot = false))
      }
    }
    walk(src, isRoot = true).foreach { leaf =>
      val bytes = fs.getContentSummary(leaf).getLength
      val nFiles = math.max(1, (bytes / targetBytes).toInt +
        (if (bytes % targetBytes > 0) 1 else 0))
      // read the part files explicitly: a stale _metadata summary in the
      // leaf (the very thing this job refuses to carry over) would
      // otherwise be trusted for schema and break the rewrite
      spark.read.parquet(new org.apache.hadoop.fs.Path(leaf, "*.parquet").toString)
        .repartition(nFiles)
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(tmp, rel(leaf)).toString)
      // the rewrite mints its own _SUCCESS; carry over any OTHER leaf
      // sidecar (_metadata, manifests) the rewrite doesn't regenerate
      fs.listStatus(leaf)
        .filter(e => e.isFile && e.getPath.getName != "_SUCCESS" &&
          !e.getPath.getName.endsWith(".parquet") &&
          !staleSidecar(e.getPath.getName))
        .foreach { e =>
          org.apache.hadoop.fs.FileUtil.copy(fs, e.getPath, fs,
            new org.apache.hadoop.fs.Path(tmp, rel(e.getPath)),
            false, spark.sparkContext.hadoopConfiguration)
        }
    }
    fs.delete(bak, true)
    // Hadoop rename onto an existing dir NESTS instead of failing —
    // verify the destination is actually clear at each step
    require(fs.rename(src, bak) && !fs.exists(src), s"rename $src -> $bak failed")
    require(fs.rename(tmp, src), s"rename $tmp -> $src failed")
    fs.delete(bak, true)
  }

  /** I10: partition-scoped copy-on-write upsert — MERGE semantics on
    * the plain-parquet lakehouse layout, no table-format log needed:
    * for every partition the updates touch, rewrite that partition as
    * (existing rows whose key is NOT updated) ∪ (updates), write-aside
    * and swap with the same backup-rename protocol as compaction; a
    * crash at any instant leaves the complete old or complete new
    * partition. Partitions the updates do NOT touch are never read,
    * rewritten, or renamed — their files stay byte-identical, which is
    * what bounds the job at 100 TB: cost ∝ touched partitions, not
    * table size (the CoW half of Delta/Iceberg MERGE, driven purely by
    * directory layout).
    *
    * `updates` must carry the partition column; the anti-join runs
    * per-partition (partition-local, broadcast when the update set is
    * small). Streaming file-sink datasets are refused like compaction.
    */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, partitionCol: String = "day",
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    require(!fs.exists(new org.apache.hadoop.fs.Path(path, "_spark_metadata")),
      s"$path is a streaming file-sink dataset (_spark_metadata); " +
        "merge through the sink itself")
    val parts = updates.select(col(partitionCol).cast("string")).distinct()
      .collect().map(_.getString(0))
    parts.foreach { d =>
      val leaf = new org.apache.hadoop.fs.Path(path, s"$partitionCol=$d")
      val up = updates.filter(col(partitionCol).cast("string") === d)
        .drop(partitionCol)
      val merged =
        if (!fs.exists(leaf)) up
        else spark.read.parquet(leaf.toString)
          .join(up.select(col(keyCol)), Seq(keyCol), "left_anti")
          .unionByName(up)
      val bytes = if (fs.exists(leaf)) fs.getContentSummary(leaf).getLength else 0L
      val nFiles = math.max(1, (bytes / targetBytes).toInt + 1)
      val tmp = new org.apache.hadoop.fs.Path(path, s".upsert-$partitionCol=$d")
      val bak = new org.apache.hadoop.fs.Path(path, s".bak-$partitionCol=$d")
      fs.delete(tmp, true)
      merged.repartition(nFiles).write.mode("overwrite").parquet(tmp.toString)
      fs.delete(bak, true)
      if (fs.exists(leaf))
        require(fs.rename(leaf, bak) && !fs.exists(leaf),
          s"rename $leaf -> $bak failed")
      require(fs.rename(tmp, leaf), s"rename $tmp -> $leaf failed")
      fs.delete(bak, true)
    }
  }

  /** CSV export/ingest round-trip support (header + explicit schema on
    * read; schema inference is a full extra pass at scale).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    spark.read.option("header", "true").schema(schemaDdl).csv(path)

  /** JSON-lines export/ingest. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJson(spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    spark.read.schema(schemaDdl).json(path)

  /** The events as (event_id, [µs epoch `us`,] typ, integer cents) —
    * the projection the commit-log fixtures land. */
  private[graft] def centsOf(spark: SparkSession, dir: String,
      withUs: Boolean = false): DataFrame = {
    val raw = Tables.eventsRaw(spark, dir)
    raw.select(Seq(col("event_id")) ++
      (if (withUs) Seq(unix_micros(Tables.tsCol(raw)).as("us")) else Nil) ++
      Seq(col("event_type").as("typ"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents")): _*)
  }

  /** Per-type count, cent sum and id bounds — the commit-log gates'
    * read-back aggregate. */
  private[graft] def typeSummary(df: DataFrame): DataFrame = summaryBy(df)

  /** [[typeSummary]] of version `v`'s read, keyed `version` ahead of
    * the type. */
  private def versionSummary(v: Long)(df: DataFrame): DataFrame =
    summaryBy(df, lit(v).as("version"))

  /** [[typeSummary]] of raw events rows (cents rounded from `value`). */
  private def eventsSummary(df: DataFrame): DataFrame =
    typeSummary(df.select(col("event_type").as("typ"), col("event_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents")))

  private def summaryBy(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys :+ col("typ"): _*)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))

  /** One landed fixture per (session, dataset): `build` fills a fresh
    * directory `<prefix>_<fp>_<n>` (fp: the events fingerprint; see
    * [[graft.Memo.fresh]]), which the registry then holds and a clear
    * deletes; the gate reads the files back. Another session's build
    * of the same gate lands in a directory of its own. */
  private def fixture(spark: SparkSession, dir: String, prefix: String)(
      build: String => Unit): String =
    graft.Memo(spark, s"io.$prefix:$dir",
        (p: String) => graft.Memo.wipe(new java.io.File(p))) {
      val p = graft.Memo.fresh(
        prefix + "_" + Tables.fingerprint(s"$dir/events.parquet")).toString
      build(p)
      p
    }

  /** A [[fixture]] that is the warehouse of the [[GraftCatalog]]
    * registered as `catalog`. */
  private def warehouse(spark: SparkSession, dir: String, prefix: String,
      catalog: String)(build: String => Unit): String =
    fixture(spark, dir, prefix) { w =>
      spark.conf.set(s"spark.sql.catalog.$catalog",
        "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", w)
      build(w)
    }

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
    fixture(spark, dir, "graft_io_rt") { base =>
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
    // `_done`-marker discipline (round 15): the fixture is a pure
    // function of the fingerprinted dataset, but this builder used to
    // re-run all four rewrites on every fresh JVM OVER the previous
    // JVM's completed output — wasted work charged to the first io_*
    // query, and the rebuild-over-existing path proved fragile (a
    // mid-round bench run lost io_compact run 1 to a FileNotFound
    // inside the re-compaction's read of a day it had just rewritten).
    // Like every other cross-JVM fixture: a committed build is REUSED;
    // anything without the marker is wiped and rebuilt from scratch.
    graft.Memo(spark, s"io.graft_io_maint:$dir") {
      graft.Memo.landed("graft_io_maint",
        Tables.fingerprint(s"$dir/events.parquet"))(
        b => buildMaint(spark, dir, b.toString)).toString
    }

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

  /** I13: retention vacuum — the standing lakehouse expiry job: drop
    * whole `day=` partition directories strictly OLDER than the cutoff
    * day. Partition-level deletes are metadata operations (no data
    * rewrite) and ISO day names compare lexicographically, so the
    * sweep is one listing + k directory deletes regardless of table
    * size — the reference's analog is dropping whole time-partitioned
    * index trees past retention. Streaming file-sink datasets are
    * refused like compact (their `_spark_metadata` log still lists the
    * deleted files). Returns the number of partitions dropped.
    */
  def vacuumPartitioned(spark: SparkSession, path: String,
      cutoffDay: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(root, "_spark_metadata")),
      s"$path is a streaming file-sink dataset (_spark_metadata): vacuum " +
        "through the sink's own retention, not by deleting its files")
    val doomed = fs.listStatus(root)
      .filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith("day=") &&
        p.getName.stripPrefix("day=") < cutoffDay)
    doomed.foreach(p => require(fs.delete(p, true), s"delete $p failed"))
    doomed.length.toLong
  }

  /** I13, oracle-gated: land the day-partitioned layout, vacuum days
    * before 2024-01-15, read the surviving files back — the aggregate
    * must equal DuckDB's replay of the same cutoff over the source
    * table (write→vacuum→read ≡ filtered batch).
    */
  def retentionRead(spark: SparkSession, dir: String): DataFrame = {
    val root = fixture(spark, dir, "graft_io_ret") { base =>
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
    fixture(spark, dir, "graft_io_bk") { base =>
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
    val base = fixture(spark, dir, "graft_io_evo") { root =>
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

  /** I9: schema-evolution read — a long-lived lakehouse table gains
    * columns over time (new quality signals, new metadata), so part
    * files written in different eras carry different schemas.
    * mergeSchema unions the footers at planning time (one metadata
    * pass, no data rewrite) and back-fills missing columns with null —
    * the read-side half of schema evolution. Additive evolution only:
    * same-name/different-type columns fail the merge loudly, which is
    * the correct behavior (silent coercion corrupts downstream).
    */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  // ---- I14: commit-log versioned table (table-level time travel) ----
  // The transaction-log core of Delta/Iceberg on plain parquet: data
  // files are IMMUTABLE and never rewritten in place; each commit
  // `_commits/<v>.commit` is a newline-separated list of the
  // table-root-relative files that make up that version. Append adds
  // files and carries the rest by reference; delete is copy-on-write —
  // only files that actually contain matching rows are rewritten
  // (touched-file discovery is a distributed scan), untouched files are
  // carried by reference, so old versions stay readable forever and a
  // version read is one metadata fetch + a pruned file-list scan.
  // Commits are atomic via write-tmp-then-rename on the Hadoop FS API
  // (works on HDFS/object stores, not just file://). At 100 TB the log
  // is ∝ #files per version — metadata-scale — and time travel never
  // copies data, which is precisely why the lakehouse formats do it
  // this way.

  private[graft] def fsFor(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A lost OCC race (version already committed or claimed by a
    * concurrent writer). Extends IllegalArgumentException so existing
    * callers/specs that intercept the broad type keep working, while
    * [[tableAppendOcc]] retries ONLY this — a rename failure or a
    * missing commit is a genuine error, not a race, and must surface.
    */
  final class CommitConflictException(msg: String)
    extends IllegalArgumentException(msg)

  /** Liveness janitor for the OCC claim (the one gap in the lock
    * protocol): a writer that crashed between claiming a version and
    * landing its `.commit` leaves the `.lock` behind forever, wedging
    * that version number. A claim is STALE when its `.commit` never
    * appeared and the lock file is older than the TTL
    * (`graft.occ.lockTtlMs`, default 10 min — must exceed the longest
    * plausible claim→rename latency). Takeover is an ATOMIC RENAME of
    * the stale lock to a janitor-unique name (then deleted): exactly
    * one of two concurrent janitors wins the rename, so the loser can
    * never delete the winner's FRESH re-claim (the delete-then-create
    * TOCTOU this replaces). The reclaimer then re-races the O_EXCL
    * create. If the presumed-dead writer is merely slow, the ownership
    * re-verify before its commit rename (see [[writeCommit]]) turns
    * its late rename into a caught conflict, never silent log
    * corruption.
    */
  private def reclaimStaleLock(fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path, fin: org.apache.hadoop.fs.Path,
      ttlMs: Long): Boolean = {
    if (fs.exists(fin)) return false // committed — lock is legitimate
    val age = try System.currentTimeMillis() -
      fs.getFileStatus(lock).getModificationTime
    catch { case _: java.io.FileNotFoundException => return true }
    if (age > ttlMs && !fs.exists(fin)) {
      val taken = new org.apache.hadoop.fs.Path(lock.getParent,
        lock.getName + ".reclaimed-" + java.util.UUID.randomUUID())
      val won = try fs.rename(lock, taken)
        catch { case _: java.io.IOException => false }
      if (won) { try fs.delete(taken, false)
        catch { case _: Throwable => () } }
      won
    } else false
  }

  /** The owner token recorded inside a claim lock (None when the lock
    * is missing or its content unreadable/not-yet-flushed — callers
    * must then treat the lock as someone else's). */
  private def lockOwner(fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path): Option[String] =
    try Some(readText(fs, lock).trim).filter(_.nonEmpty)
    catch { case _: Throwable => None }

  private def occLockTtlMs(spark: SparkSession): Long =
    spark.conf.getOption("graft.occ.lockTtlMs").map(_.toLong)
      .getOrElse(600000L)

  private def readText(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  // ---- the commit RECORD (one file per version): a version's file
  // list, deletion-vector dirs, per-file stats and the table metadata
  // in force at it (declared schema, CHECK constraints, generated and
  // identity columns, properties, the COPY INTO ledger) are ONE
  // record, written as one tmp file and renamed onto
  // `_commits/<v>.commit` after the version claim — so a commit whose
  // rename fails leaves nothing of itself in force, and every write
  // verb carries what it does not change simply by building on its
  // base record. Each fact is one line `<kind>\t<fields>`. A record
  // that stored every line would cost ∝ #files per commit and grow the
  // log quadratically in appends (Delta's pre-checkpoint problem), so
  // it is written as a DELTA against its predecessor (`@delta <v-1>`,
  // then `-line`/`+line` — cost ∝ the commit's own changes) except
  // every `graft.log.checkpointInterval`-th version (default 10),
  // which is the full record and bounds resolution to < interval hops.

  /** The commit-log layout. Every record's first line is
    * `@graft <LogLayout>`; a commit without it predates the one-record
    * layout — its deletion vectors sat in a `.dv` file this reader
    * never opens, so serving it would bring deleted rows back — and is
    * refused. Fixtures that keep commit-log tables across JVMs carry it
    * in their names, so a layout change rebuilds them. */
  private[graft] val LogLayout = "rec1"
  private val LogToken = s"@graft $LogLayout"

  /** One version of a commit-log table. `stats` maps (file entry,
    * column) to the file's [min, max]; `None` = a version written
    * without stats. `schema` is the declared schema (HEAD reads serve
    * it); `identity` rows are (column, start, step, high water). */
  private[graft] final case class CommitRecord(
      files: Seq[String] = Seq.empty,
      dv: Seq[String] = Seq.empty,
      stats: Option[Map[(String, String), (Long, Long)]] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      constraints: Seq[(String, String)] = Seq.empty,
      generated: Seq[(String, String)] = Seq.empty,
      props: Seq[(String, String)] = Seq.empty,
      identity: Seq[(String, Long, Long, Long)] = Seq.empty,
      copied: Set[String] = Set.empty) {
    private[Io] def lines: Seq[String] =
      files.map("f\t" + _) ++ dv.map("dv\t" + _) ++
        stats.toSeq.flatMap(st => "stats" +: st.toSeq.sorted.map {
          case ((f, c), (mn, mx)) => s"st\t$f\t$c\t$mn\t$mx"
        }) ++
        schema.map("schema\t" + _.json) ++
        constraints.map { case (n, e) => s"check\t$n\t$e" } ++
        generated.map { case (n, e) => s"gen\t$n\t$e" } ++
        props.map { case (k, v) => s"prop\t$k\t$v" } ++
        identity.map { case (c, st, sp, hw) => s"id\t$c\t$st\t$sp\t$hw" } ++
        copied.toSeq.sorted.map("copied\t" + _)
  }

  private def parseRecord(lines: Seq[String]): CommitRecord = {
    val byKind = lines.groupBy(_.takeWhile(_ != '\t'))
    def rows(kind: String, n: Int): Seq[Array[String]] =
      byKind.getOrElse(kind, Seq.empty).map(_.split("\t", n + 1).drop(1))
    def pairs(kind: String) = rows(kind, 2).map(a => (a(0), a(1)))
    CommitRecord(
      files = rows("f", 1).map(_(0)),
      dv = rows("dv", 1).map(_(0)),
      stats = byKind.get("stats").map(_ => rows("st", 4).map(a =>
        (a(0), a(1)) -> ((a(2).toLong, a(3).toLong))).toMap),
      schema = rows("schema", 1).headOption.map(a =>
        org.apache.spark.sql.types.DataType.fromJson(a(0))
          .asInstanceOf[org.apache.spark.sql.types.StructType]),
      constraints = pairs("check"),
      generated = pairs("gen"),
      props = pairs("prop"),
      identity = rows("id", 4).map(a =>
        (a(0), a(1).toLong, a(2).toLong, a(3).toLong)),
      copied = rows("copied", 1).map(_(0)).toSet)
  }

  private def checkpointInterval(spark: SparkSession): Long =
    spark.conf.getOption("graft.log.checkpointInterval").map(_.toLong)
      .getOrElse(10L)
      .max(1L)

  private def commitPath(table: String, version: Long) =
    new org.apache.hadoop.fs.Path(table, f"_commits/$version%08d.commit")

  // Resolution keeps the base's line order and appends the adds, so a
  // change that reorders a kind (a RESTORE's file list) is written in
  // full rather than as a delta that would resolve differently.
  private def commitText(spark: SparkSession, version: Long,
      base: CommitRecord, rec: CommitRecord): String = {
    val lines = rec.lines
    val delta =
      if (version == 0L || version % checkpointInterval(spark) == 0L) None
      else {
        val prior = base.lines
        val (had, has) = (prior.toSet, lines.toSet)
        val added = lines.filterNot(had)
        if (parseRecord(prior.filter(has) ++ added) != rec) None
        else Some(s"@delta ${version - 1}" +:
          (prior.filterNot(has).map("-" + _) ++ added.map("+" + _)))
      }
    (LogToken +: delta.getOrElse(lines)).mkString("\n")
  }

  /** A commit's resolved record lines (a `.ckpt` left by vacuum wins
    * over the delta it materializes). */
  private def recordLines(spark: SparkSession, table: String,
      version: Long): Seq[String] = {
    val fs = fsFor(spark, table)
    val fin = commitPath(table, version)
    require(fs.exists(fin), s"no version $version at $table")
    val src = { val c = ckptPath(table, version)
      if (fs.exists(c)) c else fin }
    val lines = readText(fs, src).split("\n").toIndexedSeq.filter(_.nonEmpty)
    require(lines.headOption.contains(LogToken),
      s"commit $version at $table predates the one-record log layout " +
        s"(no '$LogToken' line): its deletion vectors and table metadata " +
        "sat in sidecar files this reader does not open, so serving it " +
        "could bring deleted rows back — rebuild the table")
    lines.tail match {
      case h +: body if h.startsWith("@delta ") =>
        val removed = body.collect {
          case l if l.startsWith("-") => l.substring(1) }.toSet
        recordLines(spark, table, h.stripPrefix("@delta ").toLong)
          .filterNot(removed) ++
          body.collect { case l if l.startsWith("+") => l.substring(1) }
      case body => body
    }
  }

  /** The record of committed `version`. */
  private[graft] def record(spark: SparkSession, table: String,
      version: Long): CommitRecord =
    parseRecord(recordLines(spark, table, version))

  /** The record a commit of `version` builds on: `version - 1`'s, or
    * for version 0 the `_schema` declaration of a created table. */
  private[graft] def baseOf(spark: SparkSession, table: String,
      version: Long): CommitRecord =
    if (version <= 0L) CommitRecord(schema = declaration(spark, table))
    else record(spark, table, version - 1)

  /** HEAD's record — before the first version, the declaration alone. */
  private def headRecord(spark: SparkSession, table: String): CommitRecord =
    baseOf(spark, table, tableVersion(spark, table) + 1)

  // The `_schema` file: the DDL-declared schema of a created table
  // that has no version yet (the catalog's CREATE TABLE,
  // [[tableCreate]]). v0's record takes it over; it is read only while
  // the table has no version.
  private def declarationPath(table: String) =
    new org.apache.hadoop.fs.Path(table, "_schema")

  private[graft] def declare(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val out = fsFor(spark, table).create(declarationPath(table), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
  }

  private def declaration(spark: SparkSession,
      table: String): Option[org.apache.spark.sql.types.StructType] = {
    val fs = fsFor(spark, table)
    if (!fs.exists(declarationPath(table))) None
    else Some(org.apache.spark.sql.types.DataType
      .fromJson(readText(fs, declarationPath(table)))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** The declared schema in force at HEAD, if any. */
  private[graft] def declaredSchema(spark: SparkSession,
      table: String): Option[org.apache.spark.sql.types.StructType] =
    headRecord(spark, table).schema

  /** Commit `rec` as `version`, built on `base` (the record of
    * `version - 1`, or [[baseOf]] 0). The version is claimed first; the
    * record lands by one rename after the claim is re-verified ours, so
    * a lost race or a failed rename leaves nothing of this commit in
    * force. Since `base` is exactly the previous version, winning the
    * claim also proves nothing committed in between — identity high
    * waters and the COPY INTO ledger need no further check. */
  private[graft] def writeCommit(spark: SparkSession, table: String,
      version: Long, base: CommitRecord, rec: CommitRecord): Unit = {
    val fs = fsFor(spark, table)
    val dir = new org.apache.hadoop.fs.Path(table, "_commits")
    fs.mkdirs(dir)
    // The claim token names THIS writer: it is the lock's content (so
    // cleanup and the pre-rename re-verify can tell our claim from a
    // janitor's re-claim) and the tmp-file suffix (so a stalled writer
    // and a reclaimer never share a tmp path — the content-clobber
    // race of the unsuffixed design).
    val token = java.util.UUID.randomUUID().toString
    val tmp = new org.apache.hadoop.fs.Path(dir, f"$version%08d.tmp-$token")
    val fin = commitPath(table, version)
    if (fs.exists(fin)) throw new CommitConflictException(
      s"version $version already committed at $table (log is append-only)")
    // Optimistic concurrency: the version number is CLAIMED atomically
    // before any content lands at the final name, so two racing
    // writers serialize — exactly one wins each version and the loser
    // gets a catchable conflict (Delta's LogStore put-if-absent
    // contract). On file:// the claim is a true O_EXCL create via
    // java.nio (Hadoop's local createNewFile is check-then-act and
    // loses races); on HDFS create-no-overwrite is atomic server-side;
    // an object store would need the external coordinator Delta uses
    // there.
    val lock = new org.apache.hadoop.fs.Path(dir, f"$version%08d.lock")
    def tryClaim(): Boolean =
      if (fs.getUri.getScheme == "file") {
        try {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(fs.makeQualified(lock).toUri.getPath),
            token.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        try {
          val out = fs.create(lock, false)
          try out.write(token.getBytes("UTF-8")) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      }
    val claimed = tryClaim() ||
      (reclaimStaleLock(fs, lock, fin, occLockTtlMs(spark)) && tryClaim())
    if (!claimed) throw new CommitConflictException(
      s"version $version already claimed at $table (concurrent writer)")
    // Past the claim, any failure releases the lock — IF still ours —
    // so the version number is not wedged until the TTL janitor
    // (crash-without-release remains the janitor's case). The lock is
    // never deleted when another writer's token sits in it.
    def releaseIfOwned(): Unit =
      try { if (lockOwner(fs, lock).contains(token)) fs.delete(lock, false) }
      catch { case _: Throwable => () }
    try {
      val out = fs.create(tmp, true)
      try out.write(commitText(spark, version, base, rec).getBytes("UTF-8"))
      finally out.close()
      // Re-verify ownership + fin-absence immediately before the
      // rename: if a janitor reclaimed our claim past the TTL (we are
      // the presumed-dead writer, merely slow), our token is gone and
      // renaming now could replace the reclaimer's acknowledged commit
      // — surface a conflict instead and let the caller retry.
      if (!lockOwner(fs, lock).contains(token) || fs.exists(fin))
        throw new CommitConflictException(
          s"version $version claim lost at $table (reclaimed past TTL " +
            "or committed by a concurrent writer)")
      if (!fs.rename(tmp, fin)) {
        // rename-onto-existing returns false: if fin appeared in the
        // verify→rename window that is the same lost race; anything
        // else is a genuine FS error and must surface as one
        if (fs.exists(fin)) throw new CommitConflictException(
          s"version $version committed concurrently at $table")
        else sys.error(s"commit rename $tmp -> $fin failed")
      }
    } catch {
      case t: Throwable =>
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        releaseIfOwned()
        throw t
    }
    writeHeadHint(fs, table, version)
  }

  /** Append under write contention: optimistic-concurrency retry — on
    * losing a version claim to a concurrent writer, re-read HEAD,
    * RE-LAND against the new version (each attempt lands into a
    * writer-unique dir so racing attempts never clobber each other's
    * files), and try the next number. Lost attempts leave orphan data
    * dirs that [[vacuumTable]] collects — the same crash-orphan class
    * the idempotent streaming sink already produces.
    */
  def tableAppendOcc(df: DataFrame, table: String, writer: String,
      maxRetries: Int = 50): Long = {
    val spark = df.sparkSession
    var attempt = 0
    while (true) {
      val v = tableVersion(spark, table) + 1
      val base = baseOf(spark, table, v)
      try {
        writeCommit(spark, table, v, base,
          appended(df, table, base, s"c$v-$writer"))
        return v
      } catch {
        case _: CommitConflictException if attempt < maxRetries =>
          attempt += 1 // lost the race — HEAD moved; re-land and retry
          // linear backoff: the winner may still be mid-rename (its
          // claim taken, its .commit not yet visible), during which
          // HEAD has not advanced and an immediate retry re-loses
          Thread.sleep(20L * attempt)
      }
    }
    -1L // unreachable
  }

  // a vacuum that expires a delta commit's ancestors first writes the
  // MATERIALIZED full record here (the checkpoint-before-expiry rule);
  // recordLines prefers it, so retained chains never dangle
  private def ckptPath(table: String, version: Long) =
    new org.apache.hadoop.fs.Path(table, f"_commits/$version%08d.ckpt")

  /** A version's raw (table-root-relative) file entries. */
  private[graft] def commitEntries(spark: SparkSession, table: String,
      version: Long): Seq[String] = record(spark, table, version).files

  /** A version's file list, resolved to readable paths. */
  private[graft] def versionFiles(spark: SparkSession, table: String,
      version: Long): Seq[String] =
    commitEntries(spark, table, version).map(resolve(table, _))

  private[graft] def trailOf(f: String): String = trail(f)

  // A commit entry is normally table-root-relative (`data/<tag>/<part>`);
  // a SHALLOW CLONE commit references the source table's files by
  // absolute path, so resolution passes absolute/URI entries through.
  private[graft] def resolve(table: String, f: String): String =
    if (f.startsWith("/") || f.contains("://")) f else s"$table/$f"

  // The `moru-<uid>` statement stamp a MOR UPDATE leaves on its insert
  // tag and dv dir (round 14, CDC pre/post-image pairing) — shared by
  // the batch change feed and the streaming CDF source.
  private[graft] def isMoruDataFile(f: String): Boolean =
    trail(f).matches("data/c\\d+-moru-.*")
  private[graft] def isMoruDvDir(d: String): Boolean =
    d.matches("dv/d\\d+-moru-.*")

  // The trailing `data/<tag>/<part>` segment of a commit entry (or an
  // input_file_name): part files carry writer UUIDs, so this segment
  // identifies an entry even when it is an absolute clone reference.
  private val trailRe = "data/[^/]+/[^/]+$".r
  private def trail(f: String): String = trailRe.findFirstIn(f).getOrElse(f)

  // ---- O(1) HEAD discovery (round 10): `_commits/_head` holds a
  // BEST-EFFORT hint of the newest committed version (written via
  // tmp+rename after each successful commit — the Delta
  // `_last_checkpoint` idea applied to HEAD lookup). The hint can lag
  // (a crashed writer, two racers finishing out of order) but can
  // never run ahead: it is only stamped after the `.commit` rename
  // lands. Readers therefore PROBE FORWARD from the hint until the
  // next version is missing — O(1 + lag) exists() calls instead of a
  // directory listing ∝ #versions, which is what keeps HEAD discovery
  // flat on a table with a million commits. A missing/corrupt hint
  // falls back to the full listing, so the hint is never load-bearing
  // for correctness (IoSpec pins a stale and a garbage hint).
  private def headHintPath(table: String) =
    new org.apache.hadoop.fs.Path(table, "_commits/_head")

  private def writeHeadHint(fs: org.apache.hadoop.fs.FileSystem,
      table: String, version: Long): Unit =
    try {
      val tmp = new org.apache.hadoop.fs.Path(table,
        f"_commits/_head.tmp-$version%08d")
      val out = fs.create(tmp, true)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
      // delete-then-rename through the Hadoop API (a bare
      // java.nio move would leave the ChecksumFileSystem's .crc
      // sidecar stale and every later hint read would fail its
      // checksum — silently disabling the hint). The missing-hint
      // window between the two calls is harmless by design: readers
      // fall back to the full listing.
      fs.delete(headHintPath(table), false)
      fs.rename(tmp, headHintPath(table))
      ()
    } catch { case _: Throwable => () } // hint only — never fail a commit

  /** Latest committed version, or -1 for an empty table. */
  def tableVersion(spark: SparkSession, table: String): Long = {
    val fs = fsFor(spark, table)
    val dir = new org.apache.hadoop.fs.Path(table, "_commits")
    if (!fs.exists(dir)) return -1L
    def commitAt(v: Long) = fs.exists(commitPath(table, v))
    val hinted: Option[Long] =
      try {
        val p = headHintPath(table)
        if (!fs.exists(p)) None
        else {
          val v = readText(fs, p).trim.toLong
          if (v >= 0 && commitAt(v)) Some(v) else None
        }
      } catch { case _: Throwable => None }
    hinted match {
      case Some(h) =>
        var v = h
        while (commitAt(v + 1)) v += 1
        v
      case None =>
        fs.listStatus(dir).map(_.getPath.getName)
          .filter(_.endsWith(".commit"))
          .map(_.stripSuffix(".commit").toLong).foldLeft(-1L)(math.max)
    }
  }

  // land a batch as immutable data files under data/<tag>/, returning
  // their table-root-relative paths (the _SUCCESS marker is not data).
  // Generated columns and CHECK constraints of `base` apply here — the
  // chokepoint every DataFrame-shaped write path (appends, OCC,
  // idempotent epochs, overwrites, COW rewrites, merges) flows through.
  private def landData(df: DataFrame, table: String, tag: String,
      base: CommitRecord): Seq[String] = {
    val df1 = applyGenerated(table, base.generated, df)
    checkConstraints(table, base.constraints, df1)
    df1.write.mode("overwrite").parquet(s"$table/data/$tag")
    val fs = fsFor(df.sparkSession, table)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$table/data/$tag"))
      .map(_.getPath.getName).filter(_.startsWith("part-")).sorted
      .map(n => s"data/$tag/$n").toIndexedSeq
  }

  /** `base` plus `df` landed under `tag` — the record of an append.
    * Identity columns absent from the batch are assigned above the
    * high water (base = highWater + step, plus
    * monotonically_increasing_id()·step — per-partition blocks, gaps
    * allowed, exactly Delta's allocation), and the record advances the
    * high water to the landed max. Explicit values pass through (BY
    * DEFAULT, not ALWAYS). A racing append that assigned from the same
    * high water loses the version claim and re-lands. */
  private def appended(df: DataFrame, table: String, base: CommitRecord,
      tag: String): CommitRecord = {
    val assign = base.identity.filterNot(i => df.columns.contains(i._1))
    val fresh = landData(assign.foldLeft(df) { case (d, (c, _, step, hw)) =>
      d.withColumn(c, lit(hw + step) + monotonically_increasing_id() * step)
    }, table, tag, base)
    val landedMax =
      if (assign.isEmpty) Map.empty[String, Long]
      else landedStats(df.sparkSession, table, tag, assign.map(_._1))
        .toSeq.groupBy(_._1._2).map { case (c, es) => c -> es.map(_._2._2).max }
    base.copy(files = base.files ++ fresh,
      identity = base.identity.map { case (c, st, sp, hw) =>
        (c, st, sp, landedMax.get(c).fold(hw)(math.max(hw, _))) })
  }

  // Staged-CTAS plumbing (round 12, [[GraftCatalog]] stageCreate): the
  // SELECT's output lands under a writer-unique tag WITHOUT committing
  // — the table stays invisible (no _commits, no _schema) until the
  // staged commit lands v0 through the same OCC claim as every other
  // commit (two racing atomic CTAS serialize; the loser's abort
  // removes only its own staging dir).
  private[graft] def stageLand(df: DataFrame, table: String,
      tag: String): Seq[String] =
    landData(df, table, tag, headRecord(df.sparkSession, table))

  /** Create an EMPTY commit-log table at `path` with a declared schema
    * (round 14): the path-based twin of the catalog's CREATE TABLE —
    * declares the schema so reads serve it (empty scans) and the first
    * append lands v0. Refuses an existing table. */
  def tableCreate(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    require(tableVersion(spark, path) < 0 &&
      declaration(spark, path).isEmpty,
      s"table at $path already exists")
    fsFor(spark, path).mkdirs(new org.apache.hadoop.fs.Path(path))
    declare(spark, path, schema)
  }

  // ---- COPY INTO (round 14 — Delta's idempotent landing-dir ingest):
  // each source file is ingested EXACTLY ONCE into the commit log,
  // tracked in the record's ledger of ingested source paths — a re-run
  // over the same landing dir is a no-op, a re-run after new files land
  // ingests only those, and racing COPY INTOs serialize at the version
  // claim (the loser recomputes its fresh set against the new HEAD). ----

  /** COPY INTO (round 14): ingest the parquet files under `sourceDir`
    * matching `pattern` into the commit-log table, EXACTLY ONCE per
    * source file — the Delta COPY INTO contract. Returns the number of
    * files ingested this call (0 = nothing new, no commit lands, HEAD
    * unmoved). The batch re-writes through the table's own write path
    * (never a by-reference rename: the source dir stays the caller's),
    * so CHECK constraints validate and a declared schema aligns the
    * batch — present columns must type-match, missing nullable columns
    * null-backfill, extra columns refuse. Cost ∝ the FRESH files only.
    */
  def tableCopyInto(spark: SparkSession, table: String, sourceDir: String,
      pattern: String = "part-*.parquet", maxRetries: Int = 50): Long = {
    val sfs = fsFor(spark, sourceDir)
    val found = Option(sfs.globStatus(
        new org.apache.hadoop.fs.Path(sourceDir, pattern)))
      .getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath.toString).sorted.toIndexedSeq
    val writer = java.util.UUID.randomUUID().toString
    var attempt = 0
    while (true) {
      val v = tableVersion(spark, table) + 1
      val base = baseOf(spark, table, v)
      val fresh = found.filterNot(base.copied)
      if (fresh.isEmpty) return 0L
      val raw = spark.read.parquet(fresh: _*)
      val df = base.schema match {
        case Some(decl) =>
          val names = raw.columns.toSet
          val extra = names -- decl.fieldNames
          require(extra.isEmpty, s"COPY INTO $table: source columns " +
            s"${extra.toSeq.sorted.mkString(", ")} are not in the " +
            "table schema")
          decl.fields.foreach { f =>
            if (names.contains(f.name))
              require(raw.schema(f.name).dataType == f.dataType,
                s"COPY INTO $table: column ${f.name} is " +
                  s"${raw.schema(f.name).dataType.simpleString} in the " +
                  s"source but ${f.dataType.simpleString} in the table")
            else require(f.nullable,
              s"COPY INTO $table: non-nullable column ${f.name} " +
                "missing from the source")
          }
          raw.select(decl.fields.toIndexedSeq.map { f =>
            if (names.contains(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }: _*)
        case None => raw
      }
      try {
        writeCommit(spark, table, v, base,
          appended(df, table, base, s"c$v-copyinto-$writer-a$attempt")
            .copy(copied = base.copied ++ fresh))
        return fresh.size.toLong
      } catch {
        case _: CommitConflictException if attempt < maxRetries =>
          attempt += 1 // HEAD moved — recompute the fresh set against it
          Thread.sleep(20L * attempt)
      }
    }
    -1L // unreachable
  }

  // ---- Table metadata verbs (round 14 — Delta's CHECK constraints,
  // GENERATED ALWAYS AS columns, IDENTITY columns and TBLPROPERTIES):
  // each declaration lives in the record and changes as one more
  // version with the same files, DVs and stats, so racing metadata
  // changes serialize at the version claim and a failed commit leaves
  // HEAD's metadata as it was. ----

  /** Commit HEAD's record with `change` applied as the next version. */
  private def commitMeta(spark: SparkSession, table: String)(
      change: (Long, CommitRecord) => CommitRecord): Long = {
    val v = tableVersion(spark, table)
    require(v >= 0, s"no table at $table")
    val base = record(spark, table, v)
    writeCommit(spark, table, v + 1, base, change(v, base))
    v + 1
  }

  /** The table's CHECK constraints — empty when none declared. */
  def readConstraints(spark: SparkSession,
      table: String): Seq[(String, String)] =
    headRecord(spark, table).constraints

  /** Validate a batch against CHECK constraints BEFORE it lands — SQL
    * CHECK semantics (NULL passes); a violation refuses the WHOLE
    * write with the constraint named. One `limit(1)` job per
    * constraint, only on constraint-carrying tables. */
  private def checkConstraints(table: String,
      constraints: Seq[(String, String)], df: DataFrame): Unit =
    constraints.foreach { case (n, e) =>
      val bad = df.filter(!coalesce(expr(e), lit(true))).limit(1).count()
      require(bad == 0L,
        s"CHECK constraint $n ($e) violated — write to $table refused")
    }

  /** The executor-write commits' variant (COW replace, MOR delta,
    * streaming-sink epochs): the fresh files are already on disk, so
    * validation reads just them (∝ the statement/batch, never the
    * table) with the declared schema applied. Covers CHECK constraints
    * AND generated-column conformance (an UPDATE that SETs a generated
    * column off its expression, or moves a base column without it,
    * refuses here). A violation throws before the commit lands — the
    * files stay orphans of the vacuum's usual class. */
  private[graft] def checkConstraintsFiles(spark: SparkSession,
      table: String, base: CommitRecord, fresh: Seq[String]): Unit =
    if (fresh.nonEmpty &&
        (base.constraints.nonEmpty || base.generated.nonEmpty)) {
      val df = readFilesDeclared(spark, base.schema,
        fresh.map(resolve(table, _)))
      checkConstraints(table, base.constraints, df)
      base.generated.foreach { case (n, e) =>
        if (df.columns.contains(n)) {
          val bad = df.filter(!(col(n) <=> expr(e))).limit(1).count()
          require(bad == 0L, s"generated column $n must equal ($e) — " +
            s"statement wrote a mismatching value, commit to $table refused")
        }
      }
    }

  /** The table's generated-column definitions — empty when none.
    * Every DataFrame-shaped write COMPUTES absent generated columns at
    * the landData chokepoint and VALIDATES explicitly-supplied ones
    * (null-safe equality — a mismatch refuses the whole write);
    * executor-written statements validate at their commits via
    * [[checkConstraintsFiles]]. */
  def readGenerated(spark: SparkSession,
      table: String): Seq[(String, String)] =
    headRecord(spark, table).generated

  /** (column, start, step, highWater) per declared identity column. */
  def readIdentity(spark: SparkSession,
      table: String): Seq[(String, Long, Long, Long)] =
    headRecord(spark, table).identity

  /** Declare an identity column (round 14): the column must already
    * EXIST (on a version with no data files: in the declared schema),
    * non-null, with the high water seeded from its max (Delta's SYNC
    * IDENTITY shape; `start - step` with no rows). Subsequent appends
    * without the column get system-assigned values, explicit values
    * pass through. */
  def tableAddIdentityColumn(spark: SparkSession, table: String,
      name: String, start: Long = 1L, step: Long = 1L): Long = {
    require(step > 0, "identity step must be positive")
    commitMeta(spark, table) { (v, base) =>
      require(!base.identity.exists(_._1 == name),
        s"identity column $name already declared")
      val head = readTableVersion(spark, table, v)
      require(head.columns.contains(name),
        s"cannot declare identity column $name: it does not exist at " +
          s"$table (seed it with explicit unique values first)")
      val r = head.agg(max(col(name).cast("long")), count(lit(1)),
        count(col(name))).head()
      require(r.getLong(1) == r.getLong(2),
        s"identity column $name must be non-null")
      val hw = if (r.getLong(1) == 0L) start - step else r.getLong(0)
      base.copy(identity = base.identity :+ ((name, start, step, hw)))
    }
  }

  /** Drop an identity declaration (the column stays, as plain data). */
  def tableDropIdentityColumn(spark: SparkSession, table: String,
      name: String): Long =
    commitMeta(spark, table) { (_, base) =>
      require(base.identity.exists(_._1 == name),
        s"no identity column $name at $table")
      base.copy(identity = base.identity.filterNot(_._1 == name))
    }

  /** The table's user properties — empty when none set. DESCRIBE
    * EXTENDED serves them through the connector's properties() map,
    * clones carry them (the Delta clone-properties contract). */
  def readTableProps(spark: SparkSession,
      table: String): Seq[(String, String)] =
    headRecord(spark, table).props

  /** SET TBLPROPERTIES: upserts the given keys, every other key
    * carries. */
  def tableSetProperties(spark: SparkSession, table: String,
      kvs: Seq[(String, String)]): Long =
    commitMeta(spark, table) { (_, base) =>
      require(kvs.forall { case (k, vv) =>
        k.nonEmpty && !k.contains('\t') && !vv.contains('\n') },
        "property keys must be tab-free and values single-line")
      val keys = kvs.map(_._1).toSet
      base.copy(props = base.props.filterNot(p => keys(p._1)) ++ kvs)
    }

  /** UNSET TBLPROPERTIES — missing keys are a no-op (IF EXISTS
    * semantics). */
  def tableUnsetProperties(spark: SparkSession, table: String,
      keys: Seq[String]): Long =
    commitMeta(spark, table) { (_, base) =>
      base.copy(props = base.props.filterNot(p => keys.contains(p._1)))
    }

  /** Compute absent generated columns / validate supplied ones — the
    * landData half of the GENERATED ALWAYS AS contract. */
  private def applyGenerated(table: String, gens: Seq[(String, String)],
      df: DataFrame): DataFrame =
    gens.foldLeft(df) { case (d, (n, e)) =>
      if (!d.columns.contains(n)) d.withColumn(n, expr(e))
      else {
        val bad = d.filter(!(col(n) <=> expr(e))).limit(1).count()
        require(bad == 0L, s"generated column $n must equal ($e) — " +
          s"explicit value mismatches, write to $table refused")
        d
      }
    }

  /** Declare a generated column (round 14): the column must already
    * exist CONFORMING in the table (on a version with no data files:
    * exist in the declared schema) — one distributed scan, the ADD
    * CONSTRAINT discipline. Every subsequent DataFrame write computes
    * it when absent and validates it when supplied; executor-written
    * DML validates at commit. */
  def tableAddGeneratedColumn(spark: SparkSession, table: String,
      name: String, exprSql: String): Long =
    commitMeta(spark, table) { (v, base) =>
      require(name.nonEmpty && !name.contains('\t') && !exprSql.contains('\n'),
        "generated-column names must be tab-free and expressions single-line")
      require(!base.generated.exists(_._1 == name),
        s"generated column $name already declared")
      val head = readTableVersion(spark, table, v)
      require(head.columns.contains(name),
        s"cannot declare generated column $name: it does not exist at " +
          s"$table (add the column with conforming values first)")
      val bad = head.filter(!(col(name) <=> expr(exprSql))).limit(1).count()
      require(bad == 0L, s"cannot declare generated column $name " +
        s"($exprSql): existing rows at $table v$v do not conform")
      base.copy(generated = base.generated :+ (name -> exprSql))
    }

  /** Drop a generated-column declaration (the column stays, as plain
    * data). */
  def tableDropGeneratedColumn(spark: SparkSession, table: String,
      name: String): Long =
    commitMeta(spark, table) { (_, base) =>
      require(base.generated.exists(_._1 == name),
        s"no generated column $name at $table")
      base.copy(generated = base.generated.filterNot(_._1 == name))
    }

  /** Declare a CHECK constraint (round 14): existing data must already
    * satisfy it (one distributed scan — Delta's ADD CONSTRAINT
    * contract). Every subsequent write through any path (appends, OCC,
    * streaming epochs, COW rewrites, MOR deltas, the DSv2/catalog
    * writers) validates against it. */
  def tableAddConstraint(spark: SparkSession, table: String,
      name: String, exprSql: String): Long =
    commitMeta(spark, table) { (v, base) =>
      require(name.nonEmpty && !name.contains('\t') && !exprSql.contains('\n'),
        "constraint names must be tab-free and expressions single-line")
      require(!base.constraints.exists(_._1 == name),
        s"constraint $name already exists")
      val bad = readTableVersion(spark, table, v)
        .filter(!coalesce(expr(exprSql), lit(true))).limit(1).count()
      require(bad == 0L,
        s"cannot add CHECK constraint $name ($exprSql): existing rows " +
          s"at $table v$v violate it")
      base.copy(constraints = base.constraints :+ (name -> exprSql))
    }

  /** Drop a CHECK constraint. */
  def tableDropConstraint(spark: SparkSession, table: String,
      name: String): Long =
    commitMeta(spark, table) { (_, base) =>
      require(base.constraints.exists(_._1 == name),
        s"no constraint $name at $table")
      base.copy(constraints = base.constraints.filterNot(_._1 == name))
    }

  /** CONVERT a plain parquet directory into a commit-log table
    * (round 14 — Delta's CONVERT TO DELTA): the existing part files
    * become version 0 WITHOUT copying a byte — each is RENAMED into
    * the table's `data/c0-convert/` dir (a same-filesystem rename is
    * a metadata operation at any file size) and the commit lists
    * them, after which every table verb (time travel, DML, DV
    * deletes, the DSv2 connector, streaming) applies unchanged.
    * Idempotent across crashes: a re-run moves whatever still sits in
    * the root and commits the union of moved files; once v0 exists
    * the convert refuses (it is a table now). Hidden/metadata files
    * (`_SUCCESS`, checksums) are left behind, not listed. */
  def tableConvert(spark: SparkSession, dir: String): Long = {
    require(tableVersion(spark, dir) < 0,
      s"$dir is already a commit-log table")
    val fs = fsFor(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    require(fs.exists(root), s"no directory at $dir")
    val tag = "c0-convert"
    val dataDir = new org.apache.hadoop.fs.Path(s"$dir/data/$tag")
    fs.mkdirs(dataDir)
    val loose = fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")
    }
    loose.foreach { st =>
      require(fs.rename(st.getPath,
        new org.apache.hadoop.fs.Path(dataDir, st.getPath.getName)),
        s"convert rename failed for ${st.getPath}")
    }
    val moved = fs.listStatus(dataDir).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith("."))
      .sorted.map(n => s"data/$tag/$n").toIndexedSeq
    require(moved.nonEmpty, s"no parquet part files to convert at $dir")
    val base = baseOf(spark, dir, 0L)
    writeCommit(spark, dir, 0L, base, base.copy(files = moved))
    0L
  }

  /** Land a DECLARED-SCHEMA change (ALTER TABLE ADD COLUMN) as a
    * claim-serialized commit (round 14, round-13 VERDICT #5): the next
    * version carries the SAME files, DVs and stats with the evolved
    * schema — so a schema change is one more version in the history,
    * two racing ALTERs serialize at the claim (the loser gets a
    * catchable [[CommitConflictException]] against its stale base
    * version), and ALTER-vs-REPLACE races conflict the same way.
    * `basedOn` is the version the caller computed the new schema
    * against (CAS semantics); -1 creates v0 with an empty file list on
    * a created-but-never-written table. */
  private[graft] def commitSchemaChange(spark: SparkSession, table: String,
      basedOn: Long, schema: org.apache.spark.sql.types.StructType): Long = {
    val base = baseOf(spark, table, basedOn + 1)
    writeCommit(spark, table, basedOn + 1, base,
      base.copy(schema = Some(schema)))
    basedOn + 1
  }

  /** OVERWRITE as a commit (round 12): `INSERT OVERWRITE` /
    * `mode("overwrite")` land the batch as the NEXT version listing
    * only the fresh files — the REPLACE TABLE semantics at write-path
    * granularity. Nothing is truncated physically: every prior
    * version keeps serving its own cut via time travel, and RESTORE
    * can roll the overwrite back. DV state and stats die with the
    * replaced content. */
  def tableOverwrite(df: DataFrame, table: String): Long = {
    val spark = df.sparkSession
    val v = tableVersion(spark, table) + 1
    require(v > 0, s"no table at $table — overwrite needs an existing " +
      "commit log (create with tableAppend or catalog CTAS)")
    val base = record(spark, table, v - 1)
    writeCommit(spark, table, v, base, base.copy(
      files = landData(df, table, s"c$v-ow", base), dv = Seq.empty,
      stats = None))
    v
  }

  /** Read a HEAD-rewrite's file subset with the table's DECLARED
    * schema applied when one exists (round 14, round-13 ADVICE): after
    * ALTER TABLE ADD COLUMN a table holds MIXED-schema files, and a
    * bare `spark.read.parquet` infers from a single footer — a COW
    * rewrite that picked a pre-evolution footer would silently drop the
    * added column from post-evolution rows. The declared schema
    * clips/null-backfills per file (the same semantics the DSv2
    * connector already serves at HEAD), so every rewrite verb is
    * era-correct. */
  private def readFilesDeclared(spark: SparkSession,
      declared: Option[org.apache.spark.sql.types.StructType],
      paths: Seq[String]): DataFrame =
    declared.fold(spark.read)(s => spark.read.schema(s)).parquet(paths: _*)

  /** Commit `df` as the next version: an APPEND (prior files, DVs and
    * metadata carried by reference + the new batch's files). Version 0
    * creates the table.
    */
  def tableAppend(df: DataFrame, table: String): Long = {
    val spark = df.sparkSession
    val v = tableVersion(spark, table) + 1
    val base = baseOf(spark, table, v)
    writeCommit(spark, table, v, base, appended(df, table, base, s"c$v"))
    v
  }

  /** I19: idempotent append for exactly-once STREAMING sinks — commit
    * version k carries exactly micro-batch k's files (plus priors by
    * reference), and re-delivery of an already-committed batch is a
    * no-op: the Delta `txnAppId`/`txnVersion` transactional-write
    * contract that turns foreachBatch's at-least-once into
    * exactly-once. Crash-safe: a retry after landing but before the
    * commit re-lands (mode overwrite) and commits once; orphans from
    * abandoned attempts are [[vacuumTable]] food. Returns whether this
    * delivery committed.
    */
  def tableAppendIdempotent(df: DataFrame, table: String,
      batchId: Long): Boolean = {
    val spark = df.sparkSession
    val v = tableVersion(spark, table)
    if (v >= batchId) false
    else {
      require(v == batchId - 1,
        s"batch $batchId delivered before batch ${batchId - 1} committed at $table")
      val base = baseOf(spark, table, batchId)
      writeCommit(spark, table, batchId, base,
        appended(df, table, base, s"c$batchId"))
      true
    }
  }

  /** The DIRECT streaming sink's epoch commit (round 14, round-13
    * VERDICT #1): micro-batch epoch k lands as table version k — the
    * [[tableAppendIdempotent]] contract at FILE granularity (executor
    * tasks already streamed the batch's parquet under the epoch's
    * `data/` tag; this is the driver-side commit, which validates them
    * against the CHECK constraints first — a violating micro-batch
    * fails the query instead of poisoning the table). Redelivery of an
    * already-committed epoch is a NO-OP (returns false; the replayed
    * attempt's parts are orphans of the vacuum's usual class), so
    * Structured Streaming's at-least-once epoch delivery becomes
    * exactly-once. Like the I19 sink, the STREAM OWNS THE TABLE:
    * versions are epochs, so interleaved external writers break the
    * v == epoch−1 invariant loudly. */
  private[graft] def commitStreamEpoch(spark: SparkSession, table: String,
      epochId: Long, files: Seq[String]): Boolean = {
    val v = tableVersion(spark, table)
    if (v >= epochId) false
    else {
      require(v == epochId - 1,
        s"epoch $epochId delivered before epoch ${epochId - 1} " +
          s"committed at $table (direct-sink tables map version ≡ epoch)")
      val base = baseOf(spark, table, epochId)
      checkConstraintsFiles(spark, table, base, files)
      writeCommit(spark, table, epochId, base,
        base.copy(files = base.files ++ files))
      true
    }
  }

  /** Copy-on-write DELETE: rows matching `pred` disappear from the NEW
    * version only. Touched-file discovery is a distributed scan (which
    * files actually hold matching rows); only those are rewritten
    * without their matching rows, every other file is carried by
    * reference — and the old versions still list the original files,
    * so history is immutable (the reference's COW-tree property,
    * cow_tree.h, at table granularity).
    */
  def tableDeleteWhere(spark: SparkSession, table: String,
      pred: Column): Long = {
    val v = tableVersion(spark, table)
    require(v >= 0, s"no table at $table")
    val base = record(spark, table, v)
    require(base.dv.isEmpty,
      s"table at $table carries deletion vectors — plain COW delete " +
        "would scan raw files and resurrect DV-deleted rows; use " +
        "tableDeleteWhereDv (or optimizeTableDv first)")
    val files = base.files
    val cur = readFilesDeclared(spark, base.schema, files.map(resolve(table, _)))
    // trailing data/<tag>/<part> segment of each scanned row's source
    // file (collect is ∝ #touched files — metadata-scale, same class
    // as the commit log); matched back to entries via trail() so
    // clone-referenced absolute entries are rewritable too
    val relFile = regexp_extract(input_file_name(), "data/[^/]+/[^/]+$", 0)
    val touched = cur.filter(pred).select(relFile.as("f"))
      .distinct().collect().map(_.getString(0)).toSet
    val nv = v + 1
    val touchedFull = files.filter(f => touched(trail(f)))
    val rewritten =
      if (touchedFull.isEmpty) Seq.empty[String]
      else landData(
        readFilesDeclared(spark, base.schema, touchedFull.map(resolve(table, _)))
          // SQL DELETE removes rows where pred IS TRUE — a NULL
          // predicate row is NOT deleted, so the keep filter must be
          // `NOT coalesce(pred, false)` (a bare `!pred` is NULL on
          // those rows and filter would silently drop them)
          .filter(!coalesce(pred, lit(false))), table, s"c$nv", base)
    writeCommit(spark, table, nv, base, rewrite(spark, table, base,
      files.filterNot(f => touched(trail(f))), rewritten, s"c$nv"))
    nv
  }

  /** I48: replaceWhere — Delta's predicate-scoped overwrite as ONE
    * commit: atomically (a) removes every row where `pred` IS TRUE
    * (COW at file granularity — only files CONTAINING matches
    * rewrite, the rest carry by reference) and (b) inserts `df`,
    * REFUSING the whole statement if the batch holds rows OUTSIDE the
    * predicate (the Delta replaceWhere constraint: a partition
    * backfill can never leak rows into regions it did not claim —
    * validation is one pass over the batch, refusal lands nothing).
    * Surviving region rows and the fresh batch land under one tag so
    * the stats re-derive in one pass; DV tables refuse like
    * tableDeleteWhere (a COW region rewrite over raw files would
    * resurrect DV-deleted rows; optimizeTableDv first). At 100 TB the
    * rewrite is ∝ the replaced region, never the table.
    */
  def tableReplaceWhere(df: DataFrame, table: String, pred: Column): Long = {
    val spark = df.sparkSession
    val v = tableVersion(spark, table)
    require(v >= 0, s"no table at $table")
    val base = record(spark, table, v)
    require(base.dv.isEmpty,
      s"table at $table carries deletion vectors — replaceWhere's COW " +
        "region rewrite would resurrect DV-deleted rows; run " +
        "optimizeTableDv first")
    val bad = df.filter(!coalesce(pred, lit(false))).count()
    require(bad == 0L, s"replaceWhere at $table: $bad batch rows fall " +
      "outside the predicate — the batch may only write the region it " +
      "replaces")
    val files = base.files
    // an empty table (staged CTAS, never written) has no region to
    // delete — the replace is a plain first insert
    val touched =
      if (files.isEmpty) Set.empty[String]
      else {
        val cur = readFilesDeclared(spark, base.schema,
          files.map(resolve(table, _)))
        val relFile =
          regexp_extract(input_file_name(), "data/[^/]+/[^/]+$", 0)
        cur.filter(pred).select(relFile.as("f"))
          .distinct().collect().map(_.getString(0)).toSet
      }
    val nv = v + 1
    val touchedFull = files.filter(f => touched(trail(f)))
    val aligned = base.schema match {
      case Some(decl) =>
        df.select(decl.fieldNames.toIndexedSeq.map(col): _*)
      case None => df
    }
    val unioned =
      if (touchedFull.isEmpty) aligned
      else {
        val survivors = readFilesDeclared(spark, base.schema,
            touchedFull.map(resolve(table, _)))
          .filter(!coalesce(pred, lit(false)))
        survivors.unionByName(aligned.select(
          survivors.columns.toIndexedSeq.map(col): _*))
      }
    val landed = landData(unioned, table, s"c$nv-rw", base)
    writeCommit(spark, table, nv, base, rewrite(spark, table, base,
      files.filterNot(f => touched(trail(f))), landed, s"c$nv-rw"))
    nv
  }

  /** MERGE (round 12): the Delta `MERGE INTO` upsert verb on the
    * commit log — WHEN MATCHED (by `keyCol`) the source row REPLACES
    * each matched target row (multiplicity preserved — N duplicate-key
    * target rows yield N updated copies, the Delta row semantics),
    * WHEN NOT MATCHED it inserts; one new commit.
    * Copy-on-write at FILE granularity: touched-file discovery is a
    * distributed key semi-join (collect ∝ #touched files —
    * metadata-scale), only files holding matched keys are rewritten
    * (matched rows dropped, all source rows landed alongside), every
    * other file carries by reference, and history stays immutable.
    * Stats carry ([[rewrite]]). Join sizing is left to
    * AQE — merge sources range from a trickle to a backfill, so
    * nothing is force-broadcast. DV-carrying tables COMPOSE (round 13,
    * positional DVs): the target view is merge-on-read, so a source
    * row re-inserting a previously DV-deleted key is NOT MATCHED and
    * lands as a fresh insert — the old row stays hidden behind its
    * (file, rowPos) entry, which can never collide with the new copy.
    * Refuses a source with duplicate keys (Delta's multiple-matches
    * error — which duplicate wins would be nondeterministic).
    */
  def tableMerge(spark: SparkSession, table: String, source: DataFrame,
      keyCol: String, schemaEvolution: Boolean = false): Long = {
    var v = tableVersion(spark, table)
    require(v >= 0, s"no table at $table")
    // round 14: MERGE WITH SCHEMA EVOLUTION (Delta's
    // withSchemaEvolution()): source-only columns first evolve the
    // declared schema — a nullable top-level add, the I34 semantics,
    // landed as its own CLAIM-SERIALIZED commit — and the merge then
    // proceeds against the evolved table, where pre-evolution rows
    // null-backfill the new columns through the declared-schema reads.
    // Without the flag a source/target column mismatch refuses below,
    // exactly as before.
    if (schemaEvolution) {
      val cur = record(spark, table, v).schema
        .getOrElse(readTableVersion(spark, table, v).schema)
      val extra = source.schema.fields
        .filterNot(f => cur.fieldNames.contains(f.name))
      if (extra.nonEmpty)
        v = commitSchemaChange(spark, table, v, extra.foldLeft(cur)((s, f) =>
          s.add(f.name, f.dataType, nullable = true)))
    }
    val base = record(spark, table, v)
    val files = base.files
    val raw = withFilePos(
      readFilesDeclared(spark, base.schema, files.map(resolve(table, _))))
    // the MOR view with (file, pos) attribution: matched-file discovery
    // and the rewrite both honor prior deletes (a DV-deleted row can
    // neither match nor resurrect)
    val live =
      if (base.dv.isEmpty) raw else dvJoin(raw, dvEntries(spark, table, base.dv))
    val dataCols = raw.columns.filterNot(Set("__f", "__p")).toIndexedSeq
    require(dataCols.toSet == source.columns.toSet,
      s"merge source columns ${source.columns.mkString(",")} must match " +
        s"target ${dataCols.mkString(",")}")
    val aligned = source.select(dataCols.map(col): _*)
    val srcKeys = aligned.select(col(keyCol))
    val keyStats = srcKeys.agg(
      count(lit(1)).as("n"), countDistinct(col(keyCol)).as("d"))
      .collect()(0)
    require(keyStats.getLong(0) == keyStats.getLong(1),
      s"merge source has duplicate $keyCol values — which row wins " +
        "would be nondeterministic (the Delta multiple-matches error)")
    val touched = live.select(col(keyCol), col("__f"))
      .join(srcKeys, Seq(keyCol), "left_semi")
      .select(col("__f")).distinct().collect().map(_.getString(0)).toSet
    val nv = v + 1
    val touchedFull = files.filter(f => touched(trail(f)))
    val out =
      if (touchedFull.isEmpty) aligned // insert-only merge = append
      else {
        val tgt = live.filter(col("__f").isInCollection(touched))
          .select(dataCols.map(col): _*)
        // Delta MERGE row semantics (round 13, round-12 ADVICE): each
        // MATCHED target row is REPLACED by its source row — target
        // multiplicity is PRESERVED (N duplicate-key target rows yield
        // N updated copies), never silently collapsed to one. The
        // source-side duplicate guard above keeps the join 1:N.
        val updated = tgt.select(col(keyCol))
          .join(aligned, Seq(keyCol), "inner")
          .select(dataCols.map(col): _*)
        val untouchedRows = tgt.join(srcKeys, Seq(keyCol), "left_anti")
          .select(dataCols.map(col): _*)
        // NOT MATCHED inserts: a source key LIVE anywhere in the
        // target is in a touched file by discovery, so the anti-join
        // needs only the touched rows, never the whole table
        val inserts = aligned
          .join(tgt.select(col(keyCol)), Seq(keyCol), "left_anti")
        updated.unionByName(untouchedRows).unionByName(inserts)
      }
    val landed = landData(out, table, s"c$nv", base)
    // carried DV dirs keep applying to kept files; entries for the
    // rewritten files point at trails no longer in the list — inert
    writeCommit(spark, table, nv, base, rewrite(spark, table, base,
      files.filterNot(f => touched(trail(f))), landed, s"c$nv"))
    nv
  }

  /** The newest version whose commit landed at-or-before `tsMillis`
    * (Delta's `timestampAsOf`): commit files are written once and
    * never touched (the vacuum checkpoint is a SEPARATE `.ckpt`), so
    * their mtimes are the commit wall-clock and monotone in version —
    * one `_commits` listing resolves the cut. Refuses a timestamp
    * before the first retained commit (nothing to serve). */
  def versionAtTimestamp(spark: SparkSession, table: String,
      tsMillis: Long): Long = {
    val fs = fsFor(spark, table)
    val dir = new org.apache.hadoop.fs.Path(table, "_commits")
    require(fs.exists(dir), s"no table at $table")
    val hits = fs.listStatus(dir)
      .filter(_.getPath.getName.endsWith(".commit"))
      .map(st => (st.getPath.getName.stripSuffix(".commit").toLong,
        st.getModificationTime))
      .filter(_._2 <= tsMillis)
    require(hits.nonEmpty,
      s"no version at $table as of $tsMillis (first retained commit " +
        "is newer)")
    hits.map(_._1).max
  }

  /** Read the table AS OF `version` through the `format("graft")`
    * connector — the one reader of a commit-log version: that version's
    * file list, its deletion vectors applied in the scan, HEAD served
    * with the declared `_schema` when one exists (pinned versions keep
    * their own era). */
  def readTableVersion(spark: SparkSession, table: String,
      version: Long): DataFrame =
    spark.read.format("graft").option("versionAsOf", version).load(table)

  /** I24 (round 10): version read with SCHEMA EVOLUTION — Delta's
    * append-time evolution (`mergeSchema`) on the commit log: a later
    * append may carry new columns, and a version read unions the
    * schemas of exactly that version's files, null-backfilling rows
    * from pre-evolution files. Time travel composes: a version from
    * BEFORE the evolution reads back with the old schema (its file
    * set simply has no new-column footer). The planning cost is the
    * footer union over the version's file list — metadata-scale.
    */
  def readTableVersionEvolved(spark: SparkSession, table: String,
      version: Long): DataFrame =
    spark.read.format("graft").option("versionAsOf", version)
      .option("mergeSchema", "true").load(table)

  /** I17: SHALLOW CLONE — a new table whose first commit references the
    * source table's CURRENT files by absolute path: zero data copied,
    * one metadata write at any table size (Delta SHALLOW CLONE /
    * Iceberg snapshot-ref semantics). Because data files are immutable
    * and mutations are COW, the clone and the source then diverge
    * freely — a delete on the clone rewrites into the CLONE's own data
    * dir and the source's files are never touched (and vice versa).
    */
  def tableClone(spark: SparkSession,
      srcTable: String, dstTable: String): Long = {
    val v = tableVersion(spark, srcTable)
    require(v >= 0, s"no table at $srcTable")
    require(tableVersion(spark, dstTable) == -1L,
      s"$dstTable already exists (clone target must be fresh)")
    val src = record(spark, srcTable, v)
    require(src.dv.isEmpty,
      s"source at $srcTable carries deletion vectors — a by-reference " +
        "clone would resurrect deleted rows; optimizeTableDv first")
    // table-level metadata travels with the clone (round 14): the
    // declared schema, CHECK constraints, generated columns and
    // properties are part of the table's contract, exactly as Delta
    // clones copy table properties
    writeCommit(spark, dstTable, 0L, CommitRecord(), CommitRecord(
      files = src.files.map(resolve(srcTable, _)), schema = src.schema,
      constraints = src.constraints, generated = src.generated,
      props = src.props))
    0L
  }

  /** I18: VACUUM — physical GC of the commit-log table: data files not
    * referenced by any RETAINED commit (≥ `retainFrom`) are deleted and
    * the expired commits removed, after which every retained version
    * must still read exactly as before (liveness is defined by the log,
    * never by directory listing). Cost: one listing of data/ + the
    * retained commit fetches — metadata-scale. Returns the number of
    * orphan data files removed.
    */
  def vacuumTable(spark: SparkSession, table: String,
      retainFrom: Long): Long = {
    val fs = fsFor(spark, table)
    val latest = tableVersion(spark, table)
    require(retainFrom >= 0 && retainFrom <= latest,
      s"retainFrom $retainFrom out of range [0, $latest] at $table")
    val retained = (retainFrom to latest).map(record(spark, table, _))
    val live = retained.flatMap(_.files).map(trail).toSet
    val dataDir = new org.apache.hadoop.fs.Path(table, "data")
    var removed = 0L
    if (fs.exists(dataDir)) fs.listStatus(dataDir).foreach { tag =>
      fs.listStatus(tag.getPath).filter(_.isFile).foreach { st =>
        val rel = s"data/${tag.getPath.getName}/${st.getPath.getName}"
        if (st.getPath.getName.startsWith("part-") && !live(rel)) {
          fs.delete(st.getPath, false); removed += 1
        }
      }
    }
    // deletion-vector dirs (I25) are live iff a RETAINED version's
    // record references them — same liveness rule as data files
    val liveDv = retained.flatMap(_.dv).toSet
    val dvRoot = new org.apache.hadoop.fs.Path(table, "dv")
    if (fs.exists(dvRoot)) fs.listStatus(dvRoot).foreach { d =>
      if (d.isDirectory && !liveDv(s"dv/${d.getPath.getName}")) {
        removed += fs.listStatus(d.getPath)
          .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
        fs.delete(d.getPath, true)
      }
    }
    // delta-encoded commits resolve through their predecessors:
    // expiring below a delta commit would orphan every retained commit
    // chained onto it — so the earliest RETAINED record is first
    // MATERIALIZED in full as its `.ckpt` (the Delta
    // checkpoint-before-expiry rule; atomic replace so readers never
    // see it missing), and only then do the ancestors expire: every
    // file of an expired version (commit, checkpoint, claim lock,
    // crashed attempts' tmp files) leaves `_commits`. The
    // expired-version contract is unchanged: reads below retainFrom
    // refuse with "no version".
    if (retainFrom > 0) {
      val fin = ckptPath(table, retainFrom)
      val tmp = new org.apache.hadoop.fs.Path(table,
        f"_commits/$retainFrom%08d.ckpt.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write((LogToken +: retained.head.lines).mkString("\n")
        .getBytes("UTF-8")) finally out.close()
      // a re-vacuum writes the same deterministic content
      try fs.delete(fin, false) catch { case _: Throwable => () }
      require(fs.rename(tmp, fin),
        s"checkpoint write for v$retainFrom failed at $table")
    }
    fs.listStatus(new org.apache.hadoop.fs.Path(table, "_commits")).foreach { st =>
      val n = st.getPath.getName
      if (n.length > 8 && n.take(8).forall(_.isDigit) &&
          n.take(8).toLong < retainFrom) fs.delete(st.getPath, false)
    }
    removed
  }

  /** I15: CHANGE DATA FEED between two committed versions, computed
    * from the commit log alone (Delta's "CDF without stored change
    * files" path): only files that differ between the two commits are
    * read — carried-by-reference files can't contain changes by
    * construction — and the row-level feed is the multiset difference
    * of the removed vs added file contents (`exceptAll`, so rewritten
    * rows that survived a COW rewrite cancel exactly). Cost ∝ touched
    * files, not table size — on a 100 TB table whose commit rewrote
    * 3 files, the feed reads 6 files.
    */
  def changeFeed(spark: SparkSession, table: String,
      fromV: Long, toV: Long): DataFrame =
    // since round 11 the feed is ALWAYS DV-aware (one semantics): on
    // DV-free tables this degenerates to the pure file-diff form
    changeFeedMor(spark, table, fromV, toV)

  /** I25+I15 (round 11): CHANGE DATA FEED over a table with deletion
    * vectors. The file-diff feed ([[changeFeed]]) is blind to DV-only
    * deletes (no file changes) and would mis-attribute rows a PRIOR
    * version's DV already removed when a COW rewrite touches their
    * file — so both sides of the multiset diff read MERGE-ON-READ with
    * their own version's DVs, and the DV dirs ADDED in (fromV, toV]
    * contribute delete rows directly (their content looked up in the
    * files both versions share; rewritten files are covered by the
    * file diff). Cost stays ∝ touched files + new DV entries, never
    * table size. */
  def changeFeedMor(spark: SparkSession, table: String,
      fromV: Long, toV: Long): DataFrame = {
    val (fromRec, toRec) = (record(spark, table, fromV), record(spark, table, toV))
    val (from, to) = (fromRec.files.toSet, toRec.files.toSet)
    val (fromDv, toDv) = (fromRec.dv, toRec.dv)
    val declared = declaredSchema(spark, table)
    def entries(dirs: Seq[String]): Option[DataFrame] =
      if (dirs.isEmpty) None else Some(dvEntries(spark, table, dirs))
    // MOR view of a file subset under a version's DV set (positional)
    // feed reads serve the DECLARED (HEAD) schema when there is one:
    // a feed spanning an ALTER ADD COLUMN evolution aligns both diff
    // sides on one schema (era-1 rows null-backfill) instead of
    // failing the union on mixed footers
    def readMor(fs: Set[String], dv: Seq[String]): Option[DataFrame] =
      if (fs.isEmpty) None
      else {
        val base = readFilesDeclared(spark, declared,
          fs.toSeq.sorted.map(f => resolve(table, f)))
        entries(dv) match {
          case Some(e) => Some(dvJoin(withFilePos(base), e).drop("__f", "__p"))
          case None => Some(base)
        }
      }
    // UPDATE pairing (round 14, round-13 VERDICT #3): a MOR UPDATE
    // statement stamps its dv dir and insert tag `moru-<uid>`, so its
    // fresh row images feed as `update_postimage` and its DV entries
    // as `update_preimage` — Delta's CDF row types for updates — while
    // plain inserts/deletes (and MERGE, whose files mix matched
    // updates with NOT-MATCHED inserts) keep their unpaired types.
    // A COW materialization folds preimages into the file diff, so
    // pairing is per-commit-granular by design.
    val (updAdd, restAdd) = (to -- from).partition(isMoruDataFile)
    val fileFeed0 = (readMor(from -- to, fromDv), readMor(restAdd, toDv)) match {
      case (None, None) => None
      case (None, Some(add)) => Some(add.withColumn("change_type", lit("insert")))
      case (Some(rem), None) => Some(rem.withColumn("change_type", lit("delete")))
      case (Some(rem), Some(add)) => Some(
        add.exceptAll(rem).withColumn("change_type", lit("insert"))
          .unionByName(rem.exceptAll(add)
            .withColumn("change_type", lit("delete"))))
    }
    val updFeed = readMor(updAdd, toDv)
      .map(_.withColumn("change_type", lit("update_postimage")))
    val fileFeed = (fileFeed0 ++ updFeed)
      .reduceOption((a, b) => a.unionByName(b.select(a.columns.map(col): _*)))
    // DV-only deletes: (file, pos) entries in dirs added between the
    // versions, the rows looked up POSITIONALLY in the files BOTH
    // versions carry (rewritten/removed files are already accounted by
    // the file diff); subtract fromV's entries so a carried dir never
    // re-emits an old delete. Update-statement dirs feed as
    // update_preimage (see above).
    val newDirs = toDv.filterNot(fromDv.toSet)
    val (updDirs, delDirs) = newDirs.partition(isMoruDvDir)
    val sharedFiles = from intersect to
    def dvBranch(dirs: Seq[String], changeType: String): Option[DataFrame] =
      (sharedFiles.nonEmpty, entries(dirs)) match {
        case (true, Some(e)) =>
          val fresh = entries(fromDv) match {
            case Some(old) => e.join(old, Seq("__f", "__p"), "left_anti")
            case None => e
          }
          val shared = withFilePos(readFilesDeclared(spark, declared,
            sharedFiles.toSeq.sorted.map(f => resolve(table, f))))
          Some(dvJoin(shared, fresh, "left_semi").drop("__f", "__p")
            .withColumn("change_type", lit(changeType)))
        case _ => None
      }
    val dvFeed = (dvBranch(delDirs, "delete") ++
        dvBranch(updDirs, "update_preimage"))
      .reduceOption((a, b) => a.unionByName(b.select(a.columns.map(col): _*)))
    (fileFeed, dvFeed) match {
      case (None, None) =>
        readTableVersion(spark, table, toV).filter(lit(false))
          .withColumn("change_type", lit(""))
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (Some(a), Some(b)) =>
        // align column orders before the union (MOR anti-joins move
        // the key column to the front)
        b.select(a.columns.map(col): _*).unionByName(a)
    }
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
  def timetravelRead(spark: SparkSession, dir: String): DataFrame = {
    val table = ttTable(spark, dir)
    def agg(v: Long): DataFrame =
      readTableVersion(spark, table, v).transform(versionSummary(v))
    agg(1L).unionByName(agg(2L))
  }

  /** I15, oracle-gated: the change feed of BOTH commit transitions of
    * the I14 table — v0→v1 (pure insert of the appended days) and
    * v1→v2 (pure delete of the purchase rows via COW rewrite, where
    * the surviving rewritten rows must cancel exactly in the multiset
    * diff) — aggregated per (transition, change type, typ) and
    * replayed by DuckDB from the source cuts.
    */
  def cdfRead(spark: SparkSession, dir: String): DataFrame = {
    val table = ttTable(spark, dir)
    def agg(fromV: Long): DataFrame =
      changeFeed(spark, table, fromV, fromV + 1)
        .groupBy(lit(fromV).as("from_v"), col("change_type"), col("typ"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    agg(0L).unionByName(agg(1L))
  }

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
    fixture(spark, dir, "graft_io_tt") { t =>
      buildEventsTable(spark, dir, t)
    }

  // the shared 3-commit fixture: v0 creates (days ≤ 01-10), v1 appends
  // (01-11..20), v2 copy-on-write-deletes the purchase rows
  private def buildEventsTable(spark: SparkSession, dir: String,
      t: String): Unit = {
    fsFor(spark, t).delete(new org.apache.hadoop.fs.Path(t), true)
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
    val t = fixture(spark, dir, "graft_io_evl") { p =>
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
    val cl = fixture(spark, dir, "graft_io_clone") { t =>
      tableClone(spark, src, t)
      tableDeleteWhere(spark, t, col("typ") === "view")
    }
    def agg(tag: String, df: DataFrame): DataFrame =
      df.groupBy(lit(tag).as("rel"), col("typ"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    agg("clone_v0", readTableVersion(spark, cl, 0L))
      .unionByName(agg("clone_v1", readTableVersion(spark, cl, 1L)))
      .unionByName(agg("src_v2",
        readTableVersion(spark, src, tableVersion(spark, src))))
  }

  /** I18, oracle-gated: vacuum then read — a private 3-commit table is
    * vacuumed down to its latest version (the COW delete made every
    * original c0/c1 file an orphan, so the GC does real deletion —
    * required > 0), then the retained version is read back through the
    * commit log and must still reproduce the source cut exactly:
    * liveness comes from the log, and the GC removed only dead files.
    */
  def vacuumRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fixture(spark, dir, "graft_io_vac") { tt =>
      buildEventsTable(spark, dir, tt)
      val removed = vacuumTable(spark, tt, retainFrom = 2L)
      require(removed > 0, s"vacuum removed no orphans at $tt")
    }
    readTableVersion(spark, t, 2L)
      .groupBy(col("typ"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
  }

  /** I20: RESTORE TABLE TO VERSION — roll the table back to an earlier
    * version's CONTENT as a NEW commit (Delta RESTORE semantics): the
    * log stays append-only, every intermediate version remains
    * readable, and the restored state is served through the old
    * commit's file list carried by reference — zero data moved at any
    * table size, because data files are immutable. Fails fast if a
    * restored file was vacuumed away (Delta's restore-after-vacuum
    * error), checked per file — ∝ #files, metadata-scale.
    */
  def tableRestore(spark: SparkSession, table: String,
      toVersion: Long): Long = {
    val latest = tableVersion(spark, table)
    require(toVersion >= 0 && toVersion <= latest,
      s"restore target $toVersion out of range [0, $latest] at $table")
    val target = record(spark, table, toVersion)
    val fs = fsFor(spark, table)
    // restored state ≡ the old version's CONTENT — its files, deletion
    // vectors and stats (so a DV-free target restored over a
    // DV-carrying HEAD rolls the deletes back too, exactly the Delta
    // RESTORE contract) — each file and dv/ dir checked to have
    // survived vacuum; the table metadata stays HEAD's
    (target.files ++ target.dv).foreach { f =>
      require(fs.exists(new org.apache.hadoop.fs.Path(resolve(table, f))),
        s"cannot restore to $toVersion: $f was vacuumed")
    }
    val base = record(spark, table, latest)
    writeCommit(spark, table, latest + 1, base, base.copy(
      files = target.files, dv = target.dv, stats = target.stats))
    latest + 1
  }

  /** I21: OPTIMIZE — bin-packing compaction as a LOG COMMIT (Delta
    * OPTIMIZE semantics): the latest version's files are rewritten
    * into `targetFiles` larger ones and committed as the next version
    * with IDENTICAL content — a pure layout change, so time travel
    * still serves every prior version through the original small
    * files until vacuum expires them. The streaming-ingest pattern
    * (one small file per micro-batch, I19) is exactly what this
    * exists to clean up; at 100 TB the rewrite is per-partition and
    * the commit stays metadata-scale.
    */
  def tableOptimize(spark: SparkSession, table: String,
      targetFiles: Int): Long = {
    val v = tableVersion(spark, table)
    require(v >= 0, s"no table at $table")
    val base = record(spark, table, v)
    // round 14 (the liquid-clustering shape): a table declaring
    // `graft.clusterBy = "x,y"` in its TBLPROPERTIES routes every
    // OPTIMIZE through the z-order re-cluster — compaction keeps the
    // clustered layout without the caller naming the columns
    base.props.toMap.get("graft.clusterBy") match {
      case Some(cols) =>
        val parts = cols.split(",").map(_.trim).filter(_.nonEmpty)
        require(parts.length == 2,
          s"graft.clusterBy at $table must name exactly two columns, " +
            s"got '$cols'")
        return tableOptimizeZorder(spark, table, parts(0), parts(1),
          targetFiles)
      case None => ()
    }
    val nv = v + 1
    // the rewrite input is HEAD's version read, not the raw files:
    // OPTIMIZE on a DV-carrying table materializes the deletes into
    // the packed files (≡ optimizeTableDv + bin-packing) and commits
    // DV-free — a raw-file rewrite would permanently resurrect
    // DV-deleted rows (round-11 ADVICE high) — and HEAD serves the
    // DECLARED schema (I42), so mixed-era files keep the evolved column
    val packed = landData(readTableVersion(spark, table, v)
      .coalesce(targetFiles), table, s"c$nv", base)
    writeCommit(spark, table, nv, base,
      rewrite(spark, table, base.copy(dv = Seq.empty), Seq.empty, packed, s"c$nv"))
    nv
  }

  /** I47: OPTIMIZE ... ZORDER BY (x, y) — Delta's clustered compaction
    * as a LOG COMMIT: HEAD's MOR view is re-laid-out along the Morton
    * z-value of the two clustering columns (the I11 write-side
    * machinery — range-repartition + in-partition sort on the
    * interleaved-bit value, so every output file stays range-bounded
    * in BOTH dimensions) and committed as the next version with
    * IDENTICAL content; the commit's stats RE-DERIVE per new file
    * ([[rewrite]]'s fresh pass), so a subsequent I22 stats-skipping
    * band read on EITHER column prunes most files — the point of the
    * rewrite. Prior versions stay readable through the original
    * layout; at 100 TB the re-cluster is one shuffle ∝ data and the
    * commit stays metadata-scale. Reads with the declared `_schema`
    * (I42) so mixed-era tables keep evolved columns through the
    * rewrite. */
  def tableOptimizeZorder(spark: SparkSession, table: String,
      xCol: String, yCol: String, targetFiles: Int): Long = {
    val v = tableVersion(spark, table)
    require(v >= 0, s"no table at $table")
    val base = record(spark, table, v)
    val nv = v + 1
    val input = readTableVersion(spark, table, v)
    // RANGE-ID normalization (what Delta's ZORDER actually interleaves
    // — range_partition_id, not raw values): each dimension maps to
    // its ~equi-depth QUANTILE bucket (0..255) before the bit
    // interleave. Raw or min-max-scaled values break two ways: a
    // wider-span column dominates every top z bit, and a SKEWED
    // column concentrates the data in a few buckets so the other
    // dimension decides every split anyway — rank space is uniform by
    // construction, immune to both. One approxQuantile pass over the
    // two columns (it is a compaction; the shuffle that follows costs
    // more), then a 256-element fold per row — no codegen-hostile
    // UDF, no extra sort. Pruning still reads VALUE stats: rank is
    // monotone in value, so value bands stay contiguous in z blocks.
    val quant = (1 to 255).map(_ / 256.0).toArray
    // round 14 (optimization round, determinism fix): approxQuantile's
    // GK-sketch result depends on partition merge ORDER, so two runs
    // over the same table could land different band layouts — the
    // ExtensionsSpec pruning assertion flaked under a loaded full-suite
    // run. Deterministic replacement: EXACT percentiles over a
    // hash-deterministic row sample (≤ ~256k rows, so the exact
    // aggregate's buffer stays bounded at any table size; at 4k-row
    // spec scale the sample is the full input, so cuts are exact).
    val zbase = input.na.drop(Seq(xCol, yCol))
      .select(col(xCol).cast("double").as("__zx"),
        col(yCol).cast("double").as("__zy"))
    val zn = zbase.count()
    val zrate = math.max(1L, zn / 262144L)
    val zsample = if (zrate == 1L) zbase else {
      val s = zbase.filter(
        pmod(xxhash64(col("__zx"), col("__zy")), lit(zrate)) === 0)
      if (s.isEmpty) zbase else s
    }
    val qlist = quant.mkString(",")
    val cuts: Array[Array[Double]] =
      if (zn == 0L) Array(Array.empty, Array.empty)
      else {
        val r = zsample.selectExpr(
          s"percentile(__zx, array($qlist)) as cx",
          s"percentile(__zy, array($qlist)) as cy").head()
        Array(r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray)
      }
    def bucket(c: Column, cs: Array[Double]): Column =
      aggregate(typedlit(cs.distinct.sorted.toIndexedSeq), lit(0),
        (acc, cut) => acc + when(c.cast("double") >= cut, 1).otherwise(0))
    val xi = bucket(col(xCol), cuts(0))
    val yi = bucket(col(yCol), cuts(1))
    val z = (0 until 8).map { i =>
      shiftleft(shiftright(xi, i).bitwiseAND(1), 2 * i)
        .bitwiseOR(shiftleft(shiftright(yi, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    // round 15 (determinism, round-14 VERDICT #1): repartitionByRange
    // draws its range bounds from a RESERVOIR SAMPLE whose seed derives
    // from the RDD id — i.e. from session history — so two OPTIMIZE
    // runs over identical data could land different file boundaries
    // (deterministic in an isolated test, flaky in a full-suite run:
    // the surviving ExtensionsSpec failure after the round-14 cut fix).
    // Replace the sampled range exchange with EXACT file-band cuts
    // (same bounded-sample percentile discipline as the band cuts
    // above) and an exact partitioner: band b holds the rows between
    // consecutive z-quantiles, partition index = band. Layout is now a
    // pure function of the data. The row-level shuffle moves the same
    // bytes the range exchange did; this is the OPTIMIZE path only.
    val withZ = input.withColumn("__z", z)
    val zq = (1 until targetFiles).map(_.toDouble / targetFiles)
    val zcuts: Array[Double] =
      if (zn == 0L || targetFiles <= 1) Array.empty
      else {
        val zs = withZ.select(col("__z").cast("double").as("__zv"))
        val zss = if (zrate == 1L) zs else {
          val s = zs.filter(pmod(xxhash64(col("__zv")), lit(zrate)) === 0)
          if (s.isEmpty) zs else s
        }
        zss.selectExpr(
          s"percentile(__zv, array(${zq.mkString(",")})) as cz")
          .head().getSeq[Double](0).toArray.distinct.sorted
      }
    val bandCol = zcuts.foldLeft(lit(0))((acc, cut) =>
      acc + when(col("__z").cast("double") > lit(cut), 1).otherwise(0))
    val withBand = withZ.withColumn("__band", bandCol)
    val schema = withBand.schema
    val bi = schema.fieldIndex("__band")
    val nParts = targetFiles
    val parted = withBand.rdd
      .map(r => (r.getInt(bi), r))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = nParts
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .values
    val clustered = spark.createDataFrame(parted, schema)
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__band")
    val packed = landData(clustered, table, s"c$nv", base)
    writeCommit(spark, table, nv, base,
      rewrite(spark, table, base.copy(dv = Seq.empty), Seq.empty, packed, s"c$nv"))
    nv
  }

  /** I21, oracle-gated: optimize-then-read — the 3-commit fixture's
    * latest version is bin-packed to one file as commit v3; the
    * optimized read must ≡ the v2 cut exactly (layout changed, content
    * never), replayed by DuckDB from the source. IoSpec pins the
    * file-count drop, pre-optimize history intactness, and that
    * vacuum afterwards removes the superseded small files.
    */
  def optimizeRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fixture(spark, dir, "graft_io_opt") { tt =>
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
    val t = fixture(spark, dir, "graft_io_zopt") { tt =>
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
    val t = fixture(spark, dir, "graft_io_rw") { tt =>
      val flat = centsOf(spark, dir)
      tableAppend(flat.repartition(4, col("typ")), tt) // v0
      val newBatch = flat.filter(col("typ") === "purchase")
        .withColumn("cents", col("cents") + 100000L)
      val thrown =
        try {
          newBatch.unionByName(flat.filter(col("typ") === "click").limit(1))
            .write.format("graft").mode("overwrite")
            .option("replaceWhere", "typ = 'purchase'").save(tt)
          false
        } catch { case _: Throwable => true }
      require(thrown && tableVersion(spark, tt) == 0L,
        s"a violating replaceWhere batch at $tt must refuse with HEAD " +
          "unmoved")
      newBatch.write.format("graft").mode("overwrite")
        .option("replaceWhere", "typ = 'purchase'").save(tt)
      require(tableVersion(spark, tt) == 1L,
        s"replaceWhere at $tt must land exactly one commit")
      require(record(spark, tt, 1L).files.toSet
          .intersect(record(spark, tt, 0L).files.toSet).nonEmpty,
        s"replaceWhere at $tt must carry untouched files by reference")
    }
    readTableVersion(spark, t, tableVersion(spark, t)).transform(typeSummary)
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
    val t = fixture(spark, dir, "graft_io_restore") { tt =>
      buildEventsTable(spark, dir, tt)
      val v = tableRestore(spark, tt, 1L)
      require(v == 3L, s"expected restore to commit v3 at $tt, got $v")
    }
    def agg(tag: String, v: Long): DataFrame =
      readTableVersion(spark, t, v).transform(summaryBy(_, lit(tag).as("rel")))
    agg("restored", 3L).unionByName(agg("pre_restore", 2L))
  }

  /** ORC round-trip (second columnar format). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** I11: Z-order clustered write — multi-dimensional data clustering
    * for row-group/file pruning (what Delta's OPTIMIZE ZORDER BY and
    * Iceberg's sort-order rewrite do). A linear sort makes file
    * min/max stats tight on ONE column and useless on the others; the
    * Morton z-value interleaves the bits of both key columns so files
    * stay range-bounded in BOTH dimensions, and a scan filtered on
    * either (or both) skips most files on footer stats alone. At
    * 100 TB this is the difference between reading one file and
    * reading the table for a two-dimensional point query.
    *
    * The z-value is pure integer bit arithmetic (32 bits per
    * dimension filling the 64-bit z — keys up to 2³²−1 interleave
    * without aliasing; constant-unrolled shifts/masks — whole-stage
    * codegen, no UDF); layout = range-repartition + in-partition sort
    * on it.
    */
  def zorderValue(x: Column, y: Column): Column = {
    val xi = x.cast("long"); val yi = y.cast("long")
    (0 until 32).map { i =>
      shiftleft(shiftright(xi, i).bitwiseAND(1), 2 * i)
        .bitwiseOR(shiftleft(shiftright(yi, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  def writeZordered(df: DataFrame, xCol: String, yCol: String,
      path: String, files: Int): Unit =
    df.withColumn("__z", zorderValue(col(xCol), col(yCol)))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** I12: file-statistics manifest — the Iceberg/Delta file-skipping
    * shape on plain parquet. One manifest row per data file with the
    * tracked column's [min, max] (metadata ∝ #files, not rows), stored
    * under `_manifest/` (the underscore keeps parquet readers from
    * treating it as data, the `_spark_metadata` convention).
    *
    * Why it matters at 100 TB: footer-stats pruning still OPENS every
    * file's footer — a million-file table pays a million metadata
    * round-trips to skip files. A manifest read is one tiny parquet,
    * so planning cost is O(matching files), independent of table size.
    * At production scale the stats are captured in the write commit
    * itself; this maintenance-pass derivation shares the read path.
    * Reference framing: tagtree's per-segment [min_ts, max_ts] pruning
    * (src/index/index_tree.cpp:92-110) lifted to file granularity.
    */
  def writeManifest(spark: SparkSession, path: String, statCol: String): Unit = {
    // Manifest entries are RELATIVE to the table root: a manifest
    // holding absolute input_file_name() URIs breaks when the table
    // directory moves and silently points at stale files after a
    // rewrite. Relative names keep the manifest portable; readPruned
    // verifies existence so a post-manifest rewrite (Spark part files
    // get fresh UUID names) fails fast instead of reading deleted data.
    // Relativize through the Hadoop FileSystem API (like compact/upsert)
    // so manifests work on any URI scheme, not just the local fs:
    // normalize input_file_name()'s URI to its path component, then
    // strip the qualified root's path prefix.
    val rootP = new org.apache.hadoop.fs.Path(path)
    val rootUriPath = rootP
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(rootP).toUri.getPath
    val rel = regexp_replace(
      regexp_replace(
        regexp_replace(input_file_name(),
          "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),   // scheme://authority
        "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"),          // scheme:/ (no authority)
      "^" + java.util.regex.Pattern.quote(rootUriPath) + "/", "")
    spark.read.parquet(path)
      .groupBy(rel.as("file"))
      .agg(min(col(statCol)).as("min_v"), max(col(statCol)).as("max_v"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_manifest")
  }

  /** Manifest-pruned read: only files whose [min, max] overlaps
    * [lo, hi] reach Spark's file index; the residual predicate makes
    * the result exact (manifest pruning is file-conservative, like the
    * reference's segment-level time pruning). Selected entries are
    * resolved against the CURRENT table root and existence-checked —
    * a manifest left stale by a later rewrite is an error, not a
    * silent wrong answer.
    */
  def readPruned(spark: SparkSession, path: String, statCol: String,
      lo: Column, hi: Column): DataFrame = {
    // Resolve + existence-check through the Hadoop FileSystem API so
    // the staleness guard holds on HDFS/object-store URIs too (a
    // java.io.File check silently fails every non-local path)
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fsys = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootQ = fsys.makeQualified(rootP)
    val files = spark.read.parquet(s"$path/_manifest")
      .filter(col("max_v") >= lo && col("min_v") <= hi)
      .select("file").collect()
      .map(r => new org.apache.hadoop.fs.Path(rootQ, r.getString(0)))
    val missing = files.filterNot(fsys.exists)
    require(missing.isEmpty,
      s"manifest at $path/_manifest is stale: ${missing.length} of " +
        s"${files.length} selected files no longer exist (e.g. " +
        s"${missing.take(1).mkString}); rewrite the manifest with writeManifest")
    val base =
      if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(files.map(_.toString).toIndexedSeq: _*)
    base.filter(col(statCol) >= lo && col(statCol) <= hi)
  }

  // ---- I22: commit-embedded file statistics + data-skipping reads —
  // the Delta add-action stats / Iceberg manifest-entry bounds: the
  // I12 manifest idea captured IN THE WRITE COMMIT itself, so stats
  // are version-consistent by construction (each version's record
  // covers exactly its file list, carried forward like the files),
  // and a time-travel read can skip files with zero extra passes.
  // At 100 TB: planning reads one record ∝ #files — no footer
  // round-trips, no post-hoc manifest job, and the pruned band scan
  // reads only the overlapping files. ----

  /** Per-file [min, max] of `cols` over a just-landed data dir — ONE
    * distributed pass grouped by file; collect ∝ #files × #cols
    * (metadata-scale). */
  private def landedStats(spark: SparkSession, table: String, tag: String,
      cols: Seq[String]): Map[(String, String), (Long, Long)] = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    spark.read.parquet(s"$table/data/$tag")
      .groupBy(regexp_extract(input_file_name(), "data/[^/]+/[^/]+$", 0)
        .as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().flatMap { r =>
        cols.map(c => (r.getAs[String]("f"), c) ->
          (r.getAs[Long](s"mn_$c"), r.getAs[Long](s"mx_$c")))
      }.toMap
  }

  /** `base` rewritten to the file list `kept ++ fresh`, `fresh` landed
    * under `tag` (round 12 — makes stats skipping compose with DV
    * deletes, OPTIMIZE and SQL DML): kept files keep their stats
    * entries (conservative under deletes — min/max may widen, pruning
    * stays file-correct), fresh files get one [[landedStats]] pass, and
    * a zero-row fresh part — no data, no stats row, the
    * tableAppendStats exclusion — is dropped. A stats-free base stays
    * stats-free. */
  private[graft] def rewrite(spark: SparkSession, table: String,
      base: CommitRecord, kept: Seq[String], fresh: Seq[String],
      tag: String): CommitRecord =
    base.stats.filter(_.nonEmpty) match {
      case None => base.copy(files = kept ++ fresh)
      case Some(ps) =>
        val cols = ps.keys.map(_._2).toSeq.distinct.sorted
        val st =
          if (fresh.isEmpty) Map.empty[(String, String), (Long, Long)]
          else landedStats(spark, table, tag, cols)
        val landed = fresh.filter(f => st.contains((trail(f), cols.head)))
        val keep = kept.toSet
        base.copy(files = kept ++ landed, stats = Some(
          ps.filter { case ((f, _), _) => keep(f) } ++
            landed.flatMap(f => cols.map(c => (f, c) -> st((trail(f), c))))))
    }

  /** (file entry, column) → [min, max] at `version`. */
  private[graft] def readStatsFile(spark: SparkSession, table: String,
      version: Long): Map[(String, String), (Long, Long)] =
    statsAt(table, version, record(spark, table, version))

  private def statsAt(table: String, version: Long,
      rec: CommitRecord): Map[(String, String), (Long, Long)] =
    rec.stats.getOrElse(throw new IllegalArgumentException(
      s"no commit stats at $table v$version — built without tableAppendStats?"))

  /** Append `df` as the next version WITH per-file [min, max] stats of
    * every named column embedded in the commit record (the Delta
    * multi-column add-action stats). Stats for the new files come from
    * ONE distributed pass over just-landed data grouped by file
    * (collect ∝ #files × #cols — metadata-scale); prior entries carry
    * forward by reference exactly like the file list.
    */
  def tableAppendStats(df: DataFrame, table: String,
      statsCols: String*): Long = {
    require(statsCols.nonEmpty, "tableAppendStats needs ≥1 stats column")
    val spark = df.sparkSession
    val v = tableVersion(spark, table) + 1
    val base = baseOf(spark, table, v)
    val priorStats =
      if (v == 0) Map.empty[(String, String), (Long, Long)]
      else statsAt(table, v - 1, base)
    require(base.files.forall(f => statsCols.forall(c =>
        priorStats.contains((trail(f), c)))),
      s"prior version at $table is missing stats entries for " +
        s"${statsCols.mkString(",")} — mixed stats/plain appends (or " +
        "changed stats columns) are not supported")
    val landed = landData(df, table, s"c$v", base)
    val freshStats = landedStats(spark, table, s"c$v", statsCols)
    // A zero-row part file (possible under repartitionByRange skew)
    // produces no stats row — exclude it from the committed file list
    // (it carries no data) so every committed entry has stats.
    val fresh = landed.filter(f =>
      freshStats.contains((trail(f), statsCols.head)))
    writeCommit(spark, table, v, base, base.copy(
      files = base.files ++ fresh,
      stats = Some(priorStats.filter { case ((_, c), _) => statsCols.contains(c) } ++
        fresh.flatMap(f => statsCols.map(c => (f, c) -> freshStats((trail(f), c)))))))
    v
  }

  // ---- I25 (round 11, POSITIONAL since round 13): DELETION VECTORS —
  // merge-on-read DELETE. The Delta-DV / Iceberg-v2-position-delete
  // idea on the commit log: when the matched rows are a small fraction
  // of their files, DELETE writes a tiny table of deleted
  // (file, rowPos) POSITIONS instead of rewriting whole data files
  // (COW turns a 1-row delete into a multi-GB rewrite at 100 TB);
  // the connector's scan filters the version's DV positions out, and
  // OPTIMIZE materializes them back into clean files. DV state is VERSIONED
  // exactly like the file list: each commit record names the dv/
  // parquet dirs that apply to THAT version (carried forward by
  // appends, dropped by OPTIMIZE), so time travel composes — an old
  // version's reads see exactly its own deletes. Entries are
  // (file trail, row index within the file) — Delta's actual DV shape:
  // `_metadata.row_index` is computed by Spark's parquet reader from
  // the file footer, so it is stable across split-parallel reads and
  // row-group skipping (rounds ≤12 keyed DVs on a caller-named
  // row-unique COLUMN instead, which made a later re-insert of a
  // deleted key ambiguous and forced UPDATE/MERGE to refuse DV
  // tables — both limitations die with positions). Reference tie:
  // storage.h delete_series must compose with a later re-ingest of
  // the SAME series, which only position-identity supports. ----

  /** The dv/ dirs applying to a version — empty when the version has
    * no deletion vectors. */
  private[graft] def dvDirsOf(spark: SparkSession, table: String,
      version: Long): Seq[String] = record(spark, table, version).dv

  /** Distinct deleted (file trail, row position) entries of a DV dir
    * set, aliased (`__f`, `__p`) for the positional anti-join. */
  private def dvEntries(spark: SparkSession, table: String,
      dirs: Seq[String]): DataFrame =
    spark.read.parquet(dirs.map(resolve(table, _)): _*)
      .select(col("f").as("__f"), col("p").as("__p")).distinct()

  /** A raw file-scan frame with (file trail, row position) attribution
    * appended — the positional-DV working view. `base` MUST be a
    * direct parquet scan (no projections yet): `_metadata.row_index`
    * resolves only at the file-relation root. */
  private def withFilePos(base: DataFrame): DataFrame =
    base.select(col("*"),
      regexp_extract(input_file_name(), "data/[^/]+/[^/]+$", 0).as("__f"),
      col("_metadata.row_index").as("__p"))

  /** The rows of a [[withFilePos]] view `pos` outside the broadcast
    * (`__f`, `__p`) entries `dv` — or, with `how = "left_semi"`, only
    * the rows at them. */
  private def dvJoin(pos: DataFrame, dv: DataFrame, how: String = "left_anti"): DataFrame =
    pos.join(broadcast(dv), Seq("__f", "__p"), how)

  /** Merge-on-read DELETE: rows matching `pred` disappear from the new
    * version WITHOUT rewriting their files — unless a file's matched
    * fraction exceeds `cowFraction`, in which case that file falls
    * back to copy-on-write (a mostly-deleted file is cheaper to
    * rewrite than to carry + filter forever — the Delta DV
    * heuristic). The delete's identity is the row's (file, position) —
    * round 13, Delta's actual DV shape — so ANY predicate over ANY
    * schema works (no row-unique key column needed) and later
    * re-inserts of equal-valued rows can never collide with carried
    * deletes. Costs: one distributed matched-scan, a collect ∝
    * #touched files (metadata-scale), a DV write ∝ #deleted rows,
    * rewrites only for over-threshold files.
    */
  def tableDeleteWhereDv(spark: SparkSession, table: String,
      pred: Column, cowFraction: Double = 0.2): Long = {
    val v = tableVersion(spark, table)
    require(v >= 0, s"no table at $table")
    val base = record(spark, table, v)
    val (priorDv, files) = (base.dv, base.files)
    // the MOR view of v with (file, pos) attribution: matches must
    // honor PRIOR deletes (a row deleted at v must not be re-matched)
    // and per-file totals drive the COW threshold
    val raw = withFilePos(
      readFilesDeclared(spark, base.schema, files.map(resolve(table, _))))
    val live =
      if (priorDv.isEmpty) raw else dvJoin(raw, dvEntries(spark, table, priorDv))
    val perFile = live.withColumn("__m", when(pred, 1L).otherwise(0L))
      .groupBy(col("__f"))
      .agg(count(lit(1)).as("__rows"), sum(col("__m")).as("__nm"))
      .filter(col("__nm") > 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val nv = v + 1
    if (perFile.isEmpty) { // no-op delete still commits a version
      writeCommit(spark, table, nv, base, base)
      return nv
    }
    val cowSet = perFile.filter { case (_, rows, nm) =>
      nm.toDouble > cowFraction * rows
    }.map(_._1).toSet
    val dvSet = perFile.map(_._1).filterNot(cowSet).toSet
    // 1) the DV: matched positions of under-threshold files, (f, p)
    val newDv =
      if (dvSet.isEmpty) Seq.empty[String]
      else {
        val d = f"dv/d$nv%08d"
        live.filter(pred && col("__f").isInCollection(dvSet))
          .select(col("__f").as("f"), col("__p").as("p"))
          .write.mode("overwrite").parquet(s"$table/$d")
        Seq(d)
      }
    // 2) COW fallback: over-threshold files rewritten from the MOR
    // view without their matches (prior DV entries for them
    // materialize away — their file trails leave the list, the
    // carried entries are inert)
    val cowFull = files.filter(f => cowSet(trail(f)))
    val rewritten =
      if (cowFull.isEmpty) Seq.empty[String]
      else landData(
        // `NOT coalesce(pred, false)`: NULL-predicate rows are not
        // deleted and must SURVIVE the rewrite (a bare `!pred` is
        // NULL there and filter would drop them)
        live.filter(col("__f").isInCollection(cowSet) &&
            !coalesce(pred, lit(false)))
          .drop("__f", "__p"), table, s"c$nv", base)
    writeCommit(spark, table, nv, base, rewrite(spark, table, base,
      files.filterNot(f => cowSet(trail(f))), rewritten, s"c$nv")
      .copy(dv = priorDv ++ newDv))
    nv
  }

  /** OPTIMIZE (DV materialization): rewrite exactly the files carrying
    * DV entries at HEAD without their deleted rows, and commit a
    * version with NO deletion vectors — the compaction that keeps the
    * anti-join side bounded. Untouched files carry by reference. */
  def optimizeTableDv(spark: SparkSession, table: String): Long = {
    val v = tableVersion(spark, table)
    require(v >= 0, s"no table at $table")
    val base = record(spark, table, v)
    val files = base.files
    if (base.dv.isEmpty) return v // nothing to materialize
    val dv = dvEntries(spark, table, base.dv)
    val touched = dv.select(col("__f")).distinct()
      .collect().map(_.getString(0)).toSet
    val touchedFull = files.filter(f => touched(trail(f)))
    val nv = v + 1
    val rewritten =
      if (touchedFull.isEmpty) Seq.empty[String]
      else landData(dvJoin(withFilePos(readFilesDeclared(spark, base.schema,
        touchedFull.map(resolve(table, _)))), dv)
        .drop("__f", "__p"), table, s"c$nv", base)
    writeCommit(spark, table, nv, base, rewrite(spark, table, base,
      files.filterNot(f => touched(trail(f))), rewritten, s"c$nv")
      .copy(dv = Seq.empty))
    nv
  }

  /** DV COMPACTION (round 13): MOR DML appends one small dv/ dir per
    * statement, so a mutation-heavy table accumulates DV dir
    * fan-out (every MOR read unions the dirs) until OPTIMIZE rewrites
    * data files. This is the CHEAP middle ground: union HEAD's dv/
    * dirs into ONE fresh dir and commit a version with the SAME file
    * list — no data file touched, reads collapse to a single DV
    * source, vacuum collects the superseded dirs once their versions
    * expire. A no-op (≤1 dir) returns HEAD unchanged. */
  def compactTableDv(spark: SparkSession, table: String): Long = {
    val v = tableVersion(spark, table)
    require(v >= 0, s"no table at $table")
    val base = record(spark, table, v)
    if (base.dv.size <= 1) return v
    val nv = v + 1
    val d = f"dv/d$nv%08d-compact"
    // round 14: compaction also DROPS INERT entries — (f, p) rows whose
    // trail left the file list (COW rewrites, OPTIMIZE) filter nothing
    // but still cost every read's collect + broadcast
    val live = base.files.map(trail).toSet
    val kept = dvEntries(spark, table, base.dv)
      .filter(col("__f").isInCollection(live))
      .select(col("__f").as("f"), col("__p").as("p"))
    // every entry inert: the compacted state is DV-free
    val dv = if (kept.isEmpty) Seq.empty[String] else {
      kept.write.mode("overwrite").parquet(s"$table/$d")
      Seq(d)
    }
    writeCommit(spark, table, nv, base, base.copy(dv = dv))
    nv
  }

  /** HEAD files whose LIVE deleted fraction exceeds `cowFraction`
    * (round 14, round-13 VERDICT #2a): per-file DV entry counts come
    * from one aggregation over the (bounded) dv/ dirs, per-file row
    * totals from the parquet FOOTERS of just those files — driver-side,
    * ∝ #DV-carrying files, metadata-scale. The MOR DML guard feeds
    * these to [[optimizeTableDvFiles]] so `graft.dml.mode=mor` gets
    * the same mostly-deleted-file fallback [[tableDeleteWhereDv]] has:
    * a 99% MOR delete must not make every later read pay a 99%-sized
    * broadcast + filter until a manual OPTIMIZE. */
  private[graft] def dvOverThresholdFiles(spark: SparkSession,
      table: String, version: Long, cowFraction: Double,
      minEntries: Long): Set[String] = {
    val rec = record(spark, table, version)
    val (dirs, files) = (rec.dv, rec.files)
    if (dirs.isEmpty) return Set.empty
    val live = files.map(trail).toSet
    val counts = dvEntries(spark, table, dirs)
      .groupBy(col("__f")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      // inert trails don't count; a file whose DV payload is TRIVIAL
      // (< minEntries) is never worth a rewrite commit — the floor
      // keeps a re-update of a 1-row insert file from churning a
      // materialization (the broadcast it bounds is already tiny)
      .filter { case (f, n) => live(f) && n >= minEntries }
    if (counts.isEmpty) return Set.empty
    val conf = spark.sessionState.newHadoopConf()
    val byTrail = files.map(f => trail(f) -> f).toMap
    counts.filter { case (f, del) =>
      val p = new org.apache.hadoop.fs.Path(resolve(table, byTrail(f)))
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      val rows = try reader.getRecordCount finally reader.close()
      del.toDouble > cowFraction * rows
    }.map(_._1).toSet
  }

  /** TARGETED DV materialization (round 14): rewrite ONLY the named
    * file trails of HEAD without their deleted rows, and CONSOLIDATE
    * the surviving DV state into one fresh dv/ dir holding entries for
    * kept files alone — inert entries (trails no longer in the list)
    * are dropped, so the read-side broadcast is truly bounded again.
    * The MOR DML auto-fallback's follow-up commit; also callable as a
    * partial OPTIMIZE. No-op (returns HEAD) when nothing matches. */
  private[graft] def optimizeTableDvFiles(spark: SparkSession,
      table: String, onlyTrails: Set[String]): Long = {
    val v = tableVersion(spark, table)
    require(v >= 0, s"no table at $table")
    val base = record(spark, table, v)
    if (base.dv.isEmpty || onlyTrails.isEmpty) return v
    val files = base.files
    val touchedFull = files.filter(f => onlyTrails(trail(f)))
    if (touchedFull.isEmpty) return v
    val dv = dvEntries(spark, table, base.dv)
    val nv = v + 1
    val rewritten = landData(dvJoin(withFilePos(readFilesDeclared(spark,
      base.schema, touchedFull.map(resolve(table, _)))), dv)
      .drop("__f", "__p"), table, s"c$nv", base)
    val keptFiles = files.filterNot(f => onlyTrails(trail(f)))
    val keptTrails = keptFiles.map(trail).toSet
    // consolidate: only entries still pointing at kept files survive
    val keep = dv.filter(col("__f").isInCollection(keptTrails))
    val newDv =
      if (keptTrails.isEmpty || keep.isEmpty) Seq.empty[String]
      else {
        val d = f"dv/d$nv%08d-part"
        keep.select(col("__f").as("f"), col("__p").as("p"))
          .write.mode("overwrite").parquet(s"$table/$d")
        Seq(d)
      }
    writeCommit(spark, table, nv, base,
      rewrite(spark, table, base, keptFiles, rewritten, s"c$nv").copy(dv = newDv))
    nv
  }

  /** The `files` of `version` whose commit stats on `statsCol` overlap
    * [lo, hi) — the stats pruning of the connector's `skipCol` read.
    * The COLUMN must be covered by the stats (a typo'd column refuses
    * loudly instead of scanning everything), but coverage is per-FILE
    * lenient (round-12 ADVICE): an append that writes no stats (a
    * connector V1Write → tableAppendOcc) leaves its files without
    * entries, and those stay un-prunable. */
  private[graft] def statsBand(table: String, version: Long,
      rec: CommitRecord, files: Seq[String], statsCol: String, lo: Long,
      hi: Long): Seq[String] = {
    val stats = statsAt(table, version, rec)
    require(files.isEmpty || stats.keys.exists(_._2 == statsCol),
      s"no commit stats for column $statsCol at $table v$version — " +
        "skipCol needs a version written via tableAppendStats " +
        "covering that column")
    files.filter { f =>
      stats.get((trail(f), statsCol)) match {
        case Some((mn, mx)) => mx >= lo && mn < hi
        case None => true
      }
    }
  }

  /** Data-skipping time-travel read: version `version`'s file list
    * pruned by the commit-embedded stats to those overlapping
    * [lo, hi) on `statsCol` (the connector's `skipCol` band), with the
    * residual predicate making the result exact (stat pruning is
    * file-conservative). */
  def readTableVersionSkipping(spark: SparkSession, table: String,
      version: Long, statsCol: String, lo: Long, hi: Long): DataFrame =
    spark.read.format("graft").option("versionAsOf", version)
      .option("skipCol", statsCol).option("skipLo", lo).option("skipHi", hi)
      .load(table)
      .filter(col(statsCol) >= lo && col(statsCol) < hi)

  private[graft] def dvTable(spark: SparkSession, dir: String): String =
    fixture(spark, dir, "graft_io_dv") { t =>
      val flat = centsOf(spark, dir, withUs = true)
      // type-clustered layout so the two deletes exercise BOTH paths:
      // the point-ish delete (error ∧ id≡0 mod 7 ≈ 1/7 of one file)
      // rides the DV, the bulk delete (all purchases ≈ a whole file)
      // trips the per-file COW fallback
      tableAppend(flat.repartitionByRange(4, col("typ"), col("event_id")), t)
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
  def dvCdfRead(spark: SparkSession, dir: String): DataFrame = {
    val t = dvTable(spark, dir)
    def agg(fromV: Long): DataFrame =
      changeFeedMor(spark, t, fromV, fromV + 1)
        .groupBy(lit(fromV).as("from_v"), col("change_type"), col("typ"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    agg(0L).unionByName(agg(1L))
  }

  /** I25, oracle-gated: all three versions of the DV table read back
    * MERGE-ON-READ and aggregated — v0 (everything), v1 (after the
    * DV-path point delete), v2 (after the bulk delete's COW fallback).
    * The oracle replays each cut from the raw source, so the gate
    * proves write→DV→positional-scan-filter content AND
    * version isolation (v1 still serves rows v2 deleted). */
  def dvRead(spark: SparkSession, dir: String): DataFrame = {
    val t = dvTable(spark, dir)
    def agg(v: Long): DataFrame =
      readTableVersion(spark, t, v).transform(versionSummary(v))
    agg(0L).unionByName(agg(1L)).unionByName(agg(2L))
  }

  /** MERGE gate (round 12), oracle-gated: v0 = the flat events table
    * (type-clustered layout so the merge touches SOME files, not all);
    * one MERGE whose source UPDATES every purchase (cents + 100000,
    * matched by event_id) and INSERTS a displaced copy of every click
    * (event_id + 10^12 — collision-free); both version cuts read back
    * and aggregated, the oracle replaying them from the raw source —
    * so update-in-place, insert, untouched-type carry-over AND version
    * isolation are all content-checked. */
  def mergeRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fixture(spark, dir, "graft_io_merge") { tt =>
      val flat = centsOf(spark, dir)
      tableAppend(
        flat.repartitionByRange(4, col("typ"), col("event_id")), tt)
      val src = flat.filter(col("typ") === "purchase")
        .withColumn("cents", col("cents") + 100000L)
        .unionByName(flat.filter(col("typ") === "click")
          .withColumn("event_id", col("event_id") + 1000000000000L))
      val v = tableMerge(spark, tt, src, "event_id")
      require(v == 1L, s"expected merge commit v1 at $tt, got $v")
    }
    def agg(v: Long): DataFrame =
      readTableVersion(spark, t, v).transform(versionSummary(v))
    agg(0L).unionByName(agg(1L))
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
    val t = fixture(spark, dir, "graft_io_mergere") { tt =>
      val flat = centsOf(spark, dir)
      tableAppend(
        flat.repartitionByRange(4, col("typ"), col("event_id")), tt)
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
    def agg(v: Long): DataFrame =
      readTableVersion(spark, t, v).transform(versionSummary(v))
    agg(1L).unionByName(agg(2L))
  }

  /** Catalog gate (round 12), oracle-gated: the whole table lifecycle
    * as `graft.<ns>.<table>` SQL identifiers — CREATE TABLE (declared
    * schema), INSERT INTO ... SELECT (V1Write → OCC, v0 creates),
    * DELETE FROM (COW commit), then the aggregation SELECT back
    * through the catalog; the DuckDB oracle replays insert-minus-
    * delete from the raw source, so identifier-addressed DML is
    * content-checked end to end. */
  def catalogRead(spark: SparkSession, dir: String): DataFrame = {
    val t = warehouse(spark, dir, "graft_warehouse", "graftcat") { wh =>
      centsOf(spark, dir)
        .createOrReplaceTempView("__graft_cat_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.g")
      spark.sql(
        "CREATE TABLE graftcat.g.events_flat " +
          "(event_id BIGINT, typ STRING, cents BIGINT)")
      spark.sql("INSERT INTO graftcat.g.events_flat " +
        "SELECT * FROM __graft_cat_src")
      spark.sql("DELETE FROM graftcat.g.events_flat WHERE typ = 'view'")
    }
    // t keeps the memo non-trivial; the read itself is pure SQL
    require(t.nonEmpty)
    spark.sql(
      """SELECT typ, count(*) AS n, sum(cents) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM graftcat.g.events_flat GROUP BY typ""".stripMargin)
  }

  /** SQL UPDATE gate (round 12), oracle-gated: the row-level-operation
    * framework end to end — CTAS lands the flat events table
    * type-clustered (so purchases live in a SUBSET of files), one
    * `UPDATE ... SET cents = cents + 100000 WHERE typ = 'purchase'`
    * rewrites exactly the touched files (runtime group filtering; the
    * builder asserts untouched files carried BY REFERENCE), and both
    * version cuts read back via `VERSION AS OF` — the oracle replays
    * them from the raw source, so update-in-place, carry-over and
    * version isolation are all content-checked. */
  def updateRead(spark: SparkSession, dir: String): DataFrame = {
    val wh = warehouse(spark, dir, "graft_upd_wh", "graftdml") { w =>
      centsOf(spark, dir)
        .repartitionByRange(4, col("typ"), col("event_id"))
        .createOrReplaceTempView("__graft_upd_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftdml.g")
      spark.sql("CREATE TABLE graftdml.g.ev AS " +
        "SELECT * FROM __graft_upd_src")
      spark.sql("UPDATE graftdml.g.ev SET cents = cents + 100000 " +
        "WHERE typ = 'purchase'")
      val t = s"$w/g/ev"
      val v0 = commitEntries(spark, t, 0L).toSet
      val v1 = commitEntries(spark, t, 1L).toSet
      require(v0.intersect(v1).nonEmpty,
        s"UPDATE must carry untouched files by reference (v0=$v0 v1=$v1)")
      require(v1 != v0, "UPDATE must rewrite the touched files")
    }
    require(wh.nonEmpty)
    def agg(v: Long): DataFrame =
      spark.sql(s"SELECT * FROM graftdml.g.ev VERSION AS OF $v")
        .transform(versionSummary(v))
    agg(0L).unionByName(agg(1L))
  }

  /** ALTER TABLE ADD COLUMN gate (round 13), oracle-gated: a pure-SQL
    * catalog user evolves a table's schema — CTAS the even-id half
    * (3 columns), `ALTER TABLE ... ADD COLUMN band BIGINT`, INSERT the
    * odd-id half WITH the new column (band = cents % 10), then read
    * the whole table back through the catalog: pre-evolution rows must
    * serve `band` as NULL (count(band) sees only era-2 rows), both
    * eras' data intact. The oracle replays the two eras from the raw
    * source with an explicit NULL band on era 1. */
  def alterAddRead(spark: SparkSession, dir: String): DataFrame = {
    val wh = warehouse(spark, dir, "graft_alter_wh", "graftalt") { w =>
      centsOf(spark, dir)
        .createOrReplaceTempView("__graft_alter_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftalt.g")
      spark.sql("CREATE TABLE graftalt.g.ev AS " +
        "SELECT * FROM __graft_alter_src WHERE event_id % 2 = 0")
      spark.sql("ALTER TABLE graftalt.g.ev ADD COLUMN band BIGINT")
      spark.sql("INSERT INTO graftalt.g.ev " +
        "SELECT event_id, typ, cents, cents % 10 AS band " +
        "FROM __graft_alter_src WHERE event_id % 2 = 1")
    }
    require(wh.nonEmpty)
    spark.sql("SELECT typ, count(*) AS n, sum(cents) AS sum_cents, " +
      "count(band) AS n_band, sum(band) AS sum_band, " +
      "min(event_id) AS min_id, max(event_id) AS max_id " +
      "FROM graftalt.g.ev GROUP BY typ")
  }

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
  def alterDmlRead(spark: SparkSession, dir: String): DataFrame = {
    val wh = warehouse(spark, dir, "graft_alterdml_wh", "graftadml") { w =>
      centsOf(spark, dir)
        .createOrReplaceTempView("__graft_adml_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftadml.g")
      spark.sql("CREATE TABLE graftadml.g.ev AS " +
        "SELECT * FROM __graft_adml_src WHERE event_id % 2 = 0")
      spark.sql("ALTER TABLE graftadml.g.ev ADD COLUMN band BIGINT")
      spark.sql("INSERT INTO graftadml.g.ev " +
        "SELECT event_id, typ, cents, cents % 10 AS band " +
        "FROM __graft_adml_src WHERE event_id % 2 = 1")
      // the cross-era COW delete: 'view' rows live in files of BOTH
      // eras, so the rewrite read must be era-correct
      spark.sql("DELETE FROM graftadml.g.ev WHERE typ = 'view'")
    }
    require(wh.nonEmpty)
    spark.sql("SELECT typ, count(*) AS n, sum(cents) AS sum_cents, " +
      "count(band) AS n_band, sum(band) AS sum_band, " +
      "min(event_id) AS min_id, max(event_id) AS max_id " +
      "FROM graftadml.g.ev GROUP BY typ")
  }

  /** TYPE-WIDENING gate (round 14), oracle-gated: a CTAS table with an
    * INT cents column is widened to BIGINT (`ALTER COLUMN ... TYPE` —
    * a metadata-only commit; the builder first requires a NARROWING
    * and a float→int change to refuse), then an INSERT lands values
    * past the int range; the final cut sums exactly — pre-widening
    * files served through Spark's parquet upcast, unrewritten. */
  def alterWidenRead(spark: SparkSession, dir: String): DataFrame = {
    val wh = warehouse(spark, dir, "graft_alterw_wh", "graftaw") { w =>
      centsOf(spark, dir)
        .createOrReplaceTempView("__graft_aw_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftaw.g")
      spark.sql("CREATE TABLE graftaw.g.ev AS " +
        "SELECT event_id, typ, CAST(cents AS INT) AS cents " +
        "FROM __graft_aw_src WHERE event_id % 2 = 0")
      val narrowed = try {
        spark.sql("ALTER TABLE graftaw.g.ev ALTER COLUMN cents TYPE SMALLINT")
        false
      } catch { case _: Exception => true }
      require(narrowed, "a NARROWING type change must refuse")
      val crossed = try {
        spark.sql("ALTER TABLE graftaw.g.ev ALTER COLUMN typ TYPE INT")
        false
      } catch { case _: Exception => true }
      require(crossed, "a non-widening type change must refuse")
      spark.sql("ALTER TABLE graftaw.g.ev ALTER COLUMN cents TYPE BIGINT")
      spark.sql("INSERT INTO graftaw.g.ev " +
        "SELECT event_id, typ, cents + 3000000000 " +
        "FROM __graft_aw_src WHERE event_id % 2 = 1")
    }
    require(wh.nonEmpty)
    spark.sql("SELECT typ, count(*) AS n, sum(cents) AS sum_cents, " +
      "min(event_id) AS min_id, max(event_id) AS max_id " +
      "FROM graftaw.g.ev GROUP BY typ")
  }

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
    val t = fixture(spark, dir, "graft_io_constr") { tt =>
      val flat = centsOf(spark, dir)
      tableAppend(flat, tt) // v0
      // a constraint existing data violates refuses at declaration
      val badAdd = try { tableAddConstraint(spark, tt, "impossible",
        "cents > 1000000"); false }
      catch { case _: IllegalArgumentException => true }
      require(badAdd, "adding a violated constraint must refuse")
      val v1 = tableAddConstraint(spark, tt, "cents_nonneg", "cents >= 0")
      require(v1 == 1L, s"ADD CONSTRAINT must land a commit, got v$v1")
      // valid append passes
      tableAppend(flat.filter(col("typ") === "click")
        .withColumn("event_id", col("event_id") + 1000000000000L), tt) // v2
      // violating append refuses ATOMICALLY (no version lands)
      val before = tableVersion(spark, tt)
      val refused = try { tableAppend(flat.limit(50)
        .withColumn("cents", lit(-1L)), tt); false }
      catch { case _: IllegalArgumentException => true }
      require(refused && tableVersion(spark, tt) == before,
        "a violating append must refuse without committing")
      // violating MERGE refuses too (the rewrite chokepoint)
      val refusedMerge = try { tableMerge(spark, tt,
        flat.filter(col("typ") === "purchase").limit(20)
          .withColumn("cents", col("cents") - 1000000L), "event_id")
        false }
      catch { case _: IllegalArgumentException => true }
      require(refusedMerge && tableVersion(spark, tt) == before,
        "a violating merge must refuse without committing")
      // drop, and the once-refused shape (negative cents) now lands
      tableDropConstraint(spark, tt, "cents_nonneg") // v3
      tableAppend(flat.filter(col("typ") === "error")
        .withColumn("event_id", col("event_id") + 2000000000000L)
        .withColumn("cents", -col("cents")), tt) // v4
    }
    readTableVersion(spark, t, tableVersion(spark, t)).transform(typeSummary)
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
    val t = fixture(spark, dir, "graft_io_conv") { tt =>
      val flat = centsOf(spark, dir)
      // the pre-existing plain layout a user would convert
      flat.repartitionByRange(4, col("typ"), col("event_id"))
        .write.mode("overwrite").parquet(tt)
      val v0 = tableConvert(spark, tt)
      require(v0 == 0L)
      val v1 = tableDeleteWhere(spark, tt, col("typ") === "view")
      require(v1 == 1L)
      // untouched files must carry BY REFERENCE through the delete
      require(commitEntries(spark, tt, 0L).toSet
          .intersect(commitEntries(spark, tt, 1L).toSet).nonEmpty,
        "post-convert COW delete must carry untouched converted files")
      tableAppend(
        flat.filter(col("typ") === "click")
          .withColumn("event_id", col("event_id") + 1000000000000L), tt)
    }
    def agg(v: Long): DataFrame =
      readTableVersion(spark, t, v).transform(versionSummary(v))
    agg(0L).unionByName(agg(2L))
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
  def updateMorRead(spark: SparkSession, dir: String): DataFrame = {
    val wh = warehouse(spark, dir, "graft_mor_wh", "graftmor") { w =>
      centsOf(spark, dir)
        .createOrReplaceTempView("__graft_mor_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftmor.g")
      spark.sql("CREATE TABLE graftmor.g.ev AS " +
        "SELECT * FROM __graft_mor_src")
      spark.conf.set("graft.dml.mode", "mor")
      // this gate pins the PURE zero-rewrite delta path, so the
      // round-14 over-threshold fallback is explicitly disabled here
      // (the purchase share ≈ the 0.2 default, which would make
      // rewrites per-file-noise-dependent); IoSpec pins the fallback
      spark.conf.set("graft.dml.mor.cowFraction", "1.0")
      try {
        spark.sql("UPDATE graftmor.g.ev SET cents = event_id % 1000 + 7 " +
          "WHERE typ = 'purchase'")
        spark.sql("UPDATE graftmor.g.ev SET cents = cents + 5 " +
          "WHERE typ = 'purchase' AND event_id % 10 = 0")
        spark.sql("DELETE FROM graftmor.g.ev " +
          "WHERE typ = 'error' AND event_id % 23 = 0")
      } finally {
        spark.conf.unset("graft.dml.mode")
        spark.conf.unset("graft.dml.mor.cowFraction")
      }
      val t = s"$w/g/ev"
      (1L to 3L).foreach { v =>
        val prev = commitEntries(spark, t, v - 1).toSet
        val cur = commitEntries(spark, t, v).toSet
        require(prev.subsetOf(cur),
          s"MOR v$v must carry EVERY prior file by reference " +
            s"(missing: ${prev -- cur})")
        require(dvDirsOf(spark, t, v).nonEmpty,
          s"MOR v$v must carry a DV dir")
      }
    }
    require(wh.nonEmpty)
    spark.sql("SELECT typ, count(*) AS n, sum(cents) AS sum_cents, " +
      "min(event_id) AS min_id, max(event_id) AS max_id " +
      "FROM graftmor.g.ev GROUP BY typ")
  }

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
  def cdfMorRead(spark: SparkSession, dir: String): DataFrame = {
    val wh = warehouse(spark, dir, "graft_cdfmor_wh", "graftcdfm") { w =>
      val flat = centsOf(spark, dir)
      flat.filter(col("event_id") % 2 === 0)
        .createOrReplaceTempView("__graft_cdfm_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcdfm.g")
      spark.sql("CREATE TABLE graftcdfm.g.ev AS " +
        "SELECT * FROM __graft_cdfm_src")
      spark.conf.set("graft.dml.mode", "mor")
      // pure-MOR shape for the pairing gate (the fallback would fold
      // preimages into the file diff; IoSpec pins that path)
      spark.conf.set("graft.dml.mor.cowFraction", "1.0")
      try spark.sql("UPDATE graftcdfm.g.ev " +
        "SET cents = event_id % 1000 + 7 WHERE typ = 'purchase'")
      finally {
        spark.conf.unset("graft.dml.mode")
        spark.conf.unset("graft.dml.mor.cowFraction")
      }
      // a plain append on top: its feed rows must stay `insert`
      tableAppend(flat.filter(col("event_id") % 2 === 1), s"$w/g/ev")
    }
    require(wh.nonEmpty)
    val t = s"$wh/g/ev"
    def agg(fromV: Long): DataFrame =
      changeFeed(spark, t, fromV, fromV + 1)
        .groupBy(lit(fromV).as("from_v"), col("change_type"), col("typ"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    agg(0L).unionByName(agg(1L))
  }

  /** COPY INTO gate (round 14), oracle-gated: idempotent landing-dir
    * ingest — two slices land as one file each and the first COPY INTO
    * ingests both in one commit; a RE-RUN over the same dir is a no-op
    * (zero files, HEAD unmoved — the exactly-once ledger); a third
    * slice lands and the next run ingests ONLY it. The final table cut
    * must equal the oracle's replay of the whole source. */
  def copyIntoRead(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.Memo(spark, s"io.graft_copyinto:$dir") {
      val fp = graft.Tables.fingerprint(s"$dir/events.parquet")
      val base = java.nio.file.Files
        .createTempDirectory("graft_copyinto_" + fp).toString
      val table = s"$base/table"
      val landing = s"$base/landing"
      val flat = centsOf(spark, dir)
      flat.filter(pmod(col("event_id"), lit(3)) === 0).coalesce(1)
        .write.mode("append").parquet(landing)
      flat.filter(pmod(col("event_id"), lit(3)) === 1).coalesce(1)
        .write.mode("append").parquet(landing)
      val n1 = tableCopyInto(spark, table, landing)
      require(n1 == 2L,
        s"first COPY INTO must ingest both landed files, got $n1")
      val v1 = tableVersion(spark, table)
      require(tableCopyInto(spark, table, landing) == 0L,
        "a re-run over the same landing dir must be a no-op")
      require(tableVersion(spark, table) == v1,
        "a no-op COPY INTO must not move HEAD")
      flat.filter(pmod(col("event_id"), lit(3)) === 2).coalesce(1)
        .write.mode("append").parquet(landing)
      val n2 = tableCopyInto(spark, table, landing)
      require(n2 == 1L,
        s"incremental COPY INTO must ingest only the new file, got $n2")
      table
    }
    readTableVersion(spark, t, tableVersion(spark, t)).transform(typeSummary)
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
    val t = fixture(spark, dir, "graft_io_gen") { tt =>
      val flat = centsOf(spark, dir)
      val withBand = flat.withColumn("band", pmod(col("cents"), lit(97L)))
      tableAppend(withBand.filter(pmod(col("event_id"), lit(3)) === 0), tt) // v0
      // a nonconforming declaration refuses
      val badDecl = try { tableAddGeneratedColumn(spark, tt, "band",
        "pmod(cents, 96)"); false }
      catch { case _: IllegalArgumentException => true }
      require(badDecl, "declaring a nonconforming generated column must refuse")
      val v1 = tableAddGeneratedColumn(spark, tt, "band", "pmod(cents, 97)")
      require(v1 == 1L, s"generated declaration must commit, got v$v1")
      // an append WITHOUT the column gets it computed
      tableAppend(flat.filter(pmod(col("event_id"), lit(3)) === 1), tt) // v2
      // a wrong explicit value refuses atomically
      val before = tableVersion(spark, tt)
      val refused = try { tableAppend(
        withBand.filter(pmod(col("event_id"), lit(3)) === 2)
          .withColumn("band", col("band") + 1L), tt); false }
      catch { case _: IllegalArgumentException => true }
      require(refused && tableVersion(spark, tt) == before,
        "a mismatching generated value must refuse without committing")
      // matching explicit values pass
      tableAppend(withBand.filter(pmod(col("event_id"), lit(3)) === 2), tt) // v3
    }
    readTableVersion(spark, t, tableVersion(spark, t))
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
    val t = fixture(spark, dir, "graft_io_mevo") { tt =>
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
      val refused = try { tableMerge(spark, tt, source, "event_id"); false }
      catch { case _: IllegalArgumentException => true }
      require(refused && tableVersion(spark, tt) == 0L,
        s"an unflagged wider-source merge at $tt must refuse")
      val vEnd = tableMerge(spark, tt, source, "event_id",
        schemaEvolution = true)
      require(vEnd == 2L,
        s"evolving merge at $tt must land schema + merge commits, got $vEnd")
    }
    readTableVersion(spark, t, tableVersion(spark, t))
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
    val t = fixture(spark, dir, "graft_io_ident") { tt =>
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
    readTableVersion(spark, t, tableVersion(spark, t))
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
  def mergeSqlRead(spark: SparkSession, dir: String): DataFrame = {
    val wh = warehouse(spark, dir, "graft_msql_wh", "graftmsql") { w =>
      val flat = centsOf(spark, dir)
      flat.repartitionByRange(4, col("typ"), col("event_id"))
        .createOrReplaceTempView("__graft_msql_tgt")
      flat.filter(col("typ") === "purchase")
        .withColumn("cents", col("cents") + 100000L)
        .unionByName(flat.filter(col("typ") === "click")
          .withColumn("event_id", col("event_id") + 1000000000000L))
        .createOrReplaceTempView("__graft_msql_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftmsql.g")
      spark.sql("CREATE TABLE graftmsql.g.ms AS " +
        "SELECT * FROM __graft_msql_tgt")
      spark.sql(
        """MERGE INTO graftmsql.g.ms AS tg USING __graft_msql_src AS src
          |ON tg.event_id = src.event_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val t = s"$w/g/ms"
      require(commitEntries(spark, t, 0L).toSet
          .intersect(commitEntries(spark, t, 1L).toSet).nonEmpty,
        "SQL MERGE must carry untouched files by reference")
    }
    require(wh.nonEmpty)
    def agg(v: Long): DataFrame =
      spark.sql(s"SELECT * FROM graftmsql.g.ms VERSION AS OF $v")
        .transform(versionSummary(v))
    agg(0L).unionByName(agg(1L))
  }

  /** INSERT OVERWRITE gate (round 12 s3), oracle-gated: CTAS lands the
    * full flat table as v0, `INSERT OVERWRITE ... SELECT` replaces the
    * content with the purchases-only cut as v1 (ONE replace commit —
    * fresh files only), and BOTH cuts read back via `VERSION AS OF` —
    * the oracle replays each from the raw source, so overwrite content
    * AND history intactness are content-checked. */
  def overwriteRead(spark: SparkSession, dir: String): DataFrame = {
    val wh = warehouse(spark, dir, "graft_ow_wh", "graftow") { w =>
      centsOf(spark, dir)
        .createOrReplaceTempView("__graft_ow_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftow.g")
      spark.sql("CREATE TABLE graftow.g.ev AS SELECT * FROM __graft_ow_src")
      spark.sql("INSERT OVERWRITE graftow.g.ev " +
        "SELECT * FROM __graft_ow_src WHERE typ = 'purchase'")
      require(tableVersion(spark, s"$w/g/ev") == 1L,
        "overwrite must land exactly one replace commit")
    }
    require(wh.nonEmpty)
    def agg(v: Long): DataFrame =
      spark.sql(s"SELECT * FROM graftow.g.ev VERSION AS OF $v")
        .transform(versionSummary(v))
    agg(0L).unionByName(agg(1L))
  }

  /** Atomic-CTAS + SQL-time-travel gate (round 12), oracle-gated:
    * `CREATE TABLE ... AS SELECT` lands the whole source as commit v0
    * in ONE statement (the staged create — invisible until the OCC v0
    * claim wins), `DELETE FROM` lands v1, and the gate reads `VERSION
    * AS OF 0` back BY IDENTIFIER — Spark's time-travel clause through
    * the catalog's loadTable(ident, version). The DuckDB oracle
    * replays the FULL source aggregation, so the pinned cut must see
    * through the later delete: CTAS content + version isolation are
    * both content-checked. */
  def ctasRead(spark: SparkSession, dir: String): DataFrame = {
    val t = warehouse(spark, dir, "graft_ctas_wh", "graftctas") { wh =>
      centsOf(spark, dir)
        .createOrReplaceTempView("__graft_ctas_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graftctas.g")
      spark.sql("CREATE TABLE graftctas.g.events_flat AS " +
        "SELECT * FROM __graft_ctas_src")
      spark.sql("DELETE FROM graftctas.g.events_flat WHERE typ = 'view'")
    }
    require(t.nonEmpty)
    spark.sql(
      """SELECT typ, count(*) AS n, sum(cents) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM graftctas.g.events_flat VERSION AS OF 0
        |GROUP BY typ""".stripMargin)
  }

  /** Transactional DSv2 write gate (round 12), oracle-gated: the
    * foreachBatch sink pattern through the connector — batch 1
    * (purchases) committed via `option("txnVersion", 1)`, REDELIVERED
    * (must no-op: a duplicate would double the purchase sums the
    * oracle checks), then batch 2 (the rest); HEAD read ≡ the full
    * source aggregation. Same oracle as `io_write_dsv2` — the content
    * contract is identical, the delivery discipline is what differs. */
  def dsv2WriteTxnRead(spark: SparkSession, dir: String): DataFrame = {
    val t = fixture(spark, dir, "graft_io_dsv2txn") { tt =>
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
    val t = fixture(spark, dir, "graft_io_dsv2w") { tt =>
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

  private[graft] def skipTable(spark: SparkSession, dir: String): String =
    fixture(spark, dir, "graft_io_skip") { t =>
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
