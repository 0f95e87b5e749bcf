package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** I26 (round 11): a DataSourceV2 `TableProvider` that makes the
  * commit-log tables first-class SQL citizens:
  *
  * {{{
  *   spark.read.format("graft").option("versionAsOf", 1).load(path)
  *   // or from pure SQL:
  *   CREATE TEMPORARY VIEW t USING graft OPTIONS (path '...', versionAsOf '1')
  * }}}
  *
  * The connector's job is exactly the lakehouse planning step: resolve
  * the requested version through the commit list (O(1) HEAD discovery
  * via the hint; one metadata fetch per read), optionally prune the
  * file list with the commit-embedded I22 stats (`skipCol`/`skipLo`/
  * `skipHi` — file-level, conservative: callers apply their predicate
  * as usual, the pruning only shrinks the scan), and hand the exact
  * file set to Spark's OWN parquet machinery — the returned table IS a
  * [[ParquetTable]], so column pruning, predicate pushdown, vectorized
  * reads and whole-stage codegen all apply unchanged. This is the
  * Spark-first shape: the connector plans, Catalyst executes.
  *
  * Options: `versionAsOf` (default HEAD); `skipCol` + `skipLo`/`skipHi`
  * (µs/long band over a stats-carrying table — requires the version to
  * have been written via `tableAppendStats`).
  *
  * A version carrying DELETION VECTORS (I25) is served MERGE-ON-READ
  * with a PER-FILE POSITIONAL filter (round 13 — positions replaced
  * the round-12 key model): the connector collects the version's
  * deleted (file, rowPos) entries at planning time (broadcast-sized by
  * the COW-fallback design — files with >cowFraction deleted rows were
  * rewritten, so the surviving DV entries are bounded), BROADCASTS
  * them once per session, and wraps Spark's parquet readers with a
  * sorted-array binary-search filter on the row's position. Positions
  * come from the parquet reader itself (the
  * `_tmp_metadata_row_index` schema mechanism Spark provides for
  * exactly this), so column pruning, predicate pushdown and row-group
  * skipping all still forward — a skipped row group cannot desync the
  * positions. Aggregate/limit pushdown is deliberately NOT forwarded
  * on DV versions (it would bypass the row filter). DV-free versions
  * take the raw [[ParquetTable]] path unchanged — zero overhead.
  */
class GraftTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = false

  // Spark makes one provider per load and calls inferSchema, then
  // getTable with the same options: the table inferSchema resolved is
  // handed to getTable, so a load reads the commit and infers the
  // parquet schema once, and both calls see the same snapshot.
  @volatile private var resolved: Option[(java.util.Map[String, String], Table)] = None

  private def resolveTable(options: CaseInsensitiveStringMap): Table = {
    val spark = SparkSession.active
    val path = Option(options.get("path")).getOrElse(
      sys.error("the graft source needs a path (.load(tablePath) or " +
        "OPTIONS (path '...'))"))
    GraftTables.forPath(spark, path, options)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val t = resolveTable(options)
    resolved = Some((options.asCaseSensitiveMap(), t))
    t.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val hit = resolved.collect { case (opts, t) if opts == properties => t }
    resolved = None
    hit.getOrElse(resolveTable(new CaseInsensitiveStringMap(properties)))
  }
}

/** The shared table factory: the `format("graft")` provider and the
  * [[GraftCatalog]] both resolve a commit-log path into the same
  * [[GraftTable]] (round 12). */
private[graft] object GraftTables {
  private def schemaSidecar(path: String) =
    new org.apache.hadoop.fs.Path(path, "_schema")

  // The positional-DV broadcast, memoized per (session, table,
  // version) — round 14, round-13 ADVICE low: every query resolves a
  // FRESH table handle, so a handle-scoped lazy val re-collected and
  // re-broadcast the DV set on every read of a DV-carrying table and
  // the broadcasts accumulated unreleased. Versions are immutable, so
  // the cache never goes stale; entries are bounded by the session's
  // distinct mutated (table, version) pairs, and a clear unpersists them.
  private[graft] def dvPositions(spark: SparkSession, path: String,
      version: Long, dvDirs: Seq[String])
      : org.apache.spark.broadcast.Broadcast[Map[String, PackedPositions]] =
    graft.Memo(spark, s"sources.dv_positions:$path@$version",
        (b: org.apache.spark.broadcast.Broadcast[Map[String, PackedPositions]]) =>
          b.unpersist()) {
      val m: Map[String, PackedPositions] =
        spark.read.parquet(dvDirs: _*)
          .select(col("f"), col("p")).distinct().collect()
          .groupBy(_.getString(0))
          .map { case (f, rs) =>
            f -> PackedPositions(rs.map(_.getLong(1)).sorted)
          }
      spark.sparkContext.broadcast(m)
    }

  /** Persist a DDL-declared schema for a not-yet-written table (the
    * catalog's CREATE TABLE): the commit log itself has no schema
    * until v0 lands, so the sidecar bridges CREATE → first INSERT. */
  private[graft] def writeSchemaSidecar(spark: SparkSession, path: String,
      schema: StructType): Unit = {
    val fs = Io.fsFor(spark, path)
    val out = fs.create(schemaSidecar(path), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readSchemaSidecar(spark: SparkSession,
      path: String): Option[StructType] = {
    val fs = Io.fsFor(spark, path)
    if (!fs.exists(schemaSidecar(path))) None
    else {
      val in = fs.open(schemaSidecar(path))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(txt)
        .asInstanceOf[StructType])
    }
  }

  def forPath(spark: SparkSession, path: String,
      options: CaseInsensitiveStringMap): Table = {
    val cdf = Option(options.get("readChangeFeed")).exists(_.toBoolean)
    require(!cdf || !options.containsKey("versionAsOf") &&
        !options.containsKey("timestampAsOf") &&
        !options.containsKey("skipCol") &&
        !options.containsKey("withSnapshot"),
      "readChangeFeed streams the change history itself — it cannot " +
        "combine with versionAsOf/timestampAsOf/skipCol/withSnapshot " +
        "(use startingVersion/startingTimestamp to cut the feed)")
    val head = Io.tableVersion(spark, path)
    if (head < 0) {
      // a created-but-never-written table serves its declared schema,
      // empty scans, and first-write (v0) appends
      val declared = readSchemaSidecar(spark, path)
      require(declared.isDefined, s"no commit-log table at $path")
      return new GraftEmptyTable(spark, path, declared.get)
    }
    val byTs = Option(options.get("timestampAsOf")).map { t =>
      val millis =
        try t.toLong
        catch {
          case _: NumberFormatException => // ISO local datetime
            java.time.LocalDateTime.parse(t.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        }
      Io.versionAtTimestamp(spark, path, millis)
    }
    require(byTs.isEmpty || !options.containsKey("versionAsOf"),
      "versionAsOf and timestampAsOf are mutually exclusive")
    val version = byTs
      .orElse(Option(options.get("versionAsOf")).map(_.toLong))
      .getOrElse(head)
    require(version >= 0 && version <= head,
      s"version $version out of range [0, $head] at $path")
    val dvDirs = Io.dvDirsResolved(spark, path, version)
    val files = Io.versionFiles(spark, path, version)
    if (files.isEmpty) {
      // an empty-SELECT atomic CTAS commits v0 with zero data files —
      // the declared schema serves from the sidecar, appends go OCC
      val declared = readSchemaSidecar(spark, path)
      require(declared.isDefined, s"version $version at $path is empty")
      return new GraftEmptyTable(spark, path, declared.get)
    }
    val pruned = Option(options.get("skipCol")) match {
      case None => files
      case Some(skipCol) =>
        val lo = Option(options.get("skipLo")).map(_.toLong)
          .getOrElse(Long.MinValue)
        val hi = Option(options.get("skipHi")).map(_.toLong)
          .getOrElse(Long.MaxValue)
        val kept = Io.statsBand(spark, path, version, files, skipCol, lo, hi)
        // schema inference needs ≥1 file; an all-pruned read keeps one
        // carrier file — pruning is conservative, the caller's own
        // predicate (which skipping never replaces) yields the empty set
        if (kept.nonEmpty) kept else files.take(1)
    }
    // HEAD reads serve the DECLARED schema when a `_schema` sidecar
    // exists (the catalog's CREATE/CTAS/ALTER ADD COLUMN surface):
    // an ALTER-added column reads as null from pre-evolution files.
    // Pinned version reads keep their own era's schema — the sidecar
    // describes HEAD, so time travel to before an evolution must not
    // grow phantom columns.
    val declared =
      if (version == head) readSchemaSidecar(spark, path) else None
    val basePt = ParquetTable(s"graft:$path@$version", spark, options,
      pruned.toIndexedSeq, declared, classOf[ParquetFileFormat])
    // EVERY GraftTable's ParquetTable carries the row-index temp
    // column in its declared schema: Spark's parquet readers
    // synthesize the row's position within its file into that column
    // (footer-exact, row-group-skip-safe) — the positional DV filter
    // and the `_graft_pos` row-id both key on it. GraftTable.schema()
    // hides it from queries, and a scan that never requests it prunes
    // it away at zero cost.
    val pt = ParquetTable(s"graft:$path@$version", spark, options,
      pruned.toIndexedSeq,
      Some(StructType(
        basePt.schema.fields.filterNot(_.name == PosDv.TmpCol) :+
          PosDv.rowIndexField)),
      classOf[ParquetFileFormat])
    new GraftTable(pt, spark, path, version, head,
      Option(options.get("deleteKey")), dvDirs, pruned.size, cdf)
  }
}

/** The positional-DV constants: Spark's parquet readers populate a
  * column named [[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME]]
  * with each row's index within its FILE — computed from the footer's
  * row-group offsets, so it stays exact under split-parallel reads,
  * predicate pushdown and row-group skipping. */
private[graft] object PosDv {
  val TmpCol: String = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
  val rowIndexField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(TmpCol,
      org.apache.spark.sql.types.LongType, nullable = true)
}

/** The streaming CHANGE-DATA-FEED virtual columns (round 14): Delta's
  * `readChangeFeed` surface — `_change_type` ∈ {insert, delete,
  * update_preimage, update_postimage} and `_commit_version`, appended
  * to the table schema when the stream is opened with
  * `option("readChangeFeed", "true")`. */
private[graft] object Cdf {
  val TypeCol = "_change_type"
  val VersionCol = "_commit_version"
  val fields: Seq[org.apache.spark.sql.types.StructField] = Seq(
    org.apache.spark.sql.types.StructField(TypeCol,
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField(VersionCol,
      org.apache.spark.sql.types.LongType, nullable = false))
  def isCdfCol(name: String): Boolean =
    name == TypeCol || name == VersionCol
}

/** A file's deleted row positions in the read-side broadcast —
  * PACKED (round 14, round-13 VERDICT #2b): a bulk MOR delete
  * produces long CONSECUTIVE position runs (a predicate tends to
  * match row clusters in a type/range-clustered file), and shipping
  * them as raw sorted longs made the broadcast ∝ deleted rows. Runs
  * compress to (start, end) pairs — the Roaring-bitmap idea at the
  * granularity parquet row indexes need (the reference keeps its
  * postings as Roaring bitmaps, mem_postings.h) — and membership
  * stays one binary search. Sparse sets (runs ≈ singletons) keep the
  * raw array: packing must never cost memory. */
private[graft] sealed trait PackedPositions extends Serializable {
  def contains(p: Long): Boolean
  def count: Long
}

private[graft] final class SparsePositions(sorted: Array[Long])
  extends PackedPositions {
  override def contains(p: Long): Boolean =
    java.util.Arrays.binarySearch(sorted, p) >= 0
  override def count: Long = sorted.length.toLong
}

private[graft] final class RunPositions(starts: Array[Long],
    ends: Array[Long], val count: Long) extends PackedPositions {
  override def contains(p: Long): Boolean = {
    val i = java.util.Arrays.binarySearch(starts, p)
    if (i >= 0) true
    else {
      val j = -i - 2 // greatest start < p
      j >= 0 && p < ends(j)
    }
  }
}

private[graft] object PackedPositions {
  val empty: PackedPositions = new SparsePositions(Array.empty[Long])

  /** Pack a SORTED, DISTINCT position array: run-encode when that at
    * least halves the footprint, else keep the raw array. */
  def apply(sorted: Array[Long]): PackedPositions = {
    var runs = 0
    var i = 0
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length && sorted(j) == sorted(j - 1) + 1) j += 1
      runs += 1
      i = j
    }
    if (sorted.isEmpty || runs * 2L >= sorted.length)
      new SparsePositions(sorted)
    else {
      val starts = new Array[Long](runs)
      val ends = new Array[Long](runs)
      var r = 0
      i = 0
      while (i < sorted.length) {
        var j = i + 1
        while (j < sorted.length && sorted(j) == sorted(j - 1) + 1) j += 1
        starts(r) = sorted(i)
        ends(r) = sorted(j - 1) + 1
        r += 1
        i = j
      }
      new RunPositions(starts, ends, sorted.length.toLong)
    }
  }
}

/** The connector's Table: reads delegate to Spark's own
  * [[ParquetTable]] scan machinery over the resolved file set, and
  * `DELETE FROM` (SQL DML) routes into the commit protocol —
  * merge-on-read via POSITIONAL deletion vectors when the view was
  * created with a `deleteKey` option (the DV opt-in flag; since
  * round 13 positions are the delete identity, so the option's VALUE
  * is no longer consulted), copy-on-write otherwise. Deletes apply to
  * HEAD only (a pinned versionAsOf/timestampAsOf view refuses). */
private[graft] class GraftTable(pt: ParquetTable, spark: SparkSession,
    path: String, version: Long, head: Long, deleteKey: Option[String],
    dvDirs: Seq[String], numFiles: Int, cdf: Boolean = false)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with connector.catalog.SupportsMetadataColumns
  with connector.catalog.SupportsRowLevelOperations {

  override def name(): String = pt.name
  // the ParquetTable declares the row-index temp column so the readers
  // synthesize positions — hidden from the SQL surface. A
  // `readChangeFeed` handle (round 14) additionally exposes the CDF
  // virtual columns, served by [[GraftCdfMicroBatchStream]].
  override def schema(): StructType = {
    val base = pt.schema.fields.filterNot(_.name == PosDv.TmpCol)
    if (cdf) StructType(base ++ Cdf.fields) else StructType(base)
  }

  /** Table metadata for `DESCRIBE TABLE EXTENDED` (round 12 s3):
    * the commit-log facts a table browser wants — served from state
    * the provider already resolved, zero extra IO. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    // user TBLPROPERTIES first (round 14) — the graft.* facts below
    // stay authoritative even against a shadowing user key
    Io.readTableProps(spark, path).foreach { case (k, v) => m.put(k, v) }
    m.put("graft.version", version.toString)
    m.put("graft.head", head.toString)
    m.put("graft.numFiles", numFiles.toString)
    m.put("graft.format", "graft commit-log parquet")
    deleteKey.foreach(m.put("graft.deleteKey", _))
    if (dvDirs.nonEmpty)
      m.put("graft.deletionVectors", dvDirs.size.toString)
    m
  }

  /** `_graft_file` (round 12): each row's data file — the GROUP id of
    * the row-level COW machinery (and a provenance column any query
    * may select). Served by [[GraftFileScanBuilder]]'s row
    * augmentation; normal scans that never reference it plan
    * unchanged. */
  override def metadataColumns()
      : Array[connector.catalog.MetadataColumn] =
    Array(
      new connector.catalog.MetadataColumn {
        override def name(): String = RowLevel.FileCol
        override def dataType(): DataType =
          org.apache.spark.sql.types.StringType
        // non-null: every row has a serving file (and row-id
        // attributes of the MOR delta path must not be nullable)
        override def isNullable: Boolean = false
        override def comment(): String =
          "table-relative data file serving this row (graft COW group)"
      },
      // round 13: with FileCol this is the ROW ID of the merge-on-read
      // DML path — the identity positional DVs key on
      new connector.catalog.MetadataColumn {
        override def name(): String = RowLevel.PosCol
        override def dataType(): DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "row position within its data file (graft DV identity)"
      })

  /** SQL UPDATE / MERGE INTO / (untranslatable-predicate) DELETE —
    * Spark's row-level-operation framework over the group-based COW
    * rewrite in [[GraftRowLevelOperation]]. HEAD only, like every
    * other mutation. DV-carrying tables COMPOSE with every verb
    * (round 13, positional DVs): the rewrite scan is DV-filtered via
    * [[PosDvScanBuilder]] — a touched file's rewrite materializes its
    * deletes — and the commit carries the sidecar for kept files,
    * whose (file, rowPos) entries can never collide with rewritten or
    * re-inserted rows. */
  override def newRowLevelOperationBuilder(
      info: connector.write.RowLevelOperationInfo)
      : connector.write.RowLevelOperationBuilder = {
    require(version == head,
      s"${info.command} applies to HEAD (v$head) — this view is " +
        s"pinned to v$version via versionAsOf/timestampAsOf")
    new connector.write.RowLevelOperationBuilder {
      override def build(): connector.write.RowLevelOperation =
        // `graft.dml.mode=mor` (round 13) switches every verb to the
        // MERGE-ON-READ delta representation: touched rows become
        // (file, pos) DV entries + fresh inserted rows — a 1-row
        // UPDATE writes one DV entry and one row instead of rewriting
        // its file (the Delta DV-update shape). Default stays the
        // group-based COW rewrite.
        if (spark.conf.getOption("graft.dml.mode").contains("mor"))
          new GraftDeltaRowLevelOperation(spark, path, version,
            info.command, opts => baseScanBuilder(opts))
        else
          new GraftRowLevelOperation(spark, path, version, info.command,
            opts => baseScanBuilder(opts))
    }
  }
  // Writes (round 12) stage through the OCC commit protocol
  // (tableAppendOcc — writer-unique data dir, version claim at commit,
  // conflict retry), not a raw file sink: the WriteBuilder produces a
  // V1Write so the append is handed over as a whole DataFrame (the
  // JDBC connector's shape — DataSourceV2Strategy plans it as
  // AppendDataExecV1) instead of per-task commits that could never be
  // made atomic against the version log. BATCH_WRITE is advertised so
  // DataFrameWriter takes the DSv2 path at all; V1_BATCH_WRITE is what
  // the capability check actually consumes for a V1Write. TRUNCATE
  // (round 12, session 3) serves INSERT OVERWRITE / mode("overwrite")
  // as a REPLACE COMMIT — the next version lists only the fresh batch,
  // nothing is physically truncated, prior versions keep serving via
  // time travel (the REPLACE TABLE semantics at write-path
  // granularity).
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  /** Exactly-once `df.write.format("graft").mode("append")`: one OCC
    * commit per save — concurrent writers serialize through version
    * claims and the loser re-lands (the I23 discipline). Appends apply
    * to HEAD only; `mode("overwrite")` is refused (the log is
    * append-only — DELETE/RESTORE are commits, not truncations), and
    * the table must already exist (create v0 via Io.tableAppend: the
    * connector cannot infer a schema from an empty log). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // `txnVersion` (round 12): the Delta txnAppId/txnVersion idea as
      // a writer option — a foreachBatch sink passes the micro-batch
      // id and redelivery of an already-committed batch becomes a
      // NO-OP (tableAppendIdempotent, the I19 exactly-once contract);
      // without it each save is one OCC commit.
      private val txn = Option(info.options.get("txnVersion")).map(_.toLong)
      // Delta's `replaceWhere` writer option: a mode("overwrite") save
      // scoped to a predicate region (I48) instead of the whole table
      private val replaceWhereOpt =
        Option(info.options.get("replaceWhere")).map(expr)
      private var replace = false
      private var replaceCond: Option[Column] = None
      override def truncate(): WriteBuilder = { replace = true; this }
      // round 14 (I48): `writeTo(...).overwrite(cond)` / OVERWRITE_BY_
      // FILTER — Spark hands the condition as V1 filters; an all-
      // AlwaysTrue set is the full truncate, anything else scopes the
      // replace to the predicate region via tableReplaceWhere
      override def overwrite(filters: Array[sources.Filter])
          : WriteBuilder = {
        if (filters.forall {
          case sources.AlwaysTrue() => true; case _ => false
        }) { replace = true }
        else {
          val cols = filters.map(f => toColumn(f).getOrElse(sys.error(
            s"overwrite condition $f is not expressible by the graft " +
              "connector — use option(\"replaceWhere\", <sql>) for " +
              "arbitrary predicates")))
          replaceCond = Some(cols.reduce(_ && _))
        }
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: sources.InsertableRelation =
          new sources.InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(version == head,
                s"writes apply to HEAD (v$head) — this view is " +
                  s"pinned to v$version via versionAsOf/timestampAsOf")
              if (replaceCond.isDefined) {
                Io.tableReplaceWhere(data, path, replaceCond.get)
              } else if (replace || overwrite) {
                // INSERT OVERWRITE / mode("overwrite"): one replace
                // commit — fresh files only, history intact — unless
                // the replaceWhere option scopes it to a region
                replaceWhereOpt match {
                  case Some(p) => Io.tableReplaceWhere(data, path, p)
                  case None => Io.tableOverwrite(data, path)
                }
              } else txn match {
                case Some(b) => Io.tableAppendIdempotent(data, path, b)
                case None => Io.tableAppendOcc(data, path,
                  writer = java.util.UUID.randomUUID().toString)
              }
              ()
            }
          }
        // round 14: the DIRECT streaming sink — writeStream
        // .format("graft") plans this Write and takes the streaming
        // branch here; append mode only (Complete arrives as
        // truncate() + toStreaming and refuses: a truncation per
        // epoch has no commit-log representation)
        override def toStreaming
            : connector.write.streaming.StreamingWrite = {
          require(version == head,
            s"streaming writes apply to HEAD (v$head) — this view is " +
              s"pinned to v$version via versionAsOf/timestampAsOf")
          require(!replace && replaceCond.isEmpty,
            "the graft streaming sink is APPEND-only: Complete mode " +
              "would truncate per epoch, which the commit log cannot " +
              "represent as inserts (use foreachBatch + tableOverwrite)")
          new GraftStreamingWrite(spark, path, info.schema(),
            info.queryId())
        }
      }
    }
  // one metadata-scale collect per (session, table, VERSION) — not per
  // handle, not per scan (round 14, round-13 ADVICE low): the version's
  // deleted (file, rowPos) entries, packed per file
  // ([[PackedPositions]]) and shipped via a REAL broadcast — one copy
  // per executor, memoized in [[GraftTables.dvPositions]] so repeated
  // reads of a DV-carrying version reuse one broadcast
  private def dvPositions
      : org.apache.spark.broadcast.Broadcast[Map[String, PackedPositions]] =
    GraftTables.dvPositions(spark, path, version, dvDirs)

  private def baseScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (dvDirs.isEmpty) pt.newScanBuilder(options)
    else new PosDvScanBuilder(pt.newScanBuilder(options), dvPositions)

  // the file-column wrapper engages only when the plan references
  // _graft_file (the row-level group-filter build side, or an explicit
  // provenance SELECT); otherwise build() hands back the delegate scan
  // untouched — normal reads plan exactly as before. The built scan is
  // additionally wrapped with the STREAMING entry point (round 13):
  // `readStream.format("graft")` reaches toMicroBatchStream through
  // it, batch plans are forwarded untouched.
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (cdf)
      // the change-data-feed path (round 14): a streaming-only scan
      // that serves per-transition change ROWS instead of table state
      new GraftCdfScanBuilder(spark, path,
        StructType(pt.schema.fields.filterNot(_.name == PosDv.TmpCol)),
        options)
    else new GraftFileScanBuilderPushdown(baseScanBuilder(options),
      runtimeFilterable = false) {
      override def build(): Scan =
        new GraftStreamableScan(super.build(), spark, path,
          dvDirs.nonEmpty, options)
    }

  private def toColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(c) => toColumn(c).map(!_)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  // Translatable predicates take the metadata-delete fast path
  // (Spark's OptimizeMetadataOnlyDeleteFromTable → deleteWhere below:
  // DV merge-on-read with a deleteKey, COW commit without). A filter
  // this surface can't express returns false and the DELETE falls
  // back to the round-12 row-level COW rewrite (RowLevelOps.scala) —
  // any predicate now works, it just pays a group rewrite instead of
  // a metadata commit.
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    filters.forall(toColumn(_).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(version == head,
      s"DELETE applies to HEAD (v$head) — this view is pinned to " +
        s"v$version via versionAsOf/timestampAsOf")
    val pred = filters.flatMap(toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    // deleteKey (view option) or graft.dml.mode=mor (session conf)
    // opt the metadata delete into the DV merge-on-read path;
    // positions are the delete identity (round 13), so the option's
    // value is not consulted
    if (deleteKey.isDefined ||
        spark.conf.getOption("graft.dml.mode").contains("mor"))
      Io.tableDeleteWhereDv(spark, path, pred)
    else Io.tableDeleteWhere(spark, path, pred)
    ()
  }
}

/** Round 13: the merge-on-read planning wrapper for DV-carrying
  * versions — POSITIONAL. Delegates column pruning and (Catalyst)
  * filter pushdown to Spark's own [[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder]]
  * — so the parquet scan still prunes columns, pushes predicates and
  * row-group-skips — and wraps the produced readers with an exact
  * (file, rowPos) filter: the row's position comes from the parquet
  * reader's own `_tmp_metadata_row_index` synthesis (footer-exact
  * under row-group skipping), the deleted positions from a
  * per-executor broadcast of the version's DV entries. Aggregate,
  * limit and runtime-filter pushdown are NOT forwarded: each would
  * let results bypass the row filter (aggregates/limits) or is a pure
  * perf hint the transitional DV state can live without (DPP).
  *
  * The row-index temp column is appended to every pruned schema and
  * projected back out before rows leave the reader — readSchema()
  * reports exactly what the query asked for.
  */
private[graft] class PosDvScanBuilder(delegate: ScanBuilder,
    dv: org.apache.spark.broadcast.Broadcast[Map[String, PackedPositions]])
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownCatalystFilters {

  private var userSchema: Option[StructType] = None

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // an EXPLICIT row-index request (the row-id serving wrapper of the
    // merge-on-read DML path) keeps the column in the reported schema;
    // otherwise it is read-augmented and projected back out
    val wantTmp = requiredSchema.fieldNames.contains(PosDv.TmpCol)
    val stripped = StructType(
      requiredSchema.fields.filterNot(_.name == PosDv.TmpCol))
    delegate match {
      case d: SupportsPushDownRequiredColumns =>
        d.pruneColumns(StructType(stripped.fields :+ PosDv.rowIndexField))
      case _ => ()
    }
    userSchema = Some(
      if (wantTmp) StructType(stripped.fields :+ PosDv.rowIndexField)
      else stripped)
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    delegate match {
      case d: SupportsPushDownCatalystFilters => d.pushFilters(filters)
      case _ => filters
    }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate match {
      case d: SupportsPushDownCatalystFilters => d.pushedFilters
      case _ => Array.empty
    }

  override def build(): Scan = {
    val dScan = delegate.build()
    val dSchema = dScan.readSchema()
    val posIdx = dSchema.fieldIndex(PosDv.TmpCol)
    val outSchema = userSchema.getOrElse(
      StructType(dSchema.fields.filterNot(_.name == PosDv.TmpCol)))
    new PosDvScan(dScan, outSchema, posIdx, dv)
  }
}

private[graft] class PosDvScan(delegate: Scan, outSchema: StructType,
    posIdx: Int,
    dv: org.apache.spark.broadcast.Broadcast[Map[String, PackedPositions]])
  extends Scan with Batch {
  override def readSchema(): StructType = outSchema
  override def description(): String =
    s"${delegate.description()} (graft DV positional filter: " +
      s"${dv.value.valuesIterator.map(_.count).sum} positions / " +
      s"${dv.value.size} files)"
  override def toBatch: Batch = this
  private lazy val dBatch = delegate.toBatch

  /** Splits of DV-carrying files regroup ONE PARTITION PER FILE so
    * each reader's positional filter has constant file attribution;
    * clean files keep Spark's own split packing (full parallelism).
    * The DV file set is bounded by the COW-fallback threshold, so the
    * per-file partitions are few and small-deleted. */
  override def planInputPartitions(): Array[InputPartition] = {
    val dvFiles = dv.value.keySet
    val dvSplits = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.datasources.PartitionedFile]
    val cleanParts = scala.collection.mutable.ArrayBuffer
      .empty[Array[org.apache.spark.sql.execution.datasources.PartitionedFile]]
    dBatch.planInputPartitions().foreach {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        val (d, c) = fp.files.partition(f =>
          dvFiles.contains(Io.trailOf(f.filePath.toString)))
        dvSplits ++= d
        if (c.nonEmpty) cleanParts += c
      case other =>
        sys.error(s"graft DV scan expected FilePartitions, got $other")
    }
    val dvParts = dvSplits.groupBy(_.filePath.toString).toSeq
      .sortBy(_._1).map(_._2.toArray)
    (cleanParts.toSeq ++ dvParts).zipWithIndex.map { case (fs, i) =>
      org.apache.spark.sql.execution.datasources
        .FilePartition(i, fs): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PosDvReaderFactory(dBatch.createReaderFactory(),
      delegate.readSchema(), outSchema, posIdx, dv)
}

/** Filtering wrapper: drops rows whose (file, position) is in the
  * version's deleted set — a binary search in the file's packed
  * position set per row — and projects out the read-augmented
  * row-index column.
  *
  * Round 14 (round-13 VERDICT #7): VECTORIZED reads are kept. When
  * every output type is an atomic the wrapper supports — which is
  * what Spark's vectorized parquet reader itself requires plus a
  * decimal exclusion — the delegate's COLUMNAR batches flow through:
  * a clean batch (no deleted positions) is served as a zero-copy
  * column projection, a partially-deleted batch copies only the
  * SURVIVORS into fresh on-heap vectors (one pass, still far cheaper
  * than falling back to the row-based parquet reader for the whole
  * file). Unsupported types take the row path as before. */
private[graft] class PosDvReaderFactory(delegate: PartitionReaderFactory,
    dSchema: StructType, outSchema: StructType, posIdx: Int,
    dv: org.apache.spark.broadcast.Broadcast[Map[String, PackedPositions]])
  extends PartitionReaderFactory {

  import org.apache.spark.sql.types._

  private val copyable = outSchema.fields.forall(_.dataType match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType |
        TimestampNTZType | StringType | BinaryType => true
    case _ => false
  })

  override def supportColumnarReads(partition: InputPartition): Boolean =
    copyable && delegate.supportColumnarReads(partition)

  // DV-carrying files were planned one-per-partition, so the file
  // attribution is a partition constant; multi-file partitions are
  // clean by construction
  private def deletedOf(partition: InputPartition): PackedPositions =
    partition match {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition
          if fp.files.nonEmpty &&
            fp.files.forall(_.filePath == fp.files.head.filePath) =>
        dv.value.getOrElse(
          Io.trailOf(fp.files.head.filePath.toString),
          PackedPositions.empty)
      case _ => PackedPositions.empty
    }

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val inner = delegate.createReader(partition)
    val deleted = deletedOf(partition)
    val proj = UnsafeProjection.create(
      outSchema.fields.toIndexedSeq.map { f =>
        val i = dSchema.fieldIndex(f.name)
        BoundReference(i, dSchema(i).dataType, dSchema(i).nullable)
          : Expression
      })
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          if (deleted.count == 0L ||
              !deleted.contains(r.getLong(posIdx))) {
            cur = r; return true
          }
        }
        false
      }
      override def get(): InternalRow = proj(cur)
      override def close(): Unit = inner.close()
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val inner = delegate.createColumnarReader(partition)
    val deleted = deletedOf(partition)
    val outIdx: Array[Int] =
      outSchema.fields.map(f => dSchema.fieldIndex(f.name))
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var cur: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean = {
        while (inner.next()) {
          val b = inner.get()
          val n = b.numRows()
          if (deleted.count == 0L) { // zero-copy column projection
            cur = new org.apache.spark.sql.vectorized.ColumnarBatch(
              outIdx.map(b.column), n)
            return true
          }
          val pos = b.column(posIdx)
          val keep = new Array[Int](n)
          var k = 0
          var i = 0
          while (i < n) {
            if (!deleted.contains(pos.getLong(i))) { keep(k) = i; k += 1 }
            i += 1
          }
          if (k == n) {
            cur = new org.apache.spark.sql.vectorized.ColumnarBatch(
              outIdx.map(b.column), n)
            return true
          }
          if (k > 0) {
            val vs = outIdx.map { ci =>
              copySurvivors(b.column(ci), dSchema(ci).dataType, keep, k)
                : org.apache.spark.sql.vectorized.ColumnVector
            }
            cur = new org.apache.spark.sql.vectorized.ColumnarBatch(vs, k)
            return true
          }
          // fully-deleted batch: pull the next one
        }
        false
      }
      override def get()
          : org.apache.spark.sql.vectorized.ColumnarBatch = cur
      override def close(): Unit = inner.close()
    }
  }

  /** One-pass survivor copy into a fresh on-heap vector. */
  private def copySurvivors(
      src: org.apache.spark.sql.vectorized.ColumnVector,
      dt: DataType, keep: Array[Int], k: Int)
      : org.apache.spark.sql.execution.vectorized.OnHeapColumnVector = {
    val v = new org.apache.spark.sql.execution.vectorized
      .OnHeapColumnVector(k, dt)
    var j = 0
    while (j < k) {
      val i = keep(j)
      if (src.isNullAt(i)) v.putNull(j)
      else dt match {
        case BooleanType => v.putBoolean(j, src.getBoolean(i))
        case ByteType => v.putByte(j, src.getByte(i))
        case ShortType => v.putShort(j, src.getShort(i))
        case IntegerType | DateType => v.putInt(j, src.getInt(i))
        case LongType | TimestampType | TimestampNTZType =>
          v.putLong(j, src.getLong(i))
        case FloatType => v.putFloat(j, src.getFloat(i))
        case DoubleType => v.putDouble(j, src.getDouble(i))
        case StringType =>
          val s = src.getUTF8String(i); v.putByteArray(j, s.getBytes); ()
        case BinaryType => v.putByteArray(j, src.getBinary(i)); ()
        case other => sys.error(s"unreachable: $other filtered upstream")
      }
      j += 1
    }
    v
  }
}

/** Batch-transparent scan wrapper that adds the STREAMING entry point
  * (round 13): batch plans forward to the delegate untouched;
  * `toMicroBatchStream` serves the commit log as a Structured
  * Streaming source ([[GraftMicroBatchStream]]). DV-carrying tables
  * refuse — deletes cannot be represented in an insert-only stream
  * (run Io.optimizeTableDv first, or read the change feed). */
private[graft] class GraftStreamableScan(delegate: Scan,
    spark: SparkSession, path: String, hasDv: Boolean,
    options: CaseInsensitiveStringMap) extends Scan
  with connector.read.SupportsReportStatistics {
  // join sizing must not degrade behind the wrapper: forward the
  // delegate ParquetScan's size/row estimates (AQE/broadcast decisions
  // read them through SupportsReportStatistics)
  override def estimateStatistics(): connector.read.Statistics =
    delegate match {
      case s: connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    }
  // the row-index temp column never leaves the connector: a streaming
  // read may skip column pruning entirely, in which case the delegate
  // ParquetScan's schema still carries it — strip it from everything
  // the stream serves (batch plans always pruned it already)
  private def stripped: StructType =
    StructType(delegate.readSchema().fields
      .filterNot(_.name == PosDv.TmpCol))
  override def readSchema(): StructType = stripped
  override def description(): String = delegate.description()
  override def toBatch: Batch = delegate.toBatch
  override def toMicroBatchStream(checkpointLocation: String)
      : connector.read.streaming.MicroBatchStream = {
    // round 14 (round-13 VERDICT #4): `withSnapshot` serves a
    // DV-carrying table's INITIAL SNAPSHOT merge-on-read as batch 0
    // and tails append-only after — the backfill-then-tail pattern.
    // Without it, DV tables keep refusing: deletes cannot be
    // represented in an insert-only stream.
    val snapshot = Option(options.get("withSnapshot")).exists(_.toBoolean)
    require(!hasDv || snapshot,
      s"table at $path carries deletion vectors — an insert-only " +
        "stream cannot represent deletes; optimizeTableDv first, or " +
        "pass option(\"withSnapshot\", \"true\") to serve the start " +
        "version MOR-filtered as batch 0")
    new GraftMicroBatchStream(spark, path, stripped, options,
      snapshotDv = hasDv && snapshot)
  }
}

/** The commit version as a streaming offset. */
private[graft] case class GraftStreamOffset(v: Long)
  extends connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** Shared version-offset bookkeeping of the commit-log streaming
  * sources (round 14 refactor): the table-state stream
  * ([[GraftMicroBatchStream]]) and the change-data-feed stream
  * ([[GraftCdfMicroBatchStream]]) count offsets in commit VERSIONS and
  * share `startingVersion`/`startingTimestamp` cuts,
  * `maxVersionsPerTrigger` rate control and `Trigger.AvailableNow`
  * draining — only what a micro-batch SERVES differs. */
private[graft] abstract class GraftVersionStreamBase(spark: SparkSession,
    path: String, options: CaseInsensitiveStringMap)
  extends connector.read.streaming.MicroBatchStream
  with connector.read.streaming.SupportsTriggerAvailableNow {

  // Trigger.AvailableNow (the backfill pattern): the commit HEAD is
  // snapshotted at prepare time and every batch — still under the
  // rate cap — runs against that frozen end, so the query drains
  // exactly the prepared history in bounded chunks and terminates
  // even while writers keep appending.
  @volatile private var availableEnd: Long = -2L
  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Io.tableVersion(spark, path)
  protected def headNow: Long =
    if (availableEnd >= -1L) availableEnd else Io.tableVersion(spark, path)

  // rate control (round 13): `maxVersionsPerTrigger` caps how many
  // commit versions one micro-batch may span — a stream catching up on
  // a long table history processes it in bounded chunks instead of one
  // giant first batch (Delta's maxFilesPerTrigger idea at version
  // granularity, which is the unit our offsets already count).
  private val maxVersions: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map(_.toLong)
      .map { v => require(v > 0, "maxVersionsPerTrigger must be > 0"); v }

  // `startingVersion` or `startingTimestamp` (commit-mtime cut, the
  // timestampAsOf analog — serves commits STRICTLY AFTER the instant)
  // skip history; default is the full history from v0
  override def initialOffset(): connector.read.streaming.Offset = {
    val byVersion = Option(options.get("startingVersion"))
      .map(_.toLong - 1L)
    val byTs = Option(options.get("startingTimestamp")).map { ts =>
      require(byVersion.isEmpty,
        "startingVersion and startingTimestamp are mutually exclusive")
      val millis =
        try ts.toLong
        catch {
          case _: NumberFormatException =>
            java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        }
      // the newest commit at-or-before the cut is the START offset
      // (exclusive): the stream serves everything after it; a cut
      // before the first retained commit streams from the beginning
      try Io.versionAtTimestamp(spark, path, millis)
      catch { case _: IllegalArgumentException => -1L }
    }
    GraftStreamOffset(byTs.orElse(byVersion).getOrElse(-1L))
  }
  override def latestOffset(): connector.read.streaming.Offset =
    GraftStreamOffset(headNow)
  override def getDefaultReadLimit: connector.read.streaming.ReadLimit =
    connector.read.streaming.ReadLimit.allAvailable()
  override def latestOffset(start: connector.read.streaming.Offset,
      limit: connector.read.streaming.ReadLimit)
      : connector.read.streaming.Offset = {
    val head = headNow
    GraftStreamOffset(maxVersions match {
      case Some(n) => math.min(head, ver(start) + n)
      case None => head
    })
  }
  override def reportLatestOffset(): connector.read.streaming.Offset =
    GraftStreamOffset(headNow)
  override def deserializeOffset(json: String)
      : connector.read.streaming.Offset =
    GraftStreamOffset(json.trim.toLong)
  override def commit(end: connector.read.streaming.Offset): Unit = ()
  override def stop(): Unit = ()

  protected def ver(o: connector.read.streaming.Offset): Long = o match {
    case GraftStreamOffset(v) => v
    case other => other.json().trim.toLong
  }
}

/** Round 13: a MICRO-BATCH STREAMING SOURCE over the commit log —
  * Delta's streaming reads re-expressed:
  *
  * {{{ spark.readStream.format("graft").load(tablePath) }}}
  *
  * The commit VERSION is the offset; each micro-batch serves exactly
  * the files ADDED in (startV, endV] — append commits, the I19
  * exactly-once sink's output being the canonical producer — and the
  * reading itself is Spark's own parquet machinery over those files
  * (column pruning forwarded, vectorized reads, codegen). Planning
  * cost per batch: two commit fetches + one footer-less ParquetTable
  * over the added files — metadata-scale, never ∝ table size. A
  * NON-APPEND transition (removed files, new deletion vectors)
  * refuses loudly: a replace/delete has no insert-only representation
  * (Delta's ignoreChanges trap, made an error instead of silent
  * row duplication). `startingVersion` optionally skips history. */
private[graft] class GraftMicroBatchStream(spark: SparkSession,
    path: String, requiredSchema: StructType,
    options: CaseInsensitiveStringMap, snapshotDv: Boolean = false)
  extends GraftVersionStreamBase(spark, path, options) {

  // `withSnapshot` over a DV-carrying table (round 14): the DV state
  // is pinned ONCE at stream construction — batch 0 serves its end
  // version MOR-filtered through the positional machinery, every
  // batch requires the version's DV set to EQUAL the pinned one (a
  // post-start delete refuses, and a restart after a DV change
  // refuses before any batch could serve wrong rows), and later
  // batches' fresh files pass the filter untouched (no entries).
  private val snapBaseV: Long =
    if (!snapshotDv) -1L else Io.tableVersion(spark, path)
  private val snapDv: Seq[String] =
    if (!snapshotDv) Seq.empty else Io.dvDirsOf(spark, path, snapBaseV)
  private lazy val snapBcast = GraftTables.dvPositions(spark, path,
    snapBaseV, Io.dvDirsResolved(spark, path, snapBaseV))

  // the MOR-filtered scan of the snapshot path: every batch reads
  // through the positional filter (fresh files have no entries and
  // pass untouched), so one reader-factory template serves snapshot
  // and tail batches alike
  private def dvScanOver(files: Seq[String]): Scan = {
    val pt = ParquetTable(s"graft-stream:$path", spark, options,
      files.toIndexedSeq,
      Some(StructType(requiredSchema.fields :+ PosDv.rowIndexField)),
      classOf[ParquetFileFormat])
    val sb = new PosDvScanBuilder(pt.newScanBuilder(options), snapBcast)
    sb.pruneColumns(requiredSchema)
    sb.build()
  }

  // resolved paths of the files ADDED in (startV, endV]; refuses
  // non-append transitions (file removals / DV changes)
  private def addedFiles(startV: Long, endV: Long): Seq[String] = {
    val end = Io.versionFiles(spark, path, endV)
    val start =
      if (startV < 0) Seq.empty else Io.versionFiles(spark, path, startV)
    val startSet = start.toSet
    val endSet = end.toSet
    require(start.forall(endSet),
      s"streaming source at $path: commit range (v$startV, v$endV] " +
        "removed files — non-append commits (DELETE/OVERWRITE/" +
        "OPTIMIZE) cannot stream as inserts")
    val startDv =
      if (startV < 0) { if (snapshotDv) snapDv else Seq.empty }
      else Io.dvDirsOf(spark, path, startV)
    require(Io.dvDirsOf(spark, path, endV) == startDv,
      s"streaming source at $path: deletion vectors changed in " +
        s"(v$startV, v$endV] — deletes cannot stream as inserts" +
        (if (snapshotDv) "" else
          " (withSnapshot serves a DV start version as batch 0)"))
    // snapshot mode pins the DV set at stream construction: a restart
    // AFTER a DV change must refuse before any batch serves rows
    // filtered by the wrong entries
    if (snapshotDv) require(startDv == snapDv,
      s"streaming source at $path: deletion vectors changed since the " +
        s"withSnapshot stream started (pinned at v$snapBaseV) — " +
        "restart the stream from a fresh checkpoint")
    end.filterNot(startSet)
  }

  private def parquetScanOver(files: Seq[String]): Scan = {
    val pt = ParquetTable(s"graft-stream:$path", spark, options,
      files.toIndexedSeq, Some(requiredSchema), classOf[ParquetFileFormat])
    val sb = pt.newScanBuilder(options)
    sb match {
      case s: SupportsPushDownRequiredColumns =>
        s.pruneColumns(requiredSchema)
      case _ => ()
    }
    sb.build()
  }

  override def planInputPartitions(
      start: connector.read.streaming.Offset,
      end: connector.read.streaming.Offset): Array[InputPartition] = {
    val added = addedFiles(ver(start), ver(end))
    if (added.isEmpty) Array.empty
    else if (snapshotDv) dvScanOver(added).toBatch.planInputPartitions()
    else parquetScanOver(added).toBatch.planInputPartitions()
  }

  // the factory is FILE-LIST independent (it reads whatever
  // FilePartition it is handed — the positional filter keys each
  // partition by its own file trail), so ONE template — built lazily
  // on first use and cached for the stream's lifetime (round 14,
  // round-13 VERDICT #6: the per-batch rebuild cost one commit fetch
  // + scan replan per micro-batch for an identical factory)
  private lazy val readerFactoryTemplate: PartitionReaderFactory = {
    val head = Io.tableVersion(spark, path)
    val files =
      if (head < 0) Seq.empty[String]
      else Io.versionFiles(spark, path, head)
    if (snapshotDv) dvScanOver(files).toBatch.createReaderFactory()
    else parquetScanOver(files).toBatch.createReaderFactory()
  }
  override def createReaderFactory(): PartitionReaderFactory =
    readerFactoryTemplate
}

/** Round 14: the streaming CHANGE-DATA-FEED scan —
  *
  * {{{
  *   spark.readStream.format("graft")
  *     .option("readChangeFeed", "true").load(tablePath)
  * }}}
  *
  * Delta's CDF streaming surface re-expressed over the commit log.
  * Streaming-only by design: the batch form of the feed is
  * [[Io.changeFeed]] (whose exceptAll multiset diff has no
  * scan-shaped representation); this scan refuses `toBatch` with a
  * pointer there. */
private[graft] class GraftCdfScanBuilder(spark: SparkSession, path: String,
    tableSchema: StructType, options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType =
    StructType(tableSchema.fields ++ Cdf.fields)
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new GraftCdfScan(spark, path, required, options)
}

private[graft] class GraftCdfScan(spark: SparkSession, path: String,
    required: StructType, options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = required
  override def description(): String = s"graft change feed: $path"
  override def toBatch: Batch =
    sys.error("readChangeFeed is a STREAMING option " +
      "(spark.readStream.format(\"graft\")); for a batch change feed " +
      "between two versions use graft.sources.Io.changeFeed")
  override def toMicroBatchStream(checkpointLocation: String)
      : connector.read.streaming.MicroBatchStream =
    new GraftCdfMicroBatchStream(spark, path, required, options)
}

/** The CHANGE-DATA-FEED micro-batch stream (round 14): each
  * micro-batch serves the ROW-LEVEL CHANGES of the commit versions in
  * (startV, endV], typed like Delta's CDF — per transition:
  *
  *  - files ADDED by an append/MERGE-insert feed as `insert` rows;
  *  - files added by a MOR UPDATE statement (the `moru-<uid>` stamp)
  *    feed as `update_postimage`;
  *  - DV entries added by a MOR DELETE feed as `delete` rows — the
  *    deleted rows themselves, read POSITIONALLY out of the files both
  *    versions share (a KEEP-filter: the inverse of the MOR read's
  *    drop-filter, over the same packed position sets);
  *  - DV entries added by a MOR UPDATE feed as `update_preimage`.
  *
  * Each change row carries `_change_type` and `_commit_version`.
  * A COW rewrite/OVERWRITE/OPTIMIZE in the range refuses loudly: its
  * row-level feed is a multiset diff (rewritten-but-surviving rows
  * must cancel), which no scan can represent — Delta's streaming CDF
  * has the same hole and plugs it with stored change files; ours
  * points the caller at the batch [[Io.changeFeed]]. Planning cost
  * per batch: two metadata fetches per version + scans over only the
  * TOUCHED files — never ∝ table size. Pure-insert batches keep
  * VECTORIZED parquet reads (the CDF columns append as constant
  * vectors); keep-filtered batches take the row path. */
private[graft] class GraftCdfMicroBatchStream(spark: SparkSession,
    path: String, requiredSchema: StructType,
    options: CaseInsensitiveStringMap)
  extends GraftVersionStreamBase(spark, path, options) {

  // the columns actually read from parquet: the required schema minus
  // the two virtual CDF columns, plus the row-index synthesis column
  // (read unconditionally — it costs nothing and keeps ONE reader
  // factory template serving insert and keep-filter partitions alike)
  private val dataCols = StructType(
    requiredSchema.fields.filterNot(f => Cdf.isCdfCol(f.name)))
  private val parquetSchema = StructType(
    dataCols.fields :+ PosDv.rowIndexField)

  private def scanOver(files: Seq[String]): Scan = {
    val pt = ParquetTable(s"graft-cdf:$path", spark, options,
      files.toIndexedSeq, Some(parquetSchema), classOf[ParquetFileFormat])
    val sb = pt.newScanBuilder(options)
    sb match {
      case s: SupportsPushDownRequiredColumns =>
        s.pruneColumns(parquetSchema)
      case _ => ()
    }
    sb.build()
  }

  // a DV dir set's (file trail → sorted distinct positions) — driver
  // collect, metadata-scale (DV state is bounded by the COW-fallback
  // threshold + compaction)
  private def entriesOf(dirs: Seq[String]): Map[String, Array[Long]] =
    if (dirs.isEmpty) Map.empty
    else spark.read.parquet(dirs.map(Io.resolve(path, _)): _*)
      .select(col("f"), col("p")).distinct().collect()
      .groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).sorted }

  override def planInputPartitions(
      start: connector.read.streaming.Offset,
      end: connector.read.streaming.Offset): Array[InputPartition] = {
    val startV = ver(start)
    val endV = ver(end)
    val buf = scala.collection.mutable.ArrayBuffer.empty[
      (Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
        String, Long, Option[PackedPositions])]
    def planFiles(files: Seq[String], changeType: String, v: Long): Unit =
      if (files.nonEmpty)
        scanOver(files).toBatch.planInputPartitions().foreach {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            buf += ((fp.files, changeType, v, None))
          case other => sys.error(
            s"graft CDF scan expected FilePartitions, got $other")
        }
    // keep-filtered rows need constant per-partition file attribution:
    // one partition per touched file, like the MOR drop-filter
    def planKeep(fresh: Map[String, Array[Long]], changeType: String,
        v: Long): Unit =
      if (fresh.nonEmpty) {
        val files = fresh.keys.toSeq.sorted.map(Io.resolve(path, _))
        val byFile = scala.collection.mutable.LinkedHashMap.empty[String,
          scala.collection.mutable.ArrayBuffer[
            org.apache.spark.sql.execution.datasources.PartitionedFile]]
        scanOver(files).toBatch.planInputPartitions().foreach {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.foreach { f =>
              byFile.getOrElseUpdate(Io.trailOf(f.filePath.toString),
                scala.collection.mutable.ArrayBuffer.empty) += f
            }
          case other => sys.error(
            s"graft CDF scan expected FilePartitions, got $other")
        }
        byFile.foreach { case (trail, fs) =>
          buf += ((fs.toArray, changeType, v,
            Some(PackedPositions(fresh(trail)))))
        }
      }

    var prevFiles =
      if (startV < 0) Seq.empty[String]
      else Io.versionFiles(spark, path, startV)
    var prevDv =
      if (startV < 0) Seq.empty[String]
      else Io.dvDirsOf(spark, path, startV)
    var v = startV + 1
    while (v <= endV) {
      val cur = Io.versionFiles(spark, path, v)
      val curDv = Io.dvDirsOf(spark, path, v)
      val curSet = cur.toSet
      require(prevFiles.forall(curSet),
        s"change feed at $path: commit v$v removed files — a COW " +
          "rewrite/OVERWRITE/OPTIMIZE has no row-level stream " +
          "representation (rewritten-but-surviving rows must cancel); " +
          "read Io.changeFeed as a batch for this range, or restart " +
          s"the stream with startingVersion=${v + 1}")
      val curDvSet = curDv.toSet
      require(prevDv.forall(curDvSet),
        s"change feed at $path: commit v$v replaced deletion-vector " +
          "sidecars (compaction) — restart the stream past it with " +
          s"startingVersion=${v + 1}, or read Io.changeFeed as a batch")
      val prevSet = prevFiles.toSet
      val added = cur.filterNot(prevSet)
      val (updAdd, insAdd) = added.partition(Io.isMoruDataFile)
      planFiles(insAdd, "insert", v)
      planFiles(updAdd, "update_postimage", v)
      val newDirs = curDv.filterNot(prevDv.toSet)
      if (newDirs.nonEmpty) {
        val old = entriesOf(prevDv)
        val sharedTrails = prevFiles.map(Io.trailOf).toSet
        def freshOf(dirs: Seq[String]): Map[String, Array[Long]] =
          entriesOf(dirs).map { case (f, arr) =>
            require(sharedTrails.contains(f),
              s"change feed at $path: commit v$v carries DV entries " +
                s"for $f, which v${v - 1} does not serve — cannot " +
                "attribute the deleted rows")
            val o = old.getOrElse(f, Array.empty[Long])
            f -> arr.filterNot(p =>
              java.util.Arrays.binarySearch(o, p) >= 0)
          }.filter(_._2.nonEmpty)
        val (updDirs, delDirs) = newDirs.partition(Io.isMoruDvDir)
        planKeep(freshOf(delDirs), "delete", v)
        planKeep(freshOf(updDirs), "update_preimage", v)
      }
      prevFiles = cur
      prevDv = curDv
      v += 1
    }
    // Spark refuses MIXED row/columnar partition sets, so the columnar
    // decision is BATCH-uniform: vectorized only when no partition in
    // this batch needs the keep-filter (pure insert/postimage batches —
    // the steady-state tail)
    val columnarOk = buf.forall(_._4.isEmpty)
    buf.zipWithIndex.map { case ((fs, ct, cv, keep), i) =>
      CdfInputPartition(
        org.apache.spark.sql.execution.datasources.FilePartition(i, fs),
        ct, cv, keep, columnarOk): InputPartition
    }.toArray
  }

  // file-list independent (reads whatever FilePartition it is handed),
  // built once per stream — the round-13 VERDICT #6 discipline
  private lazy val readerFactoryTemplate: PartitionReaderFactory = {
    val head = Io.tableVersion(spark, path)
    val files =
      if (head < 0) Seq.empty[String]
      else Io.versionFiles(spark, path, head)
    new CdfReaderFactory(
      scanOver(files).toBatch.createReaderFactory(),
      parquetSchema, requiredSchema)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    readerFactoryTemplate
}

/** A CDF micro-batch partition: the underlying file split(s) plus the
  * change-type/version constants its rows carry, and — for
  * delete/update_preimage partitions — the packed KEEP positions (the
  * partition's rows are exactly the file's freshly-deleted rows). */
private[graft] case class CdfInputPartition(delegate: InputPartition,
    changeType: String, version: Long, keep: Option[PackedPositions],
    columnarOk: Boolean)
  extends InputPartition {
  override def preferredLocations(): Array[String] =
    delegate.preferredLocations()
}

/** Wraps the parquet readers with the CDF row assembly: optional
  * positional keep-filter, then a projection appending the
  * `_change_type`/`_commit_version` constants and dropping the
  * row-index column. Insert/postimage partitions with atomic-typed
  * output keep COLUMNAR reads — the constants append as
  * [[org.apache.spark.sql.execution.vectorized.ConstantColumnVector]]s
  * over the delegate's batch, zero row copies. */
private[graft] class CdfReaderFactory(delegate: PartitionReaderFactory,
    dSchema: StructType, outSchema: StructType)
  extends PartitionReaderFactory {

  import org.apache.spark.sql.types._

  private val posIdx = dSchema.fieldIndex(PosDv.TmpCol)
  private val copyable = outSchema.fields.forall(_.dataType match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType |
        TimestampNTZType | StringType | BinaryType => true
    case _ => false
  })

  // batch-uniform (stamped at planning): Spark refuses mixed
  // row/columnar partition sets within one scan
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition match {
      case c: CdfInputPartition =>
        c.columnarOk && copyable &&
          delegate.supportColumnarReads(c.delegate)
      case _ => false
    }

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val c = partition.asInstanceOf[CdfInputPartition]
    val inner = delegate.createReader(c.delegate)
    val proj = UnsafeProjection.create(
      outSchema.fields.toIndexedSeq.map { f =>
        if (f.name == Cdf.TypeCol)
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String
              .fromString(c.changeType), StringType): Expression
        else if (f.name == Cdf.VersionCol)
          org.apache.spark.sql.catalyst.expressions.Literal(
            c.version, LongType)
        else {
          val i = dSchema.fieldIndex(f.name)
          BoundReference(i, dSchema(i).dataType, dSchema(i).nullable)
        }
      })
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          if (c.keep.forall(_.contains(r.getLong(posIdx)))) {
            cur = r; return true
          }
        }
        false
      }
      override def get(): InternalRow = proj(cur)
      override def close(): Unit = inner.close()
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val c = partition.asInstanceOf[CdfInputPartition]
    val inner = delegate.createColumnarReader(c.delegate)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var cur: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean = {
        if (!inner.next()) return false
        val b = inner.get()
        val n = b.numRows()
        val vs = outSchema.fields.map { f =>
          if (f.name == Cdf.TypeCol) {
            val v = new org.apache.spark.sql.execution.vectorized
              .ConstantColumnVector(n, StringType)
            v.setUtf8String(org.apache.spark.unsafe.types.UTF8String
              .fromString(c.changeType))
            v: org.apache.spark.sql.vectorized.ColumnVector
          } else if (f.name == Cdf.VersionCol) {
            val v = new org.apache.spark.sql.execution.vectorized
              .ConstantColumnVector(n, LongType)
            v.setLong(c.version)
            v: org.apache.spark.sql.vectorized.ColumnVector
          } else b.column(dSchema.fieldIndex(f.name))
        }
        cur = new org.apache.spark.sql.vectorized.ColumnarBatch(vs, n)
        true
      }
      override def get()
          : org.apache.spark.sql.vectorized.ColumnarBatch = cur
      override def close(): Unit = inner.close()
    }
  }
}

/** Round 14 (round-13 VERDICT #1): the DIRECT streaming sink —
  *
  * {{{ df.writeStream.format("graft").start(tablePath) }}}
  *
  * closing the foreachBatch indirection the I19 sink needed: Spark's
  * micro-batch engine hands each epoch to this StreamingWrite, tasks
  * stream rows into parquet under an epoch-unique `data/e<k>-<query>`
  * tag ([[GraftParquetDataWriter]] — hidden temp + task-commit
  * rename), and the driver-side `commit(epochId, ...)` lands epoch k
  * as table VERSION k through [[Io.commitStreamEpoch]] — the same
  * version ≡ epoch mapping the foreachBatch sink's batchId carried,
  * so redelivery after a crash/restart no-ops and the sink is
  * exactly-once end to end. Append mode only: Complete/Update have no
  * insert-only representation on the commit log (the write builder's
  * truncate() refuses at toStreaming). The written table is a full
  * I14 citizen — time travel, CDF, history, the round-13 streaming
  * SOURCE — so sink → source round-trips compose. Reference tie:
  * appender.h + wal/ — the durable ingest loop with zero indirection
  * on either end. */
private[graft] class GraftStreamingWrite(spark: SparkSession, path: String,
    writeSchema: StructType, queryId: String)
  extends connector.write.streaming.StreamingWrite {

  private val uid = queryId.replaceAll("[^0-9a-zA-Z\\-]", "").take(12)
  private def tag(epochId: Long) = s"e$epochId-$uid"

  override def createStreamingWriterFactory(
      info: connector.write.PhysicalWriteInfo)
      : connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(path, uid,
      GraftParquetConf.forSchema(spark, writeSchema))

  override def commit(epochId: Long,
      messages: Array[connector.write.WriterCommitMessage]): Unit = {
    val t = tag(epochId)
    val files = messages.collect {
      case GraftWrittenFile(rel) => s"data/$t/$rel"
    }.sorted.toIndexedSeq
    // CHECK constraints (round 14): the epoch's landed batch validates
    // before its commit — a violating micro-batch fails the query
    // instead of poisoning the table
    Io.checkConstraintsFiles(spark, path, files)
    // an EMPTY epoch still commits (prior files only): the version ≡
    // epoch mapping must stay aligned for redelivery detection
    Io.commitStreamEpoch(spark, path, epochId, files)
    ()
  }

  override def abort(epochId: Long,
      messages: Array[connector.write.WriterCommitMessage]): Unit = {
    try Io.fsFor(spark, path).delete(
      new org.apache.hadoop.fs.Path(s"$path/data/${tag(epochId)}"), true)
    catch { case _: Throwable => () }
  }
}

private[graft] class GraftStreamingWriterFactory(path: String, uid: String,
    conf: org.apache.spark.util.SerializableConfiguration)
  extends connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : connector.write.DataWriter[InternalRow] =
    new GraftParquetDataWriter(s"$path/data/e$epochId-$uid",
      f"part-$partitionId%05d-$taskId.snappy.parquet", conf.value)
}

/** A created-but-never-written commit-log table (round 12, the
  * catalog's CREATE → INSERT window): serves the DDL-declared schema,
  * plans an EMPTY batch scan, and accepts the first append (which
  * lands v0 through the same OCC/txn write paths as [[GraftTable]]).
  */
private[graft] class GraftEmptyTable(spark: SparkSession, path: String,
    declared: StructType)
  extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"graft:$path@empty"
  override def schema(): StructType = declared
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = declared
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = required
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          Array.empty
        override def createReaderFactory(): PartitionReaderFactory =
          new PartitionReaderFactory {
            override def createReader(
                p: InputPartition): PartitionReader[InternalRow] =
              throw new IllegalStateException(
                "empty graft table planned no partitions")
          }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      private val txn = Option(info.options.get("txnVersion")).map(_.toLong)
      override def build(): Write = new V1Write {
        override def toInsertableRelation: sources.InsertableRelation =
          new sources.InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(!overwrite,
                s"graft table $path is append-only through the connector")
              txn match {
                case Some(b) => Io.tableAppendIdempotent(data, path, b)
                case None => Io.tableAppendOcc(data, path,
                  writer = java.util.UUID.randomUUID().toString)
              }
              ()
            }
          }
        // round 14: a created-but-never-written table accepts the
        // direct streaming sink too — epoch 0's commit lands v0
        override def toStreaming
            : connector.write.streaming.StreamingWrite =
          new GraftStreamingWrite(spark, path, info.schema(),
            info.queryId())
      }
    }
}

/** Atomic CTAS staging (round 12, [[GraftCatalog.stageCreate]]): the
  * SELECT's output lands under a writer-unique `data/` tag while the
  * table stays INVISIBLE (no `_commits`, no `_schema` — loadTable and
  * listTables cannot see it), and `commitStagedChanges` lands v0
  * through the same OCC version claim as every other commit. Two
  * racing `CREATE TABLE ... AS SELECT` of the same identifier thus
  * serialize at the v0 claim: exactly one wins, the loser's abort
  * removes only its own staging dir (never the winner's files). An
  * empty-SELECT CTAS commits v0 with zero data files and serves its
  * declared schema from the sidecar.
  */
private[graft] class GraftStagedTable(spark: SparkSession, path: String,
    declared: StructType, replaceOf: Option[Long] = None)
  extends StagedTable with SupportsWrite {

  private val v0 = replaceOf.map(_ + 1).getOrElse(0L)
  private val tag = s"c$v0-ctas-" + java.util.UUID.randomUUID().toString
  @volatile private var landed: Seq[String] = Seq.empty
  @volatile private var wrote = false

  override def name(): String = s"graft:$path@staged"
  override def schema(): StructType = declared
  // TRUNCATE is advertised unconditionally: Spark plans (CREATE OR)
  // REPLACE ... AS SELECT as truncate+write against the staged table,
  // and the "truncate" is simply that the staged commit lists only
  // the fresh files (a no-op for a staged CREATE, which has none)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      // RTAS arrives as truncate+write; the "truncate" is implicit in
      // the replace commit (it lists only the staged files), so the
      // builder just accepts the mode
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: sources.InsertableRelation =
          new sources.InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              landed = Io.stageLand(data, path, tag)
              wrote = true
              ()
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    require(wrote, s"atomic CTAS at $path committed before its write ran")
    // the version claim is the arbitration point (OCC); the schema
    // sidecar lands INSIDE the claimed-lock window (round 14 — so a
    // lost race can never clobber the winner's declared schema, and
    // CTAS/REPLACE serialize against concurrent ALTERs too). The
    // sidecar also serves the empty-SELECT read. A REPLACE commit
    // lists ONLY the fresh files (prior versions keep serving their
    // own lists — time travel across a replace just works) and
    // discards any DV sidecar with the replaced content.
    replaceOf match {
      case None => Io.commitStaged(spark, path, landed, Some(declared))
      case Some(prev) =>
        require(Io.tableVersion(spark, path) == prev,
          s"REPLACE TABLE at $path lost to a concurrent commit " +
            s"(staged against v$prev) — re-run against fresh state")
        Io.commitReplaceAll(spark, path, prev + 1, landed, Some(declared))
    }
  }

  override def abortStagedChanges(): Unit = {
    val fs = Io.fsFor(spark, path)
    try {
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/data/$tag"), true)
      val root = new org.apache.hadoop.fs.Path(path)
      // drop the table dir only if nothing else (a racing winner, an
      // older table) lives there
      val dataDir = new org.apache.hadoop.fs.Path(path, "data")
      if (fs.exists(dataDir) && fs.listStatus(dataDir).isEmpty)
        fs.delete(dataDir, false)
      if (fs.exists(root) && fs.listStatus(root).isEmpty)
        fs.delete(root, false)
    } catch { case _: Throwable => () }
  }
}
