package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal => CatalystLiteral, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Round 12: SQL `UPDATE` and `MERGE INTO` on commit-log tables —
  * Spark's DataSourceV2 row-level-operation framework
  * (`SupportsRowLevelOperations`), GROUP-BASED COPY-ON-WRITE at FILE
  * granularity, the Iceberg architecture re-expressed over the graft
  * commit log:
  *
  *  - Spark's analyzer rewrites UPDATE/MERGE/DELETE into a
  *    `ReplaceData` plan: read the affected groups, apply the
  *    modification row-wise in a projection, write the groups back.
  *  - The operation's scan ([[GraftFileScanBuilder]] over the same
  *    [[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable]]
  *    delegate as every other read) serves the `_graft_file` METADATA
  *    COLUMN (one group = one data file) and implements RUNTIME GROUP
  *    FILTERING (`SupportsRuntimeV2Filtering`): Spark first runs a
  *    build-side scan for `DISTINCT _graft_file WHERE cond`, then the
  *    rewrite scan plans ONLY the touched files — untouched files
  *    carry into the new commit BY REFERENCE, exactly the
  *    `tableMerge`/`tableDeleteWhere` COW discipline. At 100 TB an
  *    UPDATE of one key rewrites one file, not the table.
  *  - The write is a REAL distributed V2 write: executors stream
  *    `InternalRow`s straight into parquet via Spark's own
  *    [[ParquetWriteSupport]] ([[GraftParquetDataWriter]] — no
  *    driver-side funnel, no collect), and the driver-side commit
  *    lands `(prior − scanned) + fresh` as one OCC version
  *    ([[Io.writeCommit]] — claim, re-verify, rename; racing DML
  *    serializes or conflicts loudly, history stays immutable).
  *  - Commit stats carry ([[Io.rewrite]]): kept files keep
  *    their [min,max] entries, rewritten files get one distributed
  *    stats pass — I22 data skipping composes with SQL DML.
  *
  * The rewrite scan deliberately pushes NO filters to parquet: a
  * group-based rewrite must return EVERY row of a touched file (the
  * non-matching rows are carried through the If(cond, ...) projection
  * — row-level filter pushdown there would silently drop them). File
  * pruning comes from the runtime group filter instead, which is both
  * exact and arrives after the build-side scan has already enjoyed
  * full parquet pushdown.
  *
  * DELETE SQL keeps its existing paths (`SupportsDelete` metadata
  * delete / DV merge-on-read) for translatable predicates via Spark's
  * `OptimizeMetadataOnlyDeleteFromTable`; untranslatable predicates
  * now fall back to this COW rewrite instead of erroring. EVERY verb
  * composes with DV-carrying tables (round 13, positional DVs): the
  * rewrite scan is DV-filtered — a touched file's rewrite
  * materializes its deletes — and the commit carries the DV dirs for
  * kept files, whose (file, rowPos) entries can never collide with
  * rewritten or re-inserted rows, so no verb can resurrect a deleted
  * row or lose a live one.
  *
  * Reference tie: tagtree's storage.h:30-44 delete_series/update
  * surface — mutations must be atomic, versioned, and invisible to
  * pinned readers, which the commit-log OCC protocol guarantees for
  * every DML verb here.
  */
/** The Hadoop conf an executor-side [[ParquetWriteSupport]] writer
  * needs (shared by the COW replace write, the MOR delta write and the
  * round-14 streaming sink): the session conf copies only SET entries,
  * so defaults the write support asserts on must be pinned explicitly
  * or they arrive as the literal string "null". */
private[graft] object GraftParquetConf {
  def forSchema(spark: SparkSession,
      schema: StructType): SerializableConfiguration = {
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled",
      "false")
    new SerializableConfiguration(conf)
  }
}

private[graft] object RowLevel {
  val FileCol = "_graft_file"
  val fileColRef: NamedReference = Expressions.column(FileCol)
  // round 13: the row's position within its data file — with FileCol
  // it forms the ROW ID of the merge-on-read (SupportsDelta) DML path
  // and the identity the positional DVs key on
  val PosCol = "_graft_pos"
  val posColRef: NamedReference = Expressions.column(PosCol)
}

/** The row-level operation: one instance is shared between the
  * rewrite scan and the replace write, which is how the write learns
  * WHICH files the (runtime-filtered) scan actually planned. */
private[graft] class GraftRowLevelOperation(spark: SparkSession,
    path: String, version: Long, cmd: Command,
    delegateBuilder: org.apache.spark.sql.util.CaseInsensitiveStringMap
      => ScanBuilder)
  extends RowLevelOperation {

  // trails (data/<tag>/<part>) of the files the LAST rewrite-scan
  // planning pass produced. BatchScanExec re-plans partitions after
  // delivering runtime filters, so the final planning pass — the one
  // whose partitions actually execute — is what the commit reads.
  @volatile private[sources] var scannedTrails: Option[Set[String]] = None

  override def command(): Command = cmd
  override def description(): String =
    s"graft COW $cmd $path@v$version"

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftFileScanBuilder(delegateBuilder(options),
      runtimeFilterable = true,
      onPlanned = fs => { scannedTrails = Some(fs.map(Io.trailOf).toSet) })

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceWrite(spark, path, version, info.schema(),
          GraftRowLevelOperation.this)
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(RowLevel.fileColRef)
}

/** Scan builder serving the `_graft_file` and `_graft_pos` metadata
  * columns over any delegate (the raw ParquetTable builder, or the DV
  * merge-on-read wrapper). Column pruning forwards (with the metadata
  * columns stripped; a `_graft_pos` request forwards the row-index
  * temp column so Spark's parquet reader synthesizes positions);
  * filter pushdown deliberately does NOT (see the module doc — group
  * rewrites must read whole files). When the query never references
  * the columns and no runtime filtering is requested, `build()`
  * returns the delegate scan untouched. */
private[graft] class GraftFileScanBuilder(delegate: ScanBuilder,
    runtimeFilterable: Boolean,
    onPlanned: Seq[String] => Unit = _ => ())
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var wantFileCol = false
  private var wantPosCol = false
  private var required: Option[StructType] = None

  override def pruneColumns(requiredSchema: StructType): Unit = {
    wantFileCol = requiredSchema.fieldNames.contains(RowLevel.FileCol)
    wantPosCol = requiredSchema.fieldNames.contains(RowLevel.PosCol)
    required = Some(requiredSchema)
    val stripped = StructType(requiredSchema.fields.filterNot(f =>
      f.name == RowLevel.FileCol || f.name == RowLevel.PosCol))
    val fwd =
      if (!wantPosCol) stripped
      else StructType(
        stripped.fields.filterNot(_.name == PosDv.TmpCol) :+
          PosDv.rowIndexField)
    delegate match {
      case d: SupportsPushDownRequiredColumns => d.pruneColumns(fwd)
      case _ => ()
    }
  }

  override def build(): Scan = {
    val d = delegate.build()
    if (!wantFileCol && !wantPosCol && !runtimeFilterable) d
    else new GraftFileScan(d, required.getOrElse(d.readSchema()),
      wantFileCol, wantPosCol, runtimeFilterable, onPlanned)
  }
}

/** The normal-read variant: same metadata-column service, but filter
  * pushdown FORWARDS to the delegate (row filtering is safe outside a
  * group rewrite — this is the builder every ordinary connector scan
  * and the group-filter build side get). */
private[graft] class GraftFileScanBuilderPushdown(delegate: ScanBuilder,
    runtimeFilterable: Boolean)
  extends GraftFileScanBuilder(delegate, runtimeFilterable)
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    delegate match {
      case d: org.apache.spark.sql.internal.connector
          .SupportsPushDownCatalystFilters => d.pushFilters(filters)
      case _ => filters
    }

  override def pushedFilters: Array[Predicate] = delegate match {
    case d: org.apache.spark.sql.internal.connector
        .SupportsPushDownCatalystFilters => d.pushedFilters
    case _ => Array.empty
  }
}

/** File-attributed scan: Spark's OWN split packing is PRESERVED
  * (round 13 — a multi-GB file's splits process in parallel across
  * partitions, and a partition keeps serving many small files; the
  * round-12 one-partition-per-file layout serialized big-file
  * rewrites), each row is optionally augmented with its file's path
  * as `_graft_file` / its position as `_graft_pos` (the reader
  * concatenates per-file sub-readers, so the attribution stays a
  * sub-reader constant), and — when runtime-filterable — an
  * `IN (_graft_file, ...)` runtime predicate from Spark's
  * group-filter subquery prunes WHOLE FILES before execution. */
private[graft] class GraftFileScan(delegate: Scan, outSchema: StructType,
    withFileCol: Boolean, withPosCol: Boolean, runtimeFilterable: Boolean,
    onPlanned: Seq[String] => Unit)
  extends Scan with Batch with SupportsRuntimeV2Filtering {

  @volatile private var runtimeKeep: Option[Set[String]] = None

  override def readSchema(): StructType = outSchema
  override def description(): String =
    s"${delegate.description()} (graft file groups" +
      (if (withFileCol) s" +${RowLevel.FileCol}" else "") +
      (if (withPosCol) s" +${RowLevel.PosCol}" else "") + ")"
  override def toBatch: Batch = this

  override def filterAttributes(): Array[NamedReference] =
    if (runtimeFilterable) Array(RowLevel.fileColRef) else Array.empty

  override def filter(predicates: Array[Predicate]): Unit = {
    val keep = predicates.collect {
      case p if p.name == "IN" &&
          p.children.headOption.exists {
            case r: NamedReference =>
              r.fieldNames.sameElements(Array(RowLevel.FileCol))
            case _ => false
          } =>
        p.children.drop(1).collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            String.valueOf(l.value)
        }.toSet
    }
    if (keep.nonEmpty) runtimeKeep = Some(keep.reduce(_ intersect _))
  }

  private lazy val dBatch = delegate.toBatch

  override def planInputPartitions(): Array[InputPartition] = {
    // keep the delegate's packing; drop pruned files' splits wholesale
    // (runtime group filtering is file-granular — a kept file keeps
    // EVERY split, so a group rewrite still reads whole files)
    val parts = dBatch.planInputPartitions().map {
      case fp: FilePartition => fp
      case other => sys.error(
        s"graft file-group scan expected FilePartitions, got $other")
    }
    val kept = runtimeKeep match {
      case Some(k) =>
        parts.map(fp => fp.files.filter(f => k.contains(f.filePath.toString)))
          .filter(_.nonEmpty)
      case None => parts.map(_.files)
    }
    onPlanned(kept.flatMap(_.map(_.filePath.toString)).distinct.toSeq)
    kept.zipWithIndex.map { case (fs, i) =>
      FilePartition(i, fs): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftFileReaderFactory(dBatch.createReaderFactory(),
      delegate.readSchema(), outSchema, withFileCol || withPosCol)
}

/** Wraps the delegate readers; when the file/pos columns are
  * requested, a partition's splits are read as PER-FILE sub-readers
  * in sequence (the partition may pack many files, or a slice of a
  * big one), each projecting onto the required schema with its file's
  * path appended and the position bound to the parquet reader's
  * row-index synthesis column. */
private[graft] class GraftFileReaderFactory(
    delegate: PartitionReaderFactory, dSchema: StructType,
    outSchema: StructType, withMetaCols: Boolean)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    if (withMetaCols) false else delegate.supportColumnarReads(partition)

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    if (!withMetaCols) return delegate.createReader(partition)
    val groups: Seq[(String, Array[PartitionedFile])] = partition match {
      case fp: FilePartition =>
        fp.files.groupBy(_.filePath.toString).toSeq.sortBy(_._1)
      case other => sys.error(s"unexpected partition $other")
    }
    def projFor(file: String): UnsafeProjection =
      UnsafeProjection.create(outSchema.fields.toSeq.map { f =>
        if (f.name == RowLevel.FileCol)
          CatalystLiteral(UTF8String.fromString(file), StringType)
            : Expression
        else {
          val name =
            if (f.name == RowLevel.PosCol) PosDv.TmpCol else f.name
          val i = dSchema.fieldIndex(name)
          BoundReference(i, dSchema(i).dataType, dSchema(i).nullable)
        }
      })
    new PartitionReader[InternalRow] {
      private var gi = -1
      private var inner: PartitionReader[InternalRow] = _
      private var proj: UnsafeProjection = _
      private def advance(): Boolean = {
        if (inner != null) { inner.close(); inner = null }
        gi += 1
        if (gi >= groups.length) return false
        val (file, splits) = groups(gi)
        inner = delegate.createReader(FilePartition(gi, splits))
        proj = projFor(file)
        true
      }
      override def next(): Boolean = {
        while (inner != null || gi < groups.length) {
          if (inner == null) { if (!advance()) return false }
          else if (inner.next()) return true
          else { inner.close(); inner = null }
        }
        false
      }
      override def get(): InternalRow = proj(inner.get())
      override def close(): Unit = if (inner != null) inner.close()
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegate.createColumnarReader(partition)
}

/** The COW replace write: a real distributed V2 batch write. Tasks
  * stream rows into parquet under a writer-unique `data/` tag
  * ([[GraftParquetDataWriter]]); the driver commit lands
  * `(prior − scanned) + fresh` as the next OCC version with stats
  * carry and (for DELETE on DV tables) the DV dirs carried. */
private[graft] class GraftReplaceWrite(spark: SparkSession, path: String,
    version: Long, writeSchema: StructType, op: GraftRowLevelOperation)
  extends Write with BatchWrite {

  private val nv = version + 1
  private val tag =
    s"c$nv-rlo-" + java.util.UUID.randomUUID().toString.take(8)

  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft COW replace $path v$version->v$nv"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(s"$path/data/$tag",
      GraftParquetConf.forSchema(spark, writeSchema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = messages.collect {
      case GraftWrittenFile(rel) => s"data/$tag/$rel"
    }.sorted.toIndexedSeq
    val base = Io.record(spark, path, version)
    // FAIL-SAFE fallback: rows can only have been written from planned
    // partitions, so an unset scan (an AQE-emptied plan — e.g. a MERGE
    // whose source turned out empty) means nothing was read and
    // nothing may be replaced; defaulting to "replace all" here would
    // wipe the table on a no-op statement
    val scanned = op.scannedTrails.getOrElse {
      require(fresh.isEmpty,
        s"row-level write at $path produced files without a planned " +
          "scan — refusing to guess the replaced set")
      Set.empty[String]
    }
    val kept = base.files.filterNot(f => scanned.contains(Io.trailOf(f)))
    // CHECK constraints (round 14): the rewritten rows (∝ touched
    // files) validate before the commit — an UPDATE/MERGE that would
    // land violating rows refuses, files stay vacuum-class orphans
    Io.checkConstraintsFiles(spark, path, base, fresh)
    // the OCC claim serializes racing DML — the loser surfaces a
    // CommitConflictException and Spark fails that statement cleanly
    // (a re-run re-scans fresh state)
    Io.writeCommit(spark, path, nv, base,
      Io.rewrite(spark, path, base, kept, fresh, tag))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    try Io.fsFor(spark, path).delete(
      new org.apache.hadoop.fs.Path(s"$path/data/$tag"), true)
    catch { case _: Throwable => () }
  }
}

/** Round 13: the MERGE-ON-READ row-level operation (`SupportsDelta`,
  * opted in via `graft.dml.mode=mor`) — instead of rewriting touched
  * files (the group-based COW above), Spark plans a WriteDelta: the
  * scan serves each row's ROW ID (`_graft_file`, `_graft_pos` — the
  * positional-DV identity, synthesized by the parquet reader), updates
  * are represented as DELETE + INSERT, and the write lands
  *
  *  - deleted row ids as a fresh dv/ parquet dir of (file, pos)
  *    entries appended to the version's DV dirs, and
  *  - inserted/updated row images as fresh data files,
  *
  * with EVERY prior file carried by reference — a 1-row UPDATE on a
  * 100 TB table writes one DV entry + one row. The scan is
  * DV-filtered (prior deletes can't re-match) and pushes filters to
  * parquet (a delta rewrite reads only MATCHING rows — group rewrites
  * can't, this one can), so the rewrite cost is ∝ matched rows, not
  * touched files. Re-updating an already-updated key works: the first
  * update's fresh row is live, the second update DV-deletes THAT
  * (file, pos) and inserts again — exactly what the retired key-based
  * DV model could not express. OPTIMIZE folds the accumulated DV
  * state back into clean files.
  */
private[graft] class GraftDeltaRowLevelOperation(spark: SparkSession,
    path: String, version: Long, cmd: Command,
    delegateBuilder: org.apache.spark.sql.util.CaseInsensitiveStringMap
      => ScanBuilder)
  extends RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): Command = cmd
  override def description(): String =
    s"graft MOR $cmd $path@v$version"

  // pushdown-forwarding (the delta rewrite wants ONLY matching rows);
  // no runtime group filtering — there are no groups to prune
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftFileScanBuilderPushdown(delegateBuilder(options),
      runtimeFilterable = false)

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build()
          : org.apache.spark.sql.connector.write.DeltaWrite =
        new GraftDeltaWrite(spark, path, version, info.schema(), cmd)
    }

  override def rowId(): Array[NamedReference] =
    Array(RowLevel.fileColRef, RowLevel.posColRef)
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(RowLevel.fileColRef, RowLevel.posColRef)
  override def representUpdateAsDeleteAndInsert(): Boolean = true
}

/** The MOR delta write: tasks stream inserted row images into fresh
  * parquet under `data/<tag>/` and deleted row ids into a fresh
  * `dv/<tag>/` of (file trail, pos) entries; the driver commit lands
  * prior-files-unchanged + fresh inserts, with the new dv dir appended
  * to the carried DV dirs — ONE OCC version, nothing rewritten. */
private[graft] class GraftDeltaWrite(spark: SparkSession, path: String,
    version: Long, writeSchema: StructType, cmd: Command)
  extends org.apache.spark.sql.connector.write.DeltaWrite
  with org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private val nv = version + 1
  private val uid = java.util.UUID.randomUUID().toString.take(8)
  // the STATEMENT MARKER (round 14, round-13 VERDICT #3): the data tag
  // and the dv dir share the statement's uid AND its command letter,
  // so the change feed can pair a MOR UPDATE's DV entries
  // (update_preimage) with its fresh row images (update_postimage)
  // instead of emitting bare delete+insert — Delta's CDF row types.
  // DELETE/MERGE keep their unpaired types (a MERGE's files mix
  // matched updates with NOT-MATCHED inserts — file-granular pairing
  // would lie).
  private val cmdTag = cmd match {
    case Command.UPDATE => "moru"
    case Command.DELETE => "mord"
    case _ => "morm"
  }
  private val dataTag = s"c$nv-$cmdTag-$uid"
  private val dvDir = s"dv/d$nv-$cmdTag-$uid"

  override def toBatch
      : org.apache.spark.sql.connector.write.DeltaBatchWrite = this
  override def description(): String =
    s"graft MOR delta $path v$version->v$nv"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new GraftDeltaWriterFactory(s"$path/data/$dataTag", s"$path/$dvDir",
      GraftParquetConf.forSchema(spark, writeSchema),
      GraftParquetConf.forSchema(spark, GraftDeltaWrite.dvSchema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = messages.collect {
      case GraftDeltaFiles(Some(rel), _) => s"data/$dataTag/$rel"
    }.sorted.toIndexedSeq
    val anyDv = messages.exists {
      case GraftDeltaFiles(_, Some(_)) => true
      case _ => false
    }
    val base = Io.record(spark, path, version)
    // CHECK constraints (round 14): the delta's fresh row images
    // (∝ matched rows) validate before the commit
    Io.checkConstraintsFiles(spark, path, base, fresh)
    Io.writeCommit(spark, path, nv, base,
      Io.rewrite(spark, path, base, base.files, fresh, dataTag)
        .copy(dv = base.dv ++ (if (anyDv) Seq(dvDir) else Seq.empty)))
    // round 14 (round-13 VERDICT #2a): the COW fallback the MOR verbs
    // lacked — files whose LIVE deleted fraction now exceeds
    // `graft.dml.mor.cowFraction` (default 0.2, tableDeleteWhereDv's
    // threshold) are materialized in a follow-up commit that also
    // CONSOLIDATES the surviving DV state, so a bulk MOR delete lands
    // bounded DV payload instead of a table-sized broadcast until a
    // manual OPTIMIZE. Footer-count detection is ∝ #DV-carrying files.
    if (anyDv) {
      val frac = spark.conf.getOption("graft.dml.mor.cowFraction")
        .map(_.toDouble).getOrElse(0.2)
      val floor = spark.conf.getOption("graft.dml.mor.minDvEntries")
        .map(_.toLong).getOrElse(1024L)
      val over = Io.dvOverThresholdFiles(spark, path, nv, frac, floor)
      if (over.nonEmpty) Io.optimizeTableDvFiles(spark, path, over)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = Io.fsFor(spark, path)
    try fs.delete(new org.apache.hadoop.fs.Path(s"$path/data/$dataTag"),
      true)
    catch { case _: Throwable => () }
    try fs.delete(new org.apache.hadoop.fs.Path(s"$path/$dvDir"), true)
    catch { case _: Throwable => () }
  }
}

private[graft] object GraftDeltaWrite {
  val dvSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("f", StringType,
      nullable = false),
    org.apache.spark.sql.types.StructField("p",
      org.apache.spark.sql.types.LongType, nullable = false)))
}

private[graft] case class GraftDeltaFiles(dataRel: Option[String],
    dvRel: Option[String]) extends WriterCommitMessage

private[graft] class GraftDeltaWriterFactory(dataDir: String,
    dvDir: String, dataConf: SerializableConfiguration,
    dvConf: SerializableConfiguration)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaTaskWriter(
      new GraftParquetDataWriter(dataDir,
        f"part-$partitionId%05d-$taskId.snappy.parquet", dataConf.value),
      new GraftParquetDataWriter(dvDir,
        f"part-$partitionId%05d-$taskId.snappy.parquet", dvConf.value))
}

/** Per-task MOR writer: `insert` streams the row image to the data
  * file, `delete` streams the row id — (file trail, position) — to the
  * dv file; `update` (only if Spark ever bypasses the
  * delete-and-insert representation) is exactly both. Files are
  * created lazily, so a task that only deletes lands no data part and
  * vice versa. */
private[graft] class GraftDeltaTaskWriter(
    data: GraftParquetDataWriter, dv: GraftParquetDataWriter)
  extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  // row id layout per GraftDeltaRowLevelOperation.rowId():
  // ordinal 0 = _graft_file (full path), 1 = _graft_pos
  private def writeDelete(id: InternalRow): Unit = {
    val full = id.getUTF8String(0).toString
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(2)
    row.update(0, UTF8String.fromString(Io.trailOf(full)))
    row.setLong(1, id.getLong(1))
    dv.write(row)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    writeDelete(id)
  override def insert(row: InternalRow): Unit = data.write(row)
  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    writeDelete(id); data.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val d = data.commit() match {
      case GraftWrittenFile(rel) => Some(rel)
      case _ => None
    }
    val v = dv.commit() match {
      case GraftWrittenFile(rel) => Some(rel)
      case _ => None
    }
    GraftDeltaFiles(d, v)
  }

  override def abort(): Unit = { data.abort(); dv.abort() }
  override def close(): Unit = { data.close(); dv.close() }
}

private[graft] case class GraftWrittenFile(rel: String)
  extends WriterCommitMessage
private[graft] case object GraftNoFile extends WriterCommitMessage

private[graft] class GraftDataWriterFactory(dir: String,
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(dir,
      f"part-$partitionId%05d-$taskId.snappy.parquet", conf.value)
}

/** Executor-side parquet writer over Spark's own
  * [[ParquetWriteSupport]] (the exact encoder `df.write.parquet`
  * uses, so files are byte-compatible with every other read path).
  * The file is created lazily on the first row — empty partitions
  * land nothing — and rows stream into a HIDDEN attempt-unique temp
  * name (`.<name>.tmp-<uuid>` — Spark's directory reads filter
  * dot-files) that is RENAMED to the final name only at task
  * `commit()` (round 14, round-13 ADVICE medium): a task attempt that
  * dies without `abort()` (executor crash, speculation kill) leaves
  * only an invisible temp, never a partial/corrupt part readable
  * inside a dir a commit references. The commit coordinator
  * guarantees one committed attempt per partition; crash orphans are
  * the vacuum's usual class. */
private[graft] class GraftParquetDataWriter(dir: String, name: String,
    conf: Configuration) extends DataWriter[InternalRow] {

  private val tmpName =
    s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}"
  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = _
  private var closed = false

  private class RowParquetBuilder(p: org.apache.hadoop.fs.Path)
    extends org.apache.parquet.hadoop.ParquetWriter.Builder[
      InternalRow, RowParquetBuilder](p) {
    override def self(): RowParquetBuilder = this
    override def getWriteSupport(c: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  override def write(r: InternalRow): Unit = {
    if (writer == null)
      writer = new RowParquetBuilder(
        new org.apache.hadoop.fs.Path(dir, tmpName))
        .withConf(conf)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
    writer.write(r)
  }

  override def commit(): WriterCommitMessage = {
    if (writer == null) GraftNoFile
    else {
      writer.close(); closed = true
      val tmp = new org.apache.hadoop.fs.Path(dir, tmpName)
      val fin = new org.apache.hadoop.fs.Path(dir, name)
      val fs = tmp.getFileSystem(conf)
      require(fs.rename(tmp, fin),
        s"task commit rename $tmp -> $fin failed")
      GraftWrittenFile(name)
    }
  }

  override def abort(): Unit = {
    try {
      if (writer != null && !closed) { writer.close(); closed = true }
      if (writer != null) {
        val fs = new org.apache.hadoop.fs.Path(dir, tmpName)
          .getFileSystem(conf)
        fs.delete(new org.apache.hadoop.fs.Path(dir, tmpName), false)
        fs.delete(new org.apache.hadoop.fs.Path(dir, name), false)
        ()
      }
    } catch { case _: Throwable => () }
  }

  override def close(): Unit =
    if (writer != null && !closed) { writer.close(); closed = true }
}
