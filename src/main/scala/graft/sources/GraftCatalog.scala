package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, StagedTable, StagingTableCatalog, SupportsNamespaces, Table, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Round 12: a DataSourceV2 CATALOG PLUGIN — commit-log tables as
  * first-class SQL identifiers:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  *   // then, pure SQL:
  *   CREATE NAMESPACE graft.db
  *   CREATE TABLE graft.db.events (event_id BIGINT, typ STRING)
  *   INSERT INTO graft.db.events SELECT ...    -- OCC commit (v0 creates)
  *   SELECT count(*) FROM graft.db.events      -- GraftTable scan
  *   DELETE FROM graft.db.events WHERE ...     -- COW / DV commit
  *   DROP TABLE graft.db.events
  * }}}
  *
  * Identifiers map onto the warehouse filesystem —
  * `graft.a.b.t` → `<warehouse>/a/b/t` — and every verb lands on the
  * SAME machinery as the path-based surfaces: loadTable resolves
  * through [[GraftTables.forPath]] (so time travel options, DV
  * merge-on-read scans, the DELETE translation and the V1Write→OCC
  * append all behave identically across `format("graft")`, the
  * `graft_table` TVF and the catalog), CREATE persists the declared
  * schema in a `_schema` declaration that bridges the
  * create→first-insert window (v0's commit record takes it over), and
  * DROP/RENAME are filesystem-atomic at metadata scale. `alterTable`
  * refuses — schema evolution is an append-time property of the log
  * (I24 mergeSchema), not an in-place mutation.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active
  private def fs = Io.fsFor(spark, warehouse)
  private def hp(parts: Seq[String]) =
    new org.apache.hadoop.fs.Path((warehouse +: parts).mkString("/"))
  private def tablePath(ident: Identifier): String =
    (warehouse +: (ident.namespace.toSeq :+ ident.name)).mkString("/")
  private def isTable(p: String): Boolean = {
    val f = Io.fsFor(spark, p)
    f.exists(new org.apache.hadoop.fs.Path(p, "_commits")) ||
      f.exists(new org.apache.hadoop.fs.Path(p, "_schema"))
  }

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      sys.error(s"catalog $name needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = hp(namespace.toSeq)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir)
      .filter(st => st.isDirectory && isTable(st.getPath.toString))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val p = tablePath(ident)
    if (!isTable(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    GraftTables.forPath(spark, p, CaseInsensitiveStringMap.empty())
  }

  /** SQL time travel (round 12): `SELECT ... FROM cat.ns.t VERSION AS
    * OF 3` — Spark's parser routes the clause here; the version string
    * feeds the same `versionAsOf` resolution as `format("graft")`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = tablePath(ident)
    if (!isTable(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    GraftTables.forPath(spark, p, new CaseInsensitiveStringMap(
      java.util.Collections.singletonMap("versionAsOf", version)))
  }

  /** SQL `TIMESTAMP AS OF`: Spark hands the pinned instant in
    * MICROseconds (the TableCatalog contract); the commit-mtime cut
    * resolution is shared with the `timestampAsOf` reader option. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = tablePath(ident)
    if (!isTable(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    GraftTables.forPath(spark, p, new CaseInsensitiveStringMap(
      java.util.Collections.singletonMap(
        "timestampAsOf", (timestamp / 1000L).toString)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables do not take partition transforms (layout is a " +
        "write-time property: repartitionByRange + commit stats)")
    val p = tablePath(ident)
    if (isTable(p))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException((ident.namespace.toSeq :+ ident.name))
    fs.mkdirs(new org.apache.hadoop.fs.Path(p))
    Io.declare(spark, p, schema)
    new GraftEmptyTable(spark, p, schema)
  }

  /** Atomic CTAS (round 12): `CREATE TABLE cat.ns.t AS SELECT ...` —
    * Spark stages the create here, writes the SELECT through the
    * staged table's V1Write (data lands invisible), and only
    * `commitStagedChanges` makes the table exist (v0 through the OCC
    * claim — racing CTAS serialize, failed writes leave no table). */
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    require(info.partitions.isEmpty,
      "graft tables do not take partition transforms (layout is a " +
        "write-time property: repartitionByRange + commit stats)")
    val p = tablePath(ident)
    if (isTable(p))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException((ident.namespace.toSeq :+ ident.name))
    new GraftStagedTable(spark, p, info.schema)
  }

  /** REPLACE TABLE ... AS SELECT (round 12): the staged replace
    * commits the new cut as `head+1` listing ONLY the fresh files —
    * on the append-only log a replace is one more version, every
    * pre-replace cut stays readable via VERSION AS OF. Readers keep
    * serving the old head until the commit rename lands. */
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    require(info.partitions.isEmpty,
      "graft tables do not take partition transforms")
    val p = tablePath(ident)
    if (!isTable(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    new GraftStagedTable(spark, p, info.schema,
      replaceOf = Some(Io.tableVersion(spark, p)))
  }

  /** CREATE OR REPLACE TABLE ... AS SELECT: create semantics when the
    * identifier is free, replace semantics when it exists. */
  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable = {
    val p = tablePath(ident)
    if (isTable(p)) stageReplace(ident, info) else stageCreate(ident, info)
  }

  /** ALTER TABLE ADD COLUMN (round 13): the one schema mutation the
    * append-only log supports losslessly — the declared schema gains
    * the (nullable, top-level) column, HEAD reads serve it with
    * pre-evolution rows null-backfilled (the I24 mergeSchema semantics
    * through the catalog), and later INSERTs carry it physically.
    * Pinned `VERSION AS OF` reads keep their own era's schema (the
    * declared schema applies to HEAD only — see [[GraftTables.forPath]]).
    * Everything else (drop/rename/type change) keeps refusing: those
    * would rewrite history.
    *
    * Round 14 (round-13 VERDICT #5): the evolution lands as a
    * CLAIM-SERIALIZED COMMIT ([[Io.commitSchemaChange]] — one more
    * version with the same file list and the evolved schema in its
    * record), so two racing ALTERs — or an ALTER racing a
    * REPLACE/INSERT — serialize at the version claim: one wins, the
    * loser gets a catchable CommitConflictException against its stale
    * base, never an interleaved schema. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!isTable(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    // round 14: SET/UNSET TBLPROPERTIES land as claim-serialized
    // commits of the record's properties (Delta's table properties)
    val (propCh, rest) = changes.partition(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])
    require(rest.forall(c => c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType]),
      "only ALTER TABLE ADD COLUMN, ALTER COLUMN ... TYPE (widening) " +
        "and SET/UNSET TBLPROPERTIES are supported: schema evolution " +
        "is an append-time property of the commit log (I24) — " +
        "drop/rename/narrowing changes would rewrite history")
    val sets = propCh.collect {
      case s: TableChange.SetProperty => s.property -> s.value }
    val unsets = propCh.collect {
      case r: TableChange.RemoveProperty => r.property }
    if (sets.nonEmpty) Io.tableSetProperties(spark, p, sets)
    if (unsets.nonEmpty) Io.tableUnsetProperties(spark, p, unsets)
    if (rest.nonEmpty) {
      val basedOn = Io.tableVersion(spark, p)
      val cur = Io.baseOf(spark, p, basedOn + 1).schema.getOrElse(
        GraftTables.forPath(spark, p, CaseInsensitiveStringMap.empty())
          .schema())
      val next = rest.foldLeft(cur) {
        case (sch, a: TableChange.AddColumn) =>
          require(a.fieldNames().length == 1,
            "nested ADD COLUMN is not supported")
          val name = a.fieldNames()(0)
          require(!sch.fieldNames.contains(name),
            s"column $name already exists")
          require(a.isNullable,
            "added columns must be NULLABLE — pre-evolution rows " +
              "null-backfill (there is no default-value rewrite)")
          sch.add(name, a.dataType(), nullable = true)
        // round 14: TYPE WIDENING (Delta's type widening) — a
        // metadata-only change: Spark 4's parquet readers upcast
        // narrower physical types at scan time, so pre-widening
        // files serve unrewritten through the declared schema while
        // pinned versions keep their era; narrowing (or any
        // non-widening change) refuses — it would corrupt history
        case (sch, u: TableChange.UpdateColumnType) =>
          require(u.fieldNames().length == 1,
            "nested ALTER COLUMN is not supported")
          val name = u.fieldNames()(0)
          val i = sch.fieldNames.indexOf(name)
          require(i >= 0, s"no column $name to alter")
          val from = sch.fields(i).dataType
          val to = u.newDataType()
          require(GraftCatalog.widens(from, to),
            s"ALTER COLUMN $name: ${from.simpleString} -> " +
              s"${to.simpleString} is not a widening — only " +
              "byte/short/int -> wider integral and float -> double " +
              "are metadata-only (anything else would rewrite " +
              "history)")
          org.apache.spark.sql.types.StructType(
            sch.fields.updated(i, sch.fields(i).copy(dataType = to)))
        case (_, other) =>
          sys.error(s"unsupported ALTER change $other")
      }
      Io.commitSchemaChange(spark, p, basedOn, next)
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTable(p)) false
    else fs.delete(new org.apache.hadoop.fs.Path(p), true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    require(isTable(from), s"no table $oldIdent")
    require(!isTable(tablePath(newIdent)),
      s"rename target $newIdent already exists")
    fs.mkdirs(hp(newIdent.namespace.toSeq))
    require(fs.rename(new org.apache.hadoop.fs.Path(from),
      new org.apache.hadoop.fs.Path(tablePath(newIdent))),
      s"rename $oldIdent -> $newIdent failed")
  }

  // ---- namespaces (directories) ----

  override def listNamespaces(): Array[Array[String]] = {
    val root = new org.apache.hadoop.fs.Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root)
      .filter(st => st.isDirectory && !isTable(st.getPath.toString))
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    val dir = hp(namespace.toSeq)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir)
      .filter(st => st.isDirectory && !isTable(st.getPath.toString))
      .map(st => namespace :+ st.getPath.getName)
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] = {
    if (!fs.exists(hp(namespace.toSeq)))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace.toSeq)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    fs.mkdirs(hp(namespace.toSeq))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    sys.error("namespace properties are not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val dir = hp(namespace.toSeq)
    if (!fs.exists(dir)) false
    else {
      require(cascade || fs.listStatus(dir).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(dir, true)
    }
  }
}

object GraftCatalog {
  import org.apache.spark.sql.types._

  /** The metadata-only type widenings Spark 4's parquet readers
    * upcast at scan time (SPARK-40876): narrower integrals to wider
    * ones and float to double. Everything else needs a rewrite. */
  private[graft] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
}
