package graft.gates

import java.io.File
import scala.reflect.ClassTag
import graft.{Memo, Tables}
import graft.sources.Io
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one skeleton the io_* and stream_* gate fixtures are built on.
  * It alone decides:
  *  - the directory: a build lands in a directory of its own
  *    ([[fresh]], deleted by a registry clear; [[scratch]], deleted
  *    when the build returns) or in a `_done`-landed one that later
  *    JVMs reuse ([[landed]]);
  *  - the SQL catalog: a [[graft.sources.GraftCatalog]] is bound under a
  *    name taken from the fixture directory ([[catalog]]). Spark keeps
  *    a catalog instance for the session's life, and the instance reads
  *    its warehouse once, so a name shared by two builds would send the
  *    second build's SQL into the first one's directory. The binding,
  *    like the instance, lasts the session's life;
  *  - the other session confs: set only while the build runs, then
  *    each gets back the value it had ([[withConfs]]).
  * The warehouse gates are data ([[Warehouse]]), run by [[warehouse]].
  */
object Fixture {

  /** One fixture per (session, dataset): `build` fills a directory of
    * its own, `<prefix>_<fp>_<n>` (fp: the fingerprint of
    * `dir/events.parquet`; see [[graft.Memo.fresh]]), which the
    * registry holds and a clear deletes. Another session's build of
    * the same gate lands in a directory of its own. */
  def fresh(spark: SparkSession, dir: String, prefix: String)(
      build: String => Unit): String =
    Memo(spark, s"gates.$prefix:$dir", (p: String) => Memo.wipe(new File(p))) {
      val fp = Tables.fingerprint(s"$dir/events.parquet")
      val p = Memo.fresh(s"${prefix}_$fp").toString
      build(p)
      p
    }

  /** The `_done`-landed fixture `<tmpdir>/<prefix>_<fp>` (see
    * [[graft.Memo.landed]]), once per (session, dataset): for output
    * that persists across JVMs, such as a stream's checkpoint and the
    * table it feeds. */
  def landed(spark: SparkSession, dir: String, prefix: String,
      source: String = "events.parquet")(build: String => Unit): String =
    Memo(spark, s"gates.$prefix:$dir") {
      Memo.landed(prefix, Tables.fingerprint(s"$dir/$source"))(
        b => build(b.toString)).toString
    }

  /** `body` given a directory of its own ([[graft.Memo.fresh]]), deleted
    * once `body` returns: for a build whose answer outlives its files,
    * such as a stream drained into a memory sink. */
  def scratch[T](name: String)(body: String => T): T = {
    val d = Memo.fresh(name)
    try body(d.toString) finally Memo.wipe(d)
  }

  /** `body` with each of `confs` set, then restored to the value it
    * had before (or unset, if it had none). */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.reverse.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** The name of a GraftCatalog over `warehouse`, bound in `spark`.
    * The name is the fixture directory's ([[catalogName]]), so no two
    * builds share it. The binding is not undone: Spark's
    * CatalogManager keeps the instance it loads under a name for the
    * session's life, and neither unsetting the conf nor a registry
    * clear drops it, so the confs stay set with it. Each fixture
    * directory thus adds one small catalog to the session. */
  def catalog(spark: SparkSession, fixture: String, warehouse: String): String = {
    val name = catalogName(fixture)
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    name
  }

  /** The catalog name [[catalog]] binds for the fixture directory
    * `fixture`. */
  private def catalogName(fixture: String): String =
    new File(fixture).getName.replaceAll("[^A-Za-z0-9_]", "_")

  /** The mode conf that switches SQL DML to merge-on-read deletion
    * vectors, with the copy-on-write fallback off: the gates that set
    * it pin the pure zero-rewrite path (IoSpec pins the fallback). */
  val mor: Seq[(String, String)] =
    Seq("graft.dml.mode" -> "mor", "graft.dml.mor.cowFraction" -> "1.0")

  /** A table of a bound catalog: its SQL name and its directory. */
  final case class Table(spark: SparkSession, name: String, path: String) {
    def head: DataFrame = spark.table(name)
    def at(v: Long): DataFrame = spark.sql(s"SELECT * FROM $name VERSION AS OF $v")
  }

  /** A gate whose table is built by SQL through a catalog, as data: the
    * `source` view (made from [[centsOf]]), the `sql` statements run
    * in order under `confs`, the invariants the built table `holds`,
    * and the `read` that answers the gate. In a statement, `{t}` is
    * the table `g.ev` of the bound catalog and `{src}` the view. */
  final case class Warehouse(prefix: String, sql: Seq[String],
      read: Table => DataFrame,
      source: DataFrame => DataFrame = identity,
      confs: Seq[(String, String)] = Nil,
      holds: Table => Unit = _ => ())

  /** The [[Warehouse]] gate `w` over the dataset at `dir`, built in a
    * [[fresh]] warehouse whose [[catalog]] stays bound for the read. */
  def warehouse(spark: SparkSession, dir: String, w: Warehouse): DataFrame = {
    def table(wh: String) = Table(spark, s"${catalogName(wh)}.g.ev", s"$wh/g/ev")
    val wh = fresh(spark, dir, w.prefix) { wh =>
      val c = catalog(spark, wh, wh)
      val src = s"${c}_src"
      w.source(centsOf(spark, dir)).createOrReplaceTempView(src)
      try {
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $c.g")
        withConfs(spark, w.confs: _*)(w.sql.foreach(s => spark.sql(
          s.replace("{t}", s"$c.g.ev").replace("{src}", src))))
      } finally spark.catalog.dropTempView(src)
      w.holds(table(wh))
    }
    w.read(table(wh))
  }

  /** The file entries versions `a` and `b` of the table at `t` share:
    * the files one carried to the other by reference. */
  def shared(spark: SparkSession, t: String, a: Long, b: Long): Set[String] =
    Io.commitEntries(spark, t, a).toSet.intersect(Io.commitEntries(spark, t, b).toSet)

  /** The latest version of the commit-log table at `t`. */
  def latest(spark: SparkSession, t: String): DataFrame =
    Io.readTableVersion(spark, t, Io.tableVersion(spark, t))

  /** Whether `body` is refused: it throws an `E`. */
  def refuses[E <: Throwable](body: => Any)(implicit e: ClassTag[E]): Boolean =
    try { body; false }
    catch { case t: Throwable if e.runtimeClass.isInstance(t) => true }

  /** The events as (event_id, [µs epoch `us`,] typ, integer cents) —
    * the projection the commit-log fixtures land. */
  def centsOf(spark: SparkSession, dir: String,
      withUs: Boolean = false): DataFrame = {
    val raw = Tables.eventsRaw(spark, dir)
    raw.select(Seq(col("event_id")) ++
      (if (withUs) Seq(unix_micros(Tables.tsCol(raw)).as("us")) else Nil) ++
      Seq(col("event_type").as("typ"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents")): _*)
  }

  /** The type-clustered layout: 4 files by (typ, event_id) range, so
    * a change to one type touches some files, not all. */
  def clustered(df: DataFrame): DataFrame =
    df.repartitionByRange(4, col("typ"), col("event_id"))

  /** Slice `k` of `df`'s three event_id residues, as one file. */
  def third(df: DataFrame, k: Int): DataFrame =
    df.filter(pmod(col("event_id"), lit(3)) === k).coalesce(1)

  /** Per-type count, cent sum and id bounds — the commit-log gates'
    * read-back aggregate. */
  def typeSummary(df: DataFrame): DataFrame = summaryBy(df)

  /** [[typeSummary]] keyed by `keys` ahead of the type. */
  def summaryBy(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys :+ col("typ"): _*)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))

  /** The [[typeSummary]] of each version `vs` as `read` serves it, keyed
    * `version` ahead of the type. */
  def versions(read: Long => DataFrame, vs: Long*): DataFrame =
    vs.map(v => summaryBy(read(v), lit(v).as("version"))).reduce(_ unionByName _)

  /** The change feed of each transition v→v+1 for `from`, counted and
    * cent-summed per (from_v, change type, typ). */
  def feeds(feed: (Long, Long) => DataFrame, from: Long*): DataFrame =
    from.map(v => countsBy(feed(v, v + 1),
      lit(v).as("from_v"), col("change_type"), col("typ"))).reduce(_ unionByName _)

  /** Row count and cent sum per `keys`. */
  def countsBy(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys: _*).agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
}
