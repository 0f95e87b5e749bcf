package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The segment log under graft's three LSM stores — [[IndexStore]],
  * [[graft.text.TermStore]] and the streaming materialized view
  * ([[graft.streaming.StreamOps.streamMvMaintain]]). A store is a
  * directory of immutable segment directories, each one Spark parquet
  * write that its `_SUCCESS` marker commits; a directory without the
  * marker (a crash mid-write) counts for nothing and is overwritten by
  * the retry.
  *
  *  - A flushed segment is `seg=<wm_ns>` (time family: an exclusive
  *    ingest-time watermark) or `seg=b<id>` (batch family: a
  *    micro-batch id). The number is the segment's ordinal, monotone
  *    over the store's life.
  *  - A merge is one more segment, `seg=<k>m<g>` or `seg=b<k>m<g>`: the
  *    fold of the live segments of one listing, covering every ordinal
  *    ≤ k, the listing's max. `g` numbers the store's merges, so a
  *    merge never rewrites a committed one of the same k.
  *  - The live set, all a reader reads, is the newest committed merge
  *    and the flushed segments with ordinal > its k.
  *
  * A merge commits, then deletes the segments it covers and the
  * tombstones of its listing. Nothing is swapped or renamed — the
  * reference's copy-on-write tree publishing a new root: a crash
  * mid-merge leaves an uncommitted directory nobody reads, a crash
  * before the deletes leaves covered segments nobody reads (the next
  * merge deletes both), and a flush (ordinal > k) never conflicts with
  * a merge. Merges in one JVM run one at a time; a store has one
  * merging JVM.
  *
  * Each store supplies its fold (what a merge writes) and keeps its own
  * replay policy for a flush of an ordinal it already holds.
  */
private[graft] object SegmentLog {

  /** Live segments a flush may leave before its append merges. */
  val MaxLive = 8

  def timeSeg(wmNs: Long): String = s"seg=$wmNs"
  def batchSeg(id: Long): String = s"seg=b$id"

  def isBatch(seg: String): Boolean = seg.startsWith("seg=b")
  private def isMerge(seg: String): Boolean = seg.contains('m')

  /** A segment's ordinal: the watermark or batch id it was flushed
    * under, or the k a merge covers. */
  def ordinal(seg: String): Long =
    seg.stripPrefix("seg=").stripPrefix("b").takeWhile(_.isDigit).toLong

  private def generation(seg: String): Long =
    if (isMerge(seg)) seg.substring(seg.indexOf('m') + 1).toLong else 0L

  /** One listing of a store: its committed segments and tombstones
    * (`del=<n>`, [[IndexStore.deleteSeries]]), and every segment
    * directory, committed or not. */
  final case class Listing(segs: Seq[String], dels: Seq[String], dirs: Seq[String]) {
    private val newestMerge =
      segs.filter(isMerge).maxByOption(s => (ordinal(s), generation(s)))

    /** What a reader reads: the newest merge and the flushed segments
      * past it, by ordinal. */
    val live: Seq[String] = (newestMerge.toSeq ++ segs.filter(s =>
      !isMerge(s) && newestMerge.forall(m => ordinal(s) > ordinal(m)))).sortBy(ordinal)

    def maxOrdinal: Option[Long] = live.map(ordinal).maxOption

    /** The name of the next tombstone. */
    def nextTombstone: String =
      s"del=${dels.map(_.stripPrefix("del=").toLong).maxOption.getOrElse(-1L) + 1L}"
  }

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def list(spark: SparkSession, path: String): Listing = {
    val f = fs(spark, path)
    val dirs =
      try f.listStatus(new Path(path)).filter(_.isDirectory).map(_.getPath).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    def committed(prefix: String) = dirs.filter(d =>
      d.getName.startsWith(prefix) && f.exists(new Path(d, "_SUCCESS"))).map(_.getName)
    Listing(committed("seg="), committed("del="),
      dirs.map(_.getName).filter(_.startsWith("seg=")))
  }

  /** The segments `segs` of the store at `path` as one frame, with the
    * segment name as partition column `seg`. */
  def read(spark: SparkSession, path: String, segs: Seq[String]): DataFrame =
    spark.read.option("basePath", path).parquet(segs.map(s => s"$path/$s"): _*)

  /** Commit `rows` as directory `name` of the store (a segment or a
    * tombstone); an uncommitted leftover of that name is overwritten. */
  def write(rows: DataFrame, path: String, name: String): Unit =
    rows.write.mode("overwrite").parquet(s"$path/$name")

  /** Commit `rows` as segment `seg` of the store `l` was listed from,
    * then merge when that leaves more than [[MaxLive]] segments live.
    * The count comes from `l`, so an append that does not merge makes
    * no filesystem call beyond its write. */
  def append(spark: SparkSession, path: String, l: Listing, seg: String,
      rows: DataFrame)(fold: Listing => DataFrame): Unit = {
    write(rows, path, seg)
    if ((l.live :+ seg).distinct.size > MaxLive) merge(spark, path)(fold)
  }

  private object Merging

  /** Fold the live segments of one fresh listing into one merge
    * segment covering every ordinal ≤ k, the max among them, then
    * delete the listing's tombstones and every segment directory the
    * merge covers. A single live segment with no tombstones is not
    * rewritten; the directories its merge covers are still deleted. */
  def merge(spark: SparkSession, path: String)(fold: Listing => DataFrame): Unit =
    Merging.synchronized {
      val l = list(spark, path)
      val top =
        if (l.live.size > 1 || (l.live.nonEmpty && l.dels.nonEmpty)) {
          require(l.live.map(isBatch).distinct.size == 1,
            s"store at $path mixes time-watermark and batch-id segments; " +
              "a merge cannot give them one ordinal")
          val seg = s"seg=${if (isBatch(l.live.head)) "b" else ""}" +
            s"${l.maxOrdinal.get}m${l.segs.map(generation).max + 1L}"
          write(fold(l), path, seg)
          Some(seg)
        } else l.live.find(isMerge)
      top.foreach { seg =>
        val f = fs(spark, path)
        (l.dirs.filter(s => s != seg && ordinal(s) <= ordinal(seg)) ++ l.dels)
          .foreach(d => f.delete(new Path(path, d), true))
      }
    }
}
