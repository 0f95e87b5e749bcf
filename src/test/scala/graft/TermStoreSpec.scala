package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TermStore segment compaction: a merge commits the union of the
  * live `seg=b*` postings segments as one more segment. The DuckDB
  * gates (`bm25_stored`, `stream_bm25`) prove the compacted store RANKS
  * identically; this spec pins the store mechanics the oracle can't
  * see — merged-view equivalence at the postings level, idempotent
  * re-compaction, the replayed-flush no-op that makes compaction safe
  * under a live ingest loop, and the shapes a crashed merge leaves.
  */
class TermStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val tmp = java.nio.file.Files
    .createTempDirectory("graft_termstore_spec").toString

  private def docs(ids: (Long, String)*) = {
    import spark.implicits._
    ids.toSeq.toDF("doc_id", "text")
  }

  private def postingsSet(path: String): Set[(Long, String, Long)] =
    text.TermStore.load(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def segNames(path: String): Seq[String] =
    new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .map(_.getName).toSeq.sorted

  test("compact folds all committed segments into ONE under the max " +
      "ordinal; the merged view is unchanged; re-compaction is a no-op") {
    val p = s"$tmp/fold"
    text.TermStore.flush(docs(1L -> "a b a", 2L -> "b c"), p, 0L)
    text.TermStore.flush(docs(3L -> "a c c"), p, 1L)
    text.TermStore.flush(docs(4L -> "d"), p, 2L)
    val before = postingsSet(p)
    assert(segNames(p) == Seq("seg=b0", "seg=b1", "seg=b2"))
    text.TermStore.compact(spark, p)
    assert(segNames(p) == Seq("seg=b2m1"), "one segment, max ordinal")
    assert(postingsSet(p) == before, "merged view must be unchanged")
    // idempotent: a second compact leaves the store as-is
    text.TermStore.compact(spark, p)
    assert(segNames(p) == Seq("seg=b2m1") && postingsSet(p) == before)
  }

  test("a replayed flush of a compacted-away batch id is a NO-OP — " +
      "compaction is safe under foreachBatch redelivery") {
    val p = s"$tmp/replay"
    text.TermStore.flush(docs(1L -> "x y"), p, 0L)
    text.TermStore.flush(docs(2L -> "y z"), p, 1L)
    text.TermStore.compact(spark, p) // seg=b0 and seg=b1 merged into seg=b1m1
    val after = postingsSet(p)
    // the checkpoint replays batch 0: its segment is gone, but its
    // tokens are in the merge — re-flushing would double-count
    text.TermStore.flush(docs(1L -> "x y"), p, 0L)
    assert(segNames(p) == Seq("seg=b1m1"))
    assert(postingsSet(p) == after)
    // a genuinely NEW batch id still lands
    text.TermStore.flush(docs(3L -> "w"), p, 2L)
    assert(segNames(p) == Seq("seg=b1m1", "seg=b2"))
    assert(postingsSet(p) == after + ((3L, "w", 1L)))
  }

  private def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs(); from.listFiles().foreach(f => copyTree(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  test("crash shapes: an uncommitted merge is ignored and overwritten; " +
      "a committed merge's covered leftovers read as deleted") {
    val p = s"$tmp/crash"
    text.TermStore.flush(docs(1L -> "q r"), p, 0L)
    text.TermStore.flush(docs(2L -> "r s"), p, 1L)
    val before = postingsSet(p)
    // a merge that died mid-write: the next merge's name, foreign
    // postings, no _SUCCESS
    docs(9L -> "zz").write.parquet(s"$p/seg=b1m1")
    assert(new java.io.File(s"$p/seg=b1m1/_SUCCESS").delete())
    assert(postingsSet(p) == before)
    val flushed = new java.io.File(s"$tmp/crash_flushed")
    copyTree(new java.io.File(p), flushed)
    text.TermStore.compact(spark, p)
    assert(segNames(p) == Seq("seg=b1m1") && new java.io.File(s"$p/seg=b1m1/_SUCCESS").exists())
    assert(postingsSet(p) == before)
    // a merge that committed and died before deleting what it covers
    for (s <- Seq("seg=b0", "seg=b1"))
      copyTree(new java.io.File(flushed, s), new java.io.File(p, s))
    assert(postingsSet(p) == before)
    text.TermStore.compact(spark, p)
    assert(segNames(p) == Seq("seg=b1m1"), "the next compact deletes the covered leftovers")
    assert(postingsSet(p) == before)
  }

  test("the stored BM25 path rebuilds a landed term store left without " +
      "its _done marker") {
    // a dataset of its own: no other run's store or memo entry is shared
    val dir = s"$tmp/landed_src"
    docs((0L until 12L).map(i => i -> s"w${i % 3} w${i % 5} x"): _*)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val base = graft.Memo.tmp(s"graft_termstore_${text.TermStore.Layout}_" +
      Tables.fingerprint(s"$dir/documents.parquet"))
    try {
      // a half-built store: one committed segment under the last batch
      // id the build flushes, foreign postings, no _done marker
      text.TermStore.flush(docs(0L -> "zz zz zz"), base.toString, 1L)
      assert(!new java.io.File(base, "_done").exists())
      val stored = text.Bm25.storedTopk(spark, dir).collect().toSet
      assert(stored.nonEmpty && stored == text.Bm25.topk(spark, dir).collect().toSet)
      assert(new java.io.File(base, "_done").exists())
    } finally graft.Memo.wipe(base)
  }
}
