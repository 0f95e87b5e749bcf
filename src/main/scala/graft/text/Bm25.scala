package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F14: BM25 top-k retrieval — the lexical search half of a
  * training-data stack (quality-ranked example selection, hard-negative
  * mining for retrievers, RAG source ranking). The whole scorer is the
  * classic Okapi/Lucene formulation computed as pure column
  * arithmetic over the same inverted shape as the tag index: a
  * (doc, term, tf) postings table, a term→df table, and a tiny
  * query-term table joined against the postings.
  *
  * Determinism across engines AND partitionings: each per-term
  * contribution is quantized to the dyadic 2⁻²⁰ grid before the
  * per-(query, doc) sum (the text_lm_score trick), so the score never
  * depends on aggregation order; ranking orders by that exact
  * quantized double with a zero-padded doc-id string as the tie key
  * (what the bounded-heap TopKAgg's (v desc, a asc) comparator
  * implements natively).
  *
  * Shape at 100 TB: df and the query-term set are vocabulary- and
  * query-bounded (≪ corpus) — both broadcast; the postings stream is
  * touched once with no self-join; per-(query, doc) scoring is one
  * partial-aggregated hash aggregate; top-k rides the bounded heap
  * (≤ k entries per query through the shuffle), so a query with 10⁸
  * matching docs still moves only k rows. No window functions.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75
  val TopK = 10

  /** Queries = first 4 words of every doc_id ≡ 0 (mod 101) document
    * (qid = doc_id): deterministic, derivable by the oracle, and
    * guaranteed non-vacuous (each query's source doc matches itself).
    */
  def topk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    rankPostings(spark, cachedPostings(spark, s"docs:$dir", postings(docs)),
      docs, Some(s"docs:$dir"))
  }

  // Postings memoized per (session, source): every invocation would
  // otherwise cache a fresh copy of the same table (see graft.Memo).
  private def cachedPostings(spark: SparkSession, key: String,
      build: => DataFrame): DataFrame =
    graft.Memo.cached(spark, s"text.bm25:$key")(build)

  /** Corpus-generic form (the scale probe drives the same pipeline
    * over replicated corpora).
    */
  def topkOn(spark: SparkSession, docs: DataFrame): DataFrame =
    rankPostings(spark, postings(docs), docs)

  /** The inverted (doc, term, tf) postings derivation — what
    * [[TermStore]] persists per flushed batch.
    */
  private[graft] def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))

  /** BM25 ranking over an ALREADY-BUILT postings table — shared by the
    * direct path (postings derived in-query) and the stored path
    * (postings loaded from [[TermStore]] segments), so one oracle
    * gates both. `queryDocs` only sources the query-term table.
    */
  private[graft] def rankPostings(spark: SparkSession, tf0: DataFrame,
      queryDocs: DataFrame, memoKey: Option[String] = None): DataFrame = {
    // the postings table is the ONE expensive intermediate — every
    // derived table (dl, df, corpus stats, the scored stream) reads it,
    // so cache it instead of replaying tokenize+aggregate per branch
    // (a no-op when the caller passed a memoized already-cached table)
    val tf = tf0.cache()
    val docs = queryDocs
    // round 15 (optimization, round-14 VERDICT #6): the doc-length and
    // document-frequency tables are INDEX components (∝ docs / ∝
    // vocabulary, the two sidecars every BM25 index persists), not
    // query results — memoize them per postings key so each of the
    // three gated consumers (bm25_topk, ann_hybrid_rrf's lexical arm,
    // the stored/streamed rankings) pays the two aggregates once per
    // session instead of once per invocation. Probe paths with no
    // memo key (ScaleProbe's one-shot corpora) keep deriving live.
    def memod(sub: String)(build: => DataFrame): DataFrame =
      memoKey match {
        case Some(k) => graft.Memo.cached(spark, s"text.bm25_$sub:$k")(build)
        case None => build
      }
    val dl = memod("dl")(tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    // round 14 (optimization): evaluated restricting this df aggregate
    // to the query-term set (semi-join before the groupBy) — measured
    // SLOWER at sf0.1 (1.26 → 1.61 s warm: the extra broadcast barrier
    // + second qterms derivation outweigh the saved full-vocab agg,
    // which runs over the memoized in-memory tf). Left as-is; at true
    // 100 TB vocabulary the restricted form wins and is the documented
    // follow-up (OPTIMIZATION_r14.md).
    val dfreq = memod("df")(tf.groupBy(col("w")).agg(count(lit(1)).as("df")))
    val qterms = docs.filter(pmod(col("doc_id"), lit(101)) === 0)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(split(col("text"), " "), 1, 4))).as("w"))

    // idf/df ride the broadcast query-term table; the big postings
    // stream joins it once (inner join = only candidate docs survive)
    val qidf = qterms
      .join(dfreq, Seq("w"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .select(col("qid"), col("w"), col("idf"), col("n_docs"), col("sum_dl"))

    val scored = tf
      .join(broadcast(qidf), Seq("w"))
      .join(dl, Seq("doc_id"))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
      .withColumn("q", floor(col("contrib") * 1048576 + 0.5) / 1048576)
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("q")).as("sq"))

    scored
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.column(spark, col("sq"),
        lpad(col("doc_id").cast("string"), 8, "0"), col("qid").cast("string"),
        TopK).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("col.a").cast("long").as("doc_id"),
        (floor(col("col.v") * 10000 + 0.5) / 10000).as("score"))
  }

  /** F14b (oracle-gated): BM25 resolved from the MATERIALIZED term
    * store instead of in-query postings — the text-index twin of C9's
    * `match_conj_stored`: the corpus is flushed in two batches,
    * merge-on-read unions the segments, and the identical ranking
    * (and oracle) over them proves flushed postings answer exactly
    * like freshly-derived ones. Documents are immutable, so segments
    * are append-only; the ranking here is served from the COMPACTED
    * store, one merge segment — the same oracle staying green proves
    * the [[TermStore.compact]] merge changes nothing a reader can
    * observe.
    */
  def storedTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // one materialized term store per source dataset, landed across
    // JVMs: reused only whole and in the current segment format
    val path = graft.Memo.global(s"text.termstore:$dir") {
      graft.Memo.landed(s"graft_termstore_${TermStore.Layout}",
          Tables.fingerprint(s"$dir/documents.parquet")) { b =>
        val p = b.toString
        TermStore.flush(docs.filter(pmod(col("doc_id"), lit(2)) === 0), p, 0L)
        TermStore.flush(docs.filter(pmod(col("doc_id"), lit(2)) === 1), p, 1L)
        TermStore.compact(docs.sparkSession, p)
      }.toString
    }
    rankPostings(spark,
      cachedPostings(spark, s"store:$path", TermStore.load(spark, path)),
      docs, Some(s"store:$path"))
  }

  /** Ranking over an arbitrary materialized TermStore (H31's
    * stream-built store) — same memoized-postings + ranking path as
    * [[storedTopk]], `memoKey` namespacing the per-store cache. */
  private[graft] def rankStored(spark: SparkSession, path: String,
      queryDocs: DataFrame, memoKey: String): DataFrame =
    rankPostings(spark,
      cachedPostings(spark, s"store:$memoKey", TermStore.load(spark, path)),
      queryDocs, Some(s"store:$memoKey"))
}

/** LSM-lite store for the BM25 postings, a [[graft.index.SegmentLog]]:
  * one `seg=b<batchId>` parquet segment per flushed document batch,
  * `_SUCCESS`-gated and idempotent (a batch id at or below the store's
  * max ordinal is never rewritten — safe under foreachBatch replay).
  * Append-only because documents are immutable; merge-on-read is the
  * union of the live segments.
  *
  * [[compact]] bounds read amplification: a year of micro-batches
  * would otherwise make every read a million-segment union — the
  * planning cost (file listing + footer fetches) grows ∝ #segments
  * even though the data volume doesn't. A merge commits the union of
  * the live segments as one more segment under their highest batch
  * ordinal and deletes the segments it covers (the reference's
  * try_compact shape); a flush merges on its own once more than
  * [[graft.index.SegmentLog.MaxLive]] segments are live. Replayed
  * flushes of merged batch ids stay no-ops, which is what makes a
  * merge safe under a live foreachBatch ingest loop.
  */
object TermStore {
  import graft.index.SegmentLog

  /** The segment format — (doc_id, w, tf) postings — part of the prefix
    * of stores landed across JVMs, so a store written in an older
    * format is rebuilt, not read. */
  private[graft] val Layout = "dwt"

  def flush(docsBatch: DataFrame, path: String, batchId: Long): Unit = {
    val spark = docsBatch.sparkSession
    val l = SegmentLog.list(spark, path)
    // a batch id at or below the store's max ordinal was already
    // committed — perhaps into a merge — and re-flushing it would
    // double-count the batch's tokens
    if (l.maxOrdinal.forall(batchId > _))
      SegmentLog.append(spark, path, l, SegmentLog.batchSeg(batchId),
        Bm25.postings(docsBatch))(fold(spark, path))
  }

  def load(spark: SparkSession, path: String): DataFrame = {
    val l = SegmentLog.list(spark, path)
    require(l.live.nonEmpty, s"no committed term-store segments at $path")
    fold(spark, path)(l)
  }

  /** Fold the live segments into one merge segment under their max
    * batch ordinal; flushes may run alongside. */
  def compact(spark: SparkSession, path: String): Unit =
    SegmentLog.merge(spark, path)(fold(spark, path))

  private def fold(spark: SparkSession, path: String)(l: SegmentLog.Listing): DataFrame =
    SegmentLog.read(spark, path, l.live).select("doc_id", "w", "tf")
}
