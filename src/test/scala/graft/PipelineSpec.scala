package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-checks between the data-pipeline operators (dedup, similarity,
  * multimodal) that the DuckDB oracle can't express.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("F33: BPE round-1 merge is the bpe_pairs top pair; encoding " +
      "strictly compresses and never exceeds the char count") {
    val merges = text.TextAnalysis.bpeTrain(spark, dir)
    assert(merges.size == 8)
    // the first training round picks F23's top pair (the trainer's
    // min-count floor drops hapax words, so its COUNT is ≤ the
    // unfloored pair table's — the pair itself must agree)
    val top = SparkEntry.queries("bpe_pairs")(spark, dir)
      .filter(col("rk") === 1).collect()(0)
    assert(merges.head._1 + merges.head._2 == top.getString(1),
      s"round-1 merge ${merges.head} != bpe_pairs rk1 ${top}")
    assert(merges.head._3 <= top.getLong(2))
    // the driver-bounding hapax floor does not change what is LEARNED
    // on this corpus: same merge sequence with or without it (counts
    // shift by the dropped singletons only)
    val unfloored = text.TextAnalysis.bpeTrain(spark, dir, minCount = 1L)
    assert(merges.map(m => (m._1, m._2)) ==
      unfloored.map(m => (m._1, m._2)),
      s"floor changed the learned merges: $merges vs $unfloored")
    // a later merge must fuse a token built by an earlier one (the
    // second-order behavior that distinguishes BPE from pair stats)
    assert(merges.exists { case (f, t, _) => f.length > 1 || t.length > 1 },
      s"no second-order merge in $merges")
    val enc = SparkEntry.queries("bpe_encode")(spark, dir).cache()
    try {
      assert(enc.filter(col("n_tokens") > col("n_chars_tok")).count() == 0)
      assert(enc.filter(col("n_tokens") < col("n_chars_tok")).count() > 0,
        "8 merges compressed nothing")
    } finally enc.unpersist()
  }

  test("round-15 BPE model memo: one train per (session, dataset, params)") {
    // The learned merge table is memoized like the IVF centroids —
    // repeat invocations must return the SAME pinned model instance
    // (no re-train), and distinct params must train distinct models.
    val a = text.TextAnalysis.bpeTrain(spark, dir)
    val b = text.TextAnalysis.bpeTrain(spark, dir)
    assert(a eq b, "repeat bpeTrain re-trained instead of memo hit")
    val unfloored = text.TextAnalysis.bpeTrain(spark, dir, minCount = 1L)
    assert(!(a eq unfloored), "distinct params must not share a memo slot")
    assert(a.size == 8 && a == b)
  }

  test("minhash LSH output equals exact ngram jaccard pairs (full recall here)") {
    val exact = dedup.Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = dedup.Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("containment finds every planted snippet at cr = 1 (recall 1)") {
    import spark.implicits._
    val planted = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(17)) === 0 &&
        size(split(col("text"), " ")) >= 5)
      .select(col("doc_id")).as[Long].collect().toSet
    val found = dedup.Dedup.containment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every snippet (id + 2e6) must be reported contained in its source
    // doc with a full-containment ratio — the prefix filter lost nothing
    val hits = found.collect {
      case (ia, ib, cr) if ia >= 2000000L && ia - 2000000L == ib => (ib, cr)
    }.toMap
    assert(planted.forall(d => hits.get(d).contains(1.0)),
      s"missing/partial snippets: ${planted.filterNot(d => hits.get(d).contains(1.0))}")
  }

  test("simhash near-dup pairs cover the highest-jaccard pairs") {
    val exact = dedup.Dedup.ngramJaccard(spark, dir)
      .filter(col("j") >= 0.97).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = dedup.Dedup.simhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(sim),
      s"simhash missed high-jaccard pairs: ${exact -- sim}")
  }

  test("LSH ANN cosines agree with brute force for shared pairs") {
    val bf = similarity.Ann.bruteforceTopk(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val lsh = similarity.Ann.lshTopk(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    assert(lsh.nonEmpty)
    lsh.foreach { case (k, cs) =>
      bf.get(k).foreach(bfCs => assert(bfCs == cs, s"cosine mismatch at $k"))
    }
  }

  test("LSH ANN finds planted near-duplicate neighbors (recall >= 0.9)") {
    // the operator's contract is near-dup retrieval; the shipped
    // embeddings table has no planted neighbors (max cosine ~0.5), so
    // recall is pinned on a seeded planted-cluster dataset instead
    import spark.implicits._
    val rnd = new scala.util.Random(123456789L)
    val base = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextGaussian()).toFloat)))
    // ids 1000+i are near-copies of base i (small perturbation)
    val planted = (0 until 50).map { i =>
      val src = base(i)._2
      ((1000 + i).toLong, src.map(x => x + (rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = similarity.Ann.withNorm(spark,
      (base ++ planted).toDF("vec_id", "v"))
    val lsh = similarity.Ann.lshTopkOn(df, org.apache.spark.sql.functions.col("vec_id") >= 1000)
      .filter(col("rk") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val hits = (0 until 50).count(i => lsh.get((1000 + i).toLong).contains(i.toLong))
    assert(hits >= 45, s"planted-neighbor top-1 recall $hits/50")
  }

  test("IVF ANN finds planted near-duplicate neighbors (recall >= 0.9)") {
    // same planted-cluster contract as the LSH spec: a near-copy and
    // its source must land in the same (or a probed) k-means cell
    import spark.implicits._
    val rnd = new scala.util.Random(123456789L)
    val base = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextGaussian()).toFloat)))
    val planted = (0 until 50).map { i =>
      val src = base(i)._2
      ((1000 + i).toLong, src.map(x => x + (rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = similarity.Ann.withNorm(spark,
      (base ++ planted).toDF("vec_id", "v"))
    val ivf = similarity.Ann.ivfTopkOn(df, col("vec_id") >= 1000)
      .filter(col("rk") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val hits = (0 until 50).count(i => ivf.get((1000 + i).toLong).contains(i.toLong))
    assert(hits >= 45, s"planted-neighbor top-1 IVF recall $hits/50")
  }

  private def jobsOf(body: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.GraftTestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("keyless IVF search trains its centroids once per call") {
    import spark.implicits._
    val rnd = new scala.util.Random(987654321L)
    val df = similarity.Ann.withNorm(spark, (0 until 120).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))).toDF("vec_id", "v"))
    val isQuery = col("vec_id") < 3
    def search(iters: Int) = jobsOf(
      similarity.Ann.ivfTopkOn(df, isQuery, iters = iters).collect())
    def train(iters: Int) = jobsOf(similarity.Ann.trainIvfCentroidsNow(
      similarity.Ann.unitize(df), 16, iters, 64))
    val perRound = train(2) - train(1)
    assert(perRound >= 1)
    // one more Lloyd round costs one round of training jobs: training
    // running twice per call (search + cell assignment) cost two
    assert(search(4) - search(3) == perRound)
  }

  test("PQ ANN finds planted near-duplicate neighbors (recall >= 0.9)") {
    // same planted-cluster contract as the LSH/IVF specs: a near-copy's
    // reconstruction must score its source into the candN candidates
    import spark.implicits._
    val rnd = new scala.util.Random(123456789L)
    val base = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextGaussian()).toFloat)))
    val planted = (0 until 50).map { i =>
      val src = base(i)._2
      ((1000 + i).toLong, src.map(x => x + (rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = similarity.Ann.withNorm(spark,
      (base ++ planted).toDF("vec_id", "v"))
    val pq = similarity.Ann.pqTopkOn(df, col("vec_id") >= 1000, candN = 64)
      .filter(col("rk") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val hits = (0 until 50).count(i => pq.get((1000 + i).toLong).contains(i.toLong))
    assert(hits >= 45, s"planted-neighbor top-1 PQ recall $hits/50")
  }

  test("IVF-PQ ANN finds planted near-duplicate neighbors (recall >= 0.9)") {
    // the composed pipeline: the near-copy's cell must be probed AND
    // its source's ADC score must survive the candN cut
    import spark.implicits._
    val rnd = new scala.util.Random(123456789L)
    val base = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextGaussian()).toFloat)))
    val planted = (0 until 50).map { i =>
      val src = base(i)._2
      ((1000 + i).toLong, src.map(x => x + (rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = similarity.Ann.withNorm(spark,
      (base ++ planted).toDF("vec_id", "v"))
    val ivfpq = similarity.Ann.ivfPqTopkOn(df, col("vec_id") >= 1000)
      .filter(col("rk") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val hits = (0 until 50).count(i => ivfpq.get((1000 + i).toLong).contains(i.toLong))
    assert(hits >= 45, s"planted-neighbor top-1 IVF-PQ recall $hits/50")
  }

  test("quantized-ANN ladder: at candN <= 0 every rung is brute force; " +
      "a positive candN cuts candidates best-first") {
    // the synthetic planted corpus of the recall specs above
    import spark.implicits._
    val rnd = new scala.util.Random(123456789L)
    val base = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextGaussian()).toFloat)))
    val planted = (0 until 50).map { i =>
      val src = base(i)._2
      ((1000 + i).toLong, src.map(x => x + (rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = similarity.Ann.unitize(similarity.Ann.withNorm(spark,
      (base ++ planted).toDF("vec_id", "v"))).cache()
    try {
      val isQuery = col("vec_id") >= 1000
      def rungs(candN: Int) = Seq(
        "sq8" -> similarity.Ann.sq8TopkOn(df, isQuery, candN),
        "mrl" -> similarity.Ann.mrlTopkOn(df, isQuery, d0 = 16, candN = candN),
        "bq" -> similarity.Ann.bqTopkOn(df, isQuery, candN = candN),
        "pq" -> similarity.Ann.pqTopkOn(df, isQuery, candN = candN),
        "ivfpq" -> similarity.Ann.ivfPqTopkOn(df, isQuery, nprobe = 16,
          candN = candN))
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val bf = rows(similarity.Ann.bruteforceTopkOn(df, isQuery))
      assert(bf.size == 50 * 5)
      for ((name, d) <- rungs(0))
        assert(rows(d) == bf, s"$name at candN = 0 differs from brute force")
      for ((name, d) <- rungs(2)) {
        val got = rows(d)
        assert(got.groupBy(_._1).values.forall(_.size <= 2),
          s"$name at candN = 2 kept more than 2 candidates for a query")
        // best-first: the planted twin survives the cut and ranks first
        val hits = (0 until 50).count(i =>
          got.contains(((1000 + i).toLong, 1, i.toLong, bf.collectFirst {
            case (q, 1, n, cs) if q == 1000 + i => cs }.getOrElse(-1.0))))
        assert(hits >= 45, s"$name at candN = 2: planted top-1 $hits/50")
      }
    } finally df.unpersist()
  }

  test("frame sampling takes every 4th frame") {
    val rows = multimodal.Multimodal.frameSample(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nf, ns) = (r.getInt(1), r.getInt(2))
      assert(ns == (nf + 3) / 4, s"doc ${r.getLong(0)}: $nf frames, $ns sampled")
    }
  }

  test("multimodal pipeline emits one feature row per document") {
    val nDocs = Tables.documents(spark, dir).count()
    val feats = multimodal.Multimodal.pipeline(spark, dir)
    assert(feats.count() == nDocs)
    assert(feats.filter(col("n_bytes") <= 0).count() == 0)
    // deterministic stub: same input → same features
    val a = feats.orderBy("doc_id").collect().toSeq
    val b = multimodal.Multimodal.pipeline(spark, dir).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("mm corpus is single-byte text (byte-wise vs char-wise oracle parity)") {
    // mediaTable's documented ASCII contract: the integrity/audio oracles
    // iterate characters in DuckDB while Spark checksums UTF-8 bytes, so
    // every payload must encode 1 byte per char on this corpus
    val offenders = multimodal.Multimodal.mediaTable(spark, dir)
      .join(Tables.documents(spark, dir), Seq("doc_id"))
      .filter(length(col("payload")) =!= col("n_chars"))
      .count()
    assert(offenders == 0, s"$offenders documents have multi-byte characters")
  }

  test("mm pointer path: payloads dereferenced from the object store, not inline") {
    import spark.implicits._
    val ptrs = multimodal.Multimodal.pointerTable(spark, dir)
    // the pointer table truly carries no payload bytes
    assert(ptrs.collect().forall(m => m.payload.isEmpty && m.uri.startsWith("file://")))
    // fetch restores byte-identical payloads
    val fetched = multimodal.Multimodal.fetchPayloads(ptrs)
      .collect().map(m => m.doc_id -> m.payload.toSeq).toMap
    val inline = multimodal.Multimodal.mediaTable(spark, dir)
      .collect().map(m => m.doc_id -> m.payload.toSeq).toMap
    assert(fetched == inline && inline.nonEmpty)
  }

  test("Caches.clear evicts session memos; queries still answer after") {
    // warm a memo, clear, re-run: same answer, no stale persisted state
    val before = index.IndexQueries.matchEq(spark, dir).count()
    Caches.clear()
    val after = index.IndexQueries.matchEq(spark, dir).count()
    assert(before == after && after > 0)
  }

  test("Caches.clear drops the driver-side BPE merge tables") {
    def bpeModels = Memo.keys(spark).filter(_.startsWith("text.bpe_model:"))
    text.TextAnalysis.bpeTrain(spark, dir)
    assert(bpeModels.nonEmpty)
    Caches.clear()
    assert(bpeModels.isEmpty)
  }

  test("pipelineWith accepts a custom decoder behind the MediaDecoder trait") {
    val constant = new multimodal.Multimodal.MediaDecoder {
      override def decode(items: Iterator[multimodal.MediaItem]) =
        items.map(m => multimodal.MediaFeatures(m.doc_id, 1L, 0.0, 0.0, Array(0.0, 0.0)))
    }
    val out = multimodal.Multimodal.pipelineWith(spark, dir, constant)
    assert(out.select("n_bytes").distinct().count() == 1)
  }
}
