package graft.similarity

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the embedding column (SURVEY.md §2.E).
  *
  * E1 brute-force is the exactness baseline: broadcast the (small)
  * query set against the corpus scan — at 100 TB this is one pass over
  * the vectors with no shuffle except the final per-query top-k.
  * E2 is the scale path: random-hyperplane LSH buckets bound the
  * candidate set; comparisons are bucket-local.
  */
object Ann {

  /** Embeddings kept as array<float> end-to-end — vec_dot widens to
    * double inside its codegen loop, so no per-row array<double> copy.
    *
    * Memoized per (session, dir) via [[graft.Memo]]: the normalized +
    * unit-vector corpus prep is shared across the ANN queries
    * (bruteforce, mips, filtered, ivf, pq, ivfpq, sq8, mrl, bq and their
    * exhaustive twins) and across every Lloyd/probe/re-rank pass inside
    * one query — without
    * it, ann_ivf alone re-reads parquet and re-normalizes 6–7 times per
    * invocation (the round-5 regression). At 100 TB the same line is a
    * materialized unit-vector table written once and scanned per pass.
    */
  private def vecs(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(spark, s"ann.vecs:$dir") {
      withNorm(spark, Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").as("v"), col("label")))
        .withColumn("u", expr("transform(v, x -> cast(x as double) / norm)"))
    }

  /** Adds the precomputed L2 norm; input needs (vec_id, v). */
  def withNorm(spark: SparkSession, df: DataFrame): DataFrame = {
    graft.functions.VecFunctions.register(spark)
    df.withColumn("norm", sqrt(call_function("vec_dot", col("v"), col("v"))))
  }

  private def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    call_function("vec_dot", a, b) / (na * nb)

  // The ANN skeleton. Every approximate path is encode → candidates →
  // exact re-rank: a quantized rung (PQ, IVF-PQ, SQ8, MRL, BQ) supplies
  // its encoder and approximate score, a partitioning path (IVF,
  // filtered IVF, LSH) its candidate ids, and the rest is shared.

  /** Encode: the coded corpus (the index a serving tier stores), pinned
    * per (session, `memoKey`, `tag`) for the gated queries — `tag`
    * names the code and its parameters; keyless (probe) callers derive
    * it live.
    */
  private def coded(spark: SparkSession, memoKey: Option[String], tag: String)(
      build: => DataFrame): DataFrame =
    memoKey.fold(build)(mk => graft.Memo.cached(spark, s"$mk:$tag")(build))

  /** A driver-side model (centroids, codebooks), memoized like [[coded]]. */
  private def model[V](spark: SparkSession, memoKey: Option[String], tag: String)(
      build: => V): V =
    memoKey.fold(build)(mk => graft.Memo(spark, s"$mk:$tag")(build))

  /** Every row of `corpus` against each broadcast query row of it
    * (itself excluded); `qCols` renames the query side's code columns.
    */
  private def againstQueries(corpus: DataFrame, isQuery: Column,
      qCols: (String, String)*): DataFrame = {
    val q = corpus.filter(isQuery).select(col("vec_id").as("query_id") +:
      qCols.map { case (c, a) => col(c).as(a) }: _*)
    corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
  }

  /** Candidates: the `candN` best rows per query of `scored` (query_id,
    * vec_id, …) by `score` — descending, or ascending with `asc` — then
    * vec_id, through the bounded-heap [[graft.functions.TopKAgg]] (its
    * zero-padded vec_id tie key orders like vec_id for ids in
    * [0, 10¹²)). `candN <= 0` keeps every row: no pruning. Returns
    * (query_id, vec_id).
    */
  private def candidates(scored: DataFrame, score: Column, asc: Boolean,
      candN: Int): DataFrame =
    if (candN <= 0) scored.select(col("query_id"), col("vec_id"))
    else scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.column(scored.sparkSession,
        score.cast("double"), lpad(col("vec_id").cast("string"), 12, "0"),
        col("query_id").cast("string"), candN, asc).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.a").cast("long").as("vec_id"))

  /** Exact re-rank of (query_id, vec_id, …) candidates against the
    * float vectors of `all` (vec_id, v, norm); `keep` carries query-side
    * columns of `cands` into the output.
    */
  private def exactTop5(cands: DataFrame, all: DataFrame, isQuery: Column,
      keep: Column*): DataFrame = {
    val qVecs = all.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    top5(cands.join(broadcast(qVecs), Seq("query_id")).join(all, Seq("vec_id")),
      keep: _*)
  }

  /** Rounded cosine of (qv, qn) × (v, norm) pairs, ranked per query by
    * (cs desc, vec_id): (query_id, keep…, rk, neighbor_id, cs), top 5.
    */
  private def top5(pairs: DataFrame, keep: Column*): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("vec_id"))
    pairs.withColumn("cs", round(cosine(col("qv"), col("v"), col("qn"), col("norm")), 4))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select((col("query_id") +: keep) ++ Seq(col("rk"),
        col("vec_id").as("neighbor_id"), col("cs")): _*)
  }

  /** E1: exact top-5 cosine neighbors for query vectors (vec_id < 10).
    * Ordering key is the rounded cosine + neighbor id, so ranking is
    * deterministic and engine-independent.
    */
  def bruteforceTopk(spark: SparkSession, dir: String): DataFrame =
    bruteforceTopkOn(vecs(spark, dir), col("vec_id") < 10)

  /** E8: attribute-filtered exact vector search — top-5 cosine
    * neighbors constrained to candidates sharing the query's label.
    * Pre-filter semantics: the predicate prunes BEFORE ranking (the
    * filter is part of the join condition), so a query can never be
    * starved the way post-filter top-k is when the wanted attribute is
    * rare. Same broadcast + bounded-rank shape as E1; at scale the
    * same predicate composes with the E2/E3/E7 candidate streams
    * before exact re-rank (filter the bucket/cell scan, not the
    * result list).
    */
  def filteredTopk(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"), col("label").as("qlabel"))
    top5(all.join(broadcast(q),
      col("vec_id") =!= col("query_id") && col("label") === col("qlabel")),
      col("qlabel").as("label"))
  }

  def bruteforceTopkOn(all: DataFrame, isQuery: Column): DataFrame =
    top5(againstQueries(all, isQuery, "v" -> "qv", "norm" -> "qn"))

  private val Tables_ = 4 // LSH tables
  private val Bits = 6 // hyperplanes per table

  /** Deterministic pseudo-Gaussian hyperplanes (seeded). */
  private def planes(dim: Int): Array[Array[Double]] =
    planesFor(Tables_ * Bits, dim, 424242L)

  private def planesFor(n: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** (vec_id, v) → exploded (vec_id, t, bucket) LSH bucket rows via the
    * single-pass [[graft.functions.LshBuckets]] codegen expression (one
    * flat plane-matrix reference object — not tables×bits×dim literals
    * in the generated source, which stalls JIT and re-evaluates per
    * reference). Registered per (tables, bits, seed) so configs never
    * cross-contaminate within a session.
    */
  private[graft] def lshBucketed(vecs: DataFrame, bits: Int, tables: Int,
      dim: Int, seed: Long): DataFrame = {
    val ps = planesFor(tables * bits, dim, seed)
    val fn = s"lsh_buckets_${tables}_${bits}_$seed"
    vecs.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      fn, exprs => graft.functions.LshBuckets(exprs.head, ps, tables, bits),
      "built-in")
    vecs.select(col("vec_id"), posexplode(call_function(fn, col("v"))))
      .select(col("vec_id"), col("pos").as("t"), col("col").as("bucket"))
  }

  /** All-pairs LSH candidate generation: random-hyperplane signatures,
    * `tables` tables × `bits` bits; a pair is a candidate iff it shares
    * a bucket in ≥1 table. Returns distinct (ia, ib) with ia < ib.
    *
    * The self-join is bucket-local — Σ bucket² per table, never
    * corpus² — which is what lets a cosine-threshold pair scan run on
    * the full corpus at 100 TB. Per-bit collision probability is
    * 1 - θ/π, so recall at threshold cs is 1-(1-p^bits)^tables with
    * p = 1 - arccos(cs)/π: size `tables` for the miss rate the
    * downstream pipeline tolerates (verification is exact, so misses
    * only lose pairs, never admit false ones).
    */
  def lshPairCandidates(all: DataFrame, bits: Int, tables: Int,
                        dim: Int = 64, seed: Long = 424242L): DataFrame = {
    val bucketed = lshBucketed(all.select(col("vec_id"), col("v")),
      bits, tables, dim, seed)
    bucketed.select(col("vec_id").as("ia"), col("t"), col("bucket"))
      .join(bucketed.select(col("vec_id").as("ib"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib")).distinct()
  }

  /** E4: kNN label propagation — classify query vectors by majority
    * vote of their 5 nearest labeled neighbors (cosine): the
    * similarity-search form of semi-supervised labeling a training-data
    * pipeline runs to extend a seed label set. Brute-force neighbor
    * scan with the query set broadcast (one corpus pass); ranking and
    * vote ties broken deterministically (rounded cosine + neighbor id,
    * then vote count + label) so both engines agree exactly.
    */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.register(spark)
    val all = vecs(spark, dir).filter(col("label").isNotNull)
    val q = all.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cs", round(cosine(col("qv"), col("v"), col("qn"), col("norm")), 4))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("vec_id"))
    val votes = scored.withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= 5)
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("m", row_number().over(wVote)).filter(col("m") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
  }

  /** E3: IVF (inverted-file) ANN — spherical k-means coarse quantizer.
    *
    * Train: seeded init + a few Lloyd rounds, each round one pass
    * (assign by max centroid dot, then a 64-column groupBy mean);
    * centroids live on the driver (k × dim doubles) and broadcast into
    * every assignment — at 100 TB you train on a sample and the corpus
    * pass count stays the same. Query: probe the `nprobe` nearest
    * cells, exact-cosine re-rank only within probed cells — candidates
    * ∝ Σ probed cell sizes, and unlike LSH the cells ADAPT to the data
    * distribution (clustered corpora get tight cells where it counts).
    * Output is quantizer-dependent → rows-only gate; recall is pinned
    * against the exact path in the spec, like E2.
    */
  def ivfTopk(spark: SparkSession, dir: String): DataFrame =
    ivfTopkOn(vecs(spark, dir), col("vec_id") < 10,
      memoKey = Some(s"ann.model:$dir"))

  /** Adds the unit-vector column unless the prep (e.g. the memoized
    * vecs()) already supplied it — Lloyd rounds then read the cached
    * frame instead of re-deriving it.
    */
  private[graft] def unitize(all: DataFrame): DataFrame =
    if (all.columns.contains("u")) all
    else all.withColumn("u", expr("transform(v, x -> cast(x as double) / norm)"))

  /** Scored cells as (dot, cid) structs over the `u` column: array_max
    * picks the best dot, ties broken by the higher cid — deterministic.
    */
  private def cellScores(cents: Array[Array[Double]]): Column =
    array(cents.zipWithIndex.map { case (c, i) =>
      struct(call_function("vec_dot", col("u"), typedlit(c.toSeq)).as("d"),
        lit(i).as("cid"))
    }: _*)

  private def withCell(unit: DataFrame, cents: Array[Array[Double]]): DataFrame =
    unit.withColumn("cell", array_max(cellScores(cents)).getField("cid"))

  /** Cluster assignment for SemDeDup-style cluster-scoped dedup (D13):
    * the corpus with its spherical-k-means `cell` id attached (same
    * trainer + deterministic tie-break as the IVF index). Input needs
    * (vec_id, v, norm); adds `u` and `cell`.
    */
  private[graft] def assignCells(all: DataFrame, k: Int, iters: Int = 3,
      dim: Int = 64, memoKey: Option[String] = None): DataFrame = {
    graft.functions.VecFunctions.register(all.sparkSession)
    val unit = unitize(all)
    assignCellsWith(unit, trainIvfCentroids(unit, k, iters, dim, memoKey),
      k, iters, dim, memoKey)
  }

  /** [[assignCells]] with the centroids its caller already trained, so
    * a search trains them once per call. The cell-assigned corpus is the
    * IVF index (a cell id per vector), coded once per model. */
  private def assignCellsWith(unit: DataFrame, cents: Array[Array[Double]],
      k: Int, iters: Int, dim: Int, memoKey: Option[String]): DataFrame =
    coded(unit.sparkSession, memoKey, s"assigned:k=$k:it=$iters:d=$dim")(
      withCell(unit, cents))

  // trained quantizer models are tiny driver-side arrays derived
  // deterministically (fixed seeds) from a fixed corpus — one copy per
  // (session, key) instead of retraining per invocation (Bench runs
  // each query 3×, and ann_ivfpq needs BOTH models)
  private def trainIvfCentroids(unit: DataFrame, k: Int, iters: Int,
      dim: Int, memoKey: Option[String] = None): Array[Array[Double]] =
    model(unit.sparkSession, memoKey, s"ivf_model:k=$k:it=$iters:d=$dim")(
      trainIvfCentroidsNow(unit, k, iters, dim))

  /** Spherical k-means over the `u` column: `iters` Lloyd rounds, each
    * ONE scan + partial agg (the driver holds only k×dim centroid sums
    * — broadcast-sized state at any corpus size). Empty cells keep
    * their centroid; seeding is fixed, so training is deterministic.
    */
  private[graft] def trainIvfCentroidsNow(unit: DataFrame, k: Int, iters: Int,
      dim: Int): Array[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val rnd = new scala.util.Random(77770001L)
    var cents = Array.fill(k)(normalize(Array.fill(dim)(rnd.nextGaussian())))
    for (_ <- 0 until iters) {
      val aggs = count(lit(1)).as("n") +:
        (0 until dim).map(i => sum(element_at(col("u"), i + 1)).as(s"s$i"))
      val stats = withCell(unit, cents).groupBy(col("cell"))
        .agg(aggs.head, aggs.tail: _*).collect()
      val next = cents.clone() // empty cells keep their centroid
      stats.foreach { r =>
        val cell = r.getInt(0)
        val n = r.getLong(1).toDouble
        next(cell) = normalize(Array.tabulate(dim)(i => r.getDouble(i + 2) / n))
      }
      cents = next
    }
    cents
  }

  /** Each query's `nprobe` best cells: (query_id, keep…, cell) rows. */
  private def probes(unit: DataFrame, cents: Array[Array[Double]],
      isQuery: Column, nprobe: Int, keep: Column*): DataFrame =
    unit.filter(isQuery)
      .withColumn("pc", slice(reverse(array_sort(cellScores(cents))), 1, nprobe))
      .select((col("vec_id").as("query_id") +: keep) :+
        explode(expr("transform(pc, x -> x.cid)")).as("cell"): _*)

  def ivfTopkOn(all: DataFrame, isQuery: Column, k: Int = 16, nprobe: Int = 4,
      iters: Int = 3, dim: Int = 64, memoKey: Option[String] = None): DataFrame = {
    graft.functions.VecFunctions.register(all.sparkSession)
    // spherical k-means works on unit vectors: assignment = max dot
    val unit = unitize(all)
    val cents = trainIvfCentroids(unit, k, iters, dim, memoKey)
    val candIds = assignCellsWith(unit, cents, k, iters, dim, memoKey)
      .select(col("vec_id"), col("cell"))
      .join(broadcast(probes(unit, cents, isQuery, nprobe)), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    exactTop5(candIds, all, isQuery)
  }

  /** E5: centroid coherence scoring — each labeled vector's cosine to
    * its label's centroid direction (the SemDeDup/prototypicality
    * signal a curation pipeline uses to drop mislabeled or off-cluster
    * examples). Two passes, both partial-agg friendly: (1) per-label
    * unit-vector SUM via the one-buffer [[graft.functions.VecSumAgg]]
    * (cosine is scale-invariant, so the count never needs to divide),
    * k×dim doubles total, broadcast back; (2) one scoring scan. No
    * shuffle of the corpus beyond the k-row centroid aggregate —
    * the shape that holds at 10⁹ vectors.
    *
    * Determinism: unit-vector elements are quantized to the 2⁻²⁰ grid
    * BEFORE summation, so every per-dimension sum is a dyadic rational
    * that double represents exactly up to ~2³³ vectors per label —
    * i.e. the centroid is bit-identical regardless of partitioning,
    * executor count, or engine (floating-point sums are otherwise
    * order-dependent in the last ulp, and an ulp at a rounding
    * boundary breaks the hash gate). The 2⁻²⁰ quantization error is
    * ~1e-6 per element — three orders below the 1e-4 output rounding.
    */
  def centroidScore(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.register(spark)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_sum64", exprs => graft.functions.VecSumAgg(exprs.head, 64), "built-in")
    val u = Tables.embeddings(spark, dir)
      .filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("norm", sqrt(call_function("vec_dot", col("v"), col("v"))))
      .withColumn("u", expr(
        "transform(v, x -> floor(cast(x as double) / norm * 1048576.0D + 0.5D) / 1048576.0D)"))
    val cents = u.groupBy(col("label"))
      .agg(call_function("vec_sum64", col("u")).as("c"))
      .withColumn("cn", sqrt(call_function("vec_dot", col("c"), col("c"))))
    u.join(broadcast(cents), Seq("label"))
      .withColumn("cs", round(call_function("vec_dot", col("u"), col("c")) / col("cn"), 4))
      .select(col("vec_id"), col("label"), col("cs"), (col("cs") < 0).as("outlier"))
  }

  /** E14 (round 9): greedy k-center (farthest-point-first) DIVERSITY
    * sampling — the coverage-selection pass a training-data pipeline
    * runs to pick a maximally spread subset (dataset distillation /
    * eval-set seeding / active-learning seeding; the Gonzalez greedy
    * gives a 2-approximation to the k-center optimum). Seeded at the
    * smallest vec_id, each of the k−1 rounds is ONE distributed pass:
    * per-vector min-cosine-distance to the chosen set folds through a
    * `least(...)` column (never recomputed from scratch — the running
    * min carries across rounds), the next center is the arg-max row
    * (TakeOrdered top-1, ties to the smaller vec_id), and only that
    * single row is collected. Driver state is k rows; work is O(k·N)
    * dots with NO pairwise shuffle — the shape that holds at 10⁹
    * vectors. Distances are exact: the 2⁻²⁰-quantized unit vectors
    * (E5's dyadic discipline) make every dot a sum of 2⁻⁴⁰-grid
    * rationals, bit-identical under any partitioning and replayed
    * bit-for-bit by the DuckDB oracle's unrolled greedy — selection is
    * therefore provably deterministic, not just observed stable.
    */
  def kcenterSample(spark: SparkSession, dir: String): DataFrame = {
    val u = graft.Memo.cached(spark, s"ann.kcenter_u:$dir") {
      kcenterUnit(spark, Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").as("v")))
    }
    kcenterOn(spark, u, 8)
  }

  private[graft] def kcenterUnit(spark: SparkSession, vecs: DataFrame): DataFrame = {
    graft.functions.VecFunctions.register(spark)
    vecs
      .withColumn("norm", sqrt(call_function("vec_dot", col("v"), col("v"))))
      .withColumn("u", expr(
        "transform(v, x -> floor(cast(x as double) / norm * 1048576.0D + 0.5D) / 1048576.0D)"))
      .select(col("vec_id"), col("u"))
  }

  /** Greedy loop over a prepared (vec_id, u) frame; exposed (with
    * [[kcenterProbe]]) so the scale probe drives the same plan over
    * replicated corpora. */
  private def kcenterOn(spark: SparkSession, u: DataFrame, k: Int): DataFrame = {
    val seed = u.orderBy(col("vec_id")).limit(1).collect()(0)
    var chosen = Vector((seed.getLong(0), 0.0))
    // Per-round CACHE SWAP (the ancestor-closure discipline): each
    // round's dist frame is persisted and MATERIALIZED before its
    // parent is released, so round i computes exactly ONE new dot
    // column over the cached predecessor — O(k·N) dots total with O(1)
    // plan depth per round, not the O(k²·N) a composed least() lineage
    // would re-evaluate on every collect. least() over materialized
    // values is pure selection (no arithmetic), so picks are
    // bit-identical to the composed form (AnnMipsSpec pins them).
    // Round frames are session-transient and all released before
    // return — no per-invocation cache leak (the returned frame is a
    // local k-row toDF).
    // ONE action per round: each round's argmax collect is the FIRST
    // action on the current dist frame, so it materializes the one new
    // least()/dot column against the still-cached parent as a side
    // effect of the scan. The parent is released AFTER the collect
    // that materialized its child (unpersist-lag-1), preserving the
    // ancestor-closure guarantee:
    // at no point does an unmaterialized frame lose its cached parent,
    // so every round still computes exactly ONE new dot column and
    // picks are bit-identical (AnnMipsSpec pins them).
    var dist = u.withColumn("dist",
      lit(1.0) - call_function("vec_dot", col("u"),
        typedlit(seed.getSeq[Double](1)))).persist()
    var parent: Option[org.apache.spark.sql.DataFrame] = None
    for (r <- 2 to k) {
      val sel = dist
        .filter(!col("vec_id").isInCollection(chosen.map(_._1)))
        .orderBy(col("dist").desc, col("vec_id").asc).limit(1)
        .collect()(0) // materializes dist against the cached parent
      parent.foreach(_.unpersist())
      parent = Some(dist)
      chosen :+= ((sel.getLong(0), sel.getAs[Double]("dist")))
      if (r < k) { // the post-final-pick update would never be read
        dist = dist.withColumn("dist",
          least(col("dist"), lit(1.0) - call_function("vec_dot", col("u"),
            typedlit(sel.getSeq[Double](1))))).persist()
      }
    }
    parent.foreach(_.unpersist())
    dist.unpersist()
    import spark.implicits._
    chosen.zipWithIndex
      .map { case ((id, d), i) =>
        (i + 1L, id, math.floor(d * 1e4 + 0.5) / 1e4) }
      .toDF("pick", "vec_id", "dist")
  }

  /** ScaleProbe entry: the same greedy over an arbitrary (vec_id, v)
    * corpus (prep + k rounds, nothing memoized). */
  def kcenterProbe(spark: SparkSession, vecs: DataFrame, k: Int): DataFrame =
    kcenterOn(spark, kcenterUnit(spark, vecs).cache(), k)

  /** E17 (round 10): HYBRID retrieval — Reciprocal Rank Fusion
    * (Cormack, Clarke & Buettcher, SIGIR'09), the standard production
    * combiner of lexical and vector search (OpenSearch/Vespa/Qdrant
    * hybrid mode): rank the corpus independently by BM25 (F14's
    * pipeline verbatim, top-10) and by exact cosine to the query's own
    * embedding (E1's scan, top-10, no self-exclusion — fusion treats
    * both lists symmetrically), then fuse with
    * rrf(d) = Σ_lists 1/(60 + rank_list(d)) and re-rank.
    *
    * Determinism across engines: ranks are integers, each 1/(60+r) is
    * one exact IEEE quotient, the fusion is ONE addition of two exact
    * doubles, and ties break on doc_id — so the fused ranking replays
    * bit-for-bit in DuckDB with no quantization before the final
    * display rounding. Shape at 100 TB: both candidate stages are the
    * proven bounded-heap pipelines (≤ k rows per query cross the
    * shuffle); fusion touches ≤ 2k rows per query — re-ranker-bounded
    * like MMR, never corpus-bounded. The queries (doc_id ≡ 0 mod 101)
    * align with F14's so the oracle replays both legs from the same
    * tables.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = graft.text.Bm25.topk(spark, dir)
      .select(col("qid"), col("doc_id"), col("rk").as("lrk"))
    val all = vecs(spark, dir)
    val q = all.filter(pmod(col("vec_id"), lit(101)) === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qn"))
    val scored = all.select(col("vec_id").as("doc_id"), col("v"), col("norm"))
      .crossJoin(broadcast(q))
      .withColumn("cs", round(
        call_function("vec_dot", col("v"), col("qv")) /
          (col("norm") * col("qn")), 4))
    val vec = scored.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.column(spark, col("cs"),
        lpad(col("doc_id").cast("string"), 8, "0"),
        col("qid").cast("string"), 10).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).as("vrk"),
        col("col.a").cast("long").as("doc_id"))
    // fusion as union + groupBy (no full-outer join — a full outer
    // can't broadcast and would sort-merge): each list contributes
    // 1/(60+rank); a doc on both lists sums two exact quotients, and
    // IEEE addition is commutative so the sum is order-independent
    val fused = lex
      .select(col("qid"), col("doc_id"),
        (lit(1.0) / (col("lrk") + lit(60.0))).as("c"))
      .unionByName(vec.select(col("qid"), col("doc_id"),
        (lit(1.0) / (col("vrk") + lit(60.0))).as("c")))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("c")).as("rrf"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select(col("qid"), col("rk"), col("doc_id"),
        (floor(col("rrf") * 1e6 + 0.5) / 1e6).as("rrf"))
  }

  /** E15 (round 9): MMR — Maximal Marginal Relevance diversity
    * re-ranking (Carbonell & Goldstein, SIGIR'98), the standard RAG
    * serving pass that trades pure relevance for coverage: for each
    * query, from its top-C relevance candidates greedily pick k docs
    * maximizing λ·rel(d) − (1−λ)·max_{s∈picked} sim(d, s), λ = 1/2.
    *
    * Split mirrors production vector serving: candidate generation is
    * the DISTRIBUTED stage (one corpus scan per query batch — the
    * broadcast query set rides the E1 exact top-C shape, or any ANN
    * path at scale), while the greedy runs on the collected candidate
    * set, which is |Q|·C rows BY CONSTRUCTION (the bound every
    * re-ranker relies on — re-rank state never scales with the
    * corpus). Determinism is the kcenter discipline: 2⁻²⁰-quantized
    * unit vectors make every dot (rel and pairwise sim) an exact
    * dyadic rational, λ = 1/2 keeps scores dyadic, ties break to the
    * smaller vec_id, summation is index-ordered on all three engines
    * (VecDot, the driver fold, DuckDB list_sum) — so the DuckDB
    * oracle replays the greedy bit-for-bit via unrolled MATERIALIZED
    * CTEs. AnnMipsSpec pins the λ=1 degenerate identity (pure
    * relevance ranking) and the diversity property at λ=1/2.
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val u = graft.Memo.cached(spark, s"ann.kcenter_u:$dir") {
      kcenterUnit(spark, Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").as("v")))
    }
    mmrOn(spark, u, candN = 16, k = 4, lamNum = 1, lamDen = 2)
  }

  /** The distributed stage of MMR: per-query top-candN relevance
    * candidates, the query batch broadcast against one corpus scan
    * (the E1 shape). Exposed so PlanSpec can pin the broadcast. */
  private[graft] def mmrCandidates(spark: SparkSession, u: DataFrame,
      candN: Int): DataFrame = {
    graft.functions.VecFunctions.register(spark)
    val q = u.filter(pmod(col("vec_id"), lit(97)) === 0)
      .select(col("vec_id").as("qid"), col("u").as("qu"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("vec_id").asc)
    u.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("rel", call_function("vec_dot", col("u"), col("qu")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= candN)
      .select(col("qid"), col("vec_id"), col("u"), col("rel"))
  }

  /** Candidate generation (distributed) + bounded greedy; `u` needs
    * (vec_id, u) unit vectors. λ = lamNum/lamDen (dyadic). */
  private[graft] def mmrOn(spark: SparkSession, u: DataFrame, candN: Int,
      k: Int, lamNum: Int, lamDen: Int): DataFrame = {
    val lam = lamNum.toDouble / lamDen
    val cand = mmrCandidates(spark, u, candN)
    // |Q|·candN rows by construction — the re-ranker's contract
    val rows = cand.collect()
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val out = rows.groupBy(_.getLong(0)).toSeq.flatMap { case (qid, rs) =>
      var remaining = rs.toVector.map(r =>
        (r.getLong(1), r.getSeq[Double](2), r.getDouble(3)))
      val maxSim = collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      var picked = Vector.empty[(Long, Double)]
      for (_ <- 1 to k if remaining.nonEmpty) {
        val best = remaining.minBy { case (id, _, rel) =>
          (-(lam * rel - (1 - lam) * maxSim(id)), id) }
        picked :+= ((best._1, lam * best._3 - (1 - lam) * maxSim(best._1)))
        remaining = remaining.filterNot(_._1 == best._1)
        remaining.foreach { case (id, uu, _) =>
          val s = dot(uu, best._2)
          if (s > maxSim(id)) maxSim(id) = s
        }
      }
      picked.zipWithIndex.map { case ((id, s), i) =>
        (qid, (i + 1).toLong, id, math.floor(s * 1e4 + 0.5) / 1e4) }
    }
    import spark.implicits._
    out.toDF("qid", "pick", "vec_id", "score")
  }

  /** E6: maximum-inner-product search (MIPS) — exact top-5 by RAW
    * inner product, the retrieval scoring dual-encoder models train
    * for (unnormalized dot: magnitude carries relevance, so cosine
    * top-k gives different answers). Same one-corpus-pass broadcast
    * shape as E1, same codegen vec_dot, no normalization anywhere.
    *
    * Scale path: MIPS reduces to cosine ANN by norm augmentation
    * (x → [x, √(M²−‖x‖²)] with M = max corpus norm, q → [q, 0]):
    * the augmented cosine order equals the raw dot order, so the
    * E2/E3 bucketed machinery applies unchanged — AnnMipsSpec proves
    * the reduction's rank equivalence on the real corpus.
    */
  def mipsTopk(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("vec_id"))
    all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("dot", round(call_function("vec_dot", col("qv"), col("v")), 4))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"), col("dot"))
  }

  /** E2: LSH ANN — L=4 tables × 6-bit signatures; candidates = union of
    * same-bucket vectors across tables, re-ranked by exact cosine.
    * Output is hyperplane-dependent → rows-only gate; the spec checks
    * recall against E1 instead.
    */
  def lshTopk(spark: SparkSession, dir: String): DataFrame =
    lshTopkOn(vecs(spark, dir), col("vec_id") < 10)

  def lshTopkOn(all: DataFrame, isQuery: Column,
      bits: Int = Bits, tables: Int = Tables_): DataFrame = {
    val bucketed = lshBucketed(all.select(col("vec_id"), col("v")),
      bits, tables, 64, 424242L)
    // candidate ids first (cheap distinct on a pair of longs); vectors
    // joined back only for the exact-cosine re-rank
    val qBuckets = all.filter(isQuery).select(col("vec_id"), col("v"))
      .transform(q => lshBucketed(q, bits, tables, 64, 424242L))
      .select(col("vec_id").as("query_id"), col("t"), col("bucket"))
    val candIds = bucketed.select(col("vec_id"), col("t"), col("bucket"))
      .join(broadcast(qBuckets), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    exactTop5(candIds, all, isQuery)
  }

  /** E2b: the exact-oracle gate for the LSH ANN path. Queries are the
    * planted twins of [[graft.dedup.Dedup.plantedEmbeddings]] (cosine
    * to their source ≥ 0.9428, every other pair ≤ 0.89 — the D5b
    * margin analysis), banding sized for the worst planted pair
    * (24 tables × 8 bits → per-pair miss ≤ 4.6e-6, deterministic under
    * the fixed seed): the ≥ 0.9 filter then keeps exactly the
    * (twin → source) matches, which a DuckDB exact-cosine scan
    * reproduces — so the whole query-side pipeline (query bucketing,
    * candidate join, exact re-rank) is hash-gated, not just
    * recall-pinned. The production top-k config stays [[lshTopk]]
    * (rows-only by necessity: its output is hyperplane-dependent).
    */
  def lshPlanted(spark: SparkSession, dir: String): DataFrame = {
    val all = graft.Memo.cached(spark, s"dedup.planted:$dir") {
      graft.dedup.Dedup.plantedEmbeddings(spark, dir)
    }
    lshTopkOn(all, col("vec_id") >= 1000000L, bits = 8, tables = 24)
      .filter(col("cs") >= 0.9)
      .select(col("query_id"), col("neighbor_id"), col("cs"))
  }

  /** E3b: the exact-oracle gate for the IVF path — nprobe = k, i.e.
    * every cell probed. Every vector lands in exactly one cell and
    * every cell is probed, so the candidate set is provably the full
    * corpus and the output MUST equal the brute-force top-k no matter
    * what the quantizer learned: a real invariant (dropped cells,
    * assignment nondeterminism, candidate-join or re-rank bugs all
    * break it) that gates the train/assign/probe/re-rank machinery
    * end-to-end. Approximation quality at nprobe < k stays pinned by
    * the recall spec on [[ivfTopk]] (rows-only by necessity).
    */
  def ivfFull(spark: SparkSession, dir: String): DataFrame =
    ivfTopkOn(vecs(spark, dir), col("vec_id") < 10, nprobe = 16,
      memoKey = Some(s"ann.model:$dir"))

  /** E16 (round 9 s4): attribute-FILTERED IVF ANN — filter-aware
    * probing, the vector-database feature E10 documents as "the same
    * predicate composes with the E2/E3/E7 candidate streams": the
    * label equality lands on the CELL-SCAN side of the candidate
    * join, before any ranking, so the probe reads only matching rows
    * of the probed cells (pre-filter semantics — a rare label can
    * never be starved the way post-filtering a top-k list is). At
    * 100 TB the scan cost is nprobe/k of the corpus FURTHER pruned
    * by label selectivity.
    *
    * Gated at nprobe = k: exhaustive probing covers every cell, so
    * the output provably equals E10's filtered brute force no matter
    * what the quantizer learned — the E3b invariant discipline, with
    * the SAME DuckDB oracle shape (label-constrained exact scan).
    */
  def ivfFilteredTopkOn(all: DataFrame, isQuery: Column, k: Int = 16,
      nprobe: Int = 4, iters: Int = 3, dim: Int = 64,
      memoKey: Option[String] = None): DataFrame = {
    graft.functions.VecFunctions.register(all.sparkSession)
    val unit = unitize(all)
    val cents = trainIvfCentroids(unit, k, iters, dim, memoKey)
    val candIds = assignCellsWith(unit, cents, k, iters, dim, memoKey)
      .select(col("vec_id"), col("label"), col("cell"))
      .join(broadcast(probes(unit, cents, isQuery, nprobe,
        col("label").as("qlabel"))), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") === col("qlabel"))
      .select(col("query_id"), col("qlabel"), col("vec_id")).distinct()
    exactTop5(candIds, all, isQuery, col("qlabel").as("label"))
  }

  def ivfFilteredFull(spark: SparkSession, dir: String): DataFrame =
    ivfFilteredTopkOn(vecs(spark, dir), col("vec_id") < 10, nprobe = 16,
      memoKey = Some(s"ann.model:$dir"))

  /** E7: product-quantization ANN — the memory-compression scale path:
    * each unit vector is split into `m` subspaces, each subspace
    * L2-k-means-quantized to one of `ks` codes, so a 64-dim float
    * vector stores as m=8 code bytes (32× smaller). The ADC
    * (asymmetric distance) scan scores dot(query, reconstruction(u)) =
    * Σ_s dot(q_s, codebook_s[code_s]) — here materialized as a
    * reconstruction column fed to the same codegen `vec_dot`, which is
    * arithmetically identical to the per-subspace table lookups and
    * keeps the scan in whole-stage codegen. Top-`candN` approximate
    * candidates per query ride the bounded heap, then exact cosine
    * re-ranks the survivors — candidates ∝ candN, never corpus².
    *
    * At 100 TB: codebooks are driver/broadcast state (m × ks × sub
    * doubles, ~4 KB), training runs on a sample, the corpus pass
    * reads codes (not floats), and the re-rank touches only candN
    * vectors per query.
    *
    * `candN <= 0` disables pruning: every corpus vector is exact
    * re-ranked, so the output provably equals brute force no matter
    * what the codebooks learned — [[pqFull]]'s invariant gate, the
    * E3b trick. Approximation quality at small candN is pinned by the
    * planted-recall spec (rows-only by necessity, like E2/E3).
    */
  def pqTopk(spark: SparkSession, dir: String): DataFrame =
    pqTopkOn(vecs(spark, dir), col("vec_id") < 10, candN = 64,
      memoKey = Some(s"ann.model:$dir"))

  def pqFull(spark: SparkSession, dir: String): DataFrame =
    pqTopkOn(vecs(spark, dir), col("vec_id") < 10, candN = 0,
      memoKey = Some(s"ann.model:$dir"))

  /** E13: IVF-PQ — the composition production ANN systems (FAISS
    * IndexIVFPQ) actually deploy at scale: the IVF coarse quantizer
    * restricts each query's scan to its nprobe best cells, and WITHIN
    * the probed cells the scores are PQ asymmetric distances over the
    * byte codes — so the hot path reads nprobe/k of the corpus at
    * m bytes per vector, and only candN survivors touch float data.
    * Codes are RESIDUAL (x − centroid(cell), the classical FAISS
    * refinement): residuals concentrate near the origin, so the same
    * ks codes spend their resolution on what the coarse quantizer
    * could not explain. Training: the same two driver-bounded jobs
    * (Lloyd cells + per-subspace codebooks), both broadcast-sized.
    *
    * `nprobe = k` AND `candN <= 0` disables BOTH pruning stages: every
    * corpus vector is exact re-ranked, so the output provably equals
    * brute force regardless of what either quantizer learned —
    * [[ivfPqFull]]'s invariant gate (E3b × E7b composed). Recall at
    * the pruned settings is pinned by the planted-cluster spec
    * (rows-only by necessity, like E2/E3/E7).
    */
  def ivfPqTopkOn(all: DataFrame, isQuery: Column, k: Int = 16,
      nprobe: Int = 4, candN: Int = 64, m: Int = 8, ks: Int = 16,
      iters: Int = 3, dim: Int = 64,
      memoKey: Option[String] = None): DataFrame = {
    val spark = all.sparkSession
    graft.functions.VecFunctions.register(spark)
    val sub = dim / m
    val unit = unitize(all)
    val cents = trainIvfCentroids(unit, k, iters, dim, memoKey)
    // RESIDUAL coding (the classical IVF-PQ refinement): the codebooks
    // quantize x − centroid(cell(x)), which concentrates near the
    // origin far more than raw vectors do, so the same ks codes spend
    // their resolution on the part the coarse quantizer could not
    // explain. The pqCodes/pqRecon machinery is reused verbatim by
    // presenting the residual AS the `u` column; reconstruction adds
    // the cell centroid back.
    val centArr = typedlit(cents.map(_.toSeq).toSeq)
    val assigned = withCell(unit, cents)
      .withColumn("__cent", element_at(centArr, col("cell") + 1))
    val resid = assigned
      .withColumn("__fullu", col("u"))
      .withColumn("u", expr("zip_with(u, __cent, (a, b) -> a - b)"))
    val cb = trainPqCodebooks(
      resid.select(col("vec_id"), col("u")), m, ks, iters, dim,
      memoKey.map(_ + ":res"))
    // cell + codes + recon per vector; coding is independent of
    // nprobe/candN, so ann_ivfpq and ann_ivfpq_full share one frame
    val ivfpq = coded(spark, memoKey, s"ivfpqcoded:k=$k:m=$m:ks=$ks:it=$iters:d=$dim")(
      resid
        .withColumn("codes", pqCodes(cb, m, sub))
        .withColumn("__recon0", pqRecon(cb, m))
        .withColumn("recon", expr("zip_with(__recon0, __cent, (a, b) -> a + b)"))
        .withColumn("u", col("__fullu")))
    val qUnit = ivfpq.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("u").as("qu"))
    // ADC scan over the PROBED cells only (cells are disjoint per
    // vector, so no candidate appears twice)
    val adc = ivfpq.select(col("vec_id"), col("cell"), col("recon"))
      .join(broadcast(probes(unit, cents, isQuery, nprobe)), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qUnit), Seq("query_id"))
    exactTop5(candidates(adc, call_function("vec_dot", col("qu"), col("recon")),
      asc = false, candN), all, isQuery)
  }

  def ivfPqTopk(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopkOn(vecs(spark, dir), col("vec_id") < 10,
      memoKey = Some(s"ann.model:$dir"))

  /** E13's exhaustive invariant: nprobe = k and candN = 0 ⇒ neither
    * stage may drop anyone ⇒ ≡ brute force.
    */
  def ivfPqFull(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopkOn(vecs(spark, dir), col("vec_id") < 10, nprobe = 16, candN = 0,
      memoKey = Some(s"ann.model:$dir"))

  private def pqSubCol(s: Int, sub: Int): Column = slice(col("u"), s * sub + 1, sub)

  /** Per-vector PQ code array over the `u` column.
    * argmin ||x−c||² == argmax (x·c − ||c||²/2); ties → higher cid.
    */
  private def pqCodes(cb: Array[Array[Array[Double]]], m: Int, sub: Int): Column = {
    def scoredSub(s: Int, cents: Array[Array[Double]]): Column =
      array(cents.zipWithIndex.map { case (c, i) =>
        struct((call_function("vec_dot", pqSubCol(s, sub), typedlit(c.toSeq))
          - lit(0.5 * c.map(x => x * x).sum)).as("d"), lit(i).as("cid"))
      }: _*)
    array((0 until m).map(s =>
      array_max(scoredSub(s, cb(s))).getField("cid")): _*)
  }

  /** The Σ_s codebook_s[code_s] reconstruction of a `codes` column. */
  private def pqRecon(cb: Array[Array[Array[Double]]], m: Int): Column =
    concat((0 until m).map(s =>
      element_at(typedlit(cb(s).map(_.toSeq).toSeq),
        element_at(col("codes"), s + 1) + 1)): _*)

  /** Per-subspace L2 k-means over the `u` column: all m subspaces
    * re-estimated in ONE exploded aggregation pass per iteration
    * (m·ks result rows on the driver). Fixed seeding → deterministic.
    */
  private def trainPqCodebooks(unit: DataFrame, m: Int, ks: Int, iters: Int,
      dim: Int, memoKey: Option[String] = None): Array[Array[Array[Double]]] =
    model(unit.sparkSession, memoKey, s"pq_model:m=$m:ks=$ks:it=$iters:d=$dim")(
      trainPqCodebooksNow(unit, m, ks, iters, dim))

  private def trainPqCodebooksNow(unit: DataFrame, m: Int, ks: Int, iters: Int,
      dim: Int): Array[Array[Array[Double]]] = {
    val sub = dim / m
    val rnd = new scala.util.Random(424242L)
    var cb = Array.fill(m, ks)(Array.fill(sub)(rnd.nextGaussian() * 0.2))
    for (_ <- 0 until iters) {
      val exploded = unit.withColumn("codes", pqCodes(cb, m, sub))
        .select(explode(array((0 until m).map(s =>
          struct(lit(s).as("s"), element_at(col("codes"), s + 1).as("c"),
            pqSubCol(s, sub).as("x"))): _*)).as("e"))
        .select(col("e.s").as("s"), col("e.c").as("c"), col("e.x").as("x"))
      val aggs = count(lit(1)).as("n") +: (0 until sub).map(i =>
        sum(element_at(col("x"), i + 1)).as(s"s$i"))
      val next = cb.map(_.map(_.clone())) // empty codes keep centroids
      exploded.groupBy(col("s"), col("c")).agg(aggs.head, aggs.tail: _*)
        .collect().foreach { r =>
          val n = r.getLong(2).toDouble
          next(r.getInt(0))(r.getInt(1)) =
            Array.tabulate(sub)(i => r.getDouble(i + 3) / n)
        }
      cb = next
    }
    cb
  }

  def pqTopkOn(all: DataFrame, isQuery: Column, candN: Int, m: Int = 8,
      ks: Int = 16, iters: Int = 3, dim: Int = 64,
      memoKey: Option[String] = None): DataFrame = {
    val spark = all.sparkSession
    graft.functions.VecFunctions.register(spark)
    val sub = dim / m
    val unit = unitize(all)
    val cb = trainPqCodebooks(unit, m, ks, iters, dim, memoKey)
    // encode + reconstruct (the Σ_s codebook_s[code_s] concatenation):
    // the PQ index a serving tier persists (FAISS stores exactly these
    // codes); ann_pq and ann_pq_full share it (coding is independent
    // of candN)
    val pq = coded(spark, memoKey, s"pqcoded:m=$m:ks=$ks:it=$iters:d=$dim")(
      unit.withColumn("codes", pqCodes(cb, m, sub)).withColumn("recon", pqRecon(cb, m)))
    exactTop5(candidates(againstQueries(pq, isQuery, "u" -> "qu"),
      call_function("vec_dot", col("qu"), col("recon")), asc = false, candN),
      all, isQuery)
  }

  /** E9: int8 (SQ8) quantized ANN — E8's storage codes as the SEARCH
    * path: candidate selection is a compressed-domain integer
    * dot-product scan over the int8 codes (the 4×-smaller
    * representation a 100 TB serving tier actually keeps hot), and the
    * float vectors exactly re-rank only candN survivors per query
    * (round-4 cosine, the E1 key). Every candidate score is an INTEGER
    * dot product (≤ dim·127², exact in double in ANY summation order)
    * times two bit-identical per-vector scales, so the DuckDB oracle
    * replays selection AND re-rank bit-for-bit — the gate proves the
    * quantized scan is observationally exact at this corpus, the same
    * invariant-gate discipline as ann_ivf_full/ann_pq_full.
    */
  def sq8Topk(spark: SparkSession, dir: String): DataFrame =
    sq8TopkOn(vecs(spark, dir), col("vec_id") < 10, candN = 50,
      memoKey = Some(s"ann.model:$dir"))

  /** DataFrame-generic SQ8 search; input needs (vec_id, v, norm). The
    * int8 codes + scales are the SQ8 serving index (what the
    * compressed tier stores).
    */
  private[graft] def sq8TopkOn(all: DataFrame, isQuery: Column, candN: Int,
      memoKey: Option[String] = None): DataFrame = {
    val sq8 = coded(all.sparkSession, memoKey, "sq8coded")(all
      .withColumn("amax", array_max(transform(col("v"), x => abs(x.cast("double")))))
      .filter(col("amax") > 0)
      .withColumn("scale", col("amax") / lit(127.0))
      .withColumn("qs", transform(col("v"), x =>
        least(greatest(floor(x.cast("double") / col("scale") + lit(0.5)),
          lit(-127.0)), lit(127.0)))))
    val ip = aggregate(zip_with(col("qqs"), col("qs"), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    exactTop5(candidates(againstQueries(sq8, isQuery, "qs" -> "qqs", "scale" -> "qscale"),
      ip * col("qscale") * col("scale"), asc = false, candN), all, isQuery)
  }

  /** E11: truncated-dimension ANN (the Matryoshka/MRL serving trick):
    * candidate selection scans only the FIRST d0 of dim dimensions —
    * a prefix of an embedding is itself an embedding under MRL
    * training, so the hot scan streams d0/dim of the vector bytes
    * (here 16/64 = 4× less I/O, multiplicative with E8/E9's int8 cut)
    * — then the full vectors exactly re-rank candN survivors per
    * query. The candidate score is the dot of DYADIC-QUANTIZED unit
    * prefixes (the E5 2⁻²⁰-grid trick — what a quantized MRL serving
    * tier stores anyway): every product is a 40-fraction-bit rational
    * double represents exactly and the ≤64-term sum stays exact, so
    * the candidate ORDER is bit-identical in any summation order on
    * any engine — the DuckDB oracle replays selection AND re-rank —
    * observational exactness, the E9 gate discipline. `ann_mrl_full`
    * pins the invariant candN <= 0 (no pruning) ⇒ output ≡ brute force
    * (the E7b exhaustive-gate form).
    */
  def mrlTopkAt(spark: SparkSession, dir: String, d0: Int, candN: Int,
      quantize: Boolean = true): DataFrame =
    mrlTopkOn(vecs(spark, dir).filter(col("norm") > 0),
      col("vec_id") < 10, d0, candN, quantize,
      memoKey = Some(s"ann.model:$dir"))

  /** DataFrame-generic MRL search; input needs (vec_id, v, u, norm).
    * Exposed so the scale probe can drive the same plan over
    * replicated corpora.
    */
  private[graft] def mrlTopkOn(all: DataFrame, queryPred: Column,
      d0: Int, candN: Int, quantize: Boolean = true,
      memoKey: Option[String] = None): DataFrame = {
    // the quantized prefix is the MRL serving representation (what a
    // truncated-dimension tier stores); it is independent of candN, so
    // ann_mrl and ann_mrl_full share one frame
    val pfx = coded(all.sparkSession, memoKey, s"mrlpfx:d0=$d0:q=$quantize")(
      all.withColumn("pu",
        if (quantize) expr(
          s"transform(slice(u, 1, $d0), x -> floor(x * 1048576.0D + 0.5D) / 1048576.0D)")
        else expr(s"slice(u, 1, $d0)")))
    exactTop5(candidates(againstQueries(pfx, queryPred, "pu" -> "qpu"),
      call_function("vec_dot", col("qpu"), col("pu")), asc = false, candN),
      all, queryPred)
  }

  def mrlTopk(spark: SparkSession, dir: String): DataFrame =
    mrlTopkAt(spark, dir, 16, 50)

  /** E11's invariant gate (the E7b candN=0 discipline): when the
    * prefix stage is not allowed to drop ANY candidate, the two-stage
    * pipeline must be observationally the brute force — a theorem
    * about the plumbing, independent of prefix semantics (the
    * quantized selection's own exactness is pinned by ann_mrl's
    * bit-replay oracle).
    */
  def mrlFull(spark: SparkSession, dir: String): DataFrame =
    mrlTopkAt(spark, dir, 16, 0)

  /** E12: 1-bit (binary/sign) quantized ANN — the extreme end of the
    * E8→E9→E11 compression ladder: each 64-dim vector packs to 64
    * SIGN BITS (two 32-bit halves in BIGINTs, so neither engine's
    * shift arithmetic touches the sign bit), candidates are ranked by
    * Hamming distance (xor + popcount — pure integers, bit-identical
    * on any engine in any order), and the float vectors exactly
    * re-rank candN survivors. This is the 256× storage cut (64 B →
    * 8 B + scale-free) modern binary-embedding serving uses for the
    * first-stage scan; the DuckDB oracle replays packing, Hamming
    * ranking AND re-rank bit-for-bit — observational exactness, the
    * E9 discipline.
    */
  def bqTopk(spark: SparkSession, dir: String): DataFrame =
    bqTopkOn(vecs(spark, dir).filter(col("norm") > 0), col("vec_id") < 10,
      memoKey = Some(s"ann.model:$dir"))

  /** DataFrame-generic binary-quantized search; input needs
    * (vec_id, v, norm). Exposed for the scale probe.
    */
  private[graft] def bqTopkOn(all: DataFrame, queryPred: Column,
      candN: Int = 50, memoKey: Option[String] = None): DataFrame = {
    def half(off: Int) = expr(
      s"""aggregate(sequence(0, 31), 0L,
         |  (acc, i) -> acc | IF(element_at(v, i + $off + 1) > 0,
         |                       shiftleft(1L, i), 0L))""".stripMargin)
    // the sign-bit packing is the binary index (64 bits/vector)
    val bq = coded(all.sparkSession, memoKey, "bqcoded")(
      all.withColumn("c1", half(0)).withColumn("c2", half(32)))
    exactTop5(candidates(againstQueries(bq, queryPred, "c1" -> "qc1", "c2" -> "qc2"),
      expr("bit_count(c1 ^ qc1) + bit_count(c2 ^ qc2)"), asc = true, candN),
      all, queryPred)
  }

  /** E8: symmetric int8 embedding quantization — the storage path that
    * makes a 100 TB vector corpus servable (4x memory cut vs float32;
    * what FAISS calls SQ8). Per vector: scale = max|x|/127, q_i =
    * floor(x_i/scale + 0.5) clamped to [-127, 127], and the quality
    * report a quantized index build logs — the scale, the worst
    * per-dimension reconstruction error, and how many dimensions
    * saturated the clamp.
    *
    * Determinism: every reported number is either an integer (n_sat),
    * an order-free max over exact IEEE expressions (max_err_q), or one
    * divide (scale) — no float accumulation anywhere, so the 1e-6
    * output grid is bit-stable across engines and partitionings. The
    * whole operator is a zero-shuffle map stage (the F22 contract):
    * quantization is embarrassingly parallel and the plan must show it.
    */
  def quantize(spark: SparkSession, dir: String): DataFrame =
    sq8Report(withSq8(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"))))

  /** E8's symmetric per-vector SQ8 encode over an explicit (vec_id, v)
    * frame, keeping the double-widened source alongside the codes:
    * (vec_id, e, scale, qs) in ONE scan (the batch gate's zero-shuffle
    * map stage — PlanSpec pins it).
    */
  private[graft] def withSq8(v0: DataFrame): DataFrame =
    v0.select(col("vec_id"),
        transform(col("v"), x => x.cast("double")).as("e"))
      .withColumn("amax", array_max(transform(col("e"), x => abs(x))))
      .filter(col("amax") > 0)
      .withColumn("scale", col("amax") / lit(127.0))
      .withColumn("qs", transform(col("e"), x =>
        least(greatest(floor(x / col("scale") + lit(0.5)), lit(-127.0)),
          lit(127.0))))
      .select(col("vec_id"), col("e"), col("scale"), col("qs"))

  /** The codes alone — what the H20 streaming vector-store lands. */
  private[graft] def sq8CodesOn(v0: DataFrame): DataFrame =
    withSq8(v0).select(col("vec_id"), col("scale"), col("qs"))

  /** The E8 gate projection from (vec_id, scale, qs, e): quantized
    * scale, max reconstruction error, saturation count.
    */
  private[graft] def sq8Report(withE: DataFrame): DataFrame =
    withE.select(col("vec_id"),
      (floor(col("scale") * 1e6 + 0.5) / 1e6).as("scale_q"),
      (floor(array_max(zip_with(col("e"), col("qs"),
        (x, q) => abs(x - q * col("scale")))) * 1e6 + 0.5) / 1e6)
        .as("max_err_q"),
      size(filter(col("qs"), q => abs(q) === 127.0)).as("n_sat"))
}
