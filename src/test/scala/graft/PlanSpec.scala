package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the properties that make these operators
  * survive a 100× scale-up. A green run means filters reach the parquet
  * scan, small dims broadcast, and scans read only the columns they
  * need — checked on the actual executed plans, not by convention.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q1: shipdate filter pushed to parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("q1: scan prunes to the referenced columns only") {
    val p = plan("q1_agg")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_partkey") && !read.contains("l_suppkey"), read)
  }

  test("q5: all dimension joins broadcast (fact never shuffles for dims)") {
    val p = plan("q5_multijoin")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
  }

  test("select_range: time range pushed as INT64 stats filter on raw nanos") {
    val p = plan("select_range")
    assert(p.contains("GreaterThanOrEqual(ts,") || p.contains("GreaterThanOrEqual(ts_ns"),
      s"time range not pushed to scan:\n$p")
  }

  test("match_eq: one filter over the cached catalog, no shuffle or join") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = SparkEntry.queries("match_eq")(spark, dir)
    df.collect() // AQE (if it applies) settles its final plan on execution
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // `collect` walks the query's own operators; the catalog's cached
    // build plan hangs off InMemoryTableScan as an inner child and is
    // not part of this query's execution
    val nodes = p.collect { case n => n }
    assert(nodes.forall {
      case _: ProjectExec | _: FilterExec | _: InMemoryTableScanExec |
          _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec => true
      case _ => false
    }, s"match_eq plan holds more than a filter over the catalog scan (an exchange, a join?):\n$p")
    assert(nodes.exists(_.isInstanceOf[FilterExec]), s"matcher predicate missing:\n$p")
    assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]), s"catalog cache not read:\n$p")
  }

  test("q3: top-N uses TakeOrdered, not a full global sort") {
    val p = plan("q3_join")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("GlobalSort"), p)
  }

  test("q1: aggregation is partial (map-side combine before shuffle)") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate") && p.contains("partial_"), p)
  }

  test("dedup_embedding: candidates are bucket-local, no cross join in the plan") {
    val df = SparkEntry.queries("dedup_embedding")(spark, dir)
    df.collect() // AQE: final plan only materializes after execution
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"corpus² cross join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"corpus² nested-loop join:\n$p")
  }

  test("embedding ops keep whole-stage codegen (VecDot does not break spans)") {
    // AQE only materializes codegen nodes in the *final* plan — execute first
    val df = SparkEntry.queries("dedup_embedding")(spark, dir)
    df.collect()
    // '*(n)' prefixes mark WholeStageCodegen stages in the plan string
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(") || p.contains("WholeStageCodegen"), p)
    assert(p.linesIterator.exists(l => l.contains("vecdot") && l.contains("*(")),
      s"vecdot not inside a codegen stage:\n$p")
    assert(!p.toLowerCase.contains("zip_with"), "interpreted HOF in hot path")
  }

  test("dedup_embedding_lsh: candidate join is bucket-local (hash join on (t, bucket))") {
    val df = SparkEntry.queries("dedup_embedding_lsh")(spark, dir)
    df.collect() // AQE: final plan only materializes after execution
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"corpus² cross join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"corpus² nested-loop join:\n$p")
    // the self-join keys on (t, bucket): comparisons stay Σ bucket², never corpus²
    assert(p.contains("bucket"), s"no bucket-keyed join in plan:\n$p")
    // the signature expression runs inside whole-stage codegen (one
    // reference-object plane matrix), not as an interpreted fallback
    assert(p.linesIterator.exists(l =>
      l.toLowerCase.contains("lshbuckets") && l.contains("*(")),
      s"lshbuckets not inside a codegen stage:\n$p")
  }

  test("topk/bottomk: bounded-heap aggregate, no per-group window sort") {
    for (name <- Seq("topk", "bottomk")) {
      val p = plan(name)
      assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
        s"$name sorts whole groups through a window:\n$p")
      assert(p.contains("ObjectHashAggregate"), s"$name lost the TypedImperative heap:\n$p")
    }
  }

  test("holt_winters: bounded state — no per-series collect_list buffer") {
    val p = plan("holt_winters")
    assert(!p.contains("collect_list"),
      s"holt_winters buffers whole series in memory:\n$p")
    // the fold runs over a tsid-partitioned, time-sorted stream
    assert(p.contains("MapPartitions") || p.contains("mapPartitions"), p)
    assert(p.contains("Sort "), p)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    import org.apache.spark.sql.functions._
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // thresholds sized for the test corpus (defaults are 10GB-scale);
      // at 100 TB the defaults fire on their own
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val li = Tables.lineitem(spark, dir)
        .groupBy("l_orderkey").agg(sum("l_quantity").as("qty"))
      val ord = Tables.orders(spark, dir)
        .filter(col("o_orderdate") < lit("1992-06-01").cast("timestamp"))
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      // Catalyst injected a bloom-filter build from the selective side
      // into the fact side's pre-shuffle scan stage
      assert(p.contains("bloom_filter_agg"), s"no runtime bloom filter injected:\n$p")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning fires on the day-partitioned layout") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    sources.Io.writePartitionedSamples(spark, dir, s"$tmp/ev")
    val ev = spark.read.parquet(s"$tmp/ev")
    // dim with a selective predicate NOT derivable statically — only a
    // runtime subquery can prune the fact partitions
    val dim = spark.range(0, 20).select(
      date_format(expr("date_add(date '2024-01-01', cast(id as int))"), "yyyy-MM-dd").as("day"),
      (col("id") % 7).as("tag"))
    val j = ev.join(dim.filter(col("tag") === 1), Seq("day"))
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), s"no dynamic partition pruning:\n$p")
  }

  test("corr_subquery: decorrelated — one lineitem aggregate, part broadcasts") {
    val p = plan("corr_subquery")
    assert(p.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the correlated average comes from ONE reusable aggregate: lineitem
    // is scanned exactly twice (base + avg build), never once per row
    val liScans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(liScans == 2, s"lineitem scanned $liScans times:\n$p")
  }

  test("seq_pack: one repartition by source feeds the bounded-state fold") {
    val p = plan("seq_pack")
    assert(p.contains("MapPartitions") || p.contains("mapPartitions"),
      s"packing fold not a mapPartitions:\n$p")
    assert(!p.contains("collect_list"), s"packing buffers whole sources:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges:\n$p")
  }

  test("absent_over_time: span is a broadcast join, no step grid materialized") {
    val p = plan("absent_over_time")
    assert(p.contains("BroadcastExchange"), s"span not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // no explode/sequence of per-step rows anywhere — cost is range-free
    assert(!p.contains("Generate "), s"step grid materialized:\n$p")
  }

  test("new aggregates keep map-side partial aggregation") {
    for (name <- Seq("time_funcs", "agg_stats")) {
      val p = plan(name)
      assert(p.contains("partial_"), s"$name lost partial aggregation:\n$p")
    }
  }

  test("bm25: query terms broadcast, top-k on the bounded heap, no window") {
    val p = plan("bm25_topk")
    // the postings stream joins the (tiny) query-term/idf table by
    // broadcast — no shuffle of the corpus keyed on term
    assert(p.contains("BroadcastHashJoin"), s"bm25 shuffles the postings stream:\n$p")
    // ranking carries <= k entries per query through partial agg
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
      s"bm25 ranks through a window sort:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"bm25 lost the TypedImperative heap:\n$p")
  }

  test("dedup_simhash: token hash is the codegen byte loop, not interpreted HOFs") {
    val p = plan("dedup_simhash")
    // the dual polynomial collapses into the (doc, word) aggregate's
    // output projection; what must NOT be present is the old
    // formulation's interpreted machinery — per-char split + two
    // lambda folds materializing arrays per word
    assert(!p.contains("lambdafunction") && !p.toLowerCase.contains("aggregate(split"),
      s"simhash token hash regressed to interpreted higher-order functions:\n$p")
  }

  test("dedup_lines: boilerplate table broadcasts back onto the line stream") {
    val p = plan("dedup_lines")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"hot-line join should broadcast:\n$p")
  }

  test("corpus_diff: one full-outer join, no extra shuffles past the two sides") {
    val p = plan("corpus_diff")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_filtered: label predicate rides the broadcast hash join, no NLJ") {
    val p = plan("ann_filtered")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"filtered ANN must stay an equi-join on label:\n$p")
  }

  test("mm_phash_dedup: chunk-blocked candidate join, never all-pairs") {
    val p = plan("mm_phash_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"phash candidates must be chunk-bucket-local:\n$p")
    // fingerprint is the BlockHash codegen byte loop, not the HOF
    // per-char array formulation (interpreted, ~4x slower at 10x);
    // the cache boundary hides it from the executed plan, so check
    // the analyzed plan for the expression and both for the lambdas
    val a = SparkEntry.queries("mm_phash_dedup")(spark, dir)
      .queryExecution.analyzed.toString
    assert(a.toLowerCase.contains("blockhash") && !a.contains("lambdafunction")
        && !p.contains("lambdafunction"),
      s"phash fingerprint regressed to interpreted higher-order functions:\n$a")
  }

  test("ngram_count: two-level aggregate, top-100 via TakeOrdered, no Expand") {
    val p = plan("ngram_count")
    // document frequency falls out of the (g, doc) pre-aggregate as a
    // plain count — a count-distinct Expand would double the shuffle
    assert(!p.contains("Expand"), s"ngram_count pays a count-distinct Expand:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 is a global sort:\n$p")
    assert(p.contains("partial_"), s"ngram_count lost partial aggregation:\n$p")
  }

  test("ngram_novelty: df via two-level aggregate, no count-distinct Expand") {
    val p = plan("ngram_novelty")
    assert(!p.contains("Expand"), s"novelty df pays a count-distinct Expand:\n$p")
    assert(p.contains("partial_"), s"ngram_novelty lost partial aggregation:\n$p")
  }

  test("quality_classify: codegen token hash feeds one partial aggregate") {
    val p = plan("quality_classify")
    assert(!p.contains("lambdafunction"),
      s"classifier hash regressed to interpreted higher-order functions:\n$p")
    assert(p.contains("partial_"), s"quality_classify lost partial aggregation:\n$p")
  }

  test("temperature_mix: 1-row denominator broadcasts, sources never shuffle twice") {
    val p = plan("temperature_mix")
    assert(!p.contains("SortMergeJoin"), s"denominator join shuffles:\n$p")
    assert(p.contains("partial_"), s"temperature_mix lost partial aggregation:\n$p")
  }

  test("histogram_stats: one-pass conditional-sum aggregate (no per-bucket scans)") {
    val p = plan("histogram_stats")
    assert(p.contains("partial_"), s"histogram_stats lost partial aggregation:\n$p")
    assert("Scan parquet".r.findAllIn(p).size <= 1,
      s"histogram_stats scans the events table more than once:\n$p")
  }

  test("band_join: bucketed range join is a hash equi-join, never a nested loop") {
    val p = plan("band_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to O(N*M) compares:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"bucket equi-join missing:\n$p")
  }

  test("gopher_filter, clamp_funcs, text_chunk: pure map stages, zero exchanges") {
    for (name <- Seq("gopher_filter", "clamp_funcs", "text_chunk")) {
      val p = plan(name)
      assert(!p.contains("Exchange"),
        s"$name is embarrassingly parallel but its plan shuffles:\n$p")
    }
  }

  test("bpe_pairs: bounded-keyspace aggregate, top-50 via TakeOrdered") {
    val p = plan("bpe_pairs")
    assert(p.contains("partial_"), s"bpe_pairs lost map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-50 is a global sort:\n$p")
  }

  test("data_audit: FK orphan check is a broadcast anti-join, checks ride scalar aggregates") {
    val p = plan("data_audit")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"FK check must broadcast the dimension keys:\n$p")
    assert(p.contains("partial_"), s"audit aggregates lost map-side combine:\n$p")
  }

  test("dedup_bloom: codegen bloom probe + broadcast confirm, corpus never shuffles") {
    val p = plan("dedup_bloom")
    assert(p.contains("might_contain"),
      s"bloom prefilter missing from the probe plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"confirm join must broadcast survivors:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("embed_quantize: zero-shuffle map stage") {
    val p = plan("embed_quantize")
    assert(!p.contains("Exchange"),
      s"quantization is embarrassingly parallel but its plan shuffles:\n$p")
  }

  test("sketch_cms: bounded-keyspace counters partial-agg, broadcast probe") {
    val p = plan("sketch_cms")
    assert(p.contains("partial_"), s"counter build lost map-side combine:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe must broadcast the d×w counter table:\n$p")
    // the limit applies to the POST-aggregation token table (bounded):
    // either TakeOrdered or a single-partition limit is fine, as long
    // as the raw token stream itself is never globally sorted
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"), p)
  }

  test("sessionize: one exchange on user_id feeds window + both agg levels") {
    val p = plan("sessionize")
    // the window sort's hashpartitioning(user_id) satisfies the
    // clustering of BOTH downstream aggregations — a second exchange
    // would mean the session/user aggs re-shuffle what is already
    // co-located
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"sessionize should shuffle exactly once:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("dedup_paragraph: two exchanges (paragraph window + doc regroup), no joins") {
    val p = plan("dedup_paragraph")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"keep-first + reassembly should shuffle exactly twice:\n$p")
    assert(!p.contains("Join"), s"paragraph dedup must be join-free:\n$p")
  }

  test("ann_mmr: candidate scan broadcasts the query batch, no sort-merge join") {
    // the emitted frame is the collected greedy (LocalTableScan by
    // design — re-rank state is |Q|·candN); the plan to pin is the
    // DISTRIBUTED candidate stage
    val u = similarity.Ann.kcenterUnit(spark,
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").as("v")))
    val p = similarity.Ann.mmrCandidates(spark, u, 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query batch should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the queries:\n$p")
  }

  test("bpe_encode: vocab broadcasts back onto the corpus, no sort-merge join") {
    val p = plan("bpe_encode")
    assert(p.contains("BroadcastHashJoin"), s"vocab should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the vocab join:\n$p")
  }

  test("dedup_ngram_jaccard: candidate join reads only shingle prefixes") {
    // the prefix filter must appear below the self-join: rank <= n - ceil(n*t) + 1
    val p = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("CEIL") || p.contains("ceil"), p)
  }

  test("promql vector matching: the one side broadcasts, no sort-merge join") {
    // both VecMatch operands are per-series aggregates (∝ #series ×
    // grid points); post-agg stats are unknown to Catalyst, which
    // would pick a sort-merge join — the evaluator must broadcast the
    // reduced (one) side explicitly
    for (q <- Seq("promql_ignoring", "promql_groupleft", "promql_binop")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q final match shuffles both sides:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q lost the broadcast:\n$p")
    }
  }

  test("native histograms: no sort-merge joins anywhere in the family") {
    // histDiff / the rate gate / the sum aggregation all join
    // post-aggregation frames (stats invisible to Catalyst) — every
    // join must ride an explicit broadcast of the series-bounded side
    for (q <- Seq("promql_native_histq", "promql_native_rate",
        "promql_native_agg", "promql_native_range")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q picked a sort-merge join:\n$p")
    }
  }

  test("dsir scorer: the lambda table broadcasts onto the feature stream") {
    // the gated query reads the landed sinks back, so the scoring plan
    // is asserted on the per-batch scorer itself (what foreachBatch
    // runs): λ is B-bounded and must broadcast, never shuffle
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val lam = text.TextAnalysis.dsirLambda(spark, dir)
    val p = text.TextAnalysis.dsirScoreOn(spark, docs, lam)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"dsir lambda join lost the broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dsir scorer shuffles the lambda join:\n$p")
  }

  test("rrf fusion: union + groupBy, no join at all in the fused ranking") {
    val p = plan("ann_hybrid_rrf")
    assert(!p.contains("SortMergeJoin"), s"rrf fused through a sort-merge join:\n$p")
  }

  test("ancestor_closure: consumed plan reads the memoized converged cache") {
    // Each doubling round's lineage references the previous round twice,
    // so an uncached consumption replays ~2^rounds base scans. The
    // builder must hand back a select over ONE in-memory relation —
    // no Join and no parquet scan may survive in the consumed plan.
    val df = SparkEntry.queries("ancestor_closure")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // toString inlines the cached relation's stored BUILD lineage below
    // the InMemoryRelation marker; only the prefix above it executes.
    val consumed = p.linesIterator
      .takeWhile(l => !l.contains("InMemoryRelation")).mkString("\n")
    assert(consumed.contains("InMemoryTableScan"),
      s"converged frame not served from cache:\n$p")
    assert(!consumed.contains("Join"),
      s"doubling join tree leaked into consumption:\n$consumed")
    assert(!consumed.contains("FileScan"),
      s"base-table scan leaked into consumption:\n$consumed")
    Memo.clear(spark)
  }

  test("round-14 DV versions keep VECTORIZED parquet: the positional " +
      "filter serves columnar batches (survivor copy), results exact") {
    import spark.implicits._
    val t = java.nio.file.Files
      .createTempDirectory("graft_dv_columnar").toString + "/t"
    sources.Io.tableAppend(
      (1L to 1000L).toDF("k").withColumn("v", col("k") * 2)
        .repartitionByRange(2, col("k")), t)
    // sparse delete → DV entries survive (under the COW threshold)
    sources.Io.tableDeleteWhereDv(spark, t,
      col("k") % 100 === 0 && col("k") <= 500)
    assert(sources.Io.dvDirsOf(spark, t, 1L).nonEmpty)
    val df = spark.read.format("graft").load(t)
    // the scan must plan COLUMNAR (a ColumnarToRow above the batch
    // scan) — before round 14 DV versions declined vectorized reads
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ColumnarToRow"),
      s"DV version must keep vectorized parquet:\n$p")
    assert(p.contains("graft DV positional filter"),
      s"positional filter missing from the scan description:\n$p")
    // exactness through the columnar path: 5 rows deleted, the rest
    // served with correct values (projection indices, survivor copy)
    assert(df.count() == 995L)
    assert(df.filter(col("k") % 100 === 0 && col("k") <= 500).count() == 0)
    assert(df.agg(org.apache.spark.sql.functions.sum(col("v")))
      .head().getLong(0) ==
      2L * ((1L to 1000L).sum - Seq(100L, 200L, 300L, 400L, 500L).sum))
    // column pruning still reaches parquet behind the filter
    val pruned = df.select(col("k")).queryExecution.executedPlan.toString
    assert(pruned.contains("ColumnarToRow"), pruned)
  }

  test("PlanDump normalizes what changes between runs, and keeps table " +
      "versions") {
    val tmp = System.getProperty("java.io.tmpdir")
    val run = Seq(
      "HashAggregate(keys=[typ#12], functions=[count(1)], output=[typ#12, n#40L])",
      "Exchange hashpartitioning(typ#12, 4), ENSURE_REQUIREMENTS, [plan_id=387]",
      "+- ShuffleQueryStage 11",
      "+- *(4) Project [k#1L]",
      s"Location: InMemoryFileIndex(2 paths)[file:$tmp/graft_jvm_7/t/data/c..., PartitionFilters: []",
      "MapElements graft.tsdb.Tsdb$$$Lambda$5518/0x00007ff395541e88@55e9b119, obj#9",
      "lshbuckets(v, [[D@2313c291), [Lscala.Tuple2;@e934485",
      "BatchScan graft:/tmp/graft_jvm_2668095796558621944/graft_io_tt_e7a2c5e9_4@2[k#1L]",
      "BatchScan graft:/tmp/graft_copyinto_e7a2c5e92931625006801286219/table@1[k#2L]",
      "BatchScan graft:/tmp/graft_h34_rec1_e7a2c5e9/wh/g/t@3[k#3L]")
    assert(PlanDump.normalize(run.mkString("\n")).split("\n").toSeq == Seq(
      "HashAggregate(keys=[typ#N], functions=[count(1)], output=[typ#N, n#NL])",
      "Exchange hashpartitioning(typ#N, 4), ENSURE_REQUIREMENTS, [plan_id=N]",
      "+- ShuffleQueryStage N",
      "+- *(N) Project [k#NL]",
      "Location: InMemoryFileIndex(2 paths)[tmp], PartitionFilters: []",
      "MapElements graft.tsdb.Tsdb$$$Lambda@H, obj#N",
      "lshbuckets(v, [[D@H), [Lscala.Tuple2;@H",
      "BatchScan graft:/tmp/graft_jvm_N/graft_io_tt_e7a2c5e9_N@2[k#NL]",
      "BatchScan graft:/tmp/graft_copyinto_e7a2c5e9N/table@1[k#NL]",
      "BatchScan graft:/tmp/graft_h34_rec1_e7a2c5e9/wh/g/t@3[k#NL]"))
  }
}
