package graft

/** Writes PLANS.md: the formatted physical plans of headline queries,
  * regenerated per round (`SPARK_GRAFT_CPUS=8 sbt "runMain graft.PlanDump"`,
  * on the mains' [[LocalSession]]). The point is
  * reviewability of the scale-relevant plan properties: pushed filters,
  * pruned schemas, broadcast joins, partial aggregation, codegen spans.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names = Seq("q1_agg", "q5_multijoin", "select_range", "topk",
      "bottomk", "dedup_minhash", "ann_bruteforce", "asof_join",
      "dedup_embedding", "dedup_embedding_lsh", "dedup_ngram_jaccard",
      "holt_winters", "holt_winters_seasonal", "logical_ops",
      "subquery_rate", "match_conj_stored", "binary_op",
      "quantile_sketch", "rollup_agg", "freq_items", "ann_centroid",
      "text_decontaminate", "bm25_topk", "range_eval", "mad_over_time",
      "dedup_containment", "dedup_url", "shard_assign", "cube_agg",
      "rate_extrapolated", "dedup_lines", "corpus_diff", "ann_filtered",
      "mm_phash_dedup", "ngram_count", "quality_classify",
      "temperature_mix", "band_join", "gopher_filter", "bpe_pairs",
      "dedup_bloom", "embed_quantize", "data_audit", "mv_merge",
      "ngram_novelty",
      // round 7: the SQL/PromQL surfaces and the streamed-store gate
      "sql_select_range", "promql_rate_sum", "promql_instant",
      "promql_binop", "match_conj_streamed", "promql_range_agg",
      "promql_subquery", "promql_setop", "promql_groupleft",
      "promql_deriv", "promql_count_values", "promql_streamed",
      "sessionize", "text_chunk", "sketch_cms", "promql_topk_by",
      "ann_sq8", "ancestor_closure", "promql_range_subquery",
      // round 8: the explicit vector-matching (VecMatch) shape — the
      // one-side operand must broadcast into the final match join —
      // plus the new dedup/ANN/IO shapes
      "promql_ignoring", "promql_groupright", "promql_histq",
      "dedup_editdist", "text_cdc", "ann_mrl", "ann_bq", "ann_ivfpq",
      "io_pruned", "stream_interval_join",
      // round 9: the snapshot TVF read, the zero-exchange bucketed
      // composition, the new PromQL operator family, and the
      // cluster-scoped semantic dedup + NFC normalization shapes
      "match_at", "io_bucketed", "io_retention", "promql_mod",
      "promql_limitk", "promql_atan2", "text_normalize",
      "dedup_semantic", "dedup_semantic_full",
      // round 9 batch 2: the rule engine, the commit-log lakehouse
      // reads, and the new text/dedup/sampling map+join shapes
      "promql_alerts", "promql_record", "io_timetravel", "io_cdf",
      "text_html_strip", "text_pii_structured", "scd2",
      "dedup_substring", "ann_kcenter",
      // round 9 batch 3: the gapfill window stack, the bounded-
      // histogram percentile cut, the trailing-window features, and
      // the info() as-of broadcast join
      "gapfill", "quality_cut", "feature_assembly", "promql_info",
      "index_churn",
      // round 9 session 3: the join-free paragraph keep-first window,
      // the broadcast MMR candidate scan, the Gopher char-fraction
      // two-aggregate join, and the pair-assembly composition
      "dedup_paragraph", "ann_mmr", "text_gopher_rep", "mm_pairs",
      // round 9 session 4: the vocab-broadcast BPE encode, the
      // tier-scan rollup dashboard, the shuffle-free priority
      // sample, the broadcast-λ DSIR scorer, and the commit-stats
      // skipping read
      "bpe_encode", "rollup_serve", "weighted_sample", "dsir_sample",
      "io_skipping", "rollup_weekly", "match_tombstoned",
      "match_compacted",
      // round 10: the native-histogram family (sample-model window
      // passes + join-free quantile), the ordered rule-group chain,
      // and the native range grid
      "promql_native_histq", "promql_native_rate", "promql_native_agg",
      "promql_native_range", "promql_rule_group",
      // round 10 cont.: the RRF fusion, the as-of dimension join, the
      // span-removal window, the admission guard, the stream-built
      // text index
      "ann_hybrid_rrf", "scd2_asof", "dedup_span_remove",
      "index_guard", "stream_bm25", "io_evolve_log", "stream_guard",
      // round 11: the mixed-schema native sum (downscale fold), the
      // schema-3 quantile, the NHCB array-arithmetic family, the
      // limit-capped rule group, the extrapolated-rate window, the
      // DV merge-on-read read, and the DSv2 connector reads
      "promql_native_schema", "promql_native_q3", "promql_nhcb",
      "promql_nhcb_rate", "promql_nhcb_agg", "promql_rule_limit",
      "promql_rate_extrap", "io_dv", "io_timetravel_dsv2",
      "io_skipping_dsv2",
      // round 12 DML/catalog shapes (round-12 VERDICT #5): the
      // ReplaceData group-COW rewrites (runtime group filtering must
      // plan only touched files), the catalog/CTAS reads, the
      // variable-ladder NHCB family, the offset rule group, and the
      // streamed CDC apply
      "io_update", "io_merge_sql", "io_catalog", "io_ctas",
      "stream_merge", "promql_nhcb_var", "promql_nhcb_var_rate",
      "promql_rule_offset", "io_overwrite", "io_write_txn",
      // round 13: positional-DV reads (per-file positional filter in
      // the connector), the reinsert merge, ALTER-evolved reads, and
      // the streaming-source/update twins' landed reads
      "io_dv_dsv2", "io_merge_reinsert", "io_alter_add",
      "stream_table_source", "stream_update", "io_update_mor",
      // round 14: the new lakehouse verbs' landed reads (zorder
      // band-skipping, region replace, generated/evolved cuts, the
      // COPY INTO ledger read), the streaming CDF aggregate, and the
      // keep_firing_for window stack
      "io_optimize_zorder", "io_replace_where", "io_generated",
      "io_merge_evolve", "io_copy_into", "stream_cdf_source",
      "stream_replace", "promql_alerts_keep", "io_alter_widen",
      "io_identity")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `graft.PlanDump` at sf0.001. What to look for:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` for\n")
    sb.append("dims, `partial_` aggregates before exchanges, codegen `*(n)`\n")
    sb.append("stage markers, `TakeOrderedAndProject` for top-N.\n")
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, dir)
      df.collect() // finalize AQE so the plan shows real join/codegen choices
      sb.append(s"\n## $n\n\n```\n")
      // strip ANSI escapes and control bytes (plan trees can carry
      // them via codegen'd literals) so the artifact stays plain text
      // that grep/diff treat as such
      val plan = normalize(df.queryExecution.executedPlan.toString).take(8000)
        .replaceAll("\u001b\\[[0-9;]*m", "")
        .filter(c => c == '\n' || c == '\t' || c >= ' ')
      sb.append(plan)
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }

  /** Replace what changes from run to run with fixed tokens, so two
    * runs on one commit write the same file and a diff shows only plan
    * changes: expression and plan ids, AQE stage and codegen stage
    * numbers, JVM identity hashes and lambda class names, the per-JVM
    * temp directories (with their fixture counters and random
    * suffixes), and the file lists of scans under the temp directory
    * (writer-unique part names, cut at a length that moves with the
    * temp path's). */
  private[graft] def normalize(plan: String): String =
    Seq(
      "#\\d+" -> "#N",
      "plan_id=\\d+" -> "plan_id=N",
      "(QueryStage) \\d+" -> "$1 N",
      "\\*\\(\\d+\\)" -> "*(N)",
      "\\$Lambda\\$?\\d*/0x[0-9a-f]+" -> "\\$Lambda",
      "((?:\\[+L?)?[A-Za-z_$][\\w$]*(?:\\.[\\w$]+)+;?|\\[+[A-Z])@[0-9a-f]+" -> "$1@H",
      "(graft_jvm_)\\d+" -> "$1N",
      "(graft_jvm_N/\\w+_)\\d+\\b" -> "$1N",
      "(graft_[a-z_]+_[0-9a-f]{8})\\d+" -> "$1N",
      ("(InMemoryFileIndex\\(\\d+ paths?\\))\\[file:" +
        java.util.regex.Pattern.quote(System.getProperty("java.io.tmpdir")) +
        "[^\\]]*?(?:\\.\\.\\.|\\])") -> "$1[tmp]"
    ).foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }
}
