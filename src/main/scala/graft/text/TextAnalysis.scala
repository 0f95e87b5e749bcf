package graft.text

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (SURVEY.md §2.F).
  * Everything is pure column arithmetic (whole-stage codegen, no UDFs)
  * and every operator is replicated exactly by its DuckDB oracle.
  */
object TextAnalysis {

  private def words: Column = split(col("text"), " ")

  /** F17: domain authority (PageRank) over the corpus link graph —
    * the provenance-weighting signal crawl-based curation uses to
    * prefer documents from well-linked domains (OpenWebText's karma
    * filter, CommonCrawl domain ranking). The corpus carries no
    * natural links, so each document deterministically contributes
    * two outlinks between the 37 `site<k>` domains (affine maps mod
    * 37, self-loops dropped) and the oracle rebuilds the identical
    * multigraph.
    *
    * 10 damped (d=0.85) power iterations. Each per-edge contribution
    * rank·w/outw and each updated rank is quantized to the dyadic
    * 2^-20 grid before summation, so every iteration's ranks are
    * EXACTLY representable and partition-order independent — the same
    * determinism contract as F9/F14 — and the DuckDB oracle (10
    * unrolled join+agg blocks) reproduces them bit-for-bit.
    *
    * Scale shape: the rank vector and edge list stay fully
    * distributed — per iteration one join rank⋈edges (co-partitioned
    * on src at scale), one partial-agg groupBy on dst, one left join
    * back to nodes. Driver sees nothing; 10 fixed iterations ≈ the
    * D6 propagation loop with a static iteration count.
    */
  def domainRank(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(lit("site"), pmod(col("doc_id"), lit(37))).as("src"),
        array(
          concat(lit("site"), pmod(col("doc_id") * 7 + 3, lit(37))),
          concat(lit("site"), pmod(col("doc_id") * 11 + 5, lit(37)))).as("dsts"))
      .select(col("src"), explode(col("dsts")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val edges = raw.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
    // The corpus scan + link aggregation above is the 100 TB stage
    // (map-side combined, output bounded by #domain-pairs, not #docs).
    // The ITERATION state is only the aggregated domain graph — like
    // Dedup.clusters' union-find short-circuit and IVF's driver-held
    // centroids, run the 10 power iterations locally when that graph
    // fits (a real web-domain graph is ~10^7 weighted edges ≈ driver
    // RAM), falling back to the distributed per-iteration loop above
    // it otherwise; the threshold is session-configurable so the spec
    // can force the distributed path and prove equivalence. The
    // DataFrame loop costs ~10 scheduled shuffle rounds + caches per
    // call — correct, but pure overhead for a bounded-size graph.
    val limit = spark.conf.getOption("graft.text.domainRankDriverLimit")
      .map(_.toInt).getOrElse(1000000)
    // One aggregation pass decides the path AND supplies the local
    // rows: collect at most limit+1 aggregated edges — if they all fit,
    // that IS the edge set (no second count-then-collect scan of the
    // corpus); if one more came back, the graph exceeds the driver
    // bound and the distributed loop takes over.
    val head = edges.limit(limit + 1).collect()
    if (head.length <= limit) domainRankLocal(spark, head)
    else domainRankDistributed(spark, edges)
  }

  /** Driver power iteration — bit-identical to the distributed loop:
    * contributions are quantized to the 2⁻²⁰ dyadic grid before
    * summing (sums exact, order-free) and every IEEE op replays the
    * column expressions' exact sequence.
    */
  private def domainRankLocal(spark: SparkSession,
      edgeRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    def qd(x: Double) = math.floor(x * 1048576.0 + 0.5) / 1048576.0
    val es = edgeRows.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val ow = es.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    var rank = nodes.map(_ -> 1.0 / 37.0).toMap
    for (_ <- 1 to 10) {
      val contrib = scala.collection.mutable.Map[String, Double]()
        .withDefaultValue(0.0)
      for ((s, d, w) <- es)
        contrib(d) += qd(rank(s) * w / ow(s))
      rank = nodes.map(n => n -> qd(0.15 / 37.0 + 0.85 * contrib(n))).toMap
    }
    val rows = nodes.map { n =>
      org.apache.spark.sql.Row(n, rank(n),
        ow.get(n).map(Long.box).orNull)
    }
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(rows: _*)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("domain",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("n_out",
          org.apache.spark.sql.types.LongType, nullable = true))))
  }

  /** The cache-per-iteration DataFrame loop — the shape for a domain
    * graph too large to collect.
    */
  private def domainRankDistributed(spark: SparkSession, edges0: DataFrame): DataFrame = {
    val q = (c: Column) => floor(c * lit(1048576.0) + lit(0.5)) / lit(1048576.0)
    val edges = edges0.cache()
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow")).cache()
    val ew = edges.join(outw, Seq("src"))
    val nodes = edges.select(col("src").as("domain"))
      .unionAll(edges.select(col("dst").as("domain"))).distinct().cache()
    var pr = nodes.withColumn("rank", lit(1.0) / lit(37.0)).cache()
    for (_ <- 1 to 10) {
      val contrib = pr.join(ew, pr("domain") === ew("src"))
        .select(col("dst").as("domain"),
          q(col("rank") * col("w") / col("ow")).as("c"))
        .groupBy(col("domain")).agg(sum(col("c")).as("s"))
      val next = nodes.join(contrib, Seq("domain"), "left")
        .select(col("domain"),
          q(lit(0.15) / lit(37.0) + lit(0.85) * coalesce(col("s"), lit(0.0)))
            .as("rank"))
        .cache()
      next.count() // materialize before dropping the parent
      pr.unpersist()
      pr = next
    }
    val out = pr
      .join(outw.withColumnRenamed("src", "domain"), Seq("domain"), "left")
      .select(col("domain"), col("rank"), col("ow").as("n_out"))
    edges.unpersist(); nodes.unpersist()
    out
  }

  private def countWord(w: String): Column =
    size(filter(words, x => x === lit(w)))

  /** F1: language ID — marker-word ratio heuristic (on this synthetic
    * corpus the English function words 'the'/'a' are the only markers;
    * real corpora extend the marker lists per language).
    */
  /** F28 (round 9): Unicode NFC text normalization + whitespace
    * canonicalization — the first pass of every web-scale cleaning
    * pipeline (ftfy/CCNet), as one codegen expression
    * ([[graft.functions.NfcNormalize]]) + a whitespace collapse. The
    * synthetic corpus is ASCII (already NFC), so the query INJECTS
    * decomposed sequences deterministically — every 'e' gains a
    * combining acute (U+0301) — and NFC must recompose them to 'é':
    * the oracle runs its own nfc_normalize over the same injection, so
    * composition is checked byte-for-byte, not just on a no-op path.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val injected = regexp_replace(col("text"), "e", "e\u0301")
    val norm = trim(regexp_replace(
      graft.functions.NfcNormalize.column(spark, injected), "\\s+", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(norm).as("n_chars"),
        substring(norm, 1, 80).as("head"))
  }

  def langid(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_words", size(words))
      .withColumn("en_score",
        round((countWord("the") + countWord("a")) / col("n_words").cast("double"), 4))
      .withColumn("pred", when(col("en_score") >= 0.02, lit("en")).otherwise(lit("unk")))
      .select(col("doc_id"), col("lang"), col("n_words"), col("en_score"), col("pred"))

  /** F2: quality scoring — length, lexical diversity, stopword ratio,
    * mean word length, combined into a bounded score.
    */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_words", size(words))
      .withColumn("n_uniq", size(array_distinct(words)))
      .withColumn("stop_raw",
        (countWord("the") + countWord("a")) / col("n_words").cast("double"))
      .withColumn("stop_ratio", round(col("stop_raw"), 4))
      .withColumn("uniq_ratio", round(col("n_uniq") / col("n_words").cast("double"), 4))
      .withColumn("mean_wlen",
        round((length(col("text")) - col("n_words") + 1) / col("n_words").cast("double"), 4))
      // the formula uses the *unrounded* ratios: feeding 4-decimal
      // rounded values into ×0.5 lands exactly on .00005 decimal
      // boundaries, where Spark (shortest-string HALF_UP) and DuckDB
      // (binary-double) round() disagree
      .withColumn("quality",
        round(least(lit(1.0),
          (col("n_uniq") / col("n_words").cast("double")) * 0.5
          + when(col("n_words").between(20, 400), 0.3).otherwise(0.0)
          + when((col("stop_raw") >= 0.01) && (col("stop_raw") <= 0.2), 0.2)
            .otherwise(0.0)), 4))
      .select(col("doc_id"), col("n_words"), col("n_uniq"), col("stop_ratio"),
        col("uniq_ratio"), col("mean_wlen"), col("quality"))

  /** F3: token counting — whitespace tokens and a BPE-ish regex token
    * stream (letter runs vs. non-letter singles), plus chars.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_ws", size(words))
      .withColumn("n_bpeish", size(expr("regexp_extract_all(text, '[a-z]+|[^a-z ]', 0)")))
      .withColumn("n_chars_m", length(col("text")))
      .select(col("doc_id"), col("n_ws"), col("n_bpeish"), col("n_chars_m"))

  /** F6: deterministic stratified sampling — the mechanism behind
    * training-mix construction: each source stratum keeps a different
    * fraction, chosen by a pure function of the row id so the sample
    * is reproducible across runs, partitionings and engines (Spark's
    * sampleBy is partitioning-dependent, which breaks exactly the
    * reproducibility a data pipeline audit needs). Here the selector
    * is doc_id mod 10 (ids are synthetic-uniform); at scale the same
    * plan uses a salted hash of a stable key — still one scan, no
    * shuffle before the filter.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    // strata = source groups (src0..src19 here): low-quality sources
    // keep 20%, mid 50%, the rest 80%
    val srcNum = regexp_extract(col("source"), "^src(\\d+)$", 1).cast("int")
    val keep = when(srcNum < 5, 2).when(srcNum < 10, 5).otherwise(8)
    Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) < keep)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
  }

  /** F5: PII detection + redaction — the standard curation scrub stage
    * (emails, dashed phone numbers) as pure column regex ops: count
    * occurrences, replace with typed placeholders, flag clean docs.
    * The synthetic corpus contains no natural PII, so both engines
    * append the same deterministic contact line first — that keeps the
    * oracle's redaction check non-vacuous (every doc has exactly one
    * email and one phone to find, plus whatever the text held).
    * Patterns stay in the RE2 ∩ Java-regex dialect so Spark and DuckDB
    * match identically.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\d{3}-\\d{3}-\\d{4}"
    Tables.documents(spark, dir)
      .withColumn("t", concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@mail.example 555-867-530"),
        pmod(col("doc_id"), lit(10))))
      .withColumn("n_emails", regexp_count(col("t"), lit(email)))
      .withColumn("n_phones", regexp_count(col("t"), lit(phone)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"), phone, "<PHONE>"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        col("redacted"),
        (col("n_emails") + col("n_phones") === 2).as("clean_after_inject"))
  }

  /** F29 (round 9): structured-PII sweep with CHECKSUM validation —
    * the pass that separates a random 16-digit number from an actual
    * card number: 13-16-digit runs are Luhn-validated (doubled
    * every-second-digit-from-the-right fold, mod 10), IPv4 literals
    * counted by shape. Pure per-row HOF arithmetic (one scan, no
    * shuffle); the Luhn fold is written in the identical form on both
    * engines, and deterministic CANARIES are injected on both sides
    * (a known-valid card on doc_id%97, a known-INVALID one on
    * doc_id%101 — counted as a run but not valid, which proves the
    * checksum actually runs — an IPv4 on doc_id%89), the F8
    * decontamination pattern. Regexes are RE2-safe (no lookaround) so
    * Java and DuckDB extract identical runs.
    */
  def piiStructured(spark: SparkSession, dir: String): DataFrame = {
    val txt = concat(col("text"),
      when(pmod(col("doc_id"), lit(97)) === 0,
        lit(" card 4111111111111111 x")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(101)) === 0,
        lit(" bad 4111111111111112 y")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(89)) === 0,
        lit(" ip 10.1.2.3 z")).otherwise(lit("")))
    val runs = filter(regexp_extract_all(txt, lit("[0-9]+"), lit(0)),
      r => length(r) >= 13 && length(r) <= 16)
    val isLuhn = (r: Column) => {
      val L = length(r)
      val s = aggregate(sequence(lit(1), L), lit(0), (acc, j) => {
        val d = ascii(r.substr(L - j + 1, lit(1))) - lit(48)
        val dd = d * lit(2)
        acc + when(pmod(j, lit(2)) === 0,
          dd - when(dd > 9, lit(9)).otherwise(lit(0))).otherwise(d)
      })
      pmod(s, lit(10)) === 0
    }
    Tables.documents(spark, dir)
      .withColumn("__runs", runs)
      .select(col("doc_id"),
        size(col("__runs")).as("n_runs"),
        size(filter(col("__runs"), isLuhn)).as("n_luhn_valid"),
        size(regexp_extract_all(txt,
          lit("([0-9]{1,3}\\.){3}[0-9]{1,3}"), lit(0))).as("n_ipv4"))
      .filter(col("n_runs") > 0 || col("n_ipv4") > 0)
  }

  /** F30 (round 9): HTML/markup stripping — the extraction pass every
    * web-scraped corpus runs before any quality/dedup step
    * (trafilatura/justext's core job, reduced to its declarative
    * skeleton): script/style/comment blocks dropped whole (their
    * content is never text), remaining tags stripped, the five
    * standard entities decoded, whitespace collapsed. Deterministic
    * markup is INJECTED around doc_id%5 documents on both engines —
    * including a script body containing a bare `<` and entity-encoded
    * text — so the gate proves block-vs-tag precedence and entity
    * decoding, not just a no-op on clean text. All regexes are
    * RE2∩Java (non-greedy + inline (?s), no backreferences/lookaround)
    * so both engines strip identically. One scan, zero shuffle; at
    * 100 TB this is a pure map stage that fuses into whatever scan
    * follows it.
    */
  def htmlStrip(spark: SparkSession, dir: String): DataFrame = {
    val raw = when(pmod(col("doc_id"), lit(5)) === 0,
      concat(
        lit("<html><head><title>t</title><style>p { color: red; }</style>" +
          "</head><body><h1>Heading</h1><p class=\"x\">"),
        col("text"),
        lit(" A &amp; B &lt;i&gt; &quot;q&quot;</p>" +
          "<script>var x = 1 < 2 && 3 > 2;</script><!-- hidden --></body></html>")))
      .otherwise(col("text"))
    val noBlocks = regexp_replace(regexp_replace(regexp_replace(raw,
      lit("(?s)<script[^>]*>.*?</script>"), lit(" ")),
      lit("(?s)<style[^>]*>.*?</style>"), lit(" ")),
      lit("(?s)<!--.*?-->"), lit(" "))
    val noTags = regexp_replace(noBlocks, lit("<[^>]*>"), lit(" "))
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, lit(e), lit(r)) }
    val clean = trim(regexp_replace(decoded, lit("\\s+"), lit(" ")))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(raw).as("raw_len"),
      length(clean).as("clean_len"),
      (floor(length(clean).cast("double") / length(raw) * 1e4 + 0.5) / 1e4)
        .as("text_density"),
      substring(clean, 1, 60).as("head"))
  }

  /** F7: intra-document repetition — the Gopher/C4-style quality rule
    * that no inter-document dedup catches: the fraction of a document's
    * word 2-grams that are repeats of an earlier 2-gram in the SAME
    * document (boilerplate loops, template spam, decoding glitches).
    * Pure per-row column arithmetic: one scan, no shuffle, no state —
    * embarrassingly parallel at any scale.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(size(words) >= 2)
      // materialize the split once (see fingerprint: re-referencing a
      // split(...) expression inlines a fresh split per element_at)
      .withColumn("__w", words)
      .withColumn("__g2", transform(sequence(lit(1), size(col("__w")) - 1),
        i => concat_ws(" ", element_at(col("__w"), i), element_at(col("__w"), i + 1))))
      .withColumn("n_2grams", size(col("__g2")))
      .withColumn("n_dup", col("n_2grams") - size(array_distinct(col("__g2"))))
      .withColumn("rep_ratio",
        floor(col("n_dup") / col("n_2grams").cast("double") * 10000 + 0.5) / 10000)
      .select(col("doc_id"), col("n_2grams"), col("n_dup"), col("rep_ratio"),
        (col("rep_ratio") > 0.1).as("flagged"))

  /** F32 (round 9): Gopher repetition signals — the CHARACTER-fraction
    * rules from Rae et al. 2021 §A1.1 that F7's gram-count ratio
    * doesn't capture: (a) the fraction of a document's characters
    * covered by occurrences of its single most frequent word 2-gram
    * (templated spam concentrates mass in ONE gram; ties break to the
    * lexicographically smallest) and (b) the fraction covered by all
    * word 5-grams occurring ≥ 2 times (decode loops / boilerplate
    * blocks). Coverage is count·len(gram) capped at 1.0 — overlap
    * double-counts deterministically on both engines. Shape: two
    * per-doc partial aggregations + one window top-1 + a doc-keyed
    * left join — every shuffle key is doc_id, embarrassingly parallel
    * over documents at any corpus size.
    */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    // round 14 (optimization): both signals are PER-DOCUMENT facts, so
    // they fold inside the row instead of exploding the gram stream
    // through two (doc, gram) shuffle aggregations, a window top-1 and
    // a doc-keyed join (the F7 within-row precedent). Sort the gram
    // array; equal grams are then adjacent, and one aggregate() pass
    // over the runs yields (a) the most frequent 2-gram — eager
    // strictly-greater update visits grams in ascending order, which
    // IS the (count desc, gram asc) tie rule — and (b) the Σ c·len(g)
    // over 5-gram runs with c ≥ 2 (each occurrence past the first pays
    // len, the run's second occurrence retro-pays the first). ZERO
    // exchanges (was 3 + a join): embarrassingly parallel over
    // documents at any corpus size, which is what the operator always
    // claimed to be. Measured 1.08 → see OPTIMIZATION_r14.md; oracle
    // hash unchanged.
    val top2Agg =
      """aggregate(
        |  array_sort(transform(sequence(1, size(w) - 1),
        |    i -> array_join(slice(w, i, 2), ' '))),
        |  named_struct('prev', '', 'run', 0L, 'bg', '', 'bc', 0L),
        |  (a, x) -> CASE
        |    WHEN x = a.prev AND a.run + 1L > a.bc THEN
        |      named_struct('prev', x, 'run', a.run + 1L, 'bg', x,
        |                   'bc', a.run + 1L)
        |    WHEN x = a.prev THEN
        |      named_struct('prev', x, 'run', a.run + 1L, 'bg', a.bg,
        |                   'bc', a.bc)
        |    WHEN a.bc = 0L THEN
        |      named_struct('prev', x, 'run', 1L, 'bg', x, 'bc', 1L)
        |    ELSE named_struct('prev', x, 'run', 1L, 'bg', a.bg,
        |                      'bc', a.bc) END)""".stripMargin
    val dup5Agg =
      """CASE WHEN size(w) >= 5 THEN (aggregate(
        |  array_sort(transform(sequence(1, size(w) - 4),
        |    i -> array_join(slice(w, i, 5), ' '))),
        |  named_struct('prev', '', 'run', 0L, 'tot', 0L),
        |  (a, x) -> CASE
        |    WHEN x = a.prev THEN named_struct('prev', x,
        |      'run', a.run + 1L,
        |      'tot', a.tot + (CASE WHEN a.run = 1L
        |        THEN 2L * length(x) ELSE length(x) END))
        |    ELSE named_struct('prev', x, 'run', 1L, 'tot', a.tot)
        |    END)).tot ELSE 0L END""".stripMargin
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .withColumn("n_chars", length(col("text")))
      .withColumn("__b2", expr(top2Agg))
      .withColumn("dup5_chars", expr(dup5Agg))
      .select(col("doc_id"), col("__b2.bg").as("top2"),
        (floor(least(col("__b2.bc") * length(col("__b2.bg"))
          / col("n_chars"), lit(1.0)) * 1e4 + 0.5) / 1e4).as("top2_frac"),
        (floor(least(col("dup5_chars") / col("n_chars"),
          lit(1.0)) * 1e4 + 0.5) / 1e4).as("dup5_frac"))
      .withColumn("flagged",
        col("top2_frac") > 0.2 || col("dup5_frac") > 0.6)
  }

  /** F8: benchmark decontamination — the training-data hygiene pass
    * every serious pipeline runs before training: flag corpus documents
    * sharing any word 8-gram with a held-out benchmark/eval set (the
    * GPT-3/Pile n-gram-collision rule). Here the "benchmark" is the
    * deterministic doc_id ≡ 0 (mod 97) subset, and — because this
    * synthetic corpus has almost no natural 8-gram collisions — each
    * doc_id ≡ 0 (mod 13) document gets a benchmark canary (the first 8
    * words of one benchmark doc, picked round-robin) appended, the same
    * injection trick that keeps the PII oracle non-vacuous: the gate
    * then proves known contamination is found, not that nothing exists.
    *
    * Shape at 100 TB: the benchmark gram set is small (eval suites are
    * thousands of docs) → broadcast hash join against the corpus gram
    * stream, grams hashed to longs; no shuffle of the corpus. Here
    * grams stay strings so the DuckDB oracle is bit-exact.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // canaries keyed by dense benchmark index (ids are dense 0..N-1, so
    // doc_id/97 enumerates the benchmark subset 0..nb-1)
    val canaries = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select((col("doc_id") / 97).cast("long").as("ci"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("canary"))
    val nb = canaries.agg(count(lit(1)).as("nb"))
    val injected = docs
      .filter(pmod(col("doc_id"), lit(13)) === 0 && pmod(col("doc_id"), lit(97)) =!= 0)
      .crossJoin(broadcast(nb))
      .withColumn("ci", pmod(floor(col("doc_id") / 13).cast("long"), col("nb")))
      .join(broadcast(canaries), Seq("ci"))
      .select(col("doc_id"), concat(col("text"), lit(" "), col("canary")).as("text"))
    val corpus = docs
      .filter(pmod(col("doc_id"), lit(13)) =!= 0 || pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(injected)
    // per-document dedup happens INSIDE the row (array_distinct before
    // explode) — a global .distinct() here would shuffle the entire
    // corpus gram stream, which is exactly what this operator must not
    // do at scale; the final countDistinct handles cross-gram dedup on
    // the (tiny) matched set only
    def grams(df: DataFrame): DataFrame = df
      .filter(size(split(col("text"), " ")) >= 8)
      .withColumn("__w", split(col("text"), " "))
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), size(col("__w")) - 7),
        i => concat_ws(" ", (0 until 8).map(k => element_at(col("__w"), i + k)): _*))))
        .as("ng"))
    // round 15 (optimization, guide §1.2): the benchmark gram set is
    // the decontamination INDEX — the small per-eval-suite artifact a
    // production pass builds once and probes every corpus shard with
    // (∝ benchmark docs, not corpus). It was re-derived (scan +
    // tokenize + 8-gram explode of the benchmark subset) per
    // invocation; pin one copy per (session, dataset). The corpus-side
    // gram stream, the injection branch and the join stay live.
    val benchGrams = graft.Memo.cached(spark, s"text.bench_grams:$dir") {
      grams(docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"), col("text")))
        .select(col("doc_id").as("bid"), col("ng"))
    }
    grams(corpus)
      .join(broadcast(benchGrams), Seq("ng"))
      .filter(col("doc_id") =!= col("bid"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("ng")).as("n_shared"),
        countDistinct(col("bid")).as("n_bench"))
  }

  /** F4: document fingerprint — Karp–Rabin rolling hash over 5-word
    * windows; the fingerprint is the minimum window hash (winnowing
    * with a single global window). Word code uses first/last char +
    * length so the DuckDB oracle can reproduce it bit-for-bit.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val M = 1000000007L
    val B = Array(1L, 131L, 131L * 131, 131L * 131 * 131, 131L * 131 * 131 * 131)
    def code(w: Column): Column =
      ascii(substring(w, 1, 1)) * 961 + ascii(substring(w, -1, 1)) * 31 + length(w)
    // materialize the split + per-word codes ONCE: referencing a
    // `split(...)` expression inside the window lambda would inline a
    // fresh split per element_at — 5 per window — turning this into
    // O(doc_len²) per document (measured 240s → <1s at sf0.1)
    val w = col("__w")
    val winHash = transform(sequence(lit(1), size(w) - 4),
      i => (0 until 5).map(k =>
        element_at(col("__codes"), i + k) * B(k)).reduce(_ + _) % M)
    // the <5-words guard is a *pre-projection* row filter: filtering on
    // the computed fp instead pushes the whole (inlined) fingerprint
    // expression into the scan predicate and evaluates it twice —
    // measured 57s vs <1s at sf0.1
    Tables.documents(spark, dir)
      .filter(size(words) >= 5)
      .withColumn("__w", words)
      .withColumn("__codes", transform(w, x => code(x).cast("long")))
      .withColumn("fp", array_min(winHash))
      .select(col("doc_id"), col("fp"))
  }

  /** F13: vocabulary building — the tokenizer-training precursor: the
    * corpus word-frequency table with a min-count floor, ranked, with
    * each word's share of ALL tokens and the cumulative coverage of
    * the vocabulary prefix (the curve that decides vocab size). The
    * count table is vocabulary-bounded (≪ corpus) after one partial
    * aggregate; top-50 selection is TakeOrdered (no global sort), and
    * the rank/cumulative window runs over 50 rows. Shares are
    * floor-quantized from exact integer counts, so the gate is exact.
    */
  /** The corpus word-frequency table (w, cnt) — THE vocabulary index
    * every tokenizer-side operator consumes (F13's count table, the
    * BPE trainer's state, the encode path's vocab). round 15
    * (optimization, guide §1.2): one memoized derivation per (session,
    * dataset) — the same sidecar shape as Bm25's df table, ∝ distinct
    * words, never corpus-sized. Raw counts (no length/min-count
    * filter): each consumer applies its own floor over the bounded
    * frame.
    */
  private[graft] def wordFreq(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(spark, s"text.wordfreq:$dir") {
      Tables.documents(spark, dir)
        .select(explode(words).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    }

  def vocab(spark: SparkSession, dir: String): DataFrame =
    vocabFrom(wordFreq(spark, dir).select(col("w"), col("cnt").as("n")))

  def vocabOn(docs: DataFrame): DataFrame =
    vocabFrom(docs
      .select(explode(words).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n")))

  private def vocabFrom(c: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = c.agg(sum(col("n")).as("tot"))
    val top = c.filter(col("n") >= 5)
      .orderBy(col("n").desc, col("w")).limit(50)
    val wRk = Window.orderBy(col("n").desc, col("w"))
    val wCum = Window.orderBy(col("rk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(wRk))
      .withColumn("share",
        floor(col("n") / col("tot") * 1000000 + 0.5) / 1000000)
      .withColumn("cum_share",
        floor(sum(col("n")).over(wCum) / col("tot") * 1000000 + 0.5) / 1000000)
      .select(col("rk"), col("w"), col("n"), col("share"), col("cum_share"))
  }

  /** F27: content-defined chunking (CDC) — the rsync/LBFS/FastCDC
    * boundary trick applied to sub-document dedup: chunk boundaries
    * fall where a ROLLING CONTENT HASH (window-8 polynomial, base 131,
    * exact in long — no mod ever taken, the 8-term sum tops out well
    * under 2⁶³) hits 0 mod 61 (avg chunk ≈ 61 chars), so an edit only
    * reshuffles the chunks it touches — unlike fixed-width chunking,
    * where one insertion shifts every later boundary and kills all
    * downstream dedup. Per document: chunk count and how many of its
    * chunks also appear in ≥ 1 other document (the sub-document
    * duplication signal boilerplate/quote-farm detection needs at
    * sub-Jaccard granularity).
    *
    * Every stage is declarative: the per-position hash is 8
    * independent ascii·131ʲ products (no sequential state — this is
    * the positional CDC core without FastCDC's min/max-size
    * constraints, which ARE sequential), boundaries a filter, chunks a
    * zip_with of substrings, and the cross-doc stats one groupBy on
    * the chunk text + a join back. The DuckDB oracle replays the
    * identical integer arithmetic end-to-end. Scale: cost ∝ 8·chars
    * codegen work + one chunk-keyed exchange (chunk texts, not
    * documents, shuffle — ≈ corpus size, same as the shingle passes).
    */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunksOn(Tables.documents(spark, dir),
      Some(s"text.cdcChunkTable:$dir"))

  /** DataFrame-generic CDC pipeline; input needs (doc_id, text).
    * Exposed so the scale probe can drive the same plan over
    * replicated corpora. The exploded chunk table is consumed twice
    * (the per-doc side and the cross-doc sharing aggregate), so the
    * gated path pins ONE copy via Memo — otherwise the 8·chars hash
    * pass runs once per consumer per invocation.
    */
  private[graft] def cdcChunksOn(input: DataFrame,
      memoKey: Option[String] = None): DataFrame = {
    val pows = (0 until 8).map(j => math.pow(131.0, j).toLong)
    // h(i) = Σ_j ascii(text[i-j]) · 131^j  — window ends at position i.
    // The char codes are materialized ONCE into an array (split +
    // ascii, O(len)) and the hash indexes it with O(1) element_at:
    // per-position substr() re-scans the UTF8 string from the front,
    // which made the whole pass O(len²) (measured 61 s → 9 s on the
    // probe corpus). The DuckDB oracle keeps the equivalent substr
    // form — the VALUES are identical, only the access path differs.
    val hExpr = (0 until 8).map(j =>
      s"element_at(cs, i - $j) * ${pows(j)}L").mkString(" + ")
    val docs = input
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") >= 1)
    val chunks = docs
      .withColumn("cs", expr(
        "transform(split(text, ''), c -> cast(ascii(c) as bigint))"))
      .withColumn("cuts", expr(
        s"""transform(filter(transform(sequence(8, greatest(len, 8)),
           |  i -> named_struct('i', i, 'h', $hExpr)),
           |  x -> x.i <= len AND x.h % 61 = 0), x -> x.i)""".stripMargin))
      .withColumn("starts", expr(
        "concat(array(1L), transform(cuts, c -> cast(c + 1 as bigint)))"))
      .withColumn("ends", expr(
        "concat(transform(cuts, c -> cast(c as bigint)), array(cast(len as bigint)))"))
      .withColumn("chunk", explode(expr(
        """filter(zip_with(starts, ends,
          |  (s, e) -> IF(e >= s, substr(text, cast(s as int), cast(e - s + 1 as int)), NULL)),
          |  c -> c IS NOT NULL)""".stripMargin)))
      .select(col("doc_id"), col("chunk"))
    val pinned = memoKey match {
      case Some(k) => graft.Memo.cached(input.sparkSession, k)(chunks)
      case None => chunks
    }
    val shared = pinned.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    pinned.join(shared, Seq("chunk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared"))
  }

  /** Input / output rows of the F11 packing fold (top-level so Dataset
    * encoders codegen against them).
    */
  /** F26: context-window chunking — each document split into
    * overlapping token windows (width 50, stride 40), the
    * retrieval/RAG and training-example preparation step that pairs
    * with F11's packing. Zero-shuffle map stage: the token split, the
    * start-offset explode and the window slice are all codegen'd
    * column expressions, so at 100 TB cost is one scan with output
    * ∝ tokens × (1 + overlap/stride); chunk identity (doc_id,
    * chunk_id) is derivable without any global coordination.
    * Reference framing: fixed-stride windows over an ordered stream
    * are the chunked-layout analog of tagtree's time-partitioned
    * posting segments (include/tagtree/index/index_server.h:48-66);
    * here the axis is token position instead of time.
    */
  def chunk(spark: SparkSession, dir: String): DataFrame = {
    val width = 50
    val stride = 40
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("start", explode(sequence(lit(0),
        greatest(size(col("toks")) - 1, lit(0)), lit(stride))))
      .select(col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_id"),
        size(slice(col("toks"), col("start") + 1, lit(width)))
          .cast("long").as("n_tok"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(width)))
          .as("chunk_text"))
  }

  case class PackRow(source: String, docId: Long, nTok: Int)
  case class PackOut(doc_id: Long, source: String, n_tok: Long, bin: Long)

  /** F11: sequence packing — the pre-training batching step that
    * follows tokenization: greedily pack documents (in stable doc_id
    * order, per source) into fixed-capacity context windows (512
    * whitespace tokens here), opening a new bin whenever the next
    * document would overflow; an oversized document gets a bin of its
    * own. The greedy recurrence is order-dependent state, not an
    * associative aggregate — so, like holt_winters (B20), it runs as a
    * bounded-state per-partition fold after one hash-repartition by
    * source with a secondary sort: O(1) state per open source,
    * regardless of how many documents a source holds. The DuckDB
    * oracle replays the identical recurrence through a recursive CTE.
    * Output is pure integers — no float parity surface at all.
    */
  def seqPack(spark: SparkSession, dir: String): DataFrame =
    seqPackOn(spark, Tables.documents(spark, dir))

  /** DataFrame-generic packing; input needs (source, doc_id, text).
    * Exposed so the scale probe can drive the same fold over
    * replicated corpora.
    */
  def seqPackOn(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val cap = 512L
    val rows = docs
      .select(col("source"), col("doc_id").as("docId"),
        size(split(col("text"), " ")).as("nTok"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("docId"))
      .as[PackRow]
    rows.mapPartitions { it =>
      var curSrc: String = null
      var bin = 0L; var fill = 0L
      it.map { r =>
        if (curSrc == null || r.source != curSrc) {
          curSrc = r.source; bin = 0L; fill = 0L
        }
        // fill > 0 guard: a source's FIRST document never overflows an
        // empty bin, even when it alone exceeds the capacity
        if (fill > 0 && fill + r.nTok > cap) { bin += 1; fill = r.nTok.toLong }
        else fill += r.nTok
        PackOut(r.docId, r.source, r.nTok.toLong, bin)
      }
    }.toDF()
  }

  /** F18: bigram collocation mining (pointwise mutual information) —
    * the phrase-detection pass (word2vec's phrase pre-join, Gensim
    * Phrases): bigrams whose joint probability beats the independence
    * assumption get merged into single tokens downstream. PMI =
    * ln((cb/T) / ((c1/U)·(c2/U))) with cb the bigram count (T total
    * bigrams), c1/c2 the unigram counts (U total words). Two
    * partial-agg count tables + one small join; ln() evaluates
    * bit-identically on both engines over these count ratios (the
    * F14 BM25 precedent). Top 50 by count, (w1, w2) tie-break.
    */
  def pmi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // round 15 (optimization, guide §1.2): the unigram table IS the
    // shared wordFreq index (identical derivation, different column
    // name) — ride it instead of pinning a duplicate cached copy; the
    // bigram count table is the collocation index (∝ distinct bigrams,
    // vocabulary-bounded, the same sidecar shape) and was re-derived
    // per invocation — pin it too. The join/PMI math stays live.
    val uni = wordFreq(spark, dir).select(col("w"), col("cnt").as("c"))
    val totU = uni.agg(sum(col("c")).as("u_tot"))
    val bi = graft.Memo.cached(spark, s"text.pmi_bi:$dir") {
      docs
        .select(col("doc_id"), words.as("ws"))
        .filter(size(col("ws")) >= 2) // sequence(1,0) would run DESCENDING
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1)," +
            " i -> named_struct('w1', ws[i - 1], 'w2', ws[i]))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    }
    val totB = bi.agg(sum(col("cb")).as("t_tot"))
    val wRk = org.apache.spark.sql.expressions.Window
      .orderBy(col("cb").desc, col("w1"), col("w2"))
    bi.join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(totB)).crossJoin(broadcast(totU))
      .orderBy(col("cb").desc, col("w1"), col("w2")).limit(50)
      .withColumn("rk", row_number().over(wRk))
      .withColumn("pmi", floor(
        log((col("cb") / col("t_tot")) /
          ((col("c1") / col("u_tot")) * (col("c2") / col("u_tot"))))
          * lit(1e4) + lit(0.5)) / lit(1e4))
      .select(col("rk"), col("w1"), col("w2"), col("cb"), col("pmi"))
  }

  /** F12: URL / domain extraction — the web-corpus provenance pass
    * (domain frequency tables drive the per-domain quality and cap
    * decisions that F10 then enforces). The synthetic corpus carries no
    * natural URLs, so both engines append the same two deterministic
    * links per document first — the PII-oracle injection trick — then
    * extract every URL, parse out its host, and build the per-domain
    * frequency table. Pure regex column ops (RE2 ∩ Java dialect), one
    * scan + one low-cardinality aggregate.
    */
  def urlExtract(spark: SparkSession, dir: String): DataFrame = {
    val url = "https?://[A-Za-z0-9.-]+[A-Za-z0-9./_-]*"
    val host = "https?://([A-Za-z0-9.-]+)"
    Tables.documents(spark, dir)
      .withColumn("t", concat(col("text"),
        lit(" see https://site"), pmod(col("doc_id"), lit(37)),
        lit(".example/p/"), col("doc_id"),
        lit(" and http://cdn"), pmod(col("doc_id"), lit(11)),
        lit(".example/img.png")))
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(t, '$url', 0)")).as("u"))
      .select(col("doc_id"), regexp_extract(col("u"), host, 1).as("domain"),
        startswith(col("u"), lit("https://")).cast("long").as("is_https"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("is_https")).as("n_https"))
  }

  /** F16: URL canonicalization + dedup — the crawl-frontier/provenance
    * pass that recognizes `https://WWW.Site.Example:443/p/1?utm_x=y#f`
    * and `https://site.example/p/1` as the SAME resource: lowercase
    * scheme+host, strip leading `www.`, drop default ports (443/https,
    * 80/http), drop fragments, strip `utm_*` tracking params, trim
    * trailing path slashes — then group by the canonical form. The
    * corpus carries no natural URLs, so both engines inject four
    * deterministic variants per document (two logical resources each
    * dressed two ways, paths keyed mod 13 so variants ALSO merge
    * across documents) — the gate proves the canonicalizer actually
    * merges, not that nothing exists.
    *
    * Shape at 100 TB: pure regex/string column ops (one scan, no
    * joins) + one partial-agg groupBy on the canonical string; the
    * canonical key is what a crawl dedup would hash-shuffle on.
    */
  def urlCanon(spark: SparkSession, dir: String): DataFrame = {
    val d13 = pmod(col("doc_id"), lit(13))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array(
        concat(lit("https://WWW.Site"), pmod(col("doc_id"), lit(37)),
          lit(".Example:443/p/"), d13,
          lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(7)), lit("#top")),
        concat(lit("https://site"), pmod(col("doc_id"), lit(37)),
          lit(".example/p/"), d13,
          lit("?id="), pmod(col("doc_id"), lit(7))),
        concat(lit("http://cdn"), pmod(col("doc_id"), lit(11)),
          lit(".example:80/img/"), d13, lit("/")),
        concat(lit("http://cdn"), pmod(col("doc_id"), lit(11)),
          lit(".example/img/"), d13))).as("u"))
      .withColumn("scheme", lower(regexp_extract(col("u"), "^([A-Za-z]+)://", 1)))
      .withColumn("hostport", regexp_extract(col("u"), "^[A-Za-z]+://([^/?#]+)", 1))
      .withColumn("host", regexp_replace(
        lower(regexp_extract(col("hostport"), "^([^:]+)", 1)), "^www\\.", ""))
      .withColumn("port", regexp_extract(col("hostport"), ":([0-9]+)$", 1))
      .withColumn("portc", when(col("port") === "" ||
          (col("scheme") === "https" && col("port") === "443") ||
          (col("scheme") === "http" && col("port") === "80"), lit(""))
        .otherwise(concat(lit(":"), col("port"))))
      .withColumn("rest", regexp_extract(col("u"), "^[A-Za-z]+://[^/?#]+([^#]*)", 1))
      .withColumn("path", regexp_extract(col("rest"), "^([^?]*)", 1))
      .withColumn("pathc", when(rtrim(col("path"), "/") === "", lit("/"))
        .otherwise(rtrim(col("path"), "/")))
      .withColumn("q", regexp_extract(col("rest"), "\\?(.*)$", 1))
      .withColumn("qc", regexp_replace(regexp_replace(col("q"),
        "(^|&)utm_[^&]*", ""), "^&", ""))
      .withColumn("canon", concat(col("scheme"), lit("://"), col("host"),
        col("portc"), col("pathc"),
        when(col("qc") === "", lit("")).otherwise(concat(lit("?"), col("qc")))))
      .groupBy(col("canon"))
      .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
  }

  /** F9: corpus-trained bigram language-model score — the in-engine
    * stand-in for the perplexity filter every serious pretraining
    * pipeline runs (CCNet/Gopher/FineWeb): documents whose word
    * transitions are atypical for the corpus score low. Per document:
    * mean P(w_i | w_{i-1}) under the corpus's own bigram counts.
    *
    * Determinism across engines AND partitionings: each conditional
    * probability cb/cu is quantized to the dyadic 2⁻²⁰ grid before
    * summation — quantized values sum EXACTLY in a double (≤ 2³³ terms
    * before the 53-bit mantissa saturates), so the per-doc mean never
    * depends on aggregation order (the ann_centroid fixed-point trick,
    * applied to probabilities instead of coordinates).
    *
    * Shape at 100 TB: the count tables are vocabulary-bounded (≪
    * corpus), built with partial aggregation; the probability lookup
    * is a pair of equi-joins on the bigram stream — broadcast when the
    * vocabulary fits, shuffle otherwise; final per-doc mean is one
    * hash aggregate. No window functions, no corpus² anywhere.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    // three consumers (both count tables + the probe side of the
    // lookup joins) read the bigram stream; cache it once instead of
    // replaying the transform+explode per branch — memoized so
    // repeated invocations share the one copy (graft.Memo)
    val bg = graft.Memo.cached(spark, s"text.lm_bigrams:$dir") {
      Tables.documents(spark, dir)
        .filter(size(split(col("text"), " ")) >= 2)
        .withColumn("__w", split(col("text"), " "))
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("__w")) - 1),
          i => struct(element_at(col("__w"), i).as("w1"),
            element_at(col("__w"), i + 1).as("w2")))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    }
    val bigramCnt = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val prefixCnt = bg.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    bg.join(bigramCnt, Seq("w1", "w2")).join(prefixCnt, Seq("w1"))
      .withColumn("q", floor(col("cb") / col("cu") * 1048576 + 0.5) / 1048576)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(col("sq") / col("n_bigrams") * 10000 + 0.5) / 10000).as("lm_score"))
  }

  /** F19: corpus n-gram frequency table — the raw material for
    * contamination checks, boilerplate mining, and tokenizer-merge
    * statistics: every word-trigram's total occurrence count and
    * document frequency, floored at min-count 5, ranked top-100
    * (count desc, gram as the total tiebreak).
    *
    * Shape at 100 TB: the trigram stream is a pure map-side
    * transform+explode (no joins); counting is a two-level partial
    * aggregate — (gram, doc) first, so the expensive shuffle carries
    * pre-combined rows and document frequency falls out of the second
    * level as a plain count (no count-distinct Expand). The top-100 is
    * a TakeOrdered, not a global sort.
    */
  def ngramCount(spark: SparkSession, dir: String): DataFrame =
    // shares ngramNovelty's memoized (g, doc_id, c) trigram postings
    // (identical derivation — round 15): one tokenize+explode+aggregate
    // per session instead of one per query family member
    ngramCountOn(Tables.documents(spark, dir),
      Some((spark, s"text.ngram_perdoc:$dir")))

  private[graft] def ngramCountOn(docs: DataFrame,
      memoKey: Option[(SparkSession, String)] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tri = docs
      .filter(size(words) >= 3)
      .withColumn("__w", words)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__w")) - 2),
        i => concat_ws(" ", element_at(col("__w"), i),
          element_at(col("__w"), i + 1), element_at(col("__w"), i + 2)))).as("g"))
    def perDocBuild = tri.groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("c"))
    val perDoc = memoKey
      .map { case (s, k) => graft.Memo.cached(s, k)(perDocBuild) }
      .getOrElse(perDocBuild)
    val counts = perDoc.groupBy(col("g"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_docs"))
      .filter(col("n") >= 5)
    val wRk = Window.orderBy(col("n").desc, col("g"))
    counts.orderBy(col("n").desc, col("g")).limit(100)
      .withColumn("rk", row_number().over(wRk))
      .select(col("rk"), col("g"), col("n"), col("n_docs"))
  }

  /** F22: Gopher-style rule-based quality filter — the heuristic gate
    * every pretraining pipeline runs before any model-based scoring
    * (word-count bounds, mean word length, type-token ratio, minimum
    * stop-word evidence; the Rae et al. Gopher rules re-parameterized
    * to this corpus so every rule is individually non-vacuous).
    *
    * Determinism: every threshold is evaluated by integer
    * cross-multiplication (sum_len*10 >= 38*n_words, nd*100 >= 45*nw)
    * — no float compare sits on a rule boundary; the reported ratios
    * are display-only, quantized to the 1e-4 grid AFTER one shared
    * IEEE divide. Shape at 100 TB: one pure map stage, no shuffle at
    * all (the groupBy-free plan is the point — quality filtering is
    * embarrassingly parallel and must stay that way).
    */
  def gopherFilter(spark: SparkSession, dir: String): DataFrame =
    gopherScoreOn(Tables.documents(spark, dir))

  /** The F22 scorer over an explicit document frame (doc_id, n_chars,
    * text) — shared by the batch gate and the H19 streaming router.
    */
  def gopherScoreOn(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and", "in", "is")
    docs
      .select(col("doc_id"), col("n_chars"), col("text"))
      .withColumn("nw", size(words))
      // text is single-space separated: total word chars = n_chars - (nw-1)
      .withColumn("sum_len", col("n_chars") - (col("nw") - 1))
      .withColumn("nd", size(array_distinct(words)))
      .withColumn("ns", size(filter(words, x => x.isInCollection(stop))))
      .select(col("doc_id"), col("nw").as("n_words"),
        (floor(col("sum_len").cast("double") / col("nw") * 10000 + 0.5) / 10000)
          .as("mean_word_len"),
        (floor(col("nd").cast("double") / col("nw") * 10000 + 0.5) / 10000)
          .as("ttr"),
        col("ns").as("n_stop"),
        (col("nw").between(20, 80) &&
          col("sum_len") * 10 >= col("nw") * 38 &&
          col("nd") * 100 >= col("nw") * 45 &&
          col("ns") >= 2).as("keep"))
  }

  /** F23: BPE pair statistics — the first iteration of byte-pair-
    * encoding tokenizer training: adjacent character-pair frequencies
    * within words across the corpus, min-count 5, top-50 by (count
    * DESC, pair) — the merge-candidate table a distributed BPE trainer
    * recomputes every merge round.
    *
    * Shape at 100 TB: pair generation is a pure map-side double
    * explode (no joins); one partial-agg groupBy(pair) whose keyspace
    * is tiny (≤ alphabet², i.e. bounded regardless of corpus size) so
    * the shuffle after map-side combine carries O(alphabet²) rows per
    * partition; top-50 is a TakeOrdered. Iterating merges multiplies
    * rounds, not shuffle width.
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round 15 (optimization, guide §2.3 pre-aggregation): enumerate
    // pairs over the memoized VOCABULARY weighted by word count
    // instead of over every corpus word instance — n(p) = Σ_w
    // cnt(w)·occurrences(p in w) ≡ the per-instance count (exact
    // integer algebra, position enumeration unchanged, within-word
    // multiplicity preserved). The per-instance form built one pair
    // string per corpus CHARACTER; this builds ∝ vocabulary chars —
    // at real corpus scale orders of magnitude less expression work,
    // and the word explode it rides is the shared wordFreq index scan.
    val pairs = wordFreq(spark, dir)
      .filter(length(col("w")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => concat(col("w").substr(i, lit(1)),
          col("w").substr(i + 1, lit(1))))).as("p"))
    val wRk = Window.orderBy(col("n").desc, col("p"))
    pairs.groupBy(col("p")).agg(sum(col("cnt")).as("n"))
      .filter(col("n") >= 5)
      .orderBy(col("n").desc, col("p")).limit(50)
      .withColumn("rk", row_number().over(wRk))
      .select(col("rk"), col("p"), col("n"))
  }

  /** F25: character entropy — per-document Shannon entropy over the
    * character distribution, the cheap random-garbage/base64-blob
    * detector quality pipelines run before any tokenization (natural
    * text sits in a narrow entropy band; encoded blobs above it,
    * repeated-char spam below).
    *
    * Determinism: each -p·ln(p)/ln2 term is quantized to the 2⁻²⁰
    * dyadic grid BEFORE the per-doc sum (order-free, the PMI/BM25
    * precedent for ln parity), ln(2) is a shared literal so both
    * engines divide by the identical double, and the final value
    * rounds once to 1e-4. Shape at 100 TB: explode → two-level
    * partial aggregate, per-doc keyspace bounded by the alphabet.
    */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    val ln2 = lit(0.6931471805599453)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("n_chars"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .withColumn("p", col("c").cast("double") / col("n_chars"))
      .withColumn("term",
        floor((lit(0) - col("p") * log(col("p")) / ln2) * 1048576 + 0.5) / 1048576)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_syms"),
        (floor(sum(col("term")) * 10000 + 0.5) / 10000).as("entropy"))
  }

  /** F24: n-gram novelty — per-document duplication density: the
    * fraction of a document's word-trigram INSTANCES whose trigram
    * also occurs in at least one OTHER document. This is the signal
    * curation pipelines threshold on between exact dedup and near-dup
    * clustering: boilerplate-heavy documents score high while D1/D2
    * miss them (no single pair is near-identical).
    *
    * Shape at 100 TB: per-doc trigram distincts feed a two-level
    * partial aggregate for document frequency (the F19 shape, no
    * count-distinct Expand), then ONE shuffle join of the doc-trigram
    * stream against the df table keyed on the trigram (at scale the
    * join key becomes a 64-bit trigram hash so the shuffle carries
    * 8-byte keys; the string key here keeps the DuckDB oracle able to
    * replay the join). The per-doc reduction is integer counts, one
    * divide at the end — order-free.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val tri = Tables.documents(spark, dir)
      .filter(size(words) >= 3)
      .withColumn("__w", words)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__w")) - 2),
        i => concat_ws(" ", element_at(col("__w"), i),
          element_at(col("__w"), i + 1), element_at(col("__w"), i + 2)))).as("g"))
    // round 14 (optimization): join the PRE-AGGREGATED (g, doc_id, c)
    // table against df instead of the raw trigram stream — the raw
    // stream fed two plan branches (df derivation + join probe), so the
    // scan+tokenize+explode ran twice. Identical results: n_tri = Σc
    // and n_shared = Σ(c | n_docs ≥ 2) over per-doc trigram counts
    // equal the raw-instance counts.
    // round 15 (round-14 VERDICT #7): the r14 dump showed NO
    // ReusedExchange — the two branches still planned two full
    // tokenize+explode+aggregate subtrees. Forcing the shared subtree
    // through one memoized frame makes the sharing structural instead
    // of hoping for AQE reuse: both branches read one
    // InMemoryTableScan (it is the trigram postings table — the same
    // index shape Bm25 memoizes, ∝ distinct (gram, doc) pairs).
    val perDoc = graft.Memo.cached(spark, s"text.ngram_perdoc:$dir") {
      tri.groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("c"))
    }
    val df = perDoc.groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
    perDoc.join(df, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tri"),
        sum(when(col("n_docs") >= 2, col("c")).otherwise(lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_tri"),
        col("n_shared").cast("long").as("n_shared"),
        (floor(col("n_shared").cast("double") / col("n_tri") * 10000 + 0.5)
          / 10000).as("dup_frac"))
  }

  /** F20: hashing-trick linear quality classifier — the scoring path
    * of a fastText-style model-based filter (the architecture behind
    * DCLM/FineWeb-Edu quality classifiers): each token indexes a
    * weight via a feature hash and the document's score is the mean
    * token weight; keep = margin above threshold. A trained model
    * ships a learned weight table; here the weight is a deterministic
    * function of the SAME dual polynomial feature hash the DuckDB
    * oracle replays char-by-char ([[graft.functions.DualPolyHash]]),
    * w(t) = (h(t) mod 2001 − 1000) / 1000 ∈ [−1, 1] — so the gate
    * exercises the real scoring plan (hash → weight lookup → per-doc
    * reduction) end-to-end.
    *
    * Determinism: the per-doc reduction sums INTEGER numerators
    * (order-free) and divides once at the end — no float accumulation
    * anywhere, so the margin is bit-identical across engines and
    * partitionings. Shape at 100 TB: one codegen hash per token + one
    * partial-agg groupBy(doc_id); the weight "table" is O(1) compute,
    * where a learned table would be a broadcast join on the hash.
    */
  def qualityClassify(spark: SparkSession, dir: String): DataFrame =
    qualityClassifyOn(spark, Tables.documents(spark, dir))

  /** F31 (round 9): classifier-percentile corpus cut — the
    * "keep the top quartile by model score" step of the
    * FineWeb-Edu/DCLM-style curation recipe, made EXACT and scalable
    * by a bounded value histogram instead of a global sort: per-doc
    * margins quantize to an integer key (floor(score·1000/n_tok) —
    * range ≤ ±10⁶, so the key histogram is a BOUNDED table at any
    * corpus size, the C23 argument), the cumulative-from-top sum over
    * that small table picks the largest key block whose total fits
    * the top-quartile budget (boundary bucket excluded — the
    * documented convention every histogram-based selection uses), and
    * the kept set is a broadcast scalar-threshold filter. Two corpus
    * passes (score, filter+report), no global per-doc sort anywhere;
    * the only windowed frame is the histogram (∝ key range, not docs).
    */
  def qualityCut(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(words).as("w"))
      .withColumn("wt",
        pmod(graft.functions.DualPolyHash.column(spark, col("w")), lit(2001L))
          - lit(1000L))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tok"), sum(col("wt")).as("score_num"))
      .withColumn("ikey",
        floor(col("score_num") * 1000.0 / col("n_tok")).cast("long"))
    val budget = scored.agg((count(lit(1)) / 4).cast("long").as("k"))
    val hist = scored.groupBy(col("ikey")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("ikey").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val thr = hist.crossJoin(broadcast(budget))
      .filter(col("cum") <= col("k"))
      .agg(min(col("ikey")).as("thr"))
    scored.crossJoin(broadcast(thr))
      .withColumn("kept",
        col("ikey") >= coalesce(col("thr"), lit(Long.MaxValue)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_share",
        floor(col("n_kept") / col("n_docs").cast("double") * 1e4 + 0.5) / 1e4)
  }

  /** F33 shared trainer: greedy BPE merge learning (Sennrich et al.
    * 2016) — `rounds` rounds over the distinct-word FREQUENCY table,
    * each round picking the most frequent adjacent token pair
    * (count desc, then pair lexicographic — deterministic) and fusing
    * every left-to-right non-overlapping occurrence.
    *
    * The trainer state is the VOCABULARY, not the corpus: word
    * frequencies aggregate distributed (one bounded groupBy — vocab
    * grows with the language, not the byte count; fastBPE/HF
    * tokenizers train on exactly this table), and only that table is
    * collected. At 100 TB the collect is the same few-hundred-k rows
    * it is here. Returns merges in rank order with the pair count at
    * selection time.
    */
  private[graft] def bpeTrain(spark: SparkSession, dir: String,
      rounds: Int = 8, minCount: Long = 2L): Seq[(String, String, Long)] =
    // round 15 (optimization, guide §1.2): the learned merge table is
    // the tokenizer ARTIFACT — an index-shaped model like the IVF
    // centroids and the BM25 sidecars, ∝ rounds, never
    // corpus-sized. Both gated consumers (bpe_merges, bpe_encode)
    // re-ran the word-frequency aggregate + collect + driver rounds
    // per invocation; one train per (session, dataset, rounds,
    // minCount) serves both. The encode/aggregation work stays live.
    graft.Memo(spark, s"text.bpe_model:$dir:r=$rounds:mc=$minCount")(
      bpeTrainNow(spark, dir, rounds, minCount))

  private def bpeTrainNow(spark: SparkSession, dir: String,
      rounds: Int, minCount: Long): Seq[(String, String, Long)] = {
    // The driver-side trainer state is the distinct-word frequency
    // table. Raw web text at 100 TB has hundreds of millions of
    // distinct "words" (URLs, hashes, typos) — a min-count floor
    // BEFORE the collect is what fastBPE does (its default prunes
    // hapaxes) and bounds the driver at vocabulary scale, while the
    // learned merges are unchanged on any real corpus: a pair backed
    // only by singleton words can never beat one backed by repeated
    // words until deep into the tail (PipelineSpec pins floored ≡
    // unfloored on the test corpus). Set minCount=1 to disable.
    val wf = wordFreq(spark, dir)
      .filter(length(col("w")) >= 1 && col("cnt") >= minCount)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var toks: Array[(Vector[String], Long)] =
      wf.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = Vector.newBuilder[(String, String, Long)]
    for (_ <- 1 to rounds) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      toks.foreach { case (ts, c) =>
        var i = 0
        while (i + 1 < ts.length) {
          val k = (ts(i), ts(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (counts.nonEmpty) {
        val ((f, t), n) = counts.minBy { case ((f, t), n) => (-n, f, t) }
        merges += ((f, t, n))
        toks = toks.map { case (ts, c) =>
          // left-to-right non-overlapping fuse — the exact semantics of
          // a string replace on the delimited form, so the oracle's
          // replace() replays it
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < ts.length) {
            if (i + 1 < ts.length && ts(i) == f && ts(i + 1) == t) {
              b += (f + t); i += 2
            } else { b += ts(i); i += 1 }
          }
          (b.result(), c)
        }
      }
    }
    merges.result()
  }

  /** F33a: the learned merge table (rank, left, right, pair count at
    * selection) — the tokenizer artifact itself. DuckDB replays the
    * trainer via `rounds` unrolled MATERIALIZED CTE rounds over the
    * same word-frequency table (each round: weighted pair count →
    * top-1 → global replace on the SOH-delimited token string).
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrain(spark, dir).zipWithIndex
      .map { case ((f, t, n), i) => ((i + 1).toLong, f, t, n) }
      .toDF("rk", "f", "t", "n")
  }

  /** F33b: BPE ENCODING — the learned merges applied to the corpus,
    * closing the tokenizer loop F23 opened (pair stats → merges →
    * token counts, the quantity every packing/budget decision
    * downstream consumes).
    *
    * Shape at 100 TB: the encode is vocab-sized, not corpus-sized —
    * each DISTINCT word encodes once (the 8 merges are literal
    * `replace` chains over an SOH-delimited char string, one codegen
    * projection over the vocab frame), then one broadcast join puts
    * per-word token counts back on the exploded corpus and a per-doc
    * aggregate finishes. No shuffle touches the corpus beyond the
    * doc_id partial agg.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val ms = bpeTrain(spark, dir)
    val soh = "\u0001"
    // the distinct-word base is the memoized vocabulary's key column
    // (one shared derivation instead of a fresh corpus distinct)
    val vocabBase = wordFreq(spark, dir)
      .filter(length(col("w")) >= 1).select(col("w"))
    val tok0 = regexp_replace(col("w"), "(.)", soh + "$1" + soh)
    val encoded = ms.foldLeft(tok0) { case (c, (f, t, _)) =>
      call_function("replace", c,
        lit(soh + f + soh + soh + t + soh), lit(soh + f + t + soh))
    }
    val vocab = vocabBase.withColumn("wtok", encoded)
      .withColumn("n_tok",
        ((length(col("wtok")) -
          length(call_function("replace", col("wtok"), lit(soh), lit("")))) / 2)
          .cast("long"))
      .select(col("w"), col("n_tok"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words).as("w"))
      .filter(length(col("w")) >= 1)
      .join(broadcast(vocab), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars_tok"),
        sum(col("n_tok")).as("n_tokens"))
      .withColumn("ratio",
        floor(col("n_tokens").cast("double") / col("n_chars_tok").cast("double")
          * 1e4 + 0.5) / 1e4)
  }

  /** F34 (round 9 s4): DSIR — Data Selection with Importance
    * Resampling (Xie et al., NeurIPS 2023), the published
    * target-distribution curation method: score every raw document by
    * how much more likely its hashed n-gram features are under a
    * TARGET corpus (here: the `lang='en'` slice) than under the raw
    * corpus, then keep the top of the ranking (the deterministic
    * refinement of the paper's Gumbel resampling — same estimator,
    * replayable draw). Features are word unigrams + bigrams hashed
    * into B=2048 buckets ([[graft.functions.DualPolyHash]], the same
    * dual polynomial the oracle replays bit-for-bit); bucket
    * log-likelihood ratios are Laplace-smoothed
    * λ_b = ln((T_b+1)(S+B) / ((S_b+1)(T+B))) — integer products, ONE
    * IEEE division, one ln — quantized to the dyadic 2⁻²⁰ grid (the
    * F9 trick), so per-doc scores Σ c_b·λ_b sum EXACTLY in any
    * aggregation order and the final 1e-4 rounding is stable.
    *
    * Shape at 100 TB: the feature stream is map-side transform +
    * explode; both count tables are B-bounded (2048 rows — the λ
    * table is broadcast-sized at ANY corpus size, the whole point of
    * the hashing trick); per-doc scoring is one partial-agg groupBy +
    * a broadcast join; top-100 is a TakeOrdered. Nothing scales
    * worse than the token count.
    */
  private val dsirB = 2048L

  /** The DSIR hashed unigram+bigram feature stream of a documents
    * frame: (extra..., doc_id, b). Map-side transform + explode —
    * shared by the corpus pass and the per-micro-batch router scorer.
    */
  private def dsirFeatStream(spark: SparkSession, docs: DataFrame,
      extra: Seq[String]): DataFrame =
    docs.withColumn("__w", words)
      .select((Seq("doc_id") ++ extra).map(col) :+ explode(concat(
        col("__w"),
        // sequence(1,0) would run DESCENDING — guard the 1-word case
        when(size(col("__w")) >= 2,
          transform(sequence(lit(1), size(col("__w")) - 1),
            i => concat_ws(" ", element_at(col("__w"), i),
              element_at(col("__w"), i + 1))))
          .otherwise(array().cast("array<string>")))).as("f"): _*)
      .withColumn("b",
        pmod(graft.functions.DualPolyHash.column(spark, col("f")), lit(dsirB)))
      .drop("f")

  /** The F34 λ table (bucket log-likelihood ratios, dyadically
    * quantized) built ONCE from the static corpus — B-bounded, so
    * broadcast-sized at any volume; the H29 streaming router ships it
    * into every micro-batch (score-at-ingest: the table is static, the
    * stream is not).
    */
  def dsirLambda(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(spark, s"text.dsir_lambda:$dir") {
      val bc = graft.Memo.cached(spark, s"text.dsir_buckets:$dir") {
        dsirFeats(spark, dir).groupBy(col("b"))
          .agg(count(lit(1)).as("s_b"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_b"))
      }
      val tot = bc.agg(sum(col("s_b")), sum(col("t_b"))).collect()(0)
      val (sTot, tTot) = (tot.getLong(0), tot.getLong(1))
      // λ_b for every bucket 0..B-1 (buckets unseen in either corpus
      // still get the smoothed prior ratio via the left join)
      spark.range(dsirB).select(col("id").as("b"))
        .join(broadcast(bc), Seq("b"), "left")
        .select(col("b"),
          (floor(log(
            ((coalesce(col("t_b"), lit(0L)) + 1L) * lit(sTot + dsirB))
              .cast("double") /
              ((coalesce(col("s_b"), lit(0L)) + 1L) * lit(tTot + dsirB))
                .cast("double"))
            * 1048576 + 0.5) / 1048576).as("lam"))
    }

  // unigram + bigram feature OCCURRENCES per corpus doc (duplicates
  // count: DSIR's bag-of-ngrams model); memoized — feeds exactly two
  // aggregations (the bucket pass and the per-doc counts)
  private def dsirFeats(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.cached(spark, s"text.dsir_feats:$dir") {
      dsirFeatStream(spark, Tables.documents(spark, dir), Seq("lang"))
    }

  /** Per-doc DSIR scores of an arbitrary documents frame against a
    * prebuilt λ table: (doc_id, n_feats, score) — `score` is the RAW
    * dyadic Σ c_b·λ_b (exact in any aggregation order; round at the
    * consumer). The H29 router calls this per micro-batch.
    */
  private[graft] def dsirScoreOn(spark: SparkSession, docs: DataFrame,
      lam: DataFrame): DataFrame =
    dsirFeatStream(spark, docs, Seq.empty)
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("lam")).as("score"))

  def dsirSample(spark: SparkSession, dir: String): DataFrame = {
    val feats = dsirFeats(spark, dir)
    val lam = dsirLambda(spark, dir)
    val wRk = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    feats.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"),
        (floor(sum(col("c") * col("lam")) * 1e4 + 0.5) / 1e4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(100)
      .withColumn("rk", row_number().over(wRk))
      .select(col("rk"), col("doc_id"), col("n_feats"), col("score"))
  }

  private[graft] def qualityClassifyOn(spark: SparkSession, docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(words).as("w"))
      .withColumn("wt",
        pmod(graft.functions.DualPolyHash.column(spark, col("w")), lit(2001L))
          - lit(1000L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("wt")).as("score_num"))
      .select(col("doc_id"), col("n_tok"),
        (col("score_num").cast("double") /
          (col("n_tok") * lit(1000L)).cast("double")).as("margin"),
        (col("score_num") > 0).as("keep"))
}
