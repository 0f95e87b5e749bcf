package graft

import graft.gates.{Fixture, IoGates, StreamGates}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver gate: a query builder and how the driver checks its
  * result — against a DuckDB oracle, or rows-only for a reason.
  */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
    check: Gate.Check)

object Gate {
  sealed trait Check

  /** DuckDB-equivalent SQL (same column names, same rounding — the
    * driver hash-compares values after sorting columns by name).
    */
  final case class Oracle(sql: String) extends Check

  /** No engine-independent answer exists; the driver checks rows only. */
  final case class RowsOnly(reason: String) extends Check

  /** `gates` in order; a repeated name is refused (a `Map` literal would
    * silently keep only the last entry for it).
    */
  def registry(gates: Gate*): Seq[Gate] = {
    val dup = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dup.isEmpty, s"duplicate gate names: ${dup.toSeq.sorted.mkString(", ")}")
    gates
  }
}

/** Driver contract — see SURVEY.md §2 for the inventory. */
object SparkEntry {
  import Gate.{Oracle, RowsOnly}

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The curation composite exercises dedup (exact + near-dup
    * clustering), text quality, and aggregation in one pipeline.
    */
  def entry(spark: SparkSession): DataFrame =
    operators.Curation.pipeline(spark, "/root/testdata/sf0.001")

  /** One gate per implemented operator from SURVEY.md §2. */
  lazy val gates: Seq[Gate] = Gate.registry(
    // A. tag-index core
    Gate("series_ingest", index.IndexQueries.seriesIngest _, Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  epoch_us(min(ts))//1000000 AS first_ts,
        |  epoch_us(max(ts))//1000000 AS last_ts,
        |  count(*) AS n_samples
        |FROM events GROUP BY 1, 2""".stripMargin)),
    Gate("inverted_index", index.IndexQueries.invertedIndex _, Oracle(
      """WITH series AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |         min(ts) AS min_ts, max(ts) AS max_ts
        |  FROM events GROUP BY 1, 2)
        |SELECT 'usr' AS label_name, usr AS label_value, count(*) AS n_series,
        |  epoch_us(min(min_ts))//1000000 AS min_ts,
        |  epoch_us(max(max_ts))//1000000 AS max_ts
        |FROM series GROUP BY 1, 2
        |UNION ALL
        |SELECT 'typ' AS label_name, typ AS label_value, count(*) AS n_series,
        |  epoch_us(min(min_ts))//1000000 AS min_ts,
        |  epoch_us(max(max_ts))//1000000 AS max_ts
        |FROM series GROUP BY 1, 2""".stripMargin)),
    Gate("index_stats", index.IndexQueries.indexStats _, Oracle(
      """WITH series AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ FROM events),
        |e AS (SELECT 'usr' AS label_name, usr AS label_value, count(*) AS cnt
        |      FROM series GROUP BY 1, 2
        |      UNION ALL
        |      SELECT 'typ' AS label_name, typ AS label_value, count(*) AS cnt
        |      FROM series GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY label_name
        |        ORDER BY cnt DESC, label_value) AS rk FROM e)
        |SELECT label_name, count(*) AS n_values,
        |  CAST(sum(cnt) AS BIGINT) AS n_postings,
        |  max(cnt) AS max_postings,
        |  max(CASE WHEN rk = 1 THEN label_value END) AS top_value
        |FROM r GROUP BY 1""".stripMargin)),
    Gate("match_eq", index.IndexQueries.matchEq _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events WHERE event_type = 'click'""".stripMargin)),
    Gate("match_neq", index.IndexQueries.matchNeq _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events
        |WHERE event_type = 'click' AND CAST(user_id AS VARCHAR) <> '7'""".stripMargin)),
    Gate("match_range", index.IndexQueries.matchRange _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events
        |WHERE CAST(user_id AS VARCHAR) >= '2' AND CAST(user_id AS VARCHAR) <= '5'""".stripMargin)),
    Gate("match_regex", index.IndexQueries.matchRegex _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events WHERE regexp_full_match(event_type, '(click|view)')""".stripMargin)),
    Gate("match_nregex", index.IndexQueries.matchNregex _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events
        |WHERE CAST(user_id AS VARCHAR) = '3'
        |  AND NOT regexp_full_match(event_type, '(error|signup)')""".stripMargin)),
    Gate("match_conj", index.IndexQueries.matchConj _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events
        |WHERE event_type = 'purchase' AND CAST(user_id AS VARCHAR) >= '10'
        |  AND CAST(user_id AS VARCHAR) <> '12'""".stripMargin)),
    Gate("match_conj_stored", index.IndexQueries.matchConjStored _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events
        |WHERE event_type = 'purchase' AND CAST(user_id AS VARCHAR) >= '10'
        |  AND CAST(user_id AS VARCHAR) <> '12'""".stripMargin)),
    Gate("match_conj_streamed", index.IndexQueries.matchConjStreamed _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events
        |WHERE event_type = 'purchase' AND CAST(user_id AS VARCHAR) >= '10'
        |  AND CAST(user_id AS VARCHAR) <> '12'""".stripMargin)),
    // A21: snapshot resolution at the first segment's ordinal ≡ the
    // same matcher algebra over the source table cut to the snapshot's
    // ingest watermark (series first sighted later must not appear)
    Gate("match_at", index.IndexQueries.matchAt _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  strftime(ts, '%Y-%m-%d') AS day
        |FROM events
        |WHERE ts < TIMESTAMP '2024-01-10 00:00:00'
        |  AND event_type = 'click' AND CAST(user_id AS VARCHAR) <= '5'""".stripMargin)),
    // A24: resolution through a delete_series tombstone — the deleted
    // class must be invisible to an unrelated matcher (hide semantics)
    Gate("match_tombstoned", index.IndexQueries.matchTombstoned _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events
        |WHERE CAST(user_id AS VARCHAR) >= '10'
        |  AND event_type <> 'error'""".stripMargin)),
    // C9+: resolution from the COMPACTED single-segment store must
    // answer the same algebra as the multi-segment view (try_compact)
    Gate("match_compacted", index.IndexQueries.matchCompacted _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events
        |WHERE event_type = 'purchase' AND CAST(user_id AS VARCHAR) >= '10'
        |  AND CAST(user_id AS VARCHAR) <> '12'""".stripMargin)),
    // H17: the full PromQL algebra over stream-maintained postings —
    // batch SQL oracle proves streamed index ≡ batch index end-to-end
    Gate("promql_streamed", index.IndexQueries.promqlStreamed _, Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr,
        |  CAST(count(*) AS DOUBLE) AS value
        |FROM events
        |WHERE event_type = 'purchase' AND CAST(user_id AS VARCHAR) >= '10'
        |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1""".stripMargin)),
    // H1: the final Complete-mode state of a real multi-micro-batch
    // streaming windowed aggregation must equal the batch GROUP BY
    Gate("stream_window_agg", StreamGates.windowedAggStreamed _, Oracle(
      """SELECT epoch_us(date_trunc('hour', ts)) // 1000000 AS win_start_sec,
        |  event_type AS typ, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // H19: the streamed accept/reject routing read back from its landed
    // sinks ≡ the batch gopher predicate partition (integer-only agg)
    Gate("stream_quality_route", StreamGates.qualityRouteStreamed _, Oracle(
      """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w
        |  FROM documents),
        |m AS (SELECT doc_id, len(w) AS nw, n_chars - (len(w) - 1) AS sum_len,
        |    len(list_distinct(w)) AS nd,
        |    len(list_filter(w, x -> list_contains(
        |      ['the','a','of','to','and','in','is'], x))) AS ns
        |  FROM t),
        |v AS (SELECT doc_id, nw, ns,
        |    (nw BETWEEN 20 AND 80 AND sum_len * 10 >= nw * 38
        |     AND nd * 100 >= nw * 45 AND ns >= 2) AS keep
        |  FROM m)
        |SELECT CASE WHEN keep THEN 'accept' ELSE 'reject' END AS verdict,
        |  count(*) AS n, CAST(sum(nw) AS BIGINT) AS sum_words,
        |  CAST(sum(ns) AS BIGINT) AS sum_stop,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM v GROUP BY 1""".stripMargin)),
    // H29: the DSIR routing replayed as a batch derivation — same
    // hashed-bigram buckets, λ table, and dyadic per-doc scores as
    // F34's oracle; the accept cut (score > 0) and the per-verdict
    // score SUM are exact because every addend is dyadic
    Gate("stream_dsir_route", StreamGates.dsirRouteStreamed _, Oracle(
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
        |  FROM documents),
        |f AS (SELECT doc_id, lang, unnest(list_concat(w,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])))
        |    AS f
        |  FROM t),
        |hb AS MATERIALIZED (SELECT doc_id, lang,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(f, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 131 + x) % 1000000007) * 2147483648 +
        |     list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(f, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 137 + x) % 998244353)) % 2048 AS b
        |  FROM f),
        |sc AS (SELECT b, count(*) AS s_b FROM hb GROUP BY 1),
        |tc AS (SELECT b, count(*) AS t_b FROM hb WHERE lang = 'en'
        |  GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM hb) AS s_tot,
        |  (SELECT count(*) FROM hb WHERE lang = 'en') AS t_tot),
        |lam AS (SELECT g.b,
        |    floor(ln(CAST((coalesce(t_b, 0) + 1) * (s_tot + 2048) AS DOUBLE) /
        |             CAST((coalesce(s_b, 0) + 1) * (t_tot + 2048) AS DOUBLE))
        |      * 1048576 + 0.5) / 1048576 AS lam
        |  FROM (SELECT unnest(range(0, 2048)) AS b) g
        |  LEFT JOIN sc ON g.b = sc.b LEFT JOIN tc ON g.b = tc.b, tot),
        |dc AS (SELECT doc_id, b, count(*) AS c FROM hb GROUP BY 1, 2),
        |sco AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
        |    sum(c * lam) AS score
        |  FROM dc JOIN lam ON dc.b = lam.b GROUP BY 1)
        |SELECT CASE WHEN score > 0 THEN 'accept' ELSE 'reject' END
        |    AS verdict,
        |  count(*) AS n, CAST(sum(n_feats) AS BIGINT) AS sum_feats,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  floor(sum(score) * 1e4 + 0.5) / 1e4 AS sum_score
        |FROM sco GROUP BY 1""".stripMargin)),
    // H30: the stream-maintained native histogram must serve the SAME
    // p90 as the batch model — one oracle for B55 and its live twin
    Gate("stream_native_hist", StreamGates.nativeHistStreamed _, Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |b AS (SELECT typ, v, CASE WHEN v <= 0.0625 THEN NULL
        |    ELSE -3 + len(list_filter([0.125, 0.25, 0.5, 1.0, 2.0, 4.0,
        |      8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0],
        |      x -> x < v)) END AS idx FROM e),
        |tot AS (SELECT typ, count(*) AS cnt,
        |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zcnt
        |  FROM b GROUP BY 1),
        |bc AS (SELECT typ, idx, count(*) AS c FROM b
        |  WHERE idx IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT typ, idx, c,
        |    sum(c) OVER (PARTITION BY typ ORDER BY idx) AS pc FROM bc),
        |hit AS (SELECT cm.typ, cm.idx, CAST(cm.c AS DOUBLE) AS c,
        |    CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE) AS cum,
        |    CAST(t.cnt AS DOUBLE) * 0.9 AS rk,
        |    CAST(t.zcnt AS DOUBLE) AS z,
        |    row_number() OVER (PARTITION BY cm.typ ORDER BY cm.idx) AS rn
        |  FROM cm JOIN tot t USING (typ)
        |  WHERE CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE)
        |    >= CAST(t.cnt AS DOUBLE) * 0.9)
        |SELECT typ, floor((CASE WHEN rk <= z THEN 0.0625 * rk / z
        |    ELSE pow(2.0, idx - 1) * pow(2.0, (rk - (cum - c)) / c) END)
        |  * 1e4 + 0.5) / 1e4 AS hq90
        |FROM hit WHERE rn = 1""".stripMargin)),
    // H33: the stream-maintained NHCB must serve the SAME p90 as the
    // batch model — one oracle for B59 and its live twin
    Gate("stream_nhcb", StreamGates.nhcbStreamed _, Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |a AS (SELECT typ, CAST(count(*) AS DOUBLE) AS cnt,
        |    CAST(sum(CASE WHEN v <= 25.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c0,
        |    CAST(sum(CASE WHEN v <= 50.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
        |    CAST(sum(CASE WHEN v <= 100.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c2,
        |    CAST(sum(CASE WHEN v <= 200.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c3
        |  FROM e GROUP BY 1),
        |q AS (SELECT typ, cnt * 0.9 AS rk, c0, c1, c2, c3 FROM a)
        |SELECT typ, floor((CASE
        |    WHEN c0 >= rk THEN 0.0 + (rk - 0.0) / (c0 - 0.0) * 25.0
        |    WHEN c1 >= rk THEN 25.0 + (rk - c0) / (c1 - c0) * 25.0
        |    WHEN c2 >= rk THEN 50.0 + (rk - c1) / (c2 - c1) * 50.0
        |    WHEN c3 >= rk THEN 100.0 + (rk - c2) / (c3 - c2) * 100.0
        |    ELSE 200.0 END) * 1e4 + 0.5) / 1e4 AS hq90
        |FROM q""".stripMargin)),
    // H31: the stream-built TermStore must answer F14's ranking
    // exactly — same oracle as bm25_topk
    Gate("stream_bm25", StreamGates.bm25Streamed _, Oracle(bm25Sql)),
    // D16: disjoint width-20 tiling, global keep-first on the tile
    // string, ordered reassembly, and the dual byte-polynomial hash of
    // the cleaned text — content pinned, not just counts
    Gate("dedup_span_remove", dedup.Dedup.spanRemove _, Oracle(
      """WITH t AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 1),
        |tl0 AS (SELECT doc_id, text, unnest(range(1,
        |    CAST(ceil(length(text) / 20.0) AS BIGINT) + 1)) AS idx FROM t),
        |tl AS (SELECT doc_id, idx,
        |    substr(text, CAST(1 + (idx - 1) * 20 AS BIGINT), 20) AS tile
        |  FROM tl0),
        |k AS (SELECT doc_id, idx, tile, row_number() OVER (
        |    PARTITION BY tile ORDER BY doc_id, idx) AS rn FROM tl),
        |c AS (SELECT doc_id, count(*) AS n_tiles,
        |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_removed,
        |    coalesce(string_agg(tile, '' ORDER BY idx)
        |      FILTER (rn = 1), '') AS clean
        |  FROM k GROUP BY 1)
        |SELECT doc_id, n_tiles, n_removed,
        |  length(clean) AS len_clean,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split_regex(clean, ''),
        |      ch -> CAST(ascii(ch) AS BIGINT))),
        |    (a, x) -> (a * 131 + x) % 1000000007) * 2147483648 +
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split_regex(clean, ''),
        |      ch -> CAST(ascii(ch) AS BIGINT))),
        |    (a, x) -> (a * 137 + x) % 998244353) AS h2
        |FROM c""".stripMargin)),
    // C28: the as-of pick ≡ interval containment (vf ≤ us < vt) over
    // the degenerate-filtered version set — cross-form equivalence
    Gate("scd2_asof", operators.Relational.scd2AsOf _, Oracle(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type AS attr, epoch_us(ts) AS us
        |  FROM events),
        |c AS (
        |  SELECT user_id, event_id, attr, us,
        |    lag(attr) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |  FROM e),
        |ch AS (
        |  SELECT user_id, event_id, attr, us FROM c
        |  WHERE prev IS NULL OR prev <> attr),
        |v AS (
        |  SELECT user_id, attr, us AS vf, lead(us) OVER w AS vt
        |  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |nd AS (SELECT * FROM v WHERE vt IS NULL OR vf < vt),
        |f AS (SELECT user_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT f.user_id, f.cents, nd.attr
        |  FROM f JOIN nd ON f.user_id = nd.user_id
        |    AND f.us >= nd.vf AND (nd.vt IS NULL OR f.us < nd.vt))
        |SELECT attr AS attr_at, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  count(DISTINCT user_id) AS n_users
        |FROM j GROUP BY 1""".stripMargin)),
    // H20: the streamed SQ8 store decoded back ≡ E8's batch
    // quantization (identical oracle — the landed codes are checked)
    Gate("stream_embed_ingest", StreamGates.embedIngestStreamed _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |a AS (SELECT vec_id, e,
        |    list_max(list_transform(e, x -> abs(x))) AS amax FROM v),
        |s AS (SELECT vec_id, e, amax / CAST(127.0 AS DOUBLE) AS scale
        |  FROM a WHERE amax > 0),
        |q AS (SELECT vec_id, e, scale,
        |    list_transform(e, x -> least(greatest(floor(x / scale + 0.5),
        |      CAST(-127.0 AS DOUBLE)), CAST(127.0 AS DOUBLE))) AS qs
        |  FROM s)
        |SELECT vec_id,
        |  floor(scale * 1e6 + 0.5) / 1e6 AS scale_q,
        |  floor(list_max(list_transform(range(1, 65),
        |    i -> abs(e[i] - qs[i] * scale))) * 1e6 + 0.5) / 1e6 AS max_err_q,
        |  len(list_filter(qs, x -> abs(x) = 127.0)) AS n_sat
        |FROM q""".stripMargin)),
    // H8: the streamed input carries every event TWICE; matching the
    // batch GROUP BY over the original events proves the streaming
    // dedup dropped every duplicate and nothing else
    Gate("stream_dedup", StreamGates.dedupStreamed _, Oracle(
      """SELECT event_type AS typ, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin)),
    // H24: watermark-bounded dedup of the doubled ordered replay must
    // reproduce the batch distinct set (= the original events) exactly
    Gate("stream_wm_dedup", StreamGates.wmDedupStreamed _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1""".stripMargin)),
    // H12: the streaming heap's final state ≡ the batch ranking (same
    // raw doubles, same (v desc, usr, typ) tie order)
    Gate("stream_topk", StreamGates.topkStreamed _, Oracle(
      """SELECT typ, rk, usr, v FROM (
        |  SELECT event_type AS typ, CAST(user_id AS VARCHAR) AS usr,
        |    value AS v,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, CAST(user_id AS VARCHAR)) AS rk
        |  FROM events)
        |WHERE rk <= 3""".stripMargin)),
    // H2: the custom-state series tracker's monotone nSamples — max
    // per key over all Update-mode emissions = final state = batch count
    Gate("stream_series_state", StreamGates.trackSeriesStreamed _, Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  count(*) AS n_samples
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // H14: the streamed histogram's final state (selected by the
    // monotone total) interpolates with the same IEEE expression as
    // B19's oracle — which therefore gates the streaming path verbatim
    Gate("stream_histq", StreamGates.histogramQuantileStreamed _, Oracle(
      """WITH h AS (SELECT event_type AS typ, count(*) AS total,
        |    sum(CASE WHEN value <= 25 THEN 1 ELSE 0 END) AS c25,
        |    sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS c50,
        |    sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS c100,
        |    sum(CASE WHEN value <= 200 THEN 1 ELSE 0 END) AS c200
        |  FROM events GROUP BY 1)
        |SELECT typ, total,
        |  round(CASE
        |    WHEN c25 >= total*0.5 THEN 0 + (total*0.5 - 0)/(c25 - 0)*25
        |    WHEN c50 >= total*0.5 THEN 25 + (total*0.5 - c25)/(c50 - c25)*25
        |    WHEN c100 >= total*0.5 THEN 50 + (total*0.5 - c50)/(c100 - c50)*50
        |    WHEN c200 >= total*0.5 THEN 100 + (total*0.5 - c100)/(c200 - c100)*100
        |    ELSE 200 END, 4) AS hq50,
        |  round(CASE
        |    WHEN c25 >= total*0.9 THEN 0 + (total*0.9 - 0)/(c25 - 0)*25
        |    WHEN c50 >= total*0.9 THEN 25 + (total*0.9 - c25)/(c50 - c25)*25
        |    WHEN c100 >= total*0.9 THEN 50 + (total*0.9 - c50)/(c100 - c50)*50
        |    WHEN c200 >= total*0.9 THEN 100 + (total*0.9 - c100)/(c200 - c100)*100
        |    ELSE 200 END, 4) AS hq90
        |FROM h""".stripMargin)),
    // H10: below-capacity Misra–Gries is exact counting (≈400 buckets
    // < 1024): final streamed summary top-5 ≡ batch ranking
    Gate("stream_freq_items", StreamGates.freqItemsStreamed _, Oracle(
      """WITH b AS (SELECT event_type AS typ,
        |    CAST(floor(value) AS BIGINT) AS bucket, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT typ, rk, bucket, n FROM (
        |  SELECT *, row_number() OVER (PARTITION BY typ
        |    ORDER BY n DESC, bucket) AS rk
        |  FROM b)
        |WHERE rk <= 5""".stripMargin)),
    // H15: merge-on-read over the per-micro-batch MV segments ≡ the
    // one-shot batch aggregation; all-integer state, exact oracle
    Gate("stream_mv", StreamGates.mvStreamed _, Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
        |    * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sq
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // H5: the watermarked stream-stream interval join's appended pair
    // table, re-aggregated per error (static error set re-enters the
    // zero-match rows), must equal the batch left-outer interval join —
    // C10's oracle verbatim
    Gate("stream_interval_join", StreamGates.intervalJoinStreamed _, Oracle(
      """SELECT e.event_id, CAST(e.user_id AS VARCHAR) AS usr,
        |  count(p.event_id) AS n_nearby
        |FROM events e LEFT JOIN events p
        |  ON p.user_id = e.user_id AND p.event_type = 'purchase'
        |  AND abs(epoch_us(p.ts) - epoch_us(e.ts)) <= 3600000000
        |WHERE e.event_type = 'error'
        |GROUP BY 1, 2""".stripMargin)),
    // H11: append-mode session windows (sentinel-flushed) ≡ the batch
    // gap sessionization — B18's oracle with the value summed in exact
    // integer cents (the streaming state merge has no FP surface)
    Gate("stream_sessions", StreamGates.sessionAggStreamed _, Oracle(
      """WITH e AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ, value, event_id,
        |    epoch_us(ts)//1000000 AS sec, epoch_us(ts) AS us
        |  FROM events),
        |m AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY usr, typ ORDER BY us, event_id)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY usr, typ
        |      ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM m)
        |SELECT min(sec) AS sess_start_sec, usr, typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM s GROUP BY usr, typ, sess""".stripMargin)),
    // H13: the streamed verdicts (stream-static corpus join +
    // cross-micro-batch hash state) ≡ D8's batch classes — the
    // dedup_incremental oracle verbatim
    Gate("stream_incr_dedup", StreamGates.corpusDedupStreamed _, Oracle(
      """WITH orig AS (SELECT doc_id, text FROM documents),
        |b0 AS (SELECT doc_id, (doc_id // 5) % 4 AS i4 FROM documents
        |       WHERE doc_id % 5 = 0),
        |batch AS (SELECT b0.doc_id, o.text
        |  FROM b0 JOIN orig o ON o.doc_id =
        |    CASE WHEN b0.i4 = 1 THEN b0.doc_id + 1
        |         WHEN b0.i4 = 3 THEN b0.doc_id - 5
        |         ELSE b0.doc_id END),
        |corpus AS (SELECT DISTINCT text FROM documents WHERE doc_id % 5 <> 0),
        |r AS (SELECT b.doc_id, b.text,
        |    b.text IN (SELECT text FROM corpus) AS in_corpus,
        |    row_number() OVER (PARTITION BY b.text ORDER BY b.doc_id) AS rn
        |  FROM batch b)
        |SELECT doc_id,
        |  CASE WHEN in_corpus THEN 'dup_corpus'
        |       WHEN rn > 1 THEN 'dup_batch' ELSE 'kept' END AS verdict
        |FROM r""".stripMargin)),
    // H18: the streamed per-source open-bin cursor ≡ F11's greedy fold
    // — the seq_pack recursive-CTE oracle verbatim (pure integers)
    Gate("stream_seq_pack", StreamGates.seqPackStreamed _, Oracle(
      """WITH RECURSIVE
        |d AS (SELECT source,
        |    list_sort(list(struct_pack(doc_id := doc_id,
        |      nt := len(string_split(text, ' '))))) AS l
        |  FROM documents GROUP BY source),
        |pk(source, k, bin, fill, doc_id, n_tok) AS (
        |  SELECT source, 1 AS k, CAST(0 AS BIGINT) AS bin,
        |    CAST(l[1].nt AS BIGINT) AS fill, l[1].doc_id AS doc_id,
        |    CAST(l[1].nt AS BIGINT) AS n_tok
        |  FROM d
        |  UNION ALL
        |  SELECT p.source, p.k + 1,
        |    CASE WHEN p.fill + d.l[p.k+1].nt > 512
        |         THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + d.l[p.k+1].nt > 512
        |         THEN CAST(d.l[p.k+1].nt AS BIGINT)
        |         ELSE p.fill + d.l[p.k+1].nt END,
        |    d.l[p.k+1].doc_id, CAST(d.l[p.k+1].nt AS BIGINT)
        |  FROM pk p JOIN d ON d.source = p.source AND p.k < len(d.l))
        |SELECT doc_id, source, n_tok, bin FROM pk""".stripMargin)),
    // H21: the streamed alert state machine must reproduce the batch
    // gaps-and-islands derivation verbatim — same oracle as B49
    Gate("stream_alerts", StreamGates.alertsStreamed _, Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 28)) AS i),
        |w AS (
        |  SELECT CAST(e.user_id AS VARCHAR) AS usr, g.i
        |  FROM events e, g
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) >= 1704240000000000 + g.i*86400000000 - 172800000000
        |    AND epoch_us(e.ts) <= 1704240000000000 + g.i*86400000000),
        |c AS (SELECT usr, i, count(*) AS cnt FROM w GROUP BY 1, 2),
        |f AS (SELECT usr, i FROM c WHERE cnt > 2),
        |r AS (SELECT usr, i,
        |    i - row_number() OVER (PARTITION BY usr ORDER BY i) AS isl FROM f),
        |a AS (SELECT usr, i, min(i) OVER (PARTITION BY usr, isl) AS since FROM r)
        |SELECT 'HighPurchaseVolume' AS alertname, usr,
        |  1704240000 + i * 86400 AS t_sec,
        |  CASE WHEN (i - since) * 86400 >= 172800
        |       THEN 'firing' ELSE 'pending' END AS alertstate
        |FROM a""".stripMargin)),
    // H22: streamed SCD2 cursor ≡ the batch derivation's CLOSED rows
    Gate("stream_scd2", StreamGates.scd2Streamed _, Oracle(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type AS attr, epoch_us(ts) AS us
        |  FROM events),
        |c AS (
        |  SELECT user_id, event_id, attr, us,
        |    lag(attr) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |  FROM e),
        |ch AS (
        |  SELECT user_id, event_id, attr, us FROM c
        |  WHERE prev IS NULL OR prev <> attr),
        |v AS (
        |  SELECT user_id, attr, us AS valid_from_us,
        |    lead(us) OVER w AS valid_to_us,
        |    row_number() OVER w AS version
        |  FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT user_id, attr, valid_from_us, valid_to_us, version
        |FROM v WHERE valid_to_us IS NOT NULL""".stripMargin)),
    // H23: the streamed per-user rolling history ≡ the batch trailing
    // window verbatim — same oracle as C26
    Gate("stream_features", StreamGates.featuresStreamed _, Oracle(
      """WITH w AS (
        |  SELECT event_id, user_id, event_type,
        |    list(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id
        |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS hist
        |  FROM events)
        |SELECT event_id, user_id,
        |  array_to_string(coalesce(hist, []), ',') AS prev5,
        |  CAST(coalesce(len(hist), 0) AS INT) AS n_prev
        |FROM w WHERE event_type = 'purchase'""".stripMargin)),
    // H25: the live serving loop must produce the identical grid
    Gate("stream_gapfill", StreamGates.gapfillStreamed _, Oracle(gapfillSql)),
    // H26: the stream-maintained tier must serve the identical
    // dashboard (stream ≡ batch tier ≡ raw)
    Gate("stream_rollup", StreamGates.rollupStreamed _, Oracle(rollupDailySql)),
    // H27: the streaming bounded-heap sample must equal the batch
    // draw bit-for-bit (priorities are pure functions of the doc)
    Gate("stream_wsample", StreamGates.weightedSampleStreamed _, Oracle(wsampleSql)),
    // H28: the stream-maintained series catalog must serve the
    // identical churn dashboard (same oracle as A22)
    Gate("stream_churn", StreamGates.churnStreamed _, Oracle(churnSql)),
    // A22: series churn — births/deaths per day from the per-series
    // time bounds, ~30-row running net
    Gate("index_churn", index.IndexQueries.indexChurn _, Oracle(churnSql)),
    // A25: admission = first-40 series per metric in (first-seen µs,
    // usr) order, replayed from the raw per-series bounds
    Gate("index_guard", ((s: SparkSession, dir: String) =>
      index.IndexQueries.cardinalityGuard(s, dir)), Oracle(
      """WITH s AS (SELECT event_type AS typ,
        |    CAST(user_id AS VARCHAR) AS usr,
        |    epoch_us(min(ts)) AS first_us, count(*) AS n_samples
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT typ, usr, n_samples, row_number() OVER (
        |    PARTITION BY typ ORDER BY first_us, usr) AS rk FROM s)
        |SELECT typ, count(*) AS n_series,
        |  CAST(sum(CASE WHEN rk <= 40 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_admitted,
        |  CAST(sum(CASE WHEN rk > 40 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rejected,
        |  CAST(sum(CASE WHEN rk > 40 THEN n_samples ELSE 0 END) AS BIGINT)
        |    AS samples_dropped
        |FROM r GROUP BY 1""".stripMargin)),
    // H32: the stream-maintained first-seen table must admit exactly
    // like the batch guard — same oracle as index_guard
    Gate("stream_guard", StreamGates.cardinalityGuardStreamed _, Oracle(
      """WITH s AS (SELECT event_type AS typ,
        |    CAST(user_id AS VARCHAR) AS usr,
        |    epoch_us(min(ts)) AS first_us, count(*) AS n_samples
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT typ, usr, n_samples, row_number() OVER (
        |    PARTITION BY typ ORDER BY first_us, usr) AS rk FROM s)
        |SELECT typ, count(*) AS n_series,
        |  CAST(sum(CASE WHEN rk <= 40 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_admitted,
        |  CAST(sum(CASE WHEN rk > 40 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rejected,
        |  CAST(sum(CASE WHEN rk > 40 THEN n_samples ELSE 0 END) AS BIGINT)
        |    AS samples_dropped
        |FROM r GROUP BY 1""".stripMargin)),
    // H16: the final streamed centroid state per label (selected by the
    // monotone count, exploded per dimension) ≡ the batch per-label
    // dyadic component sums — exact doubles, the ann_centroid
    // quantization chain replayed from the raw embeddings
    Gate("stream_centroid", StreamGates.centroidStreamed _, Oracle(
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings WHERE label IS NOT NULL),
        |n0 AS (SELECT vec_id, label, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |u AS (SELECT vec_id, label,
        |    list_transform(e, x -> floor(x / nrm * 1048576.0 + 0.5) / 1048576.0)
        |      AS u FROM n0),
        |d AS (SELECT label, t.i AS i, sum(u[t.i]) AS s, count(*) AS n
        |  FROM u, UNNEST(range(1, 65)) t(i) GROUP BY 1, 2)
        |SELECT label, n, i, s FROM d""".stripMargin)),
    // H4: every hourly bucket's lifecycle (open → accumulate →
    // emit-on-next-bucket or timeout-flush) ≡ the batch hourly
    // aggregation; the in-state double fold runs in (ts, event_id)
    // order under ordered replay, replayed here via list_reduce
    Gate("stream_rate", StreamGates.rateStreamed _, Oracle(
      """WITH e AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ, value, event_id, epoch_us(ts) AS us,
        |    epoch_us(ts)//1000000//3600*3600 AS bucket
        |  FROM events),
        |b AS (SELECT usr, typ, bucket, count(*) AS n,
        |    list_transform(list_sort(list(struct_pack(us := us,
        |      eid := event_id, v := value))), x -> x.v) AS l
        |  FROM e GROUP BY 1, 2, 3)
        |SELECT usr, typ, bucket AS bucket_start_sec, n,
        |  floor(list_reduce(l, (a, b) -> a + b) / 3600.0 * 10000 + 0.5)
        |    / 10000 AS rate
        |FROM b""".stripMargin)),
    // H3: the landed day-partitioned lakehouse (written through the
    // checkpointed foreachBatch commit loop) re-read and aggregated —
    // nothing dropped, nothing doubled, day routing correct
    Gate("stream_store_ingest", StreamGates.storeIngestStreamed _, Oracle(
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type AS typ,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin)),
    Gate("label_values", index.IndexQueries.labelValues _, Oracle(
      "SELECT DISTINCT event_type AS value FROM events")),
    Gate("label_values_matched", index.IndexQueries.labelValuesMatched _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS value FROM events
        |WHERE event_type = 'purchase'
        |  AND CAST(user_id AS VARCHAR) >= '10'""".stripMargin)),
    Gate("label_names", index.IndexQueries.labelNames _, Oracle(
      "SELECT 'usr' AS label_name UNION ALL SELECT 'typ' AS label_name")),
    // A20: names defined (non-null) on ≥1 matched series — the sparse
    // `ab` label exists only on purchase series, so the view-side name
    // set must omit it
    Gate("label_names_matched", index.IndexQueries.labelNamesMatched _, Oracle(
      """WITH s AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(floor(value / 50) AS BIGINT) AS VARCHAR) END AS ab
        |  FROM events)
        |SELECT label_name, q FROM (
        |  SELECT 'view' AS q, t.label_name AS label_name
        |  FROM s, UNNEST(['usr','typ','ab']) t(label_name)
        |  WHERE s.typ = 'view' AND
        |    CASE t.label_name WHEN 'usr' THEN s.usr
        |         WHEN 'typ' THEN s.typ ELSE s.ab END IS NOT NULL
        |  UNION
        |  SELECT 'purchase' AS q, t.label_name AS label_name
        |  FROM s, UNNEST(['usr','typ','ab']) t(label_name)
        |  WHERE s.typ = 'purchase' AND
        |    CASE t.label_name WHEN 'usr' THEN s.usr
        |         WHEN 'typ' THEN s.typ ELSE s.ab END IS NOT NULL)""".stripMargin)),
    Gate("match_json_label", index.IndexQueries.matchJsonLabel _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS VARCHAR) AS kb
        |FROM events
        |WHERE event_type = 'view'
        |  AND CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS VARCHAR) = '3'
        |  AND CAST(user_id AS VARCHAR) <= '5'""".stripMargin)),
    // A13 × B42: the full PromQL algebra with the JSON-derived label in
    // the selector AND the aggregation key
    Gate("promql_json_labels", index.IndexQueries.promqlJsonLabels _, Oracle(
      """SELECT
        |  CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
        |    AS VARCHAR) AS kb,
        |  event_type AS typ, CAST(count(*) AS DOUBLE) AS value
        |FROM events
        |WHERE regexp_full_match(event_type, '(view|click)')
        |  AND CAST(user_id AS VARCHAR) <= '5'
        |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1, 2""".stripMargin)),
    Gate("promql_groupleft_carry", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // group_left(utag): the one side's synthesized label is copied
      // onto every many-side result row
      promql.PromQl.eval(s, dir,
        """sum by (usr, typ) (count_over_time({typ=~".*"}[30d]))
          | / on(usr) group_left(utag)
          | label_replace(sum by (usr) (count_over_time({typ=~".*"}[30d])),
          |   "utag", "u$1", "usr", "(.*)")""".stripMargin,
        "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"), col("utag"),
          (floor(col("value") * 1e6 + 0.5) / 1e6).as("value"))
    }), Oracle(
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    count(*) AS n
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1, 2),
        |u AS (SELECT usr, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.usr AS usr, c.typ AS typ, 'u' || c.usr AS utag,
        |  floor(CAST(c.n AS DOUBLE) / CAST(u.tot AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS value
        |FROM c JOIN u ON c.usr = u.usr""".stripMargin)),
    Gate("postings_list", index.IndexQueries.postingsList _, Oracle(
      """SELECT event_type AS typ,
        |  array_to_string(list_sort(list(DISTINCT CAST(user_id AS VARCHAR))), ',')
        |    AS postings,
        |  count(DISTINCT user_id) AS n
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("absent", index.IndexQueries.absent _, Oracle(
      """SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS absent
        |FROM events WHERE event_type = 'nonexistent'""".stripMargin)),
    Gate("series_lookup", index.IndexQueries.seriesLookup _, Oracle(
      """SELECT event_id, CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events WHERE event_id < 10""".stripMargin)),
    Gate("series_exists", index.IndexQueries.seriesExists _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events WHERE user_id = 5 AND event_type = 'click'""".stripMargin)),
    Gate("match_timerange", index.IndexQueries.matchTimerange _, Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events
        |WHERE event_type = 'error'
        |  AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-15 00:00:00'""".stripMargin)),
    Gate("select_range", index.IndexQueries.selectRange _, Oracle(
      """SELECT event_id, CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  epoch_us(ts)//1000000 AS ts_sec, round(value, 2) AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-12 00:00:00'""".stripMargin)),
    // B. TSDB analytics
    Gate("series_seek", tsdb.Tsdb.seriesSeek _, Oracle(
      """SELECT usr, typ, ts_sec, value FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    epoch_us(ts)//1000000 AS ts_sec, round(value, 2) AS value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00')
        |WHERE rn = 1""".stripMargin)),
    Gate("agg_by_label", tsdb.Tsdb.aggByLabel _, Oracle(
      """SELECT event_type AS typ,
        |  epoch_us(date_trunc('hour', ts))//1000000 AS hour_sec,
        |  count(*) AS n, round(sum(value), 2) AS sum_v,
        |  floor(avg(value) * 10000 + 0.5) / 10000 AS avg_v
        |FROM events GROUP BY 1, 2""".stripMargin)),
    Gate("rate", tsdb.Tsdb.rate _, Oracle(
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    epoch_us(date_trunc('hour', ts))//1000000 AS hour_sec,
        |    sum(value) OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) AS cum,
        |    epoch_us(ts) AS us
        |  FROM events)
        |SELECT usr, typ, hour_sec, count(*) AS n,
        |  round((max(cum) - min(cum)) / ((max(us) - min(us)) / 1000000.0), 4) AS rate
        |FROM c GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin)),
    // B39: identical arithmetic order as the Spark expressions — both
    // engines produce bit-identical doubles before the 2^-? dyadic
    // floor(x*1e6+0.5) quantization
    Gate("rate_extrapolated", tsdb.Tsdb.rateExtrapolated _, Oracle(
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    epoch_us(date_trunc('hour', ts))//1000000 AS hour_sec,
        |    sum(value) OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) AS cum,
        |    epoch_us(ts) AS us
        |  FROM events),
        |g AS (
        |  SELECT usr, typ, hour_sec, count(*) AS n, max(cum) AS cmax,
        |    min(cum) AS cmin, max(us) AS umax, min(us) AS umin
        |  FROM c GROUP BY 1, 2, 3
        |  HAVING count(*) >= 2 AND max(us) > min(us)),
        |e AS (
        |  SELECT usr, typ, hour_sec, n, cmax - cmin AS delta,
        |    (umax - umin) / 1000000.0 AS sampled,
        |    (umax - umin) / 1000000.0 / (n - 1) AS avgiv,
        |    umin / 1000000.0 - hour_sec AS dstart0,
        |    (hour_sec + 3600) - umax / 1000000.0 AS dend, cmin
        |  FROM g),
        |x AS (
        |  SELECT usr, typ, hour_sec, n, delta, sampled, avgiv, dend,
        |    avgiv * 1.1 AS thresh,
        |    CASE WHEN delta > 0 AND cmin >= 0
        |         THEN least(dstart0, sampled * (cmin / delta))
        |         ELSE dstart0 END AS dstart
        |  FROM e)
        |SELECT usr, typ, hour_sec, n,
        |  floor(delta * ((sampled
        |      + CASE WHEN dstart < thresh THEN dstart ELSE avgiv / 2 END
        |      + CASE WHEN dend < thresh THEN dend ELSE avgiv / 2 END)
        |      / sampled)
        |    / 3600 * 1000000 + 0.5) / 1000000 AS rate_x
        |FROM x""".stripMargin)),
    Gate("over_time", tsdb.Tsdb.overTime _, Oracle(
      """SELECT event_id, CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  epoch_us(ts)//1000000 AS ts_sec,
        |  round(avg(value) OVER w, 4) AS avg_1h,
        |  round(sum(value) OVER w, 2) AS sum_1h,
        |  round(min(value) OVER w, 2) AS min_1h,
        |  round(max(value) OVER w, 2) AS max_1h,
        |  count(*) OVER w AS n_1h,
        |  floor(stddev_samp(value) OVER w * 10000 + 0.5) / 10000 AS sd_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id, event_type
        |             ORDER BY epoch_us(ts)//1000000
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin)),
    Gate("over_time_quantile", tsdb.Tsdb.overTimeQuantile _, Oracle(
      """SELECT event_id, CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  epoch_us(ts)//1000000 AS ts_sec,
        |  floor(quantile_cont(value, 0.5) OVER w * 10000 + 0.5) / 10000 AS p50_1h,
        |  floor(quantile_cont(value, 0.9) OVER w * 10000 + 0.5) / 10000 AS p90_1h,
        |  arg_max(value, epoch_us(ts)//1000000 * 10000000 + event_id) OVER w AS last_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id, event_type
        |             ORDER BY epoch_us(ts)//1000000
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin)),
    // B36: both medians interpolate identically (Spark percentile ==
    // quantile_cont); the unrounded first median feeds the deviation,
    // the floor-trick rounds only the emitted columns
    Gate("mad_over_time", tsdb.Tsdb.madOverTime _, Oracle(
      """WITH s AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ,
        |    epoch_us(date_trunc('hour', ts))//1000000 AS hour_sec, value
        |  FROM events),
        |m AS (SELECT usr, typ, hour_sec, quantile_cont(value, 0.5) AS med
        |  FROM s GROUP BY 1, 2, 3)
        |SELECT usr, typ, hour_sec, count(*) AS n,
        |  floor(quantile_cont(abs(value - med), 0.5) * 10000 + 0.5) / 10000
        |    AS mad_1h,
        |  floor(max(med) * 10000 + 0.5) / 10000 AS p50_1h
        |FROM s JOIN m USING (usr, typ, hour_sec)
        |GROUP BY 1, 2, 3""".stripMargin)),
    Gate("deriv", tsdb.Tsdb.deriv _, Oracle(
      """WITH s AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ, value,
        |    epoch_us(ts) / 1000000.0 AS sec
        |  FROM events),
        |f AS (SELECT usr, typ, count(*) AS n,
        |    regr_slope(value, sec) AS slope
        |  FROM s GROUP BY 1, 2)
        |SELECT usr, typ, floor(slope * 3600 * 10000 + 0.5) / 10000 AS deriv_1h
        |FROM f WHERE n >= 2 AND slope IS NOT NULL""".stripMargin)),
    Gate("math_funcs", tsdb.Tsdb.mathFuncs _, Oracle(
      """SELECT event_id, CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  abs(value - 250.0) AS abs_v,
        |  CAST(ceil(value - 250.0) AS BIGINT) AS ceil_v,
        |  CAST(floor(value - 250.0) AS BIGINT) AS floor_v,
        |  sqrt(abs(value - 250.0)) AS sqrt_v,
        |  CAST(sign(value - 250.0) AS DOUBLE) AS sgn_v,
        |  least(greatest(value - 250.0, -100.0), 100.0) AS clamp_v,
        |  greatest(value - 250.0, 0.0) AS clamp_min_v,
        |  least(value - 250.0, 0.0) AS clamp_max_v
        |FROM events""".stripMargin)),
    // B41: pure IEEE comparisons/copies, no arithmetic — parity is by
    // construction (CASE replays sgn in doubles)
    Gate("clamp_funcs", tsdb.Tsdb.clampFuncs _, Oracle(
      """SELECT event_id, value,
        |  least(greatest(value, CAST(50.0 AS DOUBLE)), CAST(200.0 AS DOUBLE))
        |    AS v_clamp,
        |  greatest(value, CAST(50.0 AS DOUBLE)) AS v_clamp_min,
        |  least(value, CAST(200.0 AS DOUBLE)) AS v_clamp_max,
        |  CAST(CASE WHEN value > 100.0 THEN 1.0 WHEN value < 100.0 THEN -1.0
        |       ELSE 0.0 END AS DOUBLE) AS sgn
        |FROM events""".stripMargin)),
    Gate("topk", tsdb.Tsdb.topk _, Oracle(
      """WITH hourly AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    epoch_us(date_trunc('hour', ts))//1000000 AS hour_sec,
        |    round(sum(value), 2) AS sum_v
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT hour_sec, rk, usr, typ, sum_v FROM (
        |  SELECT *, row_number() OVER (PARTITION BY hour_sec
        |    ORDER BY sum_v DESC, usr, typ) AS rk
        |  FROM hourly)
        |WHERE rk <= 3""".stripMargin)),
    Gate("bottomk", tsdb.Tsdb.bottomk _, Oracle(
      """WITH hourly AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    epoch_us(date_trunc('hour', ts))//1000000 AS hour_sec,
        |    round(sum(value), 2) AS sum_v
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT hour_sec, rk, usr, typ, sum_v FROM (
        |  SELECT *, row_number() OVER (PARTITION BY hour_sec
        |    ORDER BY sum_v ASC, usr, typ) AS rk
        |  FROM hourly)
        |WHERE rk <= 3""".stripMargin)),
    Gate("quantile", tsdb.Tsdb.quantile _, Oracle(
      """SELECT event_type AS typ,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("count_values", tsdb.Tsdb.countValues _, Oracle(
      """SELECT event_type AS typ, CAST(floor(value) AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin)),
    Gate("downsample", tsdb.Tsdb.downsample _, Oracle(
      """SELECT usr, typ, step_sec, last_v FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    epoch_us(ts)//1000000 - (epoch_us(ts)//1000000) % 900 AS step_sec,
        |    round(value, 2) AS last_v,
        |    row_number() OVER (PARTITION BY user_id, event_type,
        |      epoch_us(ts)//1000000 - (epoch_us(ts)//1000000) % 900
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1""".stripMargin)),
    // B52: gapfill — hourly grid × series, observed MAX, LOCF +
    // linear interp via ignore-nulls one-sided windows
    Gate("gapfill", tsdb.Tsdb.gapfill _, Oracle(gapfillSql)),
    // B53: daily dashboard served from the LANDED 1h rollup tier;
    // the oracle computes it from raw events (tier ≡ raw)
    Gate("rollup_serve", tsdb.Rollup.rollupServe _, Oracle(rollupDailySql)),
    // B54: the 1h → 1d → weekly tier chain must equal the same weeks
    // computed from raw samples (epoch-aligned week formula)
    Gate("rollup_weekly", tsdb.Rollup.rollupServeWeekly _, Oracle(
      """WITH d AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    (epoch_us(ts)//1000000 - (epoch_us(ts)//1000000) % 86400)
        |      AS day_sec,
        |    epoch_us(ts) AS us, value, event_id
        |  FROM events
        |  WHERE epoch_us(ts)//1000000 >= 1704067200
        |    AND epoch_us(ts)//1000000 < 1704067200 + 28*86400),
        |w AS (
        |  SELECT usr, typ, day_sec - day_sec % 604800 AS week_sec,
        |    us, value, event_id
        |  FROM d),
        |a AS (
        |  SELECT usr, typ, week_sec, count(*) AS n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    min(value) AS vmin, max(value) AS vmax
        |  FROM w GROUP BY 1, 2, 3),
        |l AS (
        |  SELECT usr, typ, week_sec, value AS last_v FROM (
        |    SELECT usr, typ, week_sec, value,
        |      row_number() OVER (PARTITION BY usr, typ, week_sec
        |                         ORDER BY us DESC, event_id DESC) AS rn
        |    FROM w) WHERE rn = 1)
        |SELECT a.usr, a.typ, a.week_sec, a.n, a.sum_cents,
        |  a.vmin, a.vmax, l.last_v
        |FROM a JOIN l ON a.usr = l.usr AND a.typ = l.typ
        |  AND a.week_sec = l.week_sec""".stripMargin)),
    // the same daily dashboard for the 01-08..01-10 band,
    // served from the COMMIT-LOG tier with stats file pruning; raw
    // replay proves pruning lost nothing
    Gate("rollup_pruned", tsdb.Rollup.rollupServePruned _, Oracle(rollupDailySql
      .replace("1704067200 + 21*86400", "1704067200 + 10*86400")
      .replace(">= 1704067200\n", ">= 1704067200 + 7*86400\n"))),
    Gate("ingest_batch", tsdb.Tsdb.ingestBatch _, Oracle(
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type AS typ,
        |  count(*) AS n_samples, count(DISTINCT user_id) AS n_series,
        |  round(sum(value), 2) AS sum_v
        |FROM events GROUP BY 1, 2""".stripMargin)),
    Gate("asof_join", tsdb.Tsdb.asofCheckpoints _, Oracle(
      """WITH series AS (SELECT DISTINCT user_id, event_type FROM events),
        |probes AS (SELECT user_id, event_type,
        |    unnest([TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-10 00:00:00',
        |            TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-01-20 00:00:00',
        |            TIMESTAMP '2024-01-25 00:00:00']) AS pts
        |  FROM series)
        |SELECT CAST(p.user_id AS VARCHAR) AS usr, p.event_type AS typ,
        |  epoch_us(p.pts)//1000000 AS pts_sec, round(e.value, 2) AS v
        |FROM probes p ASOF LEFT JOIN events e
        |  ON p.user_id = e.user_id AND p.event_type = e.event_type
        |  AND e.ts <= p.pts""".stripMargin)),
    Gate("delta", tsdb.Tsdb.delta _, Oracle(
      """SELECT usr, typ, bucket_sec, n, delta FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    epoch_us(ts)//1000000 - (epoch_us(ts)//1000000) % 21600 AS bucket_sec,
        |    count(*) AS n,
        |    round(arg_max(value, ts) - arg_min(value, ts), 2) AS delta
        |  FROM events GROUP BY 1, 2, 3)
        |WHERE n >= 2""".stripMargin)),
    Gate("irate", tsdb.Tsdb.irate _, Oracle(
      """WITH r AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    value, epoch_us(ts) AS us, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |l AS (SELECT usr, typ, count(*) AS n,
        |    arg_max(value, ts) AS v1, arg_min(value, ts) AS v0,
        |    max(us) AS u1, min(us) AS u0
        |  FROM r WHERE rn <= 2 GROUP BY 1, 2)
        |SELECT usr, typ,
        |  round(abs(v1 - v0) / ((u1 - u0) / 1000000.0), 4) AS irate
        |FROM l WHERE n = 2 AND u1 > u0""".stripMargin)),
    Gate("resets", tsdb.Tsdb.resets _, Oracle(
      """WITH r AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ, value,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT usr, typ,
        |  CAST(sum(CASE WHEN value < prev THEN 1 ELSE 0 END) AS BIGINT) AS resets
        |FROM r GROUP BY 1, 2""".stripMargin)),
    Gate("changes", tsdb.Tsdb.changes _, Oracle(
      """WITH r AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ, value,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT usr, typ,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND value <> prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS changes
        |FROM r GROUP BY 1, 2""".stripMargin)),
    Gate("label_ops", tsdb.Tsdb.labelOps _, Oracle(
      """SELECT regexp_replace(event_type, '^(click|view)$', 'interaction') AS klass,
        |  count(DISTINCT CAST(user_id AS VARCHAR) || ':' || event_type) AS n_instances,
        |  count(*) AS n_samples, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("sliding_window", tsdb.Tsdb.slidingWindow _, Oracle(
      """WITH e AS (SELECT event_type AS typ, value,
        |    epoch_us(ts)//1000000 AS sec FROM events),
        |w AS (SELECT typ, value, sec - (sec % 300) AS ws FROM e
        |      UNION ALL
        |      SELECT typ, value, sec - (sec % 300) - 300 AS ws FROM e)
        |SELECT ws AS win_start_sec, typ, count(*) AS n,
        |  round(sum(value), 2) AS sum_v
        |FROM w GROUP BY 1, 2""".stripMargin)),
    Gate("session_window", tsdb.Tsdb.sessionWindow _, Oracle(
      """WITH e AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ, value, event_id,
        |    epoch_us(ts)//1000000 AS sec, epoch_us(ts) AS us
        |  FROM events),
        |m AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY usr, typ ORDER BY us, event_id)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY usr, typ
        |      ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM m)
        |SELECT min(sec) AS sess_start_sec, usr, typ,
        |  count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM s GROUP BY usr, typ, sess""".stripMargin)),
    Gate("holt_winters", tsdb.Tsdb.holtWinters _, Oracle(
      """WITH RECURSIVE
        |o AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ, count(*) AS n,
        |    list_transform(
        |      list_sort(list(struct_pack(us := epoch_us(ts),
        |        eid := event_id, v := value))),
        |      x -> x.v) AS l
        |  FROM events GROUP BY 1, 2),
        |seq AS (SELECT usr, typ,
        |    unnest(list_transform(range(1, len(l) + 1),
        |      i -> struct_pack(idx := i, v := l[i]))) AS e
        |  FROM o),
        |hw(usr, typ, k, s, b) AS (
        |  SELECT usr, typ, 2 AS k, l[2] AS s, l[2] - l[1] AS b
        |  FROM o WHERE n >= 2
        |  UNION ALL
        |  SELECT h.usr, h.typ, h.k + 1,
        |    0.3*(q.e).v + 0.7*(h.s + h.b) AS s,
        |    0.1*(0.3*(q.e).v + 0.7*(h.s + h.b) - h.s) + 0.9*h.b AS b
        |  FROM hw h JOIN seq q ON q.usr = h.usr AND q.typ = h.typ
        |    AND (q.e).idx = h.k + 1)
        |SELECT h.usr, h.typ, o.n, round(h.s, 4) AS hw
        |FROM hw h JOIN o ON o.usr = h.usr AND o.typ = h.typ AND h.k = o.n
        |WHERE o.n >= 3""".stripMargin)),
    // recursion carries the seasonal LIST in the CTE state; every
    // arithmetic expression replicates the Spark fold's op order so the
    // doubles are bit-identical before round()
    Gate("holt_winters_seasonal", tsdb.Tsdb.holtWintersSeasonal _, Oracle(
      """WITH RECURSIVE
        |o AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ, count(*) AS n,
        |    list_transform(
        |      list_sort(list(struct_pack(us := epoch_us(ts),
        |        eid := event_id, v := value))),
        |      x -> x.v) AS l
        |  FROM events GROUP BY 1, 2),
        |seq AS (SELECT usr, typ,
        |    unnest(list_transform(range(1, len(l) + 1),
        |      i -> struct_pack(idx := i, v := l[i]))) AS e
        |  FROM o),
        |hw(usr, typ, k, s, b, c) AS (
        |  SELECT usr, typ, 1 AS k, l[1] AS s, CAST(0 AS DOUBLE) AS b,
        |    [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
        |     CAST(0 AS DOUBLE)] AS c
        |  FROM o WHERE n >= 1
        |  UNION ALL
        |  SELECT h.usr, h.typ, h.k + 1,
        |    0.3*((q.e).v - h.c[(h.k % 4) + 1]) + 0.7*(h.s + h.b) AS s,
        |    0.1*((0.3*((q.e).v - h.c[(h.k % 4) + 1]) + 0.7*(h.s + h.b)) - h.s)
        |      + 0.9*h.b AS b,
        |    list_transform(range(1, 5), m -> CASE WHEN m = (h.k % 4) + 1
        |      THEN 0.2*((q.e).v
        |             - (0.3*((q.e).v - h.c[(h.k % 4) + 1]) + 0.7*(h.s + h.b)))
        |           + 0.8*h.c[m]
        |      ELSE h.c[m] END) AS c
        |  FROM hw h JOIN seq q ON q.usr = h.usr AND q.typ = h.typ
        |    AND (q.e).idx = h.k + 1)
        |SELECT h.usr, h.typ, o.n, round(h.s, 4) AS hw,
        |  round(h.s + h.b + h.c[(o.n % 4) + 1], 4) AS fc
        |FROM hw h JOIN o ON o.usr = h.usr AND o.typ = h.typ AND h.k = o.n
        |WHERE o.n >= 6""".stripMargin)),
    Gate("logical_ops", tsdb.Tsdb.logicalOps _, Oracle(
      """WITH base AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    round(sum(value), 2) AS sum_v
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT * FROM base WHERE sum_v > 600),
        |b AS (SELECT * FROM base WHERE typ = 'error' AND sum_v > 750)
        |SELECT 'and' AS op, usr, typ, sum_v FROM a
        |  WHERE usr IN (SELECT usr FROM b)
        |UNION ALL
        |SELECT 'unless' AS op, usr, typ, sum_v FROM a
        |  WHERE usr NOT IN (SELECT usr FROM b)
        |UNION ALL
        |SELECT 'or' AS op, usr, typ, sum_v FROM (
        |  SELECT * FROM a
        |  UNION ALL
        |  SELECT b.* FROM b WHERE NOT EXISTS (
        |    SELECT 1 FROM a WHERE a.usr = b.usr AND a.typ = b.typ))""".stripMargin)),
    Gate("predict_linear", tsdb.Tsdb.predictLinear _, Oracle(
      """WITH s AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ, value,
        |    epoch_us(ts) / 1000000.0 AS sec
        |  FROM events),
        |f AS (SELECT usr, typ, count(*) AS n,
        |    regr_slope(value, sec) AS slope,
        |    regr_intercept(value, sec) AS icept
        |  FROM s GROUP BY 1, 2)
        |SELECT usr, typ,
        |  round(icept + slope * (epoch_us(TIMESTAMP '2024-01-31 00:00:00')//1000000 + 3600), 2)
        |    AS predicted
        |FROM f WHERE n >= 2 AND slope IS NOT NULL""".stripMargin)),
    Gate("offset_compare", tsdb.Tsdb.offsetCompare _, Oracle(
      """WITH d AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ, strftime(ts, '%Y-%m-%d') AS day,
        |    round(sum(value), 2) AS sum_v
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT usr, typ, day, sum_v, prev_v,
        |  round(sum_v - prev_v, 2) AS dod
        |FROM (SELECT *, lag(sum_v) OVER (PARTITION BY usr, typ
        |        ORDER BY day) AS prev_v FROM d)
        |WHERE prev_v IS NOT NULL""".stripMargin)),
    Gate("subquery_rate", tsdb.Tsdb.subqueryRate _, Oracle(
      """WITH hourly AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    epoch_us(date_trunc('hour', ts))//1000000 AS hour_sec,
        |    round(sum(value), 2) AS sum_v
        |  FROM events GROUP BY 1, 2, 3),
        |stepped AS (
        |  SELECT usr, typ, hour_sec,
        |    floor(sum_v / 3600 * 1000000 + 0.5) / 1000000 AS rate_1h
        |  FROM hourly)
        |SELECT usr, typ, hour_sec, rate_1h,
        |  max(rate_1h) OVER (PARTITION BY usr, typ ORDER BY hour_sec
        |    RANGE BETWEEN 82800 PRECEDING AND CURRENT ROW) AS max_rate_1d
        |FROM stepped""".stripMargin)),
    // B37: the oracle uses DuckDB's native ASOF JOIN where Spark
    // composes union + ordered window — cross-form equivalence, with
    // the same 2h staleness horizon dropping dead grid points
    Gate("range_eval", tsdb.Tsdb.rangeEval _, Oracle(
      """WITH series AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ FROM events),
        |grid AS (SELECT usr, typ, unnest(generate_series(
        |    TIMESTAMP '2024-01-10 00:00:00', TIMESTAMP '2024-01-15 00:00:00',
        |    INTERVAL 1 HOUR)) AS pts FROM series),
        |s AS (SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    ts, arg_max(value, event_id) AS value FROM events GROUP BY 1, 2, 3),
        |j AS MATERIALIZED (
        |  SELECT g.usr, g.typ, g.pts, a.ts AS ats, a.value AS value
        |  FROM grid g ASOF JOIN s a
        |    ON a.usr = g.usr AND a.typ = g.typ AND a.ts <= g.pts)
        |SELECT usr, typ, epoch_us(pts)//1000000 AS pts_sec, round(value, 2) AS v
        |FROM j WHERE ats > pts - INTERVAL 2 HOUR""".stripMargin)),
    Gate("binary_op", tsdb.Tsdb.binaryOp _, Oracle(
      """WITH hourly AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    epoch_us(date_trunc('hour', ts))//1000000 AS hour_sec,
        |    round(sum(value), 2) AS sum_v
        |  FROM events GROUP BY 1, 2, 3),
        |by_user AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr,
        |    epoch_us(date_trunc('hour', ts))//1000000 AS hour_sec,
        |    round(sum(value), 2) AS user_v
        |  FROM events GROUP BY 1, 2)
        |SELECT h.usr, h.typ, h.hour_sec, h.sum_v, b.user_v,
        |  floor(h.sum_v / b.user_v * 10000 + 0.5) / 10000 AS share
        |FROM hourly h JOIN by_user b USING (usr, hour_sec)
        |WHERE b.user_v <> 0""".stripMargin)),
    Gate("quantile_sketch", tsdb.Tsdb.quantileSketch _, Oracle(
      """SELECT event_type AS typ,
        |  round(quantile_disc(value, 0.5), 4) AS p50,
        |  round(quantile_disc(value, 0.9), 4) AS p90,
        |  round(quantile_disc(value, 0.99), 4) AS p99
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("at_modifier", tsdb.Tsdb.atModifier _, Oracle(
      """WITH w AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    ts, event_id, value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-20 12:00:00.000001'),
        |r AS (SELECT *, row_number() OVER (PARTITION BY usr, typ
        |        ORDER BY ts DESC, event_id DESC) AS rk FROM w)
        |SELECT usr, typ, epoch_us(ts)//1000000 AS sample_ts_sec,
        |  round(value, 2) AS value_at
        |FROM r WHERE rk = 1""".stripMargin)),
    Gate("absent_over_time", tsdb.Tsdb.absentOverTime _, Oracle(
      """WITH l AS (SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    epoch_us(date_trunc('hour', ts))//1000000 AS h FROM events),
        |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM l),
        |p AS (SELECT usr, typ, count(DISTINCT h) AS n_present FROM l GROUP BY 1, 2)
        |SELECT usr, typ, n_present,
        |  (span.h1 - span.h0)//3600 + 1 - n_present AS n_absent
        |FROM p CROSS JOIN span""".stripMargin)),
    Gate("idelta", tsdb.Tsdb.idelta _, Oracle(
      """WITH r AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    value, epoch_us(ts) AS us, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |l AS (SELECT usr, typ, count(*) AS n,
        |    arg_max(value, ts) AS v1, arg_min(value, ts) AS v0,
        |    max(us) AS u1, min(us) AS u0
        |  FROM r WHERE rn <= 2 GROUP BY 1, 2)
        |SELECT usr, typ, round(v1 - v0, 2) AS idelta
        |FROM l WHERE n = 2 AND u1 > u0""".stripMargin)),
    Gate("agg_stats", tsdb.Tsdb.aggStats _, Oracle(
      """SELECT event_type AS typ,
        |  count(DISTINCT user_id) AS n_series,
        |  count(*) AS n_samples,
        |  floor(stddev_pop(value) * 10000 + 0.5) / 10000 AS sd_pop,
        |  floor(var_pop(value) * 100 + 0.5) / 100 AS var_pop,
        |  CAST(1 AS BIGINT) AS grp
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("time_funcs", tsdb.Tsdb.timeFuncs _, Oracle(
      """SELECT CAST(dayofweek(ts) AS INT) AS dow, CAST(hour(ts) AS INT) AS hr,
        |  CAST(dayofmonth(ts) AS INT) AS dom, CAST(month(ts) AS INT) AS mon,
        |  CAST(dayofmonth(last_day(ts)) AS INT) AS dim,
        |  count(*) AS n, round(sum(value), 2) AS sum_v
        |FROM events GROUP BY 1, 2, 3, 4, 5""".stripMargin)),
    Gate("text_pii", text.TextAnalysis.piiScrub _, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    text || ' contact u' || doc_id || '@mail.example 555-867-530'
        |      || (doc_id % 10) AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t,
        |    CAST(len(regexp_extract_all(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(t, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones
        |  FROM t)
        |SELECT doc_id, n_emails, n_phones,
        |  regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted,
        |  (n_emails + n_phones) = 2 AS clean_after_inject
        |FROM c""".stripMargin)),
    Gate("text_pii_structured", text.TextAnalysis.piiStructured _, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 97 = 0 THEN ' card 4111111111111111 x' ELSE '' END
        |    || CASE WHEN doc_id % 101 = 0 THEN ' bad 4111111111111112 y' ELSE '' END
        |    || CASE WHEN doc_id % 89 = 0 THEN ' ip 10.1.2.3 z' ELSE '' END AS t
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, t,
        |    list_filter(regexp_extract_all(t, '[0-9]+'),
        |      x -> len(x) >= 13 AND len(x) <= 16) AS runs
        |  FROM t),
        |v AS (
        |  SELECT doc_id,
        |    CAST(len(runs) AS BIGINT) AS n_runs,
        |    CAST(len(list_filter(runs, s ->
        |      list_sum(list_transform(range(1, len(s) + 1), j ->
        |        CASE WHEN j % 2 = 0 THEN
        |          (ascii(substr(s, len(s) - j + 1, 1)) - 48) * 2
        |            - CASE WHEN (ascii(substr(s, len(s) - j + 1, 1)) - 48) * 2 > 9
        |                   THEN 9 ELSE 0 END
        |        ELSE ascii(substr(s, len(s) - j + 1, 1)) - 48 END))
        |      % 10 = 0)) AS BIGINT) AS n_luhn_valid,
        |    CAST(len(regexp_extract_all(t,
        |      '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4
        |  FROM r)
        |SELECT doc_id, n_runs, n_luhn_valid, n_ipv4
        |FROM v WHERE n_runs > 0 OR n_ipv4 > 0""".stripMargin)),
    // F30: HTML strip — markup injected on both engines; block drop →
    // tag strip → entity decode (&amp; last) → whitespace collapse
    Gate("text_html_strip", text.TextAnalysis.htmlStrip _, Oracle(
      """WITH r AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN
        |      '<html><head><title>t</title><style>p { color: red; }</style>'
        |      || '</head><body><h1>Heading</h1><p class="x">' || text
        |      || ' A &amp; B &lt;i&gt; &quot;q&quot;</p>'
        |      || '<script>var x = 1 < 2 && 3 > 2;</script><!-- hidden -->'
        |      || '</body></html>'
        |    ELSE text END AS raw
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, raw,
        |    regexp_replace(regexp_replace(regexp_replace(raw,
        |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g') AS nb
        |  FROM r),
        |t AS (
        |  SELECT doc_id, raw,
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(nb, '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&') AS dec
        |  FROM s),
        |f AS (
        |  SELECT doc_id, raw,
        |    trim(regexp_replace(dec, '\s+', ' ', 'g')) AS clean
        |  FROM t)
        |SELECT doc_id, length(raw) AS raw_len, length(clean) AS clean_len,
        |  floor(CAST(length(clean) AS DOUBLE) / length(raw) * 10000 + 0.5)
        |    / 10000 AS text_density,
        |  substr(clean, 1, 60) AS head
        |FROM f""".stripMargin)),
    Gate("stratified_sample", text.TextAnalysis.stratifiedSample _, Oracle(
      """WITH k AS (
        |  SELECT *, CAST(regexp_extract(source, '^src(\d+)$', 1) AS INT) AS sn
        |  FROM documents)
        |SELECT source,
        |  count(*) AS n_kept,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM k
        |WHERE doc_id % 10 < (CASE WHEN sn < 5 THEN 2
        |                          WHEN sn < 10 THEN 5 ELSE 8 END)
        |GROUP BY 1""".stripMargin)),
    // C. relational core
    Gate("q1_agg", operators.Relational.q1Agg _, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),
    Gate("q3_join", operators.Relational.q3Join _, Oracle(
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)),
    Gate("q5_multijoin", operators.Relational.q5MultiJoin _, Oracle(
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1994-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY n_name""".stripMargin)),
    Gate("window_rank", operators.Relational.windowRank _, Oracle(
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber, running_qty FROM (
        |  SELECT l_suppkey,
        |    row_number() OVER w AS rn,
        |    l_orderkey, l_linenumber,
        |    round(sum(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |) WHERE rn <= 5""".stripMargin)),
    Gate("semi_anti", operators.Relational.semiAnti _, Oracle(
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin)),
    Gate("distinct_count", operators.Relational.distinctCount _, Oracle(
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    Gate("json_extract", operators.Relational.jsonExtract _, Oracle(
      """SELECT event_type, count(*) AS n,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin)),
    Gate("salted_agg", operators.Skew.saltedAgg _, Oracle(
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_v,
        |  round(sum(value) / count(*), 4) AS avg_v
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("interval_join", operators.Relational.intervalJoin _, Oracle(
      """SELECT e.event_id, CAST(e.user_id AS VARCHAR) AS usr,
        |  count(p.event_id) AS n_nearby
        |FROM events e LEFT JOIN events p
        |  ON p.user_id = e.user_id AND p.event_type = 'purchase'
        |  AND abs(epoch_us(p.ts) - epoch_us(e.ts)) <= 3600000000
        |WHERE e.event_type = 'error'
        |GROUP BY 1, 2""".stripMargin)),
    // C19: the oracle runs the NAIVE range-predicate join while the
    // Spark side runs the bucketed equi-join + residual — the gate
    // proves cross-form equivalence of the range-join rewrite
    Gate("band_join", operators.Relational.bandJoin _, Oracle(
      """WITH b(band, lo, hi) AS (VALUES
        |  ('fast', 0.0, 5.0), ('ok', 5.0, 20.0), ('slow', 20.0, 80.0),
        |  ('degraded', 80.0, 150.0), ('critical', 150.0, 400.0))
        |SELECT band, CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events e JOIN b ON e.value > lo AND e.value <= hi
        |GROUP BY 1, 2, 3""".stripMargin)),
    // C20: per-table conditional aggregates + the FK anti-join,
    // replayed as scalar CTEs; the value-cap check fails by design so
    // the violation-reporting path is non-vacuous
    Gate("data_audit", operators.Relational.dataAudit _, Oracle(
      """WITH li AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
        |    CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_price
        |  FROM lineitem),
        |o AS (SELECT count(*) AS n,
        |    count(*) - count(DISTINCT o_orderkey) AS v_pk FROM orders),
        |f AS (SELECT count(*) AS v_fk FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |e AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v_null,
        |    CAST(sum(CASE WHEN value > 300 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v_cap
        |  FROM events)
        |SELECT 'lineitem_qty_in_1_50' AS check_name, n AS n_checked,
        |  v_qty AS n_viol, v_qty = 0 AS pass FROM li
        |UNION ALL SELECT 'lineitem_price_positive', n, v_price,
        |  v_price = 0 FROM li
        |UNION ALL SELECT 'orders_pk_unique', n, v_pk, v_pk = 0 FROM o
        |UNION ALL SELECT 'orders_fk_customer', o.n, v_fk, v_fk = 0 FROM o, f
        |UNION ALL SELECT 'events_value_not_null', n, v_null,
        |  v_null = 0 FROM e
        |UNION ALL SELECT 'events_value_le_300', n, v_cap, v_cap = 0
        |  FROM e""".stripMargin)),
    // C21: the oracle takes the FULL-RECOMPUTE route over all events
    // while the Spark side merges stored view state with the batch's
    // partial state — cross-form equivalence is the MV-maintenance
    // correctness contract
    Gate("mv_merge", operators.Relational.mvMerge _, Oracle(
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |SELECT usr, typ, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  floor(sqrt(CAST(sum(cents * cents) AS DOUBLE) / count(*)
        |    - (CAST(sum(cents) AS DOUBLE) / count(*))
        |    * (CAST(sum(cents) AS DOUBLE) / count(*))) * 1e6 + 0.5) / 1e6
        |    AS stddev_cents
        |FROM c GROUP BY 1, 2""".stripMargin)),
    Gate("rollup_agg", operators.Relational.rollupAgg _, Oracle(
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),
    Gate("cube_agg", operators.Relational.cubeAgg _, Oracle(
      """SELECT coalesce(source, 'ALL') AS source,
        |  coalesce(lang, 'ALL') AS lang,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY CUBE (source, lang)""".stripMargin)),
    Gate("pivot_agg", operators.Relational.pivotAgg _, Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("curation_pipeline", operators.Curation.pipeline _, Oracle(
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM words),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jp AS (SELECT ia, ib FROM pairs
        |  JOIN cnt ca ON ca.doc_id = ia
        |  JOIN cnt cb ON cb.doc_id = ib
        |  WHERE round(c * 1.0 / (ca.n + cb.n - c), 4) >= 0.8),
        |edges AS (SELECT ia AS a, ib AS b FROM jp
        |          UNION ALL SELECT ib AS a, ia AS b FROM jp),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |clus AS (SELECT a AS doc_id, least(min(b), a) AS cluster_id
        |  FROM reach GROUP BY a),
        |drop_near AS (SELECT doc_id FROM clus WHERE doc_id <> cluster_id),
        |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |q AS (SELECT doc_id FROM (
        |    SELECT doc_id, len(string_split(text, ' ')) AS n_words,
        |      round((len(list_filter(string_split(text, ' '), x -> x = 'the'))
        |           + len(list_filter(string_split(text, ' '), x -> x = 'a'))) * 1.0
        |        / len(string_split(text, ' ')), 4) AS stop_ratio,
        |      round(len(list_distinct(string_split(text, ' '))) * 1.0
        |        / len(string_split(text, ' ')), 4) AS uniq_ratio
        |    FROM documents)
        |  WHERE n_words BETWEEN 20 AND 1000
        |    AND stop_ratio <= 0.3 AND uniq_ratio >= 0.3),
        |surv AS (SELECT d.* FROM documents d
        |  WHERE d.doc_id IN (SELECT doc_id FROM exact_keep)
        |    AND d.doc_id NOT IN (SELECT doc_id FROM drop_near)
        |    AND d.doc_id IN (SELECT doc_id FROM q))
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM surv GROUP BY 1""".stripMargin)),
    // C14: the oracle keeps the subquery in CORRELATED form while the
    // Spark side runs the decorrelated one-aggregate plan — the gate
    // proves cross-form equivalence, not just self-consistency
    Gate("corr_subquery", operators.Relational.corrSubquery _, Oracle(
      """SELECT p.p_brand,
        |  count(DISTINCT p.p_partkey) AS n_parts,
        |  count(*) AS n_small,
        |  round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE l.l_quantity < 0.5 * (SELECT avg(l2.l_quantity) FROM lineitem l2
        |                            WHERE l2.l_partkey = p.p_partkey)
        |GROUP BY 1""".stripMargin)),
    // C16: the oracle rebuilds snapshot B with the same deterministic
    // revision rules, then classifies via the same full-outer join
    Gate("corpus_diff", operators.Relational.snapshotDiff _, Oracle(
      """WITH a AS (SELECT doc_id, source, text FROM documents),
        |b AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM a WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, source, text || ' fresh' AS text
        |  FROM a WHERE doc_id % 17 = 0),
        |j AS (
        |  SELECT coalesce(a.source, b.source) AS source,
        |    CASE WHEN a.text IS NULL THEN 'added'
        |         WHEN b.text IS NULL THEN 'removed'
        |         WHEN a.text = b.text THEN 'same'
        |         ELSE 'changed' END AS cls
        |  FROM a FULL OUTER JOIN b USING (doc_id))
        |SELECT source,
        |  CAST(sum(CASE WHEN cls = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN cls = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN cls = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN cls = 'same' THEN 1 ELSE 0 END) AS BIGINT) AS n_same
        |FROM j GROUP BY 1""".stripMargin)),
    // C17: min() anchor chains per step; HAVING carries the 7-day
    // completion bound; counts divide as doubles on both engines
    Gate("funnel", operators.Relational.funnel _, Oracle(
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, s1.t1, min(e.us) AS t2
        |  FROM ev e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, s2.t1, s2.t2, min(e.us) AS t3
        |  FROM ev e JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1, 2, 3
        |  HAVING min(e.us) - s2.t1 <= 604800000000)
        |SELECT (SELECT count(*) FROM s1) AS n_view,
        |  (SELECT count(*) FROM s2) AS n_click,
        |  (SELECT count(*) FROM s3) AS n_purchase,
        |  floor((SELECT count(*) FROM s2) / (SELECT count(*) FROM s1)
        |    * 10000 + 0.5) / 10000 AS cr_click,
        |  floor((SELECT count(*) FROM s3) / (SELECT count(*) FROM s1)
        |    * 10000 + 0.5) / 10000 AS cr_full""".stripMargin)),
    // C18: cohort day rendered as a yyyy-MM-dd string on both sides
    // (date dtype canonicalization differs between engines)
    Gate("retention", operators.Relational.retention _, Oracle(
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |fst AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY 1),
        |sizes AS (SELECT cohort, count(*) AS n0 FROM fst GROUP BY 1),
        |r AS (SELECT f.cohort, date_diff('day', f.cohort, a.day) AS k,
        |    count(DISTINCT a.user_id) AS n
        |  FROM act a JOIN fst f ON f.user_id = a.user_id
        |  WHERE date_diff('day', f.cohort, a.day) <= 7 GROUP BY 1, 2)
        |SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort_day,
        |  CAST(r.k AS BIGINT) AS day_offset, n, n0,
        |  floor(n / n0 * 10000 + 0.5) / 10000 AS retained
        |FROM r JOIN sizes s ON s.cohort = r.cohort""".stripMargin)),
    // C22: gap-30min sessionization — identical window/flag/running-sum
    // recurrence; (us, event_id) is a unique ordering so the running
    // sum's default RANGE frame equals ROWS on both engines
    Gate("sessionize", operators.Relational.sessionize _, Oracle(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, event_type, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS newf
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (
        |  SELECT user_id, event_type, us,
        |    sum(newf) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS session_ord
        |  FROM f),
        |g AS (
        |  SELECT user_id, session_ord, count(*) AS n_events,
        |    count(DISTINCT event_type) AS n_types,
        |    (max(us) - min(us)) / 1000000.0 AS dur_sec
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_events,
        |  max(n_types) AS max_types,
        |  floor(avg(dur_sec) * 10000 + 0.5) / 10000 AS avg_dur_sec
        |FROM g GROUP BY 1""".stripMargin)),
    // C25: SCD2 — identical lag-dedup + lead-close + version numbering
    Gate("scd2", operators.Relational.scd2 _, Oracle(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type AS attr, epoch_us(ts) AS us
        |  FROM events),
        |c AS (
        |  SELECT user_id, event_id, attr, us,
        |    lag(attr) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |  FROM e),
        |ch AS (
        |  SELECT user_id, event_id, attr, us FROM c
        |  WHERE prev IS NULL OR prev <> attr)
        |SELECT user_id, attr, us AS valid_from_us,
        |  lead(us) OVER w AS valid_to_us,
        |  row_number() OVER w AS version,
        |  lead(us) OVER w IS NULL AS is_current
        |FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)""".stripMargin)),
    // C26: trailing-window feature assembly — DuckDB's window list()
    // aggregates in frame order, same as Spark's ordered collect_list
    Gate("feature_assembly", operators.Relational.featureAssembly _, Oracle(
      """WITH w AS (
        |  SELECT event_id, user_id, event_type,
        |    list(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id
        |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS hist
        |  FROM events)
        |SELECT event_id, user_id,
        |  array_to_string(coalesce(hist, []), ',') AS prev5,
        |  CAST(coalesce(len(hist), 0) AS INT) AS n_prev
        |FROM w WHERE event_type = 'purchase'""".stripMargin)),
    // C27: priority sampling — the oracle replays the EXACT draw:
    // u is a dyadic fraction of the dual-poly hash of the doc id and
    // priority is one IEEE division, so even the doubles hash-match
    Gate("weighted_sample", operators.Relational.weightedSample _, Oracle(wsampleSql)),
    // F31: histogram-percentile cut — same dual-poly margin as F20,
    // bounded ikey histogram, cumulative-from-top budget, boundary
    // bucket excluded
    Gate("quality_cut", text.TextAnalysis.qualityCut _, Oracle(
      """WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |h AS (SELECT doc_id, source,
        |    ((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split_regex(w, ''),
        |          ch -> CAST(ascii(ch) AS BIGINT))),
        |        (a, x) -> (a * 131 + x) % 1000000007) * 2147483648
        |      + list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split_regex(w, ''),
        |          ch -> CAST(ascii(ch) AS BIGINT))),
        |        (a, x) -> (a * 137 + x) % 998244353)) % 2001) - 1000 AS wt
        |  FROM t),
        |s AS (SELECT doc_id, source, count(*) AS n_tok,
        |    CAST(sum(wt) AS BIGINT) AS score_num FROM h GROUP BY 1, 2),
        |sk AS (SELECT doc_id, source,
        |    CAST(floor(score_num * 1000.0 / n_tok) AS BIGINT) AS ikey FROM s),
        |b AS (SELECT CAST(count(*) // 4 AS BIGINT) AS k FROM sk),
        |hist AS (SELECT ikey, count(*) AS c FROM sk GROUP BY 1),
        |cum AS (SELECT ikey, sum(c) OVER (ORDER BY ikey DESC
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM hist),
        |thr AS (SELECT min(ikey) AS thr FROM cum, b WHERE cum <= b.k)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN ikey >= coalesce(thr.thr, 9223372036854775807)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  floor(sum(CASE WHEN ikey >= coalesce(thr.thr, 9223372036854775807)
        |    THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) * 10000 + 0.5)
        |    / 10000 AS kept_share
        |FROM sk, thr GROUP BY 1""".stripMargin)),
    // C23: Count–Min sketch — the oracle replays the identical dual
    // polynomial hashes (ascii-per-char fold ≡ byte walk under the
    // ASCII corpus contract), pairwise row hashes, and counter table,
    // so est_n hash-matches exactly (and est ≥ true by construction)
    Gate("sketch_cms", operators.Relational.cmsEstimate _, Oracle(
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT tok FROM toks WHERE tok <> ''),
        |h AS (SELECT tok,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(tok, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 131 + x) % 1000000007) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(tok, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 137 + x) % 998244353) AS h2
        |  FROM tf),
        |g AS (SELECT unnest(generate_series(0, 3)) AS i),
        |counters AS (
        |  SELECT g.i, (h.h1 + g.i * h.h2) % 2048 AS bucket, count(*) AS c
        |  FROM h CROSS JOIN g GROUP BY 1, 2),
        |top AS (SELECT tok, count(*) AS true_n FROM tf GROUP BY 1
        |  ORDER BY true_n DESC, tok ASC LIMIT 20),
        |th AS (SELECT tok, true_n,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(tok, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 131 + x) % 1000000007) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(tok, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 137 + x) % 998244353) AS h2
        |  FROM top)
        |SELECT th.tok, th.true_n, min(c.c) AS est_n
        |FROM th CROSS JOIN g
        |JOIN counters c
        |  ON c.i = g.i AND c.bucket = (th.h1 + g.i * th.h2) % 2048
        |GROUP BY 1, 2""".stripMargin)),
    // C24: the oracle walks the parent chain one level per recursion
    // (the naive form); the Spark side pointer-doubles — equal output
    // proves the log-round resolution exact (cross-form equivalence)
    Gate("ancestor_closure", operators.Relational.ancestorClosure _, Oracle(
      """WITH RECURSIVE r(node, anc, depth) AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id = 0 THEN 0
        |         ELSE ((doc_id * 2654435761) % 1000000007) % doc_id END,
        |    CASE WHEN doc_id = 0 THEN 0 ELSE 1 END
        |  FROM documents
        |  UNION ALL
        |  SELECT node,
        |    CASE WHEN anc = 0 THEN 0
        |         ELSE ((anc * 2654435761) % 1000000007) % anc END,
        |    depth + 1
        |  FROM r WHERE anc > 0)
        |SELECT node AS doc_id, CAST(max(depth) AS BIGINT) AS depth
        |FROM r GROUP BY 1""".stripMargin)),
    Gate("histogram_quantile", tsdb.Tsdb.histogramQuantile _, Oracle(
      """WITH h AS (SELECT event_type AS typ, count(*) AS total,
        |    sum(CASE WHEN value <= 25 THEN 1 ELSE 0 END) AS c25,
        |    sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS c50,
        |    sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS c100,
        |    sum(CASE WHEN value <= 200 THEN 1 ELSE 0 END) AS c200
        |  FROM events GROUP BY 1)
        |SELECT typ, total,
        |  round(CASE
        |    WHEN c25 >= total*0.5 THEN 0 + (total*0.5 - 0)/(c25 - 0)*25
        |    WHEN c50 >= total*0.5 THEN 25 + (total*0.5 - c25)/(c50 - c25)*25
        |    WHEN c100 >= total*0.5 THEN 50 + (total*0.5 - c50)/(c100 - c50)*50
        |    WHEN c200 >= total*0.5 THEN 100 + (total*0.5 - c100)/(c200 - c100)*100
        |    ELSE 200 END, 4) AS hq50,
        |  round(CASE
        |    WHEN c25 >= total*0.9 THEN 0 + (total*0.9 - 0)/(c25 - 0)*25
        |    WHEN c50 >= total*0.9 THEN 25 + (total*0.9 - c25)/(c50 - c25)*25
        |    WHEN c100 >= total*0.9 THEN 50 + (total*0.9 - c50)/(c100 - c50)*50
        |    WHEN c200 >= total*0.9 THEN 100 + (total*0.9 - c100)/(c200 - c100)*100
        |    ELSE 200 END, 4) AS hq90
        |FROM h""".stripMargin)),
    // B38: same cumulative counts, interpolated count at each range
    // endpoint inside its static bucket; identical IEEE op order
    Gate("histogram_fraction", tsdb.Tsdb.histogramFraction _, Oracle(
      """WITH h AS (SELECT event_type AS typ, count(*) AS total,
        |    sum(CASE WHEN value <= 25 THEN 1 ELSE 0 END) AS c25,
        |    sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS c50,
        |    sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS c100,
        |    sum(CASE WHEN value <= 200 THEN 1 ELSE 0 END) AS c200
        |  FROM events GROUP BY 1)
        |SELECT typ, total,
        |  floor((c25 + (30.0 - 25.0) / (50.0 - 25.0) * (c50 - c25))
        |    / total * 10000 + 0.5) / 10000 AS frac_le_30,
        |  floor(((c100 + (150.0 - 100.0) / (200.0 - 100.0) * (c200 - c100))
        |      - (c25 + (30.0 - 25.0) / (50.0 - 25.0) * (c50 - c25)))
        |    / total * 10000 + 0.5) / 10000 AS frac_30_150
        |FROM h""".stripMargin)),
    // B40: every midpoint/squared-midpoint product is exact in double
    // (dyadic coefficients, integer counts), so h_sum is exact and
    // avg/stddev are single correctly-rounded IEEE ops on both sides;
    // CAST to DOUBLE defeats DuckDB's DECIMAL literal arithmetic
    Gate("histogram_stats", tsdb.Tsdb.histogramStats _, Oracle(
      """WITH h AS (SELECT event_type AS typ, count(*) AS total,
        |    sum(CASE WHEN value <= 25 THEN 1 ELSE 0 END) AS c25,
        |    sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS c50,
        |    sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS c100,
        |    sum(CASE WHEN value <= 200 THEN 1 ELSE 0 END) AS c200
        |  FROM events GROUP BY 1),
        |m AS (SELECT typ, total,
        |    c25 * CAST(12.5 AS DOUBLE) + (c50 - c25) * CAST(37.5 AS DOUBLE)
        |      + (c100 - c50) * CAST(75.0 AS DOUBLE)
        |      + (c200 - c100) * CAST(150.0 AS DOUBLE)
        |      + (total - c200) * CAST(350.0 AS DOUBLE) AS hsum,
        |    c25 * CAST(156.25 AS DOUBLE) + (c50 - c25) * CAST(1406.25 AS DOUBLE)
        |      + (c100 - c50) * CAST(5625.0 AS DOUBLE)
        |      + (c200 - c100) * CAST(22500.0 AS DOUBLE)
        |      + (total - c200) * CAST(122500.0 AS DOUBLE) AS hsq
        |  FROM h)
        |SELECT typ, total AS h_count, hsum AS h_sum,
        |  floor(hsum / total * 1e6 + 0.5) / 1e6 AS h_avg,
        |  floor(sqrt(hsq / total - (hsum / total) * (hsum / total)) * 1e6 + 0.5)
        |    / 1e6 AS h_stddev
        |FROM m""".stripMargin)),
    // D. dedup
    Gate("dedup_exact", dedup.Dedup.exact _, Oracle(
      """SELECT min(doc_id) AS keep_id, count(*) AS n
        |FROM documents GROUP BY text""".stripMargin)),
    Gate("dedup_minhash", dedup.Dedup.minhashLsh _, Oracle(exactJaccardSql)),
    // D3: same dual-polynomial token hash, 64 bit-counters, sign-packed
    // fingerprint, all-pairs hamming — the chunk blocking on the Spark
    // side is exact for hd <= 7 (pigeonhole), so exhaustive SQL == it
    Gate("dedup_simhash", dedup.Dedup.simhash _, Oracle(
      """WITH wc AS (SELECT doc_id, word, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY 1, 2),
        |h AS (SELECT doc_id, cnt,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(word, ''), ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 131 + x) % 1000000007) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(word, ''), ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 137 + x) % 998244353) AS h2
        |  FROM wc),
        |g AS (SELECT doc_id, cnt, h1 * 2147483648 + h2 AS g FROM h),
        |bits AS (SELECT doc_id, b, sum(CASE WHEN (g >> b) & 1 = 1
        |      THEN cnt ELSE -cnt END) AS s
        |  FROM g CROSS JOIN (SELECT unnest(range(0, 64)) AS b) GROUP BY 1, 2),
        |fp AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS fp
        |  FROM bits GROUP BY 1),
        |hd AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hd
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
        |SELECT ia, ib, hd FROM hd WHERE hd <= 7""".stripMargin)),
    Gate("dedup_ngram_jaccard", dedup.Dedup.ngramJaccard _, Oracle(exactJaccardSql)),
    Gate("dedup_embedding", dedup.Dedup.embeddingCosine _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> a.e[i]*b.e[i])) / (a.nrm*b.nrm), 4) AS cs
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT ia, ib, cs FROM p WHERE cs >= 0.45""".stripMargin)),
    // twin derivation doubles floats (exact: exponent bump only), so
    // both engines build bit-identical derived corpora; the exact
    // all-pairs scan here equals the Spark LSH-candidates + exact-
    // verify path because planted-pair recall is 1 at this banding
    Gate("dedup_embedding_lsh", dedup.Dedup.embeddingLsh _, Oracle(
      """WITH twins AS (SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(range(1, 65),
        |      i -> CASE WHEN (i-1) % 16 = 0
        |           THEN embedding[i] * CAST(2 AS FLOAT)
        |           ELSE embedding[i] END) AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |allv AS (SELECT vec_id, embedding FROM embeddings
        |         UNION ALL SELECT vec_id, embedding FROM twins),
        |v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM allv),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> a.e[i]*b.e[i])) / (a.nrm*b.nrm), 4) AS cs
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT ia, ib, cs FROM p WHERE cs >= 0.9""".stripMargin)),
    Gate("dedup_semantic", dedup.Dedup.semanticDedup _,
      RowsOnly("k = 8 pruning depends on the learned clusters; dedup_semantic_full is exact")),
    // D13 exact sibling: one cell ⇒ the cluster-scoped keep-min rule
    // degenerates to the global one, which the oracle replays over the
    // exact all-pairs cosine set (same dot/norm/rounding form as D5)
    Gate("dedup_semantic_full", dedup.Dedup.semanticDedupFull _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> a.e[i]*b.e[i])) / (a.nrm*b.nrm), 4) AS cs
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT DISTINCT ib AS vec_id FROM p WHERE cs >= 0.45""".stripMargin)),
    Gate("dedup_clusters", dedup.Dedup.clusters _, Oracle(
      """WITH RECURSIVE
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM words),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jp AS (SELECT ia, ib FROM pairs
        |  JOIN cnt ca ON ca.doc_id = ia
        |  JOIN cnt cb ON cb.doc_id = ib
        |  WHERE round(c * 1.0 / (ca.n + cb.n - c), 4) >= 0.8),
        |edges AS (SELECT ia AS a, ib AS b FROM jp
        |          UNION ALL SELECT ib AS a, ia AS b FROM jp),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, least(min(b), a) AS cluster_id
        |FROM reach GROUP BY a""".stripMargin)),
    // D8: both engines derive the same planted batch (i%4==1 takes a
    // corpus doc's text, i%4==3 an earlier batch doc's); the oracle
    // joins by text and Spark by xxhash64(text) WITH a text-equality
    // confirmation on the hash hits, so the verdicts are identical
    // even under a 64-bit hash collision
    Gate("dedup_incremental", dedup.Dedup.incremental _, Oracle(
      """WITH orig AS (SELECT doc_id, text FROM documents),
        |b0 AS (SELECT doc_id, (doc_id // 5) % 4 AS i4 FROM documents
        |       WHERE doc_id % 5 = 0),
        |batch AS (SELECT b0.doc_id, o.text
        |  FROM b0 JOIN orig o ON o.doc_id =
        |    CASE WHEN b0.i4 = 1 THEN b0.doc_id + 1
        |         WHEN b0.i4 = 3 THEN b0.doc_id - 5
        |         ELSE b0.doc_id END),
        |corpus AS (SELECT DISTINCT text FROM documents WHERE doc_id % 5 <> 0),
        |r AS (SELECT b.doc_id, b.text,
        |    b.text IN (SELECT text FROM corpus) AS in_corpus,
        |    row_number() OVER (PARTITION BY b.text ORDER BY b.doc_id) AS rn
        |  FROM batch b)
        |SELECT doc_id,
        |  CASE WHEN in_corpus THEN 'dup_corpus'
        |       WHEN rn > 1 THEN 'dup_batch' ELSE 'kept' END AS verdict
        |FROM r""".stripMargin)),
    // D10: the oracle is the same exact-membership SQL as
    // dedup_incremental — the Spark side's bloom prefilter must not
    // change the answer (false positives die in the confirm join,
    // false negatives are impossible), so the gate proves the
    // cross-form equivalence of the sketch-accelerated plan
    Gate("dedup_bloom", dedup.Dedup.bloomDedup _, Oracle(
      """WITH orig AS (SELECT doc_id, text FROM documents),
        |b0 AS (SELECT doc_id, (doc_id // 5) % 4 AS i4 FROM documents
        |       WHERE doc_id % 5 = 0),
        |batch AS (SELECT b0.doc_id, o.text
        |  FROM b0 JOIN orig o ON o.doc_id =
        |    CASE WHEN b0.i4 = 1 THEN b0.doc_id + 1
        |         WHEN b0.i4 = 3 THEN b0.doc_id - 5
        |         ELSE b0.doc_id END),
        |corpus AS (SELECT DISTINCT text FROM documents WHERE doc_id % 5 <> 0),
        |r AS (SELECT b.doc_id, b.text,
        |    b.text IN (SELECT text FROM corpus) AS in_corpus,
        |    row_number() OVER (PARTITION BY b.text ORDER BY b.doc_id) AS rn
        |  FROM batch b)
        |SELECT doc_id,
        |  CASE WHEN in_corpus THEN 'dup_corpus'
        |       WHEN rn > 1 THEN 'dup_batch' ELSE 'kept' END AS verdict
        |FROM r""".stripMargin)),
    // D9: the oracle takes the exhaustive ordered-pair route over the
    // same documents+snippets union; the Spark side's contained-side
    // prefix filter is exact, so the outputs coincide
    Gate("dedup_containment", dedup.Dedup.containment _, Oracle(
      """WITH wn AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 17 = 0),
        |snip AS (SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(w[1:CAST(floor(len(w) * 0.6) AS INT)], ' ') AS text
        |  FROM wn WHERE len(w) >= 5),
        |corpus AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id, text FROM snip),
        |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |  FROM words),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia, ib, round(c * 1.0 / ca.n, 4) AS cr
        |FROM pairs JOIN cnt ca ON ca.doc_id = ia
        |WHERE round(c * 1.0 / ca.n, 4) >= 0.9""".stripMargin)),
    Gate("dedup_lines", dedup.Dedup.lineDedup _, Oracle(
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |l0 AS (SELECT doc_id, source,
        |    unnest(list_concat(
        |      list_transform(range(0, ((len(w)-1)//8) + 1),
        |        i -> array_to_string(w[i*8+1 : i*8+8], ' ')),
        |      ['subscribe to the newsletter variant ' || (doc_id % 3),
        |       'all rights reserved site ' || (doc_id % 5)])) AS line
        |  FROM d),
        |hot AS (SELECT line FROM l0 GROUP BY line
        |        HAVING count(DISTINCT doc_id) >= 10)
        |SELECT doc_id, source, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN line IN (SELECT line FROM hot)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  floor((count(*) - sum(CASE WHEN line IN (SELECT line FROM hot)
        |                            THEN 1 ELSE 0 END)) / count(*) * 10000
        |    + 0.5) / 10000 AS keep_ratio
        |FROM l0 GROUP BY 1, 2""".stripMargin)),
    // D15: keep-first paragraph dedup — first occurrence by (doc_id,
    // pos) survives; later exact repeats are dropped and each doc is
    // reassembled from its surviving 8-word chunks in original order
    Gate("dedup_paragraph", dedup.Dedup.paragraphDedup _, Oracle(
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |p0 AS (SELECT doc_id, w,
        |    unnest(range(0, ((len(w)-1)//8) + 1)) AS pos FROM d),
        |p AS (SELECT doc_id, pos,
        |    array_to_string(w[pos*8+1 : pos*8+8], ' ') AS par FROM p0),
        |r AS (SELECT doc_id, pos, par, row_number()
        |    OVER (PARTITION BY par ORDER BY doc_id, pos) AS rn FROM p)
        |SELECT doc_id, count(*) AS n_pars,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  COALESCE(string_agg(CASE WHEN rn = 1 THEN par END, ' '
        |    ORDER BY pos), '') AS text_kept
        |FROM r GROUP BY 1""".stripMargin)),
    Gate("dedup_editdist", dedup.Dedup.editDistPairs _, Oracle(
      """WITH orig AS (SELECT doc_id, text FROM documents),
        |tw AS (SELECT doc_id + 4000000 AS doc_id,
        |    substr(text, 1, 4) || 'Z' || substr(text, 6, 10) || 'Q'
        |      || substr(text, 17) AS text
        |  FROM orig WHERE doc_id % 25 = 0 AND length(text) >= 26),
        |base AS (SELECT doc_id, substr(text, 1, 24) AS k
        |  FROM (SELECT * FROM orig UNION ALL SELECT * FROM tw)
        |  WHERE length(text) >= 24),
        |segs AS (SELECT doc_id, t.i AS i, substr(k, 1 + 8*t.i, 8) AS s, k
        |  FROM base, UNNEST([0, 1, 2]) t(i)),
        |probes AS (SELECT doc_id, t.i AS i, substr(k, 1 + 8*t.i + u.d, 8) AS s, k
        |  FROM base, UNNEST([0, 1, 2]) t(i), UNNEST([-2, -1, 0, 1, 2]) u(d)
        |  WHERE 1 + 8*t.i + u.d >= 1 AND 8*t.i + u.d + 8 <= 24),
        |cand AS (SELECT DISTINCT
        |    least(a.doc_id, b.doc_id) AS ia,
        |    greatest(a.doc_id, b.doc_id) AS ib,
        |    CASE WHEN a.doc_id < b.doc_id THEN a.k ELSE b.k END AS ka,
        |    CASE WHEN a.doc_id < b.doc_id THEN b.k ELSE a.k END AS kb
        |  FROM segs a JOIN probes b
        |    ON a.i = b.i AND a.s = b.s AND a.doc_id <> b.doc_id)
        |SELECT ia, ib, CAST(levenshtein(ka, kb) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(ka, kb) <= 2""".stripMargin)),
    // D12: PassJoin blocking + levenshtein verify replayed — segments
    // and shifted probes generated with the identical 1-based substr
    // arithmetic, distance by both engines' classic unit-cost DP
    // D14: strided width-40 windows, cross-doc frequency, density —
    // injected boilerplate tail on doc_id%31 makes sharing non-vacuous
    Gate("dedup_substring", dedup.Dedup.substringDensity _, Oracle(
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 31 = 0 THEN text
        |      || ' STANDARD FOOTER TERMS APPLY SEE SITE FOR FULL DETAILS '
        |      || 'COPYRIGHT ALL RIGHTS RESERVED DO NOT REDISTRIBUTE END OF NOTICE'
        |    ELSE text END AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 38, 8),
        |      i -> substr(t, i, 40))) AS win
        |  FROM d WHERE len(t) >= 40),
        |dw AS (SELECT DISTINCT doc_id, win FROM w),
        |df AS (SELECT win, count(DISTINCT doc_id) AS ndocs FROM dw GROUP BY 1),
        |j AS (SELECT dw.doc_id, df.ndocs FROM dw JOIN df USING (win))
        |SELECT doc_id, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  floor(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000 AS dup_frac
        |FROM j GROUP BY 1""".stripMargin)),
    // F27: the rolling-hash boundary arithmetic (8-term base-131
    // polynomial, exact longs), chunk slicing and cross-doc sharing
    // stats replayed with identical integer expressions
    Gate("text_cdc", text.TextAnalysis.cdcChunks _, Oracle(
      ("""WITH d AS (SELECT doc_id, text, length(text) AS len
        |  FROM documents WHERE length(text) >= 1),
        |c0 AS (SELECT doc_id, text, len,
        |    list_transform(list_filter(list_transform(
        |      range(8, greatest(len, 8) + 1),
        |      i -> struct_pack(i := i, h := HEXPR)),
        |      x -> x.i <= len AND x.h % 61 = 0), x -> x.i) AS cuts
        |  FROM d),
        |c1 AS (SELECT doc_id, text, len,
        |    [CAST(1 AS BIGINT)] || list_transform(cuts, c -> c + 1) AS starts,
        |    list_transform(cuts, c -> c) || [CAST(len AS BIGINT)] AS ends
        |  FROM c0),
        |ch AS (SELECT doc_id, unnest(list_filter(
        |    list_transform(range(1, len(starts) + 1),
        |      t -> CASE WHEN ends[t] >= starts[t]
        |           THEN substr(text, CAST(starts[t] AS BIGINT),
        |                       CAST(ends[t] - starts[t] + 1 AS BIGINT)) END),
        |    c -> c IS NOT NULL)) AS chunk
        |  FROM c1),
        |sh AS (SELECT chunk, count(DISTINCT doc_id) AS nd
        |  FROM ch GROUP BY 1)
        |SELECT ch.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN sh.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared
        |FROM ch JOIN sh USING (chunk)
        |GROUP BY 1""".stripMargin
        .replace("HEXPR", (0 until 8).map(j =>
          s"CAST(ascii(substr(text, i - $j, 1)) AS BIGINT) * ${math.pow(131.0, j).toLong}")
          .mkString(" + "))))),
    // D10: "lines" = consecutive 8-word chunks + the two injected
    // rotating footer lines; boilerplate = line text in >= 10 distinct
    // docs. DuckDB list slice l[a:b] is 1-based inclusive = Spark
    // slice(l, a, 8); range(0, n) exclusive = sequence(0, n-1).
    // I1-I4: the LANDED FILES of each format answer the gate
    // — write→parse→read of csv/json/orc, and the day-routed parquet
    // layout, each must reproduce the batch aggregation over events
    Gate("io_csv", IoGates.csvRoundtrip _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  min(epoch_us(ts)) AS min_us, max(epoch_us(ts)) AS max_us
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("io_json", IoGates.jsonRoundtrip _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  min(epoch_us(ts)) AS min_us, max(epoch_us(ts)) AS max_us
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("io_orc", IoGates.orcRoundtrip _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  min(epoch_us(ts)) AS min_us, max(epoch_us(ts)) AS max_us
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("io_daily", IoGates.dailyPartitionRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') = '2024-01-05'
        |GROUP BY 1""".stripMargin)),
    // I6/I10/I11/I12: the MAINTAINED files answer the gate —
    // compaction and z-ordering must preserve content exactly, the
    // manifest-pruned band must be exact, and the post-MERGE table
    // must equal the oracle's replay of the deterministic update batch
    Gate("io_compacted", IoGates.compactedRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("io_zorder", IoGates.zorderRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY 1""".stripMargin)),
    Gate("io_pruned", IoGates.prunedRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(c) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM (SELECT event_id, event_type,
        |        CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |      FROM events)
        |WHERE c >= 2000 AND c <= 6000
        |GROUP BY 1""".stripMargin)),
    Gate("io_upsert", IoGates.upsertedRead _, Oracle(
      """WITH e AS (SELECT event_id, event_type, value,
        |    strftime(ts, '%Y-%m-%d') AS day FROM events),
        |d AS (SELECT * FROM e WHERE day = '2024-01-10'),
        |upd AS (SELECT event_id, event_type, value + 1.0 AS value
        |  FROM d WHERE event_id % 2 = 0),
        |newrow AS (SELECT (SELECT max(event_id) FROM events) + 1 AS event_id,
        |    event_type, CAST(42.0 AS DOUBLE) AS value
        |  FROM d WHERE event_id = (SELECT min(event_id) FROM d)),
        |merged AS (
        |  SELECT event_id, event_type, value FROM e WHERE day <> '2024-01-10'
        |  UNION ALL
        |  SELECT event_id, event_type, value FROM d
        |    WHERE event_id % 2 <> 0
        |  UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM newrow)
        |SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM merged GROUP BY 1""".stripMargin)),
    // I9: mergeSchema unions the two eras' footers and
    // backfills era-1's missing quality column with null — the oracle
    // replays both eras and the backfill arithmetic
    Gate("io_evolved", IoGates.evolvedRead _, Oracle(
      """WITH f AS (SELECT event_id, event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT typ, cents, CAST(NULL AS BIGINT) AS quality FROM f
        |    WHERE event_id % 2 = 1
        |  UNION ALL
        |  SELECT typ, cents, cents % 7 AS quality FROM f
        |    WHERE event_id % 2 = 0)
        |SELECT typ, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(coalesce(quality, -1)) AS BIGINT) AS sum_quality,
        |  CAST(sum(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_backfilled
        |FROM m GROUP BY 1""".stripMargin)),
    // I24: schema evolution ON THE COMMIT LOG — v0 is the old schema
    // (no typ), v1 appends typed rows; both version reads replayed
    // from the source cuts (n_typed counts only v1's own rows)
    Gate("io_evolve_log", IoGates.evolveLogRead _, Oracle(
      """WITH f AS (SELECT event_id, epoch_us(ts) AS us,
        |    event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |v0 AS (SELECT CAST(0 AS BIGINT) AS ver, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    CAST(0 AS BIGINT) AS n_typed, CAST(0 AS BIGINT) AS n_typs
        |  FROM f WHERE us < 1704931200000000),
        |v1 AS (SELECT CAST(1 AS BIGINT) AS ver, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    CAST(sum(CASE WHEN us >= 1704931200000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_typed,
        |    count(DISTINCT CASE WHEN us >= 1704931200000000 THEN typ END)
        |      AS n_typs
        |  FROM f WHERE us < 1705795200000000)
        |SELECT * FROM v0 UNION ALL SELECT * FROM v1""".stripMargin)),
    // I5+I8: the bucketed layout's per-user agg + window + co-located
    // join, replayed from the source table (write→bucket→read ≡ batch)
    Gate("io_bucketed", IoGates.bucketedRead _, Oracle(
      """WITH e AS (SELECT event_id, CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |a AS (SELECT usr, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM e GROUP BY 1),
        |l AS (SELECT usr, cents AS last_cents FROM (
        |    SELECT usr, cents, row_number() OVER (
        |      PARTITION BY usr ORDER BY event_id DESC) AS rn FROM e)
        |  WHERE rn = 1),
        |p AS (SELECT usr, count(*) AS n_purch FROM e
        |  WHERE typ = 'purchase' GROUP BY 1)
        |SELECT a.usr, a.n, a.sum_cents, l.last_cents, p.n_purch
        |FROM a JOIN l ON a.usr = l.usr JOIN p ON a.usr = p.usr""".stripMargin)),
    // I13: day-partition retention vacuum — surviving files ≡ the
    // source filtered to the cutoff (write→vacuum→read ≡ batch)
    Gate("io_retention", IoGates.retentionRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-15'
        |GROUP BY 1""".stripMargin)),
    // I14: commit-log time travel — v1 (days 1-20, all types, read
    // back AFTER the v2 delete: history immutable) and v2 (purchases
    // copy-on-write-deleted), each ≡ the source cut
    Gate("io_timetravel", IoGates.timetravelRead _, Oracle(ioTimetravelSql)),
    // CONVERT a plain parquet dir to a commit-log table —
    // v0 serves the original content byte-for-byte (zero copy), a
    // post-convert COW DELETE (typ='view') and an append (displaced
    // clicks) land as v1/v2; v0 and HEAD both replayed from source
    Gate("io_convert", IoGates.convertRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |v0 AS (
        |  SELECT CAST(0 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src GROUP BY 2),
        |m AS (
        |  SELECT typ, event_id, cents FROM src WHERE typ <> 'view'
        |  UNION ALL
        |  SELECT typ, event_id + 1000000000000, cents
        |  FROM src WHERE typ = 'click'),
        |v2 AS (
        |  SELECT CAST(2 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM m GROUP BY 2)
        |SELECT * FROM v0 UNION ALL SELECT * FROM v2""".stripMargin)),
    // CHECK constraints — declare-refusal on violated adds,
    // valid appends land, violating append/MERGE refuse atomically,
    // drop re-opens; final cut = src ∪ valid clicks ∪ post-drop
    // negated errors
    Gate("io_constraint", IoGates.constraintRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT typ, event_id, cents FROM src
        |  UNION ALL
        |  SELECT typ, event_id + 1000000000000, cents
        |  FROM src WHERE typ = 'click'
        |  UNION ALL
        |  SELECT typ, event_id + 2000000000000, -cents
        |  FROM src WHERE typ = 'error')
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM m GROUP BY 1""".stripMargin)),
    // GENERATED ALWAYS AS — all three append slices carry
    // band = cents % 97 (computed at the chokepoint for the slice
    // written without it, validated for the explicit ones; the
    // mismatching batch refused before landing)
    Gate("io_generated", IoGates.generatedRead _, Oracle(
      """WITH src AS (
        |  SELECT event_id, event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(cents % 97) AS BIGINT) AS sum_band,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM src GROUP BY 1""".stripMargin)),
    // MERGE WITH SCHEMA EVOLUTION — matched purchases update
    // with the source-only score column (schema evolved first as its
    // own commit), pre-evolution rows read score NULL, new restock
    // keys insert; min_v arithmetic matches the builder's pmod on the
    // PRE-offset id for inserts
    Gate("io_merge_evolve", IoGates.mergeEvolveRead _, Oracle(
      """WITH src AS (
        |  SELECT event_id, event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |upd AS (
        |  SELECT event_id, typ, cents + 50000 AS cents,
        |    event_id % 13 AS score
        |  FROM src WHERE typ = 'purchase'),
        |ins AS (
        |  SELECT event_id + 1000000000000 AS event_id, 'restock' AS typ,
        |    cents, event_id % 13 AS score
        |  FROM src WHERE typ = 'purchase' AND event_id % 10 = 0),
        |rest AS (
        |  SELECT event_id, typ, cents, CAST(NULL AS BIGINT) AS score
        |  FROM src WHERE typ <> 'purchase'),
        |m AS (
        |  SELECT * FROM upd UNION ALL SELECT * FROM ins
        |  UNION ALL SELECT * FROM rest)
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  count(score) AS n_score, CAST(sum(score) AS BIGINT) AS sum_score,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM m GROUP BY 1""".stripMargin)),
    // TYPE WIDENING — the INT-era slice (even ids) reads
    // through the BIGINT declared schema unrewritten, the post-widen
    // slice (odd ids) carries values past the int range
    Gate("io_alter_widen", IoGates.alterWidenRead _, Oracle(
      """WITH src AS (
        |  SELECT event_id, event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT event_id, typ, cents FROM src WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_id, typ, cents + 3000000000 FROM src
        |  WHERE event_id % 2 = 1)
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM m GROUP BY 1""".stripMargin)),
    // IDENTITY — per-type distinct-id count must equal the
    // row count (system-assigned values are globally unique; builder
    // asserts they clear the seeded range and advance the high water)
    Gate("io_identity", IoGates.identityRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n, count(*) AS n_ids,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY 1""".stripMargin)),
    // I26: the twin key of io_timetravel — one reader (the
    // format("graft") connector), one builder, one oracle
    Gate("io_timetravel_dsv2", IoGates.timetravelRead _, Oracle(ioTimetravelSql)),
    // I26: the twin key of io_skipping (same builder and oracle)
    Gate("io_skipping_dsv2", IoGates.skippingRead _, Oracle(ioSkippingSql)),
    // I25: deletion vectors — v0 everything, v1 after the DV-path
    // point delete (error ∧ id≡0 mod 7), v2 after the bulk purchase
    // delete (per-file COW fallback); each version's merge-on-read
    // read ≡ the source cut, and v1 read back AFTER v2 committed
    // proves DV version isolation
    Gate("io_dv", IoGates.dvRead _, Oracle(ioDvSql)),
    // I26: the twin key of io_dv (same builder and oracle:
    // the connector's positional DV scan filter)
    Gate("io_dv_dsv2", IoGates.dvRead _, Oracle(ioDvSql)),
    // I26 write path: two connector appends (V1Write ->
    // tableAppendOcc) onto an API-created v0 must reproduce the full
    // events aggregation -- write->commit->read is what's gated
    Gate("io_write_dsv2", IoGates.dsv2WriteRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |GROUP BY 1""".stripMargin)),
    // the exactly-once (txnVersion) connector sink -- same
    // content contract as io_write_dsv2; a redelivered batch that
    // committed twice would double the purchase sums
    Gate("io_write_txn", IoGates.dsv2WriteTxnRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |GROUP BY 1""".stripMargin)),
    // catalog DML lifecycle -- CREATE + INSERT + DELETE as
    // graft.<ns>.<table> identifiers; insert-minus-delete replayed
    Gate("io_catalog", IoGates.catalogRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE event_type <> 'view'
        |GROUP BY 1""".stripMargin)),
    // atomic CTAS + SQL time travel -- VERSION AS OF 0 reads
    // the pre-delete cut, so the oracle is the FULL source aggregation
    Gate("io_ctas", IoGates.ctasRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |GROUP BY 1""".stripMargin)),
    // ALTER TABLE ADD COLUMN through the catalog — era 1
    // (even ids, 3 cols) null-backfills the added `band`, era 2 (odd
    // ids) carries it physically (band = cents % 10)
    Gate("io_alter_add", IoGates.alterAddRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |t AS (
        |  SELECT typ, event_id, cents, CAST(NULL AS BIGINT) AS band
        |  FROM src WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT typ, event_id, cents, cents % 10 AS band
        |  FROM src WHERE event_id % 2 = 1)
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  count(band) AS n_band, CAST(sum(band) AS BIGINT) AS sum_band,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM t GROUP BY 1""".stripMargin)),
    // cross-era DML — the io_alter_add
    // evolution followed by a COW DELETE whose touched files span both
    // eras; era-2 rows must keep their band through the rewrite
    Gate("io_alter_dml", IoGates.alterDmlRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |t AS (
        |  SELECT typ, event_id, cents, CAST(NULL AS BIGINT) AS band
        |  FROM src WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT typ, event_id, cents, cents % 10 AS band
        |  FROM src WHERE event_id % 2 = 1)
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  count(band) AS n_band, CAST(sum(band) AS BIGINT) AS sum_band,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM t WHERE typ <> 'view' GROUP BY 1""".stripMargin)),
    // INSERT OVERWRITE = one replace commit -- v0 is the
    // full table, v1 the purchases-only replacement; both cuts replay
    Gate("io_overwrite", IoGates.overwriteRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |v0 AS (
        |  SELECT CAST(0 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src GROUP BY 2),
        |v1 AS (
        |  SELECT CAST(1 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src WHERE typ = 'purchase' GROUP BY 2)
        |SELECT * FROM v0 UNION ALL SELECT * FROM v1""".stripMargin)),
    // MERGE INTO -- v0 is the raw flat table; v1 updates
    // every purchase (cents + 100000 by event_id) and inserts a
    // displaced copy of every click (event_id + 1e12); both cuts
    // replayed from the source prove update/insert/carry/isolation
    Gate("io_merge", IoGates.mergeRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |v0 AS (
        |  SELECT CAST(0 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src GROUP BY 2),
        |m AS (
        |  SELECT typ, event_id,
        |    CASE WHEN typ = 'purchase' THEN cents + 100000
        |         ELSE cents END AS cents
        |  FROM src
        |  UNION ALL
        |  SELECT typ, event_id + 1000000000000, cents
        |  FROM src WHERE typ = 'click'),
        |v1 AS (
        |  SELECT CAST(1 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM m GROUP BY 2)
        |SELECT * FROM v0 UNION ALL SELECT * FROM v1""".stripMargin)),
    // MERGE × positional DVs — v1 DV-deletes error∧(id%7=0),
    // v2 merges updates (non-error id%5=0 → 2c+1) + RE-INSERTS the
    // id%14=0 half of the deleted class; the error file carries by
    // reference, so its remaining DV entries must stay load-bearing
    // (id%7=0 ∧ id%14≠0 hidden) while re-inserted keys serve fresh
    Gate("io_merge_reinsert", IoGates.mergeReinsertRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |v1 AS (
        |  SELECT * FROM src
        |  WHERE NOT (typ = 'error' AND event_id % 7 = 0)),
        |v1a AS (
        |  SELECT CAST(1 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM v1 GROUP BY 2),
        |m AS (
        |  SELECT typ, event_id,
        |    CASE WHEN typ <> 'error' AND event_id % 5 = 0
        |         THEN cents * 2 + 1 ELSE cents END AS cents
        |  FROM v1
        |  UNION ALL
        |  SELECT typ, event_id, cents * 2 + 1
        |  FROM src WHERE typ = 'error' AND event_id % 14 = 0),
        |v2a AS (
        |  SELECT CAST(2 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM m GROUP BY 2)
        |SELECT * FROM v1a UNION ALL SELECT * FROM v2a""".stripMargin)),
    // SQL MERGE INTO through the catalog — the SAME replay
    // as io_merge (SQL statement ≡ API verb ≡ source)
    Gate("io_merge_sql", IoGates.mergeSqlRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |v0 AS (
        |  SELECT CAST(0 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src GROUP BY 2),
        |m AS (
        |  SELECT typ, event_id,
        |    CASE WHEN typ = 'purchase' THEN cents + 100000
        |         ELSE cents END AS cents
        |  FROM src
        |  UNION ALL
        |  SELECT typ, event_id + 1000000000000, cents
        |  FROM src WHERE typ = 'click'),
        |v1 AS (
        |  SELECT CAST(1 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM m GROUP BY 2)
        |SELECT * FROM v0 UNION ALL SELECT * FROM v1""".stripMargin)),
    // SQL UPDATE through the row-level COW rewrite — v0 is
    // the raw cut, v1 adds 100000 cents to every purchase
    Gate("io_update", IoGates.updateRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |v0 AS (
        |  SELECT CAST(0 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src GROUP BY 2),
        |v1 AS (
        |  SELECT CAST(1 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents +
        |      CASE WHEN typ = 'purchase' THEN 100000 ELSE 0 END)
        |      AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src GROUP BY 2)
        |SELECT * FROM v0 UNION ALL SELECT * FROM v1""".stripMargin)),
    // MERGE-ON-READ DML (SupportsDelta over positional DVs)
    // — UPDATE purchases to id%1000+7, RE-UPDATE the id%10=0 slice
    // (+5), DV-delete error∧(id%23=0); no data file ever rewritten
    Gate("io_update_mor", IoGates.updateMorRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT typ, event_id,
        |    CASE WHEN typ = 'purchase'
        |         THEN event_id % 1000 + 7 +
        |           (CASE WHEN event_id % 10 = 0 THEN 5 ELSE 0 END)
        |         ELSE cents END AS cents
        |  FROM src
        |  WHERE NOT (typ = 'error' AND event_id % 23 = 0))
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM m GROUP BY 1""".stripMargin)),
    // I25+I15: the DV change feed — v0→v1 deletes are the DV'd point
    // rows (no file changed), v1→v2 deletes are the purchases (COW +
    // DV mix); no inserts in either transition
    Gate("io_dv_cdf", IoGates.dvCdfRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |d1 AS (
        |  SELECT CAST(0 AS BIGINT) AS from_v, 'delete' AS change_type,
        |    typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM src WHERE typ = 'error' AND event_id % 7 = 0 GROUP BY 3),
        |d2 AS (
        |  SELECT CAST(1 AS BIGINT) AS from_v, 'delete' AS change_type,
        |    typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM src WHERE typ = 'purchase' GROUP BY 3)
        |SELECT * FROM d1 UNION ALL SELECT * FROM d2""".stripMargin)),
    // I15: change feed — v0→v1 is a pure insert of the appended days,
    // v1→v2 a pure delete of the purchases (COW survivors cancel)
    Gate("io_cdf", IoGates.cdfRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, epoch_us(ts) AS us,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |i1 AS (
        |  SELECT CAST(0 AS BIGINT) AS from_v, 'insert' AS change_type,
        |    typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM src
        |  WHERE us >= 1704931200000000 AND us < 1705795200000000 GROUP BY 3),
        |d2 AS (
        |  SELECT CAST(1 AS BIGINT) AS from_v, 'delete' AS change_type,
        |    typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM src
        |  WHERE us < 1705795200000000 AND typ = 'purchase' GROUP BY 3)
        |SELECT * FROM i1 UNION ALL SELECT * FROM d2""".stripMargin)),
    // MOR-update CDC pairing — the
    // 0→1 feed emits update_preimage/update_postimage pairs for the
    // statement's rows, the 1→2 plain append stays insert
    Gate("io_cdf_mor", IoGates.cdfMorRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |pre AS (
        |  SELECT CAST(0 AS BIGINT) AS from_v,
        |    'update_preimage' AS change_type, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM src WHERE event_id % 2 = 0 AND typ = 'purchase'
        |  GROUP BY 3),
        |post AS (
        |  SELECT CAST(0 AS BIGINT) AS from_v,
        |    'update_postimage' AS change_type, typ, count(*) AS n,
        |    CAST(sum(event_id % 1000 + 7) AS BIGINT) AS sum_cents
        |  FROM src WHERE event_id % 2 = 0 AND typ = 'purchase'
        |  GROUP BY 3),
        |ins AS (
        |  SELECT CAST(1 AS BIGINT) AS from_v,
        |    'insert' AS change_type, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM src WHERE event_id % 2 = 1 GROUP BY 3)
        |SELECT * FROM pre UNION ALL SELECT * FROM post
        |UNION ALL SELECT * FROM ins""".stripMargin)),
    // I16: table history — each version's row count ≡ its source cut
    Gate("io_history", IoGates.historyRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, epoch_us(ts) AS us FROM events),
        |v0 AS (SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows
        |  FROM src WHERE us < 1704931200000000),
        |v1 AS (SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows
        |  FROM src WHERE us < 1705795200000000),
        |v2 AS (SELECT CAST(2 AS BIGINT) AS version, count(*) AS n_rows
        |  FROM src WHERE us < 1705795200000000 AND typ <> 'purchase')
        |SELECT * FROM v0 UNION ALL SELECT * FROM v1
        |UNION ALL SELECT * FROM v2""".stripMargin)),
    // I17: shallow clone + COW divergence — clone_v0 ≡ the source's v2
    // cut; the clone then deletes views (clone_v1) while the source
    // still serves them (src_v2): clone/source isolation
    Gate("io_clone", IoGates.cloneRead _, Oracle(
      """WITH base AS (
        |  SELECT event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |  WHERE epoch_us(ts) < 1705795200000000
        |    AND event_type <> 'purchase'),
        |c0 AS (SELECT 'clone_v0' AS rel, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM base GROUP BY 2),
        |c1 AS (SELECT 'clone_v1' AS rel, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM base WHERE typ <> 'view' GROUP BY 2),
        |s2 AS (SELECT 'src_v2' AS rel, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM base GROUP BY 2)
        |SELECT * FROM c0 UNION ALL SELECT * FROM c1
        |UNION ALL SELECT * FROM s2""".stripMargin)),
    // I18: vacuum retained only the latest version; its read-back must
    // still reproduce the source cut exactly (GC removed only orphans)
    Gate("io_vacuum", IoGates.vacuumRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events
        |WHERE epoch_us(ts) < 1705795200000000
        |  AND event_type <> 'purchase'
        |GROUP BY 1""".stripMargin)),
    // I19: exactly-once streaming sink into the commit-log table —
    // every micro-batch delivered TWICE, retries must no-op, latest
    // version ≡ the batch aggregation over the source
    Gate("io_stream_sink", StreamGates.tableSinkStreamed _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1""".stripMargin)),
    // the DIRECT DSv2 streaming sink (writeStream
    // .format("graft"), no foreachBatch) — epochs ≡ versions, a full
    // fresh-checkpoint replay must no-op; same content contract as I19
    Gate("stream_sink_dsv2", StreamGates.tableSinkDsv2Streamed _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1""".stripMargin)),
    // H34: streaming CDC upsert apply — two key-disjoint
    // change batches MERGEd through foreachBatch; final cut ≡ base
    // with purchases updated and clicks re-inserted displaced
    Gate("stream_merge", StreamGates.mergeStreamed _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT typ, event_id,
        |    CASE WHEN typ = 'purchase' THEN cents + 100000
        |         ELSE cents END AS cents
        |  FROM src
        |  UNION ALL
        |  SELECT typ, event_id + 1000000000000, cents
        |  FROM src WHERE typ = 'click')
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM m GROUP BY 1""".stripMargin)),
    // H35: streaming UPDATE apply — two absolute-SET
    // instructions (purchase: cents = id%1000+1, click: id%777+2)
    // applied as SQL UPDATE per micro-batch; final landed cut ≡ the
    // source with both type classes rewritten, others untouched
    Gate("stream_update", StreamGates.updateStreamed _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT typ, event_id,
        |    CASE WHEN typ = 'purchase' THEN event_id % 1000 + 1
        |         WHEN typ = 'click' THEN event_id % 777 + 2
        |         ELSE cents END AS cents
        |  FROM src)
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM m GROUP BY 1""".stripMargin)),
    // the DSv2 streaming source over the commit log —
    // write via the I19 exactly-once sink, read back via
    // readStream.format("graft") (commit versions as offsets, a
    // mid-stream append served by its own batch); final Complete-mode
    // aggregate ≡ the batch aggregation of the raw source
    Gate("stream_table_source", StreamGates.tableSourceStreamed _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY 1""".stripMargin)),
    // withSnapshot streaming over a
    // DV-carrying table — batch 0 is the MOR cut of v1 (the id%3=0
    // slice minus the error∧(id%7=0) DV deletes), batch 1 the id%3=1
    // append; final aggregate ≡ the replayed union
    Gate("stream_table_source_dv", StreamGates.tableSourceDvStreamed _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT * FROM src
        |  WHERE event_id % 3 = 0
        |    AND NOT (typ = 'error' AND event_id % 7 = 0)
        |  UNION ALL
        |  SELECT * FROM src WHERE event_id % 3 = 1)
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM m GROUP BY 1""".stripMargin)),
    // the streaming CHANGE-DATA-FEED source
    // (readChangeFeed) — four commit shapes feed typed change rows:
    // appends (v0/v1 + the mid-stream v4) as `insert`, a MOR DELETE's
    // rows as `delete` (positional keep-filter over the shared files),
    // a MOR UPDATE as paired update_preimage/update_postimage, each
    // stamped with its _commit_version
    Gate("stream_cdf_source", StreamGates.cdfSourceStreamed _, Oracle(
      """WITH src AS (
        |  SELECT event_id, event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(CASE WHEN event_id % 3 = 0 THEN 0
        |              WHEN event_id % 3 = 1 THEN 1
        |              ELSE 4 END AS BIGINT) AS v
        |  FROM events),
        |changes AS (
        |  SELECT 'insert' AS change_type, typ, cents, event_id, v
        |  FROM src
        |  UNION ALL
        |  SELECT 'delete', typ, cents, event_id, CAST(2 AS BIGINT)
        |  FROM src
        |  WHERE v <= 1 AND typ = 'error' AND event_id % 7 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', typ, cents, event_id,
        |    CAST(3 AS BIGINT)
        |  FROM src
        |  WHERE v <= 1 AND typ = 'purchase' AND event_id % 5 = 0
        |  UNION ALL
        |  SELECT 'update_postimage', typ, cents + 100000, event_id,
        |    CAST(3 AS BIGINT)
        |  FROM src
        |  WHERE v <= 1 AND typ = 'purchase' AND event_id % 5 = 0)
        |SELECT change_type, typ, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  min(v) AS min_v, max(v) AS max_v
        |FROM changes GROUP BY 1, 2""".stripMargin)),
    // H36: streaming replaceWhere apply — two region
    // snapshots land per micro-batch (purchases re-priced +100000,
    // clicks +5), every other region untouched; redelivery asserted a
    // content no-op before the gate reads the landed table
    Gate("stream_replace", StreamGates.replaceStreamed _, Oracle(
      """WITH src AS (
        |  SELECT event_id, event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT event_id, typ, cents + 100000 AS cents FROM src
        |  WHERE typ = 'purchase'
        |  UNION ALL
        |  SELECT event_id, typ, cents + 5 FROM src WHERE typ = 'click'
        |  UNION ALL
        |  SELECT event_id, typ, cents FROM src
        |  WHERE typ NOT IN ('purchase', 'click'))
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM m GROUP BY 1""".stripMargin)),
    // COPY INTO — idempotent landing-dir ingest (exactly
    // once per source file; re-runs no-op, incremental runs ingest
    // only fresh files); final cut ≡ the whole source
    Gate("io_copy_into", IoGates.copyIntoRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY 1""".stripMargin)),
    // OPTIMIZE ZORDER BY — the z-order-compacted table's
    // stats-skipping band reads (one per clustered dimension; pruning
    // asserted in the builder) must reproduce the oracle's band
    // replays; bands are quarter/eighth spans off each dimension's
    // [min, max] (positive values, so Long `/` ≡ DuckDB `//`)
    Gate("io_optimize_zorder", IoGates.optimizeZorderRead _, Oracle(
      """WITH src AS (
        |  SELECT event_id, event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |b AS (
        |  SELECT min(event_id) AS mni, max(event_id) AS mxi,
        |    min(cents) AS mnc, max(cents) AS mxc
        |  FROM src)
        |SELECT 'by_id' AS band, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM src, b
        |WHERE event_id >= mni + 5 * (mxi - mni) // 16
        |  AND event_id < mni + 7 * (mxi - mni) // 16
        |UNION ALL
        |SELECT 'by_cents', count(*), CAST(sum(cents) AS BIGINT),
        |  min(event_id), max(event_id)
        |FROM src, b
        |WHERE cents >= mnc + (mxc - mnc) // 8
        |  AND cents < mnc + (mxc - mnc) // 4""".stripMargin)),
    // replaceWhere — the predicate-scoped overwrite's final
    // cut: purchases re-priced by the replacement batch, every other
    // region untouched (violating batch refused before this landed)
    Gate("io_replace_where", IoGates.replaceWhereRead _, Oracle(
      """WITH src AS (
        |  SELECT event_id, event_type AS typ,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT event_id, typ, cents FROM src WHERE typ <> 'purchase'
        |  UNION ALL
        |  SELECT event_id, typ, cents + 100000 FROM src
        |  WHERE typ = 'purchase')
        |SELECT typ, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM m GROUP BY 1""".stripMargin)),
    // I20: restore — latest (v3, the rollback commit) serves the v1
    // cut with purchases back; v2 still serves the post-delete cut
    Gate("io_restore", IoGates.restoreRead _, Oracle(
      """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE epoch_us(ts) < 1705795200000000),
        |r3 AS (
        |  SELECT 'restored' AS rel, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src GROUP BY 2),
        |r2 AS (
        |  SELECT 'pre_restore' AS rel, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src WHERE typ <> 'purchase' GROUP BY 2)
        |SELECT * FROM r3 UNION ALL SELECT * FROM r2""".stripMargin)),
    // I21: optimize — a pure layout commit: the packed v3 read serves
    // exactly the v2 cut (days ≤ 01-20, purchases COW-deleted)
    Gate("io_optimize", IoGates.optimizeRead _, Oracle(
      """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE epoch_us(ts) < 1705795200000000 AND event_type <> 'purchase'
        |GROUP BY 1""".stripMargin)),
    // I22: commit-stats data skipping — the pruned band read must
    // reproduce the raw source cut (IoSpec pins the actual skipping)
    Gate("io_skipping", IoGates.skippingRead _, Oracle(ioSkippingSql)),
    // F28: NFC normalization — decomposed e+U+0301 injected on both
    // sides must recompose identically; whitespace collapsed both sides
    Gate("text_normalize", text.TextAnalysis.textNormalize _, Oracle(
      """WITH n AS (SELECT doc_id,
        |    trim(regexp_replace(
        |      nfc_normalize(replace(text, 'e', 'e' || chr(769))),
        |      '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, length(norm) AS n_chars, substr(norm, 1, 80) AS head
        |FROM n""".stripMargin)),
    // F16: identical regex canonicalization chain; DuckDB regexp_replace
    // needs the explicit 'g' flag where Spark replaces all matches
    Gate("dedup_url", text.TextAnalysis.urlCanon _, Oracle(
      """WITH v AS (SELECT doc_id, unnest([
        |    'https://WWW.Site' || (doc_id % 37) || '.Example:443/p/'
        |      || (doc_id % 13) || '?utm_source=feed&id=' || (doc_id % 7)
        |      || '#top',
        |    'https://site' || (doc_id % 37) || '.example/p/'
        |      || (doc_id % 13) || '?id=' || (doc_id % 7),
        |    'http://cdn' || (doc_id % 11) || '.example:80/img/'
        |      || (doc_id % 13) || '/',
        |    'http://cdn' || (doc_id % 11) || '.example/img/'
        |      || (doc_id % 13)]) AS u
        |  FROM documents),
        |parsed AS (SELECT doc_id, u,
        |    lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_extract(u, '^[A-Za-z]+://([^/?#]+)', 1) AS hostport,
        |    regexp_extract(u, '^[A-Za-z]+://[^/?#]+([^#]*)', 1) AS rest
        |  FROM v),
        |c1 AS (SELECT doc_id, scheme,
        |    regexp_replace(lower(regexp_extract(hostport, '^([^:]+)', 1)),
        |      '^www\.', '') AS host,
        |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |    regexp_extract(rest, '^([^?]*)', 1) AS path,
        |    regexp_extract(rest, '\?(.*)$', 1) AS q
        |  FROM parsed),
        |c2 AS (SELECT doc_id, scheme, host,
        |    CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
        |              OR (scheme = 'http' AND port = '80')
        |         THEN '' ELSE ':' || port END AS portc,
        |    CASE WHEN rtrim(path, '/') = '' THEN '/'
        |         ELSE rtrim(path, '/') END AS pathc,
        |    regexp_replace(regexp_replace(q, '(^|&)utm_[^&]*', '', 'g'),
        |      '^&', '') AS qc
        |  FROM c1)
        |SELECT scheme || '://' || host || portc || pathc
        |    || CASE WHEN qc = '' THEN '' ELSE '?' || qc END AS canon,
        |  count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
        |FROM c2 GROUP BY 1""".stripMargin)),
    // E. similarity search
    Gate("ann_bruteforce", similarity.Ann.bruteforceTopk _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn
        |  FROM n WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, n.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> q.qe[i]*n.e[i])) / (q.qn*n.nrm), 4) AS cs
        |  FROM q JOIN n ON n.vec_id <> q.query_id)
        |SELECT query_id, rk, neighbor_id, cs FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin)),
    // E8: E1's oracle with the label equality folded into the join
    // predicate (pre-filter, not post-filter)
    Gate("ann_filtered", similarity.Ann.filteredTopk _, Oracle(annFilteredSql)),
    // E16: exhaustive-probe filtered IVF ≡ filtered brute force —
    // the E3b invariant, same label-constrained exact-scan oracle
    Gate("ann_ivf_filtered", similarity.Ann.ivfFilteredFull _, Oracle(annFilteredSql)),
    // E6: raw inner product — both engines run the dot in sequential
    // ascending dim order, so the doubles are bit-identical (same
    // parity argument as ann_bruteforce, minus the normalization)
    Gate("ann_mips", similarity.Ann.mipsTopk _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, v.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> q.qe[i]*v.e[i])), 4) AS dot
        |  FROM q JOIN v ON v.vec_id <> q.query_id)
        |SELECT query_id, rk, neighbor_id, dot FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY dot DESC, neighbor_id) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin)),
    Gate("ann_ivf", similarity.Ann.ivfTopk _,
      RowsOnly("top-k depends on the learned cells; ann_ivf_full gates the same path exactly")),
    // E3b: IVF at nprobe = k probes every cell -> provably the exact
    // top-5; same oracle as brute force
    Gate("ann_ivf_full", similarity.Ann.ivfFull _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn
        |  FROM n WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, n.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> q.qe[i]*n.e[i])) / (q.qn*n.nrm), 4) AS cs
        |  FROM q JOIN n ON n.vec_id <> q.query_id)
        |SELECT query_id, rk, neighbor_id, cs FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin)),
    Gate("ann_pq", similarity.Ann.pqTopk _,
      RowsOnly("candidates depend on the learned codebooks; ann_pq_full gates the same path")),
    // E7b: candN<=0 probes the whole corpus -> PQ output must equal
    // brute force regardless of the learned codebooks (the E3b trick)
    Gate("ann_pq_full", similarity.Ann.pqFull _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn
        |  FROM n WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, n.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> q.qe[i]*n.e[i])) / (q.qn*n.nrm), 4) AS cs
        |  FROM q JOIN n ON n.vec_id <> q.query_id)
        |SELECT query_id, rk, neighbor_id, cs FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin)),
    Gate("ann_classify", similarity.Ann.knnClassify _, Oracle(
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings WHERE label IS NOT NULL),
        |n AS (SELECT vec_id, label, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn
        |  FROM n WHERE vec_id < 50),
        |scored AS (SELECT q.query_id, n.vec_id AS neighbor_id, n.label,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> q.qe[i]*n.e[i])) / (q.qn*n.nrm), 4) AS cs
        |  FROM q JOIN n ON n.vec_id <> q.query_id),
        |top5 AS (SELECT query_id, label FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) AS rk FROM scored) WHERE rk <= 5),
        |votes AS (SELECT query_id, label, count(*) AS votes
        |  FROM top5 GROUP BY 1, 2)
        |SELECT query_id, label AS pred_label, votes FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY votes DESC, label) AS m FROM votes)
        |WHERE m = 1""".stripMargin)),
    Gate("ann_lsh", similarity.Ann.lshTopk _,
      RowsOnly("top-k depends on the hyperplanes; ann_lsh_planted gates the same path exactly")),
    // E2b: planted-twin queries -> the >= 0.9 matches are exactly the
    // (twin, source) pairs; exact-cosine scan over twin x corpus
    Gate("ann_lsh_planted", similarity.Ann.lshPlanted _, Oracle(
      """WITH twins AS (SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(range(1, 65),
        |      i -> CASE WHEN (i-1) % 16 = 0
        |           THEN embedding[i] * CAST(2 AS FLOAT)
        |           ELSE embedding[i] END) AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |allv AS (SELECT vec_id, embedding FROM embeddings
        |         UNION ALL SELECT vec_id, embedding FROM twins),
        |v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM allv),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> q.e[i]*c.e[i])) / (q.nrm*c.nrm), 4) AS cs
        |  FROM n q JOIN n c ON q.vec_id >= 1000000 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, cs FROM p WHERE cs >= 0.9""".stripMargin)),
    // centroid = per-label SUM of unit vectors quantized to the 2^-20
    // grid: each per-dim sum is a dyadic rational double represents
    // EXACTLY (order-independent), so Spark and DuckDB centroids are
    // bit-identical before rounding; cn and the dot run in sequential
    // dim order on both sides (cosine is scale-invariant, so no count
    // division anywhere)
    Gate("ann_centroid", similarity.Ann.centroidScore _, Oracle(
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings WHERE label IS NOT NULL),
        |n AS (SELECT vec_id, label, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |u AS (SELECT vec_id, label,
        |    list_transform(e, x -> floor(x / nrm * 1048576.0 + 0.5) / 1048576.0)
        |      AS u FROM n),
        |d AS (SELECT label, t.i AS i, sum(u[t.i]) AS s
        |  FROM u, UNNEST(range(1, 65)) t(i) GROUP BY 1, 2),
        |c AS (SELECT label, list(s ORDER BY i) AS c FROM d GROUP BY 1),
        |c2 AS (SELECT label, c,
        |    sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM c),
        |sc AS (SELECT u.vec_id, u.label,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> u.u[i] * c2.c[i])) / c2.cn, 4) AS cs
        |  FROM u JOIN c2 USING (label))
        |SELECT vec_id, label, cs, cs < 0 AS outlier FROM sc""".stripMargin)),
    // E8: per-vector report is all order-free (one divide, a max over
    // exact IEEE expressions, integer counts) — replayed dimension by
    // dimension in list lambdas
    Gate("embed_quantize", similarity.Ann.quantize _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |a AS (SELECT vec_id, e,
        |    list_max(list_transform(e, x -> abs(x))) AS amax FROM v),
        |s AS (SELECT vec_id, e, amax / CAST(127.0 AS DOUBLE) AS scale
        |  FROM a WHERE amax > 0),
        |q AS (SELECT vec_id, e, scale,
        |    list_transform(e, x -> least(greatest(floor(x / scale + 0.5),
        |      CAST(-127.0 AS DOUBLE)), CAST(127.0 AS DOUBLE))) AS qs
        |  FROM s)
        |SELECT vec_id,
        |  floor(scale * 1e6 + 0.5) / 1e6 AS scale_q,
        |  floor(list_max(list_transform(range(1, 65),
        |    i -> abs(e[i] - qs[i] * scale))) * 1e6 + 0.5) / 1e6 AS max_err_q,
        |  len(list_filter(qs, x -> abs(x) = 127.0)) AS n_sat
        |FROM q""".stripMargin)),
    // E9: int8 scan + exact re-rank — candidate scores are integer dot
    // products times bit-identical scales, so selection and re-rank
    // replay exactly on both engines
    Gate("ann_sq8", similarity.Ann.sq8Topk _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm,
        |    list_max(list_transform(e, x -> abs(x))) AS amax FROM v),
        |c AS (SELECT vec_id, e, nrm, amax / 127.0 AS scale,
        |    list_transform(e, x -> least(greatest(
        |      floor(x / (amax / 127.0) + 0.5), -127.0), 127.0)) AS qs
        |  FROM n WHERE amax > 0),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn,
        |    scale AS qscale, qs AS qqs
        |  FROM c WHERE vec_id < 10),
        |a AS (SELECT q.query_id, c.vec_id, c.e, c.nrm, q.qe, q.qn,
        |    list_sum(list_transform(range(1, 65),
        |      i -> q.qqs[i] * c.qs[i])) * q.qscale * c.scale AS ascore
        |  FROM q JOIN c ON c.vec_id <> q.query_id),
        |cand AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY ascore DESC, vec_id) AS crk FROM a)
        |  WHERE crk <= 50),
        |scored AS (SELECT query_id, vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> qe[i] * e[i])) / (qn * nrm), 4) AS cs
        |  FROM cand)
        |SELECT query_id, rk, neighbor_id, cs FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin)),
    // E11: the truncated-prefix selection (dyadic-quantized 16-dim
    // unit-prefix dot — exact in any summation order) AND the full
    // re-rank replayed bit-for-bit — observational exactness
    Gate("ann_mrl", similarity.Ann.mrlTopk _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |u AS (SELECT vec_id, e, nrm,
        |    list_transform(e, x -> floor(x / nrm * 1048576.0 + 0.5) / 1048576.0)
        |      AS pu
        |  FROM n WHERE nrm > 0),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, pu AS qpu
        |  FROM u WHERE vec_id < 10),
        |a AS (SELECT q.query_id, u.vec_id, u.e, u.nrm, q.qe, q.qn,
        |    list_sum(list_transform(range(1, 17),
        |      i -> q.qpu[i] * u.pu[i])) AS ascore
        |  FROM q JOIN u ON u.vec_id <> q.query_id),
        |cand AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY ascore DESC, vec_id) AS crk FROM a)
        |  WHERE crk <= 50),
        |scored AS (SELECT query_id, vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> qe[i] * e[i])) / (qn * nrm), 4) AS cs
        |  FROM cand)
        |SELECT query_id, rk, neighbor_id, cs FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin)),
    Gate("ann_ivfpq", similarity.Ann.ivfPqTopk _,
      RowsOnly("depends on the learned cells and codebooks; ann_ivfpq_full gates the same path")),
    // E13: nprobe=k + candN=0 disables both pruning stages — IVF-PQ
    // output must equal brute force regardless of what either
    // quantizer learned (E3b × E7b composed); the pruned path is
    // declared rows-only with the planted-recall spec
    Gate("ann_ivfpq_full", similarity.Ann.ivfPqFull _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn
        |  FROM n WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, n.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> q.qe[i]*n.e[i])) / (q.qn*n.nrm), 4) AS cs
        |  FROM q JOIN n ON n.vec_id <> q.query_id)
        |SELECT query_id, rk, neighbor_id, cs FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin)),
    // E12: sign-bit packing (two 32-bit halves), integer Hamming
    // ranking and the float re-rank all replayed — observational
    // exactness with zero FP in the candidate stage
    Gate("ann_bq", similarity.Ann.bqTopk _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
        |c AS (SELECT vec_id, e, nrm,
        |    list_sum(list_transform(range(1, 33),
        |      i -> CASE WHEN e[i] > 0
        |           THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END)) AS c1,
        |    list_sum(list_transform(range(33, 65),
        |      i -> CASE WHEN e[i] > 0
        |           THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END)) AS c2
        |  FROM n WHERE nrm > 0),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn,
        |    c1 AS qc1, c2 AS qc2
        |  FROM c WHERE vec_id < 10),
        |a AS (SELECT q.query_id, c.vec_id, c.e, c.nrm, q.qe, q.qn,
        |    bit_count(xor(c.c1, q.qc1)) + bit_count(xor(c.c2, q.qc2)) AS hd
        |  FROM q JOIN c ON c.vec_id <> q.query_id),
        |cand AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY hd ASC, vec_id) AS crk FROM a)
        |  WHERE crk <= 50),
        |scored AS (SELECT query_id, vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> qe[i] * e[i])) / (qn * nrm), 4) AS cs
        |  FROM cand)
        |SELECT query_id, rk, neighbor_id, cs FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin)),
    // E11's exhaustive invariant: candN <= 0 (no cut) ⇒ ≡ brute force (the
    // E1 oracle with the norm>0 filter mirrored)
    Gate("ann_mrl_full", similarity.Ann.mrlFull _, Oracle(
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm
        |  FROM v),
        |nn AS (SELECT * FROM n WHERE nrm > 0),
        |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn
        |  FROM nn WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, nn.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> q.qe[i] * nn.e[i])) / (q.qn * nn.nrm), 4) AS cs
        |  FROM q JOIN nn ON nn.vec_id <> q.query_id)
        |SELECT query_id, rk, neighbor_id, cs FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin)),
    Gate("ann_kcenter", similarity.Ann.kcenterSample _, Oracle(kcenterSql)),
    Gate("ann_mmr", similarity.Ann.mmrRerank _, Oracle(mmrSql)),
    // E17: both retrieval legs replayed (the F14 chain + the E1 scan
    // without self-exclusion), then RRF — integer ranks, one exact
    // quotient each, one addition: bit-deterministic before rounding
    Gate("ann_hybrid_rrf", similarity.Ann.hybridRrf _, Oracle(
      (bm25Sql.stripSuffix("\nSELECT qid, rk, doc_id, floor(sq * 10000 + 0.5) / 10000 AS score\nFROM r WHERE rk <= 10")
        + """,
        |lex AS (SELECT qid, doc_id, rk AS lrk FROM r WHERE rk <= 10),
        |ev AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |en AS (SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM ev),
        |q2 AS (SELECT vec_id AS qid, e AS qe, nrm AS qn
        |  FROM en WHERE vec_id % 101 = 0),
        |vs AS (SELECT q2.qid, en.vec_id AS doc_id,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> q2.qe[i]*en.e[i])) / (q2.qn*en.nrm), 4) AS cs
        |  FROM q2 CROSS JOIN en),
        |vr AS (SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
        |    ORDER BY cs DESC, lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS vrk
        |  FROM vs),
        |vtop AS (SELECT qid, doc_id, vrk FROM vr WHERE vrk <= 10),
        |fused AS (SELECT coalesce(l.qid, vt.qid) AS qid,
        |    coalesce(l.doc_id, vt.doc_id) AS doc_id,
        |    coalesce(1.0/(l.lrk + 60.0), CAST(0 AS DOUBLE)) +
        |      coalesce(1.0/(vt.vrk + 60.0), CAST(0 AS DOUBLE)) AS rrf
        |  FROM lex l FULL OUTER JOIN vtop vt
        |    ON l.qid = vt.qid AND l.doc_id = vt.doc_id),
        |fr AS (SELECT qid, doc_id, rrf, row_number() OVER (PARTITION BY qid
        |    ORDER BY rrf DESC, doc_id) AS rk FROM fused)
        |SELECT qid, rk, doc_id, floor(rrf * 1e6 + 0.5) / 1e6 AS rrf
        |FROM fr WHERE rk <= 10""".stripMargin))),
    // F. text analysis
    Gate("text_langid", text.TextAnalysis.langid _, Oracle(
      """WITH t AS (SELECT doc_id, lang,
        |    len(string_split(text, ' ')) AS n_words,
        |    round((len(list_filter(string_split(text, ' '), x -> x = 'the'))
        |         + len(list_filter(string_split(text, ' '), x -> x = 'a'))) * 1.0
        |      / len(string_split(text, ' ')), 4) AS en_score
        |  FROM documents)
        |SELECT doc_id, lang, n_words, en_score,
        |  CASE WHEN en_score >= 0.02 THEN 'en' ELSE 'unk' END AS pred
        |FROM t""".stripMargin)),
    Gate("text_quality", text.TextAnalysis.quality _, Oracle(
      """WITH t AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_words,
        |    len(list_distinct(string_split(text, ' '))) AS n_uniq,
        |    (len(list_filter(string_split(text, ' '), x -> x = 'the'))
        |         + len(list_filter(string_split(text, ' '), x -> x = 'a'))) * 1.0
        |      / len(string_split(text, ' ')) AS stop_raw,
        |    round((len(list_filter(string_split(text, ' '), x -> x = 'the'))
        |         + len(list_filter(string_split(text, ' '), x -> x = 'a'))) * 1.0
        |      / len(string_split(text, ' ')), 4) AS stop_ratio,
        |    round(len(list_distinct(string_split(text, ' '))) * 1.0
        |      / len(string_split(text, ' ')), 4) AS uniq_ratio,
        |    round((length(text) - len(string_split(text, ' ')) + 1) * 1.0
        |      / len(string_split(text, ' ')), 4) AS mean_wlen
        |  FROM documents)
        |SELECT doc_id, n_words, n_uniq, stop_ratio, uniq_ratio, mean_wlen,
        |  round(least(1.0, (n_uniq * 1.0 / n_words) * 0.5
        |    + CASE WHEN n_words BETWEEN 20 AND 400 THEN 0.3 ELSE 0.0 END
        |    + CASE WHEN stop_raw >= 0.01 AND stop_raw <= 0.2 THEN 0.2 ELSE 0.0 END), 4)
        |    AS quality
        |FROM t""".stripMargin)),
    Gate("text_tokencount", text.TextAnalysis.tokenCount _, Oracle(
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws,
        |  len(regexp_extract_all(text, '[a-z]+|[^a-z ]')) AS n_bpeish,
        |  length(text) AS n_chars_m
        |FROM documents""".stripMargin)),
    Gate("text_fingerprint", text.TextAnalysis.fingerprint _, Oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |h AS (SELECT doc_id,
        |    list_min(list_transform(range(1, greatest(len(w) - 3, 1)), i ->
        |      (CAST(ascii(w[i][1])*961 + ascii(w[i][-1])*31 + length(w[i]) AS BIGINT) * 1
        |     + CAST(ascii(w[i+1][1])*961 + ascii(w[i+1][-1])*31 + length(w[i+1]) AS BIGINT) * 131
        |     + CAST(ascii(w[i+2][1])*961 + ascii(w[i+2][-1])*31 + length(w[i+2]) AS BIGINT) * 17161
        |     + CAST(ascii(w[i+3][1])*961 + ascii(w[i+3][-1])*31 + length(w[i+3]) AS BIGINT) * 2248091
        |     + CAST(ascii(w[i+4][1])*961 + ascii(w[i+4][-1])*31 + length(w[i+4]) AS BIGINT) * 294499921
        |      ) % 1000000007)) AS fp
        |  FROM t)
        |SELECT doc_id, fp FROM h WHERE fp IS NOT NULL""".stripMargin)),
    Gate("text_repetition", text.TextAnalysis.repetition _, Oracle(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |g AS (SELECT doc_id,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2
        |  FROM w),
        |s AS (SELECT doc_id, len(g2) AS n_2grams,
        |    len(g2) - len(list_distinct(g2)) AS n_dup FROM g)
        |SELECT doc_id, n_2grams, n_dup,
        |  floor(n_dup * 1.0 / n_2grams * 10000 + 0.5) / 10000 AS rep_ratio,
        |  floor(n_dup * 1.0 / n_2grams * 10000 + 0.5) / 10000 > 0.1 AS flagged
        |FROM s""".stripMargin)),
    // F32: Gopher char-fraction repetition — top word-2-gram coverage
    // (ties to smallest gram) + duplicated word-5-gram coverage, both
    // count·len capped at 1.0; flags computed from the ROUNDED fracs
    Gate("text_gopher_rep", text.TextAnalysis.gopherRepetition _, Oracle(
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
        |    length(text) AS n_chars FROM documents),
        |g2 AS (SELECT doc_id, n_chars,
        |    unnest(list_transform(range(1, len(w)),
        |      i -> array_to_string(w[i:i+1], ' '))) AS g
        |  FROM d WHERE len(w) >= 2),
        |c2 AS (SELECT doc_id, n_chars, g, count(*) AS c
        |  FROM g2 GROUP BY 1, 2, 3),
        |t2 AS (SELECT doc_id, n_chars, g AS top2,
        |    c * length(g) AS top2_chars
        |  FROM c2 QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY c DESC, g) = 1),
        |g5 AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) - 3),
        |      i -> array_to_string(w[i:i+4], ' '))) AS g
        |  FROM d WHERE len(w) >= 5),
        |c5 AS (SELECT doc_id, g, count(*) AS c FROM g5
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d5 AS (SELECT doc_id, CAST(sum(c * length(g)) AS BIGINT)
        |    AS dup5_chars FROM c5 GROUP BY 1),
        |f AS (SELECT t2.doc_id, top2,
        |    floor(least(top2_chars * 1.0 / n_chars, 1.0) * 10000 + 0.5)
        |      / 10000 AS top2_frac,
        |    floor(least(COALESCE(dup5_chars, 0) * 1.0 / n_chars, 1.0)
        |      * 10000 + 0.5) / 10000 AS dup5_frac
        |  FROM t2 LEFT JOIN d5 ON d5.doc_id = t2.doc_id)
        |SELECT doc_id, top2, top2_frac, dup5_frac,
        |  (top2_frac > 0.2 OR dup5_frac > 0.6) AS flagged
        |FROM f""".stripMargin)),
    // the canary injection mirrors the Spark side exactly: benchmark =
    // doc_id%97==0, canary = that doc's first 8 words, appended to each
    // doc_id%13==0 non-benchmark doc (round-robin by (doc_id//13) % nb)
    Gate("text_decontaminate", text.TextAnalysis.decontaminate _, Oracle(
      """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
        |canaries AS (SELECT doc_id // 97 AS ci,
        |    array_to_string(string_split(text, ' ')[1:8], ' ') AS canary
        |  FROM bench),
        |nb AS (SELECT count(*) AS nb FROM canaries),
        |injected AS (SELECT d.doc_id,
        |    d.text || ' ' || c.canary AS text
        |  FROM documents d, nb
        |  JOIN canaries c ON c.ci = (d.doc_id // 13) % nb.nb
        |  WHERE d.doc_id % 13 = 0 AND d.doc_id % 97 <> 0),
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 13 <> 0 OR doc_id % 97 = 0
        |  UNION ALL SELECT doc_id, text FROM injected),
        |cg AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
        |      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |        ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7])) AS ng
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus
        |        WHERE len(string_split(text, ' ')) >= 8)),
        |bg AS (SELECT DISTINCT doc_id AS bid,
        |    unnest(list_transform(range(1, greatest(len(w) - 6, 1)),
        |      i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |        ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7])) AS ng
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM bench
        |        WHERE len(string_split(text, ' ')) >= 8))
        |SELECT cg.doc_id, count(DISTINCT cg.ng) AS n_shared,
        |  count(DISTINCT bg.bid) AS n_bench
        |FROM cg JOIN bg ON cg.ng = bg.ng AND cg.doc_id <> bg.bid
        |GROUP BY 1""".stripMargin)),
    Gate("text_lm_score", text.TextAnalysis.lmScore _, Oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)), i -> [w[i], w[i+1]])) AS p
        |  FROM t),
        |b2 AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM bg),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM b2 GROUP BY 1, 2),
        |uc AS (SELECT w1, count(*) AS cu FROM b2 GROUP BY 1),
        |q AS (SELECT doc_id, floor(cb * 1.0 / cu * 1048576 + 0.5) / 1048576 AS q
        |  FROM b2 JOIN bc USING (w1, w2) JOIN uc USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  floor(sum(q) / count(*) * 10000 + 0.5) / 10000 AS lm_score
        |FROM q GROUP BY 1""".stripMargin)),
    // F34 DSIR: the oracle replays the full pipeline — dual-poly
    // bucket hash, Laplace-smoothed λ (integer products, ONE IEEE
    // division, one ln, dyadic 2^-20 quantize — exact sums), top-100.
    // hb is MATERIALIZED: four consumers would otherwise re-fold the
    // per-character polynomial hash four times.
    Gate("dsir_sample", text.TextAnalysis.dsirSample _, Oracle(
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
        |  FROM documents),
        |f AS (SELECT doc_id, lang, unnest(list_concat(w,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])))
        |    AS f
        |  FROM t),
        |hb AS MATERIALIZED (SELECT doc_id, lang,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(f, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 131 + x) % 1000000007) * 2147483648 +
        |     list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(f, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 137 + x) % 998244353)) % 2048 AS b
        |  FROM f),
        |sc AS (SELECT b, count(*) AS s_b FROM hb GROUP BY 1),
        |tc AS (SELECT b, count(*) AS t_b FROM hb WHERE lang = 'en'
        |  GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM hb) AS s_tot,
        |  (SELECT count(*) FROM hb WHERE lang = 'en') AS t_tot),
        |lam AS (SELECT g.b,
        |    floor(ln(CAST((coalesce(t_b, 0) + 1) * (s_tot + 2048) AS DOUBLE) /
        |             CAST((coalesce(s_b, 0) + 1) * (t_tot + 2048) AS DOUBLE))
        |      * 1048576 + 0.5) / 1048576 AS lam
        |  FROM (SELECT unnest(range(0, 2048)) AS b) g
        |  LEFT JOIN sc ON g.b = sc.b LEFT JOIN tc ON g.b = tc.b, tot),
        |dc AS (SELECT doc_id, b, count(*) AS c FROM hb GROUP BY 1, 2),
        |sco AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
        |    floor(sum(c * lam) * 1e4 + 0.5) / 1e4 AS score
        |  FROM dc JOIN lam ON dc.b = lam.b GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
        |    AS rk, doc_id, n_feats, score
        |FROM sco ORDER BY score DESC, doc_id LIMIT 100""".stripMargin)),
    // F11: the recursive CTE replays the identical greedy recurrence,
    // one recursion step per document within each source
    Gate("seq_pack", text.TextAnalysis.seqPack _, Oracle(
      """WITH RECURSIVE
        |d AS (SELECT source,
        |    list_sort(list(struct_pack(doc_id := doc_id,
        |      nt := len(string_split(text, ' '))))) AS l
        |  FROM documents GROUP BY source),
        |pk(source, k, bin, fill, doc_id, n_tok) AS (
        |  SELECT source, 1 AS k, CAST(0 AS BIGINT) AS bin,
        |    CAST(l[1].nt AS BIGINT) AS fill, l[1].doc_id AS doc_id,
        |    CAST(l[1].nt AS BIGINT) AS n_tok
        |  FROM d
        |  UNION ALL
        |  SELECT p.source, p.k + 1,
        |    CASE WHEN p.fill + d.l[p.k+1].nt > 512
        |         THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + d.l[p.k+1].nt > 512
        |         THEN CAST(d.l[p.k+1].nt AS BIGINT)
        |         ELSE p.fill + d.l[p.k+1].nt END,
        |    d.l[p.k+1].doc_id, CAST(d.l[p.k+1].nt AS BIGINT)
        |  FROM pk p JOIN d ON d.source = p.source AND p.k < len(d.l))
        |SELECT doc_id, source, n_tok, bin FROM pk""".stripMargin)),
    // F26: identical split/stride/slice arithmetic — generate_series and
    // sequence are both inclusive-stop, list_slice and slice both clamp
    Gate("text_chunk", text.TextAnalysis.chunk _, Oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks,
        |    unnest(generate_series(0, greatest(len(toks) - 1, 0), 40)) AS st
        |  FROM t)
        |SELECT doc_id, CAST(st / 40 AS BIGINT) AS chunk_id,
        |  CAST(len(list_slice(toks, st + 1, st + 50)) AS BIGINT) AS n_tok,
        |  array_to_string(list_slice(toks, st + 1, st + 50), ' ') AS chunk_text
        |FROM s""".stripMargin)),
    Gate("text_urls", text.TextAnalysis.urlExtract _, Oracle(
      """WITH t AS (SELECT doc_id,
        |    text || ' see https://site' || (doc_id % 37) || '.example/p/'
        |      || doc_id || ' and http://cdn' || (doc_id % 11)
        |      || '.example/img.png' AS t
        |  FROM documents),
        |u AS (SELECT doc_id,
        |    unnest(regexp_extract_all(t,
        |      'https?://[A-Za-z0-9.-]+[A-Za-z0-9./_-]*')) AS u
        |  FROM t)
        |SELECT regexp_extract(u, 'https?://([A-Za-z0-9.-]+)', 1) AS domain,
        |  count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs,
        |  CAST(sum(CASE WHEN u LIKE 'https://%' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_https
        |FROM u GROUP BY 1""".stripMargin)),
    // F13: shares quantized from exact integer counts — order-free
    Gate("text_vocab", text.TextAnalysis.vocab _, Oracle(
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w, count(*) AS n FROM w GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
        |r AS (SELECT w, n, row_number() OVER (ORDER BY n DESC, w) AS rk
        |  FROM c WHERE n >= 5)
        |SELECT rk, w, n,
        |  floor(n * 1.0 / t.tot * 1000000 + 0.5) / 1000000 AS share,
        |  floor(sum(n) OVER (ORDER BY rk) * 1.0 / t.tot * 1000000 + 0.5)
        |    / 1000000 AS cum_share
        |FROM r CROSS JOIN t WHERE rk <= 50""".stripMargin)),
    Gate("domain_rank", text.TextAnalysis.domainRank _, Oracle(domainRankSql)),
    // F18: count ratios divide as doubles in the same op order; ln()
    // is bit-identical over them (the bm25 precedent); top-50 by
    // (cb desc, w1, w2) total order
    Gate("text_pmi", text.TextAnalysis.pmi _, Oracle(
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |uni AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
        |totu AS (SELECT CAST(sum(c) AS BIGINT) AS u_tot FROM uni),
        |ws AS (SELECT string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT unnest(list_transform(range(1, len(ws)),
        |    i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
        |  FROM ws),
        |bi AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS cb
        |  FROM bg GROUP BY 1, 2),
        |totb AS (SELECT CAST(sum(cb) AS BIGINT) AS t_tot FROM bi),
        |top AS (SELECT w1, w2, cb,
        |    row_number() OVER (ORDER BY cb DESC, w1, w2) AS rk
        |  FROM bi)
        |SELECT rk, w1, w2, cb,
        |  floor(ln((cb / t.t_tot) / ((c1.c / u.u_tot) * (c2.c / u.u_tot)))
        |    * 10000 + 0.5) / 10000 AS pmi
        |FROM top JOIN uni c1 ON c1.w = top.w1
        |JOIN uni c2 ON c2.w = top.w2
        |CROSS JOIN totb t CROSS JOIN totu u
        |WHERE rk <= 50""".stripMargin)),
    // F19: trigram stream replayed via list positions; the two-level
    // aggregate collapses to plain GROUP BYs; rk <= 100 ≡ Spark's
    // limit(100) because the (n DESC, g) order is total
    Gate("ngram_count", text.TextAnalysis.ngramCount _, Oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |  FROM t),
        |pd AS (SELECT g, doc_id, count(*) AS c FROM tri GROUP BY 1, 2),
        |c AS (SELECT g, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_docs
        |  FROM pd GROUP BY 1 HAVING sum(c) >= 5),
        |r AS (SELECT row_number() OVER (ORDER BY n DESC, g) AS rk, g, n, n_docs
        |  FROM c)
        |SELECT rk, g, n, n_docs FROM r WHERE rk <= 100""".stripMargin)),
    // F20: the oracle replays the dual polynomial char-by-char per
    // token (same fold as shard_assign); integer numerators sum
    // order-free, one double divide at the end
    Gate("quality_classify", text.TextAnalysis.qualityClassify _, Oracle(
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    ((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split_regex(w, ''),
        |          ch -> CAST(ascii(ch) AS BIGINT))),
        |        (a, x) -> (a * 131 + x) % 1000000007) * 2147483648
        |      + list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split_regex(w, ''),
        |          ch -> CAST(ascii(ch) AS BIGINT))),
        |        (a, x) -> (a * 137 + x) % 998244353)) % 2001) - 1000 AS wt
        |  FROM t)
        |SELECT doc_id, count(*) AS n_tok,
        |  CAST(sum(wt) AS DOUBLE) / CAST(count(*) * 1000 AS DOUBLE) AS margin,
        |  CAST(sum(wt) AS BIGINT) > 0 AS keep
        |FROM h GROUP BY 1""".stripMargin)),
    // F22: thresholds replayed as integer cross-multiplications — no
    // float compare sits on a rule boundary on either side
    Gate("gopher_filter", text.TextAnalysis.gopherFilter _, Oracle(
      """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w
        |  FROM documents),
        |m AS (SELECT doc_id, len(w) AS nw, n_chars - (len(w) - 1) AS sum_len,
        |    len(list_distinct(w)) AS nd,
        |    len(list_filter(w, x -> list_contains(
        |      ['the','a','of','to','and','in','is'], x))) AS ns
        |  FROM t)
        |SELECT doc_id, nw AS n_words,
        |  floor(CAST(sum_len AS DOUBLE) / nw * 10000 + 0.5) / 10000
        |    AS mean_word_len,
        |  floor(CAST(nd AS DOUBLE) / nw * 10000 + 0.5) / 10000 AS ttr,
        |  ns AS n_stop,
        |  (nw BETWEEN 20 AND 80 AND sum_len * 10 >= nw * 38
        |   AND nd * 100 >= nw * 45 AND ns >= 2) AS keep
        |FROM m""".stripMargin)),
    // F24: same trigram derivation as F19; df counts distinct docs per
    // trigram, instances join back on the trigram string
    Gate("ngram_novelty", text.TextAnalysis.ngramNovelty _, Oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |  FROM t),
        |df AS (SELECT g, count(DISTINCT doc_id) AS n_docs FROM tri GROUP BY 1)
        |SELECT doc_id, count(*) AS n_tri,
        |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  floor(CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 10000 + 0.5) / 10000 AS dup_frac
        |FROM tri JOIN df USING (g)
        |GROUP BY 1""".stripMargin)),
    // F25: entropy terms quantized to the 2^-20 grid before the sum
    // (order-free); ln(2) is a shared literal so both engines divide
    // by the identical double
    Gate("text_entropy", text.TextAnalysis.textEntropy _, Oracle(
      """WITH ch AS (SELECT doc_id, n_chars,
        |    unnest(string_split_regex(text, '')) AS ch FROM documents),
        |cnt AS (SELECT doc_id, n_chars, ch, count(*) AS c
        |  FROM ch GROUP BY 1, 2, 3),
        |t AS (SELECT doc_id,
        |    floor((0 - (CAST(c AS DOUBLE) / n_chars)
        |      * ln(CAST(c AS DOUBLE) / n_chars) / 0.6931471805599453)
        |      * 1048576 + 0.5) / 1048576 AS term
        |  FROM cnt)
        |SELECT doc_id, count(*) AS n_syms,
        |  floor(sum(term) * 10000 + 0.5) / 10000 AS entropy
        |FROM t GROUP BY 1""".stripMargin)),
    // F23: adjacent char pairs via 1-based string subscripts; rk <= 50
    // ≡ limit(50) because (n DESC, p) is a total order
    Gate("bpe_pairs", text.TextAnalysis.bpePairs _, Oracle(
      """WITH wds AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |pp AS (SELECT unnest(list_transform(range(1, length(w)),
        |    i -> w[i] || w[i+1])) AS p
        |  FROM wds WHERE length(w) >= 2),
        |c AS (SELECT p, count(*) AS n FROM pp GROUP BY 1
        |  HAVING count(*) >= 5),
        |r AS (SELECT row_number() OVER (ORDER BY n DESC, p) AS rk, p, n
        |  FROM c)
        |SELECT rk, p, n FROM r WHERE rk <= 50""".stripMargin)),
    // F33: the trainer replayed as 8 unrolled MATERIALIZED rounds over
    // the word-frequency table; encode = the learned replace chain
    Gate("bpe_merges", text.TextAnalysis.bpeMerges _, Oracle(bpeMergesSql)),
    Gate("bpe_encode", text.TextAnalysis.bpeEncode _, Oracle(bpeEncodeSql)),
    // F14: per-term BM25 contributions are quantized to the 2^-20
    // dyadic grid before the per-(query, doc) sum (order-independent,
    // the lm_score trick); ranking ties break on the zero-padded
    // doc-id string = TopKAgg's native (v desc, a asc) comparator
    Gate("bm25_topk", text.Bm25.topk _, Oracle(bm25Sql)),
    // F14b: the stored path must answer exactly like in-query postings
    Gate("bm25_stored", text.Bm25.storedTopk _, Oracle(bm25Sql)),
    Gate("source_cap", operators.Curation.sourceCap _, Oracle(
      """WITH r AS (SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents),
        |k AS (SELECT source, count(*) AS n_kept,
        |    CAST(sum(n_chars) AS BIGINT) AS kept_chars
        |  FROM r WHERE rk <= 5 GROUP BY 1),
        |d AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(kept_chars) AS BIGINT) AS tot FROM k)
        |SELECT d.source, d.n_docs, k.n_kept, k.kept_chars,
        |  floor(CAST(k.kept_chars AS DOUBLE) / t.tot * 10000 + 0.5) / 10000 AS share
        |FROM d JOIN k USING (source) CROSS JOIN t""".stripMargin)),
    // F15: the oracle replays the dual polynomial char-by-char (same
    // fold as dedup_simhash); prime modulus 31 mixes both packed
    // halves (2^31 ≡ 2 mod 31)
    Gate("shard_assign", operators.Curation.shardAssign _, Oracle(
      """WITH h AS (SELECT doc_id, source, n_chars,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(text, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 131 + x) % 1000000007) AS h1,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(text, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 137 + x) % 998244353) AS h2
        |  FROM documents)
        |SELECT CAST((h1 * 2147483648 + h2) % 31 AS INT) AS shard,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT source) AS n_sources
        |FROM h GROUP BY 1""".stripMargin)),
    // F21: per-source sqrt scores quantized to integers BEFORE the
    // normalization sum, so denom is an exact long and each weight is
    // one double multiply+divide of exact integers on both sides
    Gate("temperature_mix", operators.Curation.temperatureMix _, Oracle(
      """WITH p AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok_cnt
        |  FROM documents GROUP BY 1),
        |c AS (SELECT *, CAST(floor(sqrt(CAST(tok_cnt AS DOUBLE)) * 1e6 + 0.5)
        |    AS BIGINT) AS ci FROM p),
        |d AS (SELECT CAST(sum(ci) AS BIGINT) AS denom FROM c)
        |SELECT source, n_docs, tok_cnt,
        |  floor(CAST(ci AS DOUBLE) * 1e9 / CAST(denom AS DOUBLE) + 0.5) / 1e9
        |    AS weight,
        |  CAST(floor(CAST(ci AS DOUBLE) * 1e8 / CAST(denom AS DOUBLE))
        |    AS BIGINT) AS alloc_tok
        |FROM c CROSS JOIN d""".stripMargin)),
    Gate("freq_items", operators.Relational.freqItems _, Oracle(
      """WITH c AS (SELECT event_type AS typ,
        |    CAST(floor(value) AS BIGINT) AS bucket, count(*) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY typ
        |    ORDER BY n DESC, bucket) AS rk FROM c)
        |SELECT typ, rk, bucket, n FROM r WHERE rk <= 5""".stripMargin)),
    // G. multimodal — the corpus is pure ASCII (verified: octet_length
    // == length for every doc), so the byte-level stub features are
    // exactly reproducible from char codes in SQL.
    Gate("mm_pipeline", multimodal.Multimodal.pipeline _, Oracle(
      """WITH c AS (SELECT doc_id, length(text) AS len,
        |    list_transform(string_split_regex(text, ''), ch -> ascii(ch)) AS codes
        |  FROM documents)
        |SELECT doc_id, CAST(len AS BIGINT) AS n_bytes,
        |  floor(list_sum(codes) * 1.0 / len * 10000 + 0.5) / 10000 AS mean_byte,
        |  floor(list_sum(list_transform(codes,
        |      x -> CASE WHEN x <> 0 THEN 1 ELSE 0 END)) * 1.0 / len * 10000 + 0.5) / 10000
        |    AS nonzero_ratio,
        |  floor(list_sum(list_transform(codes,
        |      x -> CASE WHEN x % 4 = 0 THEN 1 ELSE 0 END)) * 1.0 / len * 10000 + 0.5) / 10000 AS f0,
        |  floor(list_sum(list_transform(codes,
        |      x -> CASE WHEN x % 4 = 1 THEN 1 ELSE 0 END)) * 1.0 / len * 10000 + 0.5) / 10000 AS f1
        |FROM c""".stripMargin)),
    Gate("mm_framesample", multimodal.Multimodal.frameSample _, Oracle(
      """WITH c AS (SELECT doc_id, length(text) AS len,
        |    list_transform(string_split_regex(text, ''), ch -> ascii(ch)) AS codes
        |  FROM documents),
        |s AS (SELECT doc_id, len, codes,
        |    CAST((len + 63)//64 AS INT) AS n_frames,
        |    list_sum(list_transform(range(1, len + 1),
        |      i -> CASE WHEN ((i-1)//64) % 4 = 0 THEN codes[i] ELSE 0 END)) AS samp_sum,
        |    list_sum(list_transform(range(1, len + 1),
        |      i -> CASE WHEN ((i-1)//64) % 4 = 0 THEN 1 ELSE 0 END)) AS samp_n
        |  FROM c)
        |SELECT doc_id, n_frames,
        |  CAST((n_frames + 3)//4 AS INT) AS n_sampled,
        |  floor(samp_sum * 1.0 / samp_n * 10000 + 0.5) / 10000 AS mean_sampled_byte
        |FROM s""".stripMargin)),
    Gate("mm_audio_windows", multimodal.Multimodal.audioFeatures _, Oracle(
      """WITH c AS (SELECT doc_id, length(text) AS len,
        |    list_transform(string_split_regex(text, ''), ch -> ascii(ch)) AS codes
        |  FROM documents),
        |w AS (SELECT doc_id, len, codes,
        |    CAST((len + 31)//32 AS INT) AS n_win FROM c),
        |e AS (SELECT doc_id, n_win, CAST(t.w_i AS INT) AS w_i,
        |    CAST(list_sum(list_transform(
        |      list_slice(codes, t.w_i*32 + 1, least((t.w_i+1)*32, len)),
        |      x -> x*x)) AS BIGINT) AS energy
        |  FROM w, UNNEST(range(w.n_win)) AS t(w_i)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY energy DESC, w_i) AS rk FROM e)
        |SELECT doc_id,
        |  CAST(max(n_win) AS INT) AS n_win,
        |  CAST(sum(energy) AS BIGINT) AS total_energy,
        |  CAST(max(CASE WHEN rk = 1 THEN w_i END) AS INT) AS peak_win,
        |  CAST(max(CASE WHEN rk = 1 THEN energy END) AS BIGINT) AS peak_energy
        |FROM r GROUP BY 1""".stripMargin)),
    // G8: 4x block-average decimation replayed from the char codes;
    // rate_ok is the Spark-side re-encode/re-decode header assertion
    Gate("mm_resample", multimodal.Multimodal.audioResample _, Oracle(
      """WITH c AS (SELECT doc_id, length(text) AS len,
        |    list_transform(string_split_regex(text, ''), ch -> ascii(ch)) AS codes
        |  FROM documents),
        |w AS (SELECT doc_id, len, codes,
        |    CAST((len + 3)//4 AS INT) AS n_out FROM c WHERE len > 0),
        |e AS (SELECT doc_id, n_out, t.b AS b,
        |    CAST(list_sum(list_slice(codes, t.b*4 + 1, least((t.b+1)*4, len)))
        |      // (least((t.b+1)*4, len) - t.b*4) AS BIGINT) AS m
        |  FROM w, UNNEST(range(w.n_out)) AS t(b))
        |SELECT doc_id, CAST(max(n_out) AS INT) AS n_out,
        |  CAST(sum(m) AS BIGINT) AS sum_out,
        |  CAST(max(m) AS BIGINT) AS peak_out,
        |  TRUE AS rate_ok
        |FROM e GROUP BY 1""".stripMargin)),
    // G4: every 50th payload truncated by one byte on BOTH sides (the
    // injection trick) — the corrupted docs must flag meta_ok = false
    // and shift their checksum; width metadata = (n_chars % 64) + 1
    Gate("mm_integrity", multimodal.Multimodal.integrity _, Oracle(
      """WITH c AS (SELECT doc_id, n_chars,
        |    CASE WHEN doc_id % 50 = 0 THEN substr(text, 1, length(text) - 1)
        |         ELSE text END AS t
        |  FROM documents),
        |h AS (SELECT doc_id, n_chars, t, length(t) AS n_bytes,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(t, ''),
        |        ch -> CAST(ascii(ch) AS BIGINT))),
        |      (a, x) -> (a * 131 + x) % 1000000007) AS checksum
        |  FROM c)
        |SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
        |  CASE WHEN n_bytes = 0 THEN 'empty'
        |       WHEN regexp_matches(substr(t, 1, 1), '[A-Za-z]') THEN 'text'
        |       WHEN regexp_matches(substr(t, 1, 1), '[0-9]') THEN 'digit'
        |       ELSE 'other' END AS kind,
        |  checksum,
        |  (n_bytes % 64) + 1 = (n_chars % 64) + 1 AS meta_ok
        |FROM h""".stripMargin)),
    Gate("mm_phash_dedup", multimodal.Multimodal.phashDedup _, Oracle(
      """WITH base AS (SELECT doc_id, text FROM documents),
        |tw AS (SELECT doc_id + 3000000 AS doc_id,
        |    substring(text, 1, greatest(length(text) - 2, 0)) || 'zz' AS text
        |  FROM base WHERE doc_id % 20 = 0),
        |allv AS (SELECT doc_id, text FROM base
        |         UNION ALL SELECT doc_id, text FROM tw),
        |f AS (SELECT doc_id,
        |    list_transform(string_split_regex(text, ''),
        |      ch -> CAST(ascii(ch) AS BIGINT)) AS ca,
        |    CAST(length(text) AS BIGINT) AS n
        |  FROM allv),
        |f2 AS (SELECT doc_id, ca, n,
        |    coalesce(list_sum(ca), 0) AS tot FROM f),
        |fp AS (SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(range(0, 60), j ->
        |      CASE WHEN coalesce(list_sum(list_slice(ca,
        |            CAST((j * n) // 60 + 1 AS INT),
        |            CAST(((j + 1) * n) // 60 AS INT))), 0) * n
        |          > tot * (((j + 1) * n) // 60 - (j * n) // 60)
        |        THEN CAST(1 AS BIGINT) << CAST(59 - j AS INT)
        |        ELSE 0 END)), 0) AS BIGINT) AS fp
        |  FROM f2)
        |SELECT a.doc_id AS ia, b.doc_id AS ib,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hd
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 5""".stripMargin)),
    // G6: nearest-neighbor 4x4 thumbnail of the w×h PGM raster —
    // pixel == ascii(char) (ASCII contract); integer index arithmetic
    // identical on both sides, output sums exact integers
    Gate("mm_resize", multimodal.Multimodal.resize _, Oracle(
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    CAST((doc_id % 29) + 2 AS INT) AS w
        |  FROM documents),
        |dd AS (SELECT doc_id, text, w, CAST(len // w AS INT) AS h
        |  FROM d WHERE len // w >= 1),
        |g AS (SELECT unnest(generate_series(0, 3)) AS i),
        |px AS (SELECT dd.doc_id, dd.w, dd.h, gi.i AS i, gj.i AS j,
        |    ascii(substr(dd.text,
        |      CAST(((gi.i * dd.h) // 4) * dd.w + (gj.i * dd.w) // 4 + 1 AS BIGINT),
        |      1)) AS p
        |  FROM dd CROSS JOIN g gi CROSS JOIN g gj)
        |SELECT doc_id, w, h,
        |  CAST(sum(p) AS BIGINT) AS out_sum,
        |  CAST(sum(p * (i * 4 + j + 1)) AS BIGINT) AS out_wsum
        |FROM px GROUP BY 1, 2, 3""".stripMargin)),
    // G7: the REAL JDK PNG codec round-trip is lossless, so features
    // over the decoded raster equal the ascii codes — the oracle gates
    // the whole encode→deflate→decode loop without reimplementing it
    Gate("mm_png", multimodal.Multimodal.pngRoundtrip _, Oracle(
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |    CAST((doc_id % 29) + 2 AS INT) AS w
        |  FROM documents),
        |dd AS (SELECT doc_id, text, w, CAST(len // w AS INT) AS h
        |  FROM d WHERE len // w >= 1),
        |px AS (SELECT doc_id, w, h,
        |    list_transform(range(1, w*h + 1),
        |      i -> ascii(substr(text, CAST(i AS BIGINT), 1))) AS ps
        |  FROM dd)
        |SELECT doc_id, w, h, CAST(w AS BIGINT) * h AS n_px,
        |  CAST(list_sum(ps) AS BIGINT) AS px_sum,
        |  CAST(len(list_filter(ps, p -> p <> 0)) AS BIGINT) AS n_nonzero
        |FROM px""".stripMargin)),
    // G5: blockhash sign test is the exact integer cross-product
    // blocksum*n > tot*blocklen — no FP surface; ascii(ch) = payload
    // byte under the mediaTable ASCII contract; the oracle's
    // exhaustive hd<=5 self-join equals the Spark side's 6x10-bit
    // chunk-blocked join by the pigeonhole bound
    // G9: pair assembly — phash keep-first dedup (the G5 fingerprint
    // replayed bit-for-bit) + ≥30-word caption floor + shard-local
    // wraparound negatives within bucket doc_id%16
    Gate("mm_pairs", multimodal.Multimodal.pairAssembly _, Oracle(
      """WITH base AS (SELECT doc_id, text FROM documents),
        |tw AS (SELECT doc_id + 3000000 AS doc_id,
        |    substring(text, 1, greatest(length(text) - 2, 0)) || 'zz' AS text
        |  FROM base WHERE doc_id % 20 = 0),
        |allv AS (SELECT doc_id, text FROM base
        |         UNION ALL SELECT doc_id, text FROM tw),
        |f AS (SELECT doc_id,
        |    list_transform(string_split_regex(text, ''),
        |      ch -> CAST(ascii(ch) AS BIGINT)) AS ca,
        |    CAST(length(text) AS BIGINT) AS n
        |  FROM allv),
        |f2 AS (SELECT doc_id, ca, n,
        |    coalesce(list_sum(ca), 0) AS tot FROM f),
        |fp AS (SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(range(0, 60), j ->
        |      CASE WHEN coalesce(list_sum(list_slice(ca,
        |            CAST((j * n) // 60 + 1 AS INT),
        |            CAST(((j + 1) * n) // 60 AS INT))), 0) * n
        |          > tot * (((j + 1) * n) // 60 - (j * n) // 60)
        |        THEN CAST(1 AS BIGINT) << CAST(59 - j AS INT)
        |        ELSE 0 END)), 0) AS BIGINT) AS fp
        |  FROM f2),
        |removed AS (SELECT DISTINCT b.doc_id FROM fp a JOIN fp b
        |  ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.fp, b.fp)) <= 5),
        |kept AS (SELECT doc_id, text,
        |    len(string_split(text, ' ')) AS n_words FROM allv
        |  WHERE doc_id NOT IN (SELECT doc_id FROM removed)
        |    AND len(string_split(text, ' ')) >= 30)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(length(text) % 64 + 1 AS BIGINT) AS img_w,
        |  CAST(length(text) % 48 + 1 AS BIGINT) AS img_h,
        |  coalesce(lead(doc_id) OVER (PARTITION BY doc_id % 16
        |      ORDER BY doc_id),
        |    min(doc_id) OVER (PARTITION BY doc_id % 16)) AS neg_doc
        |FROM kept""".stripMargin)),
    // A (SQL surface). The index TVFs driven from PURE SQL — the whole
    // query below is a spark.sql string; the TVF resolves to the same
    // logical plan the Scala builders produce (IndexSql.scala).
    // Their oracles: the same semantics as the builder-API siblings.
    Gate("sql_match_conj", ((s: SparkSession, dir: String) => {
      index.IndexSql.register(s)
      s.sql(s"""SELECT usr, typ FROM graft_match('$dir',
               |  'typ="purchase", usr>="10", usr!="12"')""".stripMargin)
    }), Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr, event_type AS typ
        |FROM events
        |WHERE event_type = 'purchase' AND CAST(user_id AS VARCHAR) >= '10'
        |  AND CAST(user_id AS VARCHAR) <> '12'""".stripMargin)),
    Gate("sql_select_range", ((s: SparkSession, dir: String) => {
      index.IndexSql.register(s)
      s.sql(s"""SELECT event_id, usr, typ, unix_timestamp(ts) AS ts_sec,
               |  round(value, 2) AS value
               |FROM graft_select('$dir', 'typ="purchase"',
               |  '2024-01-10 00:00:00', '2024-01-12 00:00:00')""".stripMargin)
    }), Oracle(
      """SELECT event_id, CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  epoch_us(ts)//1000000 AS ts_sec, round(value, 2) AS value
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-12 00:00:00'""".stripMargin)),
    Gate("sql_label_values", ((s: SparkSession, dir: String) => {
      index.IndexSql.register(s)
      s.sql(s"""SELECT value FROM graft_label_values('$dir', 'usr',
               |  'typ="purchase", usr>="10"')""".stripMargin)
    }), Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS value FROM events
        |WHERE event_type = 'purchase'
        |  AND CAST(user_id AS VARCHAR) >= '10'""".stripMargin)),
    // B (PromQL surface). The reference's actual client language
    // (adapters/prom) parsed + evaluated as one Catalyst plan
    // (promql/PromQl.scala). promql_instant runs through the SQL TVF to
    // pin the full SQL→PromQL→plan path; the rest use the Scala entry.
    // Their oracles restate the evaluator semantics in SQL:
    // closed [T-range, T] windows, ordered (ts, event_id) folds,
    // counter increase = Σ max(Δ,0) + post-reset value, rate over ≥2
    // samples, ties in topk broken by label
    Gate("promql_instant", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      index.IndexSql.register(s)
      s.sql(s"""SELECT usr, typ, round(value, 2) AS value
               |FROM graft_promql('$dir', '{typ=~".*"}',
               |  '2024-01-31 00:00:00')""".stripMargin)
    }), Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  round(value, 2) AS value
        |FROM (SELECT user_id, event_type, value,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events
        |      WHERE ts >= TIMESTAMP '2024-01-30 00:00:00'
        |        AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |WHERE rn = 1""".stripMargin)),
    Gate("promql_rate_sum", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """sum by (typ) (rate({typ=~"(click|view|purchase)"}[7d])) * 3600""",
        "2024-01-31 00:00:00")
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH w AS (
        |  SELECT user_id, event_type, value,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) AS prev
        |  FROM events
        |  WHERE regexp_full_match(event_type, '(click|view|purchase)')
        |    AND ts >= TIMESTAMP '2024-01-24 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'),
        |inc AS (
        |  SELECT user_id, event_type,
        |    sum(CASE WHEN prev IS NULL THEN 0
        |             WHEN value - prev >= 0 THEN value - prev
        |             ELSE value END) AS iv,
        |    count(*) AS n
        |  FROM w GROUP BY 1, 2)
        |SELECT event_type AS typ,
        |  floor(sum(iv / 604800.0) * 3600 * 10000 + 0.5) / 10000 AS value
        |FROM inc WHERE n >= 2 GROUP BY 1""".stripMargin)),
    // B58: Prometheus's REAL rate()/increase() — boundary
    // extrapolation (B39's pinned algebra) as a parser-level opt-in
    // via graft.promql.extrapolate; closes the #1 conformance
    // divergence for migrating users (the default stays raw
    // ordered-delta, the documented graft form)
    // B58: the extrapolated-increase window replayed with the same
    // algebra and operation order (zero-point cap via least() BEFORE
    // the 1.1×avg-interval threshold pick — the B39 discipline); all
    // inputs are exact (µs integers, raw counter deltas), so both
    // engines produce identical doubles before the 1e-4 quantization
    Gate("promql_rate_extrap", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      Fixture.withConfs(s, "graft.promql.extrapolate" -> "true")(
        promql.PromQl.eval(s, dir,
          """increase({typ="click"}[1d])""", "2024-01-08 00:00:00")
          .select(col("usr"), col("typ"),
            (floor(col("value") * 1e4 + 0.5) / 1e4).as("inc_x")))
    }), Oracle(
      """WITH w AS (SELECT e.user_id, e.value, epoch_us(e.ts) AS us,
        |    e.event_id
        |  FROM events e
        |  WHERE e.event_type = 'click'
        |    AND epoch_us(e.ts) >= 1704585600000000
        |    AND epoch_us(e.ts) <= 1704672000000000),
        |d AS (SELECT user_id, value, us, event_id,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS prev
        |  FROM w),
        |a AS (SELECT user_id,
        |    sum(CASE WHEN prev IS NULL THEN 0
        |             WHEN value - prev >= 0 THEN value - prev
        |             ELSE value END) AS inc,
        |    count(*) AS n, min(us) AS umin, max(us) AS umax,
        |    first(value ORDER BY us, event_id) AS fv
        |  FROM d GROUP BY 1
        |  HAVING count(*) >= 2 AND max(us) > min(us)),
        |x AS (SELECT user_id, inc, n, fv,
        |    (umax - umin) / 1e6 AS sampled,
        |    umin / 1e6 - 1704585600 AS ds0,
        |    1704672000 - umax / 1e6 AS de
        |  FROM a),
        |y AS (SELECT user_id, inc, sampled, de,
        |    sampled / (n - 1) AS avgiv,
        |    (sampled / (n - 1)) * 1.1 AS thresh,
        |    CASE WHEN inc > 0 AND fv >= 0
        |         THEN least(ds0, sampled * (fv / inc)) ELSE ds0 END AS ds
        |  FROM x)
        |SELECT CAST(user_id AS VARCHAR) AS usr, 'click' AS typ,
        |  floor(inc * ((sampled
        |    + (CASE WHEN ds < thresh THEN ds ELSE avgiv / 2 END)
        |    + (CASE WHEN de < thresh THEN de ELSE avgiv / 2 END))
        |    / sampled) * 1e4 + 0.5) / 1e4 AS inc_x
        |FROM y""".stripMargin)),
    Gate("promql_over_time", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """max_over_time({usr<="3"}[30d])""", "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"), round(col("value"), 2).as("value"))
    }), Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  round(max(value), 2) AS value
        |FROM events
        |WHERE CAST(user_id AS VARCHAR) <= '3'
        |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1, 2""".stripMargin)),
    Gate("promql_topk", ((s: SparkSession, dir: String) => {
      promql.PromQl.eval(s, dir,
        """topk(5, sum by (usr) (count_over_time({typ=~".*"}[30d])))""",
        "2024-01-31 00:00:00")
    }), Oracle(
      """SELECT usr, value FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr,
        |    CAST(count(*) AS DOUBLE) AS value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1)
        |ORDER BY value DESC, usr ASC LIMIT 5""".stripMargin)),
    Gate("promql_binop", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """sum by (usr) (increase({typ="purchase"}[30d]))
          | / sum by (usr) (count_over_time({typ="purchase"}[30d]))""".stripMargin,
        "2024-01-31 00:00:00")
        .select(col("usr"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH w AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, value,
        |    lag(value) OVER (PARTITION BY user_id
        |                     ORDER BY ts, event_id) AS prev
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'),
        |inc AS (
        |  SELECT usr,
        |    sum(CASE WHEN prev IS NULL THEN 0
        |             WHEN value - prev >= 0 THEN value - prev
        |             ELSE value END) AS iv,
        |    count(*) AS n
        |  FROM w GROUP BY 1),
        |cnt AS (SELECT usr, CAST(count(*) AS DOUBLE) AS cv FROM w GROUP BY 1)
        |SELECT i.usr AS usr,
        |  floor(i.iv / c.cv * 10000 + 0.5) / 10000 AS value
        |FROM inc i JOIN cnt c ON i.usr = c.usr WHERE i.n >= 2""".stripMargin)),
    // B49: alerting-rule evaluation (pending/firing with `for` duration)
    // B49: alert grid restated in SQL — presence under the condition,
    // gaps-and-islands for the `for` duration (consecutive presence ⇔
    // i − row_number constant); 1704240000 = 2024-01-03 00:00:00 UTC
    Gate("promql_alerts", ((s: SparkSession, dir: String) => {
      promql.Rules.alerts(index.TagIndex.forEvents(s, dir),
        """sum by (usr) (count_over_time({typ="purchase"}[2d])) > 2""",
        "2024-01-03 00:00:00", "2024-01-31 00:00:00",
        stepSec = 86400L, forSec = 172800L, alertName = "HighPurchaseVolume")
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 28)) AS i),
        |w AS (
        |  SELECT CAST(e.user_id AS VARCHAR) AS usr, g.i
        |  FROM events e, g
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) >= 1704240000000000 + g.i*86400000000 - 172800000000
        |    AND epoch_us(e.ts) <= 1704240000000000 + g.i*86400000000),
        |c AS (SELECT usr, i, count(*) AS cnt FROM w GROUP BY 1, 2),
        |f AS (SELECT usr, i FROM c WHERE cnt > 2),
        |r AS (SELECT usr, i,
        |    i - row_number() OVER (PARTITION BY usr ORDER BY i) AS isl FROM f),
        |a AS (SELECT usr, i, min(i) OVER (PARTITION BY usr, isl) AS since FROM r)
        |SELECT 'HighPurchaseVolume' AS alertname, usr,
        |  1704240000 + i * 86400 AS t_sec,
        |  CASE WHEN (i - since) * 86400 >= 172800
        |       THEN 'firing' ELSE 'pending' END AS alertstate
        |FROM a""".stripMargin)),
    // B63: keep_firing_for — same rule, but once firing the
    // alert survives condition dropouts ≤ 2d (synthetic firing rows at
    // absent steps, chained episodes stay firing, trailing windows cap
    // at the grid end)
    // B63: keep_firing_for = 2d on the same rule — islands
    // chain when the gap never reaches a resolving evaluation
    // (s − prev_e < keep + 2·step ⇔ < 4 steps), chained islands and
    // their leading gaps fire throughout, fresh episodes stay
    // pending→firing, trailing keep windows extend ≤ 2 steps capped
    // at the grid end; all in step units (step = 1d)
    Gate("promql_alerts_keep", ((s: SparkSession, dir: String) => {
      promql.Rules.alerts(index.TagIndex.forEvents(s, dir),
        """sum by (usr) (count_over_time({typ="purchase"}[2d])) > 2""",
        "2024-01-03 00:00:00", "2024-01-31 00:00:00",
        stepSec = 86400L, forSec = 172800L,
        alertName = "HighPurchaseVolumeKeep", keepFiringSec = 172800L)
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 28)) AS i),
        |w AS (
        |  SELECT CAST(e.user_id AS VARCHAR) AS usr, g.i
        |  FROM events e, g
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) >= 1704240000000000 + g.i*86400000000 - 172800000000
        |    AND epoch_us(e.ts) <= 1704240000000000 + g.i*86400000000),
        |c AS (SELECT usr, i, count(*) AS cnt FROM w GROUP BY 1, 2),
        |f AS (SELECT usr, i FROM c WHERE cnt > 2),
        |r AS (SELECT usr, i,
        |    i - row_number() OVER (PARTITION BY usr ORDER BY i) AS isl FROM f),
        |isle AS (SELECT usr, isl, min(i) AS s, max(i) AS e
        |  FROM r GROUP BY 1, 2),
        |sg AS (SELECT usr, s, e,
        |    lag(e) OVER (PARTITION BY usr ORDER BY s) AS pe,
        |    CASE WHEN lag(e) OVER (PARTITION BY usr ORDER BY s) IS NULL
        |          OR s - lag(e) OVER (PARTITION BY usr ORDER BY s) >= 4
        |         THEN 1 ELSE 0 END AS brk
        |  FROM isle),
        |sg2 AS (SELECT *, sum(brk) OVER (PARTITION BY usr ORDER BY s)
        |    AS seg FROM sg),
        |mk AS (SELECT usr, s, e, pe, seg,
        |    CASE WHEN e - s >= 2 THEN 1 ELSE 0 END AS selff,
        |    coalesce(max(CASE WHEN e - s >= 2 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY usr, seg ORDER BY s
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS fb,
        |    CASE WHEN lead(s) OVER (PARTITION BY usr, seg ORDER BY s)
        |           IS NULL THEN 1 ELSE 0 END AS lst
        |  FROM sg2),
        |pres AS (SELECT usr, unnest(generate_series(s, e)) AS i, s, fb
        |  FROM mk),
        |pres2 AS (SELECT usr, i,
        |    CASE WHEN fb = 1 OR i - s >= 2
        |         THEN 'firing' ELSE 'pending' END AS st
        |  FROM pres),
        |gaps AS (SELECT usr, unnest(generate_series(pe + 1, s - 1)) AS i,
        |    'firing' AS st
        |  FROM mk WHERE fb = 1 AND pe IS NOT NULL),
        |trail AS (SELECT usr,
        |    unnest(generate_series(e + 1, least(e + 2, 28))) AS i,
        |    'firing' AS st
        |  FROM mk WHERE lst = 1 AND (fb = 1 OR selff = 1)),
        |al AS (SELECT usr, i, st FROM pres2
        |  UNION ALL SELECT usr, i, st FROM gaps
        |  UNION ALL SELECT usr, i, st FROM trail)
        |SELECT 'HighPurchaseVolumeKeep' AS alertname, usr,
        |  1704240000 + i * 86400 AS t_sec, st AS alertstate
        |FROM al""".stripMargin)),
    // B51: info() — data labels joined from an info metric evaluated
    // AT the query timestamp (as-of), Prometheus 3.x semantics
    // B51: info() — the vector plus the as-of data label (newest
    // info sample ≤ T per usr, event_id tie-break)
    Gate("promql_info", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      val raw = Tables.eventsRaw(s, dir)
      val info = raw.select(
        col("event_id"), Tables.tsCol(raw).as("ts"),
        col("user_id").cast("string").as("usr"),
        pmod(get_json_object(col("props"), "$.k").cast("long"), lit(10))
          .cast("string").as("kb"))
      promql.Rules.infoJoin(index.TagIndex.forEvents(s, dir),
        """sum by (usr) (count_over_time({typ="purchase"}[30d]))""",
        "2024-01-31 00:00:00", info, Seq("usr"), Seq("kb"))
    }), Oracle(
      """WITH v AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr,
        |    CAST(count(*) AS DOUBLE) AS value
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1),
        |li AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr,
        |    CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
        |      AS VARCHAR) AS kb,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts <= TIMESTAMP '2024-01-31 00:00:00'),
        |i AS (SELECT usr, kb FROM li WHERE rn = 1)
        |SELECT v.usr, i.kb, v.value FROM v LEFT JOIN i USING (usr)""".stripMargin)),
    // B50: recording rule — evaluated vector re-ingested as a
    // first-class series (store-resolved), then queried via PromQL
    // B50: the recording rule's daily grid replayed directly from the
    // source events, then the follow-up query (max per usr) on top —
    // what the gate proves is eval → store write → read-back ≡ direct
    Gate("promql_record", ((s: SparkSession, dir: String) => {
      val ri = promql.Rules.recordedIndex(s, dir, "usr_purchase_count_1d",
        """sum by (usr) (count_over_time({typ="purchase"}[1d]))""",
        "2024-01-01 00:00:00", "2024-01-30 00:00:00", 86400L)
      promql.PromQl.evalIndexed(ri,
        """max_over_time({typ="usr_purchase_count_1d"}[30d])""",
        "2024-01-30 00:00:00")
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 29)) AS i),
        |w AS (
        |  SELECT CAST(e.user_id AS VARCHAR) AS usr, g.i
        |  FROM events e, g
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) >= 1704067200000000 + g.i*86400000000 - 86400000000
        |    AND epoch_us(e.ts) <= 1704067200000000 + g.i*86400000000),
        |c AS (SELECT usr, i, count(*) AS cnt FROM w GROUP BY 1, 2)
        |SELECT usr, 'usr_purchase_count_1d' AS typ,
        |  CAST(max(cnt) AS DOUBLE) AS value
        |FROM c GROUP BY usr""".stripMargin)),
    // B56: ordered rule-group evaluation — rule 2 reads rule 1's
    // recorded metric, the alert fires on rule 2's series (Prometheus
    // rules/group.go intra-group sequencing); the oracle replays the
    // whole three-stage chain from raw events
    // B56: the whole ordered group chain replayed from raw events —
    // daily purchase counts (rule 1), the 3d trailing average over the
    // RECORDED daily series incl. gaps (rule 2: a grid point with no
    // rule-1 sample at i still averages the j in [i-3, i] that exist),
    // then the for-duration islands on rule 2's values (the alert);
    // avg of ≤4 exact counts + one division is bit-deterministic
    Gate("promql_rule_group", ((s: SparkSession, dir: String) => {
      promql.Rules.evalGroup(s, dir, "purchase_health",
        Seq(
          promql.Rules.Record("usr_purchase_1d",
            """sum by (usr) (count_over_time({typ="purchase"}[1d]))"""),
          promql.Rules.Record("usr_purchase_avg3",
            """avg_over_time({typ="usr_purchase_1d"}[3d])"""),
          promql.Rules.Alert("SustainedPurchases",
            """{typ="usr_purchase_avg3"} > 2""", 172800L)),
        "2024-01-04 00:00:00", "2024-01-30 00:00:00", 86400L)
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 26)) AS i),
        |p AS (
        |  SELECT CAST(e.user_id AS VARCHAR) AS usr, g.i
        |  FROM events e, g
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) >= 1704326400000000 + g.i*86400000000 - 86400000000
        |    AND epoch_us(e.ts) <= 1704326400000000 + g.i*86400000000),
        |r1 AS (SELECT usr, i, CAST(count(*) AS DOUBLE) AS v
        |  FROM p GROUP BY 1, 2),
        |r2 AS (SELECT u.usr, gg.i, avg(b.v) AS av
        |  FROM (SELECT DISTINCT usr FROM r1) u
        |  CROSS JOIN g gg
        |  JOIN r1 b ON b.usr = u.usr AND b.i BETWEEN gg.i - 3 AND gg.i
        |  GROUP BY 1, 2),
        |f AS (SELECT usr, i FROM r2 WHERE av > 2),
        |r AS (SELECT usr, i,
        |    i - row_number() OVER (PARTITION BY usr ORDER BY i) AS isl FROM f),
        |a AS (SELECT usr, i, min(i) OVER (PARTITION BY usr, isl) AS since FROM r)
        |SELECT 'SustainedPurchases' AS alertname, usr,
        |  'usr_purchase_avg3' AS typ,
        |  1704326400 + i * 86400 AS t_sec,
        |  CASE WHEN (i - since) * 86400 >= 172800
        |       THEN 'firing' ELSE 'pending' END AS alertstate
        |FROM a""".stripMargin)),
    // B57: rule-group `interval:` + `limit:` — the grid
    // step comes from the Group definition and the alert rule's
    // per-evaluation series cap DISCARDS any step producing more than
    // `limit` alerts (breaking the for-duration island there, the
    // Prometheus unhealthy-eval semantics). The chain is scale-free:
    // usr is rewritten to its last digit (label_replace), so the
    // recorded share series is ≤10 per step at any SF and the limit
    // does real work at both gated scale factors.
    // rule-group `query_offset:` — the whole group evaluates
    // (and stamps) 12h into the past, the remote-write-lag guard from
    // rules/group.go; the oracle replays the SHIFTED grid from raw
    // events, so both the windows and the emitted timestamps prove
    // the shift
    // B57: the limit-capped group replayed from raw events — per-day
    // purchase counts by LAST DIGIT of usr (rule 1), each digit's
    // share of the day (rule 2: one exact IEEE division of integer
    // counts), the >0.11 alert set capped at 3 series per step (steps
    // over the cap are discarded entirely, resetting the islands),
    // then the for-duration islands on the survivors
    // the offset group replayed on the SHIFTED grid (base
    // 1704326400 - 43200 = 1704283200): same windows, same islands,
    // timestamps carry the offset
    Gate("promql_rule_offset", ((s: SparkSession, dir: String) => {
      promql.Rules.evalGroupDef(s, dir,
        promql.Rules.Group("purchase_health_offset", 86400L, Seq(
          promql.Rules.Record("usr_purchase_1d_off",
            """sum by (usr) (count_over_time({typ="purchase"}[1d]))"""),
          promql.Rules.Alert("SustainedPurchasesOff",
            """{typ="usr_purchase_1d_off"} > 2""", 172800L)),
          queryOffsetSec = 43200L),
        "2024-01-04 00:00:00", "2024-01-30 00:00:00")
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 26)) AS i),
        |p AS (
        |  SELECT CAST(e.user_id AS VARCHAR) AS usr, g.i
        |  FROM events e, g
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) >= 1704283200000000 + g.i*86400000000 - 86400000000
        |    AND epoch_us(e.ts) <= 1704283200000000 + g.i*86400000000),
        |r1 AS (SELECT usr, i, CAST(count(*) AS DOUBLE) AS v
        |  FROM p GROUP BY 1, 2),
        |f AS (SELECT usr, i FROM r1 WHERE v > 2),
        |r AS (SELECT usr, i,
        |    i - row_number() OVER (PARTITION BY usr ORDER BY i) AS isl FROM f),
        |a AS (SELECT usr, i, min(i) OVER (PARTITION BY usr, isl) AS since FROM r)
        |SELECT 'SustainedPurchasesOff' AS alertname, usr,
        |  'usr_purchase_1d_off' AS typ,
        |  1704283200 + i * 86400 AS t_sec,
        |  CASE WHEN (i - since) * 86400 >= 172800
        |       THEN 'firing' ELSE 'pending' END AS alertstate
        |FROM a""".stripMargin)),
    Gate("promql_rule_limit", ((s: SparkSession, dir: String) => {
      promql.Rules.evalGroupDef(s, dir,
        promql.Rules.Group("digit_share", 86400L, Seq(
          promql.Rules.Record("digit_purchase_1d",
            """sum by (usr) (label_replace(count_over_time({typ="purchase"}[1d]), "usr", "$1", "usr", ".*(.)"))"""),
          promql.Rules.Record("digit_share_1d",
            """{typ="digit_purchase_1d"} / on() group_left sum({typ="digit_purchase_1d"})"""),
          promql.Rules.Alert("HotDigit",
            """{typ="digit_share_1d"} > 0.11""", 172800L, limit = 3L))),
        "2024-01-04 00:00:00", "2024-01-30 00:00:00", lookbackSec = 3600L)
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 26)) AS i),
        |p AS (
        |  SELECT substr(CAST(e.user_id AS VARCHAR),
        |                length(CAST(e.user_id AS VARCHAR)), 1) AS usr, g.i
        |  FROM events e, g
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) >= 1704326400000000 + g.i*86400000000 - 86400000000
        |    AND epoch_us(e.ts) <= 1704326400000000 + g.i*86400000000),
        |r1 AS (SELECT usr, i, CAST(count(*) AS DOUBLE) AS v
        |  FROM p GROUP BY 1, 2),
        |tot AS (SELECT i, sum(v) AS tv FROM r1 GROUP BY i),
        |r2 AS (SELECT r1.usr, r1.i, r1.v / tot.tv AS share
        |  FROM r1 JOIN tot USING (i)),
        |f0 AS (SELECT usr, i FROM r2 WHERE share > 0.11),
        |cap AS (SELECT i, count(*) AS n FROM f0 GROUP BY i),
        |f AS (SELECT f0.usr, f0.i FROM f0 JOIN cap USING (i) WHERE cap.n <= 3),
        |r AS (SELECT usr, i,
        |    i - row_number() OVER (PARTITION BY usr ORDER BY i) AS isl FROM f),
        |a AS (SELECT usr, i, min(i) OVER (PARTITION BY usr, isl) AS since FROM r)
        |SELECT 'HotDigit' AS alertname, usr, 'digit_share_1d' AS typ,
        |  1704326400 + i * 86400 AS t_sec,
        |  CASE WHEN (i - since) * 86400 >= 172800
        |       THEN 'firing' ELSE 'pending' END AS alertstate
        |FROM a""".stripMargin)),
    // range-query oracles: the 7-point daily grid restated with epoch
    // arithmetic (1704672000 = 2024-01-08 00:00:00 UTC); closed
    // [T_i-range, T_i] windows, per-window ordered deltas
    Gate("promql_range_rate", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.evalRange(s, dir, """rate({typ="click"}[1d]) * 3600""",
        "2024-01-08 00:00:00", "2024-01-14 00:00:00", 86400L)
        .select(col("usr"), col("typ"), col("t_sec"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 6)) AS i),
        |w AS (
        |  SELECT e.user_id, e.value, e.ts, e.event_id, g.i
        |  FROM events e, g
        |  WHERE e.event_type = 'click'
        |    AND epoch_us(e.ts) >= 1704672000000000 + g.i*86400000000 - 86400000000
        |    AND epoch_us(e.ts) <= 1704672000000000 + g.i*86400000000),
        |d AS (
        |  SELECT user_id, i, value,
        |    lag(value) OVER (PARTITION BY user_id, i ORDER BY ts, event_id) AS prev
        |  FROM w),
        |inc AS (
        |  SELECT user_id, i,
        |    sum(CASE WHEN prev IS NULL THEN 0
        |             WHEN value - prev >= 0 THEN value - prev
        |             ELSE value END) AS iv,
        |    count(*) AS n
        |  FROM d GROUP BY 1, 2)
        |SELECT CAST(user_id AS VARCHAR) AS usr, 'click' AS typ,
        |  1704672000 + i * 86400 AS t_sec,
        |  floor(iv / 86400.0 * 3600 * 10000 + 0.5) / 10000 AS value
        |FROM inc WHERE n >= 2""".stripMargin)),
    Gate("promql_range_agg", ((s: SparkSession, dir: String) => {
      index.IndexSql.register(s)
      s.sql(s"""SELECT typ, t_sec, value FROM graft_promql_range('$dir',
               |  'sum by (typ) (count_over_time({typ=~".*"}[2d]))',
               |  '2024-01-08 00:00:00', '2024-01-14 00:00:00', '86400')""".stripMargin)
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 6)) AS i),
        |w AS (
        |  SELECT e.event_type, g.i
        |  FROM events e, g
        |  WHERE epoch_us(e.ts) >= 1704672000000000 + g.i*86400000000 - 172800000000
        |    AND epoch_us(e.ts) <= 1704672000000000 + g.i*86400000000)
        |SELECT event_type AS typ, 1704672000 + i * 86400 AS t_sec,
        |  CAST(count(*) AS DOUBLE) AS value
        |FROM w GROUP BY 1, 2""".stripMargin)),
    Gate("promql_quantile", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """quantile_over_time(0.9, {typ="view"}[30d])""", "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  floor(quantile_cont(value, 0.9) * 10000 + 0.5) / 10000 AS value
        |FROM events
        |WHERE event_type = 'view'
        |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1, 2""".stripMargin)),
    Gate("promql_filter", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """max_over_time({usr<="3"}[30d]) > 50""", "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"), round(col("value"), 2).as("value"))
    }), Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  round(max(value), 2) AS value
        |FROM events
        |WHERE CAST(user_id AS VARCHAR) <= '3'
        |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1, 2
        |HAVING max(value) > 50""".stripMargin)),
    // absent() carries the selector's equality-matcher labels
    // (Prometheus createLabelsForAbsentFunction)
    Gate("promql_absent", ((s: SparkSession, dir: String) =>
      promql.PromQl.eval(s, dir,
        """absent({typ="nonexistent"})""", "2024-01-31 00:00:00")), Oracle(
      """SELECT 'nonexistent' AS typ, CAST(1 AS DOUBLE) AS value
        |WHERE NOT EXISTS (SELECT 1 FROM events
        |  WHERE event_type = 'nonexistent'
        |    AND ts >= TIMESTAMP '2024-01-30 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00')""".stripMargin)),
    Gate("sql_series", ((s: SparkSession, dir: String) => {
      index.IndexSql.register(s)
      s.sql(s"SELECT * FROM graft_series('$dir')")
    }), Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  epoch_us(min(ts))//1000000 AS first_ts,
        |  epoch_us(max(ts))//1000000 AS last_ts,
        |  count(*) AS n_samples
        |FROM events GROUP BY 1, 2""".stripMargin)),
    Gate("promql_metric_name", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // metric-name sugar: `purchase{usr>="10", usr!="12"}` desugars to
      // the A7 conjunction
      promql.PromQl.eval(s, dir,
        """purchase{usr>="10", usr!="12"}""", "2024-01-31 00:00:00", 86400L * 31)
        .select(col("usr"), col("typ"), round(col("value"), 2).as("value"))
    }), Oracle(
      """SELECT usr, typ, value FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    round(value, 2) AS value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND CAST(user_id AS VARCHAR) >= '10'
        |    AND CAST(user_id AS VARCHAR) <> '12'
        |    AND ts >= TIMESTAMP '2023-12-31 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |WHERE rn = 1""".stripMargin)),
    // subquery: inner daily-count grid (8 points, window-start aligned,
    // 1706054400 = 2024-01-24 00:00:00 UTC), outer max per typ
    Gate("promql_subquery", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // B22 pairing: peak daily event count per type over the last week
      promql.PromQl.eval(s, dir,
        """max_over_time(sum by (typ) (count_over_time({typ=~".*"}[1d]))[7d:1d])""",
        "2024-01-31 00:00:00")
        .select(col("typ"), col("value"))
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 7)) AS i),
        |c AS (
        |  SELECT e.event_type AS typ, g.i, count(*) AS n
        |  FROM events e, g
        |  WHERE epoch_us(e.ts) >= 1706054400000000 + g.i*86400000000 - 86400000000
        |    AND epoch_us(e.ts) <= 1706054400000000 + g.i*86400000000
        |  GROUP BY 1, 2)
        |SELECT typ, CAST(max(n) AS DOUBLE) AS value FROM c GROUP BY 1""".stripMargin)),
    Gate("promql_label_join", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """label_join(last_over_time({typ=~".*"}[1d]), "series", "-", "usr", "typ")""",
        "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"), col("series"),
          round(col("value"), 2).as("value"))
    }), Oracle(
      """SELECT usr, typ, usr || '-' || typ AS series, value FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    round(value, 2) AS value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-30 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |WHERE rn = 1""".stripMargin)),
    Gate("promql_label_replace", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """label_replace(last_over_time({typ="click"}[1d]), "ub", "$1", "usr", "(.)[0-9]*")""",
        "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"), col("ub"),
          round(col("value"), 2).as("value"))
    }), Oracle(
      """SELECT usr, typ, substring(usr, 1, 1) AS ub, value FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    round(value, 2) AS value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-30 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |WHERE rn = 1""".stripMargin)),
    // set algebra: the and/unless operands share the series (usr, typ)
    // and the 30d window, so membership reduces to the usr predicates
    Gate("promql_setop", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // B26 pairing: click series restricted to usr<=3, minus usr=2 —
      // and/unless as label-identity semi/anti joins
      promql.PromQl.eval(s, dir,
        """last_over_time({typ="click"}[30d])
          | and last_over_time({usr<="3"}[30d])
          | unless last_over_time({usr="2"}[30d])""".stripMargin,
        "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"), round(col("value"), 2).as("value"))
    }), Oracle(
      """SELECT usr, typ, value FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    round(value, 2) AS value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |WHERE rn = 1 AND usr <= '3' AND usr <> '2'""".stripMargin)),
    Gate("promql_groupleft", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // B23 pairing: each (usr, typ)'s share of its user's events —
      // many side keeps typ through on(usr) group_left
      promql.PromQl.eval(s, dir,
        """sum by (usr, typ) (count_over_time({typ=~".*"}[30d]))
          | / on(usr) group_left sum by (usr) (count_over_time({typ=~".*"}[30d]))""".stripMargin,
        "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"),
          (floor(col("value") * 1e6 + 0.5) / 1e6).as("value"))
    }), Oracle(
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    count(*) AS n
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1, 2),
        |u AS (SELECT usr, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.usr AS usr, c.typ AS typ,
        |  floor(CAST(c.n AS DOUBLE) / CAST(u.tot AS DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS value
        |FROM c JOIN u ON c.usr = u.usr""".stripMargin)),
    Gate("promql_groupright", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // group_right: the many side on the RIGHT keeps typ — the inverse
      // share (user total per type count)
      promql.PromQl.eval(s, dir,
        """sum by (usr) (count_over_time({typ=~".*"}[30d]))
          | / on(usr) group_right sum by (usr, typ) (count_over_time({typ=~".*"}[30d]))""".stripMargin,
        "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    count(*) AS n
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1, 2),
        |u AS (SELECT usr, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.usr AS usr, c.typ AS typ,
        |  floor(CAST(u.tot AS DOUBLE) / CAST(c.n AS DOUBLE) * 10000 + 0.5)
        |    / 10000 AS value
        |FROM c JOIN u ON c.usr = u.usr""".stripMargin)),
    Gate("promql_ignoring", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // ignoring(typ): click-vs-view last-value gap per user, matched on
      // the complement label set
      promql.PromQl.eval(s, dir,
        """last_over_time({typ="click"}[30d])
          | - ignoring(typ) last_over_time({typ="view"}[30d])""".stripMargin,
        "2024-01-31 00:00:00")
        .select(col("usr"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH lastv AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ, value
        |  FROM (SELECT user_id, event_type, value,
        |          row_number() OVER (PARTITION BY user_id, event_type
        |                             ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events
        |        WHERE event_type IN ('click', 'view')
        |          AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |          AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |  WHERE rn = 1)
        |SELECT c.usr AS usr,
        |  floor((c.value - v.value) * 10000 + 0.5) / 10000 AS value
        |FROM (SELECT * FROM lastv WHERE typ = 'click') c
        |JOIN (SELECT * FROM lastv WHERE typ = 'view') v ON c.usr = v.usr""".stripMargin)),
    // histogram_quantile over the derived cumulative-bucket series ≡
    // B19's interpolation arithmetic on the window-filtered events
    Gate("promql_histq", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // histogram_quantile over REAL `le`-labeled bucket series (the
      // derived cumulative-bucket index): the dashboard-paste shape
      // `histogram_quantile(0.9, <bucket counters over window>)`
      promql.PromQl.evalIndexed(index.TagIndex.forBucketedEvents(s, dir),
        """histogram_quantile(0.9, count_over_time({typ=~".*", le=~".*"}[30d]))""",
        "2024-01-31 00:00:00")
        .select(col("typ"), round(col("value"), 4).as("hq90"))
    }), Oracle(
      """WITH h AS (SELECT event_type AS typ, count(*) AS total,
        |    sum(CASE WHEN value <= 25 THEN 1 ELSE 0 END) AS c25,
        |    sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS c50,
        |    sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END) AS c100,
        |    sum(CASE WHEN value <= 200 THEN 1 ELSE 0 END) AS c200
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1)
        |SELECT typ,
        |  round(CASE
        |    WHEN c25 >= total*0.9 THEN 0 + (total*0.9 - 0)/(c25 - 0)*(25 - 0)
        |    WHEN c50 >= total*0.9 THEN 25 + (total*0.9 - c25)/(c50 - c25)*(50 - 25)
        |    WHEN c100 >= total*0.9 THEN 50 + (total*0.9 - c50)/(c100 - c50)*(100 - 50)
        |    WHEN c200 >= total*0.9 THEN 100 + (total*0.9 - c100)/(c200 - c100)*(200 - 100)
        |    ELSE 200 END, 4) AS hq90
        |FROM h""".stripMargin)),
    // parameterized double smoothing: the recursive CTE replays the
    // identical recurrence (s₂ recomputed textually in the b update)
    // with dyadic factors 0.5/0.25 so no literal-representation drift
    Gate("promql_hw", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """holt_winters({typ=~".*"}[30d], 0.5, 0.25)""",
        "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"), round(col("value"), 4).as("value"))
    }), Oracle(
      """WITH RECURSIVE
        |o AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    event_type AS typ, count(*) AS n,
        |    list_transform(
        |      list_sort(list(struct_pack(us := epoch_us(ts),
        |        eid := event_id, v := value))),
        |      x -> x.v) AS l
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1, 2),
        |seq AS (SELECT usr, typ,
        |    unnest(list_transform(range(1, len(l) + 1),
        |      i -> struct_pack(idx := i, v := l[i]))) AS e
        |  FROM o),
        |hw(usr, typ, k, s, b) AS (
        |  SELECT usr, typ, 2 AS k, l[2] AS s, l[2] - l[1] AS b
        |  FROM o WHERE n >= 2
        |  UNION ALL
        |  SELECT h.usr, h.typ, h.k + 1,
        |    0.5*(q.e).v + 0.5*(h.s + h.b) AS s,
        |    0.25*(0.5*(q.e).v + 0.5*(h.s + h.b) - h.s) + 0.75*h.b AS b
        |  FROM hw h JOIN seq q ON q.usr = h.usr AND q.typ = h.typ
        |    AND (q.e).idx = h.k + 1)
        |SELECT h.usr, h.typ, round(h.s, 4) AS value
        |FROM hw h JOIN o ON o.usr = h.usr AND o.typ = h.typ AND h.k = o.n
        |WHERE o.n >= 2""".stripMargin)),
    // clamp(v, 10, 100) ≡ min(max(v, 10), 100) over the last values
    Gate("promql_clamp", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // 3-arg clamp (B41's shaping surface through the language): pure
      // IEEE min/max, no rounding needed on either side
      promql.PromQl.eval(s, dir,
        """clamp(last_over_time({typ=~".*"}[30d]), 10, 100)""",
        "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"), col("value"))
    }), Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  least(greatest(value, 10), 100) AS value
        |FROM (SELECT user_id, event_type, value,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events
        |      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |        AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |WHERE rn = 1""".stripMargin)),
    // scalar(sum(...)): exact-count division — each user's click share
    Gate("promql_scalar", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // scalar(): 1-series vector → scalar, broadcast into arithmetic
      // (each user's share of total clicks); exact-count denominator so
      // the division is bit-deterministic on both engines
      promql.PromQl.eval(s, dir,
        """count_over_time({typ="click"}[30d])
          | / scalar(sum(count_over_time({typ="click"}[30d])))""".stripMargin,
        "2024-01-31 00:00:00")
        .select(col("usr"), col("value"))
    }), Oracle(
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1)
        |SELECT usr, n / (SELECT sum(n) FROM c) AS value FROM c""".stripMargin)),
    // sort_desc gates CONTENT only (check.py hashes sorted rows); the
    // emitted ordering is pinned by PromQlSpec
    Gate("promql_sort", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // sort_desc: presentation order (PromQlSpec pins the ordering;
      // the oracle gates the content, which ordering cannot change)
      promql.PromQl.eval(s, dir,
        """sort_desc(sum by (typ) (count_over_time({typ=~".*"}[30d])))""",
        "2024-01-31 00:00:00")
        .select(col("typ"), col("value"))
    }), Oracle(
      """SELECT event_type AS typ, CAST(count(*) AS DOUBLE) AS value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1""".stripMargin)),
    // `%` ≡ fmod (sign of dividend) on exact per-user counts
    Gate("promql_mod", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // `%` (B45): Go math.Mod ≡ Java % ≡ DuckDB fmod on exact
      // counts — the `node_time % 86400` dashboard-paste shape
      promql.PromQl.eval(s, dir,
        """sum by (usr) (count_over_time({typ=~".*"}[30d])) % 7""",
        "2024-01-31 00:00:00")
        .select(col("usr"), col("value"))
    }), Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr,
        |  fmod(CAST(count(*) AS DOUBLE), 7) AS value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1""".stripMargin)),
    // `^ 2` ≡ pow on exact per-type counts (exact for n < 2^26)
    Gate("promql_pow", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // `^` on exact counts: pow(n, 2) is exact in double for n < 2^26
      promql.PromQl.eval(s, dir,
        """sum by (typ) (count_over_time({typ=~".*"}[30d])) ^ 2""",
        "2024-01-31 00:00:00")
        .select(col("typ"), col("value"))
    }), Oracle(
      """SELECT event_type AS typ,
        |  pow(CAST(count(*) AS DOUBLE), 2) AS value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1""".stripMargin)),
    // sin(radians(n)) on exact counts, quantized 1e-4 both sides
    Gate("promql_trig", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // sin(rad(n)) over exact per-user counts; both engines run libm
      // sin/radians on identical inputs, quantized 1e-4 on both sides
      promql.PromQl.eval(s, dir,
        """sin(rad(sum by (usr) (count_over_time({typ="click"}[30d]))))""",
        "2024-01-31 00:00:00")
        .select(col("usr"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr,
        |  floor(sin(radians(CAST(count(*) AS DOUBLE))) * 1e4 + 0.5) / 1e4 AS value
        |FROM events
        |WHERE event_type = 'click'
        |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1""".stripMargin)),
    // `@ end()`: every grid point carries the end-anchored exact count
    Gate("promql_at_edges", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // `@ end()` (B48): the window anchors at the GRID end for every
      // evaluation point — each grid timestamp carries the same
      // end-anchored count (Prometheus's grid-relative @ anchors)
      promql.PromQl.evalRange(s, dir,
        """sum by (usr) (count_over_time({typ="click"}[30d] @ end()))""",
        "2024-01-29 00:00:00", "2024-01-31 00:00:00", 86400L)
        .select(col("t_sec"), col("usr"), col("value"))
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 2)) AS i),
        |c AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    CAST(count(*) AS DOUBLE) AS value
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1)
        |SELECT 1706486400 + g.i * 86400 AS t_sec, c.usr, c.value
        |FROM g, c""".stripMargin)),
    // negative offset: the window is [T, T+10d], closed both ends
    Gate("promql_negoffset", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // negative offset looks FORWARD: [T, T+10d] evaluated at T
      promql.PromQl.eval(s, dir,
        """sum by (usr) (count_over_time({typ="view"}[10d] offset -10d))""",
        "2024-01-11 00:00:00")
        .select(col("usr"), col("value"))
    }), Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr,
        |  CAST(count(*) AS DOUBLE) AS value
        |FROM events
        |WHERE event_type = 'view'
        |  AND ts >= TIMESTAMP '2024-01-11 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-21 00:00:00'
        |GROUP BY 1""".stripMargin)),
    // limitk: first 2 users per type in label order, values exact counts
    Gate("promql_limitk", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // limitk by (typ): first-2-users-per-type in label order (the
      // deterministic refinement of Prometheus's arbitrary k-subset —
      // oracle-replayable as a plain ranked window)
      promql.PromQl.eval(s, dir,
        """limitk by (typ) (2, sum by (usr, typ) (count_over_time({typ=~".*"}[30d])))""",
        "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"), col("value"))
    }), Oracle(
      """SELECT usr, typ, value FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    CAST(count(*) AS DOUBLE) AS value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY CAST(user_id AS VARCHAR)) AS rn
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1, 2)
        |WHERE rn <= 2""".stripMargin)),
    // B55: PromQL NATIVE histograms — sparse exponential-
    // bucket histogram samples (schema 0, zero bucket at 2^-4) derived
    // per (typ, hour) with counter semantics; the 3.x function family
    // evaluates over them (promql/NativeHist.scala)
    // native histograms (B55): the oracle replays the schema-0 bucket
    // assignment (exact power-of-two comparisons — no log), cumulative
    // counts, and the 3.x exponential interpolation from raw events;
    // only pow(2, frac) is transcendental, quantized 1e-4 both sides
    Gate("promql_native_histq", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // exponential interpolation within the hit bucket (3.x native rule)
      promql.NativeHist.eval(s, dir,
        """histogram_quantile(0.9, {typ=~".*"})""", "2024-01-08 00:00:00")
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("hq90"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |b AS (SELECT typ, v, CASE WHEN v <= 0.0625 THEN NULL
        |    ELSE -3 + len(list_filter([0.125, 0.25, 0.5, 1.0, 2.0, 4.0,
        |      8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0],
        |      x -> x < v)) END AS idx FROM e),
        |tot AS (SELECT typ, count(*) AS cnt,
        |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zcnt
        |  FROM b GROUP BY 1),
        |bc AS (SELECT typ, idx, count(*) AS c FROM b
        |  WHERE idx IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT typ, idx, c,
        |    sum(c) OVER (PARTITION BY typ ORDER BY idx) AS pc FROM bc),
        |hit AS (SELECT cm.typ, cm.idx, CAST(cm.c AS DOUBLE) AS c,
        |    CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE) AS cum,
        |    CAST(t.cnt AS DOUBLE) * 0.9 AS rk,
        |    CAST(t.zcnt AS DOUBLE) AS z,
        |    row_number() OVER (PARTITION BY cm.typ ORDER BY cm.idx) AS rn
        |  FROM cm JOIN tot t USING (typ)
        |  WHERE CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE)
        |    >= CAST(t.cnt AS DOUBLE) * 0.9)
        |SELECT typ, floor((CASE WHEN rk <= z THEN 0.0625 * rk / z
        |    ELSE pow(2.0, idx - 1) * pow(2.0, (rk - (cum - c)) / c) END)
        |  * 1e4 + 0.5) / 1e4 AS hq90
        |FROM hit WHERE rn = 1""".stripMargin)),
    // native histogram_fraction(10, 100): interpolated cumulative at
    // each bound (10 lands in bucket 4 = (8,16], 100 in bucket 7 =
    // (64,128]); ln(x)/ln(2) evaluated in-engine on both sides
    Gate("promql_native_fraction", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // estimated fraction of observations in [10, 100] — log-space
      // position within the containing buckets on both engines
      promql.NativeHist.eval(s, dir,
        """histogram_fraction(10, 100, {typ=~".*"})""", "2024-01-08 00:00:00")
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("frac_10_100"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |b AS (SELECT typ, v, CASE WHEN v <= 0.0625 THEN NULL
        |    ELSE -3 + len(list_filter([0.125, 0.25, 0.5, 1.0, 2.0, 4.0,
        |      8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0],
        |      x -> x < v)) END AS idx FROM e),
        |agg AS (SELECT typ, count(*) AS cnt,
        |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zcnt,
        |    CAST(sum(CASE WHEN idx IS NOT NULL AND idx < 4 THEN 1 ELSE 0
        |      END) AS BIGINT) AS b10,
        |    CAST(sum(CASE WHEN idx = 4 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c10,
        |    CAST(sum(CASE WHEN idx IS NOT NULL AND idx < 7 THEN 1 ELSE 0
        |      END) AS BIGINT) AS b100,
        |    CAST(sum(CASE WHEN idx = 7 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c100
        |  FROM b GROUP BY 1)
        |SELECT typ, floor((((zcnt + b100 + c100 * (ln(100.0) / ln(2.0) - 6))
        |    - (zcnt + b10 + c10 * (ln(10.0) / ln(2.0) - 3))) / cnt)
        |  * 1e4 + 0.5) / 1e4 AS frac_10_100
        |FROM agg""".stripMargin)),
    // native histogram stats: sum is the dyadic (2^-20) ingest
    // accumulator — exact in any order on both engines; stddev uses
    // geometric bucket midpoints sqrt(2^(2*idx-1)), zero bucket at 0
    Gate("promql_native_stats", ((s: SparkSession, dir: String) => {
      // histogram_count/sum/avg/stddev in one dashboard row per series;
      // sum is the dyadically-quantized ingest accumulator (exact on
      // both engines), stddev uses geometric bucket midpoints
      promql.NativeHist.statsAll(s, dir, """{typ=~".*"}""",
        "2024-01-08 00:00:00")
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |b AS (SELECT typ, v,
        |    floor(v * 1048576.0 + 0.5) / 1048576.0 AS qv,
        |    CASE WHEN v <= 0.0625 THEN NULL
        |    ELSE -3 + len(list_filter([0.125, 0.25, 0.5, 1.0, 2.0, 4.0,
        |      8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0],
        |      x -> x < v)) END AS idx FROM e),
        |tot AS (SELECT typ, count(*) AS cnt,
        |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zcnt,
        |    sum(qv) AS hsum
        |  FROM b GROUP BY 1),
        |bc AS (SELECT typ, idx, count(*) AS c FROM b
        |  WHERE idx IS NOT NULL GROUP BY 1, 2),
        |sd AS (SELECT bc.typ,
        |    sum(bc.c * (sqrt(pow(2.0, 2 * bc.idx - 1)) - t.hsum / t.cnt)
        |             * (sqrt(pow(2.0, 2 * bc.idx - 1)) - t.hsum / t.cnt))
        |      AS s2
        |  FROM bc JOIN tot t USING (typ) GROUP BY 1)
        |SELECT t.typ, t.cnt AS h_count, t.hsum AS h_sum,
        |  floor((t.hsum / t.cnt) * 1e4 + 0.5) / 1e4 AS h_avg,
        |  floor(sqrt((sd.s2 + t.zcnt * (t.hsum / t.cnt) * (t.hsum / t.cnt))
        |    / t.cnt) * 1e4 + 0.5) / 1e4 AS h_stddev
        |FROM tot t JOIN sd USING (typ)""".stripMargin)),
    // rate() of a native histogram over [T-24h, T): the counter diffs
    // equal the sub-window's own histogram, so the oracle replays them
    // directly; quantile selection runs on RAW counts (scale-invariant
    // — exact comparisons), only the observation rate divides
    Gate("promql_native_rate", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // rate() of a native histogram: per-bucket counter diff over 24h;
      // the median of the rate histogram + the observation rate itself
      val q = promql.NativeHist.eval(s, dir,
        """histogram_quantile(0.5, rate({typ=~".*"}[1d]))""",
        "2024-01-08 00:00:00")
        .select(col("typ"), (floor(col("value") * 1e4 + 0.5) / 1e4).as("q50r"))
      val c = promql.NativeHist.eval(s, dir,
        """histogram_count(rate({typ=~".*"}[1d]))""", "2024-01-08 00:00:00")
        .select(col("typ"), col("value").as("cps"))
      q.join(broadcast(c), Seq("typ"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-07 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |b AS (SELECT typ, v, CASE WHEN v <= 0.0625 THEN NULL
        |    ELSE -3 + len(list_filter([0.125, 0.25, 0.5, 1.0, 2.0, 4.0,
        |      8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0],
        |      x -> x < v)) END AS idx FROM e),
        |tot AS (SELECT typ, count(*) AS cnt,
        |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zcnt
        |  FROM b GROUP BY 1),
        |bc AS (SELECT typ, idx, count(*) AS c FROM b
        |  WHERE idx IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT typ, idx, c,
        |    sum(c) OVER (PARTITION BY typ ORDER BY idx) AS pc FROM bc),
        |hit AS (SELECT cm.typ, cm.idx, CAST(cm.c AS DOUBLE) AS c,
        |    CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE) AS cum,
        |    CAST(t.cnt AS DOUBLE) * 0.5 AS rk,
        |    CAST(t.zcnt AS DOUBLE) AS z,
        |    row_number() OVER (PARTITION BY cm.typ ORDER BY cm.idx) AS rn
        |  FROM cm JOIN tot t USING (typ)
        |  WHERE CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE)
        |    >= CAST(t.cnt AS DOUBLE) * 0.5)
        |SELECT h.typ, floor((CASE WHEN h.rk <= h.z THEN 0.0625 * h.rk / h.z
        |    ELSE pow(2.0, h.idx - 1) * pow(2.0, (h.rk - (h.cum - h.c)) / h.c)
        |    END) * 1e4 + 0.5) / 1e4 AS q50r,
        |  CAST(t2.cnt AS DOUBLE) / 86400.0 AS cps
        |FROM hit h JOIN tot t2 USING (typ) WHERE h.rn = 1""".stripMargin)),
    // native range query: per (typ, day) the 24h window's own
    // histogram (cumulative diffs ≡ sub-window counts), same quantile
    // formula keyed by the grid step
    Gate("promql_native_range", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // the /query_range panel over native histograms: daily p50 of
      // the 24h rate histogram per series — one plan for the grid
      promql.NativeHist.evalRange(s, dir,
        """histogram_quantile(0.5, rate({typ=~".*"}[1d]))""",
        "2024-01-02 00:00:00", "2024-01-07 00:00:00", 86400L)
        .select(col("typ"), col("t_sec"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("q50r"))
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 5)) AS i),
        |e AS (SELECT ev.event_type AS typ, g.i, ev.value AS v
        |  FROM events ev, g
        |  WHERE epoch_us(ev.ts) >= (1704153600 + g.i*86400 - 86400) * 1000000
        |    AND epoch_us(ev.ts) < (1704153600 + g.i*86400) * 1000000),
        |b AS (SELECT typ, i, CASE WHEN v <= 0.0625 THEN NULL
        |    ELSE -3 + len(list_filter([0.125, 0.25, 0.5, 1.0, 2.0, 4.0,
        |      8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0],
        |      x -> x < v)) END AS idx FROM e),
        |tot AS (SELECT typ, i, count(*) AS cnt,
        |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zcnt
        |  FROM b GROUP BY 1, 2),
        |bc AS (SELECT typ, i, idx, count(*) AS c FROM b
        |  WHERE idx IS NOT NULL GROUP BY 1, 2, 3),
        |cm AS (SELECT typ, i, idx, c,
        |    sum(c) OVER (PARTITION BY typ, i ORDER BY idx) AS pc FROM bc),
        |hit AS (SELECT cm.typ, cm.i, cm.idx, CAST(cm.c AS DOUBLE) AS c,
        |    CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE) AS cum,
        |    CAST(t.cnt AS DOUBLE) * 0.5 AS rk,
        |    CAST(t.zcnt AS DOUBLE) AS z,
        |    row_number() OVER (PARTITION BY cm.typ, cm.i
        |      ORDER BY cm.idx) AS rn
        |  FROM cm JOIN tot t ON cm.typ = t.typ AND cm.i = t.i
        |  WHERE CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE)
        |    >= CAST(t.cnt AS DOUBLE) * 0.5)
        |SELECT typ, 1704153600 + i * 86400 AS t_sec,
        |  floor((CASE WHEN rk <= z THEN 0.0625 * rk / z
        |    ELSE pow(2.0, idx - 1) * pow(2.0, (rk - (cum - c)) / c) END)
        |  * 1e4 + 0.5) / 1e4 AS q50r
        |FROM hit WHERE rn = 1""".stripMargin)),
    // histogram SUM aggregation: the global 24h histogram IS the
    // component-wise sum of the per-typ rate histograms (raw counts —
    // scale-invariant quantile), so the oracle computes it directly
    Gate("promql_native_agg", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // the dashboard-paste shape: component-wise histogram SUM across
      // all series of the 24h rate histograms, then the p90 of the
      // aggregate + the fleet-wide observation rate
      val q = promql.NativeHist.eval(s, dir,
        """histogram_quantile(0.9, sum(rate({typ=~".*"}[1d])))""",
        "2024-01-08 00:00:00")
        .select((floor(col("value") * 1e4 + 0.5) / 1e4).as("q90_all"))
      val c = promql.NativeHist.eval(s, dir,
        """histogram_count(sum(rate({typ=~".*"}[1d])))""",
        "2024-01-08 00:00:00")
        .select(col("value").as("cps_all"))
      q.crossJoin(c)
    }), Oracle(
      """WITH e AS (SELECT value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-07 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |b AS (SELECT v, CASE WHEN v <= 0.0625 THEN NULL
        |    ELSE -3 + len(list_filter([0.125, 0.25, 0.5, 1.0, 2.0, 4.0,
        |      8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0],
        |      x -> x < v)) END AS idx FROM e),
        |tot AS (SELECT count(*) AS cnt,
        |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zcnt
        |  FROM b),
        |bc AS (SELECT idx, count(*) AS c FROM b
        |  WHERE idx IS NOT NULL GROUP BY 1),
        |cm AS (SELECT idx, c, sum(c) OVER (ORDER BY idx) AS pc FROM bc),
        |hit AS (SELECT cm.idx, CAST(cm.c AS DOUBLE) AS c,
        |    CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE) AS cum,
        |    CAST(t.cnt AS DOUBLE) * 0.9 AS rk,
        |    CAST(t.zcnt AS DOUBLE) AS z,
        |    row_number() OVER (ORDER BY cm.idx) AS rn
        |  FROM cm, tot t
        |  WHERE CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE)
        |    >= CAST(t.cnt AS DOUBLE) * 0.9)
        |SELECT floor((CASE WHEN h.rk <= h.z THEN 0.0625 * h.rk / h.z
        |    ELSE pow(2.0, h.idx - 1) * pow(2.0, (h.rk - (h.cum - h.c)) / h.c)
        |    END) * 1e4 + 0.5) / 1e4 AS q90_all,
        |  CAST(t2.cnt AS DOUBLE) / 86400.0 AS cps_all
        |FROM hit h, tot t2 WHERE h.rn = 1""".stripMargin)),
    // B55+: native-histogram schema > 0 — the MIXED model
    // scrapes click/error at schema 3 (base 2^(1/8), the 3.x client
    // default) and the rest at schema 0; quantile/rate re-gated at
    // schema 3 and the sum-by gate exercises Prometheus's
    // downscale-to-coarsest-common-schema aggregation rule
    // B55+ schema-3 gates: the 104-entry boundary ladder is serialized
    // from the SAME Scala doubles the Spark side compares against
    // (%.17g round-trips exactly), so bucket assignment is
    // bit-identical; interpolation is the single-pow base-2^(1/8) form
    Gate("promql_native_q3", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // p90 of the schema-3 series: 104-bucket ladder, exponential
      // interpolation at base 2^(1/8) — value = 2^((idx-1+frac)/8)
      promql.NativeHist.eval(s, dir,
        """histogram_quantile(0.9, {typ=~"click|error"})""",
        "2024-01-08 00:00:00", mixed = true)
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("hq90"))
    }), Oracle(
      s"""WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'
        |    AND event_type IN ('click', 'error')),
        |b AS (SELECT typ, v, CASE WHEN v <= 0.0625 THEN NULL
        |    ELSE -31 + len(list_filter(${promql.NativeHist.uppersSqlList(3)},
        |      x -> x < v)) END AS idx FROM e),
        |tot AS (SELECT typ, count(*) AS cnt,
        |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zcnt
        |  FROM b GROUP BY 1),
        |bc AS (SELECT typ, idx, count(*) AS c FROM b
        |  WHERE idx IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT typ, idx, c,
        |    sum(c) OVER (PARTITION BY typ ORDER BY idx) AS pc FROM bc),
        |hit AS (SELECT cm.typ, cm.idx, CAST(cm.c AS DOUBLE) AS c,
        |    CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE) AS cum,
        |    CAST(t.cnt AS DOUBLE) * 0.9 AS rk,
        |    CAST(t.zcnt AS DOUBLE) AS z,
        |    row_number() OVER (PARTITION BY cm.typ ORDER BY cm.idx) AS rn
        |  FROM cm JOIN tot t USING (typ)
        |  WHERE CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE)
        |    >= CAST(t.cnt AS DOUBLE) * 0.9)
        |SELECT typ, floor((CASE WHEN rk <= z THEN 0.0625 * rk / z
        |    ELSE pow(2.0, (idx - 1 + (rk - (cum - c)) / c) / 8.0) END)
        |  * 1e4 + 0.5) / 1e4 AS hq90
        |FROM hit WHERE rn = 1""".stripMargin)),
    Gate("promql_native_rate3", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // rate() at schema 3: per-bucket counter diffs stay raw (rsec
      // scaling) so bucket selection is integer-exact cross-engine
      promql.NativeHist.eval(s, dir,
        """histogram_quantile(0.5, rate({typ=~"click|error"}[1d]))""",
        "2024-01-08 00:00:00", mixed = true)
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("q50r"))
    }), Oracle(
      s"""WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-07 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'
        |    AND event_type IN ('click', 'error')),
        |b AS (SELECT typ, v, CASE WHEN v <= 0.0625 THEN NULL
        |    ELSE -31 + len(list_filter(${promql.NativeHist.uppersSqlList(3)},
        |      x -> x < v)) END AS idx FROM e),
        |tot AS (SELECT typ, count(*) AS cnt,
        |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zcnt
        |  FROM b GROUP BY 1),
        |bc AS (SELECT typ, idx, count(*) AS c FROM b
        |  WHERE idx IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT typ, idx, c,
        |    sum(c) OVER (PARTITION BY typ ORDER BY idx) AS pc FROM bc),
        |hit AS (SELECT cm.typ, cm.idx, CAST(cm.c AS DOUBLE) AS c,
        |    CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE) AS cum,
        |    CAST(t.cnt AS DOUBLE) * 0.5 AS rk,
        |    CAST(t.zcnt AS DOUBLE) AS z,
        |    row_number() OVER (PARTITION BY cm.typ ORDER BY cm.idx) AS rn
        |  FROM cm JOIN tot t USING (typ)
        |  WHERE CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE)
        |    >= CAST(t.cnt AS DOUBLE) * 0.5)
        |SELECT typ, floor((CASE WHEN rk <= z THEN 0.0625 * rk / z
        |    ELSE pow(2.0, (idx - 1 + (rk - (cum - c)) / c) / 8.0) END)
        |  * 1e4 + 0.5) / 1e4 AS q50r
        |FROM hit WHERE rn = 1""".stripMargin)),
    // the mixed sum-by panel: downscale-to-schema-0 merging is exactly
    // schema-0 assignment of the raw observations (8 consecutive
    // schema-3 buckets union to 1 schema-0 bucket), so the oracle
    // replays the whole fleet at schema 0 per grid step
    Gate("promql_native_schema", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // the dashboard shape over the MIXED fleet: sum(rate(h[1d]))
      // downscales the schema-3 series to the group's coarsest schema
      // (0) by pairwise bucket merging — a lossless-to-schema-0
      // operation, so the oracle derives the panel straight from raw
      // events at schema 0 (any downscale bug breaks the hash)
      promql.NativeHist.evalRange(s, dir,
        """histogram_quantile(0.5, sum(rate({typ=~".*"}[1d])))""",
        "2024-01-02 00:00:00", "2024-01-07 00:00:00", 86400L, mixed = true)
        .select(col("t_sec"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("q50_all"))
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 5)) AS i),
        |e AS (SELECT g.i, ev.value AS v
        |  FROM events ev, g
        |  WHERE epoch_us(ev.ts) >= (1704153600 + g.i*86400 - 86400) * 1000000
        |    AND epoch_us(ev.ts) < (1704153600 + g.i*86400) * 1000000),
        |b AS (SELECT i, CASE WHEN v <= 0.0625 THEN NULL
        |    ELSE -3 + len(list_filter([0.125, 0.25, 0.5, 1.0, 2.0, 4.0,
        |      8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0],
        |      x -> x < v)) END AS idx FROM e),
        |tot AS (SELECT i, count(*) AS cnt,
        |    CAST(sum(CASE WHEN idx IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS zcnt
        |  FROM b GROUP BY 1),
        |bc AS (SELECT i, idx, count(*) AS c FROM b
        |  WHERE idx IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT i, idx, c,
        |    sum(c) OVER (PARTITION BY i ORDER BY idx) AS pc FROM bc),
        |hit AS (SELECT cm.i, cm.idx, CAST(cm.c AS DOUBLE) AS c,
        |    CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE) AS cum,
        |    CAST(t.cnt AS DOUBLE) * 0.5 AS rk,
        |    CAST(t.zcnt AS DOUBLE) AS z,
        |    row_number() OVER (PARTITION BY cm.i ORDER BY cm.idx) AS rn
        |  FROM cm JOIN tot t USING (i)
        |  WHERE CAST(t.zcnt AS DOUBLE) + CAST(cm.pc AS DOUBLE)
        |    >= CAST(t.cnt AS DOUBLE) * 0.5)
        |SELECT 1704153600 + i * 86400 AS t_sec,
        |  floor((CASE WHEN rk <= z THEN 0.0625 * rk / z
        |    ELSE pow(2.0, idx - 1) * pow(2.0, (rk - (cum - c)) / c) END)
        |  * 1e4 + 0.5) / 1e4 AS q50_all
        |FROM hit WHERE rn = 1""".stripMargin)),
    // B60: SIGNED native histograms — the negative bucket
    // ladder (mirror of the exponential rule below the zero bucket)
    // over a derived deviation metric (value − 50); p30 lands in the
    // negative ladder (~63% of mass is negative), p90 in the positive
    // B60: the signed model replayed from raw — deviation vc = v − 50,
    // mirrored ladder on |vc| (the closed end lands on the larger
    // magnitude, exactly the positive rule on -vc), cumulative over
    // the value ordering (neg desc-idx, zero, pos asc-idx), and the
    // mirrored exponential interpolation −2^(idx − frac)
    Gate("promql_native_signed", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      val q30 = promql.NativeHist.signedQuantile(s, dir, 0.3,
        "2024-01-08 00:00:00")
        .select(col("typ"), (floor(col("value") * 1e4 + 0.5) / 1e4).as("hq30"))
      val q90 = promql.NativeHist.signedQuantile(s, dir, 0.9,
        "2024-01-08 00:00:00")
        .select(col("typ"), (floor(col("value") * 1e4 + 0.5) / 1e4).as("hq90"))
      q30.join(broadcast(q90), Seq("typ"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value - 50.0 AS vc FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |b AS (SELECT typ, vc,
        |    CASE WHEN abs(vc) <= 0.0625 THEN 0
        |         WHEN vc > 0 THEN 1 ELSE -1 END AS side,
        |    CASE WHEN abs(vc) <= 0.0625 THEN 0
        |         WHEN vc > 0 THEN -3 + len(list_filter([0.125, 0.25, 0.5,
        |           1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0, 256.0,
        |           512.0], x -> x < vc))
        |         ELSE -3 + len(list_filter([0.125, 0.25, 0.5, 1.0, 2.0,
        |           4.0, 8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0],
        |           x -> x < -vc)) END AS idx
        |  FROM e),
        |g AS (SELECT typ, side, idx,
        |    CASE WHEN side = -1 THEN -idx WHEN side = 0 THEN 100
        |         ELSE 200 + idx END AS ord,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |tot AS (SELECT typ, CAST(count(*) AS DOUBLE) AS cnt,
        |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS zcnt,
        |    CAST(sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS negtotal
        |  FROM b GROUP BY 1),
        |cm AS (SELECT g.typ, g.side, g.idx, g.ord, g.c,
        |    sum(g.c) OVER (PARTITION BY g.typ ORDER BY g.ord) AS cum
        |  FROM g),
        |qq AS (SELECT cm.*, t.cnt, t.zcnt, t.negtotal
        |  FROM cm JOIN tot t USING (typ)),
        |h30 AS (SELECT *, cnt * 0.3 AS rk,
        |    row_number() OVER (PARTITION BY typ ORDER BY ord) AS rn
        |  FROM qq WHERE cum >= cnt * 0.3),
        |v30 AS (SELECT typ, CASE
        |    WHEN side = -1 THEN -pow(2.0, idx - (rk - (cum - c)) / c)
        |    WHEN side = 0 THEN CASE WHEN negtotal > 0
        |      THEN -0.0625 + 0.125 * ((rk - negtotal) / zcnt)
        |      ELSE 0.0625 * rk / zcnt END
        |    ELSE pow(2.0, idx - 1) * pow(2.0, (rk - (cum - c)) / c) END AS v
        |  FROM h30 WHERE rn = 1),
        |h90 AS (SELECT *, cnt * 0.9 AS rk,
        |    row_number() OVER (PARTITION BY typ ORDER BY ord) AS rn
        |  FROM qq WHERE cum >= cnt * 0.9),
        |v90 AS (SELECT typ, CASE
        |    WHEN side = -1 THEN -pow(2.0, idx - (rk - (cum - c)) / c)
        |    WHEN side = 0 THEN CASE WHEN negtotal > 0
        |      THEN -0.0625 + 0.125 * ((rk - negtotal) / zcnt)
        |      ELSE 0.0625 * rk / zcnt END
        |    ELSE pow(2.0, idx - 1) * pow(2.0, (rk - (cum - c)) / c) END AS v
        |  FROM h90 WHERE rn = 1)
        |SELECT v30.typ, floor(v30.v * 1e4 + 0.5) / 1e4 AS hq30,
        |  floor(v90.v * 1e4 + 0.5) / 1e4 AS hq90
        |FROM v30 JOIN v90 USING (typ)""".stripMargin)),
    // B59: NHCB — native histograms with CUSTOM buckets
    // (schema -53, the classic-`le` migration path): whole-histogram
    // samples carrying the B19 bound ladder; classic LINEAR
    // interpolation, +Inf rank → highest finite bound
    // B59: NHCB replayed from raw events — classic cumulative counts
    // over the B19 ladder, the SAME linear-interpolation CASE chain
    // and operation order as the Spark fold (counts cast to double
    // before every arithmetic step)
    Gate("promql_nhcb", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.NativeHist.nhcbQuantile(s, dir, 0.9, "2024-01-08 00:00:00")
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("hq90"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |a AS (SELECT typ, CAST(count(*) AS DOUBLE) AS cnt,
        |    CAST(sum(CASE WHEN v <= 25.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c0,
        |    CAST(sum(CASE WHEN v <= 50.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
        |    CAST(sum(CASE WHEN v <= 100.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c2,
        |    CAST(sum(CASE WHEN v <= 200.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c3
        |  FROM e GROUP BY 1),
        |q AS (SELECT typ, cnt * 0.9 AS rk, c0, c1, c2, c3 FROM a)
        |SELECT typ, floor((CASE
        |    WHEN c0 >= rk THEN 0.0 + (rk - 0.0) / (c0 - 0.0) * 25.0
        |    WHEN c1 >= rk THEN 25.0 + (rk - c0) / (c1 - c0) * 25.0
        |    WHEN c2 >= rk THEN 50.0 + (rk - c1) / (c2 - c1) * 50.0
        |    WHEN c3 >= rk THEN 100.0 + (rk - c2) / (c3 - c2) * 100.0
        |    ELSE 200.0 END) * 1e4 + 0.5) / 1e4 AS hq90
        |FROM q""".stripMargin)),
    Gate("promql_nhcb_rate", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // component-wise counter diffs over 1d, raw (scale-invariant)
      promql.NativeHist.nhcbRateQuantile(s, dir, 0.5,
        "2024-01-08 00:00:00", 86400L)
        .filter(!isnan(col("value"))) // empty-window series emit nothing
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("q50r"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-07 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |a AS (SELECT typ, CAST(count(*) AS DOUBLE) AS cnt,
        |    CAST(sum(CASE WHEN v <= 25.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c0,
        |    CAST(sum(CASE WHEN v <= 50.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
        |    CAST(sum(CASE WHEN v <= 100.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c2,
        |    CAST(sum(CASE WHEN v <= 200.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c3
        |  FROM e GROUP BY 1),
        |q AS (SELECT typ, cnt * 0.5 AS rk, c0, c1, c2, c3 FROM a)
        |SELECT typ, floor((CASE
        |    WHEN c0 >= rk THEN 0.0 + (rk - 0.0) / (c0 - 0.0) * 25.0
        |    WHEN c1 >= rk THEN 25.0 + (rk - c0) / (c1 - c0) * 25.0
        |    WHEN c2 >= rk THEN 50.0 + (rk - c1) / (c2 - c1) * 50.0
        |    WHEN c3 >= rk THEN 100.0 + (rk - c2) / (c3 - c2) * 100.0
        |    ELSE 200.0 END) * 1e4 + 0.5) / 1e4 AS q50r
        |FROM q""".stripMargin)),
    Gate("promql_nhcb_agg", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // fleet-wide sum: identical ladders add element-wise (mismatched
      // ladders raise — spec-pinned)
      promql.NativeHist.nhcbSumQuantile(s, dir, 0.9, "2024-01-08 00:00:00")
        .select((floor(col("value") * 1e4 + 0.5) / 1e4).as("hq90_all"))
    }), Oracle(
      """WITH e AS (SELECT value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |a AS (SELECT CAST(count(*) AS DOUBLE) AS cnt,
        |    CAST(sum(CASE WHEN v <= 25.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c0,
        |    CAST(sum(CASE WHEN v <= 50.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
        |    CAST(sum(CASE WHEN v <= 100.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c2,
        |    CAST(sum(CASE WHEN v <= 200.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c3
        |  FROM e),
        |q AS (SELECT cnt * 0.9 AS rk, c0, c1, c2, c3 FROM a)
        |SELECT floor((CASE
        |    WHEN c0 >= rk THEN 0.0 + (rk - 0.0) / (c0 - 0.0) * 25.0
        |    WHEN c1 >= rk THEN 25.0 + (rk - c0) / (c1 - c0) * 25.0
        |    WHEN c2 >= rk THEN 50.0 + (rk - c1) / (c2 - c1) * 50.0
        |    WHEN c3 >= rk THEN 100.0 + (rk - c2) / (c3 - c2) * 100.0
        |    ELSE 200.0 END) * 1e4 + 0.5) / 1e4 AS hq90_all
        |FROM q""".stripMargin)),
    // NHCB fraction -- classic linear F(x) at 30 (inside
    // (25,50]) and 150 (inside (100,200]), op order mirrored exactly
    Gate("promql_nhcb_fraction", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // histogram_fraction over custom buckets through the
      // shared grammar — CLASSIC linear F(x) within the containing
      // bucket (30 and 150 sit strictly inside ladder buckets, so both
      // ends interpolate)
      promql.NativeHist.evalNhcb(s, dir,
        """histogram_fraction(30, 150, {typ=~".*"})""",
        "2024-01-08 00:00:00")
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("frac_30_150"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |a AS (SELECT typ, CAST(count(*) AS DOUBLE) AS cnt,
        |    CAST(sum(CASE WHEN v <= 25.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c0,
        |    CAST(sum(CASE WHEN v <= 50.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
        |    CAST(sum(CASE WHEN v <= 100.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c2,
        |    CAST(sum(CASE WHEN v <= 200.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c3
        |  FROM e GROUP BY 1)
        |SELECT typ, floor((
        |    (c2 + (150.0 - 100.0) / (200.0 - 100.0) * (c3 - c2))
        |  - (c0 + (30.0 - 25.0) / (50.0 - 25.0) * (c1 - c0))
        |  ) / cnt * 1e4 + 0.5) / 1e4 AS frac_30_150
        |FROM a""".stripMargin)),
    // NHCB count/sum/avg/stddev -- sum is the dyadic _sum
    // accumulator; variance = sum of per-bucket mass at ARITHMETIC
    // midpoints (the +Inf bucket at the top finite bound), summed in
    // ladder order like the Spark fold
    Gate("promql_nhcb_stats", ((s: SparkSession, dir: String) => {
      // histogram_count/sum/avg/stddev over custom buckets,
      // every column through the parser; sum is the migrated _sum
      // accumulator (dyadic — exact both engines), stddev uses
      // ARITHMETIC bucket midpoints (+Inf collapses to the top bound)
      promql.NativeHist.nhcbStatsAll(s, dir, """{typ=~".*"}""",
        "2024-01-08 00:00:00")
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |a AS (SELECT typ, CAST(count(*) AS DOUBLE) AS cnt,
        |    CAST(sum(CASE WHEN v <= 25.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c0,
        |    CAST(sum(CASE WHEN v <= 50.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
        |    CAST(sum(CASE WHEN v <= 100.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c2,
        |    CAST(sum(CASE WHEN v <= 200.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c3,
        |    sum(floor(v * 1048576.0 + 0.5) / 1048576.0) AS hsum
        |  FROM e GROUP BY 1)
        |SELECT typ, CAST(cnt AS BIGINT) AS h_count, hsum AS h_sum,
        |  floor(hsum / cnt * 1e4 + 0.5) / 1e4 AS h_avg,
        |  floor(sqrt((
        |      (c0 - 0.0) * ((0.0 + 25.0) / 2.0 - hsum / cnt)
        |                 * ((0.0 + 25.0) / 2.0 - hsum / cnt)
        |    + (c1 - c0) * ((25.0 + 50.0) / 2.0 - hsum / cnt)
        |                * ((25.0 + 50.0) / 2.0 - hsum / cnt)
        |    + (c2 - c1) * ((50.0 + 100.0) / 2.0 - hsum / cnt)
        |                * ((50.0 + 100.0) / 2.0 - hsum / cnt)
        |    + (c3 - c2) * ((100.0 + 200.0) / 2.0 - hsum / cnt)
        |                * ((100.0 + 200.0) / 2.0 - hsum / cnt)
        |    + (cnt - c3) * (200.0 - hsum / cnt) * (200.0 - hsum / cnt)
        |    ) / cnt) * 1e4 + 0.5) / 1e4 AS h_stddev
        |FROM a""".stripMargin)),
    // per-metric ladders -- purchase interpolates against
    // its own migrated bounds (40/80/160/320), everything else against
    // the default ladder
    // NHCB rate-quantiles across the /query_range grid --
    // per step, the 1d counter diff is the window's own histogram
    Gate("promql_nhcb_range", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // the /query_range dashboard panel over NHCB — daily
      // rate-histogram medians for 5 steps, one plan for the grid
      promql.NativeHist.evalRangeNhcb(s, dir,
        """histogram_quantile(0.5, rate({typ=~".*"}[1d]))""",
        "2024-01-03 00:00:00", "2024-01-07 00:00:00", 86400L)
        .filter(!isnan(col("value")))
        .select(col("typ"), col("t_sec"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("q50r"))
    }), Oracle(
      """WITH g AS (SELECT unnest(generate_series(0, 4)) AS i),
        |e AS (SELECT e.event_type AS typ, g.i, e.value AS v
        |  FROM events e, g
        |  WHERE epoch_us(e.ts) >= CAST(1704240000 + g.i*86400 - 86400 AS BIGINT) * 1000000
        |    AND epoch_us(e.ts) < CAST(1704240000 + g.i*86400 AS BIGINT) * 1000000),
        |a AS (SELECT typ, i, CAST(count(*) AS DOUBLE) AS cnt,
        |    CAST(sum(CASE WHEN v <= 25.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c0,
        |    CAST(sum(CASE WHEN v <= 50.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
        |    CAST(sum(CASE WHEN v <= 100.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c2,
        |    CAST(sum(CASE WHEN v <= 200.0 THEN 1 ELSE 0 END) AS DOUBLE) AS c3
        |  FROM e GROUP BY 1, 2),
        |q AS (SELECT typ, i, cnt * 0.5 AS rk, c0, c1, c2, c3 FROM a
        |  WHERE cnt > 0)
        |SELECT typ, 1704240000 + i * 86400 AS t_sec, floor((CASE
        |    WHEN c0 >= rk THEN 0.0 + (rk - 0.0) / (c0 - 0.0) * (25.0 - 0.0)
        |    WHEN c1 >= rk THEN 25.0 + (rk - c0) / (c1 - c0) * (50.0 - 25.0)
        |    WHEN c2 >= rk THEN 50.0 + (rk - c1) / (c2 - c1) * (100.0 - 50.0)
        |    WHEN c3 >= rk THEN 100.0 + (rk - c2) / (c3 - c2) * (200.0 - 100.0)
        |    ELSE 200.0 END) * 1e4 + 0.5) / 1e4 AS q50r
        |FROM q""".stripMargin)),
    Gate("promql_nhcb_ladders", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // PER-METRIC bound ladders (purchase migrated its own
      // classic layout) — each series interpolates against its own
      // bounds; summing across the mismatched ladders refuses
      // (spec-pinned), per-metric quantiles serve
      promql.NativeHist.evalNhcb(s, dir,
        """histogram_quantile(0.9, {typ=~".*"})""",
        "2024-01-08 00:00:00", corpus = "perMetric")
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("hq90"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |a AS (SELECT typ, CAST(count(*) AS DOUBLE) AS cnt,
        |    CASE WHEN typ = 'purchase' THEN 40.0 ELSE 25.0 END AS u1,
        |    CASE WHEN typ = 'purchase' THEN 80.0 ELSE 50.0 END AS u2,
        |    CASE WHEN typ = 'purchase' THEN 160.0 ELSE 100.0 END AS u3,
        |    CASE WHEN typ = 'purchase' THEN 320.0 ELSE 200.0 END AS u4,
        |    CAST(sum(CASE WHEN v <= (CASE WHEN typ = 'purchase'
        |      THEN 40.0 ELSE 25.0 END) THEN 1 ELSE 0 END) AS DOUBLE) AS c0,
        |    CAST(sum(CASE WHEN v <= (CASE WHEN typ = 'purchase'
        |      THEN 80.0 ELSE 50.0 END) THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
        |    CAST(sum(CASE WHEN v <= (CASE WHEN typ = 'purchase'
        |      THEN 160.0 ELSE 100.0 END) THEN 1 ELSE 0 END) AS DOUBLE) AS c2,
        |    CAST(sum(CASE WHEN v <= (CASE WHEN typ = 'purchase'
        |      THEN 320.0 ELSE 200.0 END) THEN 1 ELSE 0 END) AS DOUBLE) AS c3
        |  FROM e GROUP BY 1, 3, 4, 5, 6),
        |q AS (SELECT typ, cnt * 0.9 AS rk, u1, u2, u3, u4, c0, c1, c2, c3
        |  FROM a)
        |SELECT typ, floor((CASE
        |    WHEN c0 >= rk THEN 0.0 + (rk - 0.0) / (c0 - 0.0) * (u1 - 0.0)
        |    WHEN c1 >= rk THEN u1 + (rk - c0) / (c1 - c0) * (u2 - u1)
        |    WHEN c2 >= rk THEN u2 + (rk - c1) / (c2 - c1) * (u3 - u2)
        |    WHEN c3 >= rk THEN u3 + (rk - c2) / (c3 - c2) * (u4 - u3)
        |    ELSE u4 END) * 1e4 + 0.5) / 1e4 AS hq90
        |FROM q""".stripMargin)),
    // variable-length ladders — the oracle replays the
    // classic interpolation LENGTH-AGNOSTICALLY (per-typ list bounds,
    // lateral unnest, lag() for the previous bound/count, first
    // cum >= rank wins, rank past the ladder returns the top bound) —
    // the same operand order as the Spark column path
    Gate("promql_nhcb_var", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // VARIABLE-LENGTH ladders — a 3-bucket error
      // histogram next to a 6-bucket purchase one; bucket selection is
      // column arithmetic over size(bounds), no compile-time width
      promql.NativeHist.evalNhcb(s, dir,
        """histogram_quantile(0.9, {typ=~".*"})""",
        "2024-01-08 00:00:00", corpus = "var")
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("hq90"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |lad AS (SELECT typ,
        |    (CASE WHEN typ = 'purchase' THEN [20, 40, 80, 160, 320, 640]
        |          WHEN typ = 'error' THEN [30, 90, 270]
        |          ELSE [25, 50, 100, 200] END)::DOUBLE[] AS bounds
        |  FROM (SELECT DISTINCT typ FROM e)),
        |u AS (SELECT typ, i, bounds[i] AS ub
        |  FROM lad, UNNEST(range(1, len(bounds) + 1)) AS t(i)),
        |c AS (SELECT e.typ, u.i, u.ub,
        |    CAST(sum(CASE WHEN e.v <= u.ub THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS cum
        |  FROM e JOIN u USING (typ) GROUP BY 1, 2, 3),
        |tot AS (SELECT typ, CAST(count(*) AS DOUBLE) AS cnt
        |  FROM e GROUP BY 1),
        |w AS (SELECT c.typ, c.i, c.ub, c.cum,
        |    lag(c.cum, 1, CAST(0 AS DOUBLE))
        |      OVER (PARTITION BY c.typ ORDER BY c.i) AS pc,
        |    lag(c.ub, 1, CAST(0 AS DOUBLE))
        |      OVER (PARTITION BY c.typ ORDER BY c.i) AS lb,
        |    t.cnt * 0.9 AS rk
        |  FROM c JOIN tot t USING (typ)),
        |hit AS (SELECT typ, lb + (rk - pc) / (cum - pc) * (ub - lb) AS qv,
        |    row_number() OVER (PARTITION BY typ ORDER BY i) AS rn
        |  FROM w WHERE cum >= rk),
        |top AS (SELECT typ, max(ub) AS topb FROM w GROUP BY 1)
        |SELECT t.typ, floor(COALESCE(h.qv, p.topb) * 1e4 + 0.5) / 1e4
        |    AS hq90
        |FROM tot t JOIN top p USING (typ)
        |LEFT JOIN (SELECT typ, qv FROM hit WHERE rn = 1) h USING (typ)"""
        .stripMargin)),
    Gate("promql_nhcb_var_rate", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // the rate form over the variable corpus: component-wise counter
      // diffs are zip_with (width-generic), bucket counts stay
      // integer-exact cross-engine
      promql.NativeHist.evalNhcb(s, dir,
        """histogram_quantile(0.5, rate({typ=~".*"}[86400s]))""",
        "2024-01-08 00:00:00", corpus = "var")
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("q50r"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-07 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |lad AS (SELECT typ,
        |    (CASE WHEN typ = 'purchase' THEN [20, 40, 80, 160, 320, 640]
        |          WHEN typ = 'error' THEN [30, 90, 270]
        |          ELSE [25, 50, 100, 200] END)::DOUBLE[] AS bounds
        |  FROM (SELECT DISTINCT typ FROM e)),
        |u AS (SELECT typ, i, bounds[i] AS ub
        |  FROM lad, UNNEST(range(1, len(bounds) + 1)) AS t(i)),
        |c AS (SELECT e.typ, u.i, u.ub,
        |    CAST(sum(CASE WHEN e.v <= u.ub THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS cum
        |  FROM e JOIN u USING (typ) GROUP BY 1, 2, 3),
        |tot AS (SELECT typ, CAST(count(*) AS DOUBLE) AS cnt
        |  FROM e GROUP BY 1),
        |w AS (SELECT c.typ, c.i, c.ub, c.cum,
        |    lag(c.cum, 1, CAST(0 AS DOUBLE))
        |      OVER (PARTITION BY c.typ ORDER BY c.i) AS pc,
        |    lag(c.ub, 1, CAST(0 AS DOUBLE))
        |      OVER (PARTITION BY c.typ ORDER BY c.i) AS lb,
        |    t.cnt * 0.5 AS rk
        |  FROM c JOIN tot t USING (typ)),
        |hit AS (SELECT typ, lb + (rk - pc) / (cum - pc) * (ub - lb) AS qv,
        |    row_number() OVER (PARTITION BY typ ORDER BY i) AS rn
        |  FROM w WHERE cum >= rk),
        |top AS (SELECT typ, max(ub) AS topb FROM w GROUP BY 1)
        |SELECT t.typ, floor(COALESCE(h.qv, p.topb) * 1e4 + 0.5) / 1e4
        |    AS q50r
        |FROM tot t JOIN top p USING (typ)
        |LEFT JOIN (SELECT typ, qv FROM hit WHERE rn = 1) h USING (typ)"""
        .stripMargin)),
    // variable-width F(x): the hit bucket per bound is the first with
    // ub >= x, interpolated with the same operand order as Spark's
    // staged-index form; x past the ladder counts everything
    Gate("promql_nhcb_var_fraction", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // histogram_fraction at mixed ladder widths: each metric's F(x)
      // interpolates within ITS OWN containing bucket (50 lands ON a
      // default-ladder bound, strictly inside purchase/error buckets)
      promql.NativeHist.evalNhcb(s, dir,
        """histogram_fraction(50, 150, {typ=~".*"})""",
        "2024-01-08 00:00:00", corpus = "var")
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("frac_50_150"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |lad AS (SELECT typ,
        |    (CASE WHEN typ = 'purchase' THEN [20, 40, 80, 160, 320, 640]
        |          WHEN typ = 'error' THEN [30, 90, 270]
        |          ELSE [25, 50, 100, 200] END)::DOUBLE[] AS bounds
        |  FROM (SELECT DISTINCT typ FROM e)),
        |u AS (SELECT typ, i, bounds[i] AS ub
        |  FROM lad, UNNEST(range(1, len(bounds) + 1)) AS t(i)),
        |c AS (SELECT e.typ, u.i, u.ub,
        |    CAST(sum(CASE WHEN e.v <= u.ub THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS cum
        |  FROM e JOIN u USING (typ) GROUP BY 1, 2, 3),
        |tot AS (SELECT typ, CAST(count(*) AS DOUBLE) AS cnt
        |  FROM e GROUP BY 1),
        |w AS (SELECT c.typ, c.i, c.ub, c.cum,
        |    lag(c.cum, 1, CAST(0 AS DOUBLE))
        |      OVER (PARTITION BY c.typ ORDER BY c.i) AS pc,
        |    lag(c.ub, 1, CAST(0 AS DOUBLE))
        |      OVER (PARTITION BY c.typ ORDER BY c.i) AS lb
        |  FROM c),
        |fh AS (SELECT typ, pc + (150.0 - lb) / (ub - lb) * (cum - pc)
        |      AS fx, row_number() OVER (PARTITION BY typ ORDER BY i) AS rn
        |  FROM w WHERE ub >= 150.0),
        |fl AS (SELECT typ, pc + (50.0 - lb) / (ub - lb) * (cum - pc)
        |      AS fx, row_number() OVER (PARTITION BY typ ORDER BY i) AS rn
        |  FROM w WHERE ub >= 50.0)
        |SELECT t.typ,
        |  floor((COALESCE(h.fx, t.cnt) - COALESCE(l.fx, t.cnt)) / t.cnt
        |    * 1e4 + 0.5) / 1e4 AS frac_50_150
        |FROM tot t
        |LEFT JOIN (SELECT typ, fx FROM fh WHERE rn = 1) h USING (typ)
        |LEFT JOIN (SELECT typ, fx FROM fl WHERE rn = 1) l USING (typ)"""
        .stripMargin)),
    // variable-width stats: dyadic-exact avg; variance terms built per
    // bucket IN INDEX ORDER and left-folded with list_reduce (the same
    // association order as Spark's aggregate()); +Inf mass at the top
    Gate("promql_nhcb_var_stats", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // avg (dyadic _sum — exact both engines) and stddev (arithmetic
      // midpoints over the metric's OWN width; the indexed-transform
      // left fold keeps DuckDB's list_reduce association order)
      val avg = promql.NativeHist.evalNhcb(s, dir,
        """histogram_avg({typ=~".*"})""",
        "2024-01-08 00:00:00", corpus = "var")
        .select(col("typ"), (floor(col("value") * 1e4 + 0.5) / 1e4)
          .as("h_avg"))
      val sd = promql.NativeHist.evalNhcb(s, dir,
        """histogram_stddev({typ=~".*"})""",
        "2024-01-08 00:00:00", corpus = "var")
        .select(col("typ"), (floor(col("value") * 1e4 + 0.5) / 1e4)
          .as("h_stddev"))
      avg.join(sd, Seq("typ"))
    }), Oracle(
      """WITH e AS (SELECT event_type AS typ, value AS v FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-08 00:00:00'),
        |lad AS (SELECT typ,
        |    (CASE WHEN typ = 'purchase' THEN [20, 40, 80, 160, 320, 640]
        |          WHEN typ = 'error' THEN [30, 90, 270]
        |          ELSE [25, 50, 100, 200] END)::DOUBLE[] AS bounds
        |  FROM (SELECT DISTINCT typ FROM e)),
        |u AS (SELECT typ, i, bounds[i] AS ub
        |  FROM lad, UNNEST(range(1, len(bounds) + 1)) AS t(i)),
        |c AS (SELECT e.typ, u.i, u.ub,
        |    CAST(sum(CASE WHEN e.v <= u.ub THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS cum
        |  FROM e JOIN u USING (typ) GROUP BY 1, 2, 3),
        |tot AS (SELECT typ, CAST(count(*) AS DOUBLE) AS cnt,
        |    sum(floor(v * 1048576.0 + 0.5) / 1048576.0) AS hsum
        |  FROM e GROUP BY 1),
        |w AS (SELECT c.typ, c.i, c.ub, c.cum,
        |    lag(c.cum, 1, CAST(0 AS DOUBLE))
        |      OVER (PARTITION BY c.typ ORDER BY c.i) AS pc,
        |    lag(c.ub, 1, CAST(0 AS DOUBLE))
        |      OVER (PARTITION BY c.typ ORDER BY c.i) AS lb,
        |    t.hsum / t.cnt AS mean
        |  FROM c JOIN tot t USING (typ)),
        |terms AS (SELECT typ,
        |    list((cum - pc) * ((lb + ub) / 2.0 - mean)
        |      * ((lb + ub) / 2.0 - mean) ORDER BY i) AS ts,
        |    max(cum) AS topcum, max(ub) AS topb, max(mean) AS mean
        |  FROM w GROUP BY 1)
        |SELECT t.typ,
        |  floor(t.hsum / t.cnt * 1e4 + 0.5) / 1e4 AS h_avg,
        |  floor(sqrt((list_reduce(x.ts, (a, b) -> a + b)
        |      + (t.cnt - x.topcum) * (x.topb - x.mean) * (x.topb - x.mean))
        |    / t.cnt) * 1e4 + 0.5) / 1e4 AS h_stddev
        |FROM tot t JOIN terms x USING (typ)""".stripMargin)),
    // infix atan2 with 1:1 matching on usr; exact-count operands
    Gate("promql_atan2", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // infix atan2 with default 1:1 vector matching on (usr); both
      // operands exact counts, output quantized 1e-4 on both sides
      promql.PromQl.eval(s, dir,
        """sum by (usr) (count_over_time({typ="click"}[30d]))
          | atan2 sum by (usr) (count_over_time({typ="view"}[30d]))""".stripMargin,
        "2024-01-31 00:00:00")
        .select(col("usr"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1),
        |v AS (SELECT CAST(user_id AS VARCHAR) AS usr,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events
        |  WHERE event_type = 'view'
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1)
        |SELECT c.usr, floor(atan2(c.n, v.n) * 1e4 + 0.5) / 1e4 AS value
        |FROM c JOIN v ON c.usr = v.usr""".stripMargin)),
    Gate("promql_agg_quantile", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """quantile by (typ) (0.5, last_over_time({typ=~".*"}[30d]))""",
        "2024-01-31 00:00:00")
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH lastv AS (
        |  SELECT event_type AS typ, value FROM (
        |    SELECT event_type, value,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events
        |    WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |      AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |  WHERE rn = 1)
        |SELECT typ, floor(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS value
        |FROM lastv GROUP BY 1""".stripMargin)),
    Gate("promql_agg_stddev", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """stddev by (typ) (last_over_time({typ=~".*"}[30d]))""",
        "2024-01-31 00:00:00")
        .select(col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH lastv AS (
        |  SELECT event_type AS typ, value FROM (
        |    SELECT event_type, value,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events
        |    WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |      AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |  WHERE rn = 1)
        |SELECT typ, floor(stddev_pop(value) * 10000 + 0.5) / 10000 AS value
        |FROM lastv GROUP BY 1""".stripMargin)),
    Gate("promql_agg_stdvar", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """stdvar by (usr) (last_over_time({usr<="3"}[30d]))""",
        "2024-01-31 00:00:00")
        .select(col("usr"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH lastv AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, value FROM (
        |    SELECT user_id, value,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events
        |    WHERE CAST(user_id AS VARCHAR) <= '3'
        |      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |      AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |  WHERE rn = 1)
        |SELECT usr, floor(var_pop(value) * 10000 + 0.5) / 10000 AS value
        |FROM lastv GROUP BY 1""".stripMargin)),
    Gate("promql_agg_group", ((s: SparkSession, dir: String) => {
      promql.PromQl.eval(s, dir,
        """group by (usr) (last_over_time({typ=~".*"}[30d]))""",
        "2024-01-31 00:00:00")
    }), Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr,
        |  CAST(1 AS DOUBLE) AS value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'""".stripMargin)),
    Gate("promql_count_values", ((s: SparkSession, dir: String) => {
      // count_values: decade buckets of the last values as a dynamic label
      promql.PromQl.eval(s, dir,
        """count_values("bucket", floor(last_over_time({typ=~".*"}[30d]) / 10))""",
        "2024-01-31 00:00:00")
    }), Oracle(
      """WITH lastv AS (
        |  SELECT value FROM (
        |    SELECT value,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events
        |    WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |      AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |  WHERE rn = 1)
        |SELECT CAST(CAST(floor(value / 10) AS BIGINT) AS VARCHAR) AS bucket,
        |  CAST(count(*) AS DOUBLE) AS value
        |FROM lastv GROUP BY 1""".stripMargin)),
    // deriv/predict_linear: the same least-squares moment sums as the
    // Spark plan (x = seconds before the eval timestamp 1706659200 =
    // 2024-01-31, divided before subtraction on both sides so x is
    // bit-identical; only the summation order differs → quantized)
    Gate("promql_deriv", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // per-day least-squares trend of the click series
      promql.PromQl.eval(s, dir,
        """deriv({typ="click"}[30d]) * 86400""", "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH w AS (
        |  SELECT user_id, value,
        |    epoch_us(ts) / 1000000.0 - 1706659200 AS x
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'),
        |m AS (
        |  SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(value) AS sy,
        |    sum(x * x) AS sxx, sum(x * value) AS sxy
        |  FROM w GROUP BY 1)
        |SELECT CAST(user_id AS VARCHAR) AS usr, 'click' AS typ,
        |  floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400
        |    * 10000 + 0.5) / 10000 AS value
        |FROM m WHERE n >= 2 AND n * sxx - sx * sx <> 0""".stripMargin)),
    Gate("promql_predict", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """predict_linear({typ="view"}[30d], 86400)""", "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH w AS (
        |  SELECT user_id, value,
        |    epoch_us(ts) / 1000000.0 - 1706659200 AS x
        |  FROM events
        |  WHERE event_type = 'view'
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'),
        |m AS (
        |  SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(value) AS sy,
        |    sum(x * x) AS sxx, sum(x * value) AS sxy
        |  FROM w GROUP BY 1),
        |s AS (
        |  SELECT user_id, n, sx, sy,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
        |  FROM m WHERE n >= 2 AND n * sxx - sx * sx <> 0)
        |SELECT CAST(user_id AS VARCHAR) AS usr, 'view' AS typ,
        |  floor(((sy - slope * sx) / n + slope * 86400)
        |    * 10000 + 0.5) / 10000 AS value
        |FROM s""".stripMargin)),
    Gate("promql_irate", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """irate({typ="purchase"}[30d]) * 3600""", "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH w AS (
        |  SELECT user_id, value, epoch_us(ts) AS us, event_id,
        |    lag(value) OVER (PARTITION BY user_id
        |                     ORDER BY ts, event_id) AS prev,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS pus
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'),
        |p AS (
        |  SELECT user_id,
        |    (CASE WHEN value - prev >= 0 THEN value - prev ELSE value END)
        |      / ((us - pus) / 1000000.0) AS r,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY us DESC, event_id DESC) AS rn
        |  FROM w WHERE prev IS NOT NULL AND us > pus)
        |SELECT CAST(user_id AS VARCHAR) AS usr, 'purchase' AS typ,
        |  floor(r * 3600 * 10000 + 0.5) / 10000 AS value
        |FROM p WHERE rn = 1""".stripMargin)),
    Gate("promql_at", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      // @ modifier (B25): the selector window is anchored at 2024-01-30
      // regardless of the evaluation time
      promql.PromQl.eval(s, dir,
        """last_over_time({typ="click"}[1d] @ 1706572800)""",
        "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"), round(col("value"), 2).as("value"))
    }), Oracle(
      """SELECT usr, typ, value FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    round(value, 2) AS value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-29 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-30 00:00:00')
        |WHERE rn = 1""".stripMargin)),
    Gate("promql_vector_time", ((s: SparkSession, dir: String) => {
      // time()/vector(): scalar arithmetic on the eval timestamp, then a
      // no-label vector broadcast onto the per-user counts
      promql.PromQl.eval(s, dir,
        """sum by (usr) (count_over_time({typ=~".*"}[30d]))
          | / vector(time() - 1706659100)""".stripMargin,
        "2024-01-31 00:00:00")
    }), Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr,
        |  count(*) / 100.0 AS value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1""".stripMargin)),
    Gate("promql_round", ((s: SparkSession, dir: String) => {
      // round-to-multiple on exact per-type counts (identical FP on both
      // engines: counts are exact, the division and round are one form)
      promql.PromQl.eval(s, dir,
        """round(sum by (typ) (count_over_time({typ=~".*"}[30d])) / 7, 0.5)""",
        "2024-01-31 00:00:00")
    }), Oracle(
      """SELECT event_type AS typ,
        |  floor((count(*) / 7.0) / 0.5 + 0.5) * 0.5 AS value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1""".stripMargin)),
    Gate("promql_bool", ((s: SparkSession, dir: String) => {
      // `> bool`: 0/1 map instead of filtering — every matched series
      // keeps a row
      promql.PromQl.eval(s, dir,
        """max_over_time({usr<="3"}[30d]) > bool 50""", "2024-01-31 00:00:00")
    }), Oracle(
      """SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |  CASE WHEN max(value) > 50 THEN 1.0 ELSE 0.0 END AS value
        |FROM events
        |WHERE CAST(user_id AS VARCHAR) <= '3'
        |  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1, 2""".stripMargin)),
    Gate("promql_present", ((s: SparkSession, dir: String) =>
      promql.PromQl.eval(s, dir,
        """present_over_time({typ="click"}[1d])""", "2024-01-31 00:00:00")), Oracle(
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS usr,
        |  event_type AS typ, 1.0 AS value
        |FROM events
        |WHERE event_type = 'click'
        |  AND ts >= TIMESTAMP '2024-01-30 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-31 00:00:00'""".stripMargin)),
    Gate("promql_mad", ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions._
      promql.PromQl.eval(s, dir,
        """mad_over_time({typ="view"}[30d])""", "2024-01-31 00:00:00")
        .select(col("usr"), col("typ"),
          (floor(col("value") * 1e4 + 0.5) / 1e4).as("value"))
    }), Oracle(
      """WITH w AS (
        |  SELECT user_id, value FROM events
        |  WHERE event_type = 'view'
        |    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'),
        |m AS (SELECT user_id, quantile_cont(value, 0.5) AS med
        |      FROM w GROUP BY 1)
        |SELECT CAST(w.user_id AS VARCHAR) AS usr, 'view' AS typ,
        |  floor(quantile_cont(abs(w.value - m.med), 0.5) * 10000 + 0.5)
        |    / 10000 AS value
        |FROM w JOIN m ON m.user_id = w.user_id
        |GROUP BY 1, 2""".stripMargin)),
    // timestamp(): epoch_us/1e6 is the identical division on both sides
    // of the same sample, so the double is bit-equal — no quantization
    Gate("promql_timestamp", ((s: SparkSession, dir: String) =>
      promql.PromQl.eval(s, dir,
        """timestamp({typ="click"})""", "2024-01-31 00:00:00")), Oracle(
      """SELECT usr, typ, value FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    epoch_us(ts) / 1000000.0 AS value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-30 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |WHERE rn = 1""".stripMargin)),
    Gate("promql_topk_by", ((s: SparkSession, dir: String) =>
      // grouped ranking: top-2 users PER TYPE (k winners per by-group)
      promql.PromQl.eval(s, dir,
        """topk by (typ) (2, sum by (usr, typ) (count_over_time({typ=~".*"}[30d])))""",
        "2024-01-31 00:00:00")), Oracle(
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    CAST(count(*) AS DOUBLE) AS value
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00'
        |  GROUP BY 1, 2)
        |SELECT usr, typ, value FROM (
        |  SELECT usr, typ, value,
        |    row_number() OVER (PARTITION BY typ
        |                       ORDER BY value DESC, usr ASC) AS rn
        |  FROM c)
        |WHERE rn <= 2""".stripMargin)),
    Gate("promql_absent_ot", ((s: SparkSession, dir: String) =>
      promql.PromQl.eval(s, dir,
        """absent_over_time({typ="nonexistent"}[7d])""", "2024-01-31 00:00:00")), Oracle(
      """SELECT 'nonexistent' AS typ, CAST(1 AS DOUBLE) AS value
        |WHERE NOT EXISTS (SELECT 1 FROM events
        |  WHERE event_type = 'nonexistent'
        |    AND ts >= TIMESTAMP '2024-01-24 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00')""".stripMargin)),
    Gate("promql_hour", ((s: SparkSession, dir: String) =>
      // calendar component of the sample's own timestamp (UTC)
      promql.PromQl.eval(s, dir,
        """hour(timestamp({typ="click"}))""", "2024-01-31 00:00:00")), Oracle(
      """SELECT usr, typ, value FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    CAST(hour(ts) AS DOUBLE) AS value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-30 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |WHERE rn = 1""".stripMargin)),
    Gate("promql_dow", ((s: SparkSession, dir: String) =>
      promql.PromQl.eval(s, dir,
        """day_of_week(timestamp({typ="view"}))""", "2024-01-31 00:00:00")), Oracle(
      """SELECT usr, typ, value FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
        |    CAST(dayofweek(ts) AS DOUBLE) AS value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_type = 'view'
        |    AND ts >= TIMESTAMP '2024-01-30 00:00:00'
        |    AND ts <= TIMESTAMP '2024-01-31 00:00:00')
        |WHERE rn = 1""".stripMargin)),
    // range-query subquery: one inner daily grid (anchored 2024-01-06 =
    // first outer window start, 9 points), inner points assigned to the
    // outer windows [T_i-2d, T_i] they fall in, outer max per typ
    Gate("promql_range_subquery", ((s: SparkSession, dir: String) =>
      // subqueries through /query_range: peak daily count per type,
      // re-evaluated at every outer grid timestamp over its own window
      promql.PromQl.evalRange(s, dir,
        """max_over_time(sum by (typ) (count_over_time({typ=~".*"}[1d]))[2d:1d])""",
        "2024-01-08 00:00:00", "2024-01-14 00:00:00", 86400L)), Oracle(
      """WITH og AS (SELECT unnest(generate_series(0, 6)) AS oi),
        |ig AS (SELECT unnest(generate_series(0, 8)) AS ii),
        |iv AS (SELECT e.event_type AS typ, ig.ii, count(*) AS n
        |  FROM events e, ig
        |  WHERE epoch_us(e.ts) >= 1704499200000000 + ig.ii*86400000000
        |        - 86400000000
        |    AND epoch_us(e.ts) <= 1704499200000000 + ig.ii*86400000000
        |  GROUP BY 1, 2),
        |asg AS (SELECT iv.typ, og.oi, iv.n
        |  FROM iv, og
        |  WHERE 1704499200000000 + iv.ii*86400000000
        |        >= 1704672000000000 + og.oi*86400000000 - 172800000000
        |    AND 1704499200000000 + iv.ii*86400000000
        |        <= 1704672000000000 + og.oi*86400000000)
        |SELECT typ, 1704672000 + oi * 86400 AS t_sec,
        |  CAST(max(n) AS DOUBLE) AS value
        |FROM asg GROUP BY 1, 2""".stripMargin)),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  lazy val oracleSql: Map[String, String] =
    gates.collect { case Gate(n, _, Oracle(sql)) => n -> sql }.toMap

  /** The gates without an oracle, each with its reason. */
  lazy val rowsOnly: Map[String, String] =
    gates.collect { case Gate(n, _, RowsOnly(why)) => n -> why }.toMap

  // io_timetravel and io_timetravel_dsv2: the two commit-log cuts
  private val ioTimetravelSql: String =
    """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE epoch_us(ts) < 1705795200000000),
        |v1 AS (
        |  SELECT CAST(1 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src GROUP BY 2),
        |v2 AS (
        |  SELECT CAST(2 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src WHERE typ <> 'purchase' GROUP BY 2)
        |SELECT * FROM v1 UNION ALL SELECT * FROM v2""".stripMargin

  // io_skipping and io_skipping_dsv2: the stats-skipping band
  private val ioSkippingSql: String =
    """SELECT event_type AS typ, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE epoch_us(ts) >= 1704672000000000
        |  AND epoch_us(ts) < 1705190400000000
        |GROUP BY 1""".stripMargin

  // io_dv and io_dv_dsv2: the three deletion-vector cuts
  private val ioDvSql: String =
    """WITH src AS (
        |  SELECT event_type AS typ, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |v0 AS (
        |  SELECT CAST(0 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src GROUP BY 2),
        |v1 AS (
        |  SELECT CAST(1 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src WHERE NOT (typ = 'error' AND event_id % 7 = 0)
        |  GROUP BY 2),
        |v2 AS (
        |  SELECT CAST(2 AS BIGINT) AS version, typ, count(*) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id, max(event_id) AS max_id
        |  FROM src WHERE NOT (typ = 'error' AND event_id % 7 = 0)
        |    AND typ <> 'purchase'
        |  GROUP BY 2)
        |SELECT * FROM v0 UNION ALL SELECT * FROM v1
        |UNION ALL SELECT * FROM v2""".stripMargin

  /** Exact word-3-gram Jaccard pairs ≥ 0.8 — the oracle for both the
    * exact candidate-join implementation (D4) and the MinHash+LSH path
    * (D2), whose verified output equals the exact pairs at this
    * banding configuration.
    */
  /** F17 oracle: 10 unrolled power-iteration blocks (recursive CTEs
    * can't aggregate over the recursive relation portably). The e0
    * suffix forces DOUBLE literals (DuckDB parses bare decimals as
    * DECIMAL); every contribution and rank is quantized to the dyadic
    * 2^-20 grid in the same operation order as the Spark side, so the
    * iteration is bit-exact on both engines.
    */
  private val domainRankSql: String = {
    val base =
      """WITH doc0 AS (SELECT doc_id, 'site' || (doc_id % 37) AS src,
        |    ['site' || ((doc_id * 7 + 3) % 37),
        |     'site' || ((doc_id * 11 + 5) % 37)] AS dsts
        |  FROM documents),
        |rawl AS (SELECT src, unnest(dsts) AS dst FROM doc0),
        |rawf AS (SELECT src, dst FROM rawl WHERE src <> dst),
        |edges AS (SELECT src, dst, count(*) AS w FROM rawf GROUP BY 1, 2),
        |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow
        |  FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT domain FROM (
        |  SELECT src AS domain FROM edges
        |  UNION ALL SELECT dst AS domain FROM edges)),
        |pr0 AS (SELECT domain, 1.0e0 / 37.0e0 AS rank FROM nodes)""".stripMargin
    val iters = (1 to 10).map { i =>
      s"""pr$i AS (SELECT n.domain,
         |    floor((0.15e0 / 37.0e0 + 0.85e0 * coalesce(c.s, 0.0e0))
         |      * 1048576.0e0 + 0.5e0) / 1048576.0e0 AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS domain,
         |      sum(floor(p.rank * e.w / o.ow * 1048576.0e0 + 0.5e0)
         |        / 1048576.0e0) AS s
         |    FROM pr${i - 1} p JOIN edges e ON e.src = p.domain
         |    JOIN outw o ON o.src = p.domain
         |    GROUP BY 1) c ON c.domain = n.domain)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    base + iters +
      """SELECT p.domain, p.rank, o.ow AS n_out
        |FROM pr10 p LEFT JOIN outw o ON o.src = p.domain""".stripMargin
  }

  private val bm25Sql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
        |  FROM dl),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |qt AS (SELECT DISTINCT qid, w FROM (
        |  SELECT doc_id AS qid, unnest((string_split(text, ' '))[1:4]) AS w
        |  FROM documents WHERE doc_id % 101 = 0)),
        |sc AS (SELECT q.qid, tf.doc_id,
        |    ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |      * (tf.tf * 2.2)
        |      / (tf.tf + 1.2 * (0.25 + 0.75
        |          * (dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))) AS contrib
        |  FROM qt q JOIN tf ON tf.w = q.w
        |  JOIN dfreq d ON d.w = q.w
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN stats s),
        |agg AS (SELECT qid, doc_id,
        |    sum(floor(contrib * 1048576 + 0.5) / 1048576) AS sq
        |  FROM sc GROUP BY 1, 2),
        |r AS (SELECT qid, doc_id, sq, row_number() OVER (PARTITION BY qid
        |    ORDER BY sq DESC, lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS rk
        |  FROM agg)
        |SELECT qid, rk, doc_id, floor(sq * 10000 + 0.5) / 10000 AS score
        |FROM r WHERE rk <= 10""".stripMargin

  /** E14 oracle: the greedy k-center unrolled — round r's per-vector
    * distance is least(previous, dist-to-center r), the next pick the
    * (dist DESC, vec_id ASC) head among unchosen; distances over the
    * 2⁻²⁰-quantized unit vectors are exact dyadic sums, so selection
    * replays bit-for-bit (the ann_centroid quantization precedent).
    */
  private val kcenterSql: String = {
    val k = 8
    val dot = (a: String, b: String) =>
      s"list_sum(list_transform(range(1, 65), i -> $a.u[i] * $b.u[i]))"
    val sb = new StringBuilder
    // MATERIALIZED: without it DuckDB inlines each d_r into BOTH its
    // consumers (p_r and d_{r+1}), re-evaluating the whole chain 2^k
    // times — materialization makes the replay linear in k
    sb ++= """WITH v AS MATERIALIZED (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |n AS MATERIALIZED (SELECT vec_id, e,
      |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
      |uu AS MATERIALIZED (SELECT vec_id,
      |    list_transform(e, x -> floor(x / nrm * 1048576.0 + 0.5) / 1048576.0)
      |      AS u FROM n),
      |c1 AS MATERIALIZED (SELECT vec_id, u FROM uu ORDER BY vec_id LIMIT 1),
      |""".stripMargin
    sb ++= s"d1 AS MATERIALIZED (SELECT uu.vec_id, uu.u, 1.0 - ${dot("uu", "c1")} AS dist FROM uu, c1),\n"
    for (r <- 2 to k) {
      val excl = (Seq("c1") ++ (2 until r).map(i => s"p$i"))
        .map(t => s"SELECT vec_id FROM $t").mkString(" UNION ALL ")
      sb ++= s"p$r AS MATERIALIZED (SELECT vec_id, u, dist FROM d${r - 1} " +
        s"WHERE vec_id NOT IN ($excl) ORDER BY dist DESC, vec_id LIMIT 1)" +
        (if (r < k) ",\n" else "\n")
      if (r < k)
        sb ++= s"d$r AS MATERIALIZED (SELECT d.vec_id, d.u, least(d.dist, 1.0 - " +
          s"${dot("d", s"p$r")}) AS dist FROM d${r - 1} d, p$r),\n"
    }
    val picks = Seq("SELECT CAST(1 AS BIGINT) AS pick, vec_id, " +
      "CAST(0.0 AS DOUBLE) AS dist FROM c1") ++
      (2 to k).map(r => s"SELECT CAST($r AS BIGINT) AS pick, vec_id, " +
        s"floor(dist * 10000 + 0.5) / 10000 AS dist FROM p$r")
    sb ++= picks.mkString("", "\nUNION ALL ", "")
    sb.toString
  }

  // E15 MMR replay: candidate top-16 per query, then the k=4 greedy
  // unrolled (MATERIALIZED, the kcenterSql discipline — inlining would
  // re-evaluate the chain 2^k times). λ = 1/2 keeps scores dyadic.
  private val mmrSql: String = {
    val k = 4
    val dot = (a: String, b: String) =>
      s"list_sum(list_transform(range(1, 65), i -> $a.u[i] * $b.u[i]))"
    val sb = new StringBuilder
    sb ++= """WITH v AS MATERIALIZED (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |n AS MATERIALIZED (SELECT vec_id, e,
      |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
      |uu AS MATERIALIZED (SELECT vec_id,
      |    list_transform(e, x -> floor(x / nrm * 1048576.0 + 0.5) / 1048576.0)
      |      AS u FROM n),
      |qq AS MATERIALIZED (SELECT vec_id AS qid, u FROM uu
      |  WHERE vec_id % 97 = 0),
      |""".stripMargin
    sb ++= s"cand0 AS MATERIALIZED (SELECT qq.qid, d.vec_id, d.u AS u, " +
      s"${dot("qq", "d")} AS rel FROM qq, uu d WHERE d.vec_id <> qq.qid),\n"
    sb ++= "cand AS MATERIALIZED (SELECT qid, vec_id, u, rel FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY qid " +
      "ORDER BY rel DESC, vec_id) AS rn FROM cand0) WHERE rn <= 16),\n"
    sb ++= "m0 AS MATERIALIZED (SELECT qid, vec_id, u, rel, " +
      "0.0 AS ms FROM cand),\n"
    for (r <- 1 to k) {
      sb ++= s"s$r AS MATERIALIZED (SELECT qid, vec_id, u, " +
        s"0.5*rel - 0.5*ms AS score FROM m${r - 1} " +
        s"QUALIFY row_number() OVER (PARTITION BY qid " +
        s"ORDER BY 0.5*rel - 0.5*ms DESC, vec_id) = 1)" +
        (if (r < k) ",\n" else "\n")
      if (r < k)
        sb ++= s"m$r AS MATERIALIZED (SELECT m.qid, m.vec_id, m.u, m.rel, " +
          s"greatest(m.ms, ${dot("m", "s")}) AS ms " +
          s"FROM m${r - 1} m JOIN s$r s " +
          s"ON s.qid = m.qid AND s.vec_id <> m.vec_id),\n"
    }
    sb ++= (1 to k).map(r => s"SELECT qid, CAST($r AS BIGINT) AS pick, " +
      s"vec_id, floor(score * 10000 + 0.5) / 10000 AS score FROM s$r")
      .mkString("", "\nUNION ALL ", "")
    sb.toString
  }

  // B52 + H25 share one replay: the live serving loop must produce
  // the batch gapfill grid verbatim
  // B53/H26: the 3-week daily dashboard computed from RAW events —
  // the Spark side serves it from the landed 1h rollup tier (batch)
  // or the stream-maintained tier (H26), so the shared oracle proves
  // the tier is a lossless rollup, not merely self-consistent.
  // last_v is the full (µs, event_id)-ordered last sample of the day.
  private val rollupDailySql: String =
    """WITH d AS (
      |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
      |    (epoch_us(ts)//1000000 - (epoch_us(ts)//1000000) % 86400)
      |      AS day_sec,
      |    epoch_us(ts) AS us, value, event_id
      |  FROM events
      |  WHERE epoch_us(ts)//1000000 >= 1704067200
      |    AND epoch_us(ts)//1000000 < 1704067200 + 21*86400),
      |a AS (
      |  SELECT usr, typ, day_sec, count(*) AS n,
      |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS sum_cents,
      |    min(value) AS vmin, max(value) AS vmax
      |  FROM d GROUP BY 1, 2, 3),
      |l AS (
      |  SELECT usr, typ, day_sec, value AS last_v FROM (
      |    SELECT usr, typ, day_sec, value,
      |      row_number() OVER (PARTITION BY usr, typ, day_sec
      |                         ORDER BY us DESC, event_id DESC) AS rn
      |    FROM d) WHERE rn = 1)
      |SELECT a.usr, a.typ, a.day_sec, a.n, a.sum_cents,
      |  a.vmin, a.vmax, l.last_v
      |FROM a JOIN l ON a.usr = l.usr AND a.typ = l.typ
      |  AND a.day_sec = l.day_sec""".stripMargin

  // E10/E16: label-constrained exact scan (pre-filter semantics)
  private val annFilteredSql: String =
    """WITH v AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, e,
      |    sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v),
      |q AS (SELECT vec_id AS query_id, label, e AS qe, nrm AS qn
      |  FROM n WHERE vec_id < 10),
      |scored AS (SELECT q.query_id, q.label, n.vec_id AS neighbor_id,
      |    round(list_sum(list_transform(range(1, 65),
      |      i -> q.qe[i]*n.e[i])) / (q.qn*n.nrm), 4) AS cs
      |  FROM q JOIN n ON n.vec_id <> q.query_id AND n.label = q.label)
      |SELECT query_id, label, rk, neighbor_id, cs FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cs DESC, neighbor_id) AS rk FROM scored)
      |WHERE rk <= 5""".stripMargin

  // A22/H28: per-day series births/deaths/net from the catalog bounds
  private val churnSql: String =
    """WITH s AS (
      |  SELECT CAST(user_id AS VARCHAR) AS usr, event_type AS typ,
      |    min(strftime(ts, '%Y-%m-%d')) AS fd,
      |    max(strftime(ts, '%Y-%m-%d')) AS ld
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT fd AS day, count(*) AS born FROM s GROUP BY 1),
      |d AS (SELECT ld AS day, count(*) AS died FROM s GROUP BY 1),
      |j AS (
      |  SELECT coalesce(b.day, d.day) AS day,
      |    coalesce(born, 0) AS born, coalesce(died, 0) AS died
      |  FROM b FULL OUTER JOIN d ON b.day = d.day)
      |SELECT day, CAST(born AS BIGINT) AS born, CAST(died AS BIGINT) AS died,
      |  CAST(sum(born - died) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS open_after
      |FROM j""".stripMargin

  // C27/H27: priority sampling — the oracle replays the EXACT draw
  // (dyadic hash uniform, one IEEE division), doubles included; the
  // streaming bounded-heap sample must reproduce it bit-for-bit.
  private val wsampleSql: String =
    """WITH h AS (SELECT doc_id, n_chars,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split_regex(CAST(doc_id AS VARCHAR), ''),
      |        ch -> CAST(ascii(ch) AS BIGINT))),
      |      (a, x) -> (a * 131 + x) % 1000000007) AS h1,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(string_split_regex(CAST(doc_id AS VARCHAR), ''),
      |        ch -> CAST(ascii(ch) AS BIGINT))),
      |      (a, x) -> (a * 137 + x) % 998244353) AS h2
      |  FROM documents),
      |p AS (SELECT doc_id, n_chars,
      |    CAST(n_chars AS DOUBLE) /
      |      (CAST((h1 * 2147483648 + h2) % 1099511627776 + 1 AS DOUBLE)
      |        / 1099511627776.0) AS priority
      |  FROM h),
      |r AS (SELECT doc_id, n_chars, priority,
      |    row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
      |  FROM p),
      |t AS (SELECT priority AS tau FROM r WHERE rn = 201)
      |SELECT r.doc_id, r.n_chars, r.priority,
      |  greatest(CAST(r.n_chars AS DOUBLE), t.tau) AS w_hat
      |FROM r, t WHERE r.rn <= 200""".stripMargin

  private val gapfillSql: String =
    """WITH e AS (
      |  SELECT CAST(user_id AS VARCHAR) AS usr,
      |    (epoch_us(ts)//1000000 - (epoch_us(ts)//1000000) % 3600) AS h_sec,
      |    value
      |  FROM events
      |  WHERE event_type = 'purchase' AND user_id <= 3
      |    AND epoch_us(ts)//1000000 >= 1704067200
      |    AND epoch_us(ts)//1000000 < 1704067200 + 168*3600),
      |o AS (SELECT usr, h_sec, max(value) AS mx FROM e GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.usr, 1704067200 + g.i*3600 AS h_sec
      |  FROM (SELECT DISTINCT usr FROM e) s,
      |    (SELECT unnest(generate_series(0, 167)) AS i) g),
      |j AS (
      |  SELECT grid.usr, grid.h_sec, o.mx
      |  FROM grid LEFT JOIN o ON grid.usr = o.usr AND grid.h_sec = o.h_sec),
      |f AS (
      |  SELECT usr, h_sec, mx,
      |    last_value(mx IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN mx IS NOT NULL THEN h_sec END IGNORE NULLS)
      |      OVER wp AS ph,
      |    first_value(mx IGNORE NULLS) OVER wf AS nv,
      |    first_value(CASE WHEN mx IS NOT NULL THEN h_sec END IGNORE NULLS)
      |      OVER wf AS nh
      |  FROM j
      |  WINDOW wp AS (PARTITION BY usr ORDER BY h_sec
      |                ROWS UNBOUNDED PRECEDING),
      |         wf AS (PARTITION BY usr ORDER BY h_sec
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT usr, h_sec,
      |  floor(mx * 10000 + 0.5) / 10000 AS observed,
      |  floor(pv * 10000 + 0.5) / 10000 AS locf,
      |  CASE WHEN mx IS NOT NULL THEN floor(mx * 10000 + 0.5) / 10000
      |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
      |         floor((pv + (nv - pv) * (CAST(h_sec - ph AS DOUBLE) / (nh - ph)))
      |           * 10000 + 0.5) / 10000
      |       ELSE NULL END AS interp
      |FROM f""".stripMargin

  // F33 BPE replay: k greedy merge rounds over the word-FREQUENCY
  // table (MATERIALIZED — the kcenterSql discipline: inlining would
  // re-evaluate the chain 2^k times). Every token is delimited on
  // BOTH sides by chr(1) inside wtok, so replace() is exact-token
  // left-to-right non-overlapping fusion — the same semantics as the
  // trainer's vector fold.
  private def bpeRoundsSql(k: Int): String = {
    val sb = new StringBuilder
    // `tr` replays bpeTrain's min-count floor (the fastBPE hapax prune
    // that bounds the trainer's driver state): merge SELECTION counts
    // only floored words, while the replace chain — and therefore the
    // encode vocabulary — still covers every word
    sb ++= """WITH wf AS MATERIALIZED (SELECT w, count(*) AS cnt,
      |    count(*) >= 2 AS tr FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) >= 1 GROUP BY 1),
      |w0 AS MATERIALIZED (SELECT w, cnt, tr,
      |    list_aggregate(list_transform(string_split_regex(w, ''),
      |      c -> chr(1)||c||chr(1)), 'string_agg', '') AS wtok FROM wf)""".stripMargin
    for (r <- 1 to k) {
      sb ++= s""",
        |pr$r AS (SELECT cnt, unnest(list_transform(range(1, len(toks)),
        |    i -> struct_pack(f := toks[i], t := toks[i+1]))) AS pr
        |  FROM (SELECT cnt, string_split(trim(wtok, chr(1)),
        |      chr(1)||chr(1)) AS toks FROM w${r - 1} WHERE tr)),
        |m$r AS MATERIALIZED (SELECT pr.f AS f, pr.t AS t, sum(cnt) AS n
        |  FROM pr$r GROUP BY 1, 2 ORDER BY n DESC, f, t LIMIT 1),
        |w$r AS MATERIALIZED (SELECT w, cnt, tr,
        |    replace(wtok, chr(1)||m.f||chr(1)||chr(1)||m.t||chr(1),
        |      chr(1)||m.f||m.t||chr(1)) AS wtok FROM w${r - 1}, m$r m)""".stripMargin
    }
    sb.toString
  }

  private val bpeMergesSql: String =
    bpeRoundsSql(8) + "\n" + (1 to 8).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rk, f, t, CAST(n AS BIGINT) AS n FROM m$r")
      .mkString("\nUNION ALL ")

  private val bpeEncodeSql: String =
    bpeRoundsSql(8) + s""",
      |v AS (SELECT w,
      |    (length(wtok) - length(replace(wtok, chr(1), ''))) // 2 AS n_tok
      |  FROM w8),
      |d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |d2 AS (SELECT doc_id, d.w AS w, n_tok FROM d JOIN v ON d.w = v.w
      |  WHERE length(d.w) >= 1)
      |SELECT doc_id, count(*) AS n_words,
      |  CAST(sum(length(w)) AS BIGINT) AS n_chars_tok,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  floor(CAST(sum(n_tok) AS DOUBLE) / CAST(sum(length(w)) AS DOUBLE)
      |    * 1e4 + 0.5) / 1e4 AS ratio
      |FROM d2 GROUP BY 1""".stripMargin

  private val exactJaccardSql: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM words),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (SELECT ia, ib,
      |    round(c * 1.0 / (ca.n + cb.n - c), 4) AS j
      |  FROM pairs
      |  JOIN cnt ca ON ca.doc_id = ia
      |  JOIN cnt cb ON cb.doc_id = ib)
      |SELECT ia, ib, j FROM j WHERE j >= 0.8""".stripMargin
}
