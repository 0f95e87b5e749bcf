package graft.streaming

import graft.index.SegmentLog
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** A raw sample on the ingest stream. */
case class Sample(event_id: Long, ts: java.sql.Timestamp, usr: String, typ: String, value: Double)

/** Streaming series-tracker state (the reference's in-memory index
  * entry: tsid + bounds, mem_index.h:19-29).
  */
case class SeriesState(tsid: Long, firstSeenSec: Long, nSamples: Long)

/** Emitted on every state update (Update output mode). */
case class SeriesUpdate(usr: String, typ: String, tsid: Long, firstSeenSec: Long, nSamples: Long, isNew: Boolean)

/** A document on the H13 ingest stream. */
case class DocIn(doc_id: Long, ts: java.sql.Timestamp, text: String)

/** H13 per-document verdict (same classes as batch D8). */
case class DocVerdict(doc_id: Long, verdict: String)

/** A tokenized document on the H15 packing stream. */
case class PackIn(doc_id: Long, ts: java.sql.Timestamp, source: String,
    n_tok: Long)

/** A unit-quantized embedding on the H16 vector-ingest stream. */
case class VecIn(vec_id: Long, ts: java.sql.Timestamp, label: Int,
    u: Array[Double])

/** H16 per-label centroid state: component sums + count. */
case class CentState(c: Array[Double], n: Long)

/** H16 emission: the label's running centroid after each batch. */
case class CentOut(label: Int, n: Long, c: Seq[Double])

/** H15 per-source open-bin cursor (bin ordinal + fill). */
case class PackState(bin: Long, fill: Long)

/** H21: one active alert-series observation — the rule evaluator's
  * per-interval output row (labels reduced to usr, grid time). */
case class AlertIn(usr: String, t_sec: Long, ts: java.sql.Timestamp)

/** H21 per-series alert tracker: run start + last active step —
  * Prometheus's Alert.ActiveAt, O(1) checkpointed state per series. */
case class AlertState(activeSince: Long, lastT: Long)

/** H21 emission: the ALERTS{alertname, alertstate} synthetic row. */
case class AlertOut(alertname: String, usr: String, t_sec: Long,
    alertstate: String)

/** H22: one event on the dimension-maintenance stream. */
case class Scd2In(user_id: Long, event_id: Long, attr: String, us: Long,
    ts: java.sql.Timestamp)

/** H22 per-user open dimension version: current attr + validity start
  * + version ordinal — O(1) checkpointed state per user. */
case class Scd2State(attr: String, since_us: Long, version: Long)

/** H22 emission: a CLOSED dimension version (valid_to set by the
  * change that superseded it). */
case class Scd2Out(user_id: Long, attr: String, valid_from_us: Long,
    valid_to_us: Long, version: Long)

/** H23: one event on the online-feature stream. */
case class FeatIn(user_id: Long, event_id: Long, typ: String, us: Long,
    ts: java.sql.Timestamp)

/** H23 per-user rolling history: the last ≤5 event types, most recent
  * LAST — O(k) checkpointed state per user (the online feature store's
  * per-entity row). */
case class FeatState(hist: Seq[String])

/** H23 emission: a training example assembled AT the label event. */
case class FeatOut(event_id: Long, user_id: Long, prev5: String,
    n_prev: Int)

/** H25: one sample on the live gap-fill stream (`flush` marks the
  * per-series end-of-grid sentinel that closes the open hour and emits
  * the LOCF tail). */
case class GfIn(usr: String, h_sec: Long, value: Double, flush: Boolean,
    ts: java.sql.Timestamp)

/** H25 per-series serving state: the last CLOSED observed hour
  * (already emitted) + the currently accumulating hour — O(1)
  * checkpointed state per series. */
case class GfState(hasLast: Boolean, lastH: Long, lastV: Double,
    hasAcc: Boolean, accH: Long, accV: Double)

/** H25 emission: one dashboard grid row (observed / LOCF / linear). */
case class GfOut(usr: String, h_sec: Long, observed: Option[Double],
    locf: Option[Double], interp: Option[Double])

/** Structured Streaming ingest path (SURVEY.md §2.H) — the Spark
  * analog of the reference's WAL → MemIndex maintenance
  * (/root/reference/src/index/index_server.cpp add_series + commit):
  * checkpointed state replaces the WAL; watermarked windows replace
  * compaction thresholds.
  */
object StreamOps extends Serializable {

  /** The same series identity as batch ingest: xxhash64 (seed 42) of
    * the NUL-joined labels — TagIndex hashes the same encoding for a
    * series carrying every label, so streaming and batch assign
    * identical tsids and an entity can move between the paths without
    * re-keying (NUL cannot occur inside a label value, so the encoding
    * is unambiguous).
    */
  def tsidOf(usr: String, typ: String): Long = {
    val u = UTF8String.fromString(usr + "\u0000" + typ)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
  }

  // ---- the streaming-gate machinery: an oracle-gated stream lands its
  // input files, replays them as micro-batches and drains the query
  // once per (session, dataset), held in the graft.Memo registry ----

  /** `df` landed as `parts` parquet files at `landing` (overwritten). */
  private[graft] def landParts(df: DataFrame, landing: String,
      parts: Int = 4): Unit =
    df.repartition(parts).write.mode("overwrite").parquet(landing)

  /** Replays the files at `landing`, `perTrigger` per micro-batch,
    * through the query `start` returns, and drains it:
    * processAllAvailable, then stop (also when the query fails). */
  private[graft] def replayed(spark: SparkSession, landing: String,
      perTrigger: Int = 1)(start: DataFrame => StreamingQuery): Unit =
    drain(start(replay(spark, landing, perTrigger)))

  /** The files at `landing` as a stream, `perTrigger` per micro-batch. */
  private def replay(spark: SparkSession, landing: String,
      perTrigger: Int = 1): DataFrame =
    spark.readStream.schema(spark.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", perTrigger).parquet(landing)

  private def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** Drains `q`, runs `midStream`, drains again, then stops. */
  private def drainAround(q: StreamingQuery)(midStream: => Unit): Unit =
    try { q.processAllAvailable(); midStream; q.processAllAvailable() }
    finally q.stop()

  /** `df` started into the memory-sink table `name`. */
  private def toMemory(df: DataFrame, mode: String, name: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    val w = df.writeStream.outputMode(mode).format("memory").queryName(name)
    checkpoint.fold(w)(w.option("checkpointLocation", _)).start()
  }

  /** Appends each micro-batch as commit `batchId` of the table at `t`
    * through [[graft.sources.Io.tableAppendIdempotent]], delivering it
    * twice: the simulated redelivery must no-op. */
  private def appendTwice(t: String)(batch: DataFrame, batchId: Long): Unit = {
    val first = graft.sources.Io.tableAppendIdempotent(batch, t, batchId)
    val retry = graft.sources.Io.tableAppendIdempotent(batch, t, batchId)
    require(first && !retry,
      s"batch $batchId: first=$first retry=$retry — idempotence broken")
  }

  /** Runs `apply` over each micro-batch of the replayed `landing`
    * (checkpointed at `ckpt`), then re-applies the whole landing — a
    * redelivery of every batch — and requires the table at `t` to
    * keep its content (row count and cent sum). */
  private def applyIdempotent(spark: SparkSession, landing: String,
      ckpt: String, t: String)(apply: (SparkSession, DataFrame, Long) => Unit): Unit = {
    replayed(spark, landing)(_.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((batch: DataFrame, id: Long) =>
        apply(batch.sparkSession, batch, id))
      .start())
    def cut() = latest(spark, t).agg(count(lit(1)), sum(col("cents"))).collect()(0)
    val before = cut()
    apply(spark, spark.read.parquet(landing), 999L)
    val after = cut()
    require(before == after, s"re-apply at $t must be a content no-op: $before != $after")
  }

  /** The memory-sink table `graft_<gate>_<fp>` (fp: the fingerprint of
    * `dir/source`) that `run` fills, once per (session, dataset); a
    * registry clear drops the table, and the next call runs again. */
  private def sinkTable(spark: SparkSession, dir: String, gate: String,
      source: String = "events.parquet")(run: String => Unit): DataFrame = {
    val name = s"graft_${gate}_" + graft.Tables.fingerprint(s"$dir/$source")
    graft.Memo(spark, s"stream.$gate:$dir",
      (n: String) => spark.catalog.dropTempView(n)) { run(name); name }
    spark.table(name)
  }

  /** A memory-sink gate: `land` writes the input files to a landing
    * directory of this build's own ([[graft.Memo.fresh]]), which replay
    * through `query` into the sink in output `mode` and are deleted once
    * drained. */
  private def sunk(spark: SparkSession, dir: String, gate: String,
      mode: String, source: String = "events.parquet", perTrigger: Int = 1)(
      land: String => Unit)(query: DataFrame => DataFrame): DataFrame =
    sinkTable(spark, dir, gate, source) { name =>
      val landing = graft.Memo.fresh(s"${name}_landing")
      try {
        land(landing.toString)
        replayed(spark, landing.toString, perTrigger)(s => toMemory(query(s), mode, name))
      } finally graft.Memo.wipe(landing)
    }

  /** A gate whose output persists across JVMs in the `_done`-landed
    * fixture `<tmpdir>/graft_<gate>_<fp>` (see [[graft.Memo.landed]]),
    * once per (session, dataset): a fresh landing would feed an old
    * checkpoint new part-file names and double every count. */
  private def landedGate(spark: SparkSession, dir: String, gate: String,
      source: String = "events.parquet")(build: String => Unit): String =
    graft.Memo(spark, s"stream.$gate:$dir") {
      graft.Memo.landed(s"graft_$gate",
        graft.Tables.fingerprint(s"$dir/$source"))(b => build(b.toString)).toString
    }

  /** The events as [[Sample]] columns. */
  private def samplesOf(spark: SparkSession, dir: String): DataFrame = {
    val raw = graft.Tables.eventsRaw(spark, dir)
    raw.select(col("event_id"), graft.Tables.tsCol(raw).as("ts"),
      col("user_id").cast("string").as("usr"),
      col("event_type").as("typ"), col("value"))
  }

  /** The latest version of the commit-log table at `t`. */
  private def latest(spark: SparkSession, t: String): DataFrame =
    graft.sources.Io.readTableVersion(spark, t,
      graft.sources.Io.tableVersion(spark, t))

  /** Kafka ingest wiring — the production stream source ahead of the
    * H1-H5 operators. Config-only in this container (the
    * spark-sql-kafka connector jar ships on the cluster, not here), so
    * the builder and the payload parser are SEPARATE stages: the
    * parser is testable against static frames, the builder is the
    * one-line format swap. maxOffsetsPerTrigger bounds per-micro-batch
    * input so state growth per trigger is bounded at any topic lag.
    */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession,
      servers: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", 1000000L)
      .option("failOnDataLoss", "false")
      .load()

  /** Kafka value payload (JSON) → typed samples; the stage between
    * kafkaSource and the streaming operators. Works identically on a
    * static frame with (value binary) — that is how the spec gates it.
    */
  def parseKafkaSamples(raw: DataFrame): Dataset[Sample] = {
    import raw.sparkSession.implicits._
    val schema = org.apache.spark.sql.catalyst.ScalaReflection
      .schemaFor[Sample].dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    raw.select(from_json(col("value").cast("string"), schema).as("s"))
      .select("s.*").as[Sample]
  }

  /** H1: watermarked sliding-window aggregation per label — the
    * streaming form of Tsdb.aggByLabel. 10-minute lateness bound;
    * state for closed windows is dropped automatically.
    */
  def windowedAgg(samples: DataFrame): DataFrame =
    samples
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("typ"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
      .select(col("window.start").as("win_start"), col("typ"), col("n"), col("sum_v"))

  // one completed streaming run per (session, dataset): the memory-sink
  // table name the H1 gate query reads
  /** H1, oracle-gated: [[windowedAgg]]'s shape driven by an ACTUAL
    * Structured Streaming run — the events land as 4 parquet files,
    * stream back one file per micro-batch, and the hourly windowed
    * count aggregates across batches into a memory sink (Complete
    * mode: the finite stream's final state is the whole history, so
    * the result must equal the batch GROUP BY — which is exactly what
    * the DuckDB oracle computes; counts are integers, so there is no
    * FP surface). One streaming run per JVM per dataset (memoized);
    * the gate proves incremental multi-batch aggregation state ≡ a
    * one-shot batch aggregation, the H9/H17 discipline applied to the
    * windowed-agg path.
    */
  def windowedAggStreamed(spark: SparkSession, dir: String): DataFrame = {
    val table = sunk(spark, dir, "h1", "complete") { l =>
      val raw = graft.Tables.eventsRaw(spark, dir)
      landParts(raw.select(graft.Tables.tsCol(raw).as("ts"),
        col("event_type").as("typ")), l)
    } {
      // NO watermark here: in Complete mode a watermark is inert (no
      // state eviction, no late-row dropping), and the landing files
      // replay in arbitrary order — carrying one would silently start
      // dropping "late" rows if the mode were ever switched to
      // append/update. Complete mode IS the gate's semantics: the
      // final table is the whole history ≡ the batch GROUP BY.
      _.groupBy(window(col("ts"), "1 hour"), col("typ"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("typ"), col("n"))
    }
    table.select(
      (unix_micros(col("win_start")) / lit(1000000L)).cast("long")
        .as("win_start_sec"),
      col("typ"), col("n"))
  }

  /** H26, oracle-gated: LIVE maintenance of the B53 1h rollup tier —
    * the streaming half of the downsample story: the batch job
    * backfills the tier, this keeps it current, and both must serve
    * identical dashboards. Events stream back in 4-file micro-batches
    * and ONE Complete-mode aggregation folds every tier column
    * incrementally: count and cents-sum add, min/max fold, and
    * last_v = max_by over the (µs, event_id) struct — each partial is
    * MERGEABLE and order-free, so the fold needs no ordered replay
    * and no watermark: any arrival order yields the same tier, which
    * is precisely what makes this maintainable by a streaming job at
    * fleet scale (state ∝ live series × open hours, each entry 5
    * scalars). The gate serves the same 3-week daily dashboard as
    * `rollup_serve` FROM THE STREAM-MAINTAINED TIER and shares its
    * raw-events DuckDB oracle: stream ≡ batch tier ≡ raw, closing
    * the loop.
    */
  def rollupStreamed(spark: SparkSession, dir: String): DataFrame = {
    val table = sunk(spark, dir, "h26", "complete") { l =>
      val raw = graft.Tables.eventsRaw(spark, dir)
      landParts(raw.select(col("user_id").cast("string").as("usr"),
        col("event_type").as("typ"),
        unix_micros(graft.Tables.tsCol(raw)).as("us"),
        col("event_id"), col("value")), l)
    } {
      _.groupBy(col("usr"), col("typ"),
          (expr("us div 1000000") - pmod(expr("us div 1000000"),
            lit(3600L))).as("h_sec"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"),
          min(col("value")).as("vmin"),
          max(col("value")).as("vmax"),
          max_by(col("value"), struct(col("us"), col("event_id")))
            .as("last_v"))
    }
    val t0 = 1704067200L // 2024-01-01 00:00:00 UTC
    graft.tsdb.Rollup.dailyFromHours(
      table.filter(col("h_sec") >= t0 && col("h_sec") < t0 + 21L * 86400L))
  }

  /** H28, oracle-gated: LIVE series-churn dashboard — A22's per-day
    * births/deaths/net-open served from a stream, the cardinality-
    * explosion alarm a TSDB operator actually watches in real time.
    * The state is the streaming form of the reference's mem_index
    * per-series [min_ts, max_ts] bounds (mem_index.h:19-29): ONE
    * Complete-mode aggregate keyed by series holding min(us)/max(us)
    * — both order-free folds, so no watermark and no ordered replay;
    * any arrival order yields the same catalog, O(1) state per live
    * series. The gate derives the churn table from the final
    * stream-maintained catalog exactly as A22 derives it from the
    * batch catalog and shares `index_churn`'s DuckDB oracle verbatim.
    */
  def churnStreamed(spark: SparkSession, dir: String): DataFrame = {
    val table = sunk(spark, dir, "h28", "complete")(landSeriesUs(spark, dir, _)) {
      _.groupBy(col("usr"), col("typ"))
        .agg(min(col("us")).as("fd_us"), max(col("us")).as("ld_us"))
    }
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    table
      .select(explode(array(
        struct(date_format(timestamp_micros(col("fd_us")), "yyyy-MM-dd")
          .as("day"), lit(1L).as("b"), lit(0L).as("d")),
        struct(date_format(timestamp_micros(col("ld_us")), "yyyy-MM-dd")
          .as("day"), lit(0L).as("b"), lit(1L).as("d")))).as("x"))
      .groupBy(col("x.day").as("day"))
      .agg(sum(col("x.b")).as("born"), sum(col("x.d")).as("died"))
      .withColumn("open_after",
        sum(col("born") - col("died")).over(w))
  }

  /** The events as (usr, typ, µs) samples, landed in 4 parts. */
  private def landSeriesUs(spark: SparkSession, dir: String,
      landing: String): Unit = {
    val raw = graft.Tables.eventsRaw(spark, dir)
    landParts(raw.select(col("user_id").cast("string").as("usr"),
      col("event_type").as("typ"),
      unix_micros(graft.Tables.tsCol(raw)).as("us")), landing)
  }

  /** H32 (round 10, oracle-gated): LIVE series-cardinality admission —
    * A25's guard as the ingest-path gatekeeper it actually is in
    * production (a limiter that only runs in nightly batch has
    * already lost the cardinality explosion it exists to stop). The
    * state is the same order-free mergeable fold as H28: per (typ,
    * usr) the running (min arrival µs, sample count) in ONE
    * Complete-mode aggregation — no watermark, no ordered replay, any
    * arrival order yields the same first-seen table. The gate ranks
    * the final streamed state exactly like the batch guard
    * (first-seen µs, usr tie key) and must reproduce `index_guard`'s
    * raw-events oracle: stream ≡ batch catalog ≡ raw.
    */
  def cardinalityGuardStreamed(spark: SparkSession, dir: String): DataFrame = {
    val table = sunk(spark, dir, "h32", "complete")(landSeriesUs(spark, dir, _)) {
      _.groupBy(col("usr"), col("typ"))
        .agg(min(col("us")).as("first_us"), count(lit(1)).as("n_samples"))
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("typ"))
      .orderBy(col("first_us"), col("usr"))
    table
      .withColumn("__rk", row_number().over(w))
      .withColumn("__ok", col("__rk") <= 40L)
      .groupBy(col("typ"))
      .agg(count(lit(1)).as("n_series"),
        sum(when(col("__ok"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(!col("__ok"), 1L).otherwise(0L)).as("n_rejected"),
        sum(when(!col("__ok"), col("n_samples")).otherwise(0L))
          .as("samples_dropped"))
  }

  /** H27, oracle-gated: STREAMING priority sampling — C27's weighted
    * sample maintained live over an unbounded corpus feed, the
    * canonical use of the estimator (Duffield–Lund–Thorup define it
    * for exactly this: a fixed-size sketch of a stream that answers
    * weighted subset-sum queries unbiasedly at any moment). Because a
    * priority is a PURE function of the document (deterministic
    * dyadic hash uniform), the sample state is just the running
    * top-(n+1) priorities — the same bounded-heap TopKAgg that powers
    * batch topk and H12, here as a Complete-mode GLOBAL aggregate:
    * O(n) state total, each micro-batch folds its local top-(n+1)
    * into it, arrival order irrelevant. The gate unpacks the final
    * heap into the (sample, τ, ŵ) form and must equal C27's batch
    * draw bit-for-bit — SAME DuckDB oracle, doubles included.
    */
  def weightedSampleStreamed(spark: SparkSession, dir: String): DataFrame = {
    val n = 200
    val table = sunk(spark, dir, "h27", "complete", "documents.parquet")(
      landParts(graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars")), _)) { stream =>
      val m = 1099511627776L // 2^40
      val u = (pmod(graft.functions.DualPolyHash.column(spark,
          col("doc_id").cast("string")), lit(m)) + 1L).cast("double") /
        lit(m.toDouble)
      stream
        .select(col("doc_id"), col("n_chars"),
          (col("n_chars").cast("double") / u).as("priority"))
        .groupBy()
        .agg(graft.functions.TopKAgg.column(spark, col("priority"),
          col("doc_id").cast("string"), col("n_chars").cast("string"),
          n + 1).as("top"))
    }
    val top = table
      .select(explode(col("top")).as("e"))
      .select(col("e.v").as("priority"),
        col("e.a").cast("long").as("doc_id"),
        col("e.b").cast("long").as("n_chars"))
    val tau = top.agg(min(col("priority")).as("tau"))
    top.orderBy(col("priority").desc, col("doc_id")).limit(n)
      .crossJoin(broadcast(tau))
      .select(col("doc_id"), col("n_chars"), col("priority"),
        greatest(col("n_chars").cast("double"), col("tau")).as("w_hat"))
  }

  /** H8, oracle-gated: streaming exact dedup proven against batch. The
    * events land TWICE (every record is a cross-micro-batch duplicate
    * by construction — the at-least-once transport scenario), stream
    * back in 4-file micro-batches, and `dropDuplicates(event_id)`
    * emits first occurrences into an Append-mode memory sink. The gate
    * aggregates the sink per type: equality with the batch GROUP BY
    * over the ORIGINAL events proves every duplicate was dropped and
    * nothing else was (counts are integers — no FP surface).
    */
  def dedupStreamed(spark: SparkSession, dir: String): DataFrame =
    sunk(spark, dir, "h8", "append", perTrigger = 2) { l =>
      val ev = graft.Tables.eventsRaw(spark, dir)
        .select(col("event_id"), col("event_type").as("typ"))
        .repartition(4)
      ev.write.mode("overwrite").parquet(l)
      ev.write.mode("append").parquet(l)
    }(_.dropDuplicates("event_id"))
      .groupBy(col("typ")).agg(count(lit(1)).as("n"))

  /** H24, oracle-gated: watermark-BOUNDED streaming dedup
    * (`dropDuplicatesWithinWatermark`) — the production fix for H8's
    * unbounded dedup state: a key's dedup state lives only until the
    * watermark passes its event time, so state size is ∝ the lateness
    * bound, not the stream's lifetime (the semantics a 100 TB
    * always-on ingest actually needs). The doubled events replay in
    * event-time order ([[landOrdered]]); both copies of a row carry
    * the SAME event time, so they share a part file (equal-ts rows
    * are never split across parts) and meet well inside the 1 h
    * bound — the Append-mode first-occurrence set must therefore
    * equal the batch DISTINCT over the originals, which is what the
    * DuckDB oracle computes (integer cents — no FP surface).
    * StreamingSpec pins the eviction bound itself (final state rows
    * ≪ distinct keys) on a controlled fixture.
    */
  def wmDedupStreamed(spark: SparkSession, dir: String): DataFrame =
    sunk(spark, dir, "h24", "append") { l =>
      val raw = graft.Tables.eventsRaw(spark, dir)
      val ev = raw.select(col("event_id"),
        graft.Tables.tsCol(raw).as("ts"), col("event_type").as("typ"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      landOrdered(ev.unionAll(ev), Seq("ts"), l, 4)
    } {
      _.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
    }.groupBy(col("typ"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))

  /** H12, oracle-gated: the shared bounded-heap TopKAgg as a STREAMING
    * aggregate — per-type top-3 samples accumulated across 4
    * micro-batches in Complete mode; the finite stream's final heap
    * must equal the batch ranking the DuckDB oracle computes (raw
    * sample values are bit-identical on both sides — they come from
    * the same parquet — and the heap's (v desc, usr, typ) tie order is
    * the oracle's ORDER BY, the batch B6 parity argument).
    */
  def topkStreamed(spark: SparkSession, dir: String): DataFrame =
    sunk(spark, dir, "h12", "complete") { l =>
      val raw = graft.Tables.eventsRaw(spark, dir)
      landParts(raw.select(col("user_id").cast("string").as("usr"),
        col("event_type").as("typ"), col("value")), l)
    }(streamingTopK(_))

  /** H2, oracle-gated: the mapGroupsWithState series tracker run over
    * 4 real micro-batches — every update lands in an Update-mode
    * memory sink, and because nSamples is MONOTONE per key, the max
    * per key is the final state, which must equal the batch per-series
    * count (the custom-state path's ≡-batch proof; firstSeenSec is
    * arrival-order-defined, so the gate pins the count alone — the
    * StreamingSpec covers the rest of the state shape).
    */
  def trackSeriesStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sunk(spark, dir, "h2", "update")(landParts(samplesOf(spark, dir), _))(
      s => trackSeries(s.as[Sample]).toDF())
      .groupBy(col("usr"), col("typ"))
      .agg(max(col("nSamples")).as("n_samples"))
  }

  /** H14, oracle-gated: the exact O(#buckets)-state streaming
    * histogram quantiles over 4 real micro-batches. Each batch's
    * emission carries the cumulative total (strictly monotone per key
    * — a key only emits when it received rows), so max_by(total)
    * selects the final state; its interpolation is the identical IEEE
    * expression as B19's batch oracle, which therefore gates the
    * streamed path directly.
    */
  def histogramQuantileStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sunk(spark, dir, "h14", "update")(landParts(samplesOf(spark, dir), _))(
      s => streamingHistogramQuantile(s.as[Sample]).toDF())
      .groupBy(col("typ")).agg(
        max(col("total")).as("total"),
        max_by(col("hq50"), col("total")).as("hq50"),
        max_by(col("hq90"), col("total")).as("hq90"))
  }

  /** H10, oracle-gated: streaming Misra–Gries heavy hitters over 4
    * real micro-batches. On this corpus the distinct bucket count
    * (≈400) is below the summary capacity (1024), so the MG decrement
    * never fires and the per-key summary is EXACT counting — totals
    * are strictly monotone, max_by selects the final emission, and the
    * top-5 must equal the batch GROUP BY ranking (the same
    * exact-at-test-scale argument as batch C13/B24). At production
    * cardinalities the summary degrades gracefully to ε-approximate —
    * the StreamingSpec covers the capped regime.
    */
  def freqItemsStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sunk(spark, dir, "h10", "update")(landParts(samplesOf(spark, dir), _))(
      s => streamingFreqItems(s.as[Sample]).toDF())
      .withColumn("__tot", aggregate(col("counts"), lit(0L), (a, x) => a + x))
      .groupBy(col("typ"))
      .agg(max_by(struct(col("buckets"), col("counts")), col("__tot")).as("s"))
      .select(col("typ"), posexplode(arrays_zip(col("s.buckets"), col("s.counts"))))
      .select(col("typ"), (col("pos") + 1).as("rk"),
        col("col.buckets").as("bucket"), col("col.counts").as("n"))
  }

  /** H15, oracle-gated: the streaming MV maintenance loop end-to-end —
    * 4 micro-batches each overwrite their idempotent `seg=b<id>`
    * partial-state segment via [[streamMvMaintain]]'s foreachBatch,
    * and [[mvRead]]'s merge-on-read view must equal the one-shot batch
    * aggregation over all events. Every number in the state is an
    * integer (count, cent sums, cent sums-of-squares), so the DuckDB
    * oracle is exact with no FP surface — the same mergeable-state
    * claim C21 proves for the batch path, now under real checkpointed
    * streaming commits.
    */
  def mvStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = landedGate(spark, dir, "h15") { b =>
      landParts(samplesOf(spark, dir), s"$b/landing")
      replayed(spark, s"$b/landing")(
        s => streamMvMaintain(s.as[Sample], s"$b/mv", s"$b/ckpt"))
    }
    mvRead(spark, s"$base/mv")
  }

  /** Lands `df` as `parts` sequential single-file writes in ascending
    * `order` ranges, so the file source replays it as `parts`
    * micro-batches in EVENT-TIME order (FileStreamSource processes
    * files by modification time; each landed file's mtime is stamped
    * explicitly strictly increasing, so replay order never depends on
    * filesystem timestamp granularity). Ordered replay is what makes
    * watermark semantics (late-drop, state eviction, append-mode
    * session close) exact on a finite stream — the production
    * assumption "sources deliver roughly in event-time order" made
    * literal for the gate.
    */
  private def landOrdered(df: DataFrame, order: Seq[String],
      landing: String, parts: Int): Unit = {
    // Part assignment by approx-percentile boundaries on the event-time
    // key, not a global-window ntile: the unpartitioned window funneled
    // the whole frame through one task (with Spark's WindowExec warning),
    // while the sketch aggregate is mergeable and distributed. Parts are
    // strictly increasing half-open event-time ranges; equal-ts rows
    // share a part, which is safe — a micro-batch is processed
    // atomically and the stateful folds order within the batch
    // themselves, so only the ACROSS-part ordering must be strict.
    val tsName = order.head
    val keyed = df.withColumn("__k",
      if (df.schema(tsName).dataType ==
          org.apache.spark.sql.types.TimestampType)
        unix_micros(col(tsName))
      else col(tsName).cast("long"))
    val bs: Seq[Long] =
      if (parts <= 1) Seq.empty
      else keyed.select(percentile_approx(col("__k"),
          typedLit((1 until parts).map(_.toDouble / parts)),
          lit(100000)).as("b"))
        .head().getSeq[Long](0)
    val dirF = new java.io.File(landing)
    // Stamps sit in the RECENT PAST (t0 + parts·1s ≤ now − 2s): callers
    // append sentinel watermark-flush files after landing with natural
    // mtimes, and those must sort strictly AFTER every landed part —
    // future-dated stamps would interleave the sentinel mid-replay and
    // drop the remaining batches as late.
    val t0 = System.currentTimeMillis() - (parts.toLong + 2L) * 1000L
    var stamped = Set.empty[String]
    for (k <- 1 to parts) {
      val lo = if (k == 1) None else Some(bs(k - 2))
      val hi = if (k == parts) None else Some(bs(k - 1))
      val part = (lo, hi) match {
        case (None, None) => keyed
        case (None, Some(h)) => keyed.filter(col("__k") <= h)
        case (Some(l), Some(h)) => keyed.filter(col("__k") > l && col("__k") <= h)
        case (Some(l), None) => keyed.filter(col("__k") > l)
      }
      part.drop("__k").coalesce(1).write
        .mode(if (k == 1) "overwrite" else "append").parquet(landing)
      // Explicitly strictly-increasing mtimes on the landed part files:
      // FileStreamSource replays by modification time, and sequential
      // tiny writes can SHARE an mtime on coarse-granularity filesystems
      // (tie then broken by random part-file UUID path → nondeterministic
      // batch order → watermarked gates drop rows as late). One full
      // second per part is granular on any fs.
      val files = Option(dirF.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-"))
      files.filterNot(f => stamped(f.getName))
        .foreach(f => require(f.setLastModified(t0 + k * 1000L),
          s"setLastModified failed on $f — ordered replay not guaranteed"))
      stamped ++= files.map(_.getName)
    }
  }

  /** H5, oracle-gated: the stream-stream interval join end-to-end.
    * Errors and purchases land as 4 time-quartile micro-batches EACH
    * (both sides advance together, so the global watermark trails the
    * data by exactly the 1-hour delay), replay through the REAL
    * watermarked [[intervalJoin]], and the appended pair table must
    * reproduce the batch left-outer interval-join aggregate (C10's
    * oracle verbatim): with in-order replay, state eviction at
    * watermark − 1h can never drop a pair still needed — rows in batch
    * k+1 are ≥ the watermark, so their partners are ≥ watermark − 1h,
    * exactly the eviction bound. Errors with no in-range purchase
    * re-enter via the static error set (a stream-stream OUTER join
    * cannot emit its last null-matches on a finite stream — the
    * watermark never passes them).
    */
  def intervalJoinStreamed(spark: SparkSession, dir: String): DataFrame = {
    val pairs = sinkTable(spark, dir, "h5") { name =>
      val base = graft.Memo.fresh(name)
      val ev = samplesOf(spark, dir)
      val landE = new java.io.File(base, "errors").toString
      val landP = new java.io.File(base, "purchases").toString
      try {
        landOrdered(ev.filter(col("typ") === "error"),
          Seq("ts", "event_id"), landE, 4)
        landOrdered(ev.filter(col("typ") === "purchase"),
          Seq("ts", "event_id"), landP, 4)
        drain(toMemory(intervalJoin(replay(spark, landE), replay(spark, landP)),
          "append", name))
      } finally graft.Memo.wipe(base)
    }
    val raw = graft.Tables.eventsRaw(spark, dir)
    val errs = raw.filter(col("event_type") === "error")
      .select(col("event_id"), graft.Tables.tsCol(raw).as("ts"),
        col("user_id").cast("string").as("usr"))
    val counts = pairs.groupBy(col("err_id")).agg(count(lit(1)).as("__n"))
    errs.join(counts, errs("event_id") === counts("err_id"), "left_outer")
      .select(col("event_id"), col("usr"),
        coalesce(col("__n"), lit(0L)).as("n_nearby"))
  }

  /** H11, oracle-gated: streaming session windows end-to-end. Events
    * replay in 4 time-quartile micro-batches through the REAL
    * watermarked `session_window` aggregation (the same groupBy as
    * [[sessionAgg]], with the value summed in exact integer cents so
    * the incremental state merge has no FP surface), plus a 5th
    * sentinel micro-batch 2 days past the data that pushes the global
    * watermark beyond every real session's close — in Append mode each
    * session then emits EXACTLY once, fully merged. The result must
    * equal the batch gap-sessionization (B18's oracle shape): session
    * identity, start, count and cent-sum all gate.
    */
  def sessionAggStreamed(spark: SparkSession, dir: String): DataFrame =
    sunk(spark, dir, "h11", "append") {
      // sentinel: one far-future row whose only job is to advance the
      // watermark past every real session (filtered out of the gate)
      landWithSentinel(spark, samplesOf(spark, dir), _, 2L)
    } {
      _.withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("usr"), col("typ"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
        .select(unix_timestamp(col("session_window.start")).as("sess_start_sec"),
          col("usr"), col("typ"), col("n"), col("sum_cents"))
    }.filter(col("usr") =!= "__flush")

  /** `ev` (Sample columns) landed in 4 event-time-ordered parts, then
    * one `__flush` sample `days` past its last event: a micro-batch
    * whose only job is to push the watermark beyond every real row. */
  private def landWithSentinel(spark: SparkSession, ev: DataFrame,
      landing: String, days: Long): Unit = {
    import spark.implicits._
    landOrdered(ev, Seq("ts", "event_id"), landing, 4)
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    Seq(Sample(-1L, new java.sql.Timestamp(maxTs.getTime + days * 86400000L),
      "__flush", "__flush", 0.0)).toDF()
      .coalesce(1).write.mode("append").parquet(landing)
  }

  /** H13, oracle-gated: streaming incremental dedup end-to-end. The
    * SAME derived revision batch as D8 (doc_id ≡ 0 mod 5, i4-mapped
    * texts) lands in 4 doc_id-quartile micro-batches (synthetic event
    * time = epoch + doc_id seconds, so arrival order ≡ doc_id order ≡
    * the batch window's `rn` order) and replays through
    * [[streamingCorpusDedup]] against the same static curated corpus.
    * The appended verdicts must equal D8's oracle verbatim —
    * `dup_corpus` via the stream-static hash+text join, `dup_batch` vs
    * `kept` via real cross-micro-batch flatMapGroupsWithState state
    * (same-text revisions are ≤ 20 doc_ids apart, far inside the
    * 1-hour state horizon).
    */
  def corpusDedupStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    sunk(spark, dir, "h13", "append", "documents.parquet") { l =>
      val i4 = pmod((col("doc_id") / 5).cast("long"), lit(4))
      val src = when(i4 === 1, col("doc_id") + 1)
        .when(i4 === 3, col("doc_id") - 5)
        .otherwise(col("doc_id"))
      val epochUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"), src.as("src"))
        .join(docs.select(col("doc_id").as("src"), col("text")), Seq("src"))
        .select(col("doc_id"),
          timestamp_micros(lit(epochUs) + col("doc_id") * 1000000L).as("ts"),
          col("text"))
      landOrdered(batch, Seq("doc_id"), l, 4)
    } { s =>
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0).select(col("text"))
      streamingCorpusDedup(s.as[DocIn], corpus).toDF()
    }
  }

  /** H18, oracle-gated: streaming sequence packing end-to-end. The
    * tokenized corpus lands in 4 doc_id-quartile micro-batches
    * (synthetic event time = epoch + doc_id seconds, so each source's
    * arrival order ≡ doc_id order ≡ the batch fold's sort) and replays
    * through [[streamingSeqPack]]'s per-source open-bin cursor. The
    * appended bin assignments must equal F11's greedy fold (the
    * recursive-CTE oracle verbatim) — pure integers, and the ONLY
    * state carried across micro-batches is one (bin, fill) cursor per
    * source, which is exactly what the gate exercises.
    */
  def seqPackStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sunk(spark, dir, "h18", "append", "documents.parquet") { l =>
      val epochUs = 1704067200000000L
      val docs = graft.Tables.documents(spark, dir)
        .select(col("doc_id"),
          timestamp_micros(lit(epochUs) + col("doc_id") * 1000000L).as("ts"),
          col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      landOrdered(docs, Seq("doc_id"), l, 4)
    }(s => streamingSeqPack(s.as[PackIn]).toDF())
  }

  /** H16, oracle-gated: streaming centroid maintenance end-to-end.
    * Labeled embeddings are unit-normalized and dyadic-quantized with
    * E5's exact expression, land in 4 micro-batches in ARBITRARY order
    * (the state is a sum of 2⁻²⁰-grid rationals — exact in double, so
    * arrival order provably cannot matter), and replay through
    * [[streamingCentroid]]'s per-label mapGroupsWithState. The final
    * emission per label (selected by the strictly-monotone count) is
    * exploded per dimension and must equal the batch per-label
    * component sums bit-for-bit — the DuckDB oracle recomputes them
    * from the raw embeddings through the same quantization chain, the
    * ann_centroid parity precedent applied to streamed state.
    */
  def centroidStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = sunk(spark, dir, "h16", "update", "embeddings.parquet") { l =>
      graft.functions.VecFunctions.register(spark)
      val epochUs = 1704067200000000L
      landParts(graft.Tables.embeddings(spark, dir)
        .filter(col("label").isNotNull)
        .select(col("vec_id"),
          timestamp_micros(lit(epochUs) + col("vec_id") * 1000000L).as("ts"),
          col("label"), col("embedding").as("v"))
        .withColumn("norm", sqrt(call_function("vec_dot", col("v"), col("v"))))
        .withColumn("u", expr(
          "transform(v, x -> floor(cast(x as double) / norm * 1048576.0D + 0.5D) / 1048576.0D)"))
        .select(col("vec_id"), col("ts"), col("label"), col("u")), l)
    }(s => streamingCentroid(s.as[VecIn]).toDF())
    table
      .groupBy(col("label"))
      .agg(max(col("n")).as("n"), max_by(col("c"), col("n")).as("__c"))
      .select(col("label"), col("n"), posexplode(col("__c")))
      .select(col("label"), col("n"), (col("pos") + 1).cast("long").as("i"),
        col("col").as("s"))
  }

  /** Open per-series hourly bucket. */
  case class RateState(bucketStart: Long, sumV: Double, n: Long)

  /** Emitted when a bucket closes. */
  case class RateOut(usr: String, typ: String, bucket_start_sec: Long, n: Long, rate: Double)

  /** H4: streaming per-series hourly rate with custom event-time state —
    * flatMapGroupsWithState + EventTimeTimeout. A bucket closes (and its
    * row is emitted, Append mode) either when a sample for a NEWER
    * bucket arrives, or when the watermark passes bucket end + lateness
    * (the timeout path — series that simply stop still flush).
    * Note: a window aggregation handles in-bucket lateness more fully;
    * this operator is the custom-state form for logic window() can't
    * express (e.g. emit-on-next-bucket).
    */
  def streamingRate(samples: Dataset[Sample]): Dataset[RateOut] = {
    import samples.sparkSession.implicits._
    val lateMs = 10 * 60 * 1000L
    def close(key: (String, String), s: RateState): RateOut =
      RateOut(key._1, key._2, s.bucketStart, s.n,
        math.floor(s.sumV / 3600.0 * 10000 + 0.5) / 10000)
    def fn(key: (String, String), rows: Iterator[Sample],
        state: GroupState[RateState]): Iterator[RateOut] = {
      val out = scala.collection.mutable.ArrayBuffer[RateOut]()
      if (state.hasTimedOut) {
        state.getOption.foreach(s => out += close(key, s))
        state.remove()
      } else {
        var s = state.getOption.orNull
        rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id)).foreach { r =>
          val b = r.ts.getTime / 1000 / 3600 * 3600
          if (s == null) s = RateState(b, r.value, 1)
          else if (b == s.bucketStart) s = s.copy(sumV = s.sumV + r.value, n = s.n + 1)
          else if (b > s.bucketStart) {
            out += close(key, s)
            s = RateState(b, r.value, 1)
          } // else: older than the open bucket — dropped (beyond lateness)
        }
        if (s != null) {
          state.update(s)
          state.setTimeoutTimestamp(
            math.max((s.bucketStart + 3600) * 1000L + lateMs,
              state.getCurrentWatermarkMs() + 1))
        }
      }
      out.iterator
    }
    samples
      .withWatermark("ts", "10 minutes")
      .groupByKey(s => (s.usr, s.typ))
      .flatMapGroupsWithState[RateState, RateOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** H4, oracle-gated: the custom event-time bucket lifecycle
    * end-to-end. Events replay in 4 time-quartile micro-batches
    * through [[streamingRate]] (emit-on-next-bucket + event-time
    * timeout), plus a sentinel micro-batch 30 days out whose only job
    * is to expire every open bucket through the TIMEOUT path — so the
    * gate exercises both close paths and exactly-once emission per
    * bucket. Ordered replay makes the in-state double accumulation a
    * left fold in (ts, event_id) order, which the DuckDB oracle
    * replays via list_reduce over the sorted sample list — the rate is
    * gated bit-for-bit, not just the integer count.
    */
  def rateStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sunk(spark, dir, "h4", "append")(
      landWithSentinel(spark, samplesOf(spark, dir), _, 30L))(
      s => streamingRate(s.as[Sample]).toDF())
      .filter(col("usr") =!= "__flush")
  }

  /** I19, oracle-gated: the STREAMING SINK into the I14 commit-log
    * table — foreachBatch commits micro-batch k as table version k via
    * [[graft.sources.Io.tableAppendIdempotent]], and the gate
    * simulates at-least-once transport by delivering EVERY batch
    * twice: the second delivery must no-op (the Delta txnVersion
    * contract), so the latest version read back through the commit
    * log must equal the batch aggregation over the source — nothing
    * dropped, nothing doubled, despite 4 appends and 4 replays. The
    * table and checkpoint persist across JVMs under the _done-marker
    * discipline (stream_mv precedent). The final table is ALSO a
    * valid I14 table — time travel, CDF, history, clone and vacuum
    * all apply to a stream-built table unchanged.
    */
  def tableSinkStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = landedGate(spark, dir, "i19") { b =>
      landParts(graft.sources.Io.centsOf(spark, dir), s"$b/landing")
      replayed(spark, s"$b/landing")(_.writeStream
        .option("checkpointLocation", s"$b/ckpt")
        .foreachBatch(appendTwice(s"$b/table") _)
        .start())
    }
    latest(spark, s"$base/table")
      .groupBy(col("typ"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
  }

  /** Round 14 (round-13 VERDICT #1), oracle-gated: the DIRECT DSv2
    * STREAMING SINK — `writeStream.format("graft").start(table)`, no
    * foreachBatch indirection: each micro-batch epoch k lands as table
    * version k through [[graft.sources.Io.commitStreamEpoch]]. The
    * gate simulates at-least-once epoch delivery by re-running the
    * SAME stream from a FRESH checkpoint after the first drain — every
    * epoch replays from 0 and every commit must no-op (the table
    * version must not move), so the latest version read back through
    * the commit log equals the batch aggregation over the source:
    * nothing dropped, nothing doubled, despite 4 commits and a full
    * replay. Same oracle as `io_stream_sink` — direct sink ≡
    * foreachBatch sink ≡ source. */
  def tableSinkDsv2Streamed(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.Memo(spark, s"stream.dsink:$dir") {
      val fp = graft.Tables.fingerprint(s"$dir/events.parquet")
      val base = java.nio.file.Files
        .createTempDirectory("graft_dsink_" + fp).toString
      val table = s"$base/table"
      val landing = s"$base/landing"
      landParts(graft.sources.Io.centsOf(spark, dir), landing)
      graft.sources.Io.tableCreate(spark, table,
        spark.read.parquet(landing).schema)
      def run(ckpt: String): Unit = replayed(spark, landing)(
        _.writeStream.format("graft")
          .option("checkpointLocation", ckpt)
          .start(table))
      run(s"$base/ckpt1")
      val v1 = graft.sources.Io.tableVersion(spark, table)
      require(v1 >= 1,
        s"direct sink committed only v$v1 — expected one version per epoch")
      // simulated redelivery: a fresh checkpoint replays every epoch
      // from 0; commitStreamEpoch must no-op each one
      run(s"$base/ckpt2")
      val v2 = graft.sources.Io.tableVersion(spark, table)
      require(v2 == v1,
        s"redelivered epochs must no-op: v$v1 -> v$v2")
      table
    }
    latest(spark, table)
      .groupBy(col("typ"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
  }

  /** H34 (round 12), oracle-gated: STREAMING CDC UPSERT APPLY — the
    * canonical lakehouse change-data-capture pattern: a change stream
    * lands in micro-batches, and `foreachBatch` applies each batch to
    * the commit-log table with the SQL `MERGE INTO` statement through
    * the catalog (the round-12 row-level COW machinery: runtime group
    * filtering rewrites only touched files, one OCC commit per
    * micro-batch). The change batches carry ABSOLUTE row images (not
    * deltas), so a redelivered batch re-merges to the identical
    * content — the gate re-applies the last batch after the stream
    * drains and the content hash must not move (CDC-apply
    * idempotence, checked by the oracle replaying base+changes from
    * the raw source). Changes are key-disjoint across batches, so the
    * final state is arrival-order-free and the gate needs no ordered
    * replay. */
  def mergeStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = landedGate(spark, dir, "h34") { b =>
      val table = s"$b/wh/g/t"
      spark.conf.set("spark.sql.catalog.graftsm",
        "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graftsm.warehouse", s"$b/wh")
      val flat = graft.sources.Io.centsOf(spark, dir)
      graft.sources.Io.tableAppend(
        flat.repartitionByRange(4, col("typ"), col("event_id")), table)
      // two key-disjoint change batches: purchase row-image updates,
      // displaced click inserts — landed as one file each so one file
      // per trigger yields one MERGE per batch
      val landing = s"$b/landing"
      flat.filter(col("typ") === "purchase")
        .withColumn("cents", col("cents") + 100000L)
        .coalesce(1).write.mode("append").parquet(landing)
      flat.filter(col("typ") === "click")
        .withColumn("event_id", col("event_id") + 1000000000000L)
        .coalesce(1).write.mode("append").parquet(landing)
      // redelivery: the whole change set is re-merged afterwards —
      // absolute row images make it a content no-op (one more
      // version, same cut)
      applyIdempotent(spark, landing, s"$b/ckpt", table) { (s, batch, id) =>
        batch.createOrReplaceTempView(s"__h34_src_$id")
        s.sql(
          s"""MERGE INTO graftsm.g.t AS tg USING __h34_src_$id AS src
             |ON tg.event_id = src.event_id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        ()
      }
    }
    graft.sources.Io.typeSummary(latest(spark, s"$base/wh/g/t"))
  }

  /** Round 13, oracle-gated: the DSv2 STREAMING SOURCE over the commit
    * log — closing the loop the I19 sink writes into. The fixture
    * builds a commit-log table through the EXACTLY-ONCE streaming sink
    * (foreachBatch → tableAppendIdempotent, one commit per
    * micro-batch, redelivery no-ops), then a SECOND streaming query
    * reads it back via `readStream.format("graft")` — commit versions
    * as offsets, each batch serving exactly the files its version
    * range added — into a Complete-mode aggregation; MID-STREAM a
    * further append lands and a second pull must serve ONLY the new
    * version's files (offset bookkeeping, no re-serve, no drop). The
    * final aggregate must equal the batch aggregation of the raw
    * source: exactly-once in BOTH directions. */
  def tableSourceStreamed(spark: SparkSession, dir: String): DataFrame =
    sinkTable(spark, dir, "tsrc") { name =>
      val base = java.nio.file.Files.createTempDirectory(name).toString
      val table = s"$base/table"
      val flat = graft.sources.Io.centsOf(spark, dir)
      // 1) WRITE via the I19 exactly-once sink: slices 0/1 land as one
      // micro-batch commit each through tableAppendIdempotent
      val landing = s"$base/landing"
      flat.filter(pmod(col("event_id"), lit(3)) === 0)
        .coalesce(1).write.mode("append").parquet(landing)
      flat.filter(pmod(col("event_id"), lit(3)) === 1)
        .coalesce(1).write.mode("append").parquet(landing)
      replayed(spark, landing)(_.writeStream
        .option("checkpointLocation", s"$base/ckpt_in")
        .foreachBatch(appendTwice(table) _)
        .start())
      // 2) READ BACK via the streaming source into a Complete-mode agg:
      // batch 0 serves versions 0..1; 3) a MID-STREAM append (slice 2)
      // lands, and the next pull must serve only the new version's
      // files — the offset is the commit version
      val read = spark.readStream.format("graft").load(table)
      drainAround(toMemory(graft.sources.Io.typeSummary(read), "complete",
          name, Some(s"$base/ckpt_out"))) {
        graft.sources.Io.tableAppend(
          flat.filter(pmod(col("event_id"), lit(3)) === 2).coalesce(1),
          table)
      }
    }

  /** Round 14 (round-13 VERDICT #4), oracle-gated: the streaming
    * source's INITIAL SNAPSHOT over a DV-carrying table — the
    * backfill-then-tail pattern: v0 lands the id%3=0 slice, a MOR
    * DELETE leaves deletion vectors at v1, and a
    * `withSnapshot` stream serves batch 0 as the MOR CUT of v1 (the
    * positional filter inside the streaming reader — deleted rows
    * never enter the stream), then a MID-STREAM append lands v2 and
    * the next pull serves exactly its files. The final Complete-mode
    * aggregate must equal the oracle's replay of (snapshot minus
    * deletes) plus the appended slice. Post-start DV changes refusing
    * is spec-pinned (ExtensionsSpec). */
  def tableSourceDvStreamed(spark: SparkSession, dir: String): DataFrame =
    sinkTable(spark, dir, "tsrcdv") { name =>
      val base = java.nio.file.Files.createTempDirectory(name).toString
      val table = s"$base/table"
      val flat = graft.sources.Io.centsOf(spark, dir)
      // one file so the sparse delete stays under the COW threshold
      // and actually leaves DV entries
      graft.sources.Io.tableAppend(
        flat.filter(pmod(col("event_id"), lit(3)) === 0).coalesce(1),
        table)
      graft.sources.Io.tableDeleteWhereDv(spark, table,
        col("typ") === "error" && pmod(col("event_id"), lit(7)) === 0)
      require(graft.sources.Io.dvDirsOf(spark, table, 1L).nonEmpty,
        s"fixture at $table must carry DVs at v1")
      // batch 0: the MOR snapshot of v1; then v2 lands mid-stream and
      // batch 1 serves exactly v2's files
      val read = spark.readStream.format("graft")
        .option("withSnapshot", "true").load(table)
      drainAround(toMemory(graft.sources.Io.typeSummary(read), "complete",
          name, Some(s"$base/ckpt"))) {
        graft.sources.Io.tableAppend(
          flat.filter(pmod(col("event_id"), lit(3)) === 1).coalesce(1),
          table)
      }
    }

  /** Round 14, oracle-gated: the streaming CHANGE-DATA-FEED source —
    * `readStream.format("graft").option("readChangeFeed", "true")` —
    * Delta's CDF streaming surface over the commit log. The fixture
    * builds four commit shapes: two append slices (v0/v1, one file
    * each), a MOR DELETE leaving deletion vectors (v2), and a MOR
    * UPDATE through the catalog (v3, the `moru` statement stamp); the
    * feed must serve them typed — `insert` rows for the appends, the
    * DELETED ROWS THEMSELVES as `delete` (read positionally out of the
    * shared files via the keep-filter), and PAIRED `update_preimage` /
    * `update_postimage` rows for the update — each stamped with its
    * `_commit_version`. MID-STREAM a further append lands v4 and the
    * next pull serves exactly its rows as inserts (offset bookkeeping
    * across change types). The Complete-mode aggregate per
    * (change_type, typ) must equal the oracle's replay of every change
    * set from the raw source, versions included. */
  def cdfSourceStreamed(spark: SparkSession, dir: String): DataFrame =
    sinkTable(spark, dir, "cdfsrc") { name =>
      val base = java.nio.file.Files.createTempDirectory(name).toString
      val wh = s"$base/wh"
      spark.conf.set("spark.sql.catalog.graftcdfs",
        "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graftcdfs.warehouse", wh)
      val flat = graft.sources.Io.centsOf(spark, dir)
      val table = s"$wh/g/ev"
      // v0, v1: one file per slice keeps the MOR delete sparse (under
      // the COW-fallback fraction, so DV entries actually land)
      graft.sources.Io.tableAppend(
        flat.filter(pmod(col("event_id"), lit(3)) === 0).coalesce(1), table)
      graft.sources.Io.tableAppend(
        flat.filter(pmod(col("event_id"), lit(3)) === 1).coalesce(1), table)
      // v2: MOR DELETE — the feed must serve these rows as `delete`
      graft.sources.Io.tableDeleteWhereDv(spark, table,
        col("typ") === "error" && pmod(col("event_id"), lit(7)) === 0)
      require(graft.sources.Io.dvDirsOf(spark, table, 2L).nonEmpty,
        s"fixture at $table must carry DVs at v2")
      // v3: MOR UPDATE through the catalog — pre/post-image pairing
      spark.conf.set("graft.dml.mode", "mor")
      spark.conf.set("graft.dml.mor.cowFraction", "1.0")
      try spark.sql("UPDATE graftcdfs.g.ev SET cents = cents + 100000 " +
        "WHERE typ = 'purchase' AND event_id % 5 = 0")
      finally {
        spark.conf.unset("graft.dml.mode")
        spark.conf.unset("graft.dml.mor.cowFraction")
      }
      val feed = spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(table)
        .groupBy(col("_change_type").as("change_type"), col("typ"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          min(col("_commit_version")).as("min_v"),
          max(col("_commit_version")).as("max_v"))
      // batch 0: v0..v3, all four change types; then a mid-stream
      // append, and the next pull serves exactly v4's rows
      drainAround(toMemory(feed, "complete", name, Some(s"$base/ckpt"))) {
        graft.sources.Io.tableAppend(
          flat.filter(pmod(col("event_id"), lit(3)) === 2).coalesce(1), table)
      }
    }

  /** H36 (round 14) — streaming replaceWhere apply, the region-
    * backfill twin of H34/H35: each micro-batch is a REGION SNAPSHOT
    * (the full replacement content of one predicate region — here one
    * event type, re-priced) and `foreachBatch` lands it via
    * [[graft.sources.Io.tableReplaceWhere]] — region delete + insert
    * in ONE commit per batch, with the violating-rows guard enforcing
    * that a batch can only write the region it claims. Redelivery is
    * a content no-op because a region snapshot is ABSOLUTE (the
    * builder re-applies the whole instruction set and requires the
    * cut unchanged — more versions, same content). The gate reads the
    * LANDED table; the oracle replays both region swaps from source. */
  def replaceStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = landedGate(spark, dir, "h36") { b =>
      val table = s"$b/table"
      val flat = graft.sources.Io.centsOf(spark, dir)
      graft.sources.Io.tableAppend(
        flat.repartition(4, col("typ")), table)
      // region snapshots, one file each → one file per trigger applies
      // one region per micro-batch
      val landing = s"$b/landing"
      flat.filter(col("typ") === "purchase")
        .withColumn("cents", col("cents") + 100000L)
        .coalesce(1).write.mode("append").parquet(landing)
      flat.filter(col("typ") === "click")
        .withColumn("cents", col("cents") + 5L)
        .coalesce(1).write.mode("append").parquet(landing)
      // redelivery: a region snapshot is absolute — re-applying the
      // whole set must leave the content identical
      applyIdempotent(spark, landing, s"$b/ckpt", table) { (_, batch, _) =>
        // the distinct-typ envelope is tiny (one region per file);
        // the region rows themselves never reach the driver
        batch.select(col("typ")).distinct().collect()
          .map(_.getString(0)).foreach { t =>
            graft.sources.Io.tableReplaceWhere(
              batch.filter(col("typ") === t), table, col("typ") === t)
          }
      }
    }
    graft.sources.Io.typeSummary(latest(spark, s"$base/table"))
  }

  /** H35 (round 13), oracle-gated: STREAMING UPDATE APPLY — the
    * mutation-apply sibling of H34's CDC merge: a stream of UPDATE
    * INSTRUCTIONS lands in micro-batches, and `foreachBatch` applies
    * each as a SQL `UPDATE ... WHERE` through the catalog (the
    * row-level COW machinery: runtime group filtering rewrites only
    * the files holding the targeted type class, one OCC commit per
    * micro-batch). Instructions SET cents to an ABSOLUTE function of
    * the row (`event_id % mult + add`) and target disjoint type
    * classes, so a redelivered instruction re-updates to identical
    * content — the gate re-applies the whole instruction set after
    * the stream drains and the content must not move (mutation-apply
    * idempotence). The LANDED TABLE is what the gate reads back; the
    * oracle replays the final cut from the raw source. */
  def updateStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = landedGate(spark, dir, "h35") { b =>
      val table = s"$b/wh/g/t"
      spark.conf.set("spark.sql.catalog.graftsu",
        "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graftsu.warehouse", s"$b/wh")
      graft.sources.Io.tableAppend(graft.sources.Io.centsOf(spark, dir)
        .repartitionByRange(4, col("typ"), col("event_id")), table)
      // the instruction stream: one file per instruction so one file
      // per trigger yields one UPDATE per micro-batch
      import spark.implicits._
      val landing = s"$b/landing"
      Seq(("purchase", 1000L, 1L)).toDF("typ", "mult", "add")
        .coalesce(1).write.mode("append").parquet(landing)
      Seq(("click", 777L, 2L)).toDF("typ", "mult", "add")
        .coalesce(1).write.mode("append").parquet(landing)
      // redelivery: re-apply the WHOLE instruction set — absolute SET
      // expressions make it a content no-op (more versions, same cut)
      applyIdempotent(spark, landing, s"$b/ckpt", table) { (s, batch, _) =>
        // instruction batches are 1-row files — the collect is the
        // CDC-instruction envelope, never data-scale. Values bind as
        // NAMED PARAMETERS (round 14, round-13 nit): instruction
        // payloads must never be string-interpolated into SQL
        batch.collect().foreach { r =>
          s.sql("UPDATE graftsu.g.t SET cents = " +
            "event_id % :mult + :add WHERE typ = :typ",
            Map("mult" -> r.getAs[Long]("mult"),
              "add" -> r.getAs[Long]("add"),
              "typ" -> r.getAs[String]("typ")))
        }
      }
    }
    graft.sources.Io.typeSummary(latest(spark, s"$base/wh/g/t"))
  }

  /** H3: checkpointed ingest to the lakehouse layout — the WAL analog.
    * foreachBatch appends day-partitioned parquet; the streaming
    * checkpoint gives exactly-once batches across restarts (the spec
    * kills and resumes the query and asserts no duplicates).
    */
  def streamToStore(samples: DataFrame, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    samples.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .write.mode("append").partitionBy("day").parquet(outPath)
      }
      .start()

  /** H3, oracle-gated: the checkpointed WAL-analog ingest end-to-end —
    * 4 micro-batches append day-partitioned parquet through
    * [[streamToStore]]'s foreachBatch commit loop, and the LANDED
    * LAKEHOUSE (not the stream) is what the gate reads back: per-day
    * per-type counts and exact cent sums over the written store must
    * equal the batch aggregation over the source events — nothing
    * dropped, nothing doubled, day routing correct. The store and
    * checkpoint persist across JVMs under the `_done`-marker
    * discipline (the stream_mv precedent — a fresh landing would feed
    * the old checkpoint new filenames and double every count).
    */
  def storeIngestStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = landedGate(spark, dir, "h3") { b =>
      landParts(samplesOf(spark, dir), s"$b/landing")
      replayed(spark, s"$b/landing")(streamToStore(_, s"$b/store", s"$b/ckpt"))
    }
    spark.read.parquet(s"$base/store")
      .groupBy(col("day"), col("typ"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
  }

  /** H3b: checkpointed ingest WITH index maintenance — the reference's
    * full WAL → MemIndex → try_compact loop (index_server.h:48-66) run
    * end-to-end on the stream: every micro-batch (1) writes its samples
    * into the lakehouse under a batch-keyed directory (the commit) and
    * (2) flushes its series-catalog rows into the LSM IndexStore as a
    * batch-id-keyed segment, so the materialized index trails the
    * stream by at most one micro-batch and `resolvePostings` answers
    * from the store while ingest keeps running. BOTH halves are
    * idempotent under foreachBatch replay: the lakehouse write is
    * mode-overwrite into `batch=<id>/day=...` (a replay rewrites the
    * same directory instead of appending duplicates — the flaw of a
    * plain append sink), and the index flush skips its committed
    * segment. Readers see `batch` as one more partition column; day
    * pruning is unaffected. Read amplification stays bounded with no
    * ingest pause: a flush that leaves more than
    * [[graft.index.SegmentLog.MaxLive]] segments live merges them, and
    * [[graft.index.IndexStore.compact]] (manual_compact) may run at
    * any time alongside the stream.
    */
  def streamToStoreIndexed(samples: DataFrame, outPath: String,
      checkpoint: String, indexPath: String,
      labelNames: Seq[String] = Seq("usr", "typ")): org.apache.spark.sql.streaming.StreamingQuery =
    samples.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.persist()
        try {
          batch.withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
            .write.mode("overwrite").partitionBy("day")
            .parquet(s"$outPath/batch=$batchId")
          graft.index.IndexStore.flushBatch(
            new graft.index.TagIndex(batch.toDF(), labelNames), indexPath, batchId)
        } finally batch.unpersist()
      }
      .start()

  /** H5: stream-stream interval join — the streaming twin of the batch
    * interval join (Relational.intervalJoin): errors ⋈ purchases for
    * the same user within ±1h of event time. Both sides carry
    * watermarks and the join condition bounds both event times, so
    * Spark evicts state as the watermark advances — state is
    * ∝ (rate × 2h window), never unbounded. Equi-key on usr keeps the
    * match hash-partitioned; the range predicate filters within the
    * key bucket (no cartesian).
    */
  def intervalJoin(errors: DataFrame, purchases: DataFrame): DataFrame = {
    val e = errors.withWatermark("ts", "1 hour").alias("e")
    val p = purchases.withWatermark("ts", "1 hour").alias("p")
    e.join(p,
      col("e.usr") === col("p.usr") &&
        col("p.ts") >= col("e.ts") - expr("INTERVAL 1 HOUR") &&
        col("p.ts") <= col("e.ts") + expr("INTERVAL 1 HOUR"))
      .select(col("e.usr").as("usr"),
        col("e.event_id").as("err_id"), col("e.ts").as("err_ts"),
        col("p.event_id").as("pur_id"), col("p.ts").as("pur_ts"),
        col("p.value").as("pur_v"))
  }

  /** H11: streaming session windows — the streaming twin of the batch
    * session_window operator (B18): per-series activity sessions with
    * a 30-minute inactivity gap. The SAME session_window groupBy runs
    * in both modes (withWatermark is a no-op on a static frame), so
    * batch and streaming session semantics cannot drift. In Append
    * mode a session row is emitted exactly once — when the watermark
    * passes its close — and its state is dropped; open-session state
    * is ∝ (active series), never sample history.
    */
  def sessionAgg(samples: DataFrame): DataFrame =
    samples
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("usr"), col("typ"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
      .select(unix_timestamp(col("session_window.start")).as("sess_start_sec"),
        col("usr"), col("typ"), col("n"), col("sum_v"))

  /** H8: streaming exact dedup — the streaming twin of the batch exact
    * dedup (D1): drop re-deliveries of the same event within the
    * watermark horizon. dropDuplicatesWithinWatermark keeps one state
    * entry per key only until the watermark passes it, so state is
    * ∝ (rate × horizon), never the full history — the correct shape
    * for at-least-once transports (Kafka redelivery, producer retry).
    */
  def dedupStream(samples: DataFrame): DataFrame =
    samples
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** H13: streaming incremental dedup — the streaming twin of the batch
    * D8: a continuously-arriving document stream verdicted against a
    * STATIC curated-corpus hash table (stream-static left join, no
    * streaming state for the corpus side) and against itself
    * (content-hash-keyed flatMapGroupsWithState). Verdicts mirror D8
    * exactly: `dup_corpus` (content already curated — hash hit
    * CONFIRMED by text equality, collision-proof like the batch twin),
    * `dup_batch` (an earlier stream doc had the same content),
    * `kept`. Per-hash state is one boolean with an event-time timeout
    * at watermark + horizon, so state is ∝ (rate × horizon) like H8 —
    * never the full stream history; the corpus table is the
    * incrementally-maintained derived table D8 describes, broadcast
    * or hash-joined per micro-batch.
    */
  def streamingCorpusDedup(docs: Dataset[DocIn], corpus: DataFrame): Dataset[DocVerdict] = {
    import docs.sparkSession.implicits._
    val cor = corpus.select(xxhash64(col("text")).as("h"), col("text").as("ctext"))
      .distinct()
    val joined = docs.toDF()
      .withColumn("h", xxhash64(col("text")))
      .join(cor, Seq("h"), "left_outer")
      .withColumn("in_corpus", col("ctext").isNotNull && col("ctext") === col("text"))
      .select(col("doc_id"), col("ts"), col("h"), col("in_corpus"))
      .withWatermark("ts", "1 hour")
      .as[(Long, java.sql.Timestamp, Long, Boolean)]
    joined.groupByKey(_._3)
      .flatMapGroupsWithState[Boolean, DocVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.getOrElse(false)
            // deterministic within-batch order, like D8's rn window
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._1))
            val out = sorted.map { r =>
              val v = if (r._4) "dup_corpus"
                      else if (seen) "dup_batch"
                      else "kept"
              seen = true
              DocVerdict(r._1, v)
            }
            state.update(seen)
            // horizon past the LAST OCCURRENCE's event time — anchoring
            // on the watermark instead would stamp the first batch
            // (watermark still 0) with an epoch-1970 timeout that
            // expires the moment the real watermark is established
            state.setTimeoutTimestamp(sorted.last._2.getTime + 3600000L)
            out.iterator
          }
      }
  }

  /** H15: streaming sequence packing — the streaming twin of the batch
    * F11 greedy fold. The per-source open-bin cursor (bin ordinal,
    * fill) lives in flatMapGroupsWithState: O(1) checkpointed state
    * per source, the same invariant the batch fold keeps per
    * partition cursor. Within a micro-batch a source's rows fold in
    * (event-time, doc_id) order; across batches, arrival order — so
    * when the stream delivers documents in doc order the emitted bin
    * assignments are IDENTICAL to `TextAnalysis.seqPackOn` (the spec
    * feeds ordered batches and asserts equality). No timeout: an idle
    * source's cursor is one tiny struct that must stay valid — a
    * source that resumes after a quiet day continues its open bin,
    * exactly like the batch fold re-run over the grown corpus.
    */
  def streamingSeqPack(docs: Dataset[PackIn])
      : Dataset[graft.text.TextAnalysis.PackOut] = {
    import docs.sparkSession.implicits._
    val cap = 512L
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[PackState, graft.text.TextAnalysis.PackOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src, rows, state) =>
          var st = state.getOption.getOrElse(PackState(0L, 0L))
          val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
          val out = sorted.map { r =>
            st = if (st.fill > 0 && st.fill + r.n_tok > cap)
              PackState(st.bin + 1, r.n_tok)
            else PackState(st.bin, st.fill + r.n_tok)
            graft.text.TextAnalysis.PackOut(r.doc_id, src, r.n_tok, st.bin)
          }
          state.update(st)
          out.iterator
      }
  }

  /** H21: the streaming alert state machine — the stateful half of
    * B49 run the way Prometheus's rule manager actually runs it: the
    * EVALUATOR fires per interval and emits the active set; the
    * `for`-duration tracker is the only state carried between
    * intervals (rules/alerting.go Alert.ActiveAt). Here the active
    * rows arrive as a stream in grid order and flatMapGroupsWithState
    * keeps (activeSince, lastT) per series — O(1) checkpointed state,
    * reset whenever a step gap shows the condition broke (the next
    * arrival's t_sec ≠ lastT + step), firing once t − activeSince ≥
    * `for`. Emissions over any prefix equal the batch gaps-and-islands
    * derivation over that prefix — which is what the gate checks
    * against the SAME oracle as `promql_alerts`.
    */
  def streamingAlerts(active: Dataset[AlertIn], stepSec: Long,
      forSec: Long, alertName: String): Dataset[AlertOut] = {
    import active.sparkSession.implicits._
    active.groupByKey(_.usr)
      .flatMapGroupsWithState[AlertState, AlertOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (usr, rows, state) =>
          var st = state.getOption.getOrElse(AlertState(-1L, Long.MinValue))
          val out = rows.toSeq.sortBy(_.t_sec).map { r =>
            st = if (st.lastT == r.t_sec - stepSec)
              AlertState(st.activeSince, r.t_sec)
            else AlertState(r.t_sec, r.t_sec)
            AlertOut(alertName, usr, r.t_sec,
              if (r.t_sec - st.activeSince >= forSec) "firing" else "pending")
          }
          state.update(st)
          out.iterator
      }
  }

  /** H22: streaming SCD2 maintenance — C25's versioned-dimension build
    * run as a LIVE dimension: each user's open version is O(1)
    * mapGroupsWithState state (attr, since, ordinal); an arriving
    * event with a DIFFERENT attr closes the open version (emits it
    * with valid_to = the new event's time) and opens the next — the
    * warehouse "type-2 upsert" as a stream, no MERGE, no rewrite.
    * Closed versions are append-once; the open row lives only in
    * state (it has no valid_to yet, by definition). Emissions over an
    * in-order replay equal the batch scd2 derivation's CLOSED rows
    * verbatim — which is what the gate checks.
    */
  def streamingScd2(ev: Dataset[Scd2In]): Dataset[Scd2Out] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
          rows.toSeq.sortBy(r => (r.us, r.event_id)).foreach { r =>
            if (st == null) st = Scd2State(r.attr, r.us, 1L)
            else if (r.attr != st.attr) {
              out += Scd2Out(uid, st.attr, st.since_us, r.us, st.version)
              st = Scd2State(r.attr, r.us, st.version + 1L)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** H23: ONLINE feature assembly — C26's trailing-window features
    * maintained as a live per-entity state (the online feature store
    * loop): each user's rolling last-5 event types live in
    * flatMapGroupsWithState (O(k) checkpointed state per user); a
    * PURCHASE arrival emits the training example with whatever history
    * exists AT that moment, then every event (label or not) advances
    * the history. Emissions over an in-order replay equal the batch
    * window derivation verbatim — the batch/online feature-parity
    * property (training-serving skew zero by construction) that
    * feature platforms advertise, here an actual gated identity.
    */
  def streamingFeatures(ev: Dataset[FeatIn]): Dataset[FeatOut] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[FeatState, FeatOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          var h = state.getOption.map(_.hist).getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[FeatOut]
          rows.toSeq.sortBy(r => (r.us, r.event_id)).foreach { r =>
            if (r.typ == "purchase")
              out += FeatOut(r.event_id, uid, h.mkString(","), h.length)
            h = (h :+ r.typ).takeRight(5)
          }
          state.update(FeatState(h))
          out.iterator
      }
  }

  /** H23, oracle-gated: events replay in 4 event-time quartile
    * micro-batches through [[streamingFeatures]]; the appended
    * examples must equal C26's batch window derivation verbatim
    * (same oracle) — histories span micro-batch boundaries, which is
    * exactly what the checkpointed per-user state is for.
    */
  def featuresStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sunk(spark, dir, "h23", "append")(landOrdered(
      graft.Tables.events(spark, dir).select(
        col("user_id"), col("event_id"), col("event_type").as("typ"),
        unix_micros(col("ts")).as("us"), col("ts")),
      Seq("ts", "event_id"), _, 4))(s => streamingFeatures(s.as[FeatIn]).toDF())
  }

  /** H25: LIVE gap-filled downsampling — B52's dashboard grid
    * (observed / LOCF / linear-interp per series-hour) served from a
    * stream with O(1) state per series: the last CLOSED observed hour
    * plus the currently accumulating one. An hour's row (and the gap
    * rows behind it) is emitted append-once when a LATER hour's first
    * sample closes it — the interp column is why the closed segment
    * must buffer one step: a gap's linear fill needs the FINAL max of
    * the bracketing next hour, which is only known once that hour
    * ends. The per-series `flush` sentinel closes the open hour at
    * grid end and emits the LOCF tail (interp undefined there, exactly
    * like batch). In-order replay ⇒ emissions ≡ the B52 batch window
    * derivation verbatim (same oracle) — the live dashboard cache and
    * the batch backfill provably serve identical ticks.
    */
  def streamingGapfill(ev: Dataset[GfIn], t0: Long,
      hours: Int): Dataset[GfOut] = {
    import ev.sparkSession.implicits._
    val gridEnd = t0 + (hours - 1) * 3600L
    def r4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    ev.groupByKey(_.usr)
      .flatMapGroupsWithState[GfState, GfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (usr, rows, state) =>
          var st = state.getOption
            .getOrElse(GfState(false, 0L, 0d, false, 0L, 0d))
          val out = scala.collection.mutable.ArrayBuffer.empty[GfOut]
          // close the accumulating hour: emit the gap rows behind it
          // (LOCF = last closed value; interp = the batch formula
          // replicated IEEE-op-for-op) and then its own observed row
          def closeAcc(): Unit = {
            if (!st.hasLast) {
              var hh = t0
              while (hh < st.accH) {
                out += GfOut(usr, hh, None, None, None); hh += 3600
              }
            } else {
              var hh = st.lastH + 3600
              while (hh < st.accH) {
                val frac = (hh - st.lastH).toDouble / (st.accH - st.lastH)
                out += GfOut(usr, hh, None, Some(r4(st.lastV)),
                  Some(r4(st.lastV + (st.accV - st.lastV) * frac)))
                hh += 3600
              }
            }
            out += GfOut(usr, st.accH, Some(r4(st.accV)),
              Some(r4(st.accV)), Some(r4(st.accV)))
            st = GfState(true, st.accH, st.accV, false, 0L, 0d)
          }
          rows.toSeq.sortBy(r => (r.h_sec, r.flush)).foreach { r =>
            if (r.flush) {
              if (st.hasAcc) closeAcc()
              if (st.hasLast && st.lastH < gridEnd) {
                var hh = st.lastH + 3600
                while (hh <= gridEnd) {
                  out += GfOut(usr, hh, None, Some(r4(st.lastV)), None)
                  hh += 3600
                }
                st = st.copy(lastH = gridEnd) // idempotent re-flush
              }
            } else if (!st.hasAcc)
              st = st.copy(hasAcc = true, accH = r.h_sec, accV = r.value)
            else if (r.h_sec == st.accH)
              st = st.copy(accV = math.max(st.accV, r.value))
            else {
              closeAcc()
              st = st.copy(hasAcc = true, accH = r.h_sec, accV = r.value)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** H25, oracle-gated: the B52 slice (purchase series of usr ≤ 3,
    * Jan 1-7) replays in 4 event-time quartile micro-batches + the
    * per-series grid-end sentinels through [[streamingGapfill]]; the
    * appended grid rows must equal the batch gapfill verbatim (same
    * DuckDB oracle) — hours and gaps span micro-batch boundaries,
    * which is exactly what the checkpointed two-segment state is for.
    */
  def gapfillStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t0 = 1704067200L
    sunk(spark, dir, "h25", "append") { l =>
      // range via Tables.tsBetween → file-native-column pushdown
      // (end-1µs keeps the half-open bound; CLAUDE.md invariant)
      val raw = graft.Tables.tsBetween(graft.Tables.eventsRaw(spark, dir),
        timestamp_micros(lit(t0 * 1000000L)),
        timestamp_micros(lit((t0 + 168L * 3600L) * 1000000L - 1L)))
      val sec = unix_timestamp(graft.Tables.tsCol(raw))
      val ev = raw
        .filter(col("event_type") === "purchase" && col("user_id") <= 3)
        .select(col("user_id").cast("string").as("usr"),
          (sec - pmod(sec, lit(3600L))).as("h_sec"),
          col("value"), lit(false).as("flush"),
          graft.Tables.tsCol(raw).as("ts"))
      val sentinels = ev.select(col("usr")).distinct()
        .select(col("usr"), lit(t0 + 168L * 3600L).as("h_sec"),
          lit(0.0).as("value"), lit(true).as("flush"),
          lit(t0 + 169L * 3600L).cast("timestamp").as("ts"))
      landOrdered(ev.unionByName(sentinels), Seq("ts"), l, 4)
    }(s => streamingGapfill(s.as[GfIn], t0, 168).toDF())
  }

  /** H22, oracle-gated: the events stream replays in 4 event-time
    * quartile micro-batches through [[streamingScd2]]; the appended
    * closed versions must equal the batch C25 derivation restricted to
    * closed rows (valid_to IS NOT NULL) — same oracle, proving the
    * O(1)-per-user streamed cursor ≡ the stateless batch window.
    */
  def scd2Streamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sunk(spark, dir, "h22", "append")(landOrdered(
      graft.Tables.events(spark, dir).select(
        col("user_id"), col("event_id"), col("event_type").as("attr"),
        unix_micros(col("ts")).as("us"), col("ts")),
      Seq("ts", "event_id"), _, 4))(s => streamingScd2(s.as[Scd2In]).toDF())
  }

  /** H21, oracle-gated: B49's alerting rule driven as a STREAM. The
    * rule expression (the same one `promql_alerts` gates) is evaluated
    * over the range grid, and the resulting active set lands in 4
    * grid-time-quartile micro-batches — the rule manager's interval
    * firings replayed in order — through [[streamingAlerts]]'s
    * per-series tracker. The appended ALERTS rows must equal the batch
    * gaps-and-islands derivation verbatim (same DuckDB oracle), which
    * proves the O(1)-per-series streamed state machine ≡ the stateless
    * batch window over the full grid.
    */
  def alertsStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sunk(spark, dir, "h21", "append") { l =>
      val active = graft.promql.PromQl.evalRange(spark, dir,
          """sum by (usr) (count_over_time({typ="purchase"}[2d])) > 2""",
          "2024-01-03 00:00:00", "2024-01-31 00:00:00", 86400L)
        .select(col("usr"), col("t_sec"),
          timestamp_seconds(col("t_sec")).as("ts"))
      landOrdered(active, Seq("t_sec"), l, 4)
    } { s =>
      streamingAlerts(s.as[AlertIn], 86400L, 172800L, "HighPurchaseVolume")
        .toDF()
    }
  }

  /** H16: streaming centroid maintenance — the streaming twin of the
    * E5 coherence scorer's per-label centroid: embeddings arrive
    * continuously (new curated documents) and each label's centroid
    * state (component sums of the dyadic-quantized unit vectors +
    * count) updates in mapGroupsWithState, O(dim) checkpointed state
    * per label. Because the summands live on the 2^-20 dyadic grid,
    * the running sums are EXACT and order-independent — the final
    * streaming state is bit-identical to the batch VecSumAgg centroid
    * over the same vectors, any arrival order, any batching (the spec
    * asserts it). Downstream, each micro-batch's emission is the
    * fresh centroid E5 scores against — the incremental SemDeDup
    * maintenance loop.
    */
  def streamingCentroid(vecs: Dataset[VecIn]): Dataset[CentOut] = {
    import vecs.sparkSession.implicits._
    vecs.groupByKey(_.label)
      .mapGroupsWithState[CentState, CentOut](GroupStateTimeout.NoTimeout) {
        (label, rows, state) =>
          var st = state.getOption.orNull
          rows.foreach { r =>
            if (st == null) st = CentState(r.u.clone(), 1L)
            else {
              var i = 0
              while (i < st.c.length) { st.c(i) += r.u(i); i += 1 }
              st = CentState(st.c, st.n + 1)
            }
          }
          state.update(st)
          CentOut(label, st.n, st.c.toSeq)
      }
  }

  /** Streaming heavy-hitters state: per-key bucket counts (bounded by
    * the Misra–Gries capacity, like the batch aggregate).
    */
  case class FreqState(counts: Map[Long, Long])

  /** Per-batch emission: the key's current top-k buckets, best first. */
  case class FreqTop(typ: String, buckets: Seq[Long], counts: Seq[Long])

  /** H10: streaming heavy hitters — the streaming twin of the batch
    * Misra–Gries aggregate (C13): per label, value-bucket counts
    * maintained in mapGroupsWithState with the same bounded-capacity
    * decrement, emitting the running top-k each micro-batch. State is
    * O(capacity) per key forever — the hot-values dashboard shape —
    * and with capacity above the live bucket cardinality the counts
    * (and the spec's batch-equivalence) are exact.
    */
  def streamingFreqItems(samples: Dataset[Sample], capacity: Int = 1024,
      k: Int = 5): Dataset[FreqTop] = {
    import samples.sparkSession.implicits._
    def update(typ: String, rows: Iterator[Sample],
        state: GroupState[FreqState]): FreqTop = {
      val m = scala.collection.mutable.HashMap[Long, Long]()
      state.getOption.foreach(_.counts.foreach { case (b, n) => m(b) = n })
      rows.foreach { r =>
        val b = math.floor(r.value).toLong
        m(b) = m.getOrElse(b, 0L) + 1L
        // Misra–Gries batched decrement, same scheme as FreqItemsAgg
        while (m.size > capacity) {
          val min = m.valuesIterator.min
          m.filterInPlace((_, n) => n > min)
          m.keysIterator.toList.foreach(key => m(key) = m(key) - min)
        }
      }
      state.update(FreqState(m.toMap))
      val top = m.toSeq.sortBy { case (b, n) => (-n, b) }.take(k)
      FreqTop(typ, top.map(_._1), top.map(_._2))
    }
    samples.groupByKey(_.typ)
      .mapGroupsWithState[FreqState, FreqTop](update _)
  }

  /** H12: streaming top-k — the bounded-heap TopKAgg (B6's aggregate)
    * running AS the streaming aggregation: the TypedImperativeAggregate
    * buffer (≤ k entries) is exactly what the state store checkpoints
    * per key, so streaming top-k state is O(k) per label forever — the
    * hot-series dashboard shape — and batch/streaming share one
    * ranking implementation. Update mode re-emits a key's current
    * top-k whenever a micro-batch improves it.
    */
  def streamingTopK(samples: DataFrame, k: Int = 3): DataFrame = {
    val spark = samples.sparkSession
    samples.groupBy(col("typ"))
      .agg(graft.functions.TopKAgg.column(spark,
        col("value"), col("usr"), col("typ"), k).as("top"))
      .select(col("typ"), posexplode(col("top")))
      .select(col("typ"), (col("pos") + 1).as("rk"),
        col("col.a").as("usr"), col("col.v").as("v"))
  }

  /** H14 state: cumulative bucket counts c≤25, c≤50, c≤100, c≤200 and
    * the total — O(#buckets) per key forever.
    */
  case class HistState(counts: Array[Long])

  /** H14 per-update emission: the key's current histogram quantiles. */
  case class HistQuantiles(typ: String, total: Long, hq50: Double, hq90: Double)

  /** H14: streaming histogram_quantile — the streaming twin of B19:
    * per label, cumulative bucket counts maintained in
    * mapGroupsWithState (state is O(#buckets) per key, never a sample
    * buffer), emitting the interpolated quantiles after every
    * micro-batch — the live latency-dashboard shape. Counts are exact,
    * and the interpolation replays B19's arithmetic exactly, so after
    * any prefix of the stream the emission equals the batch operator
    * over the same prefix (the StreamingSpec equivalence gate).
    */
  def streamingHistogramQuantile(samples: Dataset[Sample]): Dataset[HistQuantiles] = {
    import samples.sparkSession.implicits._
    val bounds = Array(25.0, 50.0, 100.0, 200.0)
    def interp(c: Array[Long], total: Long, q: Double): Double = {
      val rank = total * q
      var i = 0
      while (i < bounds.length) {
        val lo = if (i == 0) 0.0 else bounds(i - 1)
        val cPrev = if (i == 0) 0L else c(i - 1)
        if (c(i) >= rank)
          return lo + (rank - cPrev) / (c(i) - cPrev) * (bounds(i) - lo)
        i += 1
      }
      bounds.last
    }
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def update(typ: String, rows: Iterator[Sample],
        state: GroupState[HistState]): HistQuantiles = {
      val c = state.getOption.map(_.counts.clone()).getOrElse(Array.fill(5)(0L))
      rows.foreach { s =>
        var i = 0
        while (i < bounds.length) {
          if (s.value <= bounds(i)) c(i) += 1
          i += 1
        }
        c(4) += 1
      }
      state.update(HistState(c))
      HistQuantiles(typ, c(4),
        round4(interp(c, c(4), 0.5)), round4(interp(c, c(4), 0.9)))
    }
    samples.groupByKey(_.typ)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update _)
  }

  /** H15: streaming materialized-view maintenance — the C21 merge run
    * as the ingest loop: every micro-batch aggregates to the mergeable
    * (n, sum, sum-of-squares) state and commits it as its OWN
    * `seg=b<batchId>` segment of a [[graft.index.SegmentLog]]
    * (mode-overwrite, so a foreachBatch replay rewrites the same
    * segment instead of double-counting — the H3b idempotence rule).
    * The view is merge-on-read over the live segments, one sum-merge
    * groupBy. Refresh cost ∝ |batch|; a flush that leaves more than
    * [[graft.index.SegmentLog.MaxLive]] segments live merges them into
    * one, which bounds read amplification, as in IndexStore/TermStore.
    * [[mvRead]] must equal the batch recompute — StreamingSpec asserts
    * it against C21's contract.
    */
  def streamMvMaintain(samples: Dataset[Sample], path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    samples.toDF().writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val state = batch
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
          .groupBy(col("usr"), col("typ"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
            sum(col("cents") * col("cents")).as("sq"))
        SegmentLog.append(spark, path, SegmentLog.list(spark, path),
          SegmentLog.batchSeg(batchId), state)(mvFold(spark, path))
      }
      .start()

  /** Merge-on-read over the live MV segments. */
  def mvRead(spark: SparkSession, path: String): DataFrame =
    mvFold(spark, path)(SegmentLog.list(spark, path))

  private def mvFold(spark: SparkSession, path: String)(
      l: SegmentLog.Listing): DataFrame =
    SegmentLog.read(spark, path, l.live)
      .groupBy(col("usr"), col("typ"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        sum(col("sq")).as("sq"))

  /** H2: streaming add_series — mapGroupsWithState keyed by label set;
    * first sample creates the series (isNew=true, stable hash tsid),
    * later samples bump counters. State size ∝ #series, not #samples.
    */
  def trackSeries(samples: Dataset[Sample]): Dataset[SeriesUpdate] = {
    import samples.sparkSession.implicits._
    def update(key: (String, String), batch: Iterator[Sample],
        state: GroupState[SeriesState]): SeriesUpdate = {
      val rows = batch.toSeq
      val minSec = rows.map(_.ts.getTime / 1000).min
      val prior = state.getOption
      val next = prior match {
        case Some(s) => s.copy(nSamples = s.nSamples + rows.size)
        case None => SeriesState(tsidOf(key._1, key._2), minSec, rows.size.toLong)
      }
      state.update(next)
      SeriesUpdate(key._1, key._2, next.tsid, next.firstSeenSec, next.nSamples, prior.isEmpty)
    }
    samples
      .groupByKey(s => (s.usr, s.typ))
      .mapGroupsWithState[SeriesState, SeriesUpdate](update _)
  }

  /** H20 (round 9, oracle-gated): streaming VECTOR-STORE ingest — the
    * embeddings stream lands in 4 micro-batches through foreachBatch;
    * each batch SQ8-encodes its vectors (E8's symmetric per-vector
    * form, Ann.sq8CodesOn) and commits `batch=<id>` overwrite dirs
    * (flushBatch-style idempotence under foreachBatch replay). The
    * gate reads the LANDED codes back, joins the source on vec_id for
    * the reconstruction-error term, and must reproduce E8's oracle
    * row-for-row — any corruption in the landed scale/codes breaks the
    * hash. This is the ingest half of a vector lakehouse: encode on
    * arrival, serve compressed (E9 scans such codes).
    */
  def embedIngestStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = landedGate(spark, dir, "h20", "embeddings.parquet") { b =>
      landOrdered(graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").as("v")),
        Seq("vec_id"), s"$b/landing", 4)
      replayed(spark, s"$b/landing")(_.writeStream
        .option("checkpointLocation", s"$b/ckpt")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.similarity.Ann.sq8CodesOn(batch)
            .write.mode("overwrite").parquet(s"$b/store/batch=$id")
        }
        .start())
    }
    val store = spark.read.option("basePath", s"$base/store")
      .parquet(s"$base/store").drop("batch")
    val src = graft.Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
    graft.similarity.Ann.sq8Report(store.join(src, Seq("vec_id")))
  }

  /** H19 (round 9, oracle-gated): streaming QUALITY ROUTER — the
    * foreachBatch split-sink shape every streaming curation pipeline
    * needs: each documents micro-batch is scored with the F22 gopher
    * predicate and routed to an accept/ or reject/ parquet sink. Each
    * batch writes `batch=<id>` partition dirs in OVERWRITE mode, so a
    * foreachBatch retry replays into the same directories instead of
    * double-appending — the same idempotence-by-name discipline as
    * IndexStore.flushBatch's `seg=b<id>` segments. The gate follows
    * the LANDED-FILES rule: read BOTH sinks back, and their combined
    * per-verdict aggregate (integer-only: counts, word/stopword sums,
    * id bounds) must reproduce the DuckDB oracle's batch filter over
    * the source table — write→route→read ≡ batch, through a real
    * 4-micro-batch checkpointed run.
    */
  def qualityRouteStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = routeStreamed(spark, dir, "h19") {
      graft.text.TextAnalysis.gopherScoreOn(_)
        .select(col("doc_id"), col("n_words"), col("n_stop"), col("keep"))
    }(_.filter(col("keep")).drop("keep"), _.filter(!col("keep")).drop("keep"))
    routedSides(spark, base)
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_words")).as("sum_words"),
        sum(col("n_stop")).as("sum_stop"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** The split-sink shape of the streaming routers: the documents land
    * in 4 doc_id-ordered parts and each micro-batch is scored (the
    * scorer is built once, before the stream starts; the scored batch
    * is persisted while it is written) and routed to
    * `accept/batch=<id>` and `reject/batch=<id>` in OVERWRITE mode, so
    * a foreachBatch retry replays into the same directories instead of
    * double-appending. */
  private def routeStreamed(spark: SparkSession, dir: String, gate: String,
      cols: Seq[String] = Seq("doc_id", "n_chars", "text"))(
      scorer: => DataFrame => DataFrame)(
      accept: DataFrame => DataFrame, reject: DataFrame => DataFrame): String =
    landedGate(spark, dir, gate, "documents.parquet") { b =>
      val score = scorer
      landOrdered(graft.Tables.documents(spark, dir).select(cols.map(col): _*),
        Seq("doc_id"), s"$b/landing", 4)
      replayed(spark, s"$b/landing")(_.writeStream
        .option("checkpointLocation", s"$b/ckpt")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val scored = score(batch).persist()
          try {
            accept(scored).write.mode("overwrite").parquet(s"$b/accept/batch=$id")
            reject(scored).write.mode("overwrite").parquet(s"$b/reject/batch=$id")
          } finally scored.unpersist()
          ()
        }
        .start())
    }

  /** Both routed sinks read back, tagged with their `verdict`. */
  private def routedSides(spark: SparkSession, base: String): DataFrame = {
    def side(name: String): DataFrame =
      spark.read.option("basePath", s"$base/$name").parquet(s"$base/$name")
        .withColumn("verdict", lit(name)).drop("batch")
    side("accept").unionByName(side("reject"))
  }

  /** H31 (round 10, oracle-gated): streaming TEXT-index maintenance —
    * the BM25 twin of H9's per-micro-batch tag-index loop: each
    * documents micro-batch flushes its postings into a [[TermStore]]
    * segment (`seg=b<id>`, `_SUCCESS`-gated, idempotent under
    * foreachBatch replay — the store's existing contract), and the
    * gate answers F14's EXACT ranking from the stream-built store:
    * same oracle as `bm25_topk`, proving stream-flushed postings
    * answer exactly like freshly-derived ones. Documents are
    * immutable, so segments are append-only and merge-on-read is a
    * plain union — incremental cost per batch ∝ the batch's tokens.
    */
  def bm25Streamed(spark: SparkSession, dir: String): DataFrame = {
    val base = landedGate(spark, dir, "h31", "documents.parquet") { b =>
      landOrdered(graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")), Seq("doc_id"), s"$b/landing", 4)
      replayed(spark, s"$b/landing")(_.writeStream
        .option("checkpointLocation", s"$b/ckpt")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.text.TermStore.flush(batch, s"$b/store", id)
        }
        .start())
      // merge the micro-batch segments: the gate answers from the
      // COMPACTED store — same oracle, proving the merge segment
      // changes nothing a reader can observe
      graft.text.TermStore.compact(spark, s"$b/store")
    }
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    graft.text.Bm25.rankStored(spark, s"$base/store", docs, s"h31:$dir")
  }

  /** H30 (round 10, oracle-gated): LIVE native-histogram maintenance —
    * the streaming half of B55. A native histogram is a bag of
    * MERGEABLE partials (per-bucket counts, zero-bucket count, dyadic
    * value sum), so one Complete-mode aggregation keyed by
    * (series, bucket) folds the stream incrementally with NO watermark
    * and NO ordered replay (any arrival order yields the same
    * histogram — the H26 rollup argument; state ∝ series × occupied
    * buckets, 2 scalars each). The gate assembles the final
    * stream-maintained state into B55's sample shape, runs the SAME
    * 3.x exponential-interpolation quantile over it, and must
    * reproduce `promql_native_histq`'s raw-events DuckDB oracle:
    * stream ≡ batch model ≡ raw.
    */
  def nativeHistStreamed(spark: SparkSession, dir: String): DataFrame = {
    val st = sunk(spark, dir, "h30", "complete")(landHistWindow(spark, dir, _)) { s =>
      val uppers = graft.promql.NativeHist.uppers
      val zt = graft.promql.NativeHist.zeroThreshold
      s.select(col("typ"),
          when(col("value") <= zt, lit(null).cast("int"))
            .otherwise(lit(graft.promql.NativeHist.minIdx) +
              size(filter(typedlit(uppers), b => b < col("value")))).as("idx"),
          (floor(col("value") * 1048576.0 + 0.5) / 1048576.0).as("qv"))
        .groupBy(col("typ"), col("idx"))
        .agg(count(lit(1)).as("c"), sum(col("qv")).as("s"))
    }
    // assemble the final streamed state into the B55 sample shape and
    // serve the p90 through the SAME interpolation path.
    // ONE aggregation assembles the whole sample (collect_list skips
    // the null the zero-bucket row maps to — and a single-branch
    // lineage keeps quantileOf's self-join resolvable)
    val h = st.groupBy(col("typ")).agg(
      sum(col("c")).cast("double").as("cnt"),
      sum(when(col("idx").isNull, col("c")).otherwise(0L))
        .cast("double").as("zcnt"),
      sum(col("s")).as("hsum"),
      sort_array(collect_list(when(col("idx").isNotNull,
        struct(col("idx"), col("c").cast("double").as("c")))))
        .as("buckets"))
      .withColumn("rsec", lit(1.0))
    graft.promql.NativeHist.quantileOf(h, 0.9)
      .select(col("typ"),
        (floor(col("value") * 1e4 + 0.5) / 1e4).as("hq90"))
  }

  /** The native-histogram window's (typ, value, event_id) samples,
    * landed in 4 event_id-ordered parts. */
  private def landHistWindow(spark: SparkSession, dir: String,
      landing: String): Unit = {
    val t0 = graft.promql.NativeHist.t0Sec
    val endSec = t0 + graft.promql.NativeHist.hours * 3600L
    val raw = graft.Tables.tsBetween(graft.Tables.eventsRaw(spark, dir),
      timestamp_micros(lit(t0 * 1000000L)),
      timestamp_micros(lit(endSec * 1000000L - 1L)))
    landOrdered(raw.select(col("event_type").as("typ"), col("value"),
      col("event_id")), Seq("event_id"), landing, 4)
  }

  /** H33 (round 11, oracle-gated): LIVE NHCB maintenance — the
    * streaming half of B59. A custom-bucket histogram is, like the
    * exponential one, a bag of MERGEABLE partials (one count per
    * finite bound + the total), so ONE Complete-mode aggregation
    * keyed by series folds the stream with no watermark and no
    * ordered replay (any arrival order yields the same counts — the
    * H30 argument with a fixed-width ladder: state ∝ series ×
    * #bounds scalars). The gate assembles the final streamed counts
    * into B59's sample shape and serves the p90 through the SAME
    * classic linear interpolation: stream ≡ batch model ≡ raw, one
    * oracle (`promql_nhcb`'s).
    */
  def nhcbStreamed(spark: SparkSession, dir: String): DataFrame = {
    val bounds = graft.promql.NativeHist.nhcbBounds
    val st = sunk(spark, dir, "h33", "complete")(landHistWindow(spark, dir, _)) { s =>
      val aggs = count(lit(1)).as("cnt") +:
        bounds.zipWithIndex.map { case (b, i) =>
          sum(when(col("value") <= b, 1L).otherwise(0L)).as(s"c$i")
        }
      s.groupBy(col("typ")).agg(aggs.head, aggs.tail: _*)
    }
    val h = st.select(col("typ"), typedlit(bounds).as("bounds"),
      col("cnt").cast("double").as("cnt"),
      array(bounds.indices.map(i => col(s"c$i").cast("double")): _*)
        .as("bcum"))
    graft.promql.NativeHist.quantileNhcb(h, 0.9)
      .select(col("typ"),
        (floor(col("value") * 1e4 + 0.5) / 1e4).as("hq90"))
  }

  /** H29 (round 10, oracle-gated): streaming DSIR router —
    * score-at-ingest curation. F34's λ table is STATIC (built once
    * from the reference corpus, B-bounded → broadcast-sized at any
    * volume), so live routing is H19's split-sink shape with the DSIR
    * scorer in the hot path: each documents micro-batch is scored
    * Σ c_b·λ_b against the broadcast table and routed to accept/
    * (score > 0 — target-like) or reject/, `batch=<id>` overwrite dirs
    * for foreachBatch-retry idempotence. Scores stay DYADIC (λ is
    * 2⁻²⁰-quantized) so the read-back SUM of routed scores is exact in
    * any order and the gate's single 1e-4 rounding is stable — the
    * landed-files rule: read both sinks back, reproduce the DuckDB
    * batch derivation of the same routing from the source table.
    */
  def dsirRouteStreamed(spark: SparkSession, dir: String): DataFrame = {
    val base = routeStreamed(spark, dir, "h29", Seq("doc_id", "text")) {
      // the static table — built BEFORE the stream starts, like a
      // production router loading its model at deploy
      val lam = graft.text.TextAnalysis.dsirLambda(spark, dir)
      graft.text.TextAnalysis.dsirScoreOn(spark, _, lam)
    }(_.filter(col("score") > 0), _.filter(!(col("score") > 0)))
    routedSides(spark, base)
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_feats")).as("sum_feats"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        (floor(sum(col("score")) * 1e4 + 0.5) / 1e4).as("sum_score"))
  }
}
