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

  // ---- replaying landed files as a stream: land the input files,
  // replay them as micro-batches, drain the query ----

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
  private[graft] def replay(spark: SparkSession, landing: String,
      perTrigger: Int = 1): DataFrame =
    spark.readStream.schema(spark.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", perTrigger).parquet(landing)

  private[graft] def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

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

}
