package graft

import graft.streaming.{Sample, StreamOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(min: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  test("H1: watermarked windowed agg over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = StreamOps.windowedAgg(in.toDF())
      .writeStream.format("memory").queryName("h1_out").outputMode("update").start()
    try {
      in.addData(
        Sample(0, ts(0), "1", "click", 2.0),
        Sample(1, ts(1), "1", "click", 3.0),
        Sample(2, ts(7), "2", "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("h1_out")
        .groupBy(col("win_start"), col("typ"))
        .agg(max(col("n")).as("n"), max(col("sum_v")).as("sum_v"))
        .collect()
      val click = rows.find(_.getString(1) == "click").get
      assert(click.getLong(2) == 2 && click.getDouble(3) == 5.0)
      assert(rows.exists(r => r.getString(1) == "view" && r.getLong(2) == 1))
    } finally q.stop()
  }

  test("H21: alert state machine — gap resets, for-duration fires, " +
      "state survives across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[graft.streaming.AlertIn]
    def a(t: Long) = graft.streaming.AlertIn("u1", t, ts(0))
    // step=10, for=20: active at 0,10,20 (fires at 20), gap, 50 (reset),
    // 60,70 split ACROSS micro-batches (fires at 70 only if activeSince
    // survived the batch boundary)
    val q = StreamOps.streamingAlerts(in.toDS(), 10L, 20L, "A")
      .toDF()
      .writeStream.format("memory").queryName("h21_out")
      .outputMode("append").start()
    try {
      in.addData(a(0), a(10), a(20))
      q.processAllAvailable()
      in.addData(a(50), a(60))
      q.processAllAvailable()
      in.addData(a(70))
      q.processAllAvailable()
      val st = spark.table("h21_out").collect()
        .map(r => r.getAs[Long]("t_sec") -> r.getAs[String]("alertstate")).toMap
      assert(st == Map(0L -> "pending", 10L -> "pending", 20L -> "firing",
        50L -> "pending", 60L -> "pending", 70L -> "firing"))
    } finally q.stop()
  }

  test("H3: checkpointed store ingest survives restart exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val (out, ckpt) = (s"$tmp/out", s"$tmp/ckpt")

    val in1 = MemoryStream[Sample]
    in1.addData(Sample(0, ts(0), "1", "click", 2.0), Sample(1, ts(1), "2", "view", 3.0))
    val q1 = StreamOps.streamToStore(in1.toDF(), out, ckpt)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() == 2)

    // "restart": new query, same checkpoint+sink. The replacement source
    // replays the committed batch (offset 0) plus a new batch — the
    // checkpoint must skip the replay and process only the delta.
    val in2 = MemoryStream[Sample]
    in2.addData(Sample(0, ts(0), "1", "click", 2.0), Sample(1, ts(1), "2", "view", 3.0))
    in2.addData(Sample(2, ts(2), "1", "click", 4.0))
    val q2 = StreamOps.streamToStore(in2.toDF(), out, ckpt)
    q2.processAllAvailable(); q2.stop()

    val rows = spark.read.parquet(out)
    assert(rows.count() == 3, "restart must not duplicate committed batches")
    // partition values are type-inferred on read: day comes back as DATE
    assert(rows.select(col("day").cast("string")).distinct().head().getString(0)
      == "2024-01-01")
  }

  test("H3b: per-micro-batch index maintenance equals a batch rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sidx").toString
    val (out, ckpt, idxPath) = (s"$tmp/out", s"$tmp/ckpt", s"$tmp/idx")
    val all = Seq(
      Sample(0, ts(0), "1", "click", 2.0), Sample(1, ts(1), "2", "view", 3.0),
      Sample(2, ts(2), "1", "click", 4.0), Sample(3, ts(3), "9", "error", 1.0),
      Sample(4, ts(4), "1", "click", 5.0))

    val in1 = MemoryStream[Sample]
    in1.addData(all.take(2))
    in1.addData(all.slice(2, 4))
    val q1 = StreamOps.streamToStoreIndexed(in1.toDF(), out, ckpt, idxPath)
    q1.processAllAvailable(); q1.stop()

    // restart replay: committed batches must not re-flush (batch-id
    // segment names make a replayed flush overwrite, not duplicate)
    val in2 = MemoryStream[Sample]
    in2.addData(all.take(2)); in2.addData(all.slice(2, 4)); in2.addData(all.drop(4))
    val q2 = StreamOps.streamToStoreIndexed(in2.toDF(), out, ckpt, idxPath)
    q2.processAllAvailable(); q2.stop()

    // merge-on-read view after 3 micro-batches == one-shot batch rebuild
    val batchIdx = new index.TagIndex(all.toDF(), Seq("usr", "typ"))
    val want = batchIdx.seriesCatalog.collect().map(_.toSeq).toSet
    val got = index.IndexStore.load(spark, idxPath).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty, s"store=$got batch=$want")

    // matcher resolution from the live store == in-memory path
    val m = Seq(index.LabelMatcher("typ", index.MatchOp.Eql, "click"))
    val storeT = index.IndexStore.resolvePostings(spark, idxPath, m)
      .collect().map(_.toSeq).toSet
    val memT = batchIdx.resolveMatchers(m).collect().map(_.toSeq).toSet
    assert(storeT == memT && memT.nonEmpty)

    // manual_compact folds the batch segments without changing the view
    index.IndexStore.compact(spark, idxPath)
    val gotC = index.IndexStore.load(spark, idxPath).collect().map(_.toSeq).toSet
    assert(gotC == want)
  }

  test("H15: streaming MV maintenance equals batch recompute after replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_mv").toString
    val all = Seq(
      Sample(0, ts(0), "1", "click", 2.5), Sample(1, ts(1), "1", "click", 3.25),
      Sample(2, ts(2), "2", "view", 5.0), Sample(3, ts(3), "1", "view", 1.75),
      Sample(4, ts(4), "2", "click", 4.0))
    val in = MemoryStream[Sample]
    val q = StreamOps.streamMvMaintain(in.toDS(), s"$tmp/mv", s"$tmp/ck")
    try {
      in.addData(all.take(2)); q.processAllAvailable()
      in.addData(all.drop(2)); q.processAllAvailable()
    } finally q.stop()
    // idempotence: replaying a batch id rewrites its segment in place
    all.take(2).toDS()
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      .groupBy(col("usr"), col("typ"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(col("cents") * col("cents")).as("sq"))
      .write.mode("overwrite").parquet(s"$tmp/mv/seg=b0")
    val merged = StreamOps.mvRead(spark, s"$tmp/mv")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val batch = all.toDS()
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      .groupBy(col("usr"), col("typ"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(col("cents") * col("cents")).as("sq"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(merged == batch && batch.nonEmpty,
      s"merge-on-read view diverged from recompute: $merged vs $batch")
  }

  test("H15: the MV view ignores a segment a crash left without _SUCCESS") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_mv_crash").toString
    val in = MemoryStream[Sample]
    val q = StreamOps.streamMvMaintain(in.toDS(), s"$tmp/mv", s"$tmp/ck")
    try { in.addData(Seq(Sample(0, ts(0), "1", "click", 2.5))); q.processAllAvailable() }
    finally q.stop()
    val committed = StreamOps.mvRead(spark, s"$tmp/mv").collect().map(_.toSeq).toSet
    // the next batch's segment, written but never committed
    Seq(("1", "click", 5L, 100L, 1000L)).toDF("usr", "typ", "n", "s", "sq")
      .write.parquet(s"$tmp/mv/seg=b1")
    assert(new java.io.File(s"$tmp/mv/seg=b1/_SUCCESS").delete())
    assert(StreamOps.mvRead(spark, s"$tmp/mv").collect().map(_.toSeq).toSet == committed,
      "a partial segment was summed into the view")
  }

  test("H4: streaming rate closes buckets on next-bucket arrival and on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val in = MemoryStream[Sample]
    val q = StreamOps.streamingRate(in.toDS())
      .writeStream.format("memory").queryName("h4_out").outputMode("append").start()
    try {
      // hour 10: two samples; then a sample in hour 11 closes hour 10
      in.addData(Sample(0, at(10, 5), "1", "click", 1800.0),
        Sample(1, at(10, 40), "1", "click", 1800.0))
      q.processAllAvailable()
      in.addData(Sample(2, at(11, 20), "1", "click", 7200.0))
      q.processAllAvailable()
      val afterArrival = spark.table("h4_out").as[streaming.StreamOps.RateOut].collect()
      assert(afterArrival.exists(r =>
        r.bucket_start_sec == at(10, 0).getTime / 1000 && r.n == 2 && r.rate == 1.0),
        s"hour-10 bucket not closed on arrival: ${afterArrival.toSeq}")

      // advance the watermark far past hour 11 + lateness → timeout flush
      in.addData(Sample(3, at(15, 0), "9", "view", 1.0))
      q.processAllAvailable()
      in.addData(Sample(4, at(16, 0), "9", "view", 1.0))
      q.processAllAvailable()
      val afterTimeout = spark.table("h4_out").as[streaming.StreamOps.RateOut].collect()
      assert(afterTimeout.exists(r =>
        r.bucket_start_sec == at(11, 0).getTime / 1000 && r.n == 1 && r.rate == 2.0),
        s"hour-11 bucket not flushed by timeout: ${afterTimeout.toSeq}")
    } finally q.stop()
  }

  test("H25: streaming gapfill buffers one closed segment, folds an hour " +
      "across batches, fills gaps and tail, and re-flush is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1704067200L
    def ts(k: Int) = new java.sql.Timestamp((t0 + k * 60L) * 1000L)
    val in = MemoryStream[graft.streaming.GfIn]
    val q = StreamOps.streamingGapfill(in.toDS(), t0, 6)
      .writeStream.format("memory").queryName("h25_out").outputMode("append").start()
    try {
      in.addData(graft.streaming.GfIn("1", t0 + 3600, 2.0, flush = false, ts(1)))
      q.processAllAvailable()
      // the same hour continues in the NEXT micro-batch: max folds in state
      in.addData(graft.streaming.GfIn("1", t0 + 3600, 4.0, flush = false, ts(2)),
        graft.streaming.GfIn("1", t0 + 4 * 3600, 8.0, flush = false, ts(3)))
      q.processAllAvailable()
      val mid = spark.table("h25_out").as[graft.streaming.GfOut].collect()
      // hour-1 closed on hour-4 arrival (head row + its own row); the
      // gap rows 2-3 must NOT be out yet — their interp needs hour-4's
      // final max, which is still accumulating
      assert(mid.toSet == Set(
        graft.streaming.GfOut("1", t0, None, None, None),
        graft.streaming.GfOut("1", t0 + 3600, Some(4.0), Some(4.0), Some(4.0))),
        s"unexpected mid-stream rows: ${mid.toSeq}")
      in.addData(graft.streaming.GfIn("1", t0 + 6 * 3600, 0.0, flush = true, ts(4)))
      q.processAllAvailable()
      val fin = spark.table("h25_out").as[graft.streaming.GfOut].collect()
      assert(fin.toSet == Set(
        graft.streaming.GfOut("1", t0, None, None, None),
        graft.streaming.GfOut("1", t0 + 3600, Some(4.0), Some(4.0), Some(4.0)),
        graft.streaming.GfOut("1", t0 + 2 * 3600, None, Some(4.0), Some(5.3333)),
        graft.streaming.GfOut("1", t0 + 3 * 3600, None, Some(4.0), Some(6.6667)),
        graft.streaming.GfOut("1", t0 + 4 * 3600, Some(8.0), Some(8.0), Some(8.0)),
        graft.streaming.GfOut("1", t0 + 5 * 3600, None, Some(8.0), None)),
        s"unexpected final rows: ${fin.toSeq}")
      // duplicate flush emits nothing
      in.addData(graft.streaming.GfIn("1", t0 + 6 * 3600, 0.0, flush = true, ts(5)))
      q.processAllAvailable()
      assert(spark.table("h25_out").count() == 6, "re-flush must be a no-op")
    } finally q.stop()
  }

  test("H2b: series tracking runs on the RocksDB state store (production backend)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val old = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[Sample]
    val q = StreamOps.trackSeries(in.toDS())
      .writeStream.format("memory").queryName("h2b_out").outputMode("update").start()
    try {
      in.addData(Sample(0, ts(0), "4", "view", 1.0))
      q.processAllAvailable()
      in.addData(Sample(1, ts(1), "4", "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table("h2b_out").as[streaming.SeriesUpdate].collect()
      assert(rows.map(_.nSamples).max == 2, "RocksDB-backed state accumulates")
    } finally {
      q.stop()
      old match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("H2: streaming add_series assigns batch-identical tsids and tracks state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = StreamOps.trackSeries(in.toDS())
      .writeStream.format("memory").queryName("h2_out").outputMode("update").start()
    try {
      in.addData(Sample(0, ts(0), "1", "click", 2.0), Sample(1, ts(1), "1", "click", 3.0))
      q.processAllAvailable()
      in.addData(Sample(2, ts(2), "1", "click", 4.0), Sample(3, ts(3), "9", "error", 1.0))
      q.processAllAvailable()
      val rows = spark.table("h2_out").as[streaming.SeriesUpdate].collect()
      val clicks = rows.filter(r => r.usr == "1" && r.typ == "click")
      assert(clicks.map(_.nSamples).max == 3, "state accumulates across batches")
      assert(clicks.count(_.isNew) == 1, "series created exactly once")
      assert(rows.filter(_.usr == "9").forall(_.isNew))
      // streaming tsid == batch tsid: compare against a tsid actually
      // assigned by the batch index, not a re-derived hash (a re-derived
      // hash with the wrong separator would match vacuously)
      val batchTsid = index.TagIndex.forEvents(spark, "/root/testdata/sf0.001")
        .seriesCatalog.filter(col("usr") === "1" && col("typ") === "click")
        .select("tsid").head().getLong(0)
      assert(clicks.head.tsid == batchTsid)
    } finally q.stop()
  }

  test("H5: stream-stream interval join is batch-equivalent on replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val errRows = Seq(
      Sample(0, at(10, 0), "1", "error", 1.0),
      Sample(1, at(12, 0), "1", "error", 1.0),
      Sample(2, at(10, 30), "2", "error", 1.0))
    val purRows = Seq(
      Sample(10, at(10, 45), "1", "purchase", 9.0),  // joins err 0 (45m) and NOT err 1 (75m)
      Sample(11, at(12, 30), "1", "purchase", 7.0),  // joins err 1 (30m)
      Sample(12, at(13, 0), "2", "purchase", 5.0),   // joins nothing (2.5h from err 2)
      // joins err 2 (-40m); 9:50 stays above the post-batch-1 global
      // watermark min(12:00, 10:45) - 1h = 9:45 (earlier would be
      // dropped as late — correct watermark semantics, not a bug)
      Sample(13, at(9, 50), "2", "purchase", 3.0))

    val errs = MemoryStream[Sample]
    val purs = MemoryStream[Sample]
    val q = StreamOps.intervalJoin(errs.toDF(), purs.toDF())
      .writeStream.format("memory").queryName("h5_out").outputMode("append").start()
    try {
      // replay across several micro-batches (out of batch-alignment
      // with each other, so matches span batch boundaries)
      errs.addData(errRows.take(2)); purs.addData(purRows.take(1))
      q.processAllAvailable()
      errs.addData(errRows.drop(2)); purs.addData(purRows.drop(1))
      q.processAllAvailable()

      val streamed = spark.table("h5_out")
        .select("usr", "err_id", "pur_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = StreamOps.intervalJoin(errRows.toDF(), purRows.toDF())
        .select("usr", "err_id", "pur_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(batch == Set(("1", 0L, 10L), ("1", 1L, 11L), ("2", 2L, 13L)))
    } finally q.stop()
  }

  test("Kafka payload parser: JSON values round-trip to typed samples") {
    import spark.implicits._
    val want = Seq(
      Sample(1, ts(0), "1", "click", 2.5),
      Sample(2, ts(3), "9", "error", 1.0))
    val isoFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    val raw = want.map(s =>
      (s"""{"event_id":${s.event_id},"ts":"${s.ts.toLocalDateTime.format(isoFmt)}",""" +
        s""""usr":"${s.usr}","typ":"${s.typ}","value":${s.value}}""").getBytes("UTF-8"))
      .toDF("value") // the (value: binary) shape kafkaSource emits
    val got = StreamOps.parseKafkaSamples(raw).collect().toSeq
    assert(got == want)
  }

  test("AQE splits a skewed sort-merge join at runtime (synthesized hot key)") {
    import spark.implicits._
    val restore = Seq(
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // thresholds scaled down so the synthesized hot key counts as skew
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // left: one hot key (0) with 200k rows, 9 cold keys; right: tiny dim
      val left = spark.range(0, 220000)
        .select(when(col("id") < 200000, 0L).otherwise(col("id") % 10).as("k"),
          concat(lit("payload_"), col("id")).as("pad"))
      val right = spark.range(0, 10).select(col("id").as("k"), col("id").as("attr"))
      val joined = left.join(right, Seq("k"))
      // execute THIS dataframe (count() would spawn a separate query
      // execution and leave joined's adaptive plan unfinalized)
      assert(scala.jdk.CollectionConverters
        .IteratorHasAsScala(joined.toLocalIterator()).asScala.length == 220000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$p")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("H10: streaming heavy hitters equal the batch top-k after the last batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(5150L)
    val all = (0 until 400).map(i => Sample(i.toLong, ts(i % 50), "click",
      "click", (rnd.nextInt(12) * 7).toDouble + 0.5))
      .map(s => s.copy(usr = "1"))
    val in = MemoryStream[Sample]
    val q = StreamOps.streamingFreqItems(in.toDS())
      .writeStream.format("memory").queryName("h10_out").outputMode("update").start()
    try {
      in.addData(all.take(150)); q.processAllAvailable()
      in.addData(all.drop(150)); q.processAllAvailable()
      // Update mode emits one row per batch; counts only grow at this
      // capacity, so the final state is the row with the largest total
      val last = spark.table("h10_out").as[streaming.StreamOps.FreqTop]
        .collect().maxBy(_.counts.sum)
      val want = all.groupBy(s => math.floor(s.value).toLong)
        .map { case (b, ss) => (b, ss.size.toLong) }.toSeq
        .sortBy { case (b, n) => (-n, b) }.take(5)
      assert(last.buckets.zip(last.counts) == want,
        s"streamed ${last.buckets.zip(last.counts)} batch $want")
    } finally q.stop()
  }

  test("H12: streaming top-k carries the bounded heap across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(Sample(0, ts(0), "1", "click", 10.0),
      Sample(1, ts(1), "2", "click", 30.0), Sample(2, ts(2), "3", "click", 20.0))
    val b2 = Seq(Sample(3, ts(3), "4", "click", 50.0),
      Sample(4, ts(4), "5", "click", 5.0))
    val in = MemoryStream[Sample]
    val q = StreamOps.streamingTopK(in.toDF())
      .writeStream.format("memory").queryName("h12_out").outputMode("update").start()
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val rows = spark.table("h12_out")
        .collect().map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSet
      // final state merges batch-1 survivors with batch-2's new leader:
      // 30 (batch 1) must still rank 2 after 50 arrives — proof the
      // heap, not just the batch, is the state
      val want = Set((1, "4", 50.0), (2, "2", 30.0), (3, "3", 20.0))
      assert(want.subsetOf(rows), s"final top-3 not emitted: $rows")
      // batch equivalence through the same aggregate
      val batch = StreamOps.streamingTopK((b1 ++ b2).toDF())
        .collect().map(r => (r.getInt(1), r.getString(2), r.getDouble(3))).toSet
      assert(batch == want, s"batch=$batch")
    } finally q.stop()
  }

  test("H11: streaming session windows are batch-equivalent once closed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val rows = Seq(
      Sample(0, ts(0), "1", "click", 1.0),
      Sample(1, ts(10), "1", "click", 2.0), // same session (10m gap)
      Sample(2, ts(55), "1", "click", 4.0), // new session (45m gap)
      Sample(3, ts(5), "2", "view", 8.0))
    val in = MemoryStream[Sample]
    val q = StreamOps.sessionAgg(in.toDF())
      .writeStream.format("memory").queryName("h11_out").outputMode("append").start()
    try {
      // sessions span micro-batch boundaries
      in.addData(rows.take(2)); q.processAllAvailable()
      in.addData(rows.drop(2)); q.processAllAvailable()
      // watermark pusher on a bystander key: closes every real session
      in.addData(Sample(9, at(20, 0), "9", "other", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("h11_out").filter(col("usr") =!= "9")
        .collect().map(_.toSeq).toSet
      // batch equivalence through the SAME code path (watermark is a
      // no-op on a static frame)
      val batch = StreamOps.sessionAgg(rows.toDF())
        .collect().map(_.toSeq).toSet
      assert(streamed == batch && batch.size == 3,
        s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("H24: dropDuplicatesWithinWatermark dedups within the bound " +
      "and evicts expired state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)
    def batch(ids: Range, at: Int => Int): Seq[Sample] =
      ids.flatMap(i => Seq.fill(2)(Sample(i, t(at(i)), "u", "x", 1.0)))
    val in = MemoryStream[Sample]
    val q = in.toDF()
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("h24_out")
      .outputMode("append").start()
    try {
      in.addData(batch(1 to 50, i => i - 1)); q.processAllAvailable()
      // cross-batch duplicate of id 50 (still inside the 30 min bound)
      in.addData(batch(51 to 100, i => i - 1) :+
        Sample(50, t(49), "u", "x", 1.0))
      q.processAllAvailable()
      // watermark pusher: expires every earlier key's dedup state
      in.addData(Sample(999, t(300), "u", "x", 1.0)); q.processAllAvailable()
      val out = spark.table("h24_out").groupBy(col("event_id"))
        .agg(count(lit(1)).as("n")).collect()
      assert(out.length == 101, s"expected 101 distinct keys, got ${out.length}")
      assert(out.forall(_.getLong(1) == 1L), "every key must emit exactly once")
      val finalState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).map(_.stateOperators.head.numRowsTotal)
      assert(finalState.exists(_ <= 5),
        s"state must be evicted down to the watermark window, got $finalState")
    } finally q.stop()
  }

  test("H14: streaming histogram quantiles equal batch B19 after the stream drains") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id").cast("string").as("usr"),
        col("event_type").as("typ"), col("value"))
      .as[Sample].collect()
    val in = MemoryStream[Sample]
    val q = StreamOps.streamingHistogramQuantile(in.toDS())
      .writeStream.format("memory").queryName("h14_out").outputMode("update").start()
    try {
      val (a, b) = events.splitAt(events.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      // latest emission per typ = the full-stream state
      val streamed = spark.table("h14_out")
        .groupBy(col("typ"))
        .agg(max(struct(col("total"), col("hq50"), col("hq90"))).as("s"))
        .select(col("typ"), col("s.total"), col("s.hq50"), col("s.hq90"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      val batch = tsdb.Tsdb.histogramQuantile(spark, dir)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(streamed.keySet == batch.keySet && batch.nonEmpty)
      batch.foreach { case (typ, (n, h50, h90)) =>
        val (sn, s50, s90) = streamed(typ)
        assert(sn == n, s"$typ total $sn != $n")
        assert(math.abs(s50 - h50) < 1e-9 && math.abs(s90 - h90) < 1e-9,
          s"$typ quantiles ($s50,$s90) != ($h50,$h90)")
      }
    } finally q.stop()
  }

  test("H13: streaming corpus dedup verdicts match the batch D8 classes") {
    import spark.implicits._
    import graft.streaming.DocIn
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, "alpha beta gamma"), (101L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val in = MemoryStream[DocIn]
    val q = StreamOps.streamingCorpusDedup(in.toDS(), corpus)
      .writeStream.format("memory").queryName("h13_out").outputMode("append").start()
    try {
      in.addData(
        DocIn(1, ts(0), "alpha beta gamma"),   // in corpus -> dup_corpus
        DocIn(2, ts(1), "eta theta iota"))     // new -> kept
      q.processAllAvailable()
      in.addData(
        DocIn(3, ts(2), "eta theta iota"),     // earlier stream doc -> dup_batch
        DocIn(4, ts(3), "kappa lambda mu"))    // new -> kept
      q.processAllAvailable()
      val got = spark.table("h13_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "dup_corpus", 2L -> "kept",
        3L -> "dup_batch", 4L -> "kept"), s"got $got")
    } finally q.stop()
  }

  test("H15: streaming sequence packing matches the batch greedy fold") {
    import spark.implicits._
    import graft.streaming.PackIn
    implicit val sqlCtx = spark.sqlContext
    // two sources; token counts sized so bins roll over mid-stream
    // (cap=512): srcA 300+300 -> bins 0,1 then 200+400 -> 1,2;
    // srcB 512 -> 0, 600 (oversized alone) -> 1, 10 -> 2
    val docs = Seq(
      ("a", 1L, 300L), ("a", 2L, 300L), ("b", 3L, 512L),
      ("a", 4L, 200L), ("a", 5L, 400L), ("b", 6L, 600L), ("b", 7L, 10L))
    val in = MemoryStream[PackIn]
    val q = StreamOps.streamingSeqPack(in.toDS())
      .writeStream.format("memory").queryName("h15_out")
      .outputMode("append").start()
    try {
      // docs arrive in doc_id order, split across two micro-batches
      in.addData(docs.take(3).map { case (s, id, n) =>
        PackIn(id, ts(id.toInt), s, n) })
      q.processAllAvailable()
      in.addData(docs.drop(3).map { case (s, id, n) =>
        PackIn(id, ts(id.toInt), s, n) })
      q.processAllAvailable()
      val got = spark.table("h15_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      // batch twin over the same corpus (text = n 1-char words)
      val batchDocs = docs.map { case (s, id, n) =>
        (s, id, Seq.fill(n.toInt)("w").mkString(" ")) }
        .toDF("source", "doc_id", "text")
      val want = graft.text.TextAnalysis.seqPackOn(spark, batchDocs).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == want, s"streaming $got vs batch $want")
      assert(got.size == docs.size)
    } finally q.stop()
  }

  test("H16: streaming centroid state equals the exact dyadic batch sum") {
    import spark.implicits._
    import graft.streaming.VecIn
    implicit val sqlCtx = spark.sqlContext
    def q(x: Double): Double = math.floor(x * 1048576.0 + 0.5) / 1048576.0
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 12).map { i =>
      VecIn(i.toLong, ts(i), i % 2, Array.fill(8)(q(rnd.nextGaussian()))) }
    val in = MemoryStream[VecIn]
    val qs = StreamOps.streamingCentroid(in.toDS())
      .writeStream.format("memory").queryName("h16_out")
      .outputMode("update").start()
    try {
      in.addData(vecs.take(5)); qs.processAllAvailable()
      in.addData(vecs.drop(5)); qs.processAllAvailable()
      val rows = spark.table("h16_out").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      for (label <- 0 to 1) {
        val mine = vecs.filter(_.label == label)
        val want = mine.map(_.u).reduce((a, b) =>
          a.zip(b).map { case (x, y) => x + y })
        val got = rows.filter(_._1 == label).maxBy(_._2)
        assert(got._2 == mine.size.toLong)
        // dyadic summands -> the streaming state is EXACTLY the batch
        // sum, not approximately (bit-for-bit, any arrival order)
        assert(got._3 == want.toSeq, s"label $label centroid drifted")
      }
    } finally qs.stop()
  }

  test("H8: streaming dedup drops re-delivered events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = StreamOps.dedupStream(in.toDF())
      .writeStream.format("memory").queryName("h8_out").outputMode("append").start()
    try {
      in.addData(Sample(1, ts(0), "1", "click", 2.0), Sample(2, ts(1), "2", "view", 3.0))
      q.processAllAvailable()
      // re-delivery of event 1 (same id) plus a genuinely new event
      in.addData(Sample(1, ts(0), "1", "click", 2.0), Sample(3, ts(2), "1", "click", 4.0))
      q.processAllAvailable()
      val ids = spark.table("h8_out").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }
}
