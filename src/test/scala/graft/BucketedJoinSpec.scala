package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The co-located join path: two tables bucketed by the join key join
  * WITHOUT a shuffle — the layout a 100 TB deployment uses for
  * sample⋈sample and sample⋈series joins (SURVEY §4).
  */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("bucketed tables join without an exchange") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bktbl").toString
    // the JVM shares one SparkSession across suites — scope the
    // broadcast-disable (which forces the shuffle question) to this
    // test and restore it, or PlanSpec's broadcast assertions break
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ev = Tables.events(spark, dir)
      ev.filter(col("event_type") === "click")
        .write.mode("overwrite").bucketBy(8, "user_id").sortBy("user_id")
        .option("path", s"$tmp/clicks_b").saveAsTable("clicks_b")
      ev.filter(col("event_type") === "purchase")
        .write.mode("overwrite").bucketBy(8, "user_id").sortBy("user_id")
        .option("path", s"$tmp/purchases_b").saveAsTable("purchases_b")

      val joined = spark.table("clicks_b").groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"))
        .join(spark.table("purchases_b").groupBy("user_id")
          .agg(count(lit(1)).as("n_purchases")), Seq("user_id"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")

      // and the result is right
      val expect = ev.filter(col("event_type") === "click").select("user_id").distinct()
        .intersect(ev.filter(col("event_type") === "purchase").select("user_id").distinct())
        .count()
      assert(joined.count() == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
      spark.sql("DROP TABLE IF EXISTS clicks_b")
      spark.sql("DROP TABLE IF EXISTS purchases_b")
    }
  }

  /** The io_bucketed GATE's composed shape (per-user agg + per-user
    * window + two co-located joins) runs with ZERO exchanges on the
    * bucketed layout — the plan half of the round-9 oracle gate (the
    * gate itself checks values; this pins that none of the three
    * shapes ever shuffles).
    */
  test("io_bucketed gate shape: agg + window + joins, zero exchanges") {
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = gates.IoGates.bucketedRead(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"io_bucketed gate shape shuffles on the bucketed layout:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
  }

  /** The Tsdb scaladoc's 100 TB claim made checkable: per-series window
    * operators over a tsid-bucketed sample table run WITHOUT an
    * exchange — the bucketed scan already satisfies the window's
    * clustered-distribution requirement, so seek/rate/resets and
    * friends are sort-only within buckets.
    */
  test("per-series window over a tsid-bucketed table needs no exchange") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bktw").toString
    try {
      graft.index.TagIndex.forEvents(spark, dir).labeled
        .select("tsid", "event_id", "ts", "value")
        .write.mode("overwrite").bucketBy(8, "tsid").sortBy("tsid", "ts")
        .option("path", s"$tmp/samples_b").saveAsTable("samples_b")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("tsid")).orderBy(col("ts"), col("event_id"))
      val seek = spark.table("samples_b")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      seek.collect()
      val plan = seek.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"per-series window still shuffles on a bucketed layout:\n$plan")
      assert(seek.count() ==
        graft.index.TagIndex.forEvents(spark, dir).seriesCatalog.count())
    } finally spark.sql("DROP TABLE IF EXISTS samples_b")
  }
}
