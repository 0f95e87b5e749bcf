package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Standalone per-query timing: each named query runs COLD once, then
  * SPARK_GRAFT_QDEBUG_WARM more times (default 2), all printed — the
  * one-command form of the "QDebug before believing a regression"
  * workflow (bench numbers on this container swing ±3×; the warm
  * repeats separate first-touch index/codegen cost from steady state).
  * Each run also reports its Janino compiles (the codegen layer: a
  * warm run of an unchanged shape should compile nothing).
  * SPARK_GRAFT_SF_DIR overrides the dataset (default sf0.1).
  */
object QDebug {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warm = sys.env.getOrElse("SPARK_GRAFT_QDEBUG_WARM", "2").toInt
    val spark = LocalSession()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    for (name <- args) {
      val runs = (0 to warm).map { _ =>
        val c0 = compiles.getCount
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        (n, (System.nanoTime() - t0) / 1e9, compiles.getCount - c0)
      }
      val (rows, cold, coldCompiles) = runs.head
      val warms = runs.tail
      val warmStr =
        if (warms.isEmpty) ""
        else f" warm_min=${warms.map(_._2).min}%.3f" +
          s" warm=[${warms.map(r => f"${r._2}%.3f").mkString(", ")}]" +
          s" warm_compiles=[${warms.map(_._3).mkString(", ")}]"
      println(f"$name rows=$rows cold=$cold%.3f cold_compiles=$coldCompiles$warmStr")
    }
    spark.stop()
  }
}
