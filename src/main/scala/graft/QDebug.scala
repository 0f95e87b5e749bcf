package graft

/** Standalone per-query timing: each named query runs COLD once, then
  * SPARK_GRAFT_QDEBUG_WARM more times (default 2), all printed — the
  * one-command form of the "QDebug before believing a regression"
  * workflow (bench numbers on this container swing ±3×; the warm
  * repeats separate first-touch index/codegen cost from steady state).
  * SPARK_GRAFT_SF_DIR overrides the dataset (default sf0.1).
  */
object QDebug {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warm = sys.env.getOrElse("SPARK_GRAFT_QDEBUG_WARM", "2").toInt
    val spark = LocalSession()
    spark.range(1000000).selectExpr("sum(id)").collect()
    for (name <- args) {
      val times = (0 to warm).map { _ =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val rows = times.head._1
      val cold = times.head._2
      val warms = times.tail.map(_._2)
      val warmStr =
        if (warms.isEmpty) ""
        else f" warm_min=${warms.min}%.3f warm=[${warms.map(t => f"$t%.3f").mkString(", ")}]"
      println(f"$name rows=$rows cold=$cold%.3f$warmStr")
    }
    spark.stop()
  }
}
