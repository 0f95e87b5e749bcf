package graft

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round evidence: dumps `.explain("formatted")` for the
  * named queries into $SPARK_GRAFT_PLANS_DIR/<query>_<tag>.txt (tag =
  * args(0), e.g. "before"/"after"; dir defaults to plans/r15). Runs
  * on Bench's session ([[LocalSession]], sf0.1 default) so the
  * captured plans are the ones the bench actually executes. The
  * query is collected first so AQE finalizes and the formatted output
  * reflects real join/codegen choices.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val tag = args.head
    val names = args.tail
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r15"))
    java.nio.file.Files.createDirectories(outDir)
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect() // finalize AQE
      val s = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
        .replaceAll("\\[[0-9;]*m", "")
        .filter(c => c == '\n' || c == '\t' || c >= ' ')
      java.nio.file.Files.writeString(outDir.resolve(s"${n}_$tag.txt"), s)
      println(s"[plansnap] wrote ${n}_$tag.txt")
    }
    spark.stop()
  }
}
