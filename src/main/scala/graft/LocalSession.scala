package graft

import org.apache.spark.sql.SparkSession

/** The local session the mains (Verify, Bench, QDebug, ScaleProbe)
  * run on: `local[n]` with n shuffle partitions, n from
  * SPARK_GRAFT_CPUS (default: the host's cores), UTC, no UI, WARN
  * logging, with parameterised plan literals
  * ([[graft.plans.ParamPlans]]).
  */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.ParamPlans.install(spark)
    spark
  }
}
