package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must run at sf0.001 and produce rows with a
  * non-empty schema (the driver's t1 smoke, widened to all queries).
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle or is a declared rows-only op") {
    // rows-only ops are allowed but must be deliberate; keep the list
    // here. ann_lsh / ann_ivf outputs are quantizer/hyperplane-dependent
    // by nature — each has an exact-oracle sibling gate (ann_lsh_planted,
    // ann_ivf_full) hash-gating the same machinery.
    val rowsOnly =
      Set("ann_lsh", "ann_ivf", "ann_pq", "ann_ivfpq", "dedup_semantic")
    assert(SparkEntry.rowsOnly.keySet == rowsOnly,
      s"rows-only gates: ${SparkEntry.rowsOnly.keySet}")
    SparkEntry.rowsOnly.foreach { case (name, why) =>
      assert(why.trim.nonEmpty, s"$name gives no reason for having no oracle")
    }
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == rowsOnly, s"queries missing oracle: $missing")
    assert(SparkEntry.queries.keySet ==
      SparkEntry.oracleSql.keySet ++ SparkEntry.rowsOnly.keySet)
    assert(SparkEntry.queries.size == SparkEntry.gates.size)
  }

  test("the gate registry refuses a repeated name") {
    val build = SparkEntry.queries("match_eq")
    val e = intercept[IllegalArgumentException](Gate.registry(
      Gate("a", build, Gate.Oracle("SELECT 1")),
      Gate("b", build, Gate.RowsOnly("why")),
      Gate("a", build, Gate.RowsOnly("why"))))
    assert(e.getMessage.contains("duplicate gate names: a"))
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name runs at sf0.001 with rows") {
      val df = SparkEntry.queries(name)(spark, dir)
      assert(df.schema.nonEmpty)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }
}
