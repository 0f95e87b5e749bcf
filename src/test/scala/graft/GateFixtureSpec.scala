package graft

import java.io.File
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The gate-fixture skeleton ([[graft.gates.Fixture]]): a build owns
  * its directory, its SQL catalog and the session confs it sets, so a
  * rebuild after a clear, a build on a second dataset and the caller's
  * own confs all come out as if the build had never run before. */
class GateFixtureSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val small = "/root/testdata/sf0.001"
  val larger = "/root/testdata/sf0.01"

  private def rows(s: SparkSession, gate: String, dir: String): Seq[String] =
    SparkEntry.queries(gate)(s, dir).collect().map(_.toString).toSeq.sorted

  test("a catalog-bound gate rebuilds after a clear, and builds on a second dataset") {
    val gates = Seq("io_catalog", "io_update", "io_alter_add", "io_alter_dml",
      "io_alter_widen", "io_update_mor", "io_cdf_mor", "io_merge_sql",
      "io_overwrite", "io_ctas", "stream_merge", "stream_update",
      "stream_cdf_source")
    def differs(what: String, expected: Seq[String],
        got: Try[Seq[String]]): Option[String] = got match {
      case Success(rs) if rs == expected => None
      case Success(rs) => Some(s"$what: ${expected.size} rows expected, ${rs.size} built")
      case Failure(e) => Some(s"$what failed: ${e.getMessage}")
    }
    // a `_done`-landed gate (stream_merge, stream_update) reuses its
    // directory: its rebuild, and the fresh session's build, run no SQL
    val broken = gates.flatMap { g =>
      val first = rows(spark, g, small)
      assert(first.nonEmpty, g)
      Memo.clearAll()
      val rebuilt = differs(s"$g rebuilt after a clear", first, Try(rows(spark, g, small)))
      // the gate was built on the small dataset in this session above
      val inSession = Try(rows(spark, g, larger))
      val fresh = spark.newSession()
      val expected = try rows(fresh, g, larger) finally Memo.clear(fresh)
      rebuilt ++ differs(s"$g on $larger", expected, inSession)
    }
    assert(broken.isEmpty, broken.mkString("\n"))
  }

  test("fixture directories of the table-stream and COPY INTO gates go with a clear") {
    val prefixes = Seq("graft_dsink_", "graft_tsrc_", "graft_tsrcdv_",
      "graft_cdfsrc_", "graft_copyinto_")
    def dirs: Set[File] =
      Seq(new File(System.getProperty("java.io.tmpdir")),
          Memo.fresh("probe").getParentFile)
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .filter(f => prefixes.exists(f.getName.startsWith)).toSet
    val before = dirs
    for (g <- Seq("stream_sink_dsv2", "stream_table_source",
        "stream_table_source_dv", "stream_cdf_source", "io_copy_into"))
      assert(rows(spark, g, small).nonEmpty, g)
    Memo.clearAll()
    val left = dirs -- before
    assert(left.isEmpty, s"left behind: ${left.mkString(", ")}")
  }

  test("a gate build gives back the session confs it set") {
    Memo.clear(spark)
    val cow = spark.conf.getOption("graft.dml.mor.cowFraction")
    spark.conf.set("graft.dml.mode", "mor")
    try {
      assert(rows(spark, "io_update_mor", small).nonEmpty)
      assert(spark.conf.getOption("graft.dml.mode") == Some("mor"))
      assert(spark.conf.getOption("graft.dml.mor.cowFraction") == cow)
    } finally spark.conf.unset("graft.dml.mode")
  }
}
