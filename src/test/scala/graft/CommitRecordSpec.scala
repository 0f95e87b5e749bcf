package graft

import graft.sources.Io
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The local file system under the `failcommit` scheme; while `armed`,
  * the next rename onto a `.commit` name fails (returns false) once. */
class FailCommitRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = FailCommitRenameFs.uri
  override def getScheme: String = FailCommitRenameFs.uri.getScheme
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (dst.getName.endsWith(".commit") &&
        FailCommitRenameFs.armed.getAndSet(false)) false
    else super.rename(src, dst)
}

object FailCommitRenameFs {
  val uri: java.net.URI = java.net.URI.create("failcommit:///")
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class CommitRecordSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val tmp: String =
    java.nio.file.Files.createTempDirectory("graft_record").toString

  private def commitsOf(t: String): Set[String] = {
    val fs = Io.fsFor(spark, t)
    fs.listStatus(new org.apache.hadoop.fs.Path(t, "_commits"))
      .map(_.getPath.getName).toSet
  }

  test("a commit whose rename fails leaves HEAD's constraints, " +
      "properties and schema as they were") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.failcommit.impl",
      classOf[FailCommitRenameFs].getName)
    val t = s"failcommit://$tmp/atomic"
    Io.tableAppend(Seq(1L, 2L).toDF("k"), t) // v0
    Io.tableSetProperties(spark, t, Seq("owner" -> "a")) // v1
    def renameFails(commit: => Long): Unit = {
      FailCommitRenameFs.armed.set(true)
      try intercept[RuntimeException](commit)
      finally FailCommitRenameFs.armed.set(false)
      assert(Io.tableVersion(spark, t) == 1L, "no version may land")
    }
    renameFails(Io.tableAddConstraint(spark, t, "k_small", "k < 10"))
    assert(Io.readConstraints(spark, t).isEmpty)
    renameFails(Io.tableSetProperties(spark, t, Seq("owner" -> "b")))
    assert(Io.readTableProps(spark, t) == Seq("owner" -> "a"))
    renameFails(Io.commitSchemaChange(spark, t, 1L,
      new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("extra", "string")))
    assert(Io.declaredSchema(spark, t).isEmpty)
    assert(Io.readTableVersion(spark, t, 1L).columns.toSeq == Seq("k"))
    // the append the failed constraint would have refused lands
    assert(Io.tableAppend(Seq(50L).toDF("k"), t) == 2L)
    assert(Io.readTableVersion(spark, t, 2L).agg(sum(col("k")))
      .head().getLong(0) == 53L)
  }

  test("vacuum leaves nothing of an expired version in _commits") {
    import spark.implicits._
    val t = s"$tmp/vacstats"
    (0 to 3).foreach(i => Io.tableAppendStats(Seq(i.toLong).toDF("k"), t, "k"))
    Io.vacuumTable(spark, t, retainFrom = 2L)
    val expired = new java.io.File(s"$t/_commits").list().toSeq
      .map(_.stripPrefix(".")) // checksum files are dot-prefixed
      .filter(n => n.take(8).forall(_.isDigit) && n.take(8).toLong < 2L)
    assert(expired.isEmpty, s"expired versions left behind: $expired")
    assert(Io.readTableVersionSkipping(spark, t, 3L, "k", 0L, 10L)
      .count() == 4)
  }

  test("a commit without the log-layout token is refused with the " +
      "table named") {
    import spark.implicits._
    val t = s"$tmp/oldlayout"
    Io.tableAppend(Seq(1L).toDF("k"), t) // v0
    // v1 in the layout before records: a bare file list, whose deletion
    // vectors would have sat in a `.dv` file next to it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_commits", "00000001.commit"),
      Io.commitEntries(spark, t, 0L).mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_commits", "00000001.dv"),
      "pos\ndv/d00000001".getBytes("UTF-8"))
    assert(Io.tableVersion(spark, t) == 1L)
    val e = intercept[IllegalArgumentException] {
      Io.readTableVersion(spark, t, 1L).count()
    }
    assert(e.getMessage.contains(t) && e.getMessage.contains("layout"),
      e.getMessage)
    assert(Io.readTableVersion(spark, t, 0L).count() == 1) // v0 still reads
  }

  test("a committed table holds one record per version: DVs, stats and " +
      "table metadata live in it, not in sidecar files") {
    import spark.implicits._
    val t = s"$tmp/onefile"
    Io.tableAppendStats(
      (1L to 20L).toDF("k").repartitionByRange(2, col("k")), t, "k") // v0
    Io.tableDeleteWhereDv(spark, t, col("k") === 3)    // v1
    Io.tableAddConstraint(spark, t, "k_pos", "k > 0")  // v2
    Io.tableSetProperties(spark, t, Seq("a" -> "b"))   // v3
    Io.tableAddIdentityColumn(spark, t, "k")           // v4
    Io.tableAppend(Seq(100L).toDF("k"), t)             // v5
    assert(commitsOf(t) == (0 to 5).flatMap(v =>
      Seq(f"$v%08d.commit", f"$v%08d.lock")).toSet + "_head")
    assert(new java.io.File(t).list().toSet == Set("_commits", "data", "dv"))
    val rec = Io.record(spark, t, 5L)
    assert(rec.dv.nonEmpty && rec.stats.exists(_.nonEmpty))
    assert(rec.constraints == Seq("k_pos" -> "k > 0") &&
      rec.props == Seq("a" -> "b") && rec.identity.map(_._1) == Seq("k"))
    assert(Io.readTableVersion(spark, t, 5L).count() == 20)
    // vacuum's checkpoint is the one extra file, and only at retainFrom
    Io.vacuumTable(spark, t, retainFrom = 4L)
    assert(commitsOf(t) == (4 to 5).flatMap(v =>
      Seq(f"$v%08d.commit", f"$v%08d.lock")).toSet +
      "00000004.ckpt" + "_head")
    assert(Io.record(spark, t, 5L) == rec)
  }
}
