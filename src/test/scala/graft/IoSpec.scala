package graft

import graft.sources.Io
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IoSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  val tmp: String = java.nio.file.Files.createTempDirectory("graft_io").toString

  test("day-partitioned sample write prunes partitions on read") {
    val out = s"$tmp/samples"
    Io.writePartitionedSamples(spark, dir, out)
    val days = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("day="))
    assert(days.length >= 28, s"expected ~30 day dirs, got ${days.length}")

    val one = Io.readDay(spark, out, "2024-01-05")
    val expected = Tables.events(spark, dir)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05").count()
    assert(one.count() == expected)
    // the day predicate must be a PartitionFilter, not a data filter
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"),
      s"no partition pruning in plan:\n$plan")
  }

  test("I10: copy-on-write upsert rewrites only touched partitions") {
    import spark.implicits._
    val out = s"$tmp/upsert"
    Io.writePartitionedSamples(spark, dir, out)
    val before = spark.read.parquet(out)
    val nBefore = before.count()
    // pick an existing event from 2024-01-05 to UPDATE, plus one brand
    // new event in the same day and one in a brand-new day
    val victim = before.filter(col("day") === "2024-01-05")
      .orderBy("event_id").limit(1).collect()(0)
    val vid = victim.getAs[Long]("event_id")
    val schemaCols = before.columns
    val updates = Seq(
      (vid, victim.getAs[java.sql.Timestamp]("ts"), victim.getAs[Long]("user_id"),
        victim.getAs[String]("event_type"), 424242.0, victim.getAs[String]("props"),
        "2024-01-05"),
      (90000001L, victim.getAs[java.sql.Timestamp]("ts"), 7L, "click", 1.0,
        victim.getAs[String]("props"), "2024-01-05"),
      (90000002L, victim.getAs[java.sql.Timestamp]("ts"), 7L, "view", 2.0,
        victim.getAs[String]("props"), "2099-12-31"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props", "day")
      .select(schemaCols.map(col): _*)

    // fingerprint an UNtouched partition before the merge
    def files(day: String) = {
      val d = new java.io.File(s"$out/day=$day")
      if (!d.exists()) Array.empty[(String, Long)]
      else d.listFiles().map(f => (f.getName, f.lastModified())).sortBy(_._1)
    }
    val untouched = files("2024-01-10")
    assert(untouched.nonEmpty)

    Io.upsertPartitioned(spark, out, updates, "event_id")

    val after = spark.read.parquet(out)
    assert(after.count() == nBefore + 2, "one update + two inserts")
    assert(after.filter(col("event_id") === vid).head().getAs[Double]("value") == 424242.0)
    assert(after.filter(col("day") === "2099-12-31").count() == 1)
    // untouched partitions were neither rewritten nor renamed
    assert(files("2024-01-10").sameElements(untouched),
      "untouched partition files changed")
  }

  test("I11: z-order layout bounds file stats in both dimensions") {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), floor(col("value")).cast("long").as("v"),
        col("event_id"))
    val linear = s"$tmp/lin_layout"; val zord = s"$tmp/z_layout"
    // baseline: the classic single-column linear sort
    ev.repartitionByRange(8, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(linear)
    Io.writeZordered(ev, "user_id", "v", zord, 8)
    // emulate footer-stats pruning: a file is read iff its [min, max]
    // on the filtered column intersects the predicate range
    def filesIntersecting(path: String, lo: Long, hi: Long): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("v").as("mn"), max("v").as("mx"))
        .filter(col("mx") >= lo && col("mn") <= hi)
        .count()
    val linN = filesIntersecting(linear, 50, 60)
    val zN = filesIntersecting(zord, 50, 60)
    assert(spark.read.parquet(zord).count() == ev.count())
    assert(linN == 8, s"linear layout should leave v unbounded per file: $linN")
    assert(zN < linN,
      s"z-order did not bound the second dimension: $zN vs $linN files")
  }

  test("csv round-trip preserves rows and schema") {
    val docs = Tables.documents(spark, dir).select("doc_id", "lang", "source", "n_chars")
    Io.writeCsv(docs, s"$tmp/docs_csv")
    val back = Io.readCsv(spark, s"$tmp/docs_csv",
      "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
    assert(back.count() == docs.count())
    assert(back.schema == docs.schema)
    assert(back.agg(sum("n_chars")).head().getLong(0) ==
      docs.agg(sum("n_chars")).head().getLong(0))
  }

  test("json round-trip preserves rows") {
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "event_type", "value")
    Io.writeJson(ev, s"$tmp/ev_json")
    val back = Io.readJson(spark, s"$tmp/ev_json",
      "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
    assert(back.count() == ev.count())
  }

  test("orc round-trip preserves rows") {
    val docs = Tables.documents(spark, dir)
    Io.writeOrc(docs, s"$tmp/docs_orc")
    assert(Io.readOrc(spark, s"$tmp/docs_orc").count() == docs.count())
  }

  test("I9: mergeSchema unifies part files from different schema eras") {
    import spark.implicits._
    val out = s"$tmp/evolved"
    // era 1: (doc_id, lang); era 2 adds a quality column
    Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang")
      .write.mode("overwrite").parquet(out)
    Seq((3L, "en", 0.9)).toDF("doc_id", "lang", "quality")
      .write.mode("append").parquet(out)
    val merged = Io.readMerged(spark, out)
    assert(merged.columns.sorted.toSeq == Seq("doc_id", "lang", "quality"))
    // era-1 rows back-fill the new column with null; era-2 keeps data
    assert(merged.filter(col("quality").isNull).count() == 2)
    assert(merged.filter(col("doc_id") === 3 && col("quality") === 0.9).count() == 1)
    // a plain read (no merge) plans from ONE footer and may miss the
    // new column — the helper is what makes evolved tables readable
    assert(merged.count() == 3)
  }

  test("I6: small-file compaction folds micro-batch files, preserves data") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val df = spark.range(0, 2000)
      .select(col("id"), (col("id") % 4).cast("string").as("day"))
    // simulate per-micro-batch appends: 10 tiny files per partition
    (0 until 10).foreach { _ =>
      df.repartition(1).write.mode("append").partitionBy("day").parquet(tmp)
    }
    def files(day: String) = new java.io.File(s"$tmp/day=$day")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files("0") == 10)
    // partition values type-infer on read (day comes back as INT)
    def counts() = spark.read.parquet(tmp)
      .groupBy(col("day").cast("string")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = counts()

    sources.Io.compactPartitioned(spark, tmp)
    assert(files("0") == 1, s"expected 1 compacted file, got ${files("0")}")
    assert(counts() == before)
  }

  /** Nested partition layouts (H3b's batch=N/day=...) must keep every
    * partition LEVEL through compaction — a plain rewrite of the top
    * dirs would collapse the inner day= dirs into data columns and
    * kill their pruning.
    */
  test("I6b: compaction preserves nested partition levels") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact2").toString + "/t"
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") % 3).cast("string").as("day"))
    (0 until 2).foreach { b =>
      (0 until 5).foreach { _ =>
        df.repartition(1).write.mode("append").partitionBy("day")
          .parquet(s"$tmp/batch=$b")
      }
    }
    def counts() = spark.read.parquet(tmp)
      .groupBy(col("batch").cast("string"), col("day").cast("string")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val before = counts()
    sources.Io.compactPartitioned(spark, tmp)
    val leaf = new java.io.File(s"$tmp/batch=0/day=1")
    assert(leaf.isDirectory, "inner day= level was flattened away")
    assert(leaf.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    // per-batch commit markers are load-bearing sidecars — preserved
    assert(new java.io.File(s"$tmp/batch=0/_SUCCESS").exists(),
      "batch-level _SUCCESS marker lost in compaction")
    assert(counts() == before)
    // pruning still works at both levels on the compacted layout
    val plan = spark.read.parquet(tmp)
      .filter(col("day").cast("string") === "1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"), plan)
  }

  /** ADVICE (round 3): parquet summary files and .crc checksums
    * enumerate/checksum the PRE-compaction part files — carrying them
    * over would point readers at dead data. Genuine sidecars (e.g. a
    * manifest the rewrite doesn't regenerate) must still survive.
    */
  test("I6c: compaction drops stale summary/.crc sidecars, keeps real ones") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact3").toString + "/t"
    val df = spark.range(0, 100)
      .select(col("id"), (col("id") % 2).cast("string").as("day"))
    (0 until 3).foreach { _ =>
      df.repartition(1).write.mode("append").partitionBy("day").parquet(tmp)
    }
    val before = spark.read.parquet(s"$tmp/day=0").count()
    def plant(p: String): Unit = {
      val f = new java.io.File(p); f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, "stale".getBytes)
    }
    // parquet READERS honor a _metadata summary when present — a stale
    // one (here: garbage, post-compaction: enumerating dead files) breaks
    // or corrupts the read, which is exactly why it must not carry over
    plant(s"$tmp/_metadata"); plant(s"$tmp/_common_metadata")
    plant(s"$tmp/day=0/_metadata"); plant(s"$tmp/day=0/.part-old.parquet.crc")
    // a real, regeneration-exempt sidecar (underscore-prefixed so parquet
    // readers skip it as hidden, like _SUCCESS)
    plant(s"$tmp/day=0/_manifest.json")
    sources.Io.compactPartitioned(spark, tmp)
    assert(!new java.io.File(s"$tmp/_metadata").exists(), "root _metadata carried over")
    assert(!new java.io.File(s"$tmp/_common_metadata").exists())
    assert(!new java.io.File(s"$tmp/day=0/_metadata").exists(), "leaf _metadata carried over")
    assert(!new java.io.File(s"$tmp/day=0/.part-old.parquet.crc").exists(), ".crc carried over")
    assert(new java.io.File(s"$tmp/day=0/_manifest.json").exists(), "real sidecar lost")
    assert(spark.read.parquet(s"$tmp/day=0").count() == before)
  }

  test("I12: manifest-pruned read opens only overlapping files, result exact") {
    val out = s"$tmp/manifest_demo"
    // value-clustered layout → per-file [min, max] ranges are disjoint
    Tables.events(spark, dir)
      .repartitionByRange(8, col("value"))
      .sortWithinPartitions(col("value"))
      .write.mode("overwrite").parquet(out)
    Io.writeManifest(spark, out, "value")
    val Array(lo, hi) = spark.read.parquet(out)
      .stat.approxQuantile("value", Array(0.4, 0.5), 0.0)
    val pruned = Io.readPruned(spark, out, "value", lit(lo), lit(hi))
    val full = spark.read.parquet(out)
      .filter(col("value") >= lo && col("value") <= hi)
    assert(pruned.count() == full.count() && full.count() > 0)
    // the point: the pruned read's file index holds a strict subset
    val allFiles = spark.read.parquet(out).inputFiles.length
    assert(pruned.inputFiles.length < allFiles,
      s"pruned ${pruned.inputFiles.length} vs $allFiles files")
    // empty-overlap band → zero files, empty result, same schema
    val none = Io.readPruned(spark, out, "value",
      lit(Double.MaxValue / 2), lit(Double.MaxValue))
    assert(none.count() == 0 && none.schema == full.schema)

    // the manifest stores paths RELATIVE to the table root, so a moved
    // table keeps answering (no absolute URIs baked in) ...
    val fullN = full.count() // materialize before the rename invalidates `out`
    val moved = s"$tmp/manifest_demo_moved"
    assert(new java.io.File(out).renameTo(new java.io.File(moved)))
    val prunedMoved = Io.readPruned(spark, moved, "value", lit(lo), lit(hi))
    assert(prunedMoved.count() == fullN)
    // ... and a rewrite AFTER the manifest (part files replaced under
    // it, e.g. by compaction) must fail fast as stale, never silently
    // read deleted data
    val victim = new java.io.File(moved).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    assert(victim.delete())
    val ex = intercept[IllegalArgumentException] {
      Io.readPruned(spark, moved, "value",
        lit(Double.MinValue / 2), lit(Double.MaxValue / 2)).count()
    }
    assert(ex.getMessage.contains("stale"), ex.getMessage)
  }

  test("I14: commit-log time travel — COW delete shares untouched files, " +
      "history immutable, log append-only") {
    import spark.implicits._
    val t = s"$tmp/tt"
    // two appends: ids 1-100 (k=a|b), then 101-150 (k=c)
    val d0 = (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "k").repartition(4)
    val d1 = (101 to 150).map(i => (i.toLong, "c")).toDF("id", "k").repartition(2)
    assert(Io.tableAppend(d0, t) == 0L)
    assert(Io.tableAppend(d1, t) == 1L)
    // v1 = both batches
    assert(Io.readTableVersion(spark, t, 1L).count() == 150)
    // COW delete of k='c' must not touch batch-0 files
    assert(Io.tableDeleteWhere(spark, t, col("k") === "c") == 2L)
    def commitFiles(v: Long): Set[String] =
      Io.versionFiles(spark, t, v).toSet
    val (f0, f1, f2) = (commitFiles(0), commitFiles(1), commitFiles(2))
    assert(f0.subsetOf(f1) && f0.subsetOf(f2),
      "untouched batch-0 files must be carried by reference across versions")
    assert((f1 -- f0).nonEmpty && (f2 & (f1 -- f0)).isEmpty,
      "every batch-1 file held a matching row and must be rewritten out")
    // history immutable: v1 still serves the deleted rows, v2 doesn't
    assert(Io.readTableVersion(spark, t, 1L)
      .filter(col("k") === "c").count() == 50)
    assert(Io.readTableVersion(spark, t, 2L)
      .filter(col("k") === "c").count() == 0)
    assert(Io.readTableVersion(spark, t, 2L).count() == 100)
    // v0 unchanged from the day it was written
    assert(Io.readTableVersion(spark, t, 0L).count() == 100)
    assert(Io.tableVersion(spark, t) == 2L)
    // a delete with no matching rows still commits, carrying all files
    val vNoop = Io.tableDeleteWhere(spark, t, col("k") === "zzz")
    assert(commitFiles(vNoop) == commitFiles(vNoop - 1))
  }

  test("I17: shallow clone copies no data, diverges under COW, " +
      "source isolated") {
    import spark.implicits._
    val src = s"$tmp/clone_src"
    val dst = s"$tmp/clone_dst"
    val d0 = (1 to 80).map(i => (i.toLong, if (i % 4 == 0) "x" else "y"))
      .toDF("id", "k").repartition(3)
    Io.tableAppend(d0, src)
    def dataFiles(t: String): Set[String] = {
      val d = java.nio.file.Paths.get(t, "data")
      if (!java.nio.file.Files.exists(d)) Set.empty
      else {
        val s = java.nio.file.Files.walk(d)
        try s.filter(p => p.getFileName.toString.startsWith("part-"))
          .map[String](_.toString).toArray.map(_.toString).toSet
        finally s.close()
      }
    }
    assert(Io.tableClone(spark, src, dst) == 0L)
    // zero copy: the clone holds NO data files of its own, yet serves
    // the source's content through absolute references
    assert(dataFiles(dst).isEmpty)
    assert(Io.readTableVersion(spark, dst, 0L).count() == 80)
    val srcFilesBefore = dataFiles(src)
    // clone-side COW delete rewrites into the CLONE's data dir only
    assert(Io.tableDeleteWhere(spark, dst, col("k") === "x") == 1L)
    assert(dataFiles(src) == srcFilesBefore,
      "a clone mutation must never touch the source's files")
    assert(Io.readTableVersion(spark, dst, 1L).count() == 60)
    assert(Io.readTableVersion(spark, src, 0L)
      .filter(col("k") === "x").count() == 20,
      "source still serves rows the clone deleted")
    // clone target must be fresh
    intercept[IllegalArgumentException] {
      Io.tableClone(spark, src, dst)
    }
  }

  test("I19: idempotent append no-ops on redelivery and rejects gaps") {
    import spark.implicits._
    val t = s"$tmp/sink"
    val b0 = (1 to 10).map(i => (i.toLong, "a")).toDF("id", "k")
    val b1 = (11 to 20).map(i => (i.toLong, "b")).toDF("id", "k")
    assert(Io.tableAppendIdempotent(b0, t, 0L))
    assert(!Io.tableAppendIdempotent(b0, t, 0L), "redelivery must no-op")
    intercept[IllegalArgumentException] {
      Io.tableAppendIdempotent(b1, t, 2L) // out-of-order delivery
    }
    assert(Io.tableAppendIdempotent(b1, t, 1L))
    assert(Io.readTableVersion(spark, t, 1L).count() == 20)
    assert(Io.readTableVersion(spark, t, 0L).count() == 10)
  }

  test("I20: restore rolls content back as a zero-copy commit, keeps " +
      "history, refuses expired targets") {
    import spark.implicits._
    val t = s"$tmp/restore"
    def dataFiles(tb: String): Set[String] = {
      val d = java.nio.file.Paths.get(tb, "data")
      if (!java.nio.file.Files.exists(d)) Set.empty
      else {
        val s = java.nio.file.Files.walk(d)
        try s.filter(p => p.getFileName.toString.startsWith("part-"))
          .map[String](_.toString).toArray.map(_.toString).toSet
        finally s.close()
      }
    }
    val d0 = (1 to 40).map(i => (i.toLong, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "k").repartition(2)
    Io.tableAppend(d0, t)                             // v0
    Io.tableDeleteWhere(spark, t, col("k") === "x")   // v1
    assert(Io.readTableVersion(spark, t, 1L).count() == 20)
    val before = dataFiles(t)
    assert(Io.tableRestore(spark, t, 0L) == 2L)
    // zero-copy: the restore commit landed no data files of its own
    assert(dataFiles(t) == before)
    // latest serves the v0 content again; v1 history intact
    assert(Io.readTableVersion(spark, t, 2L).count() == 40)
    assert(Io.readTableVersion(spark, t, 1L).count() == 20)
    // restoring to an expired (vacuumed-away) version refuses
    val t2 = s"$tmp/restore2"
    Io.tableAppend(d0, t2)
    Io.tableDeleteWhere(spark, t2, col("k") === "x")
    Io.vacuumTable(spark, t2, retainFrom = 1L)
    intercept[IllegalArgumentException] {
      Io.tableRestore(spark, t2, 0L)
    }
  }

  test("I21: optimize packs files without changing content; history " +
      "intact; vacuum then drops the superseded small files") {
    import spark.implicits._
    val t = s"$tmp/opt"
    val d0 = (1 to 60).map(i => (i.toLong, s"k${i % 3}")).toDF("id", "k")
      .repartition(6)
    Io.tableAppend(d0, t)                                   // v0: 6 files
    val before = Io.readTableVersion(spark, t, 0L).orderBy("id")
      .collect().toSeq
    assert(Io.tableOptimize(spark, t, 1) == 1L)
    // content identical, layout packed
    assert(Io.readTableVersion(spark, t, 1L).orderBy("id")
      .collect().toSeq == before)
    assert(Io.readTableVersion(spark, t, 1L).rdd.getNumPartitions == 1)
    // the pre-optimize version still reads through its own files
    assert(Io.readTableVersion(spark, t, 0L).count() == 60)
    // vacuum to latest-only removes exactly the 6 superseded files
    assert(Io.vacuumTable(spark, t, retainFrom = 1L) == 6L)
    assert(Io.readTableVersion(spark, t, 1L).orderBy("id")
      .collect().toSeq == before)
  }

  test("I18: vacuum deletes only unreferenced files, expired versions " +
      "refuse reads, retained version intact") {
    import spark.implicits._
    val t = s"$tmp/vac"
    val d0 = (1 to 90).map(i => (i.toLong, if (i % 3 == 0) "del" else "keep"))
      .toDF("id", "k").repartition(3)
    Io.tableAppend(d0, t)
    Io.tableDeleteWhere(spark, t, col("k") === "del") // v1: all files rewritten
    val before = Io.readTableVersion(spark, t, 1L).orderBy("id")
      .collect().toSeq
    val removed = Io.vacuumTable(spark, t, retainFrom = 1L)
    assert(removed == 3, s"the 3 original c0 files became orphans, got $removed")
    // retained version reads byte-identically after the GC
    assert(Io.readTableVersion(spark, t, 1L).orderBy("id")
      .collect().toSeq == before)
    // expired version is gone from the log
    intercept[IllegalArgumentException] {
      Io.readTableVersion(spark, t, 0L)
    }
    // idempotent: nothing left to remove
    assert(Io.vacuumTable(spark, t, retainFrom = 1L) == 0L)
  }

  test("I23: concurrent writers serialize through version claims — " +
      "no lost updates, orphan attempts vacuumable") {
    import spark.implicits._
    val t = s"$tmp/occ"
    val writers = 4
    val perWriter = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = (0 until perWriter).map { i =>
            Io.tableAppendOcc(
              Seq((w.toLong * 100 + i, s"w$w")).toDF("id", "writer"),
              t, s"w$w")
          }
        })
      }
      val versions = futures.flatMap(_.get(120,
        java.util.concurrent.TimeUnit.SECONDS))
      // every append got a DISTINCT version and none were lost
      assert(versions.toSet.size == writers * perWriter)
      assert(Io.tableVersion(spark, t) == writers * perWriter - 1)
    } finally pool.shutdownNow()
    // the final version contains every batch exactly once
    val rows = Io.readTableVersion(spark, t,
      Io.tableVersion(spark, t)).collect()
    assert(rows.length == writers * perWriter)
    assert(rows.map(_.getLong(0)).toSet.size == writers * perWriter)
    // losing attempts may have landed orphan dirs; vacuum collects
    // them and the table still reads back intact
    Io.vacuumTable(spark, t, retainFrom = 0L)
    assert(Io.readTableVersion(spark, t, Io.tableVersion(spark, t))
      .count() == writers * perWriter)
  }

  test("I23 janitor: a fresh foreign claim blocks; a dead claim past " +
      "TTL is reclaimed and the version number freed") {
    import spark.implicits._
    val t = s"$tmp/janitor"
    Io.tableAppend(Seq(1L).toDF("k"), t) // v0
    // simulate a writer that claimed v1 and died before its .commit
    val lock = new java.io.File(s"$t/_commits/00000001.lock")
    assert(lock.createNewFile())
    // under the default 10-min TTL the claim is honored: conflict
    intercept[IllegalArgumentException] { Io.tableAppend(Seq(2L).toDF("k"), t) }
    assert(Io.tableVersion(spark, t) == 0L)
    // past the TTL the janitor reclaims the lock and the append lands
    spark.conf.set("graft.occ.lockTtlMs", "1")
    try {
      Thread.sleep(10)
      assert(Io.tableAppend(Seq(2L).toDF("k"), t) == 1L)
      assert(Io.readTableVersion(spark, t, 1L).count() == 2)
    } finally spark.conf.unset("graft.occ.lockTtlMs")
    // a COMMITTED version's lock is never treated as stale
    intercept[IllegalArgumentException] {
      Io.readTableVersion(spark, t, 2L) // sanity: v2 does not exist yet
    }
  }

  test("HEAD hint: tableVersion probes forward from a stale hint and " +
      "survives a garbage or missing hint (never load-bearing)") {
    import spark.implicits._
    val t = s"$tmp/headhint"
    (0 to 4).foreach(i => Io.tableAppend(Seq(i.toLong).toDF("k"), t))
    assert(Io.tableVersion(spark, t) == 4L)
    val hint = new java.io.File(s"$t/_commits/_head")
    assert(hint.exists(), "commit should stamp the hint")
    // stale hint (a lagging writer): forward probing recovers HEAD
    java.nio.file.Files.write(hint.toPath, "1".getBytes)
    assert(Io.tableVersion(spark, t) == 4L)
    // garbage hint: full-listing fallback
    java.nio.file.Files.write(hint.toPath, "not-a-number".getBytes)
    assert(Io.tableVersion(spark, t) == 4L)
    // missing hint: full-listing fallback, and the next append restores it
    assert(hint.delete())
    assert(Io.tableVersion(spark, t) == 4L)
    Io.tableAppend(Seq(9L).toDF("k"), t)
    assert(new String(java.nio.file.Files.readAllBytes(hint.toPath)) == "5")
  }

  test("stats append: every committed entry has a sidecar entry and " +
      "later stats appends are never wedged") {
    import spark.implicits._
    val t = s"$tmp/statszero"
    // repartition(4) of 2 rows forces empty write partitions — any
    // zero-row part file must be excluded from the committed list
    Io.tableAppendStats(Seq(1L, 2L).toDF("k").repartition(4), t, "k")
    assert(Io.readTableVersion(spark, t, 0L).count() == 2)
    // the invariant readStatsFile requires: no committed file without
    // stats — a second stats append replays that require over v0
    Io.tableAppendStats(Seq(3L).toDF("k"), t, "k")
    assert(Io.readTableVersion(spark, t, 1L)
      .agg(sum(col("k"))).collect()(0).getLong(0) == 6L)
  }

  test("stats append: an orphan sidecar from a crashed attempt never " +
      "wedges the version (overwrite, not rename-onto-existing)") {
    import spark.implicits._
    val t = s"$tmp/statsorphan"
    Io.tableAppendStats(Seq(1L).toDF("k"), t, "k") // v0
    // simulate a crash between the stats rename and the commit at v1:
    // the orphan sidecar exists, the .commit does not
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_commits/00000001.stats"),
      "garbage\t0\t0".getBytes("UTF-8"))
    Io.tableAppendStats(Seq(2L).toDF("k"), t, "k") // retry at v1 must land
    assert(Io.readTableVersion(spark, t, 1L).count() == 2)
    // the orphan content was replaced by the real sidecar
    val st = Io.readStatsFile(spark, t, 1L)
    assert(st.nonEmpty && !st.keys.exists(_._1 == "garbage"))
  }

  test("OCC claim locks carry the owner token so cleanup/reclaim can " +
      "distinguish writers") {
    import spark.implicits._
    val t = s"$tmp/locktoken"
    Io.tableAppend(Seq(1L).toDF("k"), t) // v0 — its lock stays behind
    val lock = java.nio.file.Paths.get(s"$t/_commits/00000000.lock")
    val tok = new String(java.nio.file.Files.readAllBytes(lock), "UTF-8").trim
    assert(tok.matches("[0-9a-f-]{36}"), s"expected a UUID token, got '$tok'")
  }

  test("I25 DV: under-threshold delete writes a sidecar and rewrites " +
      "NOTHING; over-threshold files fall back to COW; versions isolate") {
    import spark.implicits._
    val t = s"$tmp/dv"
    // 2 range files: keys 1..10 and 11..20
    Io.tableAppend((1L to 20L).toDF("k").repartitionByRange(2, col("k")), t)
    val files0 = Io.readTableVersion(spark, t, 0L) // v0 exists
    assert(files0.count() == 20)
    val commit0 = Io.versionFiles(spark, t, 0L).toSet
    // 1 of ~10 rows in its file (10% < default 20%) → DV path
    assert(Io.tableDeleteWhereDv(spark, t, col("k") === 3) == 1L)
    val commit1 = Io.versionFiles(spark, t, 1L).toSet
    assert(commit1 == commit0, "DV delete must not rewrite data files")
    assert(new java.io.File(s"$t/_commits/00000001.dv").exists())
    assert(Io.readTableVersion(spark, t, 1L).count() == 19)
    assert(!Io.readTableVersion(spark, t, 1L)
      .filter(col("k") === 3).collect().nonEmpty)
    // v0 unchanged (version isolation)
    assert(Io.readTableVersion(spark, t, 0L).count() == 20)
    // 6 of the first file's 9 LIVE rows (> 20%) → that file COWs;
    // the second file is untouched and carried by reference
    assert(Io.tableDeleteWhereDv(spark, t, col("k") <= 7) == 2L)
    val commit2 = Io.versionFiles(spark, t, 2L).toSet
    assert(commit2 != commit1, "over-threshold delete must rewrite")
    assert((commit2 & commit1).nonEmpty,
      "the untouched file must carry by reference")
    assert(Io.readTableVersion(spark, t, 2L).count() == 13)
    assert(Io.readTableVersion(spark, t, 2L)
      .agg(min(col("k"))).collect()(0).getLong(0) == 8L)
    // v1 still serves 19 AFTER v2 (isolation through both paths)
    assert(Io.readTableVersion(spark, t, 1L).count() == 19)
    // plain COW delete on a DV table is refused loudly
    intercept[IllegalArgumentException] {
      Io.tableDeleteWhere(spark, t, col("k") === 99)
    }
    // appends carry the DV sidecar: new rows land, old deletes hold
    Io.tableAppend(Seq(100L).toDF("k"), t) // v3
    val m3 = Io.readTableVersion(spark, t, 3L)
    assert(m3.count() == 14 && m3.filter(col("k") === 3).count() == 0)
  }

  test("timestampAsOf: commit mtimes resolve the version cut; before " +
      "the first commit refuses; the DSv2 option composes") {
    import spark.implicits._
    val t = s"$tmp/tsasof"
    Io.tableAppend(Seq(1L).toDF("k"), t) // v0
    Thread.sleep(1100)
    val cut = System.currentTimeMillis()
    Thread.sleep(1100)
    Io.tableAppend(Seq(2L).toDF("k"), t) // v1
    assert(Io.versionAtTimestamp(spark, t, cut) == 0L)
    assert(Io.versionAtTimestamp(spark, t, System.currentTimeMillis()) == 1L)
    intercept[IllegalArgumentException] {
      Io.versionAtTimestamp(spark, t, 1000L) // 1970 — before v0
    }
    // the connector option resolves through the same cut
    assert(spark.read.format("graft").option("timestampAsOf", cut)
      .load(t).count() == 1)
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("timestampAsOf", cut)
        .option("versionAsOf", 1).load(t).count()
    }
  }

  test("delta-encoded commits: non-checkpoint commits store only their " +
      "changes, every version resolves exactly, vacuum keeps chains " +
      "resolvable by snapping to the checkpoint") {
    import spark.implicits._
    val t = s"$tmp/deltalog"
    spark.conf.set("graft.log.checkpointInterval", "4")
    try {
      (0 to 8).foreach(i => Io.tableAppend(Seq(i.toLong).toDF("k"), t))
      def commitText(v: Long) = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(t, "_commits", f"$v%08d.commit")), "UTF-8")
      // checkpoints (0, 4, 8) are FULL lists; the rest are deltas
      // whose size is the commit's own changes, not the table's
      for (v <- Seq(0L, 4L, 8L))
        assert(!commitText(v).startsWith("@delta"), s"v$v must be full")
      for (v <- Seq(1L, 2L, 3L, 5L, 6L, 7L)) {
        assert(commitText(v).startsWith(s"@delta ${v - 1}"))
        val changes = commitText(v).split("\n").count(_.startsWith("+"))
        assert(changes >= 1 && changes <= 2,
          s"v$v delta must list only its own files, got $changes")
      }
      // every version resolves to exactly its cumulative content
      for (v <- 0L to 8L)
        assert(Io.readTableVersion(spark, t, v).count() == v + 1)
      // a COW delete through a delta commit removes + adds correctly
      Io.tableDeleteWhere(spark, t, col("k") === 0L) // v9 (delta)
      assert(Io.readTableVersion(spark, t, 9L).count() == 8)
      assert(Io.readTableVersion(spark, t, 8L).count() == 9) // immutable
      // vacuum from v6 (a delta): the earliest retained commit is
      // MATERIALIZED as a full .ckpt before its ancestors expire, so
      // the chain never dangles and expired versions refuse as before
      Io.vacuumTable(spark, t, retainFrom = 6L)
      assert(new java.io.File(f"$t/_commits/00000006.ckpt").exists(),
        "earliest retained delta commit must gain a checkpoint")
      for (v <- 6L to 9L)
        assert(Io.readTableVersion(spark, t, v).count() ==
          (if (v == 9L) 8 else v + 1))
      assert(!new java.io.File(f"$t/_commits/00000005.commit").exists(),
        "commits below retainFrom are expired")
      intercept[IllegalArgumentException] {
        Io.readTableVersion(spark, t, 3L)
      }
    } finally spark.conf.unset("graft.log.checkpointInterval")
  }

  test("I25 DV change feed: DV-only deletes surface (no file diff), " +
      "carried dirs never re-emit, COW transitions exclude prior DVs") {
    import spark.implicits._
    val t = s"$tmp/dvcdf"
    Io.tableAppend((1L to 20L).toDF("k").repartitionByRange(2, col("k")), t)
    Io.tableDeleteWhereDv(spark, t, col("k") === 3) // v1: DV only
    Io.tableDeleteWhereDv(spark, t, col("k") <= 7)  // v2: COW file 1
    // v0→v1: no file changed — the feed must come from the DV entries
    // (changeFeed and changeFeedMor are one path since round 11)
    val f01 = Io.changeFeed(spark, t, 0L, 1L).collect()
    assert(f01.map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type")))
      .toSet == Set((3L, "delete")))
    // v1→v2: deletes are k ∈ {1,2,4,5,6,7} — k=3 must NOT re-emit
    // (it died at v1; the COW rewrite must not resurrect it as a diff)
    val f12 = Io.changeFeedMor(spark, t, 1L, 2L).collect()
    assert(f12.forall(_.getAs[String]("change_type") == "delete"))
    assert(f12.map(_.getAs[Long]("k")).toSet == Set(1L, 2L, 4L, 5L, 6L, 7L))
    // end-to-end: v0→v2 emits all seven deletes once each
    val f02 = Io.changeFeedMor(spark, t, 0L, 2L).collect()
    assert(f02.map(_.getAs[Long]("k")).toSet
      == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(f02.length == 7)
  }

  test("I25 DV: OPTIMIZE materializes deletion vectors (clean files, " +
      "no sidecar) and VACUUM collects the dv dirs") {
    import spark.implicits._
    val t = s"$tmp/dvopt"
    Io.tableAppend((1L to 20L).toDF("k").repartitionByRange(2, col("k")), t)
    Io.tableDeleteWhereDv(spark, t, col("k") === 15) // v1, DV path
    assert(Io.readTableVersion(spark, t, 1L).count() == 19)
    val v2 = Io.optimizeTableDv(spark, t)
    assert(v2 == 2L)
    assert(!new java.io.File(s"$t/_commits/00000002.dv").exists(),
      "optimize must commit a DV-free version")
    // the PLAIN read of the optimized version is already clean
    assert(Io.readTableVersion(spark, t, 2L).count() == 19)
    assert(Io.readTableVersion(spark, t, 2L)
      .filter(col("k") === 15).count() == 0)
    // the dv dir is still live (v1 references it) — vacuum keeping v1
    // must NOT collect it, vacuum from v2 must
    assert(new java.io.File(s"$t/dv").listFiles().nonEmpty)
    Io.vacuumTable(spark, t, retainFrom = 1L)
    assert(Io.readTableVersion(spark, t, 1L).count() == 19,
      "retained DV version must survive vacuum intact")
    val removed = Io.vacuumTable(spark, t, retainFrom = 2L)
    assert(removed > 0, "vacuum must account the dv files it collects")
    val dvLeft = Option(new java.io.File(s"$t/dv").listFiles())
      .map(_.length).getOrElse(0)
    assert(dvLeft == 0, "unreferenced dv dirs must be collected")
    assert(Io.readTableVersion(spark, t, 2L).count() == 19)
  }

  test("round-13 positional DVs: row positions stay exact across " +
      "split-parallel reads of multi-row-group files") {
    // tiny parquet row groups + tiny maxPartitionBytes, so ONE data
    // file spans many splits — the positions a delete records must
    // survive both the scattered write layout and the scattered read
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = Option(hc.get("parquet.block.size"))
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    hc.set("parquet.block.size", "4096")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try {
      val t = s"$tmp/dvsplit"
      Io.tableAppend(
        (1L to 20000L).map(k => (k, ("x" * 40) + k)).toDF("k", "pad")
          .coalesce(1), t)
      val maxIdx = spark.read.parquet(s"$t/data/c0")
        .select(col("_metadata.row_index").as("ri"))
        .agg(max("ri")).head().getLong(0)
      assert(maxIdx == 19999L, "row_index must be file-scoped, 0-based")
      // many splits per file; the delete records positions via
      // _metadata.row_index on the scattered read
      Io.tableDeleteWhereDv(spark, t, col("k") % 97 === 0)
      val mor = Io.readTableVersion(spark, t, 1L)
      assert(mor.count() == 20000L - 206L) // floor(20000/97) = 206
      assert(mor.filter(col("k") % 97 === 0).count() == 0)
      // the DSv2 connector's per-file positional filter agrees under
      // the same forced split parallelism
      val dsv2 = spark.read.format("graft").load(t)
      assert(dsv2.count() == 20000L - 206L)
      assert(dsv2.filter(col("k") % 97 === 0).count() == 0)
      assert(dsv2.filter(col("k") === 97L * 3).count() == 0)
      assert(dsv2.filter(col("k") === 98L).count() == 1)
    } finally {
      prevBlock match {
        case Some(b) => hc.set("parquet.block.size", b)
        case None => hc.unset("parquet.block.size")
      }
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
    }
  }

  test("round-13 positional DVs: predicate deletes work on tables with " +
      "DUPLICATE rows (no key column), and a re-appended equal row is " +
      "NOT hidden by carried deletes") {
    import spark.implicits._
    val t = s"$tmp/dvdup"
    // v0: duplicate full rows — the key-based model had no identity
    // for these; positions always do
    Io.tableAppend(Seq(1L, 2L, 2L, 3L, 4L).toDF("v").coalesce(1), t)
    Io.tableDeleteWhereDv(spark, t, col("v") === 2)
    val v1 = Io.readTableVersion(spark, t, 1L)
    assert(v1.count() == 3 && v1.filter(col("v") === 2).count() == 0)
    // v2: append a FRESH v=2 row — equal in value to the deleted ones;
    // carried (file, pos) entries cannot touch the new copy
    Io.tableAppend(Seq(2L).toDF("v"), t)
    val v2 = Io.readTableVersion(spark, t, 2L)
    assert(v2.count() == 4 && v2.filter(col("v") === 2).count() == 1,
      "a re-appended equal row must serve despite carried deletes")
    // and the old copies stay hidden (no resurrect)
    assert(Io.readTableVersion(spark, t, 2L)
      .groupBy(col("v")).count().filter(col("v") === 2)
      .head().getLong(1) == 1L)
  }

  test("round-13 DV-sidecar compaction: many MOR dv/ dirs fold into " +
      "one, reads identical, file list untouched, vacuum collects") {
    import spark.implicits._
    val t = s"$tmp/dvcompact"
    Io.tableAppend((1L to 100L).toDF("k").coalesce(2), t) // v0
    Io.tableDeleteWhereDv(spark, t, col("k") === 3)  // v1: dv dir 1
    Io.tableDeleteWhereDv(spark, t, col("k") === 55) // v2: dv dir 2
    Io.tableDeleteWhereDv(spark, t, col("k") === 7)  // v3: dv dir 3
    assert(Io.dvDirsOf(spark, t, 3L).size == 3)
    val files3 = Io.versionFiles(spark, t, 3L).toSet
    val v4 = Io.compactTableDv(spark, t)
    assert(v4 == 4L)
    assert(Io.dvDirsOf(spark, t, 4L).size == 1, "one compacted dir")
    assert(Io.versionFiles(spark, t, 4L).toSet == files3,
      "compaction must not touch data files")
    val r4 = Io.readTableVersion(spark, t, 4L)
    assert(r4.count() == 97 &&
      r4.filter(col("k").isin(3L, 7L, 55L)).count() == 0)
    // pre-compaction versions still serve their own dv sets
    assert(Io.readTableVersion(spark, t, 2L).count() == 98)
    // a no-op compaction returns HEAD unchanged
    assert(Io.compactTableDv(spark, t) == 4L)
    // vacuum: superseded dv dirs die with their expired versions
    val removed = Io.vacuumTable(spark, t, 4L)
    assert(removed >= 3, s"expected >=3 superseded dv parts, got $removed")
    assert(Io.readTableVersion(spark, t, 4L).count() == 97)
  }

  test("changeFeed: identical file sets yield an EMPTY feed that still " +
      "carries the schema + change_type") {
    import spark.implicits._
    val t = s"$tmp/cfnoop"
    Io.tableAppend(Seq((1L, "a")).toDF("id", "v"), t)
    val feed = Io.changeFeed(spark, t, 0L, 0L)
    assert(feed.columns.contains("change_type") && feed.columns.contains("id"))
    assert(feed.groupBy("change_type").count().collect().isEmpty)
  }

  test("I22: commit-embedded stats skip non-overlapping files, result " +
      "equals the unpruned filtered read") {
    import spark.implicits._
    val t = s"$tmp/skip"
    // two stats-carrying commits, each laid out into 3 range-bounded
    // files on k: 1..90 then 91..180
    Io.tableAppendStats((1L to 90L).toDF("k")
      .repartitionByRange(3, col("k")), t, "k")
    Io.tableAppendStats((91L to 180L).toDF("k")
      .repartitionByRange(3, col("k")), t, "k")
    val total = Io.readStatsFile(spark, t, 1L)
    assert(total.size == 6, s"expected 6 stats entries, got ${total.size}")
    // stats must be version-consistent: v0's sidecar covers exactly c0
    assert(Io.readStatsFile(spark, t, 0L).size == 3)
    // band [50, 100): overlaps the tail of c0 and the head of c1 only
    val kept = total.count { case (_, (mn, mx)) => mx >= 50L && mn < 100L }
    assert(kept < 6 && kept > 0, s"band should skip some files, kept $kept")
    val pruned = Io.readTableVersionSkipping(spark, t, 1L, "k", 50L, 100L)
    val full = Io.readTableVersion(spark, t, 1L)
      .filter(col("k") >= 50L && col("k") < 100L)
    assert(pruned.orderBy("k").collect().toSeq ==
      full.orderBy("k").collect().toSeq)
    // and the pruned plan really reads fewer files
    val scanned = pruned.select(input_file_name()).distinct().count()
    assert(scanned == kept, s"pruned read scanned $scanned files, stats kept $kept")
  }

  test("one reader: a versioned format(\"graft\") load resolves its " +
      "table once; a version with no data files serves the declared " +
      "schema") {
    import spark.implicits._
    val t = s"$tmp/oneread"
    Io.tableAppend((1L to 10L).toDF("k"), t)
    Io.tableAppend((11L to 20L).toDF("k"), t)
    def jobs(body: => Any): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try { body; org.apache.spark.GraftTestBus.drain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    // Spark's inferSchema + getTable pair: one resolution, so one
    // parquet schema-inference job at most
    var v1: org.apache.spark.sql.DataFrame = null
    val loadJobs = jobs {
      v1 = spark.read.format("graft").option("versionAsOf", 1L).load(t)
    }
    assert(loadJobs <= 1, s"a versioned load ran $loadJobs jobs")
    assert(v1.count() == 20)
    // getTable serves the snapshot inferSchema resolved, even when a
    // commit lands between the two calls
    val provider = new graft.sources.GraftTableProvider
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", t))
    provider.inferSchema(opts)
    Io.tableAppend(Seq(21L).toDF("k"), t) // v2
    assert(provider.getTable(null, Array.empty, opts.asCaseSensitiveMap())
      .properties().get("graft.version") == "1")
    // a schema change on a created-but-never-written table commits v0
    // with zero data files: the version read serves the declared
    // columns, zero rows
    val e = s"$tmp/oneread_empty"
    val declared = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT")
    Io.tableCreate(spark, e, declared)
    assert(Io.commitSchemaChange(spark, e, -1L, declared) == 0L)
    assert(Io.versionFiles(spark, e, 0L).isEmpty)
    val empty = Io.readTableVersion(spark, e, 0L)
    assert(empty.columns.toSeq == Seq("k", "v"))
    assert(empty.count() == 0)
    // identity and generated declarations check those columns: a
    // declared one passes (zero rows seed the high water at
    // start - step and have nothing to conform), another is refused
    assert(Io.tableAddIdentityColumn(spark, e, "k", start = 10L, step = 5L) == 1L)
    assert(Io.readIdentity(spark, e) == Seq(("k", 10L, 5L, 5L)))
    assert(Io.tableAddGeneratedColumn(spark, e, "v", "k * 2") == 2L)
    val noId = intercept[IllegalArgumentException](
      Io.tableAddIdentityColumn(spark, e, "z"))
    assert(noId.getMessage.contains("does not exist"))
    val noGen = intercept[IllegalArgumentException](
      Io.tableAddGeneratedColumn(spark, e, "z", "k + 1"))
    assert(noGen.getMessage.contains("does not exist"))
  }

  test("I22 multi-column stats: each column prunes independently; a " +
      "column without stats refuses loudly") {
    import spark.implicits._
    val t = s"$tmp/skipmulti"
    // k ascending, neg descending: a k-band and a neg-band prune
    // OPPOSITE ends of the range layout
    Io.tableAppendStats((1L to 90L).map(k => (k, 1000L - k))
      .toDF("k", "neg").repartitionByRange(3, col("k")), t, "k", "neg")
    assert(Io.readStatsFile(spark, t, 0L).size == 6) // 3 files × 2 cols
    def scanned(df: org.apache.spark.sql.DataFrame) =
      df.select(input_file_name()).distinct().count()
    val byK = Io.readTableVersionSkipping(spark, t, 0L, "k", 1L, 20L)
    val byNeg = Io.readTableVersionSkipping(spark, t, 0L, "neg", 990L, 1001L)
    assert(byK.count() == 19 && scanned(byK) == 1)
    assert(byNeg.count() == 10 && scanned(byNeg) == 1)
    // the two bands select the SAME rows (neg = 1000 - k)
    assert(byNeg.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 10L))
    intercept[IllegalArgumentException] {
      Io.readTableVersionSkipping(spark, t, 0L, "nope", 0L, 1L).count()
    }
  }

  test("round-12 MERGE: matched rows replaced, unmatched inserted, " +
      "untouched files carried by reference, refusals loud") {
    import spark.implicits._
    val t = s"$tmp/merge"
    // two range files: k 1..10 (file 1), 11..20 (file 2)
    Io.tableAppend((1L to 20L).map(k => (k, k * 10L)).toDF("k", "v")
      .repartitionByRange(2, col("k")), t) // v0
    val c0 = Io.versionFiles(spark, t, 0L).toSet
    // merge touching ONLY file 1 keys: update k=3, insert k=100
    val src = Seq((3L, 999L), (100L, 1000L)).toDF("k", "v")
    assert(Io.tableMerge(spark, t, src, "k") == 1L)
    val m1 = Io.readTableVersion(spark, t, 1L)
    assert(m1.count() == 21)
    assert(m1.filter(col("k") === 3).select("v").head().getLong(0) == 999L)
    assert(m1.filter(col("k") === 100).count() == 1)
    val c1 = Io.versionFiles(spark, t, 1L).toSet
    assert((c1 & c0).nonEmpty, "untouched file must carry by reference")
    assert(c1 != c0, "touched file must be rewritten")
    // v0 unchanged (history immutable)
    assert(Io.readTableVersion(spark, t, 0L).count() == 20)
    assert(Io.readTableVersion(spark, t, 0L)
      .filter(col("k") === 3).select("v").head().getLong(0) == 30L)
    // insert-only merge touches nothing: pure append
    assert(Io.tableMerge(spark, t,
      Seq((200L, 1L)).toDF("k", "v"), "k") == 2L)
    assert((Io.versionFiles(spark, t, 2L).toSet & c1) == c1,
      "insert-only merge must carry every file")
    // duplicate source keys refuse (the Delta multiple-matches error)
    val dup = intercept[IllegalArgumentException] {
      Io.tableMerge(spark, t, Seq((5L, 1L), (5L, 2L)).toDF("k", "v"), "k")
    }
    assert(dup.getMessage.contains("duplicate"))
    // schema mismatch refuses
    intercept[IllegalArgumentException] {
      Io.tableMerge(spark, t, Seq(1L).toDF("k"), "k")
    }
    // DV-carrying tables COMPOSE (round 13, positional DVs): a merge
    // re-inserting a previously DV-deleted key lands as a fresh insert
    // — the old row stays hidden behind its (file, rowPos) entry
    Io.tableDeleteWhereDv(spark, t, col("k") === 7) // v3
    assert(Io.readTableVersion(spark, t, 3L)
      .filter(col("k") === 7).count() == 0)
    val v4 = Io.tableMerge(spark, t, Seq((7L, 777L)).toDF("k", "v"), "k")
    assert(v4 == 4L)
    val re = Io.readTableVersion(spark, t, 4L).filter(col("k") === 7)
    assert(re.count() == 1 && re.select("v").head().getLong(0) == 777L,
      "re-inserted key must serve the fresh row, not the deleted one")
    // the pre-merge version still hides the key (time-travel isolation)
    assert(Io.readTableVersion(spark, t, 3L)
      .filter(col("k") === 7).count() == 0)
    // a merge UPDATING a key whose file carries OTHER rows' DV entries
    // must keep those entries effective: delete k=9 (same file as 10),
    // then merge-update k=10 — k=9 must stay hidden, and the carried
    // DV entry for the rewritten file is inert
    Io.tableDeleteWhereDv(spark, t, col("k") === 9) // v5
    val v6 = Io.tableMerge(spark, t, Seq((10L, 111L)).toDF("k", "v"), "k")
    assert(v6 == 6L)
    val m6 = Io.readTableVersion(spark, t, 6L)
    assert(m6.filter(col("k") === 9).count() == 0,
      "a merge rewrite must not resurrect a DV-deleted row")
    assert(m6.filter(col("k") === 10).select("v").head().getLong(0) == 111L)
  }

  test("round-12 MERGE × stats: the sidecar carries, rewritten files " +
      "get fresh bounds, skipping stays exact") {
    import spark.implicits._
    val t = s"$tmp/mergestats"
    Io.tableAppendStats((1L to 20L).map(k => (k, k * 10L)).toDF("k", "v")
      .repartitionByRange(2, col("k")), t, "k")
    Io.tableMerge(spark, t, Seq((3L, 999L), (100L, 1000L)).toDF("k", "v"), "k")
    val st = Io.readStatsFile(spark, t, 1L)
    assert(st.nonEmpty)
    assert(st.values.exists(_._2 == 100L),
      "rewritten file's fresh stats must cover the inserted k=100")
    val skip = Io.readTableVersionSkipping(spark, t, 1L, "k", 11L, 21L)
    assert(skip.count() == 10)
  }

  test("round-12 DV hardening: OPTIMIZE materializes deletes instead of " +
      "resurrecting them; RESTORE carries the target's DV sidecar both " +
      "ways; appends keep carrying") {
    import spark.implicits._
    val t = s"$tmp/dvharden"
    Io.tableAppend((1L to 20L).toDF("k").repartitionByRange(2, col("k")), t)
    Io.tableDeleteWhereDv(spark, t, col("k") === 3) // v1: DV-only
    // (1) generic OPTIMIZE on the DV-carrying HEAD: the packed content
    // is the MOR view (19 rows, no k=3) and the commit is DV-free —
    // the raw-file rewrite would have resurrected k=3 permanently
    assert(Io.tableOptimize(spark, t, 1) == 2L)
    assert(!new java.io.File(s"$t/_commits/00000002.dv").exists(),
      "optimize must commit DV-free")
    assert(Io.readTableVersion(spark, t, 2L).count() == 19)
    assert(Io.readTableVersion(spark, t, 2L)
      .filter(col("k") === 3).count() == 0)
    // (2) RESTORE back to the DV-carrying v1: the restored commit must
    // carry v1's sidecar — content ≡ v1 (19 rows), not its raw files (20)
    assert(Io.tableRestore(spark, t, 1L) == 3L)
    assert(new java.io.File(s"$t/_commits/00000003.dv").exists(),
      "restore must reproduce the target version's DV sidecar")
    assert(Io.readTableVersion(spark, t, 3L).count() == 19)
    assert(Io.readTableVersion(spark, t, 3L)
      .filter(col("k") === 3).count() == 0)
    // (3) and RESTORE to the DV-FREE v0 from the DV-carrying HEAD must
    // clear the sidecar — deletes roll back with the content
    assert(Io.tableRestore(spark, t, 0L) == 4L)
    assert(!new java.io.File(s"$t/_commits/00000004.dv").exists(),
      "restore to a DV-free version must not inherit HEAD's sidecar")
    assert(Io.readTableVersion(spark, t, 4L).count() == 20)
  }

  test("round-12 stats × DV composition: DV deletes, OPTIMIZE and " +
      "RESTORE carry the stats sidecar; skipping reads stay DV-correct") {
    import spark.implicits._
    val t = s"$tmp/dvstats"
    // 2 range files (k 1..10, 11..20) with commit stats on k
    Io.tableAppendStats(
      (1L to 20L).toDF("k").repartitionByRange(2, col("k")), t, "k")
    // DV-path delete (1 of 10 rows in file 1): stats must carry so the
    // skipping read still plans — and must NOT serve the deleted row
    Io.tableDeleteWhereDv(spark, t, col("k") === 3) // v1
    assert(new java.io.File(s"$t/_commits/00000001.stats").exists(),
      "DV delete must carry the stats sidecar")
    val skip1 = Io.readTableVersionSkipping(spark, t, 1L, "k", 1L, 11L)
    assert(skip1.count() == 9 && skip1.filter(col("k") === 3).count() == 0)
    // count the DATA files the connector's scan plans (its pruned
    // file list) instead of input_file_name(), which only sees files
    // that still hold a row after the residual filter
    def scanned(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.relation.table.properties().get("graft.numFiles").toInt
      }.sum
    assert(scanned(skip1) == 1, "stats pruning must still skip file 2")
    // COW-fallback delete (6 of 9 live rows in file 1): the rewritten
    // file gets FRESH stats, the carried file keeps its entry
    Io.tableDeleteWhereDv(spark, t, col("k") <= 7) // v2
    val st2 = Io.readStatsFile(spark, t, 2L)
    assert(st2.size == 2, s"2 files × 1 col expected, got ${st2.size}")
    assert(st2.values.exists(_._1 == 8L),
      "rewritten file's fresh stats must start at the surviving min k=8")
    val skip2 = Io.readTableVersionSkipping(spark, t, 2L, "k", 1L, 11L)
    assert(skip2.count() == 3) // 8, 9, 10
    // stats appends onto the DV-carrying table keep both sidecars
    Io.tableAppendStats(Seq(100L).toDF("k"), t, "k") // v3
    assert(new java.io.File(s"$t/_commits/00000003.dv").exists(),
      "stats append must carry the DV sidecar (round-11 ADVICE)")
    assert(Io.readTableVersion(spark, t, 3L).count() == 14)
    val skip3 = Io.readTableVersionSkipping(spark, t, 3L, "k", 90L, 200L)
    assert(skip3.count() == 1 && scanned(skip3) == 1)
    // OPTIMIZE rebuilds stats for the packed file, commits DV-free
    assert(Io.tableOptimize(spark, t, 1) == 4L)
    val st4 = Io.readStatsFile(spark, t, 4L)
    assert(st4.size == 1 && st4.values.head == (8L, 100L))
    // RESTORE to v2 reproduces both sidecars
    assert(Io.tableRestore(spark, t, 2L) == 5L)
    assert(Io.readStatsFile(spark, t, 5L) == st2)
    assert(Io.readTableVersion(spark, t, 5L).count() == 13)
  }

  test("round-14 MOR DV payload bound: a bulk MOR UPDATE (WriteDelta) " +
      "materializes over-threshold files in a follow-up commit and " +
      "CONSOLIDATES surviving DV state; under-threshold stays pure") {
    import spark.implicits._
    val wh = s"$tmp/morbound_wh"
    spark.conf.set("spark.sql.catalog.gmb", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmb.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmb.db")
    // 2 range-clustered files: k 1..100 and k 101..200 (translatable
    // MOR DELETEs route through tableDeleteWhereDv, which already has
    // the fallback — UPDATE/MERGE take WriteDelta, the path this test
    // pins)
    (1L to 200L).toDF("k").withColumn("v", col("k") * 10)
      .repartitionByRange(2, col("k"))
      .createOrReplaceTempView("__mb_src")
    spark.sql("CREATE TABLE gmb.db.t AS SELECT * FROM __mb_src")
    val t = s"$wh/db/t"
    val v0Files = Io.commitEntries(spark, t, 0L).toSet
    assert(v0Files.size == 2)
    spark.conf.set("graft.dml.mode", "mor")
    // the fixture's files are 100 rows — drop the triviality floor so
    // the fraction threshold is what the test exercises
    spark.conf.set("graft.dml.mor.minDvEntries", "10")
    try {
      // bulk MOR UPDATE: 90% of file 1's rows → 90 DV entries on it →
      // the follow-up commit must rewrite file 1 and consolidate
      spark.sql("UPDATE gmb.db.t SET v = 0 WHERE k <= 90")
      val head = Io.tableVersion(spark, t)
      assert(head == 2L,
        s"expected delta commit v1 + materialize commit v2, got v$head")
      assert(Io.dvDirsOf(spark, t, 1L).nonEmpty,
        "the delta commit itself carries the statement's DV dir")
      assert(Io.dvDirsOf(spark, t, 2L).isEmpty,
        "consolidation must drop the materialized file's entries")
      val v2Files = Io.commitEntries(spark, t, 2L).toSet
      assert(v2Files.intersect(v0Files).size == 1,
        "the clean file must carry by reference")
      assert(spark.sql(
        "SELECT count(*), sum(CASE WHEN k <= 90 THEN v ELSE 0 END) " +
          "FROM gmb.db.t").head().toSeq == Seq(200L, 0L))
      // history intact: v0 original values, v1 ≡ v2 content (MOR cut)
      assert(Io.readTableVersion(spark, t, 0L)
        .filter(col("k") === 1).head().getLong(1) == 10L)
      assert(Io.readTableVersion(spark, t, 1L)
        .filter(col("v") === 0).count() == 90L)
      // under-threshold UPDATE stays pure MOR: 5 of file 2's 100 rows
      spark.sql("UPDATE gmb.db.t SET v = 1 WHERE k > 100 AND k <= 105")
      assert(Io.tableVersion(spark, t) == 3L,
        "an under-threshold update is ONE delta commit")
      assert(Io.dvDirsOf(spark, t, 3L).nonEmpty)
      assert(v2Files.subsetOf(Io.commitEntries(spark, t, 3L).toSet),
        "no file rewritten under the threshold")
      // the consolidation is PARTIAL: a live entry on a kept file
      // survives another file's materialization. 1-of-10 on the
      // k91..100 rewrite (pure delta, v4) ...
      spark.sql("UPDATE gmb.db.t SET v = 2 WHERE k = 95")
      assert(Io.tableVersion(spark, t) == 4L)
      // ... then push file 2 over the threshold (75 more of its 95
      // live rows → 80/100 deleted): delta v5 + materialize v6
      spark.sql("UPDATE gmb.db.t SET v = 3 WHERE k > 105 AND k <= 180")
      val h3 = Io.tableVersion(spark, t)
      assert(h3 == 6L, "over-threshold again: delta + materialize")
      assert(Io.dvDirsOf(spark, t, 6L).size == 1,
        "kept-file entries must survive into ONE consolidated dir")
      // content: exactly one live copy of k=95 with the v4 value
      assert(spark.sql("SELECT v FROM gmb.db.t WHERE k = 95")
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
      assert(spark.sql("SELECT count(*) FROM gmb.db.t")
        .head().getLong(0) == 200L)
      assert(spark.sql(
        "SELECT count(*) FROM gmb.db.t WHERE v = 3").head().getLong(0)
        == 75L)
    } finally {
      spark.conf.unset("graft.dml.mode")
      spark.conf.unset("graft.dml.mor.minDvEntries")
    }
  }
}
