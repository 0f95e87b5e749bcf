package graftbench

import graft.index.{IndexSql, IndexStore, TagIndex}
import graft.sources.Io
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable

/** Writes beside reads: batches land in a commit-log table and an index
  * store, store queries follow each batch, compaction every few batches. */
object Ingest {
  import IngestGen._
  import Sizes._

  /** Labels and sample count of every series landed so far. */
  final class IngestRef {
    val samples: mutable.HashMap[(Int, Int), Long] = mutable.HashMap.empty
    def land(seed: Long, b: Int): Unit = (0 until ingestBatch).foreach { j =>
      val k = seriesOf(seed, b, j)
      samples(k) = samples.getOrElse(k, 0L) + 1
    }
    def matching(ms: Seq[M]): Set[(Int, Int)] =
      samples.keySet.filter { case (u, t) => M.matches(ms, Map("usr" -> usr(u), "typ" -> Types(t))) }.toSet
  }

  def batchRows(seed: Long, b: Int): Seq[IngestRow] = (0L until ingestBatch).map(IngestGen.row(seed, b))

  /** Selector of exactly the series batch b creates. */
  def newSeriesSelector(b: Int): Seq[M] = {
    val (lo, hi) = newUserRange(b)
    Seq(M("usr", ">=", usr(lo)), M("usr", "<", usr(hi)))
  }

  /** A selector of the given form (0–2) on a random existing user. */
  def randomSelector(r: SplittableRandom, users: Int, form: Int): Seq[M] = {
    val u = usr(r.nextInt(users))
    form % 3 match {
      case 0 => Seq(M("usr", "=", u))
      case 1 => Seq(M("usr", "=~", u.dropRight(1) + ".*"), M("typ", "=", Types(r.nextInt(Types.length))))
      case _ => Seq(M("usr", "=~", u.dropRight(1) + ".*"))
    }
  }

  final class Workload(b: Bench) extends graftbench.Workload {
    private var samplesLanded = 0L
    private var writeMs = 0.0
    private val visibleMs = mutable.ArrayBuffer.empty[Double]
    private val segsBeforeCompact = mutable.ArrayBuffer.empty[Int]
    private var compactions = 0
    private var storeDir: File = _
    private var tableDir: File = _

    def prepare(): Unit = ()

    private val warmRef = new IngestRef
    private lazy val warmR = new SplittableRandom(b.seed)
    private lazy val warmTable = new File(b.dataDir, "warm/table").getPath
    private lazy val warmStore = new File(b.dataDir, "warm/store").getPath

    /** The set-up's untimed op of each kind: one batch through append,
      * flush, a store query and a compaction, into a table and store of
      * their own. */
    def setup(): Unit = b.tr.span("setup.warmup") {
      cycle(warmRef, warmTable, warmStore, 0, b.seed + 1000, queries = 1, r = warmR)
      compact(warmStore)
    }

    /** One more untimed batch, with all its queries, and a compaction that
      * merges two segments, so the JIT has seen every path the loop takes. */
    def warm(): Unit = {
      cycle(warmRef, warmTable, warmStore, 1, b.seed + 1000, ingestQueries, warmR)
      compact(warmStore)
    }

    private def segments(store: String): Int =
      Option(new File(store).listFiles()).getOrElse(Array.empty[File]).count(_.getName.startsWith("seg="))

    private def compact(store: String): Unit =
      b.op("compact")(b.tr.span("index.compact")(IndexStore.compact(b.spark, store))) { _ =>
        val n = segments(store)
        if (n == 1) None else Some(s"segments after compact: $n")
      }

    /** One batch: append, flush, then store queries. Returns append + flush ms. */
    private def cycle(ref: IngestRef, table: String, store: String, bNo: Int, seed: Long,
        queries: Int, r: SplittableRandom): Double = {
      val spark = b.spark
      import spark.implicits._
      val batch: DataFrame = batchRows(seed, bNo).toDF()
      val start = System.currentTimeMillis()
      b.op("append")(b.tr.span("sources.append")(Io.tableAppend(batch, table))) { v =>
        if (v == bNo) None else Some(s"version $v, want $bNo")
      }
      b.op("flush")(b.tr.span("index.flush")(
        IndexStore.flushBatch(new TagIndex(batch, Seq("usr", "typ")), store, bNo.toLong)))(_ => None)
      val writeMs = b.ops.takeRight(2).map(_.netMs).sum
      ref.land(seed, bNo)
      for (q <- 0 until queries) {
        // forms cycle over the run, so every seed queries the same mix
        val ms = if (q == 0) newSeriesSelector(bNo)
          else randomSelector(r, usersAfter(bNo), bNo * (queries - 1) + q - 1)
        val res = b.op("query") {
          val tsids = b.tr.span("index.store_resolve")(
            IndexStore.resolvePostings(spark, store, IndexSql.parseSelector(M.render(ms))).collect())
          val rows = b.tr.span("sources.read") {
            new TagIndex(Io.readTableVersion(spark, table, bNo.toLong), Seq("usr", "typ")).labeled
              .filter(col("tsid").isin(tsids.map(_.getLong(0)): _*)).collect()
          }
          (tsids, rows)
        } { case (tsids, rows) =>
          val want = ref.matching(ms)
          val got = rows.map(r => (r.getAs[String]("usr"), r.getAs[String]("typ"))).toSet
          val wantLabels = want.map { case (u, t) => (usr(u), Types(t)) }
          val wantRows = want.toSeq.map(ref.samples).sum
          if (tsids.length != want.size) Some(s"postings: got ${tsids.length}, want ${want.size}")
          else if (got != wantLabels) Some(s"fetched series differ from postings reference")
          else if (rows.length != wantRows) Some(s"samples: got ${rows.length}, want $wantRows")
          else None
        }
        if (q == 0 && b.measuring && res.isDefined)
          visibleMs += (b.ops.last.endMs - start).toDouble
      }
      writeMs
    }

    def measure(): Unit = {
      tableDir = new File(b.dataDir, "table"); storeDir = new File(b.dataDir, "store")
      val ref = new IngestRef
      val r = new SplittableRandom(Rng.mix(b.seed, 400, 0))
      var bNo = 0
      while (b.measuredMs < b.seconds * 1000 || compactions < minCompactions) {
        writeMs += cycle(ref, tableDir.getPath, storeDir.getPath, bNo, b.seed, ingestQueries, r)
        samplesLanded += ingestBatch
        bNo += 1
        if (bNo % compactEvery == 0) {
          segsBeforeCompact += segments(storeDir.getPath)
          compact(storeDir.getPath); compactions += 1
        }
      }
    }

    def e2e: Map[String, Double] =
      Map("throughput_per_s" -> samplesLanded / (writeMs / 1000),
        "p50_ms" -> Stats.median(b.measured("query")))

    def extras: Map[String, Any] = {
      val q = b.measured("query")
      val (storeB, _) = Bench.du(storeDir)
      val (tableB, tableFiles) = Bench.du(tableDir)
      Map(
        "ingest.batches" -> samplesLanded / ingestBatch,
        "ingest.compactions" -> compactions,
        "ingest.samples_per_s" -> samplesLanded / (writeMs / 1000),
        "ingest.visible_p50_ms" -> Stats.medianOpt(visibleMs.toSeq),
        "ingest.query_p50_ms" -> Stats.median(q),
        "ingest.query_p90_ms" -> Stats.tail(q, 0.9),
        "ingest.queries" -> q.size,
        "ingest.index_bytes_per_sample" -> storeB.toDouble / samplesLanded,
        "index.store_segments" -> segsBeforeCompact.maxOption.getOrElse(0),
        "index.store_mb" -> storeB / 1048576.0,
        "sources.table_mb" -> tableB / 1048576.0,
        "sources.table_files" -> tableFiles)
    }
  }
}
