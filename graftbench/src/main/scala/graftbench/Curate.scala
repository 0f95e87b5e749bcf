package graftbench

import graft.dedup.Dedup
import graft.operators.Curation
import graft.text.TextAnalysis
import org.apache.spark.sql.Row

import java.io.File
import scala.collection.mutable

/** Batch training-data curation: each job takes a fresh shard through the
  * dedup, quality and semantic-dedup stages and the curation pipeline,
  * then clears graft's caches so every shard is processed cold. */
object Curate {

  /** A generated shard written where graft reads it, with its references. */
  final class Prepared(val dir: String, val shard: Shard) {
    val clusters: Map[Long, Long] =
      Ref.components(Ref.jaccardPairs(shard.docs, 0.8).map { case (a, b, _) => (a, b) })
    val exact: Seq[(Long, Long)] = Ref.exactGroups(shard.docs)
    val quality: Map[Long, Ref.Quality] = shard.docs.map(d => d.doc_id -> Ref.quality(d.text)).toMap
    val pipeline: Map[String, (Long, Long, Long, Long)] = Ref.pipeline(shard.docs, clusters)
  }

  def prepare(b: Bench, shardNo: Int, nDocs: Int): Prepared = {
    val spark = b.spark
    import spark.implicits._
    val shard = CurateGen.shard(b.seed, shardNo, nDocs)
    val dir = new File(b.dataDir, s"shard$shardNo").getPath
    shard.docs.toSeq.toDF().write.parquet(s"$dir/documents.parquet")
    shard.vecs.toSeq.toDF().write.parquet(s"$dir/embeddings.parquet")
    new Prepared(dir, shard)
  }

  /** One job; returns its time in ms (the sum of its ops' net times). */
  def job(b: Bench, p: Prepared): Double = {
    val spark = b.spark
    val dir = p.dir
    val first = b.ops.size
    b.op("exact")(b.tr.span("dedup.exact")(Dedup.exact(spark, dir).collect())) { rows =>
      val got = rows.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n"))).toSeq.sorted
      if (got == p.exact) None else Some(s"exact groups: got ${got.size}, want ${p.exact.size}")
    }
    b.op("clusters")(b.tr.span("dedup.clusters")(Dedup.clusters(spark, dir).collect())) { rows =>
      val got = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      val missed = p.shard.nearOf.count { case (d, s) => got.get(d).isEmpty || got.get(d) != got.get(s) }
      if (missed > 0) Some(s"$missed planted near-duplicates not clustered with their source")
      else if (got != p.clusters) Some(s"clusters: got ${got.size} docs, want ${p.clusters.size}")
      else None
    }
    b.op("quality")(b.tr.span("text.quality")(TextAnalysis.quality(spark, dir).collect())) { rows =>
      val bad = rows.count { r =>
        val q = p.quality(r.getAs[Long]("doc_id"))
        r.getAs[Int]("n_words") != q.nWords || r.getAs[Int]("n_uniq") != q.nUniq ||
          math.abs(r.getAs[Double]("quality") - q.score) > 1.5e-4
      }
      if (rows.length != p.shard.docs.length) Some(s"quality rows: got ${rows.length}")
      else if (bad > 0) Some(s"$bad quality rows differ") else None
    }
    b.op("semantic")(b.tr.span("dedup.semantic")(Dedup.semanticDedup(spark, dir).collect())) { rows =>
      val removed = rows.map(_.getAs[Long]("vec_id")).toSet
      val missed = p.shard.twinOf.keys.count(id => !removed(id))
      if (missed > 0) Some(s"$missed planted near-identical vectors not removed") else None
    }
    b.op("pipeline")(b.tr.span("operators.pipeline")(Curation.pipeline(spark, dir).collect())) { rows =>
      val got = rows.map(r => r.getAs[String]("lang") -> ((r.getAs[Long]("n_docs"),
        r.getAs[Long]("sum_chars"), r.getAs[Long]("min_id"), r.getAs[Long]("max_id")))).toMap
      if (got == p.pipeline) None else Some(s"pipeline: got $got, want ${p.pipeline}")
    }
    val ms = b.ops.drop(first).map(_.netMs).sum
    b.peakPinnedB = math.max(b.peakPinnedB, b.pinnedBytes())
    b.clearCaches()
    ms
  }

  final class Workload(b: Bench) extends graftbench.Workload {
    private val jobMs = mutable.ArrayBuffer.empty[Double]
    private var warmShard: Prepared = _

    def prepare(): Unit = warmShard = Curate.prepare(b, -1, Sizes.warmDocs)
    def setup(): Unit = b.tr.span("setup.warmup")(job(b, warmShard))
    /** Nothing beyond the set-up's job: every measured job is cold by design. */
    def warm(): Unit = ()

    /** At least two jobs: one job's time alone is too noisy a median. */
    def measure(): Unit = {
      var n = 0
      while (jobMs.sum < b.seconds * 1000 || jobMs.size < 2) {
        jobMs += job(b, Curate.prepare(b, n, Sizes.curateDocs))
        n += 1
      }
    }

    def e2e: Map[String, Double] =
      Map("throughput_per_s" -> jobMs.size * Sizes.curateDocs / (jobMs.sum / 1000),
        "p50_ms" -> Stats.median(jobMs.toSeq))

    def extras: Map[String, Any] = Map(
      "curate.jobs" -> jobMs.size,
      "curate.job_ms" -> jobMs.toSeq,
      "curate.docs_per_s" -> jobMs.size * Sizes.curateDocs / (jobMs.sum / 1000),
      "curate.job_p50_s" -> Stats.median(jobMs.toSeq) / 1000)
  }
}
