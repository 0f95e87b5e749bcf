package graftbench

import java.time.Instant

/** Stateless seeded randomness: every generated value is a pure function
  * of (seed, stream, index), so executors can build the rows of a table
  * in parallel while the driver derives the very same records for the
  * reference, and the same seed always gives the same inputs.
  */
object Rng {
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xC2B2AE3D27D4EB4FL + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Math.floorMod(mix(seed, stream, i), n)
}

/** Row of the events schema graft's TSDB layer reads. */
final case class EventRow(event_id: Long, ts: Instant, user_id: Long,
    event_type: String, value: Double, props: String)

/** Row of the ingest commit-log table: labels already strings. */
final case class IngestRow(event_id: Long, ts: Instant, usr: String,
    typ: String, value: Double)

final case class DocRow(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)

final case class VecRow(vec_id: Long, embedding: Array[Float], label: Int)

/** Input sizes, in one place. */
object Sizes {
  // serve: nUsr x 5 event types series, samples spread over 30 days
  val serveUsers = 2000
  val serveSamples = 200000L
  // ingest: initial users x 5 types, then per batch
  val ingestUsers0 = 1000
  val ingestBatch = 5000
  val ingestNewUsers = 2            // 2 users x 5 types = 10 new series per batch
  val ingestNewSamples = 100        // 2 % of a batch lands on the new series
  val ingestQueries = 3
  val compactEvery = 3
  val minCompactions = 2
  // curate: documents (and 64-dim vectors) per shard
  val curateDocs = 1000
  val warmDocs = 100
}

object ServeGen {
  val Types: Array[String] = Array("click", "view", "purchase", "error", "signup")
  val T0Sec = 1704067200L // 2024-01-01T00:00:00Z
  val Days = 30
  val DaySec = 86400L

  def nSeries(nUsr: Int): Int = nUsr * Types.length
  def seriesOf(seed: Long, i: Long, nUsr: Int): Int = Rng.below(seed, 1, i, nSeries(nUsr)).toInt
  /** Event time in µs. The +250 ms offset keeps every sample off whole
    * seconds, so no sample sits on a window or range boundary (query
    * times are whole seconds) and open/closed edges cannot matter. */
  def tsUs(seed: Long, i: Long): Long =
    (T0Sec + Rng.below(seed, 2, i, Days * DaySec)) * 1000000L + 250000L
  def value(seed: Long, i: Long): Int = Rng.below(seed, 3, i, 1000).toInt

  def row(seed: Long, nUsr: Int)(i: Long): EventRow = {
    val s = seriesOf(seed, i, nUsr)
    val us = tsUs(seed, i)
    EventRow(i, Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L),
      (s / Types.length).toLong, Types(s % Types.length), value(seed, i).toDouble,
      s"""{"k": ${Rng.below(seed, 4, i, 100)}}""")
  }
}

object IngestGen {
  import Sizes._
  val Types: Array[String] = ServeGen.Types
  val T0Sec: Long = ServeGen.T0Sec

  def usr(u: Int): String = f"u$u%06d"
  /** Users that exist once batch `b` has landed. */
  def usersAfter(b: Int): Int = ingestUsers0 + (b + 1) * ingestNewUsers
  def newUserRange(b: Int): (Int, Int) =
    (ingestUsers0 + b * ingestNewUsers, ingestUsers0 + (b + 1) * ingestNewUsers)

  /** (user, type index) of sample j of batch b: the first ingestNewSamples
    * samples cycle over the batch's new series, the rest hit series that
    * existed before the batch. */
  def seriesOf(seed: Long, b: Int, j: Int): (Int, Int) = {
    val nt = Types.length
    if (j < ingestNewSamples) {
      val k = j % (ingestNewUsers * nt)
      (newUserRange(b)._1 + k / nt, k % nt)
    } else {
      val existing = (ingestUsers0 + b * ingestNewUsers) * nt
      val s = Rng.below(seed, 10 + b, j, existing).toInt
      (s / nt, s % nt)
    }
  }

  def row(seed: Long, b: Int)(j: Long): IngestRow = {
    val (u, t) = seriesOf(seed, b, j.toInt)
    val us = ((T0Sec + b * 3600L + Rng.below(seed, 20 + b, j, 3600)) * 1000000L) + 250000L
    IngestRow(b.toLong * ingestBatch + j,
      Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L),
      usr(u), Types(t), Rng.below(seed, 30 + b, j, 1000).toDouble)
  }
}

/** One curate shard: documents with planted exact and near duplicates,
  * and embeddings keyed by the same ids with planted near-identical
  * vectors. Everything derives from (seed, shard). */
final case class Shard(docs: Array[DocRow], vecs: Array[VecRow],
    exactOf: Map[Long, Long], nearOf: Map[Long, Long], twinOf: Map[Long, Long])

object CurateGen {
  val Langs: Array[String] = Array("en", "de", "fr", "es")
  val Dim = 64

  def vocab(seed: Long): Array[String] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val words = new java.util.LinkedHashSet[String]()
    var i = 0L
    while (words.size < 2000) {
      val len = 3 + Rng.below(seed, 100, i, 6).toInt
      val w = (0 until len).map(k => letters(Rng.below(seed, 101, i * 16 + k, 26).toInt)).mkString
      if (w != "the" && w != "a") words.add(w)
      i += 1
    }
    words.toArray(new Array[String](0))
  }

  def shard(seed: Long, shardNo: Int, nDocs: Int): Shard = {
    val voc = vocab(seed)
    val rnd = new java.util.SplittableRandom(Rng.mix(seed, 200, shardNo))
    val texts = new Array[String](nDocs)
    val exactOf = Map.newBuilder[Long, Long]
    val nearOf = Map.newBuilder[Long, Long]
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Int]
    def freshText(): String = {
      val n = 10 + rnd.nextInt(111)
      (0 until n).map { _ =>
        val r = rnd.nextInt(100)
        if (r < 5) "the" else if (r < 7) "a" else voc(rnd.nextInt(voc.length))
      }.mkString(" ")
    }
    for (i <- 0 until nDocs) {
      val r = rnd.nextInt(100)
      if (i >= 10 && r < 5) {
        val src = fresh(rnd.nextInt(fresh.size))
        texts(i) = texts(src); exactOf += (i.toLong -> src.toLong)
      } else if (i >= 10 && r < 15) {
        val src = fresh(rnd.nextInt(fresh.size))
        texts(i) = nearDup(texts(src), rnd, voc); nearOf += (i.toLong -> src.toLong)
      } else {
        texts(i) = freshText(); fresh += i
      }
    }
    val docs = Array.tabulate(nDocs) { i =>
      DocRow(i.toLong, texts(i), Langs(rnd.nextInt(Langs.length)),
        s"src${rnd.nextInt(20)}", texts(i).length.toLong)
    }
    val vecs = new Array[VecRow](nDocs)
    val twinOf = Map.newBuilder[Long, Long]
    for (i <- 0 until nDocs) {
      if (i >= 10 && rnd.nextInt(100) < 5) {
        val src = rnd.nextInt(i)
        val v = vecs(src).embedding.clone()
        // near-identical: one coordinate nudged by ~1e-6 of the norm
        v(rnd.nextInt(Dim)) += 1e-6f
        vecs(i) = VecRow(i.toLong, v, rnd.nextInt(4)); twinOf += (i.toLong -> src.toLong)
      } else {
        vecs(i) = VecRow(i.toLong,
          Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat * 0.2f), rnd.nextInt(4))
      }
    }
    Shard(docs, vecs, exactOf.result(), nearOf.result(), twinOf.result())
  }

  /** A near duplicate: one small edit whose 3-gram Jaccard to the source
    * stays well above 0.8. */
  private def nearDup(src: String, rnd: java.util.SplittableRandom, voc: Array[String]): String = {
    val w = src.split(" ").toBuffer
    rnd.nextInt(3) match {
      case 0 => w += voc(rnd.nextInt(voc.length))
      case 1 => w.remove(w.length - 1 - rnd.nextInt(2))
      case _ => w(w.length - 1 - rnd.nextInt(3)) = voc(rnd.nextInt(voc.length))
    }
    val out = w.mkString(" ")
    if (Ref.jaccard3(src, out) >= 0.85) out else src + " " + voc(rnd.nextInt(voc.length))
  }
}
