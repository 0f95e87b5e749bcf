package graftbench

import scala.collection.mutable

/** A label matcher, kept separately from graft's own matcher type so the
  * reference never shares code with the system under test. */
final case class M(name: String, op: String, value: String) {
  def test(v: String): Boolean = op match {
    case "="  => v == value
    case "!=" => v != value
    case "=~" => v.matches(value)
    case "!~" => !v.matches(value)
    case "<"  => v.compareTo(value) < 0
    case ">"  => v.compareTo(value) > 0
    case "<=" => v.compareTo(value) <= 0
    case ">=" => v.compareTo(value) >= 0
  }
  def render: String = s"""$name$op"$value""""
}

object M {
  def render(ms: Seq[M]): String = ms.map(_.render).mkString(", ")
  def matches(ms: Seq[M], labels: Map[String, String]): Boolean =
    ms.forall(m => m.test(labels.getOrElse(m.name, "")))
}

/** Independent references, computed from the generator's records. */
object Ref {

  // ---- text -------------------------------------------------------------

  /** Distinct word 3-grams of a space-separated text. */
  def shingles(text: String): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length < 3) Set.empty
    else (0 to w.length - 3).map(i => w(i) + " " + w(i + 1) + " " + w(i + 2)).toSet
  }

  def jaccard3(a: String, b: String): Double = {
    val sa = shingles(a); val sb = shingles(b)
    val inter = sa.count(sb.contains)
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Every pair of documents with 3-gram Jaccard >= t, found through an
    * inverted shingle index (pairs sharing no shingle have Jaccard 0).
    * graft compares the Jaccard rounded to 4 decimals; for sets of fewer
    * than 4 000 shingles no ratio lies within 5e-5 below 0.8, so the
    * rounding cannot change which pairs pass. */
  def jaccardPairs(docs: Array[DocRow], t: Double): Seq[(Long, Long, Double)] = {
    val sh = docs.map(d => shingles(d.text))
    val inv = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    sh.zipWithIndex.foreach { case (s, i) => s.foreach(g => inv.getOrElseUpdate(g, mutable.ArrayBuffer()) += i) }
    val out = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    for (i <- docs.indices) {
      val cands = mutable.HashSet.empty[Int]
      sh(i).foreach(g => inv(g).foreach(j => if (j > i) cands += j))
      cands.foreach { j =>
        val inter = sh(i).count(sh(j).contains)
        val jac = inter.toDouble / (sh(i).size + sh(j).size - inter)
        if (jac >= t) out += ((docs(i).doc_id, docs(j).doc_id, jac))
      }
    }
    out.toSeq
  }

  /** doc -> min doc id of its connected component over `pairs`. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.map(n => n -> find(n)).toMap
  }

  def round4(d: Double): Double =
    BigDecimal(d.toString).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  final case class Quality(nWords: Int, nUniq: Int, stopRatio: Double,
      uniqRatio: Double, score: Double)

  def quality(text: String): Quality = {
    val w = text.split(" ", -1)
    val n = w.length
    val uniq = w.distinct.length
    val stop = w.count(x => x == "the" || x == "a").toDouble / n
    val score = math.min(1.0, uniq.toDouble / n * 0.5 +
      (if (n >= 20 && n <= 400) 0.3 else 0.0) +
      (if (stop >= 0.01 && stop <= 0.2) 0.2 else 0.0))
    Quality(n, uniq, round4(stop), round4(uniq.toDouble / n), round4(score))
  }

  /** Expected curation-pipeline output: lang -> (n_docs, sum_chars, min_id, max_id). */
  def pipeline(docs: Array[DocRow], clusters: Map[Long, Long]): Map[String, (Long, Long, Long, Long)] = {
    val exactKeep = docs.groupBy(_.text).values.map(_.map(_.doc_id).min).toSet
    docs.filter { d =>
      val q = quality(d.text)
      exactKeep(d.doc_id) &&
        clusters.get(d.doc_id).forall(_ == d.doc_id) &&
        q.nWords >= 20 && q.nWords <= 1000 && q.stopRatio <= 0.3 && q.uniqRatio >= 0.3
    }.groupBy(_.lang).map { case (l, ds) =>
      l -> (ds.length.toLong, ds.map(_.n_chars).sum, ds.map(_.doc_id).min, ds.map(_.doc_id).max)
    }
  }

  /** The exact-dedup output as a sorted list of (keep_id, group size). */
  def exactGroups(docs: Array[DocRow]): Seq[(Long, Long)] =
    docs.groupBy(_.text).values.map(g => (g.map(_.doc_id).min, g.length.toLong)).toSeq.sorted
}

/** Serve reference: the generated events held per series, sorted by time. */
final class ServeRef(seed: Long, val nUsr: Int, nSamples: Long) {
  import ServeGen._
  val nSer: Int = nSeries(nUsr)
  val offsets: Array[Int] = new Array[Int](nSer + 1)
  val ts: Array[Long] = new Array[Long](nSamples.toInt)      // epoch µs
  val vals: Array[Int] = new Array[Int](nSamples.toInt)

  locally {
    val cnt = new Array[Int](nSer)
    var i = 0L
    while (i < nSamples) { cnt(seriesOf(seed, i, nUsr)) += 1; i += 1 }
    for (s <- 0 until nSer) offsets(s + 1) = offsets(s) + cnt(s)
    val fill = offsets.clone()
    i = 0L
    while (i < nSamples) {
      val s = seriesOf(seed, i, nUsr)
      ts(fill(s)) = tsUs(seed, i); vals(fill(s)) = value(seed, i); fill(s) += 1
      i += 1
    }
    for (s <- 0 until nSer) {
      val idx = (offsets(s) until offsets(s + 1)).sortBy(ts(_))
      val t2 = idx.map(ts(_)).toArray; val v2 = idx.map(vals(_)).toArray
      System.arraycopy(t2, 0, ts, offsets(s), t2.length)
      System.arraycopy(v2, 0, vals, offsets(s), v2.length)
    }
  }

  def usr(s: Int): String = (s / Types.length).toString
  def typ(s: Int): String = Types(s % Types.length)

  /** Series (with at least one sample) matched by the selector. */
  def matching(ms: Seq[M]): IndexedSeq[Int] =
    (0 until nSer).filter(s => offsets(s + 1) > offsets(s) &&
      M.matches(ms, Map("usr" -> usr(s), "typ" -> typ(s))))

  /** Sample index range of series s with time in [loUs, hiUs]. */
  def window(s: Int, loUs: Long, hiUs: Long): (Int, Int) = {
    def lower(x: Long): Int = {
      var lo = offsets(s); var hi = offsets(s + 1)
      while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < x) lo = m + 1 else hi = m }
      lo
    }
    (lower(loUs), lower(hiUs + 1))
  }
}
