package graft

import graft.index.{IndexStore, LabelMatcher, MatchOp, TagIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Seeded randomized cross-checks: Spark operators vs plain-Scala
  * brute-force models, over many generated datasets/matcher sets.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import MatchOp._

  /** The positive form of `m` on the label value `v`. */
  private def positive(v: String, m: LabelMatcher): Boolean = m.op match {
    case Eql | Neq => v == m.value
    case Lss => v < m.value
    case Gtr => v > m.value
    case Lte => v <= m.value
    case Gte => v >= m.value
    case EqlRegex | NeqRegex => v.matches(m.value)
  }

  private def bruteForce(series: Set[(String, String)],
      ms: Seq[LabelMatcher]): Set[(String, String)] = {
    def valueOf(s: (String, String), name: String): String =
      if (name == "usr") s._1 else s._2
    def holds(s: (String, String), m: LabelMatcher): Boolean =
      positive(valueOf(s, m.name), m)
    val (inc, exc) = ms.partition(_.inclusive)
    val base = if (inc.isEmpty) series else series.filter(s => inc.forall(holds(s, _)))
    base.filterNot(s => exc.exists(holds(s, _)))
  }

  test("matcher algebra equals brute force over random datasets") {
    val rnd = new Random(20240812L)
    for (iter <- 1 to 8) {
      import spark.implicits._
      val users = (0 until rnd.between(3, 10)).map(_.toString)
      val types = Seq("click", "view", "error", "signup").take(rnd.between(2, 5))
      val rows = (0 until rnd.between(20, 80)).map { i =>
        (i.toLong, (100L + i * 7).toLong, rnd.nextDouble() * 100,
          users(rnd.nextInt(users.length)), types(rnd.nextInt(types.length)))
      }
      val df = rows.toDF("event_id", "ts_sec", "value", "usr", "typ")
        .withColumn("ts", timestamp_seconds(col("ts_sec")))
      val idx = new TagIndex(df, Seq("usr", "typ"))
      val series = rows.map(r => (r._4, r._5)).toSet

      def randMatcher(): LabelMatcher = {
        val name = if (rnd.nextBoolean()) "usr" else "typ"
        val pool = if (name == "usr") users else types
        val v = pool(rnd.nextInt(pool.length))
        rnd.nextInt(8) match {
          case 0 => LabelMatcher(name, Eql, v)
          case 1 => LabelMatcher(name, Neq, v)
          case 2 => LabelMatcher(name, Lss, v)
          case 3 => LabelMatcher(name, Gtr, v)
          case 4 => LabelMatcher(name, Lte, v)
          case 5 => LabelMatcher(name, Gte, v)
          case 6 => LabelMatcher(name, EqlRegex, pool.take(2).mkString("(", "|", ")"))
          case 7 => LabelMatcher(name, NeqRegex, pool.take(2).mkString("(", "|", ")"))
        }
      }
      val ms = Seq.fill(rnd.between(1, 4))(randMatcher())
      val got = idx.resolveMatchers(ms).select("usr", "typ").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val want = bruteForce(series, ms)
      assert(got == want, s"iter $iter matchers $ms: got $got want $want")
    }
  }

  test("time-pruned resolve and select equal brute force on random ranges") {
    val rnd = new Random(31337L)
    import spark.implicits._
    val rows = (0 until 60).map { i =>
      (i.toLong, rnd.between(0L, 1000L), rnd.nextDouble() * 10,
        rnd.nextInt(4).toString, Seq("click", "view")(rnd.nextInt(2)))
    }
    val df = rows.toDF("event_id", "ts_sec", "value", "usr", "typ")
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
    val idx = new TagIndex(df, Seq("usr", "typ"))
    for (_ <- 1 to 5) {
      val (t1, t2) = {
        val a = rnd.between(0L, 1000L); val b = rnd.between(0L, 1000L)
        (math.min(a, b), math.max(a, b))
      }
      val m = LabelMatcher("typ", Eql, "click")
      // resolve: conservative series-level pruning on [min_ts, max_ts]
      val gotSeries = idx.resolveMatchers(Seq(m),
        Some(timestamp_seconds(lit(t1))), Some(timestamp_seconds(lit(t2))))
        .select("usr", "typ").collect().map(r => (r.getString(0), r.getString(1))).toSet
      val perSeries = rows.filter(_._5 == "click").groupBy(r => (r._4, r._5))
      val wantSeries = perSeries.collect {
        case (k, rs) if rs.map(_._2).min <= t2 && rs.map(_._2).max >= t1 => k
      }.toSet
      assert(gotSeries == wantSeries, s"resolve [$t1,$t2]")
      // select: sample-exact
      val gotIds = idx.select(Seq(m), timestamp_seconds(lit(t1)), timestamp_seconds(lit(t2)))
        .select("event_id").collect().map(_.getLong(0)).toSet
      val wantIds = rows.filter(r => r._5 == "click" && r._2 >= t1 && r._2 <= t2)
        .map(_._1).toSet
      assert(gotIds == wantIds, s"select [$t1,$t2]")
    }
  }

  test("catalog and store resolution equal a plain-Scala matcher evaluator") {
    // a sparse label (`ab`, null on some series), matchers on a label
    // the index does not carry (`zz`), random time windows: the catalog
    // filter and the resolution over a two-segment store must select
    // exactly the series a direct evaluation of the matcher semantics
    // over the generated rows selects
    val rnd = new Random(4242L)
    import spark.implicits._
    val labels = Seq("usr", "typ", "ab")
    val tmp = java.nio.file.Files.createTempDirectory("graft_prop_store").toString
    var nonEmpty = 0
    for (round <- 1 to 3) {
      val users = (0 until rnd.between(3, 9)).map(_.toString)
      val types = Seq("click", "view", "purchase", "error")
      val bands = Seq("0", "1", "2")
      val rows = (0 until rnd.between(40, 90)).map { i =>
        val ab = if (rnd.nextInt(3) == 0) None else Some(bands(rnd.nextInt(bands.length)))
        (i.toLong, rnd.between(0L, 1000L), rnd.nextDouble() * 10,
          users(rnd.nextInt(users.length)), types(rnd.nextInt(types.length)), ab)
      }
      val df = rows.toDF("event_id", "ts_sec", "value", "usr", "typ", "ab")
        .withColumn("ts", timestamp_seconds(col("ts_sec")))
        .withColumn("ts_ns", col("ts_sec") * 1000000000L)
      val idx = new TagIndex(df, labels)
      // the store folds two segments: a full flush of the first half of
      // the time range, then an incremental flush of the rest
      val store = s"$tmp/store$round"
      IndexStore.materialize(new TagIndex(df.filter(col("ts_sec") < 500), labels), store)
      IndexStore.materializeIncremental(idx, store)
      assert(new java.io.File(store).list().count(_.startsWith("seg=")) == 2)

      // the reference: each series' labels and [first, last] second
      type Series = (String, String, Option[String])
      val series: Map[Series, (Long, Long)] = rows.groupBy(r => (r._4, r._5, r._6))
        .map { case (k, rs) => k -> (rs.map(_._2).min, rs.map(_._2).max) }
      def valueOf(s: Series, name: String): Option[String] = name match {
        case "usr" => Some(s._1)
        case "typ" => Some(s._2)
        case "ab" => s._3
        case _ => None
      }
      def matches(s: Series, m: LabelMatcher): Boolean = {
        val hit = valueOf(s, m.name).exists(positive(_, m))
        if (m.inclusive) hit else !hit
      }

      val pools = Map("usr" -> users, "typ" -> types, "ab" -> bands, "zz" -> Seq("0", "x"))
      def randMatcher(): LabelMatcher = {
        val name = Seq("usr", "typ", "ab", "zz")(rnd.nextInt(4))
        val pool = pools(name)
        val v = pool(rnd.nextInt(pool.length))
        val re = pool.take(2).mkString("(", "|", ")")
        Seq(LabelMatcher(name, Eql, v), LabelMatcher(name, Neq, v),
          LabelMatcher(name, Lss, v), LabelMatcher(name, Gtr, v),
          LabelMatcher(name, Lte, v), LabelMatcher(name, Gte, v),
          LabelMatcher(name, EqlRegex, re), LabelMatcher(name, NeqRegex, re))(rnd.nextInt(8))
      }
      // the edge cases every dataset must see, then random sets
      val edges = Seq(
        Seq(LabelMatcher("ab", Neq, "1")),
        Seq(LabelMatcher("typ", Eql, "view"), LabelMatcher("ab", NeqRegex, "(0|1)")),
        Seq(LabelMatcher("ab", Gte, "1")),
        Seq(LabelMatcher("zz", Neq, "0")),
        Seq(LabelMatcher("usr", Gte, "2"), LabelMatcher("zz", Eql, "0")))
      for (ms <- edges ++ Seq.fill(8)(Seq.fill(rnd.between(1, 4))(randMatcher()))) {
        val window =
          if (rnd.nextBoolean()) None
          else {
            val a = rnd.between(0L, 1000L); val b = rnd.between(0L, 1000L)
            Some((math.min(a, b), math.max(a, b)))
          }
        val s = window.map(w => timestamp_seconds(lit(w._1)))
        val e = window.map(w => timestamp_seconds(lit(w._2)))
        val want = series.filter { case (k, (first, last)) =>
          ms.forall(matches(k, _)) && window.forall(w => last >= w._1 && first <= w._2)
        }.keySet
        def got(df: org.apache.spark.sql.DataFrame): Set[Series] =
          df.select(labels.map(col): _*).collect()
            .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
        assert(got(idx.resolveMatchers(ms, s, e)) == want,
          s"catalog: matchers $ms window $window")
        assert(got(IndexStore.resolvePostings(spark, store, ms, s, e)) == want,
          s"store: matchers $ms window $window")
        if (want.nonEmpty) nonEmpty += 1
      }
    }
    assert(nonEmpty > 0, "every random matcher set resolved to nothing")
  }

  test("TopKAgg equals sort-based top-k on random groups") {
    val rnd = new Random(77L)
    import spark.implicits._
    val rows = (0 until 500).map { i =>
      (s"g${rnd.nextInt(7)}", math.floor(rnd.nextDouble() * 50) / 10.0,
        s"a${rnd.nextInt(20)}", s"b${rnd.nextInt(3)}")
    }
    val df = rows.toDF("g", "v", "a", "b")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "topk3", exprs => functions.TopKAgg(exprs(0), exprs(1), exprs(2), 3), "built-in")
    val got = df.groupBy(col("g"))
      .agg(call_function("topk3", col("v"), col("a"), col("b")).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("pos"), col("col.v"), col("col.a"), col("col.b"))
      .collect().map(r => (r.getString(0), r.getInt(1),
        (r.getDouble(2), r.getString(3), r.getString(4)))).toSet
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.map(r => (r._2, r._3, r._4))
        .sortBy { case (v, a, b) => (-v, a, b) }
        .take(3).zipWithIndex.map { case (t, i) => (g, i, t) }
    }.toSet
    assert(got == want)
  }

  test("VecDot equals a plain double fold exactly") {
    val rnd = new Random(99L)
    import spark.implicits._
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("id", "v")
    graft.functions.VecFunctions.register(spark)
    val got = df.select(col("id"), call_function("vec_dot", col("v"), col("v")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    vecs.foreach { case (id, v) =>
      val want = v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
      assert(got(id) == want, s"id $id")
    }
  }

  test("LshBuckets equals the per-plane sign fold exactly") {
    val rnd = new Random(4242L)
    import spark.implicits._
    val dim = 16; val tables = 5; val bits = 7
    val planes = Array.fill(tables * bits)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 80).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lshb_test", exprs => functions.LshBuckets(exprs.head, planes, tables, bits),
      "built-in")
    val got = vecs.toDF("id", "v")
      .select(col("id"), call_function("lshb_test", col("v")).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toVector).toMap
    vecs.foreach { case (id, v) =>
      val want = (0 until tables).map { t =>
        (0 until bits).map { b =>
          val p = planes(t * bits + b)
          val dot = v.indices.foldLeft(0.0)((acc, i) => acc + v(i).toDouble * p(i))
          if (dot >= 0) 1 << b else 0
        }.sum
      }.toVector
      assert(got(id) == want, s"id $id")
    }
  }

  test("prefix filter admits every true j>=t pair on random corpora") {
    import spark.implicits._
    // random corpora with overlapping word pools: docs sharing a pool
    // segment produce genuine high-jaccard pairs at varying rates; the
    // exactness guarantee (candidates ⊇ true pairs) must hold at every
    // threshold on every corpus
    for (seed <- Seq(11, 22, 33); t <- Seq(0.6, 0.8, 0.9)) {
      val rnd = new Random(seed)
      val pool = (0 until 40).map(i => s"w$i")
      val docs = (0L until 60L).map { d =>
        val base = rnd.nextInt(5) * 6
        val n = 8 + rnd.nextInt(6)
        val words = (0 until n).map(_ => pool(base + rnd.nextInt(12)))
        (d, words.mkString(" "))
      }.toDF("doc_id", "text")
      val sh = dedup.Dedup.shingles(docs).cache()
      val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val truth = sh.select(col("doc_id").as("ia"), col("sid"))
        .join(sh.select(col("doc_id").as("ib"), col("sid")), Seq("sid"))
        .filter(col("ia") < col("ib"))
        .groupBy("ia", "ib").agg(count(lit(1)).as("c"))
        .join(cnt.select(col("doc_id").as("ia"), col("n").as("na")), Seq("ia"))
        .join(cnt.select(col("doc_id").as("ib"), col("n").as("nb")), Seq("ib"))
        .filter(col("c") / (col("na") + col("nb") - col("c")) >= t)
        .select("ia", "ib")
      val cand = dedup.Dedup.prefixCandidates(sh, t)
      val missed = truth.exceptAll(cand).count()
      assert(missed == 0, s"seed=$seed t=$t: $missed true pairs missed")
      sh.unpersist()
    }
  }
}
