package graftbench

import graft.index.{IndexSql, TagIndex}
import graft.promql.PromQl
import org.apache.spark.sql.Row

import java.io.File
import java.util.SplittableRandom

/** Read-only TSDB serving: a closed loop of index and PromQL queries, one
  * client, over a generated events table. */
object Serve {
  import ServeGen._

  sealed trait Shape
  case object SumByTypCount extends Shape
  case object CountOverTime extends Shape
  case object SumOverTime extends Shape
  case object MaxOverTime extends Shape
  case object TopkUsrCount extends Shape
  case object SumByTypRate extends Shape

  sealed trait Op { def kind: String; def render: String }
  final case class MatchQ(ms: Seq[M]) extends Op {
    def kind = "match"; def render = s"match ${M.render(ms)}"
  }
  final case class LabelValuesQ(name: String, ms: Option[Seq[M]]) extends Op {
    def kind = "label_values"; def render = s"label_values $name ${ms.map(M.render).getOrElse("")}"
  }
  final case class SelectQ(ms: Seq[M], t0: Long, t1: Long) extends Op {
    def kind = "select"; def render = s"select ${M.render(ms)} $t0 $t1"
  }
  final case class EvalQ(shape: Shape, ms: Seq[M], w: Long, t: Long) extends Op {
    def kind = "eval"; def render = s"eval ${expr(shape, ms, w)} @ $t"
  }
  final case class RangeQ(shape: Shape, ms: Seq[M], w: Long, start: Long, step: Long) extends Op {
    def kind = "eval_range"; def render = s"eval_range ${expr(shape, ms, w)} $start +1d step $step"
  }

  def dur(s: Long): String =
    if (s % DaySec == 0) s"${s / DaySec}d" else if (s % 3600 == 0) s"${s / 3600}h" else s"${s}s"

  def expr(shape: Shape, ms: Seq[M], w: Long): String = {
    val v = s"{${M.render(ms)}}[${dur(w)}]"
    shape match {
      case SumByTypCount => s"sum by (typ) (count_over_time($v))"
      case CountOverTime => s"count_over_time($v)"
      case SumOverTime => s"sum_over_time($v)"
      case MaxOverTime => s"max_over_time($v)"
      case TopkUsrCount => s"topk(3, sum by (usr) (count_over_time($v)))"
      case SumByTypRate => s"sum by (typ) (rate($v))"
    }
  }

  def ts(sec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC).toString.replace('T', ' ')

  private final case class Hot(ms: Seq[M], t: Long, w: Long, t0: Long, len: Long, start: Long)

  /** The seeded op stream. Every other op takes its selector from a hot
    * set of 16 that repeat with the same time parameters (so memoized
    * postings are hit); the rest are drawn fresh (so memos fill). The
    * shapes (selector form, PromQL function, window, span) cycle with the
    * op's position, so every seed runs the same mix of costly and cheap
    * ops; the seed draws the label values and times. */
  final class OpGen(seed: Long, nUsr: Int, stream: Long) {
    private val rnd = new SplittableRandom(Rng.mix(seed, stream, 0))

    private def selector(r: SplittableRandom, form: Int): Seq[M] = {
      val us = r.nextInt(nUsr).toString
      val prefix = if (us.length >= 3) us.dropRight(1) else us
      form % 6 match {
        case 0 => Seq(M("usr", "=", us))
        case 1 => Seq(M("usr", "=", us), M("typ", "=", Types(r.nextInt(Types.length))))
        case 2 => Seq(M("usr", "=~", prefix + ".*"))
        case 3 => Seq(M("typ", "=~", "(click|view)"), M("usr", "=~", prefix + ".*"))
        case 4 => Seq(M("usr", ">=", us), M("usr", "<=", us + "5"))
        case _ => Seq(M("typ", "!=", "error"), M("usr", "=~", prefix + ".*"))
      }
    }
    private val windows = Array(3600L, 6 * 3600L, DaySec, 7 * DaySec)
    private val spans = Array(3600L, 6 * 3600L, DaySec)
    private def evalT(r: SplittableRandom) = T0Sec + (2 * 24 + r.nextInt(28 * 24)) * 3600L
    private def selT0(r: SplittableRandom) = T0Sec + r.nextInt(29 * 24 * 60) * 60L
    private def rangeStart(r: SplittableRandom) = T0Sec + (24 + r.nextInt(28 * 24)) * 3600L

    private val hot = {
      val r = new SplittableRandom(Rng.mix(seed, stream + 1, 0))
      IndexedSeq.tabulate(16)(i => Hot(selector(r, i), evalT(r), windows(i % windows.length),
        selT0(r), spans(i % spans.length), rangeStart(r)))
    }
    private val shapes = Array(SumByTypCount, CountOverTime, SumOverTime, MaxOverTime, TopkUsrCount, SumByTypRate)

    private var n = 0
    /** Ops of each kind drawn so far: the position the shapes cycle on. */
    private val nOfKind = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

    def next(): Op = {
      val kind = Round(n % Round.length)
      val k = nOfKind(kind)
      nOfKind(kind) = k + 1
      val h = if (n % 2 == 0) Some(hot((n / 2) % hot.size)) else None
      n += 1
      val ms = h.map(_.ms).getOrElse(selector(rnd, k))
      kind match {
        case "match" => MatchQ(ms)
        case "label_values" =>
          LabelValuesQ(if (k % 2 == 0) "typ" else "usr", if ((k + k / 2) % 2 == 0) Some(ms) else None)
        case "select" =>
          val t0 = h.map(_.t0).getOrElse(selT0(rnd))
          SelectQ(ms, t0, t0 + h.map(_.len).getOrElse(spans(k % spans.length)))
        case "eval" =>
          EvalQ(shapes(k % shapes.length), ms, h.map(_.w).getOrElse(windows(k % windows.length)),
            h.map(_.t).getOrElse(evalT(rnd)))
        case _ =>
          RangeQ(if (k % 2 == 0) SumByTypCount else MaxOverTime, ms, 3600L,
            h.map(_.start).getOrElse(rangeStart(rnd)), 900L)
      }
    }
  }

  /** The fixed op mix, interleaved so that every prefix stays close to it:
    * per 20 ops 5 match (25 %), 2 label_values (10 %), 3 select (15 %),
    * 7 eval (35 %) and 3 eval_range (15 %). Seeds vary only parameters. */
  val Round: Array[String] = Array("eval", "match", "select", "eval", "eval_range", "match", "eval",
    "label_values", "select", "eval", "match", "eval_range", "eval", "match", "select", "eval",
    "label_values", "eval", "match", "eval_range")

  /** One op of each kind, for the untimed warm-up. */
  def warmOps(seed: Long, nUsr: Int): Seq[Op] = {
    val g = new OpGen(seed, nUsr, 500)
    val all = Iterator.continually(g.next()).take(Round.length).toSeq
    Seq("match", "label_values", "select", "eval", "eval_range").flatMap(k => all.find(_.kind == k))
  }

  // ---- execution ----------------------------------------------------------

  def run(b: Bench, ref: ServeRef, dir: String, op: Op): Unit = {
    val spark = b.spark
    def sel(ms: Seq[M]) = M.render(ms)
    op match {
      case MatchQ(ms) =>
        b.op(op.kind) {
          val df = b.tr.span("index.call")(IndexSql.matchSeries(spark, dir, sel(ms)))
          b.tr.span("index.action")(df.collect())
        }(rows => eq("series", rows.length, ref.matching(ms).size))
      case LabelValuesQ(name, ms) =>
        b.op(op.kind) {
          val df = b.tr.span("index.call")(IndexSql.labelValues(spark, dir, name, ms.map(sel)))
          b.tr.span("index.action")(df.collect())
        } { rows =>
          val series = ms.map(ref.matching).getOrElse(0 until ref.nSer)
          val want = series.map(s => if (name == "usr") ref.usr(s) else ref.typ(s)).toSet
          if (rows.map(_.getString(0)).toSet == want) None
          else Some(s"values: got ${rows.length}, want ${want.size}")
        }
      case SelectQ(ms, t0, t1) =>
        b.op(op.kind) {
          val df = b.tr.span("index.call")(IndexSql.selectRange(spark, dir, sel(ms), ts(t0), ts(t1)))
          b.tr.span("index.action")(df.collect())
        } { rows =>
          val want = ref.matching(ms).map { s =>
            val (a, z) = ref.window(s, t0 * 1000000L, t1 * 1000000L); z - a
          }.sum
          eq("samples", rows.length, want)
        }
      case EvalQ(shape, ms, w, t) =>
        val e = expr(shape, ms, w)
        b.op(op.kind) {
          b.tr.span("promql.parse")(PromQl.parse(e))
          val df = b.tr.span("promql.call")(PromQl.eval(spark, dir, e, ts(t)))
          b.tr.span("promql.action")(df.collect())
        }(rows => checkEval(ref, shape, ms, w, Seq(t), rows, ranged = false))
      case RangeQ(shape, ms, w, start, step) =>
        val e = expr(shape, ms, w)
        b.op(op.kind) {
          b.tr.span("promql.parse")(PromQl.parse(e))
          val df = b.tr.span("promql.call")(
            PromQl.evalRange(spark, dir, e, ts(start), ts(start + DaySec), step))
          b.tr.span("promql.action")(df.collect())
        }(rows => checkEval(ref, shape, ms, w, (0L to DaySec / step).map(start + _ * step), rows, ranged = true))
    }
  }

  private def eq(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Expected values per output key at each evaluation time. Count and sum
    * shapes are exact integers; rate is checked by which groups exist. */
  private def checkEval(ref: ServeRef, shape: Shape, ms: Seq[M], w: Long,
      times: Seq[Long], rows: Array[Row], ranged: Boolean): Option[String] = {
    val series = ref.matching(ms)
    val want = scala.collection.mutable.HashMap.empty[String, Double]
    for (t <- times; s <- series) {
      val (a, z) = ref.window(s, (t - w) * 1000000L, t * 1000000L)
      val n = z - a
      val tk = if (ranged) s"|$t" else ""
      def add(k: String, v: Double) = want(k + tk) = want.getOrElse(k + tk, 0.0) + v
      shape match {
        case SumByTypCount => if (n > 0) add(ref.typ(s), n)
        case CountOverTime => if (n > 0) add(s"${ref.usr(s)},${ref.typ(s)}", n)
        case SumOverTime => if (n > 0) add(s"${ref.usr(s)},${ref.typ(s)}", (a until z).map(ref.vals(_)).sum)
        case MaxOverTime => if (n > 0) want(s"${ref.usr(s)},${ref.typ(s)}$tk") = (a until z).map(ref.vals(_)).max
        case TopkUsrCount => if (n > 0) add(ref.usr(s), n)
        case SumByTypRate => if (n > 1) want(ref.typ(s) + tk) = 0.0
      }
    }
    def key(r: Row): String = {
      val base = shape match {
        case SumByTypCount | SumByTypRate => r.getAs[String]("typ")
        case TopkUsrCount => r.getAs[String]("usr")
        case _ => s"${r.getAs[String]("usr")},${r.getAs[String]("typ")}"
      }
      if (ranged) s"$base|${r.getAs[Long]("t_sec")}" else base
    }
    shape match {
      case TopkUsrCount =>
        val got = rows.map(_.getAs[Double]("value")).sorted.reverse.toSeq
        val top = want.values.toSeq.sorted.reverse.take(3)
        if (got == top) None else Some(s"topk values: got $got, want $top")
      case SumByTypRate =>
        val got = rows.map(key).toSet
        if (got == want.keySet) None else Some(s"rate groups: got ${got.size}, want ${want.size}")
      case _ =>
        val got = rows.map(r => key(r) -> r.getAs[Double]("value")).toMap
        if (got.size == rows.length && got == want) None
        else Some(s"values: got ${rows.length} rows, want ${want.size}; " +
          s"first diff ${(got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k))
            .map(k => s"$k got ${got.get(k)} want ${want.get(k)}")}")
    }
  }

  // ---- workload -----------------------------------------------------------

  final class Workload(b: Bench) extends graftbench.Workload {
    private val nUsr = Sizes.serveUsers
    private var ref: ServeRef = _
    private var dir: String = _

    def prepare(): Unit = {
      val spark = b.spark
      import spark.implicits._
      val (seed, n) = (b.seed, nUsr)
      dir = new File(b.dataDir, "events").getPath
      spark.range(0, Sizes.serveSamples, 1, b.cores).as[Long]
        .map(i => ServeGen.row(seed, n)(i))
        .write.parquet(new File(dir, "events.parquet").getPath)
      ref = new ServeRef(b.seed, nUsr, Sizes.serveSamples)
    }

    def setup(): Unit = {
      b.tr.span("index.build") {
        val idx = TagIndex.forEvents(b.spark, dir)
        idx.seriesCatalog.count(); idx.invertedIndex.count()
      }
      b.tr.span("setup.warmup")(warmOps(b.seed, nUsr).foreach(run(b, ref, dir, _)))
    }

    private lazy val g = new OpGen(b.seed, nUsr, 300)

    /** One untimed round: after a single op of each kind the JIT is still
      * compiling graft's and Spark's planning paths, which made the
      * measured latencies depend on how far it had got. */
    def warm(): Unit = Round.indices.foreach(_ => run(b, ref, dir, g.next()))

    /** Whole rounds of the op mix, one per ~10 s asked for (a round takes
      * 10–20 s here). The count is fixed rather than timed: each round
      * re-hits the hot selectors, so a machine-speed-dependent count would
      * change the share of memo hits and with it the latencies. */
    def measure(): Unit =
      for (_ <- 1 to math.max(1, math.round(b.seconds / 10).toInt); _ <- Round.indices)
        run(b, ref, dir, g.next())

    def e2e: Map[String, Double] = {
      val all = b.measured()
      Map("throughput_per_s" -> all.size / (all.sum / 1000), "p50_ms" -> Stats.median(all))
    }

    def extras: Map[String, Any] = {
      val all = b.measured()
      Map(
        "serve.ops" -> all.size,
        "serve.ops_per_s" -> all.size / (all.sum / 1000),
        "serve.p50_ms" -> Stats.median(all),
        "serve.p90_ms" -> Stats.tail(all, 0.9),
        "serve.match_p50_ms" -> Stats.medianOpt(b.measured("match", "label_values")),
        "serve.select_p50_ms" -> Stats.medianOpt(b.measured("select")),
        "serve.promql_p50_ms" -> Stats.medianOpt(b.measured("eval", "eval_range")),
        "serve.op_counts" -> Seq("match", "label_values", "select", "eval", "eval_range")
          .map(k => k -> b.measured(k).size).toMap)
    }
  }
}
