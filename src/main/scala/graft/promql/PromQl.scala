package graft.promql

import graft.Tables
import graft.index.{IndexSql, LabelMatcher, TagIndex}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A PromQL-subset parser + evaluator over the tag index — the query
  * language the reference actually serves to clients through its
  * Prometheus adapter (/root/reference/include/tagtree/adapters/prom/
  * querier.h, indexed_storage.h): a user points Prometheus at the
  * store and writes PromQL; here the same expression class runs as one
  * Catalyst plan over the indexed events.
  *
  * Supported grammar (instant queries at a fixed evaluation time T):
  *
  * {{{
  * setop    := cmp (('and'|'or'|'unless') cmp)*      // loosest binding
  * cmp      := expr [('>'|'<'|'>='|'<='|'=='|'!=') ['bool'] expr]
  *                                  // filter semantics; `bool` → 0/1 map
  * expr     := mul (('+'|'-') [matching] mul)*
  * mul      := pw (('*'|'/'|'%'|'atan2') [matching] pw)*
  * pw       := term ['^' [matching] pw]               // right-assoc
  * matching := ('on'|'ignoring') '(' names ')'
  *             ['group_left'|'group_right' ['(' names ')']]  // carried labels
  * term     := term '[' duration ':' duration ']'    // subquery (feeds a range func)
  *           | number
  *           | 'time' '(' ')'                        // eval timestamp (scalar)
  *           | 'vector' '(' setop ')'                // scalar → no-label vector
  *           | 'timestamp' '(' setop ')'             // sample's own ts (instant sel)
  *           | aggOp ['by' '(' names ')' | 'without' '(' names ')'] '(' setop ')'
  *           | 'quantile' [by|without] '(' number ',' setop ')'
  *           | 'count_values' [by|without] '(' str ',' setop ')'
  *           | 'topk'|'bottomk'|'limitk' [by|without] '(' number ',' setop ')'
  *           | 'limit_ratio' '(' number ',' setop ')'   // hash sampling
  *           | 'quantile_over_time' '(' number ',' setop ')'
  *           | 'absent' '(' setop ')' | 'absent_over_time' '(' rangeSel ')'
  *           | 'label_replace' '(' setop ',' str ',' str ',' str ',' str ')'
  *           | 'label_join' '(' setop ',' str ',' str [',' str]* ')'
  *           | 'histogram_quantile' '(' number ',' setop ')'  // needs an `le` label
  *           | 'holt_winters'|'double_exponential_smoothing'
  *               '(' rangeSel ',' number ',' number ')'
  *           | 'clamp' '(' expr ',' number ',' number ')'
  *           | 'scalar' '(' setop ')'                 // 1-series vector → scalar
  *           | 'sort'|'sort_desc' '(' setop ')'       // presentation order
  *           | 'sort_by_label'['_desc'] '(' setop ',' str [',' str]* ')'
  *           | func '(' setop [',' number] ')'
  *           | selector
  * selector := [metric] '{' matchers '}' ['[' duration ']'] modifiers
  *           | metric ['[' duration ']'] modifiers    // __name__ ≡ typ
  * modifiers:= ['offset' ['-'] duration]               // neg looks forward
  *             ['@' (epochSeconds|'start()'|'end()')]   // either order
  * aggOp    := 'sum'|'avg'|'min'|'max'|'count'|'stddev'|'stdvar'|'group'
  * func     := 'rate'|'increase'|'irate'|'delta'|'idelta'|'changes'|'resets'
  *           | 'deriv'|'predict_linear'               // least-squares fits
  *           | '<stat>_over_time' (sum avg min max count last stddev stdvar
  *                                 present mad)
  *           | 'abs'|'ceil'|'floor'|'exp'|'ln'|'log2'|'log10'|'sqrt'|'sgn'|'round'
  *           | 'clamp_min'|'clamp_max'                // scalar 2nd arg
  *           | 'sin'|'cos'|'tan'|'asin'|'acos'|'atan' // radians
  *           | 'sinh'|'cosh'|'tanh'|'asinh'|'acosh'|'atanh'
  *           | 'deg'|'rad'                            // angle conversion
  *           | 'pi' '(' ')'                           // scalar π
  *           | 'hour'|'minute'|'day_of_week'|'day_of_month'|'month'|'year'
  *           | 'days_in_month'                        // value as epoch secs, UTC
  * }}}
  *
  * Matcher syntax inside `{}` is the same Prometheus selector form
  * [[IndexSql.parseSelector]] accepts (full MatchOp set). Durations:
  * `30s 5m 2h 1d 1w`.
  *
  * Semantics (deterministic and DuckDB-oracle-reproducible; divergences
  * from Prometheus are deliberate and documented):
  *  - a RANGE selector takes samples with ts ∈ [T-range, T] (closed
  *    both ends, µs-truncated), ordered by (ts, event_id);
  *  - an INSTANT selector is last_over_time over a caller-set lookback
  *    window (Prometheus's 5m staleness is a parameter here — the test
  *    corpus is sparse);
  *  - `increase`/`rate` use counter semantics via ordered deltas
  *    (Σ max(Δ,0) + v on reset) WITHOUT Prometheus's window-edge
  *    extrapolation — the extrapolated form is its own gated operator
  *    (B39 `rate_extrapolated`); rate = increase / range-seconds;
  *  - vector↔vector binary ops use default one-to-one matching on the
  *    full shared label set; vector↔scalar broadcasts;
  *  - `topk`/`bottomk` break value ties by label order, so results are
  *    stable across partitionings.
  *
  * Evaluation builds ONE DataFrame plan: matcher resolution filters
  * the series catalog (broadcast semi-join), the time window lands on the
  * file-native ts column via [[Tables.tsBetween]] (row-group pruning),
  * per-series folds are window functions over (tsid), and aggregations
  * are partial-agg groupBys — the same shapes as the hand-built B-ops,
  * so the 100 TB story is unchanged.
  */
object PromQl {

  // ---------------- AST ----------------

  sealed trait Expr
  final case class Num(v: Double) extends Expr
  /** `time()`: the evaluation timestamp as a scalar (instant queries). */
  case object TimeE extends Expr
  /** `atRef` carries `@ start()` / `@ end()` — the grid-relative
    * anchors (Prometheus 2.25+); resolved against the Grid at eval.
    */
  final case class Sel(matchers: Seq[LabelMatcher], rangeSec: Option[Long],
      offsetSec: Long, atSec: Option[Long] = None,
      atRef: Option[String] = None) extends Expr
  final case class Func(name: String, arg: Expr, scalarArg: Option[Double]) extends Expr
  /** `param` carries quantile's φ; `valueLabel` carries count_values'
    * destination label name.
    */
  final case class Agg(op: String, by: Seq[String], without: Seq[String],
      arg: Expr, param: Option[Double] = None,
      valueLabel: Option[String] = None) extends Expr
  final case class TopK(op: String, k: Int, arg: Expr,
      by: Seq[String] = Seq.empty, without: Seq[String] = Seq.empty) extends Expr
  /** limit_ratio(r, v): deterministic series-hash sampling (Prometheus
    * 3.x experimental aggregation); r < 0 selects the exact complement
    * of ratio |r|, so limit_ratio(r) ∪ limit_ratio(r−1) ≡ v.
    */
  final case class LimitRatio(r: Double, arg: Expr) extends Expr
  final case class Bin(op: String, lhs: Expr, rhs: Expr) extends Expr
  /** Subquery `expr[range:step]`: the inner expression evaluated on its
    * own grid of points, consumed by an outer range function. Points
    * sit at ABSOLUTE multiples of the step since epoch (Prometheus
    * semantics — round 8; step-aligned eval times are unaffected).
    */
  final case class SubQ(arg: Expr, rangeSec: Long, stepSec: Long) extends Expr
  /** label_replace / label_join: label-manipulation functions whose
    * extra arguments are string literals.
    */
  final case class LabelFunc(name: String, arg: Expr, strArgs: Seq[String]) extends Expr
  /** Explicit vector matching: `lhs <op> on(lbls)|ignoring(lbls)
    * [group_left|group_right] rhs` — the B23 shape. `ignoring` flips the
    * label list's meaning (match on the complement); `group` names the
    * many side ("left"/"right"), which keeps its extra labels; without a
    * group modifier both sides must reduce to the match labels.
    */
  final case class VecMatch(op: String, labels: Seq[String], ignoring: Boolean,
      group: Option[String], lhs: Expr, rhs: Expr,
      carry: Seq[String] = Seq.empty) extends Expr
  /** holt_winters(v[range], sf, tf) — double exponential smoothing
    * over each range window (Prometheus 3.x spells it
    * double_exponential_smoothing); two scalar parameters, so it gets
    * its own node instead of widening Func's single-scalar shape.
    */
  final case class HW(arg: Expr, sf: Double, tf: Double) extends Expr
  /** histogram_fraction(lower, upper, v) — native-histogram fraction
    * estimation (Prometheus 3.x); two scalar parameters, so its own
    * node per the HW precedent. Evaluated by [[NativeHist]] — the
    * scalar-vector evaluator here has no histogram-valued samples.
    */
  final case class HistFrac(lo: Double, hi: Double, arg: Expr) extends Expr

  /** Native-histogram-only functions (Prometheus 3.x): parsed here so
    * the language surface is complete, evaluated by [[NativeHist]]
    * over a native-histogram sample series ([[NativeHist.samples]]).
    */
  val nativeHistFuncs: Set[String] = Set(
    "histogram_count", "histogram_sum", "histogram_avg",
    "histogram_stddev", "histogram_stdvar")

  val rangeFuncs: Set[String] = Set(
    "rate", "increase", "delta", "idelta", "changes", "resets", "irate",
    "deriv", "predict_linear",
    "sum_over_time", "avg_over_time", "min_over_time", "max_over_time",
    "count_over_time", "last_over_time", "quantile_over_time",
    "stddev_over_time", "stdvar_over_time", "present_over_time",
    "mad_over_time")
  val scalarFuncs: Set[String] =
    Set("abs", "ceil", "floor", "exp", "ln", "log2", "log10", "sqrt",
      "sgn", "round", "clamp_min", "clamp_max",
      // trigonometry + hyperbolics + angle conversion (Prometheus's
      // experimental-function family, enabled unconditionally here)
      "sin", "cos", "tan", "asin", "acos", "atan",
      "sinh", "cosh", "tanh", "asinh", "acosh", "atanh",
      "deg", "rad",
      // calendar components of a value interpreted as epoch seconds
      // (Prometheus applies them to the vector's sample values; UTC)
      "hour", "minute", "day_of_week", "day_of_month", "month", "year",
      "days_in_month")
  private val aggOps =
    Set("sum", "avg", "min", "max", "count", "stddev", "stdvar", "group")
  private val cmpOps = Set(">", "<", ">=", "<=", "==", "!=")

  // ---------------- parser ----------------

  /** Parse a PromQL expression; throws IllegalArgumentException with a
    * position-bearing message on malformed input.
    */
  def parse(input: String): Expr = new Parser(input).parseAll()

  private final class Parser(s: String) {
    private var pos = 0
    private def err(msg: String): Nothing =
      throw new IllegalArgumentException(s"PromQL parse error at $pos: $msg in `$s`")
    private def ws(): Unit = while (pos < s.length && s(pos).isWhitespace) pos += 1
    private def peek: Char = if (pos < s.length) s(pos) else '\u0000'
    private def eat(c: Char): Unit = { ws(); if (peek == c) pos += 1 else err(s"expected '$c'") }
    private def tryEat(c: Char): Boolean = { ws(); if (peek == c) { pos += 1; true } else false }
    private def ident(): String = {
      ws(); val st = pos
      while (pos < s.length && (s(pos).isLetterOrDigit || s(pos) == '_')) pos += 1
      if (pos == st) err("expected identifier")
      s.substring(st, pos)
    }
    private def stringLit(): String = {
      ws()
      if (peek != '"') err("expected string literal")
      pos += 1
      val sb = new StringBuilder
      while (pos < s.length && s(pos) != '"') {
        if (s(pos) == '\\' && pos + 1 < s.length) { sb.append(s(pos + 1)); pos += 2 }
        else { sb.append(s(pos)); pos += 1 }
      }
      if (pos >= s.length) err("unterminated string literal")
      pos += 1
      sb.result()
    }
    private def number(): Double = {
      ws(); val st = pos
      if (peek == '-') pos += 1
      while (pos < s.length && (s(pos).isDigit || s(pos) == '.' || s(pos) == 'e' ||
        s(pos) == 'E' || (pos > st && (s(pos) == '+' || s(pos) == '-') &&
          (s(pos - 1) == 'e' || s(pos - 1) == 'E')))) pos += 1
      if (pos == st || (pos == st + 1 && s(st) == '-')) err("expected number")
      s.substring(st, pos).toDouble
    }
    private def duration(): Long = {
      ws(); val st = pos
      while (pos < s.length && s(pos).isDigit) pos += 1
      if (pos == st) err("expected duration")
      val n = s.substring(st, pos).toLong
      val unit = if (pos < s.length) { pos += 1; s(pos - 1) } else err("expected duration unit")
      unit match {
        case 's' => n
        case 'm' => n * 60
        case 'h' => n * 3600
        case 'd' => n * 86400
        case 'w' => n * 7 * 86400
        case u => err(s"unknown duration unit '$u'")
      }
    }

    def parseAll(): Expr = {
      val e = parseSetOp()
      ws()
      if (pos != s.length) err(s"trailing input `${s.substring(pos)}`")
      e
    }

    // set operators bind loosest of all (PromQL precedence):
    // `a and b unless c` filters left-to-right
    private def parseSetOp(): Expr = {
      var l = parseCmp()
      var continue = true
      while (continue) {
        ws()
        val kw = Seq("and", "unless", "or").find(k =>
          s.startsWith(k, pos) &&
            (pos + k.length == s.length || !s(pos + k.length).isLetterOrDigit))
        kw match {
          case Some(k) => pos += k.length; l = Bin(k, l, parseCmp())
          case None => continue = false
        }
      }
      l
    }

    // comparisons bind loosest (PromQL filter semantics: keep entries
    // where the comparison holds, value unchanged); `op bool` turns the
    // filter into a 0/1-valued map (and is the only legal form for
    // scalar-scalar comparison, as in Prometheus)
    private def parseCmp(): Expr = {
      val l = parseExpr()
      ws()
      val op =
        if (s.startsWith(">=", pos) || s.startsWith("<=", pos) ||
            s.startsWith("==", pos) || s.startsWith("!=", pos)) {
          pos += 2; s.substring(pos - 2, pos)
        } else if (peek == '>' || peek == '<') { pos += 1; s(pos - 1).toString }
        else return l
      ws()
      val full = if (kwAt("bool")) { pos += 4; op + " bool" } else op
      Bin(full, l, parseExpr())
    }

    /** Optional `by (l...)` / `without (l...)` clause. */
    private def byWithout(): (Seq[String], Seq[String]) = {
      def nameList(): Seq[String] = {
        eat('(')
        val bs = scala.collection.mutable.ArrayBuffer(ident())
        while (tryEat(',')) bs += ident()
        eat(')'); bs.toSeq
      }
      ws()
      if (s.startsWith("by", pos)) { pos += 2; (nameList(), Seq.empty[String]) }
      else if (s.startsWith("without", pos)) { pos += 7; (Seq.empty[String], nameList()) }
      else (Seq.empty[String], Seq.empty[String])
    }

    private def kwAt(k: String): Boolean =
      s.startsWith(k, pos) &&
        (pos + k.length >= s.length ||
          !(s(pos + k.length).isLetterOrDigit || s(pos + k.length) == '_'))

    // `op on(lbls)|ignoring(lbls) [group_left|group_right ['(' carried ')']]`
    // modifier after an arithmetic operator; the carried labels are
    // copied from the ONE side onto the result (Prometheus's full form)
    private def matching(): Option[(Seq[String], Boolean, Option[String], Seq[String])] = {
      ws()
      val ign = if (kwAt("on")) { pos += 2; false }
        else if (kwAt("ignoring")) { pos += 8; true }
        else return None
      eat('(')
      // `on()` with ZERO labels is legal PromQL: match everything
      // against a single no-label series (scalar-shaped sums) on the
      // timestamp alone
      val ks = scala.collection.mutable.ArrayBuffer.empty[String]
      ws()
      if (peek != ')') { ks += ident(); while (tryEat(',')) ks += ident() }
      eat(')'); ws()
      val grp = if (kwAt("group_left")) { pos += 10; Some("left") }
        else if (kwAt("group_right")) { pos += 11; Some("right") }
        else None
      val carry =
        if (grp.isDefined && tryEat('(')) {
          val cs = scala.collection.mutable.ArrayBuffer(ident())
          while (tryEat(',')) cs += ident()
          eat(')'); cs.toSeq
        } else Seq.empty[String]
      Some((ks.toSeq, ign, grp, carry))
    }

    // precedence: (* /) over (+ -), left-associative
    private def parseExpr(): Expr = {
      var l = parseMul()
      ws()
      while (peek == '+' || peek == '-') {
        val op = peek.toString; pos += 1
        l = matching() match {
          case Some((ks, ign, grp, cr)) => VecMatch(op, ks, ign, grp, l, parseMul(), cr)
          case None => Bin(op, l, parseMul())
        }
        ws()
      }
      l
    }
    private def parseMul(): Expr = {
      var l = parsePow()
      ws()
      var continue = true
      while (continue) {
        val op =
          if (peek == '*' || peek == '/' || peek == '%') { pos += 1; s(pos - 1).toString }
          else if (kwAt("atan2")) { pos += 5; "atan2" }
          else { continue = false; "" }
        if (continue) {
          l = matching() match {
            case Some((ks, ign, grp, cr)) => VecMatch(op, ks, ign, grp, l, parsePow(), cr)
            case None => Bin(op, l, parsePow())
          }
          ws()
        }
      }
      l
    }
    // `^` binds tightest of the binary operators and is RIGHT-associative
    // (Prometheus: 2^3^2 = 2^(3^2) = 512)
    private def parsePow(): Expr = {
      val l = parseTerm()
      ws()
      if (peek == '^') {
        pos += 1
        matching() match {
          case Some((ks, ign, grp, cr)) => VecMatch("^", ks, ign, grp, l, parsePow(), cr)
          case None => Bin("^", l, parsePow())
        }
      } else l
    }

    private def parseTerm(): Expr = {
      val t = parseTerm0()
      // postfix subquery on a non-selector term: expr[range:step]
      ws()
      t match {
        case _: Sel => t
        case _ if peek == '[' =>
          eat('['); val r = duration(); eat(':'); val st = duration(); eat(']')
          if (st <= 0 || r < st) err("subquery needs range >= step > 0")
          SubQ(t, r, st)
        case _ => t
      }
    }

    private def parseTerm0(): Expr = {
      ws()
      if (peek == '(') { eat('('); val e = parseSetOp(); eat(')'); return e }
      if (peek == '{') return parseSelector()
      if (peek.isDigit || peek == '-') return Num(number())
      val name = ident()
      ws()
      if (aggOps(name) || name == "quantile" || name == "count_values") {
        val (by, without) = byWithout()
        eat('(')
        // parameterized aggregations put the parameter FIRST (PromQL):
        // quantile(φ, v), count_values("label", v)
        val (param, vLabel) =
          if (name == "quantile") {
            val q = number(); eat(',')
            if (q < 0 || q > 1) err("quantile φ must be in [0,1]")
            (Some(q), None)
          } else if (name == "count_values") {
            val l = stringLit(); eat(',')
            if (l.isEmpty || !l.forall(c => c.isLetterOrDigit || c == '_'))
              err("count_values label must be a valid label name")
            (None, Some(l))
          } else (None, None)
        val e = parseSetOp(); eat(')')
        Agg(name, by, without, e, param, vLabel)
      } else if (name == "time") {
        eat('('); eat(')')
        TimeE
      } else if (name == "pi") {
        eat('('); eat(')')
        Num(math.Pi)
      } else if (name == "vector" || name == "timestamp") {
        eat('('); val e = parseSetOp(); eat(')')
        Func(name, e, None)
      } else if (name == "topk" || name == "bottomk" || name == "limitk") {
        val (by, without) = byWithout()
        eat('('); val k = number(); eat(','); val e = parseSetOp(); eat(')')
        if (k != k.toInt || k.toInt <= 0) err(s"$name k must be a positive int")
        TopK(name, k.toInt, e, by, without)
      } else if (name == "limit_ratio") {
        // grouping is irrelevant for hash sampling (selection is
        // per-series); parse an optional by/without for compatibility
        byWithout()
        eat('('); val r = number(); eat(','); val e = parseSetOp(); eat(')')
        if (r < -1 || r > 1) err("limit_ratio r must be in [-1,1]")
        LimitRatio(r, e)
      } else if (name == "absent" || name == "absent_over_time") {
        eat('('); val e = parseSetOp(); eat(')')
        Func(name, e, None)
      } else if (name == "label_replace" || name == "label_join") {
        eat('('); val e = parseSetOp()
        val args = scala.collection.mutable.ArrayBuffer.empty[String]
        while (tryEat(',')) args += stringLit()
        eat(')')
        if (name == "label_replace" && args.length != 4)
          err("label_replace expects (v, dst, replacement, src, regex)")
        if (name == "label_join" && args.length < 2)
          err("label_join expects (v, dst, separator, src...)")
        LabelFunc(name, e, args.toSeq)
      } else if (name == "quantile_over_time") {
        // PromQL puts the quantile scalar FIRST
        eat('('); val q = number(); eat(','); val e = parseSetOp(); eat(')')
        if (q < 0 || q > 1) err("quantile_over_time q must be in [0,1]")
        Func(name, e, Some(q))
      } else if (name == "histogram_quantile") {
        // φ first, then a vector whose label set carries `le`
        eat('('); val q = number(); eat(','); val e = parseSetOp(); eat(')')
        if (q < 0 || q > 1) err("histogram_quantile φ must be in [0,1]")
        Func(name, e, Some(q))
      } else if (name == "holt_winters" || name == "double_exponential_smoothing") {
        eat('('); val e = parseExpr(); eat(',')
        val sf = number(); eat(','); val tf = number(); eat(')')
        if (sf <= 0 || sf >= 1 || tf <= 0 || tf >= 1)
          err("holt_winters smoothing factors must be in (0,1)")
        HW(e, sf, tf)
      } else if (name == "clamp") {
        // clamp(v, lo, hi) ≡ clamp_max(clamp_min(v, lo), hi); Prometheus
        // yields NaN per element when lo > hi — rejected at parse here
        // (fail loud rather than silently diverge)
        eat('('); val e = parseExpr(); eat(',')
        val lo = number(); eat(','); val hi = number(); eat(')')
        if (lo > hi) err("clamp needs min <= max")
        Func("clamp_max", Func("clamp_min", e, Some(lo)), Some(hi))
      } else if (name == "scalar") {
        eat('('); val e = parseSetOp(); eat(')')
        Func(name, e, None)
      } else if (name == "histogram_fraction") {
        // (lower, upper, v) — scalars first, Prometheus argument order
        eat('('); val lo = number(); eat(','); val hi = number(); eat(',')
        val e = parseSetOp(); eat(')')
        if (lo > hi) err("histogram_fraction needs lower <= upper")
        HistFrac(lo, hi, e)
      } else if (nativeHistFuncs(name)) {
        eat('('); val e = parseSetOp(); eat(')')
        Func(name, e, None)
      } else if (name == "sort" || name == "sort_desc") {
        eat('('); val e = parseSetOp(); eat(')')
        Func(name, e, None)
      } else if (name == "sort_by_label" || name == "sort_by_label_desc") {
        eat('('); val e = parseSetOp()
        val args = scala.collection.mutable.ArrayBuffer.empty[String]
        while (tryEat(',')) args += stringLit()
        eat(')')
        if (args.isEmpty) err(s"$name expects at least one label name")
        LabelFunc(name, e, args.toSeq)
      } else if (rangeFuncs(name) || scalarFuncs(name)) {
        eat('('); val e = parseExpr()
        val sArg = if (tryEat(',')) Some(number()) else None
        eat(')')
        if ((name == "clamp_min" || name == "clamp_max" || name == "predict_linear")
          && sArg.isEmpty)
          err(s"$name needs a scalar second argument")
        Func(name, e, sArg)
      } else {
        // Prometheus metric-name sugar: `click{usr="3"}[5m]` means
        // {__name__="click", usr="3"}[5m]; graft's metric name is the
        // `typ` label (the reference's one-measurement-per-series
        // convention), so the name becomes a typ equality matcher.
        ws()
        val base = if (peek == '{') {
          parseSelector() match {
            case Sel(ms, r, o, at, ar) =>
              if (ms.exists(_.name == "typ"))
                err(s"metric name '$name' conflicts with an explicit typ matcher")
              Sel(LabelMatcher("typ", graft.index.MatchOp.Eql, name) +: ms,
                r, o, at, ar)
            case other => other
          }
        } else {
          selModifiers(Seq(LabelMatcher("typ", graft.index.MatchOp.Eql, name)))
        }
        base
      }
    }

    /** Postfix selector modifiers: optional `[range]`, then `offset d`
      * and/or `@ epoch-seconds` in either order (Prometheus allows both).
      */
    private def selModifiers(ms: Seq[LabelMatcher]): Sel = {
      val range = { ws(); if (peek == '[') { eat('['); val d = duration(); eat(']'); Some(d) } else None }
      var off = 0L
      var at: Option[Long] = None
      var atRef: Option[String] = None
      var more = true
      while (more) {
        ws()
        if (kwAt("offset")) {
          pos += 6; ws()
          // negative offsets look FORWARD (Prometheus's
          // --enable-feature=promql-negative-offset, default-on in 3.x)
          val neg = tryEat('-')
          val d = duration()
          off = if (neg) -d else d
        } else if (peek == '@') {
          pos += 1; ws()
          if (kwAt("start") || kwAt("end")) {
            val k = if (kwAt("start")) "start" else "end"
            pos += k.length; eat('('); eat(')')
            atRef = Some(k)
          } else {
            val t = number()
            if (t != math.floor(t) || t < 0) err("@ expects a non-negative epoch-seconds integer, start() or end()")
            at = Some(t.toLong)
          }
        } else more = false
      }
      Sel(ms, range, off, at, atRef)
    }

    private def parseSelector(): Expr = {
      eat('{')
      val st = pos
      var depth = 0; var inQ = false
      while (pos < s.length && (inQ || s(pos) != '}' || depth != 0)) {
        if (s(pos) == '"' && (pos == 0 || s(pos - 1) != '\\')) inQ = !inQ
        pos += 1
      }
      if (pos >= s.length) err("unterminated selector")
      val body = s.substring(st, pos)
      eat('}')
      selModifiers(IndexSql.parseSelector(body))
    }
  }

  // ---------------- evaluator ----------------

  /** The evaluation grid: `n` timestamps `startUs + i·stepUs`. An
    * instant query is the 1-point grid — both API forms share one
    * evaluation path (the adapter's /query and /query_range).
    */
  private final case class Grid(startUs: Long, stepUs: Long, n: Int)

  /** An evaluated vector: label columns + `t_sec` grid column + `value`. */
  private final case class Vec(df: DataFrame, labels: Seq[String])

  private def usOf(t: String): Long =
    java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  /** Epoch seconds of a query-time string (the grid-end anchor the
    * keep_firing_for extension caps at). */
  private[promql] def secOf(t: String): Long = usOf(t) / 1000000L

  /** Evaluate `expr` as an instant query at time `t` over the events
    * index of `dir`. `lookbackSec` is the staleness horizon for instant
    * selectors (Prometheus hardcodes 5m; the sparse test corpus wants
    * wider). Returns label columns + `value`.
    */
  def eval(spark: SparkSession, dir: String, expr: String, t: String,
      lookbackSec: Long = 86400L): DataFrame =
    evalIndexed(TagIndex.forEvents(spark, dir), expr, t, lookbackSec)

  /** Evaluate an instant query against an explicit [[TagIndex]] — the
    * hook for alternative matcher-resolution backends: a
    * [[graft.index.StoreTagIndex]] resolves matchers from a
    * materialized (possibly stream-maintained) IndexStore, the exact
    * client shape of the reference's index_server loop
    * (include/tagtree/index/index_server.h:48-66) where queries read
    * the compacted on-disk index while ingest appends to it.
    */
  def evalIndexed(idx: TagIndex, expr: String, t: String,
      lookbackSec: Long = 86400L): DataFrame = {
    val grid = Grid(usOf(t), 1000000L, 1)
    evalOn(idx, expr, grid, lookbackSec, keepT = false)
  }

  /** Evaluate `expr` as a RANGE query (the adapter's /query_range):
    * a vector per grid timestamp `start + i·step ≤ end`, emitted as an
    * extra `t_sec` (epoch seconds) column. Each sample is assigned to
    * the grid windows it falls in (≤ range/step + 1 of them) in one
    * arithmetic explode — no per-timestamp re-scan — and every
    * downstream operator keys by (labels, t_sec), so the whole grid
    * still evaluates as ONE Catalyst plan.
    */
  def evalRange(spark: SparkSession, dir: String, expr: String,
      start: String, end: String, stepSec: Long,
      lookbackSec: Long = 86400L): DataFrame = {
    evalRangeIndexed(TagIndex.forEvents(spark, dir), expr, start, end,
      stepSec, lookbackSec)
  }

  /** Range query against an explicit [[TagIndex]] (see [[evalIndexed]]). */
  def evalRangeIndexed(idx: TagIndex, expr: String,
      start: String, end: String, stepSec: Long,
      lookbackSec: Long = 86400L): DataFrame = {
    val su = usOf(start); val eu = usOf(end)
    require(stepSec > 0 && eu >= su, "need end >= start and step > 0")
    val n = ((eu - su) / (stepSec * 1000000L) + 1).toInt
    evalOn(idx, expr, Grid(su, stepSec * 1000000L, n), lookbackSec, keepT = true)
  }

  private def evalOn(idx: TagIndex, expr: String,
      grid: Grid, lookbackSec: Long, keepT: Boolean): DataFrame = {
    evalNode(idx, parse(expr), grid, lookbackSec) match {
      case Left(v) =>
        val cols = if (keepT) v.labels.map(col) :+ col("t_sec") :+ col("value")
          else v.labels.map(col) :+ col("value")
        v.df.select(cols: _*)
      case Right(d) => idx.labeled.sparkSession.range(1).select(lit(d).as("value"))
    }
  }

  /** Samples of the matching series, each exploded to the grid indices
    * whose window [T_i−span, T_i] (closed, offset applied) contains it —
    * at most span/step + 1 copies. The scan is pruned once to the grid's
    * overall envelope on the file-native ts column; matcher resolution
    * broadcasts the resolved tsid set into it (TagIndex.select's shape).
    */
  private def window(idx: TagIndex, sel: Sel, grid: Grid, spanSec: Long): DataFrame = {
    val offUs = sel.offsetSec * 1000000L
    val spanUs = spanSec * 1000000L
    // `@ start()` / `@ end()` resolve against THIS grid (Prometheus's
    // grid-relative anchors); instant queries have start = end = T
    val effAt: Option[Long] = sel.atRef match {
      case Some("start") => Some(grid.startUs / 1000000L)
      case Some("end") =>
        Some((grid.startUs + (grid.n - 1).toLong * grid.stepUs) / 1000000L)
      case Some(other) => sys.error(s"unknown @ anchor $other()")
      case None => sel.atSec
    }
    effAt match {
      case Some(at) =>
        // `@` modifier (B25): the selector's window is anchored at the
        // FIXED time `at` for every grid timestamp — one pruned scan,
        // samples replicated to all grid indices
        val atUs = at * 1000000L
        val lo = timestamp_micros(lit(atUs - offUs - spanUs))
        val hi = timestamp_micros(lit(atUs - offUs))
        val tsids = idx.resolveMatchers(sel.matchers, Some(lo), Some(hi)).select("tsid")
        Tables.tsBetween(idx.labeled, lo, hi)
          .join(broadcast(tsids), Seq("tsid"), "left_semi")
          .withColumn("__i", explode(sequence(lit(0L), lit((grid.n - 1).toLong))))
          .withColumn("t_sec",
            ((lit(grid.startUs) + col("__i") * lit(grid.stepUs)) / lit(1000000L)).cast("long"))
      case None =>
        val lo = timestamp_micros(lit(grid.startUs - offUs - spanUs))
        val hi = timestamp_micros(lit(grid.startUs + (grid.n - 1).toLong * grid.stepUs - offUs))
        val tsids = idx.resolveMatchers(sel.matchers, Some(lo), Some(hi)).select("tsid")
        val base = Tables.tsBetween(idx.labeled, lo, hi)
          .join(broadcast(tsids), Seq("tsid"), "left_semi")
        // grid indices containing this sample: ceil((ts'-start)/step) ≤ i ≤
        // floor((ts'-start+span)/step). Exact in double (µs magnitudes ≪ 2^53).
        val shifted = unix_micros(col("ts")) + lit(offUs)
        val iMin = greatest(lit(0L),
          ceil((shifted - lit(grid.startUs)).cast("double") / lit(grid.stepUs.toDouble)))
        val iMax = least(lit((grid.n - 1).toLong),
          floor((shifted - lit(grid.startUs) + lit(spanUs)).cast("double") / lit(grid.stepUs.toDouble)))
        base.filter(iMax >= iMin)
          .withColumn("__i", explode(sequence(iMin, iMax)))
          .withColumn("t_sec",
            ((lit(grid.startUs) + col("__i") * lit(grid.stepUs)) / lit(1000000L)).cast("long"))
    }
  }

  /** Prometheus's absent()/absent_over_time label inference: the
    * equality matchers of the selector argument, each label name used
    * by exactly one matcher (else dropped) — promql/functions.go
    * createLabelsForAbsentFunction semantics.
    */
  private def absentLabels(arg: Expr): Seq[(String, String)] = arg match {
    case Sel(ms, _, _, _, _) =>
      // value.nonEmpty: Prometheus also requires a non-empty matcher
      // value before adding the label (absent({typ=""}) carries no typ)
      ms.filter(m => m.op == graft.index.MatchOp.Eql && m.value.nonEmpty &&
        ms.count(_.name == m.name) == 1).map(m => m.name -> m.value)
    case _ => Seq.empty
  }

  /** The grid as a tiny frame of its `t_sec` timestamps (∝ grid points). */
  private def gridFrame(idx: TagIndex, grid: Grid): DataFrame =
    idx.labeled.sparkSession.range(grid.n).select(
      ((lit(grid.startUs) + col("id") * lit(grid.stepUs)) / lit(1000000L))
        .cast("long").as("t_sec"))

  /** Ordered-fold helper shared by the counter functions: per-series
    * PER-WINDOW deltas in sample order (ties broken by event_id).
    */
  private def withDelta(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tsid"), col("t_sec"))
      .orderBy(col("ts"), col("event_id"))
    df.withColumn("__prev", lag(col("value"), 1).over(w))
      .withColumn("__d", col("value") - col("__prev"))
  }

  private def evalNode(idx: TagIndex, e: Expr, grid: Grid,
      lookbackSec: Long): Either[Vec, Double] = e match {

    case Num(v) => Right(v)

    case TimeE =>
      require(grid.n == 1, "time() is supported for instant queries")
      Right(grid.startUs / 1e6)

    case Func("vector", arg, _) =>
      // scalar → no-label vector, one entry per grid timestamp
      val d = evalNode(idx, arg, grid, lookbackSec) match {
        case Right(x) => x
        case Left(_) => sys.error("vector() needs a scalar argument")
      }
      Left(Vec(gridFrame(idx, grid).withColumn("value", lit(d)), Seq.empty))

    case Func("timestamp", sel @ Sel(_, None, _, _, _), _) =>
      // timestamp(v): each sample's own timestamp (epoch seconds,
      // µs-fractional) instead of its value — last sample in lookback
      val df = window(idx, sel, grid, lookbackSec)
        .groupBy(col("tsid") +: col("t_sec") +: idx.labelNames.map(col): _*)
        .agg((max_by(unix_micros(col("ts")), struct(col("ts"), col("event_id")))
          .cast("double") / lit(1e6)).as("value"))
      Left(Vec(df, idx.labelNames))

    case Func("timestamp", _, _) =>
      sys.error("timestamp() needs an instant selector argument")

    case sel @ Sel(_, None, _, _, _) =>
      // instant vector: last sample per series within the lookback
      val df = window(idx, sel, grid, lookbackSec)
        .groupBy(col("tsid") +: col("t_sec") +: idx.labelNames.map(col): _*)
        .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("value"))
      Left(Vec(df, idx.labelNames))

    case Sel(_, Some(_), _, _, _) =>
      sys.error("range selector must be the argument of a range function (e.g. rate({...}[5m]))")

    case SubQ(_, _, _) =>
      sys.error("subquery must be the argument of a range function (e.g. max_over_time(expr[1h:10m]))")

    case Func(name, sel @ Sel(_, Some(range), _, _, _), sArg) if rangeFuncs(name) =>
      val w = window(idx, sel, grid, range)
      val keys = col("tsid") +: col("t_sec") +: idx.labelNames.map(col)
      val df = name match {
        case "quantile_over_time" => w.groupBy(keys: _*)
          // exact interpolated percentile ≡ DuckDB quantile_cont (the
          // B29 parity precedent)
          .agg(expr(s"percentile(value, ${sArg.get}D)").as("value"))
        case "stddev_over_time" => w.groupBy(keys: _*)
          .agg(stddev_pop(col("value")).as("value"))
        case "stdvar_over_time" => w.groupBy(keys: _*)
          .agg(var_pop(col("value")).as("value"))
        case "sum_over_time" => w.groupBy(keys: _*).agg(sum(col("value")).as("value"))
        case "avg_over_time" => w.groupBy(keys: _*).agg(avg(col("value")).as("value"))
        case "min_over_time" => w.groupBy(keys: _*).agg(min(col("value")).as("value"))
        case "max_over_time" => w.groupBy(keys: _*).agg(max(col("value")).as("value"))
        case "count_over_time" => w.groupBy(keys: _*).agg(count(lit(1)).cast("double").as("value"))
        case "last_over_time" => w.groupBy(keys: _*)
          .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("value"))
        case "present_over_time" => w.groupBy(keys: _*)
          .agg(max(lit(1.0)).as("value"))
        case "mad_over_time" =>
          // median absolute deviation: exact median per window, then the
          // exact median of |x − med| — two partial aggs + one broadcast
          // join back (the B36 shape on the grid keys)
          val med = w.groupBy(keys: _*)
            .agg(expr("percentile(value, 0.5D)").as("__med"))
          w.join(broadcast(med), "tsid" +: "t_sec" +: idx.labelNames)
            .groupBy(keys: _*)
            .agg(expr("percentile(abs(value - __med), 0.5D)").as("value"))
        case "delta" => w.groupBy(keys: _*)
          .agg((max_by(col("value"), struct(col("ts"), col("event_id")))
            - min_by(col("value"), struct(col("ts"), col("event_id")))).as("value"))
        case "idelta" => withDelta(w).filter(col("__prev").isNotNull)
          .groupBy(keys: _*)
          .agg(max_by(col("__d"), struct(col("ts"), col("event_id"))).as("value"))
        case "changes" => withDelta(w).groupBy(keys: _*)
          .agg(sum(when(col("__prev").isNotNull && col("__d") =!= 0, 1)
            .otherwise(0)).cast("double").as("value"))
        case "resets" => withDelta(w).groupBy(keys: _*)
          .agg(sum(when(col("__d") < 0, 1).otherwise(0)).cast("double").as("value"))
        case "deriv" | "predict_linear" =>
          // least-squares slope per series per window; x = seconds before
          // the grid timestamp (well-conditioned: |x| ≤ range). The same
          // moment sums are the DuckDB oracle's formula — associativity
          // noise only, absorbed by the gate's quantization.
          val x = (unix_micros(col("ts")).cast("double") / lit(1e6)) -
            col("t_sec").cast("double")
          val m = w.groupBy(keys: _*).agg(
            count(lit(1)).cast("double").as("__n"),
            sum(x).as("__sx"), sum(col("value")).as("__sy"),
            sum(x * x).as("__sxx"), sum(x * col("value")).as("__sxy"))
          val denom = col("__n") * col("__sxx") - col("__sx") * col("__sx")
          val slope = (col("__n") * col("__sxy") - col("__sx") * col("__sy")) / denom
          val v =
            if (name == "deriv") slope
            // intercept at x=0 (the grid timestamp) + slope·t
            else (col("__sy") - slope * col("__sx")) / col("__n") +
              slope * lit(sArg.get)
          m.filter(col("__n") >= 2 && denom =!= 0.0)
            .select(col("tsid") +: col("t_sec") +: idx.labelNames.map(col) :+ v.as("value"): _*)
        case "irate" =>
          // instantaneous rate: counter delta of the LAST sample pair
          // over its own time gap
          val wd = Window.partitionBy(col("tsid"), col("t_sec"))
            .orderBy(col("ts"), col("event_id"))
          val last = w
            .withColumn("__prev", lag(col("value"), 1).over(wd))
            .withColumn("__pus", lag(unix_micros(col("ts")), 1).over(wd))
            .filter(col("__prev").isNotNull && unix_micros(col("ts")) > col("__pus"))
            .withColumn("__d", col("value") - col("__prev"))
            .withColumn("__r",
              when(col("__d") >= 0, col("__d")).otherwise(col("value")) /
                ((unix_micros(col("ts")) - col("__pus")).cast("double") / lit(1e6)))
          last.groupBy(keys: _*)
            .agg(max_by(col("__r"), struct(col("ts"), col("event_id"))).as("value"))
        case "increase" | "rate" =>
          // counter semantics: Σ max(Δ,0), a reset (Δ<0) contributes the
          // post-reset value; series need ≥2 samples in the window.
          // OPT-IN boundary extrapolation (round 11, the #1 conformance
          // divergence): with `graft.promql.extrapolate=true` the
          // sampled delta is scaled to the window edges exactly like
          // B39/Tsdb.rateExtrapolated (public semantics:
          // promql/functions.go extrapolatedRate) — at most half an
          // average sample interval per side (edge gaps ≥ 1.1× the
          // average interval read as series start/end), never past the
          // counter's zero point (the repo's pinned operation order:
          // zero-point cap before the threshold pick). Default stays
          // the raw ordered-delta sum — graft's documented divergence.
          val extrapolate = idx.samples.sparkSession.conf
            .getOption("graft.promql.extrapolate").exists(_.toBoolean)
          if (!extrapolate) {
            val inc = withDelta(w)
              .withColumn("__c", when(col("__prev").isNull, lit(0.0))
                .when(col("__d") >= 0, col("__d")).otherwise(col("value")))
              .groupBy(keys: _*)
              .agg(sum(col("__c")).as("__inc"), count(lit(1)).as("__n"))
              .filter(col("__n") >= 2)
            val v = if (name == "rate") (col("__inc") / lit(range.toDouble)) else col("__inc")
            inc.select(col("tsid") +: col("t_sec") +: idx.labelNames.map(col) :+ v.as("value"): _*)
          } else {
            val agg = withDelta(w)
              .withColumn("__c", when(col("__prev").isNull, lit(0.0))
                .when(col("__d") >= 0, col("__d")).otherwise(col("value")))
              .withColumn("__us", unix_micros(col("ts")))
              .groupBy(keys: _*)
              .agg(sum(col("__c")).as("__inc"), count(lit(1)).as("__n"),
                min(col("__us")).as("__umin"), max(col("__us")).as("__umax"),
                min_by(col("value"), struct(col("ts"), col("event_id")))
                  .as("__fv"))
              .filter(col("__n") >= 2 && col("__umax") > col("__umin"))
            val sampled = (col("__umax") - col("__umin")) / lit(1e6)
            val avgIv = sampled / (col("__n") - lit(1))
            val thresh = avgIv * lit(1.1)
            val dStart0 = col("__umin") / lit(1e6) -
              (col("t_sec") - lit(range)).cast("double")
            val dEnd = col("t_sec").cast("double") - col("__umax") / lit(1e6)
            val dStart = when(col("__inc") > 0 && col("__fv") >= 0,
              least(dStart0, sampled * (col("__fv") / col("__inc"))))
              .otherwise(dStart0)
            val extrapIv = sampled +
              when(dStart < thresh, dStart).otherwise(avgIv / lit(2)) +
              when(dEnd < thresh, dEnd).otherwise(avgIv / lit(2))
            val inc = col("__inc") * (extrapIv / sampled)
            val v = if (name == "rate") inc / lit(range.toDouble) else inc
            agg.select(col("tsid") +: col("t_sec") +:
              idx.labelNames.map(col) :+ v.as("value"): _*)
          }
      }
      Left(Vec(df, idx.labelNames))

    case Func(name, sq: SubQ, sArg) if rangeFuncs(name) =>
      // subquery: ONE inner grid (step = the subquery step) spans every
      // outer window; its points are the "samples" the outer range
      // function folds, each assigned to the outer grid indices whose
      // window [T_i − range, T_i] contains it — the same arithmetic
      // explode as window(), so range queries over subqueries are one
      // plan too. Inner point order (`__it`) replaces sample order; for
      // an instant query (n = 1) this degenerates to the single-window
      // fold. Like Prometheus (promql/engine.go subquery evaluation),
      // inner points sit at ABSOLUTE multiples of the step since epoch
      // — the first point is (outerStart − range) rounded UP to a step
      // multiple, so results are invariant to sub-step shifts of the
      // eval time (for step-aligned eval times the rounding is a no-op,
      // which keeps the DuckDB oracle's replay identical).
      val rangeUs = sq.rangeSec * 1000000L
      val stepUs = sq.stepSec * 1000000L
      val innerStart = math.floorDiv(grid.startUs - rangeUs + stepUs - 1, stepUs) * stepUs
      val innerEnd = grid.startUs + (grid.n - 1).toLong * grid.stepUs
      val inner = Grid(innerStart, stepUs, ((innerEnd - innerStart) / stepUs).toInt + 1)
      val v = evalNode(idx, sq.arg, inner, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error("subquery needs a vector inner expression")
      }
      require(v.labels.nonEmpty, "subquery inner expression must keep at least one label")
      val ptUs = col("t_sec") * lit(1000000L)
      val iMin = greatest(lit(0L),
        ceil((ptUs - lit(grid.startUs)).cast("double") / lit(grid.stepUs.toDouble)))
      val iMax = least(lit((grid.n - 1).toLong),
        floor((ptUs - lit(grid.startUs) + lit(rangeUs)).cast("double") / lit(grid.stepUs.toDouble)))
      val pts = v.df.withColumn("__it", col("t_sec"))
        .filter(iMax >= iMin)
        .withColumn("__i", explode(sequence(iMin, iMax)))
        .withColumn("t_sec",
          ((lit(grid.startUs) + col("__i") * lit(grid.stepUs)) / lit(1000000L)).cast("long"))
      val keys = (v.labels :+ "t_sec").map(col)
      val w = Window.partitionBy(keys: _*).orderBy(col("__it"))
      def withD = pts.withColumn("__prev", lag(col("value"), 1).over(w))
        .withColumn("__d", col("value") - col("__prev"))
      val df0 = name match {
        case "sum_over_time" => pts.groupBy(keys: _*).agg(sum(col("value")).as("value"))
        case "avg_over_time" => pts.groupBy(keys: _*).agg(avg(col("value")).as("value"))
        case "min_over_time" => pts.groupBy(keys: _*).agg(min(col("value")).as("value"))
        case "max_over_time" => pts.groupBy(keys: _*).agg(max(col("value")).as("value"))
        case "count_over_time" => pts.groupBy(keys: _*)
          .agg(count(lit(1)).cast("double").as("value"))
        case "last_over_time" => pts.groupBy(keys: _*)
          .agg(max_by(col("value"), col("__it")).as("value"))
        case "present_over_time" => pts.groupBy(keys: _*)
          .agg(max(lit(1.0)).as("value"))
        case "mad_over_time" =>
          val med = pts.groupBy(keys: _*)
            .agg(expr("percentile(value, 0.5D)").as("__med"))
          pts.join(broadcast(med), v.labels :+ "t_sec")
            .groupBy(keys: _*)
            .agg(expr("percentile(abs(value - __med), 0.5D)").as("value"))
        case "quantile_over_time" => pts.groupBy(keys: _*)
          .agg(expr(s"percentile(value, ${sArg.get}D)").as("value"))
        case "stddev_over_time" => pts.groupBy(keys: _*)
          .agg(stddev_pop(col("value")).as("value"))
        case "stdvar_over_time" => pts.groupBy(keys: _*)
          .agg(var_pop(col("value")).as("value"))
        case "delta" => pts.groupBy(keys: _*)
          .agg((max_by(col("value"), col("__it"))
            - min_by(col("value"), col("__it"))).as("value"))
        case "idelta" => withD.filter(col("__prev").isNotNull)
          .groupBy(keys: _*).agg(max_by(col("__d"), col("__it")).as("value"))
        case "changes" => withD.groupBy(keys: _*)
          .agg(sum(when(col("__prev").isNotNull && col("__d") =!= 0, 1)
            .otherwise(0)).cast("double").as("value"))
        case "resets" => withD.groupBy(keys: _*)
          .agg(sum(when(col("__d") < 0, 1).otherwise(0)).cast("double").as("value"))
        case "deriv" | "predict_linear" =>
          // grid points as samples: x = seconds before the outer T_i
          val x = col("__it").cast("double") - col("t_sec").cast("double")
          val m = pts.groupBy(keys: _*).agg(
            count(lit(1)).cast("double").as("__n"),
            sum(x).as("__sx"), sum(col("value")).as("__sy"),
            sum(x * x).as("__sxx"), sum(x * col("value")).as("__sxy"))
          val denom = col("__n") * col("__sxx") - col("__sx") * col("__sx")
          val slope = (col("__n") * col("__sxy") - col("__sx") * col("__sy")) / denom
          val value =
            if (name == "deriv") slope
            else (col("__sy") - slope * col("__sx")) / col("__n") +
              slope * lit(sArg.get)
          m.filter(col("__n") >= 2 && denom =!= 0.0)
            .select(keys :+ value.as("value"): _*)
        case "irate" =>
          val last = pts
            .withColumn("__prev", lag(col("value"), 1).over(w))
            .withColumn("__pt", lag(col("__it"), 1).over(w))
            .filter(col("__prev").isNotNull && col("__it") > col("__pt"))
            .withColumn("__d", col("value") - col("__prev"))
            .withColumn("__r",
              when(col("__d") >= 0, col("__d")).otherwise(col("value")) /
                (col("__it") - col("__pt")).cast("double"))
          last.groupBy(keys: _*).agg(max_by(col("__r"), col("__it")).as("value"))
        case "increase" | "rate" =>
          val inc = withD
            .withColumn("__c", when(col("__prev").isNull, lit(0.0))
              .when(col("__d") >= 0, col("__d")).otherwise(col("value")))
            .groupBy(keys: _*)
            .agg(sum(col("__c")).as("__inc"), count(lit(1)).as("__n"))
            .filter(col("__n") >= 2)
          val value = if (name == "rate") col("__inc") / lit(sq.rangeSec.toDouble)
            else col("__inc")
          inc.select(keys :+ value.as("value"): _*)
      }
      Left(Vec(df0, v.labels))

    case Func(n, _, _) if nativeHistFuncs(n) =>
      sys.error(s"$n() evaluates over NATIVE histograms — use " +
        "NativeHist.eval against a native-histogram sample series")
    case HistFrac(_, _, _) =>
      sys.error("histogram_fraction() evaluates over NATIVE histograms " +
        "— use NativeHist.eval against a native-histogram sample series")

    case Func("histogram_quantile", arg, Some(q)) =>
      // classic-bucket quantile over ANY vector carrying an `le` label
      // (numeric bounds + "+Inf"), grouped by the remaining labels per
      // grid timestamp. The bucket array per group is ∝ #buckets (a
      // schema-scale constant), so the collect_list is bounded; the
      // interpolation is the B19 arithmetic generalized to runtime
      // bounds — rank into the first bucket with cum ≥ rank, linear
      // within (lo, le], +Inf resolving to the largest finite bound
      // (Prometheus's convention).
      val v = evalNode(idx, arg, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error("histogram_quantile needs a vector argument")
      }
      require(v.labels.contains("le"),
        s"histogram_quantile needs an `le` label, got ${v.labels}")
      val outLabels = v.labels.filterNot(_ == "le")
      val gKeys = (outLabels :+ "t_sec").map(col)
      val b = v.df.withColumn("__le",
        when(col("le") === "+Inf", lit(Double.PositiveInfinity))
          .otherwise(col("le").cast("double")))
      val g = b.groupBy(gKeys: _*)
        .agg(sort_array(collect_list(struct(col("__le").as("le"),
          col("value").as("c")))).as("bs"))
        .withColumn("__total", element_at(col("bs"), -1).getField("c"))
        .withColumn("__rank", col("__total") * lit(q))
        .withColumn("__hit", element_at(expr("filter(bs, x -> x.c >= __rank)"), 1))
        .withColumn("__fin", expr(s"filter(bs, x -> x.le <> cast('Infinity' as double))"))
        .withColumn("__prev",
          expr("element_at(filter(bs, x -> x.le < __hit.le), -1)"))
      val lo = coalesce(col("__prev").getField("le"), lit(0.0))
      val cPrev = coalesce(col("__prev").getField("c"), lit(0.0))
      val leB = col("__hit").getField("le")
      val cB = col("__hit").getField("c")
      val value = when(col("__total") <= 0 || col("__hit").isNull, lit(Double.NaN))
        .when(leB === lit(Double.PositiveInfinity),
          element_at(col("__fin"), -1).getField("le"))
        .otherwise(lo + (col("__rank") - cPrev) / (cB - cPrev) * (leB - lo))
      Left(Vec(g.select(gKeys :+ value.as("value"): _*), outLabels))

    case Func("scalar", arg, _) =>
      // exactly-one-series vector → scalar per grid timestamp (NaN
      // otherwise); the empty label set then broadcasts in arithmetic
      // like time()/vector()
      val v = evalNode(idx, arg, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error("scalar() needs a vector argument")
      }
      val agg = v.df.groupBy(col("t_sec"))
        .agg(count(lit(1)).as("__n"), max(col("value")).as("__v"))
      // left-join onto the grid so timestamps with NO series still emit
      // NaN (Prometheus yields NaN at every evaluation point; without
      // this, sparse vectors silently drop grid points)
      val df = gridFrame(idx, grid).join(broadcast(agg), Seq("t_sec"), "left")
        .select(col("t_sec"),
          when(col("__n") === 1, col("__v")).otherwise(lit(Double.NaN)).as("value"))
      Left(Vec(df, Seq.empty))

    case Func(name, arg, _) if name == "sort" || name == "sort_desc" =>
      // presentation ordering by value (label tie-breaks for
      // determinism); content is unchanged — PromQlSpec pins the order
      val v = evalNode(idx, arg, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error(s"$name() needs a vector argument")
      }
      val tie = v.labels.map(col(_).asc)
      val ord = if (name == "sort") col("value").asc_nulls_last +: tie
        else col("value").desc_nulls_last +: tie
      Left(v.copy(df = v.df.orderBy(ord: _*)))

    case HW(sel @ Sel(_, Some(range), _, _, _), sf, tf) =>
      // double exponential smoothing per series per window. The window
      // buffers in an array (∝ range — the same bound Prometheus's
      // range-vector buffer has) sorted by (ts, event_id); the fold is
      // the B20 recurrence with parameterized factors, s₂ recomputed
      // textually inside the b update exactly like the recursive-CTE
      // oracle so doubles match bit-for-bit before rounding.
      val w = window(idx, sel, grid, range)
      val keys = col("tsid") +: col("t_sec") +: idx.labelNames.map(col)
      val sfS = sf.toString; val tfS = tf.toString
      val csS = (1 - sf).toString; val ctS = (1 - tf).toString
      val arr = w.groupBy(keys: _*)
        .agg(sort_array(collect_list(struct(
          unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
          col("value").as("v")))).as("l"))
        .filter(size(col("l")) >= 2)
      val folded = arr.withColumn("value", expr(
        s"""aggregate(slice(l, 3, greatest(size(l) - 2, 0)),
           |  named_struct(
           |    's', cast(element_at(l, 2).v as double),
           |    'b', cast(element_at(l, 2).v - element_at(l, 1).v as double)),
           |  (acc, x) -> named_struct(
           |    's', ${sfS}D * x.v + ${csS}D * (acc.s + acc.b),
           |    'b', ${tfS}D * (${sfS}D * x.v + ${csS}D * (acc.s + acc.b) - acc.s)
           |         + ${ctS}D * acc.b),
           |  acc -> acc.s)""".stripMargin))
      Left(Vec(folded.select(col("t_sec") +: idx.labelNames.map(col)
        :+ col("value"): _*), idx.labelNames))

    case HW(sq: SubQ, sf, tf) =>
      // subquery form: the inner grid's points replace samples; the
      // same fold ordered by the inner timestamp
      val rangeUs = sq.rangeSec * 1000000L
      val stepUs = sq.stepSec * 1000000L
      val innerStart = math.floorDiv(grid.startUs - rangeUs + stepUs - 1, stepUs) * stepUs
      val innerEnd = grid.startUs + (grid.n - 1).toLong * grid.stepUs
      val inner = Grid(innerStart, stepUs, ((innerEnd - innerStart) / stepUs).toInt + 1)
      val v = evalNode(idx, sq.arg, inner, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error("subquery needs a vector inner expression")
      }
      val ptUs = col("t_sec") * lit(1000000L)
      val iMin = greatest(lit(0L),
        ceil((ptUs - lit(grid.startUs)).cast("double") / lit(grid.stepUs.toDouble)))
      val iMax = least(lit((grid.n - 1).toLong),
        floor((ptUs - lit(grid.startUs) + lit(rangeUs)).cast("double") / lit(grid.stepUs.toDouble)))
      val pts = v.df.withColumn("__it", col("t_sec"))
        .filter(iMax >= iMin)
        .withColumn("__i", explode(sequence(iMin, iMax)))
        .withColumn("t_sec",
          ((lit(grid.startUs) + col("__i") * lit(grid.stepUs)) / lit(1000000L)).cast("long"))
      val keys = (v.labels :+ "t_sec").map(col)
      val sfS = sf.toString; val tfS = tf.toString
      val csS = (1 - sf).toString; val ctS = (1 - tf).toString
      val arr = pts.groupBy(keys: _*)
        .agg(sort_array(collect_list(struct(col("__it").as("us"),
          col("value").as("v")))).as("l"))
        .filter(size(col("l")) >= 2)
      val folded = arr.withColumn("value", expr(
        s"""aggregate(slice(l, 3, greatest(size(l) - 2, 0)),
           |  named_struct(
           |    's', cast(element_at(l, 2).v as double),
           |    'b', cast(element_at(l, 2).v - element_at(l, 1).v as double)),
           |  (acc, x) -> named_struct(
           |    's', ${sfS}D * x.v + ${csS}D * (acc.s + acc.b),
           |    'b', ${tfS}D * (${sfS}D * x.v + ${csS}D * (acc.s + acc.b) - acc.s)
           |         + ${ctS}D * acc.b),
           |  acc -> acc.s)""".stripMargin))
      Left(Vec(folded.select((v.labels :+ "t_sec").map(col)
        :+ col("value"): _*), v.labels))

    case HW(_, _, _) =>
      sys.error("holt_winters needs a range selector or subquery argument")

    case Func(name, _, _) if rangeFuncs(name) =>
      sys.error(s"$name needs a range selector argument, e.g. $name({...}[5m])")

    case Func("absent_over_time", sel @ Sel(_, Some(range), _, _, _), _) =>
      // 1 at every grid timestamp whose whole [T_i - range, T_i] window
      // holds no sample of the selector — the range twin of absent()
      val covered = window(idx, sel, grid, range).select("t_sec").distinct()
      val lbls = absentLabels(sel)
      val df = lbls.foldLeft(
        gridFrame(idx, grid)
          .join(covered, Seq("t_sec"), "left_anti")
          .withColumn("value", lit(1.0))) {
        case (d, (n, v)) => d.withColumn(n, lit(v))
      }
      Left(Vec(df, lbls.map(_._1)))

    case Func("absent_over_time", _, _) =>
      sys.error("absent_over_time needs a range selector argument")

    case Func("absent", arg, _) =>
      // alerting primitive: 1 at every grid timestamp where the
      // argument vector is EMPTY — grid frame anti-joined with the
      // vector's covered timestamps (both sides tiny: ∝ grid points).
      // Like Prometheus, the result carries the labels of the
      // selector's equality matchers (each name used at most once) so
      // an alert on absent(up{job="x"}) still names the job.
      val v = evalNode(idx, arg, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error("absent() needs a vector argument")
      }
      val lbls = absentLabels(arg)
      val df = lbls.foldLeft(
        gridFrame(idx, grid)
          .join(v.df.select("t_sec").distinct(), Seq("t_sec"), "left_anti")
          .withColumn("value", lit(1.0))) {
        case (d, (n, w)) => d.withColumn(n, lit(w))
      }
      Left(Vec(df, lbls.map(_._1)))

    case Func(name, arg, sArg) =>
      evalNode(idx, arg, grid, lookbackSec) match {
        case Right(d) => Right(applyScalarD(name, d, sArg))
        case Left(v) =>
          Left(v.copy(df = v.df.withColumn("value", applyScalarC(name, col("value"), sArg))))
      }

    case LabelFunc(name, arg, strArgs) =>
      val v = evalNode(idx, arg, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error(s"$name() needs a vector argument")
      }
      name match {
        case "sort_by_label" | "sort_by_label_desc" =>
          // presentation ordering by the given labels (then the
          // remaining labels, then value — deterministic total order);
          // content unchanged, ordering pinned by PromQlSpec
          val bad = strArgs.filterNot(v.labels.contains)
          require(bad.isEmpty,
            s"$name labels (${bad.mkString(",")}) not in vector labels ${v.labels}")
          val rest = v.labels.filterNot(strArgs.contains)
          val keys = (strArgs ++ rest).map(col) :+ col("value")
          val ord = if (name == "sort_by_label") keys.map(_.asc)
            else keys.map(_.desc)
          Left(v.copy(df = v.df.orderBy(ord: _*)))

        case "label_replace" =>
          val Seq(dst, replacement, src, regex) = strArgs
          require(v.labels.contains(src),
            s"label_replace src '$src' not in vector labels ${v.labels}")
          // PromQL: if the ANCHORED regex matches the src value, dst is
          // set to the expansion; otherwise the entry is unchanged (an
          // absent dst stays empty — Prometheus's empty≡absent rule)
          val anchored = "^(?:" + regex + ")$"
          val matched = col(src).rlike(anchored)
          val expansion = regexp_replace(col(src), anchored, replacement)
          val dstCol =
            if (v.labels.contains(dst)) when(matched, expansion).otherwise(col(dst))
            else when(matched, expansion).otherwise(lit(""))
          Left(Vec(v.df.withColumn(dst, dstCol),
            if (v.labels.contains(dst)) v.labels else v.labels :+ dst))
        case "label_join" =>
          val dst = strArgs.head; val sep = strArgs(1); val srcs = strArgs.drop(2)
          val bad = srcs.filterNot(v.labels.contains)
          require(bad.isEmpty, s"label_join srcs $bad not in vector labels ${v.labels}")
          Left(Vec(v.df.withColumn(dst, concat_ws(sep, srcs.map(col): _*)),
            if (v.labels.contains(dst)) v.labels else v.labels :+ dst))
      }

    case Agg(op, by, without, arg, param, vLabel) =>
      val v = evalNode(idx, arg, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error(s"$op() needs a vector argument")
      }
      val bad = by.filterNot(v.labels.contains)
      require(bad.isEmpty, s"by(${bad.mkString(",")}) not in vector labels ${v.labels}")
      // `without (l...)` keeps the complement of the dropped labels
      val keep = if (without.nonEmpty) v.labels.filterNot(without.contains) else by
      if (op == "count_values") {
        // the sample value becomes a label: group by its canonical string
        // form (integral doubles print as integers — the form a DuckDB
        // CAST(CAST(x AS BIGINT) AS VARCHAR) oracle reproduces; anything
        // else keeps Spark's double rendering)
        val lbl = vLabel.get
        require(!keep.contains(lbl) && lbl != "t_sec" && lbl != "value",
          s"count_values label '$lbl' collides with a grouping column")
        val canon = when(col("value") === floor(col("value")) &&
            abs(col("value")) < lit(1e15),
          col("value").cast("long").cast("string"))
          .otherwise(col("value").cast("string"))
        val df = v.df.withColumn(lbl, canon)
          .groupBy((keep :+ lbl :+ "t_sec").map(col): _*)
          .agg(count(lit(1)).cast("double").as("value"))
        Left(Vec(df, keep :+ lbl))
      } else {
        val a = op match {
          case "sum" => sum(col("value")); case "avg" => avg(col("value"))
          case "min" => min(col("value")); case "max" => max(col("value"))
          case "count" => count(lit(1)).cast("double")
          case "stddev" => stddev_pop(col("value"))
          case "stdvar" => var_pop(col("value"))
          case "group" => max(lit(1.0))
          // exact interpolated percentile ≡ DuckDB quantile_cont
          case "quantile" => expr(s"percentile(value, ${param.get}D)")
        }
        // the grid timestamp is always part of the group key: PromQL
        // aggregation is per-evaluation-timestamp
        val df = v.df.groupBy((keep :+ "t_sec").map(col): _*).agg(a.as("value"))
        Left(Vec(df, keep))
      }

    case TopK(op, k, arg, by, without) =>
      val v = evalNode(idx, arg, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error(s"$op() needs a vector argument")
      }
      val bad = by.filterNot(v.labels.contains)
      require(bad.isEmpty, s"by(${bad.mkString(",")}) not in vector labels ${v.labels}")
      // `topk by (l...)`: k winners PER GROUP (the grouped-ranking form);
      // plain topk is the global per-timestamp special case
      val groups = if (without.nonEmpty) v.labels.filterNot(without.contains) else by
      // per-timestamp k, value-ordered with full-label tie-break:
      // stable under any partitioning (DeterminismSpec discipline).
      // limitk ranks by LABEL order alone — Prometheus returns an
      // arbitrary k-subset; the deterministic first-k-by-labels choice
      // is this engine's documented refinement (oracle-replayable)
      val ord =
        if (op == "topk") col("value").desc +: v.labels.map(col(_).asc)
        else if (op == "bottomk") col("value").asc +: v.labels.map(col(_).asc)
        else v.labels.map(col(_).asc)
      val w = Window.partitionBy((groups :+ "t_sec").map(col): _*).orderBy(ord: _*)
      Left(v.copy(df = v.df.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= k).drop("__rk")))

    case LimitRatio(r, arg) =>
      val v = evalNode(idx, arg, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error("limit_ratio() needs a vector argument")
      }
      // deterministic per-series hash in [0, 1): top 53 bits of the
      // xxhash64 over the canonical label encoding (the same identity
      // hash the tsid uses). r ≥ 0 keeps frac < r; r < 0 keeps the
      // exact complement (frac ≥ 1+r), so ratios r and r−1 partition
      // the vector — Prometheus's documented complement property.
      val frac = shiftrightunsigned(
          xxhash64(concat_ws("\u0000", v.labels.map(col): _*)), 11)
        .cast("double") / lit(9007199254740992.0)
      val keep = if (r >= 0) frac < lit(r) else frac >= lit(1.0 + r)
      Left(v.copy(df = v.df.filter(keep)))

    case VecMatch(op, mLabels, ignoring, group, lhs, rhs, carry) =>
      // B23's vector matching: join on the match labels (+ grid
      // timestamp). `on(l...)` matches on exactly those labels;
      // `ignoring(l...)` matches on the complement. The group side
      // (group_left → lhs, group_right → rhs) is the MANY side and keeps
      // its extra labels; `group_left(c...)` additionally COPIES the
      // listed one-side labels onto the result. Without a modifier both
      // sides must reduce to the match labels (one-to-one).
      val a = evalNode(idx, lhs, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error("explicit vector matching needs vector operands")
      }
      val b = evalNode(idx, rhs, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error("explicit vector matching needs vector operands")
      }
      val (many, one) = group match {
        case Some("right") => (b, a)
        case _ => (a, b)
      }
      val keys =
        if (ignoring) one.labels.filterNot(l => mLabels.contains(l) || carry.contains(l))
        else mLabels
      val badM = keys.filterNot(many.labels.contains)
      require(badM.isEmpty,
        s"match labels (${badM.mkString(",")}) not in many-side labels ${many.labels}")
      val badC = carry.filterNot(one.labels.contains)
      require(badC.isEmpty,
        s"carried labels (${badC.mkString(",")}) not in one-side labels ${one.labels}")
      require(carry.forall(!many.labels.contains(_)),
        s"carried labels $carry collide with many-side labels ${many.labels}")
      require(one.labels.filterNot(l =>
          (ignoring && mLabels.contains(l)) || carry.contains(l))
          .sorted == keys.sorted,
        s"the one side must reduce to the match labels $keys (+ carried " +
          s"$carry), got ${one.labels}")
      if (group.isEmpty)
        require(many.labels.filterNot(l => ignoring && mLabels.contains(l))
            .sorted == keys.sorted,
          s"without group_left/group_right both sides must reduce to match " +
            s"labels $keys, got ${many.labels}")
      // result labels: the many side's full set (+ carried one-side
      // labels) under a group modifier, the match labels alone for
      // one-to-one (ignored labels drop)
      val outLabels = if (group.isDefined) many.labels ++ carry else keys
      val jkeys = keys :+ "t_sec"
      val l = a.df.select(
        (outLabels.filter(a.labels.contains) ++ jkeys).distinct.map(col) :+
          col("value").as("__l"): _*)
      val r = b.df.select(
        (outLabels.filterNot(a.labels.contains).filter(b.labels.contains) ++ jkeys)
          .distinct.map(col) :+ col("value").as("__r"): _*)
      // the ONE side is by definition reduced to the match labels —
      // ∝ #series × grid points, always the broadcast-sized operand —
      // so the final match never shuffles the many side (post-agg
      // stats are unknown to Catalyst, which would otherwise pick a
      // sort-merge join here)
      val j =
        if (one eq b) l.join(broadcast(r), jkeys)
          .withColumn("value", binC(op, col("__l"), col("__r")))
        else broadcast(l).join(r, jkeys)
          .withColumn("value", binC(op, col("__l"), col("__r")))
      Left(Vec(j, outLabels))

    case Bin(op, lhs, rhs) if op == "and" || op == "or" || op == "unless" =>
      // PromQL set algebra on the label identity (B26's semantics):
      // and = semi-join, unless = anti-join, or = left side plus the
      // right-side entries with no left match — per grid timestamp
      val a = evalNode(idx, lhs, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error(s"$op needs vector operands")
      }
      val b = evalNode(idx, rhs, grid, lookbackSec) match {
        case Left(x) => x
        case Right(_) => sys.error(s"$op needs vector operands")
      }
      require(a.labels.sorted == b.labels.sorted,
        s"$op needs equal label sets, got ${a.labels} vs ${b.labels}")
      val keys = a.labels :+ "t_sec"
      val df = op match {
        case "and" => a.df.join(b.df.select(keys.map(col): _*), keys, "left_semi")
        case "unless" => a.df.join(b.df.select(keys.map(col): _*), keys, "left_anti")
        case "or" =>
          val aCut = a.df.select(keys.map(col) :+ col("value"): _*)
          val bOnly = b.df.select(keys.map(col) :+ col("value"): _*)
            .join(a.df.select(keys.map(col): _*), keys, "left_anti")
          aCut.unionByName(bOnly)
      }
      Left(Vec(df, a.labels))

    case Bin(op, lhs, rhs) if op.endsWith(" bool") =>
      // `cmp bool`: 0/1-valued comparison over every entry (no
      // filtering); the only legal scalar-scalar comparison form
      val base = op.stripSuffix(" bool")
      def flag(c: Column): Column = when(c, lit(1.0)).otherwise(lit(0.0))
      (evalNode(idx, lhs, grid, lookbackSec), evalNode(idx, rhs, grid, lookbackSec)) match {
        case (Right(a), Right(b)) =>
          Right(if (cmpD(base, a, b)) 1.0 else 0.0)
        case (Left(v), Right(b)) =>
          Left(v.copy(df = v.df.withColumn("value",
            flag(cmpC(base, col("value"), lit(b))))))
        case (Right(a), Left(v)) =>
          Left(v.copy(df = v.df.withColumn("value",
            flag(cmpC(base, lit(a), col("value"))))))
        case (Left(a), Left(b)) =>
          require(a.labels.sorted == b.labels.sorted,
            s"vector matching needs equal label sets, got ${a.labels} vs ${b.labels}")
          val keys = a.labels :+ "t_sec"
          val l = a.df.select(keys.map(col) :+ col("value").as("__l"): _*)
          val r = b.df.select(keys.map(col) :+ col("value").as("__r"): _*)
          val j = l.join(r, keys)
            .withColumn("value", flag(cmpC(base, col("__l"), col("__r"))))
            .drop("__l", "__r")
          Left(Vec(j, a.labels))
      }

    case Bin(op, lhs, rhs) if cmpOps(op) =>
      // PromQL filter comparison: keep vector entries where the
      // comparison holds, value unchanged
      (evalNode(idx, lhs, grid, lookbackSec), evalNode(idx, rhs, grid, lookbackSec)) match {
        case (Right(_), Right(_)) =>
          sys.error("scalar-scalar comparison is not supported (PromQL needs `bool`)")
        case (Left(v), Right(b)) =>
          Left(v.copy(df = v.df.filter(cmpC(op, col("value"), lit(b)))))
        case (Right(a), Left(v)) =>
          Left(v.copy(df = v.df.filter(cmpC(op, lit(a), col("value")))))
        case (Left(a), Left(b)) =>
          // a no-label side (vector()/absent() results) matches every
          // entry at its timestamp — broadcast per-t_sec join; otherwise
          // default one-to-one on the full shared label set
          if (a.labels.isEmpty || b.labels.isEmpty) {
            val (keep, noLbl, keepIsLhs) =
              if (b.labels.isEmpty) (a, b, true) else (b, a, false)
            val r = broadcast(noLbl.df.select(col("t_sec"), col("value").as("__s")))
            val j = keep.df.join(r, Seq("t_sec"))
            val (lv, rv) = if (keepIsLhs) (col("value"), col("__s"))
              else (col("__s"), col("value"))
            Left(Vec(j.filter(cmpC(op, lv, rv)).drop("__s"), keep.labels))
          } else {
            require(a.labels.sorted == b.labels.sorted,
              s"vector matching needs equal label sets, got ${a.labels} vs ${b.labels}")
            val keys = a.labels :+ "t_sec"
            val l = a.df.select(keys.map(col) :+ col("value").as("__l"): _*)
            val r = b.df.select(keys.map(col) :+ col("value").as("__r"): _*)
            val j = l.join(r, keys).filter(cmpC(op, col("__l"), col("__r")))
              .withColumn("value", col("__l"))
            Left(Vec(j, a.labels))
          }
      }

    case Bin(op, lhs, rhs) =>
      (evalNode(idx, lhs, grid, lookbackSec), evalNode(idx, rhs, grid, lookbackSec)) match {
        case (Right(a), Right(b)) => Right(binD(op, a, b))
        case (Left(v), Right(b)) =>
          Left(v.copy(df = v.df.withColumn("value", binC(op, col("value"), lit(b)))))
        case (Right(a), Left(v)) =>
          Left(v.copy(df = v.df.withColumn("value", binC(op, lit(a), col("value")))))
        case (Left(a), Left(b)) =>
          // a no-label side broadcasts onto the other per t_sec (the
          // vector()/time() shape); otherwise default one-to-one
          // matching on the full shared label set, per evaluation
          // timestamp
          if (a.labels.isEmpty || b.labels.isEmpty) {
            val (keep, noLbl, keepIsLhs) =
              if (b.labels.isEmpty) (a, b, true) else (b, a, false)
            val r = broadcast(noLbl.df.select(col("t_sec"), col("value").as("__s")))
            val j = keep.df.join(r, Seq("t_sec"))
            val v = if (keepIsLhs) binC(op, col("value"), col("__s"))
              else binC(op, col("__s"), col("value"))
            Left(Vec(j.withColumn("value", v).drop("__s"), keep.labels))
          } else {
            require(a.labels.sorted == b.labels.sorted,
              s"vector matching needs equal label sets, got ${a.labels} vs ${b.labels}")
            val keys = a.labels :+ "t_sec"
            val l = a.df.select(keys.map(col) :+ col("value").as("__l"): _*)
            val r = b.df.select(keys.map(col) :+ col("value").as("__r"): _*)
            // both sides are per-series aggregates (∝ #series × grid),
            // so hash-join with the rhs broadcast — post-agg stats are
            // unknown and Catalyst would default to a sort-merge join
            val j = l.join(broadcast(r), keys)
              .withColumn("value", binC(op, col("__l"), col("__r")))
            Left(Vec(j, a.labels))
          }
      }
  }

  private def applyScalarC(name: String, v: Column, sArg: Option[Double]): Column =
    name match {
      case "abs" => abs(v); case "ceil" => ceil(v).cast("double")
      case "floor" => floor(v).cast("double"); case "exp" => exp(v)
      case "ln" => log(v); case "sqrt" => sqrt(v)
      case "log2" => log2(v); case "log10" => log10(v)
      case "sgn" => signum(v)
      case "sin" => sin(v); case "cos" => cos(v); case "tan" => tan(v)
      case "asin" => asin(v); case "acos" => acos(v); case "atan" => atan(v)
      case "sinh" => sinh(v); case "cosh" => cosh(v); case "tanh" => tanh(v)
      case "asinh" => asinh(v); case "acosh" => acosh(v); case "atanh" => atanh(v)
      case "deg" => degrees(v); case "rad" => radians(v)
      // Prometheus round(): nearest multiple of `to` (default 1), ties up
      case "round" =>
        val to = sArg.getOrElse(1.0)
        floor(v / lit(to) + lit(0.5)) * lit(to)
      case "clamp_min" => greatest(v, lit(sArg.get))
      case "clamp_max" => least(v, lit(sArg.get))
      // calendar components: the value is epoch seconds (UTC session);
      // Prometheus's day_of_week is 0=Sunday (Spark's dayofweek is 1=Sunday)
      case "hour" => hour(timestamp_seconds(floor(v))).cast("double")
      case "minute" => minute(timestamp_seconds(floor(v))).cast("double")
      case "day_of_week" =>
        (dayofweek(timestamp_seconds(floor(v))) - lit(1)).cast("double")
      case "day_of_month" => dayofmonth(timestamp_seconds(floor(v))).cast("double")
      case "month" => month(timestamp_seconds(floor(v))).cast("double")
      case "year" => year(timestamp_seconds(floor(v))).cast("double")
      case "days_in_month" =>
        dayofmonth(last_day(timestamp_seconds(floor(v)).cast("date"))).cast("double")
    }
  private def applyScalarD(name: String, v: Double, sArg: Option[Double]): Double =
    name match {
      case "abs" => math.abs(v); case "ceil" => math.ceil(v)
      case "floor" => math.floor(v); case "exp" => math.exp(v)
      case "ln" => math.log(v); case "sqrt" => math.sqrt(v)
      case "log2" => math.log(v) / math.log(2.0); case "log10" => math.log10(v)
      case "sgn" => math.signum(v)
      case "sin" => math.sin(v); case "cos" => math.cos(v); case "tan" => math.tan(v)
      case "asin" => math.asin(v); case "acos" => math.acos(v)
      case "atan" => math.atan(v)
      case "sinh" => math.sinh(v); case "cosh" => math.cosh(v)
      case "tanh" => math.tanh(v)
      // JDK Math has no inverse hyperbolics: the closed forms below are
      // the same ones Spark's Asinh/Acosh/Atanh expressions evaluate
      case "asinh" => math.log(v + math.sqrt(v * v + 1.0))
      case "acosh" => math.log(v + math.sqrt(v * v - 1.0))
      case "atanh" => 0.5 * math.log((1.0 + v) / (1.0 - v))
      case "deg" => math.toDegrees(v); case "rad" => math.toRadians(v)
      case "round" =>
        val to = sArg.getOrElse(1.0)
        math.floor(v / to + 0.5) * to
      case "clamp_min" => math.max(v, sArg.get)
      case "clamp_max" => math.min(v, sArg.get)
      case "hour" | "minute" | "day_of_week" | "day_of_month" | "month" |
           "year" | "days_in_month" =>
        val t = java.time.LocalDateTime.ofEpochSecond(
          math.floor(v).toLong, 0, java.time.ZoneOffset.UTC)
        (name match {
          case "hour" => t.getHour
          case "minute" => t.getMinute
          case "day_of_week" => t.getDayOfWeek.getValue % 7 // ISO Mon=1..Sun=7 → Sun=0
          case "day_of_month" => t.getDayOfMonth
          case "month" => t.getMonthValue
          case "year" => t.getYear
          case "days_in_month" => t.toLocalDate.lengthOfMonth
        }).toDouble
    }
  private def binC(op: String, a: Column, b: Column): Column = op match {
    case "+" => a + b; case "-" => a - b; case "*" => a * b; case "/" => a / b
    // `%` is Go math.Mod semantics (sign of the dividend) = Java/Spark
    // `%` on doubles = DuckDB fmod — one form on all three engines
    case "%" => a % b
    case "^" => pow(a, b)
    case "atan2" => atan2(a, b)
  }
  private def cmpC(op: String, a: Column, b: Column): Column = op match {
    case ">" => a > b; case "<" => a < b; case ">=" => a >= b
    case "<=" => a <= b; case "==" => a === b; case "!=" => a =!= b
  }
  private def cmpD(op: String, a: Double, b: Double): Boolean = op match {
    case ">" => a > b; case "<" => a < b; case ">=" => a >= b
    case "<=" => a <= b; case "==" => a == b; case "!=" => a != b
  }
  private def binD(op: String, a: Double, b: Double): Double = op match {
    case "+" => a + b; case "-" => a - b; case "*" => a * b; case "/" => a / b
    case "%" => a % b
    case "^" => math.pow(a, b)
    case "atan2" => math.atan2(a, b)
  }
}
