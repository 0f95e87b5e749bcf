package graft

import graft.functions.VecDot
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: parameterises plan literals
  * ([[graft.plans.ParamPlans]]) and registers graft's native
  * expressions so `spark.sql("... vec_dot(a, b) ...")` works in any
  * session built with `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // the same planner strategy graft's entry points install on plain
    // sessions (ParamPlans.install)
    e.injectPlannerStrategy(_ => graft.plans.ParamPlans.Strategy)
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VecDot(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("str_poly2"),
      new ExpressionInfo(classOf[graft.functions.DualPolyHash].getName, "str_poly2"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.DualPolyHash(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("simhash_fp"),
      new ExpressionInfo(classOf[graft.functions.SimHashAgg].getName, "simhash_fp"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.SimHashAgg(exprs(0), exprs(1))))
    // literal-int second arguments are folded at registration so SQL
    // callers write e.g. `freq_items(bucket, 1024)`; validated so a
    // wrong call fails with the function named, not a raw internal error
    def litInt(name: String,
        exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Int = {
      require(exprs.length == 2, s"$name expects 2 arguments (column, literal int)")
      val e = exprs(1)
      require(e.foldable, s"$name argument 2 must be a literal integer, got $e")
      e.eval() match {
        case n: Number => n.intValue()
        case other => throw new IllegalArgumentException(
          s"$name argument 2 must be a literal integer, got $other")
      }
    }
    e.injectFunction((
      FunctionIdentifier("freq_items"),
      new ExpressionInfo(classOf[graft.functions.FreqItemsAgg].getName, "freq_items"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.FreqItemsAgg(exprs(0), litInt("freq_items", exprs))))
    e.injectFunction((
      FunctionIdentifier("vec_sum"),
      new ExpressionInfo(classOf[graft.functions.VecSumAgg].getName, "vec_sum"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.VecSumAgg(exprs(0), litInt("vec_sum", exprs))))
    // bounded-heap top/bottom-k: `topk(v, a, b, 3)` — k is a folded
    // literal, like the capacity arguments above
    def litK(name: String,
        exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Int = {
      require(exprs.length == 4, s"$name expects 4 arguments (v, a, b, literal k)")
      val e = exprs(3)
      require(e.foldable, s"$name argument 4 must be a literal integer, got $e")
      e.eval() match {
        case n: Number => n.intValue()
        case other => throw new IllegalArgumentException(
          s"$name argument 4 must be a literal integer, got $other")
      }
    }
    e.injectFunction((
      FunctionIdentifier("topk"),
      new ExpressionInfo(classOf[graft.functions.TopKAgg].getName, "topk"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.TopKAgg(exprs(0), exprs(1), exprs(2), litK("topk", exprs))))
    e.injectFunction((
      FunctionIdentifier("bottomk"),
      new ExpressionInfo(classOf[graft.functions.TopKAgg].getName, "bottomk"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.functions.TopKAgg(exprs(0), exprs(1), exprs(2),
          litK("bottomk", exprs), asc = true)))
    // zorder2(x, y): the I11 Morton interleave as a SQL scalar — the
    // same constant-unrolled shift/mask tree Io.zorderValue builds, so
    // `CLUSTER BY zorder2(a, b)` works from plain SQL. 32 bits per
    // dimension fill the 64-bit z-value: keys up to 2^32-1 interleave
    // without aliasing (bits above 32 are ignored by construction).
    e.injectFunction((
      FunctionIdentifier("zorder2"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "zorder2"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{
          BitwiseAnd, BitwiseOr, Cast, Literal, ShiftLeft, ShiftRight}
        import org.apache.spark.sql.types.LongType
        require(exprs.length == 2, "zorder2 expects 2 arguments")
        val xi = Cast(exprs(0), LongType); val yi = Cast(exprs(1), LongType)
        (0 until 32).map { i =>
          BitwiseOr(
            ShiftLeft(BitwiseAnd(ShiftRight(xi, Literal(i)), Literal(1L)),
              Literal(2 * i)),
            ShiftLeft(BitwiseAnd(ShiftRight(yi, Literal(i)), Literal(1L)),
              Literal(2 * i + 1)))
        }.reduce(BitwiseOr(_, _))
      }))
    // bloom_agg(v, items, bits) / bloom_probe(bloom, v): the D10
    // sketch pair from SQL (build the binary in one aggregate, probe
    // it per row)
    e.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 3, "bloom_agg expects (value, items, bits)")
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.LongType
        // the aggregate requires BIGINT size args; SQL int literals
        // arrive as INT, so fold a cast in
        org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0),
            Cast(exprs(1), LongType), Cast(exprs(2), LongType), 0, 0)
      }))
    // index surface as table-valued functions — `SELECT * FROM
    // graft_match('/data', 'typ="click"')` etc. work from pure SQL
    // (the reference's adapter/SWIG reachability, swig/wrapper.h:1)
    graft.index.IndexSql.tvfs.foreach { case (name, builder) =>
      e.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(graft.index.IndexSql.getClass.getName, name),
        builder))
    }
    e.injectFunction((
      FunctionIdentifier("bloom_probe"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_probe"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 2, "bloom_probe expects (bloom, value)")
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(exprs(0), exprs(1))
      }))
  }
}
