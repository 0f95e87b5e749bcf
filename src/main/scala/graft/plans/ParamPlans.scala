package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Like, Literal, RLike,
  StringRegexExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, ProjectExec, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.types._

/** Parameterised plan literals: generated code that does not change
  * with a query's times, numbers or regexes.
  *
  * Spark writes every numeric, date and timestamp literal, and the
  * pattern of every `RLIKE`/`LIKE` with a constant pattern, into the
  * Java source it generates. The compiled-class cache is keyed by that
  * source, so each fresh time or regex is a new Janino compile (~20 ms
  * each, several per query). [[rewrite]] turns those literals into
  * [[ParamLiteral]]s and those regexes into [[ParamRLike]] /
  * [[ParamLike]]: they print and evaluate exactly as before, but their
  * generated code reads the value (or the compiled `Pattern`) from the
  * class's `references` array, so the source, and with it the compiled
  * class, is shared by every query of one shape.
  *
  * The rewrite covers filters, projections, generators, hash
  * aggregates, join conditions and the batch-statistics predicates of
  * in-memory scans. File and DSv2 scan nodes keep their literal pushed, data and
  * partition filters, so parquet row-group and partition pruning are
  * unchanged. Nothing is cached.
  *
  * [[Strategy]] applies it to the planner's output, before
  * `CollapseCodegenStages`; adaptive re-plans and subqueries plan their
  * roots through the same planner, so they are rewritten too. A session
  * built with [[graft.GraftExtensions]] carries it; any other session
  * gets it from [[install]], which graft's entry points call.
  */
object ParamPlans {

  /** Marks the root the strategy hands back to the planner. */
  private val Inner = TreeNodeTag[Unit]("graft.paramPlans.inner")

  /** Plans a query root with the session's own planner and rewrites the
    * result. Streaming micro-batches are left alone: they plan through
    * their own planner, whose stateful strategies a nested call to the
    * session's planner would skip.
    */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case r: ReturnAnswer if r.getTagValue(Inner).isEmpty && !r.child.isStreaming =>
        val inner = ReturnAnswer(r.child)
        inner.setTagValue(Inner, ())
        SparkSession.active.sessionState.planner.plan(inner).take(1).map(rewrite).toSeq
      case _ => Nil
    }
  }

  private def installed(spark: SparkSession): Boolean =
    spark.sessionState.planner.strategies.contains(Strategy)

  /** Adds [[Strategy]] to the session's planner, once. */
  def install(spark: SparkSession): Unit =
    if (!installed(spark)) synchronized {
      if (!installed(spark))
        spark.experimental.extraStrategies = Strategy +: spark.experimental.extraStrategies
    }

  /** The plan with its non-scan literals and constant regexes
    * parameterised. Comparisons of a rewritten node with its original
    * must put the rewritten one first (a plain `Literal` equals its
    * parameterised twin), so the tree is rebuilt bottom-up here rather
    * than through `transformUp`, which compares the other way round.
    */
  private def rewrite(plan: SparkPlan): SparkPlan = {
    val p = plan.withNewChildren(plan.children.map(rewrite))
    val out = p match {
      // a rewritten aggregate function is a new instance with new buffer
      // attributes; the hash aggregates bind their input buffers by
      // position (SPARK-31620), other aggregate nodes by id, so only
      // these two are rewritten
      case _: FilterExec | _: ProjectExec | _: GenerateExec | _: HashAggregateExec |
          _: ObjectHashAggregateExec =>
        p.mapExpressions(param)
      case j: BroadcastHashJoinExec => j.copy(condition = j.condition.map(param))
      case j: ShuffledHashJoinExec => j.copy(condition = j.condition.map(param))
      case j: SortMergeJoinExec => j.copy(condition = j.condition.map(param))
      case j: BroadcastNestedLoopJoinExec => j.copy(condition = j.condition.map(param))
      case j: CartesianProductExec => j.copy(condition = j.condition.map(param))
      case s: InMemoryTableScanExec => s.copy(predicates = s.predicates.map(param))
      case other => other
    }
    if (out ne p) out.copyTagsFrom(p)
    out
  }

  private def parameterised(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def constPattern(e: StringRegexExpression): Boolean =
    e.right.foldable && e.right.eval() != null

  /** One expression tree, parameterised (subquery plans are planned,
    * and rewritten, on their own). */
  private def param(e: Expression): Expression = e match {
    case _: SubqueryExpression => e
    case l: Literal if l.value != null && parameterised(l.dataType) =>
      new ParamLiteral(l.value, l.dataType)
    case r: RLike if constPattern(r) => new ParamRLike(param(r.left), r.right)
    case l: Like if constPattern(l) => new ParamLike(param(l.left), l.right, l.escapeChar)
    case _ => e.withNewChildren(e.children.map(param))
  }

  /** Code for a constant-pattern regex match: the compiled pattern and
    * the expression (for its match semantics) come from `references`. */
  private[plans] def regexCode(e: StringRegexExpression, p: Pattern,
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[Pattern].getName
    val compiled = ctx.addReferenceObj("pattern", p, cls)
    val pattern = ctx.addMutableState(cls, "pattern", v => s"$v = $compiled;")
    val self = ctx.addReferenceObj("regex", e, classOf[StringRegexExpression].getName)
    val s = e.left.genCode(ctx)
    ev.copy(code = code"""
      ${s.code}
      boolean ${ev.isNull} = ${s.isNull};
      boolean ${ev.value} = false;
      if (!${ev.isNull}) {
        ${ev.value} = $self.matches($pattern, ${s.value}.toString());
      }
    """)
  }
}

/** A numeric, date or timestamp literal whose generated code reads its
  * value from `references` instead of spelling it out. It prints,
  * evaluates and pattern-matches as the `Literal` it replaces; it
  * equals only another `ParamLiteral`, so a rewritten tree never
  * compares equal to its original.
  */
final class ParamLiteral(v: Any, t: DataType) extends Literal(v, t) {
  override def equals(o: Any): Boolean = o.isInstanceOf[ParamLiteral] && super.equals(o)
  override def hashCode(): Int = super.hashCode()

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val jt = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(jt, "param", f => s"$f = $ref.${jt}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** `RLIKE` with a constant pattern, compiled once and passed by
  * reference. */
final class ParamRLike(l: Expression, r: Expression) extends RLike(l, r) {
  override def canEqual(o: Any): Boolean = o.isInstanceOf[ParamRLike]
  override def equals(o: Any): Boolean = o.isInstanceOf[ParamRLike] && super.equals(o)
  override def hashCode(): Int = super.hashCode()
  override def withNewChildrenInternal(nl: Expression, nr: Expression): RLike =
    new ParamRLike(nl, nr)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ParamPlans.regexCode(this, pattern(right.eval().toString), ctx, ev)
}

/** `LIKE` with a constant pattern, compiled once and passed by
  * reference. */
final class ParamLike(l: Expression, r: Expression, esc: Char) extends Like(l, r, esc) {
  override def canEqual(o: Any): Boolean = o.isInstanceOf[ParamLike]
  override def equals(o: Any): Boolean = o.isInstanceOf[ParamLike] && super.equals(o)
  override def hashCode(): Int = super.hashCode()
  override def withNewChildrenInternal(nl: Expression, nr: Expression): Like =
    new ParamLike(nl, nr, escapeChar)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ParamPlans.regexCode(this, pattern(right.eval().toString), ctx, ev)
}
