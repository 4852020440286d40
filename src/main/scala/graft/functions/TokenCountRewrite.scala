package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace token count as one primitive byte scan.
  *
  * Exactly equivalent to `size(filter(split(s, ' '), x -> x <> ''))` —
  * the engine's canonical token counter (SURVEY.md §2.B text battery):
  * `split` on the single-space regex with limit -1 yields an empty
  * string per extra separator, the filter drops them, so the size is
  * the number of maximal runs of non-space bytes. That form allocates
  * the full token array and carries a higher-order lambda; this one
  * reads each byte once and allocates nothing. Scanning bytes (not code
  * points) is safe because no UTF-8 continuation byte equals 0x20.
  */
case class TokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_tokcount"

  override def nullSafeEval(input: Any): Any =
    TokenCountRewrite.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenCountRewrite.count($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Injected optimizer rule (`GraftExtensions.injectOptimizerRule`): the
  * engine-specific counterpart of Catalyst's built-in simplifications.
  * Rewrites the exact analyzed tree
  *
  * {{{ Size(ArrayFilter(StringSplit(s, " ", -1), x -> x <> ""), false) }}}
  *
  * to [[TokenCount]](s). The match is deliberately narrow — literal
  * single-space pattern, limit -1, the lambda comparing its own
  * variable against the empty string, non-legacy size semantics — so
  * the rewrite is sound by construction (TokenCountSpec pins
  * equivalence on the edge fixtures: empty, all-space, multi-space,
  * non-ASCII, null). Anything else is left for Catalyst.
  */
object TokenCountRewrite extends Rule[LogicalPlan] {

  /** The engine's canonical whitespace tokenizer, as SQL over a `text`
    * column — the one definition every query and store references. This
    * rule matches exactly the tree it parses to, so a hand-typed copy
    * that drifts would silently lose the one-pass rewrite. */
  val tokens = "filter(split(text, ' '), x -> x <> '')"

  /** Number of maximal runs of non-0x20 bytes. Static so generated
    * code can call it. */
  def count(s: UTF8String): Int = {
    val n = s.numBytes
    var i = 0
    var cnt = 0
    var in = false
    while (i < n) {
      if (s.getByte(i) == 0x20) in = false
      else { if (!in) cnt += 1; in = true }
      i += 1
    }
    cnt
  }

  private val Space = UTF8String.fromString(" ")

  private def isNotEmptyCheck(cond: Expression, v: NamedLambdaVariable): Boolean =
    cond match {
      case Not(EqualTo(a: NamedLambdaVariable, Literal(e: UTF8String, StringType))) =>
        a.exprId == v.exprId && e.numBytes == 0
      case Not(EqualTo(Literal(e: UTF8String, StringType), a: NamedLambdaVariable)) =>
        a.exprId == v.exprId && e.numBytes == 0
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Size(
          ArrayFilter(
            StringSplit(str, Literal(sp: UTF8String, StringType), Literal(-1, IntegerType)),
            LambdaFunction(cond, Seq(v: NamedLambdaVariable), _)),
          false)
        if sp == Space && str.dataType == StringType && isNotEmptyCheck(cond, v) =>
      TokenCount(str)
    // r22: the same tree WITHOUT the size — the engine's canonical
    // tokenizer itself — becomes the one-pass codegen'd TextExprs.Toks.
    // Every [[tokens]] call site (about 35 across the query surface)
    // stops paying the interpreted ArrayFilter-over-regex-split path.
    // dataType is identical (ArrayType(StringType, containsNull =
    // false)), so the plan schema is unchanged. Matched top-down, so
    // the Size form above wins where it applies.
    case ArrayFilter(
          StringSplit(str, Literal(sp: UTF8String, StringType), Literal(-1, IntegerType)),
          LambdaFunction(cond, Seq(v: NamedLambdaVariable), _))
        if sp == Space && str.dataType == StringType && isNotEmptyCheck(cond, v) =>
      Toks(str)
  }
}
