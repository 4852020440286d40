package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** SparkSessionExtensions entry point, and the one route by which the
  * engine's `graft_*` SQL functions reach a session:
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)            // programmatic
  *   // or: --conf spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * Every function is one entry of [[GraftExtensions.functions]]; the
  * extension installs the whole table into each session it builds, the
  * way MySQL declares a loadable function once in one catalog table.
  * A session built without the extension fails loudly with
  * `UNRESOLVED_ROUTINE` on the first `graft_*` call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.className, f.name), f.checkedBuild))
    }
    // Operator-optimization batch: rewrite the canonical
    // size∘filter∘split token-count tree into the primitive scan.
    e.injectOptimizerRule(_ => TokenCountRewrite)
  }
}

object GraftExtensions {
  /** The argument list of one call to function `name`. A literal
    * parameter is checked when the call is resolved: a NULL, a value of
    * the wrong kind, or a non-foldable expression (a column, a subquery)
    * is an `IllegalArgumentException` that starts with the function's
    * name, where `eval(null)` would die with an opaque NPE or
    * ClassCastException inside function resolution. */
  final class Args(name: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)
    def long(i: Int, arg: String): Long =
      literal(i, arg, "number") { case (_, n: Number) => n.longValue() }
    def int(i: Int, arg: String): Int = long(i, arg).toInt
    def string(i: Int, arg: String): String =
      literal(i, arg, "string") { case (_, s: UTF8String) => s.toString }
    def bool(i: Int, arg: String): Boolean =
      literal(i, arg, "boolean") { case (_, b: java.lang.Boolean) => b.booleanValue() }
    def ints(i: Int, arg: String): Seq[Int] =
      literal(i, arg, "int array without NULLs") {
        case (ArrayType(IntegerType, false), a: ArrayData) => a.toIntArray().toSeq
      }

    private def literal[T](i: Int, arg: String, kind: String)(
        read: PartialFunction[(DataType, Any), T]): T = {
      val e = exprs(i)
      def bad(got: String) =
        new IllegalArgumentException(s"$name: $arg must be a literal $kind, got $got")
      if (!e.foldable) throw bad(s"non-foldable expression ${e.sql}")
      read.applyOrElse((e.dataType, e.eval(null)), (_: (DataType, Any)) => throw bad(e.sql))
    }
  }

  /** One SQL function: its name, its argument count, the class of the
    * expression it builds, and the builder. */
  final case class Fn(name: String, arity: Int, className: String,
                      build: Args => Expression) {
    /** [[build]] behind the arity check: a wrong argument count is
      * Spark's own `WRONG_NUM_ARGS` analysis error, never an index
      * error from inside the builder. */
    def checkedBuild(args: Seq[Expression]): Expression = {
      if (args.length != arity)
        throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
          "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
          "actualNum" -> args.length.toString,
          "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
      build(new Args(name, args))
    }
  }

  private def fn[T <: Expression](name: String, arity: Int)(build: Args => T)(
      implicit ct: ClassTag[T]): Fn = Fn(name, arity, ct.runtimeClass.getName, build)

  val functions: Seq[Fn] = Seq(
    // vectors
    fn("graft_ldot", 2)(a => LongDot(a(0), a(1))),
    fn("graft_quantize", 2)(a => QuantizeVec(a(0), a.long(1, "scale"))),
    fn("graft_maxsim", 3)(a => MaxSim(a(0), a(1), a.int(2, "subDim"))),
    fn("graft_lshsig", 1)(a => LshSig(a(0))),
    fn("graft_lshsig_md5", 2)(a => LshSigMd5(a(0), a.int(1, "nPlanes"))),
    // text
    fn("graft_rollminhash", 2)(a => RollingMinHash(a(0), a.int(1, "width"))),
    fn("graft_winnow", 3)(a => WinnowFingerprints(a(0), a.int(1, "width"), a.int(2, "window"))),
    fn("graft_dhash_text", 1)(a => DHashText(a(0))),
    fn("graft_hamming64", 2)(a => Hamming64(a(0), a(1))),
    fn("graft_simhash", 1)(a => SimHash64(a(0))),
    fn("graft_collapse_ws", 1)(a => CollapseWs(a(0))),
    fn("graft_char_filter", 3)(a => CharFilter(a(0), a.string(1, "spec"), a.bool(2, "keepInside"))),
    fn("graft_paren_toks", 1)(a => ParenToks(a(0))),
    fn("graft_pretok_gpt2", 1)(a => PretokGpt2(a(0))),
    fn("graft_paren_pairs", 1)(a => ParenPairs(a(0))),
    fn("graft_gram_md5s", 2)(a => GramMd5s(a(0), a.int(1, "n"))),
    fn("graft_grams", 2)(a => Grams(a(0), a.int(1, "n"))),
    fn("graft_word_counts", 1)(a => WordCounts(a(0))),
    fn("graft_minhash8", 2)(a => MinHash8(a(0), a.int(1, "n"))),
    fn("graft_letter_counts", 1)(a => LetterCounts(a(0))),
    fn("graft_sort_join", 1)(a => SortJoin(a(0))),
    fn("graft_count_in", 2)(a => CountIn(a(0), a.string(1, "spec"))),
    fn("graft_len_sum", 1)(a => LenSum(a(0))),
    fn("graft_toks", 1)(a => Toks(a(0))),
    fn("graft_tokcount", 1)(a => TokenCount(a(0))),
    fn("graft_cdc_starts", 2)(a => CdcStarts(a(0), a.int(1, "gram"))),
    fn("graft_try_long", 1)(a => TryLong(a(0))),
    // aggregates
    fn("graft_cms", 4)(a => CountMinSketch(a(0), a(1), a.int(2, "depth"), a.int(3, "width"))),
    fn("graft_qsketch", 3)(a => QuantileSketch(a(0), a.int(1, "alpha_bp"), a.ints(2, "quantiles"))),
    fn("graft_freq_items", 2)(a => FreqItemsSketch(a(0), a.int(1, "k"))),
    fn("graft_topk", 3)(a => TopKSketch(a(0), a(1), a.int(2, "k"))))
}
