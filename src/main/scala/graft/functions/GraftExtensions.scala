package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point — the configuration-driven way to
  * install the engine's native expressions on any session:
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)            // programmatic
  *   // or: --conf spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * Query code that can't control session construction uses
  * `VectorExprs.register(spark)` instead; both routes install the same
  * expression builders.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_ldot"),
      new ExpressionInfo(classOf[LongDot].getName, "graft_ldot"),
      (exprs: Seq[Expression]) => LongDot(exprs.head, exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_quantize"),
      new ExpressionInfo(classOf[QuantizeVec].getName, "graft_quantize"),
      (exprs: Seq[Expression]) => QuantizeVec(exprs.head,
        VectorExprs.literalLong(exprs(1), "graft_quantize", "scale"))))
    e.injectFunction((
      FunctionIdentifier("graft_maxsim"),
      new ExpressionInfo(classOf[MaxSim].getName, "graft_maxsim"),
      (exprs: Seq[Expression]) => MaxSim(exprs.head, exprs(1),
        VectorExprs.literalLong(exprs(2), "graft_maxsim", "subDim").toInt)))
    e.injectFunction((
      FunctionIdentifier("graft_lshsig"),
      new ExpressionInfo(classOf[LshSig].getName, "graft_lshsig"),
      (exprs: Seq[Expression]) => LshSig(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_rollminhash"),
      new ExpressionInfo(classOf[RollingMinHash].getName, "graft_rollminhash"),
      (exprs: Seq[Expression]) => RollingMinHash(
        exprs.head,
        VectorExprs.literalLong(exprs(1), "graft_rollminhash", "width").toInt)))
    e.injectFunction((
      FunctionIdentifier("graft_try_long"),
      new ExpressionInfo(classOf[TryLong].getName, "graft_try_long"),
      (exprs: Seq[Expression]) => TryLong(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_tokcount"),
      new ExpressionInfo(classOf[TokenCount].getName, "graft_tokcount"),
      (exprs: Seq[Expression]) => TokenCount(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_qsketch"),
      new ExpressionInfo(classOf[QuantileSketch].getName, "graft_qsketch"),
      QuantileSketch.build _))
    e.injectFunction((
      FunctionIdentifier("graft_lshsig_md5"),
      new ExpressionInfo(classOf[LshSigMd5].getName, "graft_lshsig_md5"),
      (exprs: Seq[Expression]) => LshSigMd5(exprs.head,
        VectorExprs.literalLong(exprs(1), "graft_lshsig_md5", "nPlanes").toInt)))
    e.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_cdc_starts"),
      new ExpressionInfo(classOf[CdcStarts].getName, "graft_cdc_starts"),
      (exprs: Seq[Expression]) => CdcStarts(
        exprs.head,
        VectorExprs.literalLong(exprs(1), "graft_cdc_starts", "gram").toInt)))
    e.injectFunction((
      FunctionIdentifier("graft_collapse_ws"),
      new ExpressionInfo(classOf[CollapseWs].getName, "graft_collapse_ws"),
      (exprs: Seq[Expression]) => CollapseWs(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_char_filter"),
      new ExpressionInfo(classOf[CharFilter].getName, "graft_char_filter"),
      (exprs: Seq[Expression]) => CharFilter(
        exprs.head,
        VectorExprs.literalString(exprs(1), "graft_char_filter", "spec"),
        VectorExprs.literalBool(exprs(2), "graft_char_filter", "keepInside"))))
    e.injectFunction((
      FunctionIdentifier("graft_paren_toks"),
      new ExpressionInfo(classOf[ParenToks].getName, "graft_paren_toks"),
      (exprs: Seq[Expression]) => ParenToks(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_pretok_gpt2"),
      new ExpressionInfo(classOf[PretokGpt2].getName, "graft_pretok_gpt2"),
      (exprs: Seq[Expression]) => PretokGpt2(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_letter_counts"),
      new ExpressionInfo(classOf[LetterCounts].getName, "graft_letter_counts"),
      (exprs: Seq[Expression]) => LetterCounts(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_paren_pairs"),
      new ExpressionInfo(classOf[ParenPairs].getName, "graft_paren_pairs"),
      (exprs: Seq[Expression]) => ParenPairs(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_gram_md5s"),
      new ExpressionInfo(classOf[GramMd5s].getName, "graft_gram_md5s"),
      (exprs: Seq[Expression]) => GramMd5s(exprs.head,
        VectorExprs.literalLong(exprs(1), "graft_gram_md5s", "n").toInt)))
    e.injectFunction((
      FunctionIdentifier("graft_grams"),
      new ExpressionInfo(classOf[Grams].getName, "graft_grams"),
      (exprs: Seq[Expression]) => Grams(exprs.head,
        VectorExprs.literalLong(exprs(1), "graft_grams", "n").toInt)))
    e.injectFunction((
      FunctionIdentifier("graft_word_counts"),
      new ExpressionInfo(classOf[WordCounts].getName, "graft_word_counts"),
      (exprs: Seq[Expression]) => WordCounts(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_minhash8"),
      new ExpressionInfo(classOf[MinHash8].getName, "graft_minhash8"),
      (exprs: Seq[Expression]) => MinHash8(exprs.head,
        VectorExprs.literalLong(exprs(1), "graft_minhash8", "n").toInt)))
    e.injectFunction((
      FunctionIdentifier("graft_sort_join"),
      new ExpressionInfo(classOf[SortJoin].getName, "graft_sort_join"),
      (exprs: Seq[Expression]) => SortJoin(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_count_in"),
      new ExpressionInfo(classOf[CountIn].getName, "graft_count_in"),
      (exprs: Seq[Expression]) => CountIn(exprs.head,
        VectorExprs.literalString(exprs(1), "graft_count_in", "spec"))))
    e.injectFunction((
      FunctionIdentifier("graft_len_sum"),
      new ExpressionInfo(classOf[LenSum].getName, "graft_len_sum"),
      (exprs: Seq[Expression]) => LenSum(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_toks"),
      new ExpressionInfo(classOf[Toks].getName, "graft_toks"),
      (exprs: Seq[Expression]) => Toks(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_cms"),
      new ExpressionInfo(classOf[CountMinSketch].getName, "graft_cms"),
      (exprs: Seq[Expression]) => CountMinSketch(
        exprs.head, exprs(1),
        VectorExprs.literalLong(exprs(2), "graft_cms", "depth").toInt,
        VectorExprs.literalLong(exprs(3), "graft_cms", "width").toInt)))
    // Operator-optimization batch: rewrite the canonical
    // size∘filter∘split token-count tree into the primitive scan.
    e.injectOptimizerRule(_ => TokenCountRewrite)
  }
}
