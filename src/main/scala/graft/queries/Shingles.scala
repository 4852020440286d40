package graft.queries

/** The 4-token shingle definition shared by decontamination, near-dup
  * clustering and the e2e pipeline — ONE definition so the oracled
  * queries can never drift from each other on gram size or boundary
  * handling. Operates on a `toks` ARRAY<STRING> column. */
object Shingles {
  /** r21: the gram build is the codegen'd one-pass `graft_grams`
    * (functions/TextExprs.scala) — bit-equal to the former
    * transform+array_join(slice) chain incl. the empty-below-4-tokens
    * guard (TextExprsSpec). Callers need a session with GraftExtensions. */
  def fourGramSql(distinct: Boolean): String = {
    val core = "graft_grams(toks, 4)"
    if (distinct) s"array_distinct($core)" else core
  }
}
