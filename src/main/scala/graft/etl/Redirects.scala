package graft.etl

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transitive redirect resolution — the Spark-native form of the
  * reference's `resolve()` chain walk (`/root/reference/dbfy.py:108-121`,
  * driven at `dbfy.py:155-176`). The reference walks driver-memory dicts
  * recursively; here the whole graph lives in DataFrames and the walks
  * advance by distributed self-joins, so the redirect graph is no longer
  * bounded by driver RAM (SURVEY.md §1.1).
  *
  * Semantics (RedirectsProps pins them against a driver-side port of
  * the walk):
  *   - the walk resolves through one entry per title, as the reference's
  *     dicts do (`dbfy.py:183-185`): a content title maps to `min(bid)`
  *     and wins over any outgoing edge; any other title forwards to
  *     `min(dst)` of its non-self edges
  *   - every start row `(src, dst)` walks from its own `dst` and resolves
  *     iff the walk reaches content in ≤ `maxIters` hops, counting the
  *     row's own edge; duplicate and self-loop start rows each give one
  *     output row or none
  *   - cycles never reach content → dropped (reference: RecursionError
  *     caught → None, `dbfy.py:118-121`)
  *   - dead-ends (target neither content nor redirect) → dropped
  *     (`dbfy.py:161-166`)
  *   - hop budget `maxIters` plays the role of Python's recursion limit,
  *     and the DuckDB oracle's WITH RECURSIVE uses the same bound so both
  *     engines drop identical rows (SURVEY.md §7.3)
  *   - null titles never match; a content title whose bids are all null
  *     is not content
  */
object Redirects {

  /** @param redirects (src, dst, …) — the redirect edges, one start row
    *   each; any further columns ride along with their row
    * @param content   (title, bid) — body id per content title
    * @return every column of `redirects` but `dst`, plus `bid`, for every
    *   start row whose walk reaches content: (src, bid) for (src, dst)
    *
    * Pointer jumping (Wyllie's list ranking). The state is one row per
    * title, `(n, p, b, d)`: a terminal has body id `b` at `d` hops; an
    * open row points at the title `p`, `d` hops down its walk. A hop
    * joins a state with the previous round's on `p = n`: an open row
    * takes its target's pointer, or its body id if the target is
    * terminal, and adds the target's `d`; an open row whose target is
    * gone drops. A round is two hops against the same previous round, so
    * an open row's `d` triples every round (1, 3, 9, …). A row with
    * `d > maxIters − 1` can serve no walk within the budget (`d` only
    * grows) and is pruned after the second hop, which is also what
    * drains cycles. Hence at most ⌈log₃ maxIters⌉ rounds (one when
    * maxIters ≤ 3) and a final join of the start rows against the
    * terminals: 2⌈log₃ maxIters⌉ + 1 joins, whatever the chain lengths
    * (7 at the default budget of 20, in 3 rounds). That round count is
    * the cap given to Checkpoints.iterate, so the cap cannot trip.
    *
    * Scale: the state holds every title of the redirect graph in every
    * round, terminals included. The rounds run under
    * Checkpoints.iterate, so lineage stays O(1) per round, each round is
    * one eager checkpoint that also observes its open-row count (the
    * convergence test), and a superseded round's blocks are freed as
    * soon as the next one is materialized. The last round's stay
    * persisted under the returned frame: the caller frees them with
    * `Checkpoints.release` once the result is consumed (WikiEtl.run's
    * cleanup).
    */
  def resolveTransitive(
      redirects: DataFrame,
      content: DataFrame,
      maxIters: Int = 20): DataFrame = {
    val budget = maxIters - 1 // hops left after a start row's own edge
    // the node table, one groupBy: content is terminal (b, d = 0), any
    // other title with a non-self edge forwards (p, d = 1); self-loops
    // only revisit, so they are never a way on
    val titles = content.select(col("title").as("n"), col("bid").as("b"))
      .unionByName(redirects.filter(col("src") =!= col("dst"))
        .select(col("src").as("n"), col("dst").as("p")), allowMissingColumns = true)
      .groupBy(col("n")).agg(min(col("b")).as("b"), min(col("p")).as("p"))
      .filter(col("b").isNotNull || col("p").isNotNull)
    val seed = titles.select(col("n"), when(col("b").isNull, col("p")).as("p"), col("b"),
        when(col("b").isNull, lit(1)).otherwise(lit(0)).as("d"))
      .filter(col("d") <= budget)
    // the fewest rounds R with 3^R > budget, at least 1
    val rounds = math.max(1, Iterator.iterate(1L)(_ * 3).indexWhere(_ > budget))
    val terminals = Checkpoints.iterate(seed, rounds, "Redirects.resolveTransitive") { state =>
      val target = state.select(col("n").as("t_n"), col("p").as("t_p"),
        col("b").as("t_b"), col("d").as("t_d"))
      def hop(s: DataFrame): DataFrame = s.join(target, col("p") === col("t_n"), "left")
        .filter(col("p").isNull || col("t_n").isNotNull)
        .select(col("n"), col("t_p").as("p"), coalesce(col("b"), col("t_b")).as("b"),
          (col("d") + coalesce(col("t_d"), lit(0))).as("d"))
      hop(hop(state)).filter(col("d") <= budget)
    }(count(col("p")))(_ == 0L)
    // no open row is left: every state row is a terminal within budget
    redirects.join(terminals, redirects("dst") === terminals("n"))
      .select(redirects.columns.filter(_ != "dst").map(redirects(_)) :+
        terminals("b").as("bid"): _*)
  }
}
