package graft

import org.apache.spark.sql.functions._

/** Independent-recomputation specs for the r17 bounded-fixpoint
  * operators and the corpus-level duplicated-ngram signal. Each test
  * recomputes the full result in plain driver-side Scala from the same
  * sf0.001 inputs and requires exact equality — the oracles prove
  * Spark == DuckDB, these prove both == the definition.
  */
class IterativeOpsSpec extends SparkTestBase {

  test("q_pagerank_multi equals a 3-hop driver recomputation") {
    val pairs = Tables.load(spark, sfDir, "lineitem")
      .select((col("l_orderkey") * 2).cast("long").as("o"),
        (col("l_suppkey") * 2 + 1).cast("long").as("sp"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (o, sp) => Seq((o, sp), (sp, o)) }
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val nodes = edges.map(_._1).distinct.sorted
    var rank = nodes.map(_ -> 10000L).toMap
    for (_ <- 1 to 3) {
      val inflow = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s, d) <- edges) inflow(d) += rank(s) / outdeg(s)
      rank = nodes.map(n => n -> (1500L + 85L * inflow(n) / 100L)).toMap
    }
    val got = graft.queries.Graph.queries("q_pagerank_multi")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === nodes.map(n => (n, rank(n))))
    // non-vacuous: the graph is irregular enough that ranks spread
    assert(rank.values.max > rank.values.min)
    assert(rank.values.min >= 1500L)
  }

  test("q_kmeans_multi equals a 2-iteration Lloyd driver recomputation") {
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), expr("graft_quantize(embedding, 100000000)").as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def assignTo(cents: Seq[(Long, Array[Long], Long)]): Map[Long, Long] =
      vecs.map { case (vid, qv) =>
        val nq = dot(qv, qv)
        val best = cents.map { case (cid, qc, nc) =>
          (dot(qv, qc).toDouble / (math.sqrt(nq.toDouble) * math.sqrt(nc.toDouble)), cid)
        }.maxBy { case (ccos, cid) => (ccos, -cid) }
        vid -> best._2
      }.toMap
    def meanQ(sum: Long, n: Long): Long =
      if (sum >= 0) sum / n else -((-sum) / n)
    def means(assign: Map[Long, Long]): Map[(Long, Int), (Long, Long, Long)] =
      vecs.groupBy { case (vid, _) => assign(vid) }.flatMap { case (cell, members) =>
        val dims = members.head._2.length
        (0 until dims).map { p =>
          val s = members.map(_._2(p)).sum
          (cell, p) -> (members.length.toLong, s, meanQ(s, members.length.toLong))
        }
      }
    val cents0 = vecs.filter(_._1 < 16)
      .map { case (vid, qv) => (vid, qv, dot(qv, qv)) }.toSeq
    val m1 = means(assignTo(cents0))
    val dims = vecs.head._2.length
    val cents1 = m1.keys.map(_._1).toSeq.distinct.sorted.flatMap { cell =>
      val qc = (0 until dims).map(p => m1((cell, p))._3).toArray
      val nc = dot(qc, qc)
      if (nc > 0) Some((cell, qc, nc)) else None
    }
    val m2 = means(assignTo(cents1))
    val expected = m2.toSeq
      .map { case ((cell, pos), (n, s, m)) => (cell, pos.toLong, n, s, m) }
      .sortBy { case (cell, pos, _, _, _) => (cell, pos) }
    val got = graft.queries.Similarity.queries("q_kmeans_multi")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === expected)
    // non-vacuous: more than one surviving cell, and iteration 2 moved
    // at least one vector (otherwise this is q_kmeans_step in disguise)
    val a1 = assignTo(cents0); val a2 = assignTo(cents1)
    assert(cents1.size > 1)
    assert(vecs.exists { case (vid, _) => a1(vid) != a2(vid) })
  }

  test("q_dup_ngrams equals a driver recomputation of the corpus trigram df") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val occ = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1).filter(_.nonEmpty)
      if (toks.length < 3) Seq.empty
      else (0 to toks.length - 3).map(k => (id, toks.slice(k, k + 3).mkString(" ")))
    }
    val df = occ.distinct.groupBy(_._2).map { case (g, v) => g -> v.length }
    val dup = df.collect { case (g, n) if n >= 2 => g }.toSet
    val expected = occ.groupBy(_._1).toSeq.map { case (id, grams) =>
      val n = grams.length.toLong
      val d = grams.count(g => dup(g._2)).toLong
      (id, n, d, d * 1000000L / n)
    }.sortBy(_._1)
    val got = graft.queries.Pipeline.queries("q_dup_ngrams")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected)
    // non-vacuous both ways: the corpus has duplicated AND unique grams
    assert(expected.exists(_._3 > 0))
    assert(expected.exists(t => t._3 < t._2))
  }

  test("q_kcore equals a 3-round driver peel, and the peel removes nodes") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // independent dHash-free recomputation of the shared minhash band
    // edges: per doc, min md5(i|word) per hash i, bands of 2
    val bands = docs.flatMap { case (id, text) =>
      val words = text.split(" ", -1).filter(_.nonEmpty).distinct
      (0 to 7).map { i =>
        val mh = words.map(w => md5hex(s"$i|$w")).min
        (i / 2, id, mh)
      }
    }.groupBy { case (band, id, _) => (band, id) }
      .map { case ((band, id), v) =>
        val hs = v.map(_._3)
        (id, band, md5hex(hs.min + hs.max))
      }
    var edges = bands.groupBy { case (_, band, sig) => (band, sig) }.values
      .flatMap(g => for (a <- g; b <- g if a._1 < b._1) yield (a._1, b._1))
      .toSet
    for (_ <- 1 to 3) {
      val deg = (edges.toSeq.map(_._1) ++ edges.toSeq.map(_._2))
        .groupBy(identity).map { case (k, v) => k -> v.length }
      val keep = deg.collect { case (id, d) if d >= 40 => id }.toSet
      edges = edges.filter { case (a, b) => keep(a) && keep(b) }
    }
    val expected = (edges.toSeq.map(_._1) ++ edges.toSeq.map(_._2))
      .groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
      .toSeq.sortBy(_._1)
    val got = graft.queries.Graph.queries("q_kcore")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === expected)
    // non-vacuous: the peel genuinely removed nodes but not everything
    assert(expected.nonEmpty && expected.size < docs.length)
  }

  test("q_kcore frees its seed edges and superseded peel rounds") {
    val leaked = persistedBy {
      val r = graft.queries.Graph.queries("q_kcore")(spark, sfDir)
      assert(r.collect().nonEmpty)
      Checkpoints.release(r)
    }
    assert(leaked.isEmpty, s"still persisted: $leaked")
  }
}
