package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.queries.{Aggregates, Similarity}
import org.apache.spark.sql.functions._

/** Un-oracled similarity paths: ANN recall against the brute-force
  * baseline, and the HLL sketch within ±5% of exact (SURVEY.md §2.B
  * q_agg_approx legend). */
class SimilaritySpec extends SparkTestBase {

  test("q_ann_lsh returns candidates for every query vector with sane cosines") {
    val ann = Similarity.queries("q_ann_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ann.nonEmpty)
    assert(ann.forall { case (_, _, c) => c >= -1.0001 && c <= 1.0001 })
    assert(ann.map(_._1).distinct.length >= 40, "most query vectors should find candidates")
  }

  test("ANN top-1 cosine is bounded by brute-force top-1; recall is non-trivial") {
    val bf = Similarity.queries("q_cosine_topk")(spark, sfDir)
      .filter(col("rn") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val ann = Similarity.queries("q_ann_lsh")(spark, sfDir)
      .filter(col("rn") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ann.nonEmpty)
    // ANN can never beat exact search
    ann.foreach { case (a, (_, c)) => assert(c <= bf(a)._2 + 1e-9, s"vec $a") }
    // and with 16 random hyperplanes it should still find the true top-1
    // for a non-trivial fraction of queries
    val hits = ann.count { case (a, (b, _)) => bf(a)._1 == b }
    // multi-probe (r18) lifted measured recall@1 well past the old /5
    // single-probe floor — hold the stronger line
    assert(hits >= ann.size / 2, s"recall@1 too low: $hits/${ann.size}")
  }

  test("multi-probe vs single-probe (q_ann_lsh_probes): recall strictly " +
    "improves, candidate budget bounded, per-candidate efficiency holds") {
    val rows = Similarity.queries("q_ann_lsh_probes")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val single = rows.filter(_._1 == "single")
    val multi = rows.filter(_._1 == "multi")
    assert(single.length == 10 && multi.length == 10)
    // superset monotonicity, per probe: multi explores at least single's
    // candidates (i = 0 IS the single probe)
    val sc = single.map(r => r._2 -> r._3).toMap
    val sh = single.map(r => r._2 -> r._4).toMap
    multi.foreach { case (_, a, c, h) =>
      assert(c >= sc(a), s"probe $a: multi candidates $c < single ${sc(a)}")
      assert(h >= sh(a), s"probe $a: multi hits $h < single ${sh(a)}")
      // probe-count budget: ≤ 5 bucket lookups per band vs 1
      assert(c <= 5 * math.max(sc(a), 1),
        s"probe $a: multi candidates $c blow the 5× budget over ${sc(a)}")
    }
    // strict overall improvement at the same corpus index
    val (sCand, sHits) = (single.map(_._3).sum, single.map(_._4).sum)
    val (mCand, mHits) = (multi.map(_._3).sum, multi.map(_._4).sum)
    assert(mHits > sHits, s"recall did not improve: $mHits vs $sHits")
    // equal-budget efficiency: the extra candidates pull their weight —
    // hits per candidate inspected stays within 2× of single-probe
    // (measured 0.68× at sf0.001, 1.0× at sf0.01)
    assert(mHits.toDouble / mCand >= 0.5 * (sHits.toDouble / math.max(sCand, 1)),
      s"multi probes wasted their budget: $mHits/$mCand vs $sHits/$sCand")
  }

  test("minhash/simhash plans carry no broadcast and no join (inline hash family)") {
    // r1 materialized the distinct vocabulary and broadcast it back — a
    // 100 TB scale-killer (VERDICT r1). The hash family is now inline,
    // so the physical plan must contain no BroadcastExchange (and in
    // fact no join at all: explode → hash columns → one aggregate).
    Seq("q_minhash_dedup", "q_simhash").foreach { q =>
      val plan = Similarity.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), s"$q broadcasts: $plan")
      assert(!plan.toLowerCase.contains("join"), s"$q joins: $plan")
    }
    // q_minhash_pairs keeps its bucket self-join (that IS the LSH
    // candidate stage) but must not broadcast a vocabulary either.
    val pairsPlan = Similarity.queries("q_minhash_pairs")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!pairsPlan.contains("BroadcastExchange") ||
      !pairsPlan.contains("v_word"), s"pairs broadcasts vocab: $pairsPlan")
  }

  test("graft_lshsig matches an independent Scala recomputation of the hyperplane family") {
    // the native Expression (codegen path, executed distributed) must
    // agree bit-for-bit with a driver-side reimplementation of the
    // documented splitmix64 hyperplane family — guards both the codegen
    // template and the plane-table layout
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def refSig(qv: Array[Long]): Long = {
      var sig = 0L
      for (j <- 0 until 16) {
        var s = 0L
        for (i <- 0 until math.min(qv.length, 128))
          s += qv(i) * (math.floorMod(mix(j * 1000003L + i), 2001L) - 1000L)
        if (s > 0) sig |= (1L << j)
      }
      sig
    }
    // graft_quantize must agree with the HOF formulation it replaced,
    // and graft_lshsig with the driver-side hyperplane recomputation
    val rows = Tables.load(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "graft_quantize(embedding, 100000000) AS qv",
        "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv_hof")
      .selectExpr("vec_id", "qv", "graft_lshsig(qv) AS sig", "qv_hof")
      .limit(64).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val qv = r.getSeq[Long](1).toArray
      assert(qv.toSeq == r.getSeq[Long](3).toSeq,
        s"graft_quantize != transform lambda for vec ${r.getLong(0)}")
      assert(r.getLong(2) == refSig(qv), s"vec ${r.getLong(0)}")
    }
  }

  test("graft_lshsig_md5 == the interpreted zip_with fold it replaced, at 16 and 32 planes") {
    // the oracled det-LSH family's contract: the codegen'd fold must be
    // bit-identical to the SQL-expressible formulation (literal ±1
    // md5-parity weight matrix + zip_with/aggregate) that the DuckDB
    // oracles mirror — for BOTH plane counts in use
    val mdInst = java.security.MessageDigest.getInstance("MD5")
    def planeW(j: Int, i: Int): Int = {
      val dig = mdInst.digest(s"$j|$i".getBytes("UTF-8"))
      ((dig(0) >> 4) & 0xf) % 2 * 2 - 1
    }
    Seq(16, 32).foreach { nPlanes =>
      val wLit = (0 until nPlanes).map(j => (1 to 64).map(i => planeW(j, i))
        .mkString("array(", ",", ")")).mkString("array(", ",", ")")
      val foldExpr = s"aggregate(transform(sequence(0, ${nPlanes - 1}), j -> IF(" +
        s"aggregate(zip_with(qv, element_at($wLit, j + 1), (a, b) -> a * b)," +
        " CAST(0 AS BIGINT), (acc, x) -> acc + x) >= 0," +
        " shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))," +
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
      val mismatches = Tables.load(spark, sfDir, "embeddings")
        .selectExpr("vec_id", "graft_quantize(embedding, 100000000) AS qv")
        .selectExpr("vec_id", s"graft_lshsig_md5(qv, $nPlanes) AS fast",
          s"$foldExpr AS ref")
        .where(col("fast") =!= col("ref")).count()
      assert(mismatches === 0L, s"nPlanes=$nPlanes diverges from the SQL fold")
    }
    // non-64-dim input nulls out instead of silently mis-hashing
    assert(spark.sql(
      "SELECT graft_lshsig_md5(array(1L, 2L), 16) AS s").head().isNullAt(0))
  }

  test("approx_count_distinct within 5% of exact; approx median within p40-p60") {
    val rows = Aggregates.queries("q_agg_approx")(spark, sfDir).collect()
    val approx = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val medians = rows.map(r => r.getString(0) -> r.getDouble(3)).toMap
    val bounds = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.4)").as("lo"),
        expr("percentile(l_extendedprice, 0.6)").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    medians.foreach { case (k, m) =>
      val (lo, hi) = bounds(k)
      assert(m >= lo && m <= hi, s"$k: approx median $m outside [$lo, $hi]")
    }
    val exact = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"$k: approx=$a exact=$e")
    }
  }

  test("HLL sketch union is lossless: merged monthlies == one-shot sketch, ±5% of exact") {
    val merged = Aggregates.queries("q_agg_hll_merge")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val oneShot = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))").as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.nonEmpty)
    merged.foreach { case (k, (est, nSketches)) =>
      assert(nSketches > 1, s"$k: need multiple partials to prove the merge")
      // the union of partial sketches is the SAME sketch a global pass
      // builds — not an approximation of an approximation
      assert(est == oneShot(k), s"$k: merged=$est one-shot=${oneShot(k)}")
      assert(math.abs(est - exact(k)).toDouble / exact(k) <= 0.05,
        s"$k: est=$est exact=${exact(k)}")
    }
  }

  test("label propagation on an empty doc set returns empty, no crash") {
    // the e2e pipeline's quality/decon gates can legally drop EVERY doc
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val emptyMemb = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("doc_id", LongType), StructField("bucket", StringType))))
    val emptyDocs = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("doc_id", LongType))))
    assert(Similarity.hashMinLabels(emptyMemb, emptyDocs).count() == 0)
  }

  /** (docs, membership) of an n-doc path: bucket i holds docs i and
    * i+1, so the path minimum moves one doc per hop and n docs take
    * n − 1 changing hops plus the one that settles. */
  private def path(n: Int) = {
    import spark.implicits._
    val docs = (100L until 100L + n).toDF("doc_id")
    (docs, docs.select(col("doc_id"), (col("doc_id") - 100).as("bucket"))
      .union(docs.filter(col("doc_id") > 100)
        .select(col("doc_id"), (col("doc_id") - 101).as("bucket"))))
  }

  test("label propagation settles a 64-doc path in 64 hops and fails loudly on 65") {
    val (docs64, memb64) = path(64)
    val labels = Similarity.hashMinLabels(memb64, docs64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (100L until 164L).map(_ -> 100L).toMap)

    val (docs65, memb65) = path(65)
    val e = intercept[IllegalStateException](Similarity.hashMinLabels(memb65, docs65))
    assert(e.getMessage.startsWith("hashMinLabels") &&
      e.getMessage.endsWith("not converged after 64 hops"), e.getMessage)
  }

  test("label propagation frees its membership checkpoint, converged or not") {
    val (docs64, memb64) = path(64)
    val converged = persistedBy {
      val labels = Similarity.hashMinLabels(memb64, docs64)
      assert(labels.count() == 64)
      Checkpoints.release(labels)
    }
    assert(converged.isEmpty, s"still persisted: $converged")
    val (docs65, memb65) = path(65)
    val failed = persistedBy {
      intercept[IllegalStateException](Similarity.hashMinLabels(memb65, docs65))
    }
    assert(failed.isEmpty, s"still persisted: $failed")
  }

  test("q_label_prop_multi frees every superseded label table and the edge table") {
    val leaked = persistedBy {
      val r = Similarity.queries("q_label_prop_multi")(spark, sfDir)
      assert(r.collect().nonEmpty)
      Checkpoints.release(r)
    }
    assert(leaked.isEmpty, s"still persisted: $leaked")
  }

  test("near-dup cluster and k-NN queries free the checkpoints their result does not read") {
    for (name <- Seq("q_simhash_cluster", "q_semdedup_cluster", "q_knn_graph",
        "q_pipeline_e2e")) {
      val leaked = persistedBy {
        val r = SparkEntry.queries(name)(spark, sfDir)
        assert(r.collect().nonEmpty)
        Checkpoints.release(r)
      }
      assert(leaked.isEmpty, s"$name: still persisted: $leaked")
    }
  }

  test("each shared similarity stage is written once in main source") {
    // a pasted copy of a stage drifts from the original silently (and a
    // drifted tokenizer loses TokenCountRewrite); comment lines and
    // oracle SQL lines do not count
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "Similarity.scala"),
      s"the walk from ${Paths.get("src/main/scala").toAbsolutePath} found no engine source")
    val code = files.flatMap(f => Files.readAllLines(f).asScala).filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*") || t.startsWith("|")
    }
    def copies(frag: String): Int =
      code.map(l => l.sliding(frag.length).count(_ == frag)).sum
    val atMost = Seq(
      "filter(split(text, ' '), x -> x <> '')" -> 1,
      """orderBy(col("cosine").desc, col("b_id").asc)""" -> 1,
      // one per cell-ranking key: rounded and raw cosine
      """orderBy(col("ccos").desc, col("c_id").asc)""" -> 2,
      "explode(array(bandSig: _*))" -> 1,
      """bl.as("a").join(bl.as("b")""" -> 1,
      """concat(col("a_id").cast("string"), lit("|")""" -> 1)
    atMost.foreach { case (frag, n) =>
      val c = copies(frag)
      assert(c >= 1 && c <= n, s"$frag: $c copies, at most $n")
    }
  }

  test("exact-Jaccard verify: hash-segment decomposition invariant in the segment count") {
    // seg = pmod(xxhash64(word), S) partitions each doc's token set, so
    // summing per-segment intersect sizes must equal the whole-set
    // intersect for ANY S. S=1 collapses to the pre-r14 whole-document
    // shape — equality against it proves the decomposition exact; S=7
    // (coprime to nothing relevant, > default test parallelism) forces
    // multi-segment docs at this SF.
    def run(sim: String, est: String): (Seq[Seq[Any]], Seq[Seq[Any]]) =
      (graft.queries.Similarity.queries(sim)(spark, sfDir)
        .collect().toSeq.map(_.toSeq),
        graft.queries.Similarity.queries(est)(spark, sfDir)
          .collect().toSeq.map(_.toSeq))
    val (simBase, estBase) = run("q_simjoin", "q_minhash_est")
    assert(estBase.nonEmpty, "q_minhash_est must produce audited pairs")
    for (s <- Seq("1", "7")) {
      spark.conf.set("spark.graft.jaccard.segments", s)
      try {
        val (sim, est) = run("q_simjoin", "q_minhash_est")
        assert(sim == simBase, s"q_simjoin diverged at segments=$s")
        assert(est == estBase, s"q_minhash_est diverged at segments=$s")
      } finally spark.conf.unset("spark.graft.jaccard.segments")
    }
  }

  test("dedup clusters: labels are component minima, canon count = cluster count") {
    val out = Similarity.queries("q_dedup_cluster")(spark, sfDir).collect()
    assert(out.length > 0)
    // hash-min invariant: a doc's label never exceeds its own id, and
    // the label itself is a doc whose label is itself (a fixpoint root)
    val lbl = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0))
      assert(lbl(r.getLong(1)) == r.getLong(1), s"non-root label ${r.getLong(1)}")
      assert(r.getBoolean(2) == (r.getLong(0) == r.getLong(1)))
    }
    assert(out.count(_.getBoolean(2)) == lbl.values.toSet.size)
  }
}
