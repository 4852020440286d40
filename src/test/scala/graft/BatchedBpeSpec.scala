package graft

import graft.queries.Text
import org.apache.spark.sql.functions._

/** Batched BPE merges (spark.graft.bpe.batchK): pairwise-disjoint
  * merges applied in one corpus pass must equal one-at-a-time
  * application of the same set (in any order), every round's batch must
  * be token-disjoint, the batch head must agree with the strict greedy
  * argmax, and batching must actually cut the number of corpus passes. */
class BatchedBpeSpec extends SparkTestBase {

  private lazy val batched = Text.bpeLoopBatched(spark, sfDir, 8, 4)

  private def roundsOf(merges: Seq[(Int, String, String, String, Long)],
                       sizes: Seq[Int]) = {
    var rest = merges
    sizes.map { n => val (h, t) = rest.splitAt(n); rest = t; h }
  }

  test("one-pass chained application of a disjoint batch == one-at-a-time") {
    val (merges, _, sizes) = batched
    val round1 = roundsOf(merges, sizes).head.map(m => (m._2, m._3))
    assert(round1.length > 1, "batch must contain multiple merges to test")
    val enc0 = Text.bpeEncode(spark, sfDir)
    val onePassExpr = round1.foldLeft("enc") { case (acc, (l, r)) =>
      s"replace($acc, '($l)($r)', '(${l + r})')"
    }
    val onePass = enc0.select(col("doc_id"), expr(onePassExpr).as("enc"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // one at a time, and in REVERSE order — disjoint merges commute, so
    // application order must not matter either
    var step = enc0
    round1.reverse.foreach { case (l, r) =>
      step = step.select(col("doc_id"),
        expr(s"replace(enc, '($l)($r)', '(${l + r})')").as("enc"))
    }
    val oneAtATime = step.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(onePass == oneAtATime)
  }

  test("every round's batch is pairwise token-disjoint") {
    val (merges, _, sizes) = batched
    roundsOf(merges, sizes).foreach { round =>
      val tokenSets = round.map(m => Set(m._2, m._3, m._4))
      for (i <- tokenSets.indices; j <- tokenSets.indices if i < j)
        assert(tokenSets(i).intersect(tokenSets(j)).isEmpty,
          s"round batch shares tokens: ${round(i)} vs ${round(j)}")
    }
  }

  test("batch head equals the strict greedy argmax; rounds are reduced") {
    val (seq1, _, sizes1) = Text.bpeLoopBatched(spark, sfDir, 4, 1)
    val (seq4, _, sizes4) = Text.bpeLoopBatched(spark, sfDir, 4, 4)
    assert(seq1.nonEmpty && seq4.nonEmpty)
    // same count snapshot → identical first pick (argmax, same ties)
    assert(seq1.head._2 == seq4.head._2 && seq1.head._3 == seq4.head._3)
    // measured round-count reduction: 4 merges in far fewer passes
    assert(sizes1.length == 4)
    assert(sizes4.length < sizes1.length,
      s"expected fewer rounds, got ${sizes4.length} vs ${sizes1.length}")
  }

  // ---- driver-side reference trainer --------------------------------
  // A pure-Scala re-implementation of the SAME training semantics
  // (snapshot pair counts, (cnt DESC, l, r) argmax, token-disjoint
  // batch, chained left-to-right non-overlapping replace, early exit on
  // pair exhaustion) over the collected corpus. Java's
  // String.replace(CharSequence, ...) is left-to-right non-overlapping —
  // identical to Spark's `replace` — so merge tables AND final corpora
  // must be bit-equal at any merge budget. This is the realistic-scale
  // anchor: 256 merges, far beyond the 8-merge oracled prefix.
  private def driverBpe(corpus0: Map[Long, String], nMerges: Int, batchK: Int)
  : (Seq[(Int, String, String, String, Long)], Map[Long, String], Seq[Int]) = {
    val tokRe = "\\(([^()]+)\\)".r
    var corpus = corpus0
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    val sizes = Seq.newBuilder[Int]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      corpus.valuesIterator.foreach { enc =>
        val toks = tokRe.findAllMatchIn(enc).map(_.group(1)).toArray
        var i = 0
        while (i + 1 < toks.length) {
          val k = (toks(i), toks(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + 1L)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val top = counts.toSeq
          .sortBy { case ((l, r), c) => (-c, l, r) }
          .take(math.max(1, batchK * 4))
        val used = scala.collection.mutable.Set.empty[String]
        val sel = top.iterator
          .map { case ((l, r), c) => (l, r, c) }
          .filter { case (l, r, _) =>
            val toks = Set(l, r, l + r)
            if (toks.exists(used)) false else { used ++= toks; true }
          }
          .take(math.min(batchK, nMerges - step + 1)).toSeq
        sel.foreach { case (l, r, c) =>
          merges += ((step, l, r, l + r, c)); step += 1
        }
        sizes += sel.length
        corpus = corpus.map { case (id, enc) =>
          id -> sel.foldLeft(enc) { case (e, (l, r, _)) =>
            e.replace(s"($l)($r)", s"(${l + r})")
          }
        }
      }
    }
    (merges.result(), corpus, sizes.result())
  }

  private def collectCorpus(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("256 merges, batchK=16: Spark trainer == driver-side reference " +
    "(merge table, round sizes, final corpus all bit-equal)") {
    val budget = 256
    val (sparkMerges, sparkEnc, sparkSizes) =
      Text.bpeLoopBatched(spark, sfDir, budget, 16)
    val corpus0 = collectCorpus(Text.bpeEncode(spark, sfDir))
    val (refMerges, refCorpus, refSizes) = driverBpe(corpus0, budget, 16)
    assert(sparkMerges.length >= 200,
      s"corpus exhausted too early for a meaningful test: ${sparkMerges.length}")
    assert(sparkMerges == refMerges)
    assert(sparkSizes == refSizes)
    assert(collectCorpus(sparkEnc.select(col("doc_id"), col("enc"))) == refCorpus)
    // the whole point of batching: far fewer corpus passes than merges.
    // The disjoint filter can't always fill 16 from a 64-pair snapshot,
    // so allow headroom — measured: 22 rounds for 256 merges (11.6×
    // fewer passes than strict greedy).
    assert(sparkSizes.length <= budget / 8,
      s"expected <= ${budget / 8} rounds, got ${sparkSizes.length}")
  }

  // ---- extended alphabet (r20, VERDICT r19 #3) ----------------------
  // The gpt2-mode pretokenizer must cover case, digits, punctuation
  // (including literal parens, via the sentinel remap), and non-ASCII
  // letters — and the trainer must stay bit-equal to the driver-side
  // reference on that alphabet at a realistic merge budget.

  private lazy val mixedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-mixed").toString
    val rnd = new scala.util.Random(7)
    val pieces = Array("Hello", "WORLD", "café", "naïve", "don't", "3.14",
      "42", "x1", "(nested)", "a,b", "über", "Straße", "e=mc2", "C++",
      "\\path\\to", "\"quoted\"", "semi;colon", "tail-", "你好", "5,000")
    val rows = (0L until 80L).map { id =>
      (id, Array.fill(40)(pieces(rnd.nextInt(pieces.length))).mkString(" "))
    }
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("gpt2 pretokenizer: case/digits/punctuation/non-ASCII reach the " +
    "tokenizer; literal parens are sentinel-remapped; text with a " +
    "sentinel fails fast") {
    val enc = collectCorpus(Text.bpeEncode(spark, mixedDir))
    val all = enc.values.mkString
    // every class is represented, case preserved, parens remapped
    assert(all.contains("(Hello)") && all.contains("(WORLD)"))
    assert(all.contains("(café)") && all.contains("(你好)"))
    assert(all.contains("(3)(.)(14)"), "digit runs split from punctuation")
    assert(all.contains("(don)(')(t)"))
    assert(all.contains(s"(${Text.ParenL})(nested)(${Text.ParenR})"),
      "literal parens must be remapped, not dropped")
    assert(all.contains("(\\)") && all.contains("(\")"))
    assert(!all.contains("((") && !all.contains("))"),
      "encoding must stay unambiguous")
    // reserved sentinel in the INPUT: loud failure, no aliasing
    import spark.implicits._
    val dir2 = java.nio.file.Files.createTempDirectory("graft-bpe-evil").toString
    Seq((1L, s"evil ${Text.ParenL} text")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir2/documents.parquet")
    val e = intercept[Exception] { Text.bpeEncode(spark, dir2).collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("reserved paren-remap")),
      s"expected the sentinel guard, got: ${messages(e).mkString(" | ")}")
  }

  test("extended alphabet, 256 merges, batchK=16: Spark trainer == " +
    "driver-side reference (merge table, round sizes, corpus bit-equal)") {
    val budget = 256
    val (sparkMerges, sparkEnc, sparkSizes) =
      Text.bpeLoopBatched(spark, mixedDir, budget, 16)
    val corpus0 = collectCorpus(Text.bpeEncode(spark, mixedDir))
    val (refMerges, refCorpus, refSizes) = driverBpe(corpus0, budget, 16)
    assert(sparkMerges.length >= 100,
      s"corpus exhausted too early for a meaningful test: ${sparkMerges.length}")
    assert(sparkMerges == refMerges)
    assert(sparkSizes == refSizes)
    assert(collectCorpus(sparkEnc.select(col("doc_id"), col("enc"))) == refCorpus)
    // merges genuinely crossed the old alphabet: some merged token
    // contains a digit, uppercase, punctuation, or non-ASCII letter
    assert(sparkMerges.exists(m => m._4.exists(c => !('a' to 'z').contains(c))),
      "no merge ever left the lowercase-ASCII alphabet")
  }

  test("legacy letters mode stays selectable and letter-only") {
    try {
      spark.conf.set(Text.PretokConf, "letters")
      // the mixed corpus has no pure-lowercase space-split word at all:
      // under the legacy filter it is INVISIBLE — exactly the blindness
      // the gpt2 default fixes
      assert(Text.bpeEncode(spark, mixedDir).count() == 0)
      // and on the real corpus the mode still yields letter-only tokens
      val enc = collectCorpus(Text.bpeEncode(spark, sfDir))
      val toks = enc.values.flatMap("\\(([^()]+)\\)".r.findAllMatchIn(_)
        .map(_.group(1))).toSet
      assert(toks.nonEmpty && toks.forall(_.forall(('a' to 'z').contains)),
        s"letters mode leaked non-lowercase tokens: ${toks.take(5)}")
    } finally spark.conf.unset(Text.PretokConf)
  }

  test("strict greedy (batchK=1) == driver-side strict greedy at 24 merges") {
    val budget = 24
    val (sparkMerges, sparkEnc, _) = Text.bpeLoopBatched(spark, sfDir, budget, 1)
    val corpus0 = collectCorpus(Text.bpeEncode(spark, sfDir))
    val (refMerges, refCorpus, _) = driverBpe(corpus0, budget, 1)
    assert(sparkMerges == refMerges)
    assert(collectCorpus(sparkEnc.select(col("doc_id"), col("enc"))) == refCorpus)
  }

  test("spark.graft.bpe.merges raises the registered queries' budget; " +
    "unset keeps the oracled 8-merge prefix") {
    val base = SparkEntry.queries("q_bpe_train")(spark, sfDir).collect()
    assert(base.length <= 8)
    try {
      spark.conf.set("spark.graft.bpe.merges", "40")
      spark.conf.set("spark.graft.bpe.batchK", "8")
      val wide = SparkEntry.queries("q_bpe_train")(spark, sfDir).collect()
      assert(wide.length == 40)
      // the widened run extends the strict prefix's head pick (same
      // snapshot → same argmax)
      assert(wide.head.getString(1) == base.head.getString(1) &&
        wide.head.getString(2) == base.head.getString(2))
    } finally {
      spark.conf.unset("spark.graft.bpe.merges")
      spark.conf.unset("spark.graft.bpe.batchK")
    }
  }

  test("strict greedy (batchK=1) drives the oracled queries: table shape sane") {
    val df = SparkEntry.queries("q_bpe_train")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length <= 8 && rows.nonEmpty)
    assert(rows.map(_.getAs[Int]("step")).toSeq == (1 to rows.length))
  }

  test("q_bpe_train and q_tok_fertility free every superseded corpus checkpoint") {
    for (name <- Seq("q_bpe_train", "q_tok_fertility")) {
      val leaked = persistedBy {
        val r = SparkEntry.queries(name)(spark, sfDir)
        assert(r.collect().nonEmpty)
        Checkpoints.release(r)
      }
      assert(leaked.isEmpty, s"$name: still persisted: $leaked")
    }
  }
}
