package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.functions.GraftExtensions
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{NullType, StructField, StructType}

/** Properties over the whole `graft_*` function table
  * ([[GraftExtensions.functions]]): arity errors, NULL in every argument
  * position under compiled and interpreted evaluation, the session
  * registry, and the one registration route in main source. */
class GraftFunctionsSpec extends SparkTestBase {

  /** A data argument: the value behind a condition on the row, so the
    * optimizer cannot fold the call and codegen sees a real column. */
  private def data(sql: String) = s"if(id >= 0, $sql, NULL)"

  /** One well-formed argument list per function: data arguments first,
    * literal parameters as literals. */
  private val samples: Map[String, Seq[String]] = Map(
    "graft_ldot" -> Seq(data("array(1L, 2L)"), data("array(3L, 4L)")),
    "graft_quantize" -> Seq(data("array(0.5D, -1.25D)"), "1000"),
    "graft_maxsim" -> Seq(data("array(1L, 2L, 3L, 4L)"), data("array(4L, 3L, 2L, 1L)"), "2"),
    "graft_lshsig" -> Seq(data("array(1L, -2L, 3L)")),
    "graft_lshsig_md5" -> Seq(data("array(1L, 2L)"), "16"),
    "graft_rollminhash" -> Seq(data("'the quick brown fox jumps'"), "8"),
    "graft_winnow" -> Seq(data("'the quick brown fox jumps over'"), "8", "4"),
    "graft_dhash_text" -> Seq(data("'the quick brown fox'")),
    "graft_hamming64" -> Seq(data("'0f0f'"), data("'00ff'")),
    "graft_simhash" -> Seq(data("'a b c d e f'")),
    "graft_collapse_ws" -> Seq(data("'a   b'")),
    "graft_char_filter" -> Seq(data("'a1b2'"), "'48-57'", "false"),
    "graft_paren_toks" -> Seq(data("'(a)(bc)'")),
    "graft_pretok_gpt2" -> Seq(data("'Hello world, 42!'")),
    "graft_paren_pairs" -> Seq(data("'(a)(b)(c)'")),
    "graft_gram_md5s" -> Seq(data("array('a', 'b', 'c', 'd', 'e')"), "4"),
    "graft_grams" -> Seq(data("array('a', 'b', 'c', 'd', 'e')"), "4"),
    "graft_word_counts" -> Seq(data("array('a', 'b', 'a')")),
    "graft_minhash8" -> Seq(data("array('a', 'b', 'c', 'd', 'e')"), "2"),
    "graft_letter_counts" -> Seq(data("'hello'")),
    "graft_sort_join" -> Seq(data("array(struct(2L, 'b'), struct(1L, 'a'))")),
    "graft_count_in" -> Seq(data("array('der', 'x', 'die')"), "'der,die'"),
    "graft_len_sum" -> Seq(data("array('ab', 'c')")),
    "graft_toks" -> Seq(data("'a  b c'")),
    "graft_tokcount" -> Seq(data("'a  b c'")),
    "graft_cdc_starts" -> Seq(data("'the quick brown fox jumps over the lazy dog'"), "8"),
    "graft_try_long" -> Seq(data("'42'")),
    "graft_cms" -> Seq(data("'k'"), data("3L"), "2", "64"),
    "graft_qsketch" -> Seq(data("5L"), "100", "array(5000)"),
    "graft_freq_items" -> Seq(data("'x'"), "2"),
    "graft_topk" -> Seq(data("'x'"), data("7L"), "2"))

  /** `body` with codegen on (`compiled`) or off. */
  private def withCodegen[T](compiled: Boolean)(body: => T): T = {
    val confs = if (compiled)
      Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.wholeStage" -> "true")
    else
      Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** `name(args)` over two rows. */
  private def run(name: String, args: Seq[String], compiled: Boolean): Seq[String] =
    withCodegen(compiled) {
      spark.range(2).selectExpr(s"$name(${args.mkString(", ")})").collect().toSeq.map(_.toString)
    }

  test("the table has one entry per function, and each sample call runs compiled and interpreted alike") {
    val names = GraftExtensions.functions.map(_.name)
    assert(names.length == 31 && names.distinct == names, names)
    assert(names.toSet == samples.keySet)
    GraftExtensions.functions.foreach { f =>
      assert(samples(f.name).length == f.arity, f.name)
      val rows = run(f.name, samples(f.name), compiled = true)
      assert(rows.nonEmpty && rows == run(f.name, samples(f.name), compiled = false), f.name)
    }
  }

  test("one argument too few or too many is WRONG_NUM_ARGS naming the function") {
    // the registry lookup is the analyzer's own call; it also keeps the
    // query listeners from logging a stack trace per case
    val registry = spark.sessionState.functionRegistry
    val parse = spark.sessionState.sqlParser.parseExpression _
    for (f <- GraftExtensions.functions; n <- Seq(f.arity - 1, f.arity + 1)) {
      val args = (samples(f.name) ++ Seq("1")).take(n)
      val e = intercept[AnalysisException] {
        registry.lookupFunction(FunctionIdentifier(f.name), args.map(parse))
      }
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", s"${f.name}/$n: ${e.getMessage}")
      assert(e.getMessageParameters.get("functionName").contains(f.name), e.getMessage)
      assert(e.getMessageParameters.get("expectedNum") == f.arity.toString, e.getMessage)
      assert(e.getMessageParameters.get("actualNum") == n.toString, e.getMessage)
    }
    // and through SQL the analysis error reaches the caller as it is
    val e = intercept[AnalysisException](spark.sql("SELECT graft_toks()"))
    assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", e.getMessage)
  }

  test("NULL in any argument position: the same result compiled and interpreted, or a readable error") {
    def raw(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(x =>
      x.isInstanceOf[NullPointerException] || x.isInstanceOf[IndexOutOfBoundsException] ||
        x.isInstanceOf[ClassCastException])
    def readable(name: String, t: Try[_]) = t match {
      case Failure(e: IllegalArgumentException) => !raw(e) && e.getMessage.startsWith(s"$name: ")
      case _ => false
    }
    val bad = for {
      f <- GraftExtensions.functions
      i <- 0 until f.arity
      args = samples(f.name).updated(i, "NULL")
      outcome = (Try(run(f.name, args, compiled = true)), Try(run(f.name, args, compiled = false)))
      if (outcome match {
        case (Success(compiled), Success(interpreted)) => compiled != interpreted
        case (c, i) => !(readable(f.name, c) && readable(f.name, i))
      })
    } yield s"${f.name}(${args.mkString(", ")}): compiled ${outcome._1}, interpreted ${outcome._2}"
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("graft_try_long(NULL) is NULL, compiled and interpreted") {
    // over an RDD scan a NULL-typed column reaches the projection unfolded
    val nulls = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null), Row(null)), 2),
      StructType(Seq(StructField("n", NullType))))
    for (compiled <- Seq(true, false)) {
      assert(run("graft_try_long", Seq("NULL"), compiled) == Seq("[null]", "[null]"))
      withCodegen(compiled) {
        val df = nulls.selectExpr("graft_try_long(n) AS v")
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("*(1) Project") == compiled, plan)
        assert(df.collect().map(_.isNullAt(0)).toSeq == Seq(true, true))
      }
    }
  }

  test("graft_freq_items and graft_topk: a NULL or non-literal k is a readable IllegalArgumentException") {
    for ((call, fn) <- Seq("graft_freq_items(c, NULL)" -> "graft_freq_items",
        "graft_freq_items(c, n)" -> "graft_freq_items",
        "graft_topk(c, n, NULL)" -> "graft_topk",
        "graft_topk(c, n, n)" -> "graft_topk")) {
      val e = intercept[IllegalArgumentException] {
        spark.sql(s"SELECT $call FROM VALUES ('a', 1L), ('b', 2L) AS t(c, n)").collect()
      }
      assert(e.getMessage.startsWith(s"$fn: "), s"$call: ${e.getMessage}")
    }
  }

  test("the session registry lists exactly the table's functions") {
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(registered == GraftExtensions.functions.map(_.name).toSet)
  }

  test("GraftExtensions is the one registration route in main source") {
    // a second route drifts from the table silently (the routes once
    // disagreed on six functions); comment lines count too
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val (ext, rest) = files.partition(_.getFileName.toString == "GraftExtensions.scala")
    assert(ext.length == 1,
      s"the walk from ${Paths.get("src/main/scala").toAbsolutePath} found no GraftExtensions.scala")
    assert(Files.readAllLines(ext.head).asScala.exists(_.contains("injectFunction(")))
    val frags = Seq("FunctionIdentifier(\"graft_", "injectFunction(", "registerFunction(")
    val hits = for (f <- rest; (l, n) <- Files.readAllLines(f).asScala.zipWithIndex
                    if frags.exists(l.contains)) yield s"$f:${n + 1}: ${l.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
