package graft

import org.apache.spark.sql.functions._

/** Pins the codegen'd `graft_cdc_starts` fold (functions/TextExprs.scala)
  * against the declarative HOF formulation it replaced — the same
  * fold-vs-SQL equality contract as graft_simhash / graft_winnow — plus
  * the edge semantics the q_cdc_chunks oracle depends on. */
class CdcSpec extends SparkTestBase {

  private val hofForm =
    "concat(array(1), CASE WHEN length(p) >= 9 THEN" +
      " filter(sequence(2, length(p) - 7)," +
      " i -> substring(md5(CAST(substring(p, i, 8) AS BINARY)), 1, 1) = '0')" +
      " ELSE CAST(array() AS ARRAY<INT>) END)"

  test("graft_cdc_starts == the declarative HOF form on the corpus") {
    val both = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), expr("substring(text, 1, 240)").as("p"))
      .filter(length(col("p")) >= 8)
      .select(col("doc_id"),
        expr("graft_cdc_starts(p, 8)").as("fold"),
        expr(hofForm).as("hof"))
    assert(both.count() > 0)
    val diverging = both.filter(col("fold") =!= col("hof")).count()
    assert(diverging == 0, "fold diverges from the HOF formulation")
  }

  test("edge semantics: sub-gram NULL, exact-gram single chunk, boundary rate sane") {
    import spark.implicits._
    val rows = Seq("", "short", "exactly8", "a" * 240)
      .toDF("p").select(expr("graft_cdc_starts(p, 8)").as("s")).collect()
    assert(rows(0).isNullAt(0) && rows(1).isNullAt(0), "sub-gram must be NULL")
    assert(rows(2).getSeq[Int](0) == Seq(1), "exact-gram text is one chunk")
    // 240 identical chars: every position hashes the same gram, so the
    // result is either [1] or every position — both consistent
    val uniform = rows(3).getSeq[Int](0)
    assert(uniform.head == 1 && (uniform.length == 1 || uniform.length == 233))
  }

  test("non-ASCII positions follow char (code point) semantics like substring") {
    import spark.implicits._
    // 2-byte chars: a byte-indexed loop would slice grams differently
    // from the char-indexed HOF form
    val p = "é" * 20 + "plaintext tail for boundaries " * 3
    val row = Seq(p).toDF("txt")
      .select(expr("substring(txt, 1, 240)").as("p"))
      .select(expr("graft_cdc_starts(p, 8)").as("fold"), expr(hofForm).as("hof"))
      .head()
    assert(row.getSeq[Int](0) == row.getSeq[Int](1))
  }
}
