package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes the expected row count and order-insensitive hash of every
  * query of the mix, from one pass over the given tables. Run through
  * `python3 perfbench/record_expected.py`. */
object RecordExpected {
  def main(args: Array[String]): Unit = {
    val Array(tables, outFile, work) = args
    val spark = Driver.session(Runtime.getRuntime.availableProcessors(), Paths.get(work))
    try {
      // nothing is expected yet, so every query reports a mismatch; only
      // the results it saw are kept
      Driver.log("recording: each query is checked against nothing and logs FAILED")
      val q = new Driver.Queries(tables, Map.empty, new Driver.Outcome)
      q.spark = spark
      q.tr = new Tracer(spark.sparkContext, new BenchListener, enabled = false)
      q.pass()
      val body = Driver.Mix.flatMap(_._2).map { name =>
        val (n, h) = q.seen(name)
        s"""  "$name": {"rows": $n, "hash": "$h"}"""
      }.mkString("{\n", ",\n", "\n}\n")
      Files.write(Paths.get(outFile), body.getBytes(StandardCharsets.UTF_8))
    } finally Driver.stop(spark)
  }
}
