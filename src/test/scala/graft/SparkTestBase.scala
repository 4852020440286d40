package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. sf0.001 keeps suites fast; queries
  * themselves are scale-free (partitioning decisions live in the plans,
  * not the tests). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Ids of the RDDs `body` persisted that are still persisted after
    * it. Every RDD the body registers is held strongly until the check,
    * so a GC cannot let the context cleaner hide a leak. */
  def persistedBy(body: => Unit): Set[Int] =
    org.apache.spark.SparkTestHooks.persistedBy(spark.sparkContext)(body)
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"/tmp/graft-warehouse-${System.nanoTime()}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
