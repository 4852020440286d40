package perfbench

import graft.SparkEntry
import graft.etl.{MySqlSink, Redirects, WikiEtl, WikiText, WikiXml}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's single-process driver. One invocation runs one
  * workload with one seed: set-up (timed from JVM start), a closed loop of
  * timed passes for `--seconds`, output checks, and one JSON result line
  * on stdout. With `--trace 1` it also records spans around every call
  * into the program and reports per-layer metrics instead.
  *
  * The program is used only through its public functions: `WikiXml.pages`,
  * `WikiText.cleanWikiBody`, `WikiEtl.run`, `MySqlSink.bootstrap` /
  * `writer` / `derbyReset`, and `SparkEntry.queries`. The time of the
  * `WikiEtl.withDenseId` and `Redirects.resolveTransitive` calls inside
  * `WikiEtl.run` is told apart by the call sites of their Spark jobs.
  */
object Driver {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, expected: Path)

  val DerbyUrl = "jdbc:derby:memory:perfbench;create=true"
  val DerbyUser = "app"
  val DerbyPassword = "app"

  /** Query mix in pass order, grouped by the module that defines each
    * query: near-dup clustering and the end-to-end pipeline, the
    * fixpoint operators, one control per relational/aggregate module,
    * and the reference ETL stages on small inputs. */
  val Mix: Seq[(String, Seq[String])] = Seq(
    "Similarity" -> Seq("q_dedup_survivor"),
    "Pipeline" -> Seq("q_pipeline_e2e"),
    "Graph" -> Seq("q_pagerank_multi"),
    "Relational" -> Seq("q_tpch_q5"),
    "Aggregates" -> Seq("q_agg_hash"),
    "Text" -> Seq("q_tok_fertility"),
    "Reference" -> Seq("q_wiki_clean", "q_redirect_resolve"))

  /** Dump shape of the `etl_redirects` workload. */
  val RedirectsDump: DumpGen.Params = DumpGen.Params(pages = 8000, redirectShare = 0.70,
    chainDepth = Seq(70, 14, 6, 3, 2, 1, 1, 0.5, 0.5, 0.5, 0.5, 0.3, 0.3, 0.2, 0.2,
      0.2, 0.2, 0.2, 0.2, 0.2),
    cycleShare = 0.03, deadEndShare = 0.04, beyondShare = 0.02,
    bodyChars = 400, otherNs = 40)

  val Workloads = Seq("etl_redirects", "query_mix")

  /** Passes per timed window, whatever `--seconds` says, so each run
    * reports a median. */
  val MinPasses = 3

  /** Untimed passes between set-up and the timed window. After set-up's
    * single warm-up pass the JIT is still compiling: an ETL pass's
    * process CPU falls from about 11 s to 6 s over the next six passes,
    * and its wall time with it. */
  val SettlePasses = 4

  /** Calibration rounds (`Calib`) right after set-up, and before each
    * timed pass. */
  val SetupCalibRounds = 5
  val CalibRounds = 3

  // ------------------------------------------------------------- helpers

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Order-insensitive content hash of a frame: row count plus the sum of
    * per-row 64-bit hashes, summed exactly. */
  def tableHash(df: DataFrame): String = {
    val r = df.select(count(lit(1)), sum(rowHash(df).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  def rows(tableHash: String): Long = tableHash.takeWhile(_ != ':').toLong

  def rowHash(df: DataFrame) =
    xxhash64(df.schema.fields.map { f =>
      if (f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]) to_json(col(s"`${f.name}`"))
      else col(s"`${f.name}`")
    }.toSeq: _*)

  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def derbyCount(table: String): Long = {
    val c = java.sql.DriverManager.getConnection(DerbyUrl, DerbyUser, DerbyPassword)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  def derbyDrop(): Unit =
    try java.sql.DriverManager.getConnection("jdbc:derby:memory:perfbench;drop=true").close()
    catch { case _: java.sql.SQLException => () } // a dropped database reports by exception

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(x => Files.isRegularFile(x) && !x.getFileName.toString.startsWith("."))
        .mapToLong(x => Files.size(x)).sum()
      finally s.close()
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** CPU seconds this process has used, and seconds the host's
    * hypervisor kept this machine's CPUs from running (steal, from
    * `/proc/stat`; 0 where there is none). Logged per pass, to tell a
    * slower pass from a busier host. */
  def cpuAndSteal(): (Double, Double) = {
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }
    val steal = try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.US_ASCII)
        .linesIterator.next().trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100 else 0.0
    } catch { case NonFatal(_) => 0.0 }
    (cpu, steal)
  }

  /** Operations attempted and failed; a failure is an exception or a
    * failed output check, and is kept out of every timing. */
  final class Outcome {
    var attempted = 0
    var failed = 0
    /** Runs one operation whose body returns its failed checks; true
      * when it threw nothing and every check held. */
    def op(name: String)(body: => Seq[String]): Boolean = {
      attempted += 1
      val errs = try body catch { case NonFatal(e) => Seq(s"threw $e") }
      errs.foreach(e => log(s"FAILED $name: $e"))
      if (errs.nonEmpty) failed += 1
      errs.isEmpty
    }
  }

  // ------------------------------------------------------------------ ETL

  /** Seconds of one ETL pass, split at the sinks. */
  final case class EtlTimes(run: Double, jdbc: Double, parquet: Double) {
    def total: Double = run + jdbc + parquet
  }

  /** One ETL workload. A pass is `WikiEtl.run` followed by both of
    * `graft.Dbfy`'s sinks on its output: the JDBC sequence (Derby DDL
    * bootstrap → `bodies` → `articles`) and the `--sink parquet` writes.
    * Checks and isolation run outside the timed part. */
  final class Etl(dir: Path, expect: DumpGen.Expect, out: Outcome) {
    var spark: SparkSession = _
    var tr: Tracer = _
    val dump: String = dir.resolve("dump.xml").toString
    val pq: Path = dir.resolve("parquet")
    var bodiesHash: Option[String] = None
    var articlesHash: Option[String] = None
    /** Counts of the last checked pass and of the probe, for the
      * per-layer metrics. */
    val counts = mutable.LinkedHashMap.empty[String, Double]

    private def checkHash(which: String, h: String, ref: Option[String]): Seq[String] =
      ref.filter(_ != h).map(r => s"$which hash $h differs from earlier pass $r").toSeq

    /** One pass; its seconds when it passed its checks. The set-up's
      * warm-up pass skips the checks, which would count in `setup_s`. */
    def pass(checked: Boolean = true): Option[EtlTimes] = {
      var times = EtlTimes(0, 0, 0)
      val ok = out.op("etl pass") {
        val t0 = System.nanoTime()
        val (o, articles, t1, t2) = tr.span("pass") {
          val o = tr.span("WikiEtl.run")(WikiEtl.run(spark, dump))
          // graft.Dbfy persists articles so the sink and its report share it
          val articles = o.articles.persist()
          val t1 = System.nanoTime()
          tr.span("MySqlSink.bootstrap")(
            MySqlSink.bootstrap(DerbyUrl, DerbyUser, DerbyPassword, MySqlSink.derbyDdl))
          tr.span("MySqlSink.bodies")(
            MySqlSink.writer(o.bodies, DerbyUrl, "bodies", DerbyUser, DerbyPassword).save())
          tr.span("MySqlSink.articles")(
            MySqlSink.writer(articles, DerbyUrl, "articles", DerbyUser, DerbyPassword).save())
          val t2 = System.nanoTime()
          tr.span("parquet") {
            o.bodies.write.mode("overwrite").parquet(pq.resolve("bodies").toString)
            articles.write.mode("overwrite").parquet(pq.resolve("articles").toString)
          }
          (o, articles, t1, t2)
        }
        val t3 = System.nanoTime()
        times = EtlTimes((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
        val errs = if (checked) check(o.bodies, articles) else Nil
        articles.unpersist(blocking = true)
        o.cleanup()
        errs
      }
      reset()
      if (ok) Some(times) else None
    }

    private def check(bodies: DataFrame, articles: DataFrame): Seq[String] = {
      val (hb, ha) = (tableHash(bodies), tableHash(articles))
      val (b, a) = (rows(hb), rows(ha))
      val (db, da) = (derbyCount("bodies"), derbyCount("articles"))
      val pb = tableHash(spark.read.parquet(pq.resolve("bodies").toString))
      val pa = tableHash(spark.read.parquet(pq.resolve("articles").toString))
      // every redirect of the dump, classed by the generator's own walk;
      // one that resolved is an article row under its title
      val cls = spark.read.option("sep", "\t").schema("title STRING, cls STRING")
        .csv(dir.resolve("redirect_classes.tsv").toString)
      val titles = articles.select(col("title"))
      val dropped = cls.join(titles, Seq("title"), "left_anti")
        .groupBy("cls").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val wronglyResolved = cls.filter(col("cls") =!= "resolved").join(titles, "title").count()
      val resolved = expect.redirects - dropped.values.sum
      val errs = mutable.ArrayBuffer.empty[String]
      if (b != expect.bodies) errs += s"bodies $b != expected ${expect.bodies}"
      if (a != expect.articles) errs += s"articles $a != expected ${expect.articles}"
      if (db != b || da != a) errs += s"Derby holds $db/$da rows, frames $b/$a"
      if (pb != hb || pa != ha) errs += s"parquet read back as $pb/$pa, frames $hb/$ha"
      errs ++= checkHash("bodies", hb, bodiesHash) ++ checkHash("articles", ha, articlesHash)
      if (wronglyResolved != 0) errs += s"$wronglyResolved redirects resolved that should drop"
      Seq("cycle" -> expect.droppedCycle, "dead_end" -> expect.droppedDeadEnd,
        "budget" -> expect.droppedBudget).foreach { case (c, n) =>
        if (dropped.getOrElse(c, 0L) != n) errs += s"dropped $c ${dropped.getOrElse(c, 0L)} != expected $n"
      }
      if (errs.isEmpty) {
        if (bodiesHash.isEmpty) bodiesHash = Some(hb)
        if (articlesHash.isEmpty) articlesHash = Some(ha)
      }
      counts("Redirects.resolved_ratio") =
        if (expect.redirects == 0) 0 else resolved.toDouble / expect.redirects
      counts("Redirects.dropped_cycle") = dropped.getOrElse("cycle", 0L).toDouble
      counts("Redirects.dropped_dead_end") = dropped.getOrElse("dead_end", 0L).toDouble
      counts("Redirects.dropped_budget") = dropped.getOrElse("budget", 0L).toDouble
      counts("MySqlSink.bodies.rows") = b
      counts("MySqlSink.articles.rows") = a
      counts("parquet.bytes") = dirBytes(pq)
      errs.toSeq
    }

    /** Pass isolation: empty Derby tables, no parquet output, no cached
      * blocks, a collected heap. */
    def reset(): Unit = {
      MySqlSink.derbyReset(DerbyUrl, DerbyUser, DerbyPassword)
      deleteTree(pq)
      isolate(spark)
      System.gc()
    }

    /** Traced only: parse and clean, each on its own. In a pass they run
      * fused inside the first job of `WikiEtl.withDenseId`, so their share
      * is taken here from the two layers' public functions on the dump:
      * `WikiXml.pages` up to the repartition that follows it in
      * `WikiEtl.run`, then `WikiText.cleanWikiBody` on the pages that are
      * not redirects. */
    def probe(cores: Int): Unit = {
      out.op("parse/clean probe") {
        val pages = tr.span("WikiXml") {
          val p = WikiXml.pages(spark, dump).repartition(cores)
            .persist(StorageLevel.MEMORY_AND_DISK)
          p.count(); p
        }
        val clean = udf((t: String) => WikiText.cleanWikiBody(t))
        val lens = tr.span("WikiText") {
          pages.filter(regexp_extract(col("text"), WikiText.RedirectRegexSql, 1) === "")
            .select(length(clean(col("text"))).as("out"), length(col("text")).as("in"))
            .agg(sum("out"), sum("in")).head()
        }
        val records = WikiXml.allPages(spark, dump).count()
        val rawPages = spark.read.option("lineSep", "</page>").text(dump)
          .filter(col("value").contains("<page>")).count()
        pages.unpersist(blocking = true)
        counts("WikiXml.records") = records
        counts("WikiXml.dropped_records") = rawPages - records
        counts("WikiText.out_in_char_ratio") = lens.getLong(0).toDouble / lens.getLong(1)
        if (rawPages - records != expect.droppedRecords)
          Seq(s"dropped records ${rawPages - records} != expected ${expect.droppedRecords}")
        else Nil
      }
      isolate(spark)
    }
  }

  // ------------------------------------------------------------ queries

  /** @param expected row count and hash per query */
  final class Queries(tables: String, expected: Map[String, (Long, String)], out: Outcome) {
    var spark: SparkSession = _
    var tr: Tracer = _
    val seen = mutable.LinkedHashMap.empty[String, (Long, String)]

    /** One query: the registered function plus a `noop` write, with the
      * row count and hash observed during that same execution. */
    def run(module: String, q: String): Option[Double] = {
      var timed = 0.0
      val ok = out.op(q) {
        val t0 = System.nanoTime()
        val obs = Observation(s"check_${q}_${System.nanoTime()}")
        tr.span(s"$module.$q") {
          val df = SparkEntry.queries(q)(spark, tables)
          df.observe(obs, count(lit(1)).as("n"), sum(rowHash(df).cast("decimal(38,0)")).as("h"))
            .write.mode("overwrite").format("noop").save()
        }
        timed = (System.nanoTime() - t0) / 1e9
        val r = obs.get
        val got = (r("n").asInstanceOf[Long], String.valueOf(r("h")))
        seen(q) = got
        expected.get(q) match {
          case Some(e) if e == got => Nil
          case e => Seq(s"rows/hash $got != expected ${e.getOrElse("(none recorded)")}")
        }
      }
      isolate(spark)
      if (ok) Some(timed) else None
    }

    /** One pass over the mix; per-query seconds, None when any query failed. */
    def pass(): Option[Map[String, Double]] = {
      val times = Mix.flatMap { case (module, qs) =>
        tr.span(module)(qs.map(q => q -> run(module, q)))
      }
      System.gc()
      log(times.map { case (q, t) => s"$q=${t.map(x => "%.2f".format(x)).getOrElse("FAILED")}" }
        .mkString("queries: ", " ", ""))
      if (times.forall(_._2.isDefined)) Some(times.map { case (q, t) => q -> t.get }.toMap)
      else None
    }
  }

  def readExpected(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else {
      val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      """"(q_[a-z0-9_]+)":\s*\{"rows":\s*(\d+),\s*"hash":\s*"([^"]+)"\}""".r
        .findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
    }

  // --------------------------------------------------------------- main

  def parseArgs(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    Args(w, need("--seed").toLong, need("--seconds").toInt, need("--trace") == "1",
      Paths.get(need("--work")), Paths.get(need("--expected")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    // the launcher holds our stdin open; end of input means it is gone,
    // and the run must not outlive it
    val watchdog = new Thread(() => {
      while (System.in.read() >= 0) ()
      Runtime.getRuntime.halt(5)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val result = run(args)
    println(result)
    System.out.flush()
    sys.exit(0)
  }

  /** Runs one workload and returns the JSON result line. */
  def run(args: Args): String = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val work = args.work
    val out = new Outcome
    val isEtl = args.workload.startsWith("etl_")

    // inputs (excluded from set-up time)
    val g0 = System.nanoTime()
    val dumpDir = work.resolve("dump")
    val expect = if (isEtl) Some(DumpGen.write(RedirectsDump, args.seed, dumpDir)) else None
    val genS = (System.nanoTime() - g0) / 1e9
    val pages =
      if (isEtl) (RedirectsDump.pages + RedirectsDump.otherNs + RedirectsDump.malformed).toLong else 0L
    val tables = work.resolve("tables").toString
    expect.foreach(e => log(s"dump ${e.toJson} generated in ${"%.1f".format(genS)} s"))

    // set-up, timed from JVM start: session, Derby and one warm-up pass,
    // what a one-shot graft.Dbfy run pays before its work runs warm
    val spark = session(cores, work)
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val etl = expect.map(e => new Etl(dumpDir, e, out))
    val qs = if (isEtl) None else Some(new Queries(tables, readExpected(args.expected), out))
    def attach(tr: Tracer): Unit = {
      etl.foreach { e => e.spark = spark; e.tr = tr }
      qs.foreach { q => q.spark = spark; q.tr = tr }
    }
    def untimedPass(): Unit = {
      attach(new Tracer(spark.sparkContext, listener, enabled = false))
      etl.foreach(_.pass(checked = false))
      qs.foreach(_.pass())
    }
    etl.foreach(_ => MySqlSink.derbyReset(DerbyUrl, DerbyUser, DerbyPassword))
    untimedPass()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genS
    // the host's speed right after set-up, the kernel compiled first
    Calib.round()
    val setupCalib = (1 to SetupCalibRounds).map(_ => Calib.round())
    log(f"set-up: $setupS%.2f s [calibration ${median(setupCalib)}%.4f s]")
    (1 to SettlePasses).foreach(_ => untimedPass())

    // timed window: closed loop, one client, at least MinPasses passes.
    // The traced run interleaves untraced and traced passes in the order
    // U T T U, at least once through, so the tracing overhead is measured
    // in the same JVM and a steady drift in pass times cancels out.
    val passS = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val etlTimes = mutable.ArrayBuffer.empty[EtlTimes]
    val peaks = mutable.ArrayBuffer.empty[Double]
    val calib = mutable.ArrayBuffer.empty[Double]
    val spans = mutable.ArrayBuffer.empty[Span]
    val w0 = System.nanoTime()
    var passNo = 0
    def elapsed = (System.nanoTime() - w0) / 1e9
    val minPasses = if (args.trace) math.max(MinPasses, 4) else MinPasses
    while (passNo < minPasses || elapsed < args.seconds) {
      passNo += 1
      val cal = (1 to CalibRounds).map(_ => Calib.round())
      calib ++= cal
      val (cpu0, steal0) = cpuAndSteal()
      val traced = args.trace && (passNo % 4 == 2 || passNo % 4 == 3)
      val tracer = new Tracer(spark.sparkContext, listener, enabled = traced)
      tracer.pass = passNo
      listener.counting = traced
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      listener.resetPeak()
      attach(tracer)
      var split = ""
      val t = etl match {
        case Some(e) =>
          val t = e.pass()
          if (!traced) t.foreach(etlTimes += _)
          t.foreach(x => split = " (WikiEtl.run %.3f, jdbc %.3f, parquet %.3f)"
            .format(x.run, x.jdbc, x.parquet))
          t.map(_.total)
        case None => qs.get.pass().map(_.values.sum)
      }
      listener.counting = false
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      peaks += listener.peakBytes / 1e6
      t.foreach(s => if (traced) tracedS += s else passS += s)
      spans ++= tracer.spans
      val (cpu1, steal1) = cpuAndSteal()
      log(s"pass $passNo${if (traced) " (traced)" else ""}: " +
        t.map(s => "%.3f s".format(s)).getOrElse("FAILED") + split +
        f" [calibration ${median(cal)}%.4f s, process cpu ${cpu1 - cpu0}%.2f s, host steal ${steal1 - steal0}%.2f s]")
    }

    // traced only: parse and clean on their own, after the timed window
    if (args.trace) etl.foreach { e =>
      val tracer = new Tracer(spark.sparkContext, listener, enabled = true)
      tracer.pass = passNo + 1
      listener.counting = true
      attach(tracer)
      e.probe(cores)
      listener.counting = false
      spans ++= tracer.spans
    }
    // the layers inside each traced WikiEtl.run, from its jobs' call sites
    val jobs = listener.jobs
    spans ++= spans.filter(_.name == "WikiEtl.run").toList.flatMap(Trace.attribute(_, jobs))
    stop(spark)
    if (isEtl) derbyDrop()

    // end-to-end times in reference-host seconds: each raw time over how
    // much slower than the reference the host ran when it was taken
    val (setupHost, passHost) = (Calib.factor(setupCalib), Calib.factor(calib.toSeq))
    log(f"host speed: set-up ×$setupHost%.3f, passes ×$passHost%.3f of the reference; " +
      f"raw set-up $setupS%.3f s, raw pass ${median(passS.toSeq)}%.3f s")
    val correct = out.failed == 0
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS / setupHost, "s"),
        ("pass_s", median(passS.toSeq) / passHost, "s"),
        ("cache_peak_mb", median(peaks.toSeq), "MB"))
      else PerLayer.metrics(PerLayer.Run(cores, spans.toSeq, jobs,
        etl.map(_.counts.toMap).getOrElse(Map.empty), expect, pages, passS.toSeq, tracedS.toSeq,
        etlTimes.toSeq, out.attempted, out.failed)) :+ (("host.calib_s", median(calib.toSeq), "s"))
    if (args.trace) {
      val f = work.getParent.resolve("traces").resolve(s"${args.workload}-seed${args.seed}.json")
      Files.createDirectories(f.getParent)
      Files.write(f, Trace.toJson(spans.toSeq).getBytes(StandardCharsets.UTF_8))
      log(s"spans written to $f")
    }
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {$ms}}"""
  }
}
