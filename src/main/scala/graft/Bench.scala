package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at
  * `SPARK_GRAFT_SF_DIR` on local[$SPARK_GRAFT_CPUS] and emits ONE JSON
  * line. The line goes to stdout AND to a file
  * (`SPARK_GRAFT_BENCH_OUT`, default `bench_out.json` in the cwd) — r1's
  * stdout-only line was swallowed by sbt log noise and the driver
  * recorded `parsed: null`.
  *
  * Materialization is a `noop`-format write, not `.count()`: count lets
  * Catalyst eliminate final presentation sorts, under-measuring
  * sort-heavy queries; the noop sink executes the declared plan fully
  * and discards rows at the data-source layer (no driver collect).
  *
  * Run protocol (measured fixes; the A/B batteries behind each, incl.
  * the refuted battery-wide warm-up and interleaved rep order, are in
  * BASELINE.md and git history):
  *  - per-query warm-up: one untimed run of query Q right before Q's
  *    timed reps JIT-compiles Q's generated code in a JVM aged only by
  *    the queries before it. A battery-wide warm-up left every query's
  *    run state resident before the first timed rep (r7: 63 unchanged
  *    queries ~1.49× slower).
  *  - grouped order: all of Q's reps back to back. Interleaving reps
  *    across the battery timed every rep in a JVM pre-aged by a whole
  *    battery (r10: 134.8 s vs 119.7 s, gate FAIL).
  *  - cleanup after EVERY run (clearCache + unpersist of all persistent
  *    RDDs) so block-manager state stays bounded whatever the battery
  *    size.
  *  - System.gc() before each timed rep, so the ContextCleaner drains
  *    broadcasts and block metadata OUTSIDE the timed window; per-rep GC
  *    time, heap occupancy and load average land in the JSON so drift is
  *    attributable from the artifact alone, and a `warnings` block lists
  *    queries whose (max-min)/min spread exceeds 30%.
  *
  * Baseline gate (r10): loads `BASELINE_QUERIES.json` (per-query
  * min-of-battery seconds pinned from the r8+r9 noop-sink batteries)
  * and emits `vs_baseline` per query plus a top-level
  * `total_vs_baseline` ratio over the intersection. Thresholds:
  * warn >1.5×, fail >2.0× — loosened to warn >2.0×, fail >3.0× for
  * queries the baseline's `_meta.unstable` list flags as noisy
  * (>30% per-rep spread in the pinned run), and skipped entirely when
  * the baseline is <0.3 s (scheduler-noise-dominated, same floor as
  * the variance gate). Failures set `"baseline_gate":"fail"` in the
  * JSON artifact (exit code stays 0 so the driver still records the
  * battery; the marker is the machine-readable failure).
  *
  * Retry adjudication (r13): beyond uniform eras the box shows
  * QUERY-LOCAL GC eras — every grouped rep of one query 3-6× slow
  * with elevated GC, the same query clean minutes later (r13 A/B
  * batteries: disjoint single-query fail sets, each clean in the
  * sibling). One battery per round means 1-2 spurious gate fails per
  * artifact, so gate-failing AND (r14) warn-zone queries re-run once
  * at battery end (fresh warmup + full reps, capped at 24 retries)
  * and adjudicate on min-of-both-blocks; `retried` lists them and
  * `retry_offset` marks where each one's block-2 reps start in the
  * runs arrays. A real regression is slow in both blocks and still
  * warns/gates.
  *
  * Era normalization (r11): the box swings uniformly between speed
  * "eras" (~1.3-1.4× same-code battery-to-battery; an idle-box A/B
  * minutes after a 133 s battery still measured 127 s vs the 108 s
  * era the pins came from, with the per-query ratio distribution
  * flat — median 1.43, p25 1.28, p75 1.63, max normalized outlier
  * 1.64 on a 0.4 s query). Absolute pins therefore false-fail whole
  * batteries. The gate now divides each ratio by the battery-wide
  * MEDIAN ratio (`era_drift`, clamped >=1 so a fast era never hides
  * a regression) before applying the thresholds — a single real
  * regression among ~170 pinned queries cannot move the median, so
  * per-query regressions still trip it. Raw ratios and raw warn/fail
  * lists stay in the artifact (`vs_baseline`, `*_raw`), and
  * era_drift>1.75 downgrades a would-be pass to `warn_era` because a
  * uniform whole-engine slowdown is indistinguishable from era drift
  * by this method and deserves a human A/B.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      // every other entry point pins UTC; since the events loader casts
      // NTZ wall-clock micros in the SESSION zone, an unpinned bench on
      // a non-UTC box would shift every events instant and silently
      // time different work than the pins and the oracle surface
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // STATIC conf, default 100: the battery runs 165+ distinct plans
      // with several codegen units each, so the generated-class cache
      // thrashes and every round pays Janino recompile + class-load for
      // most queries — a measured driver of cross-round JVM aging. The
      // cache is keyed by generated source, so distinct plans bound the
      // entry count (~1-2k classes — metaspace-trivial).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Release per-run state immediately instead of waiting for the
    // ContextCleaner: cached plans and persisted/localCheckpoint RDD
    // blocks are dropped synchronously-enough that the next run starts
    // from a bounded block-manager footprint. (Broadcast variables
    // still need a driver GC — see the per-query System.gc below.)
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // A query that throws is BROKEN, not fast (VERDICT r12 #3: 21
    // analysis-failing queries "timed" at their ~0.06 s exception
    // latency, flattering the battery total by ~8 s of missing work).
    // Record the first error per query; downstream, failed queries are
    // excluded from every timing aggregate and force the gate to fail.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def execute(name: String): Unit =
      try SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        failed.getOrElseUpdate(name,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        (): Unit
      }
    // Shuffle/spill accounting (r10): "minimize shuffles" as a measured
    // artifact, not a design claim — per-query shuffle-write and spill
    // bytes land in the JSON, so a map-side-combine regression (shuffle
    // suddenly scaling with rows instead of groups) is visible from the
    // artifact alone. Task-end events arrive on the async listener bus;
    // the snapshot polls until the counters stabilize (bounded 500 ms)
    // after the synchronous noop save returns.
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val spillBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            spillBytes.addAndGet(m.diskBytesSpilled): Unit
          }
        }
      })
    // Always poll to stability — no equals-last-drained shortcut: that
    // shortcut assumed no events were in flight, but listener-bus lag
    // (or events still propagating past a previous drain's 500 ms cap)
    // could land a prior run's bytes in the next rep's delta. One 20 ms
    // stability poll per snapshot is noise next to a timed query.
    def drainedSnapshot(): (Long, Long) = {
      var cur = (shufWrite.get, spillBytes.get)
      var prev = (-1L, -1L)
      var waited = 0
      while (cur != prev && waited < 500) {
        Thread.sleep(20); waited += 20
        prev = cur; cur = (shufWrite.get, spillBytes.get)
      }
      cur
    }
    def run(name: String): Unit = { execute(name); cleanup() }
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def heapMb(): Long = {
      val r = Runtime.getRuntime
      (r.totalMemory - r.freeMemory) / (1024 * 1024)
    }
    // 1-minute system load average, captured per rep (VERDICT r16 #3:
    // the r16 battery's 8-14x q_topk/q_sample readings were driver-box
    // turbulence, but nothing in the artifact recorded machine load, so
    // raw total_vs_baseline read as a regression until a human re-timed
    // them; with `load` next to gc_ms, turbulence is attributable from
    // the artifact alone — BASELINE.md documents the adjudication rule).
    // -1.0 when the platform cannot report it.
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // Warm the session (codegen, parquet footers, shuffle machinery)
    // so the first query doesn't absorb JVM startup cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = if (args.nonEmpty) names0.filter(args(0).split(",").toSet) else names0
    // One timed execution of `name`: GC first so the ContextCleaner
    // backlog (broadcasts, unpersisted block metadata) drains OUTSIDE
    // the timed window; stop the clock BEFORE cleanup — the teardown
    // (clearCache + unpersist sweep) keeps state bounded between runs
    // but is not part of the query's cost.
    def timedRun(name: String): (Double, Long, Long, Long, Long, Double) = {
      System.gc()
      // drain BEFORE the baseline read too: the untimed warmup's task
      // events are still on the async bus here, and without this they
      // post mid-execute and land in rep 1's delta
      val (sw0, sp0) = drainedSnapshot()
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      execute(name)
      val dt = (System.nanoTime() - t0) / 1e9
      // metrics drain happens AFTER the clock stops — not query cost
      val (sw1, sp1) = drainedSnapshot()
      val rep = (dt, gcMillis() - g0, heapMb(), sw1 - sw0, sp1 - sp0, loadAvg())
      cleanup()
      rep
    }
    // min-of-N per query (VERDICT r3 #2): this box drifts under
    // concurrent load — three r3 "regressions" were pure noise. The min
    // is the least-noise estimator of a query's true cost (noise is
    // strictly additive); raw runs go to the JSON file for audit.
    val raw0: Seq[(String, Seq[(Double, Long, Long, Long, Long, Double)])] =
      names.map { name =>
        run(name)
        name -> (1 to reps).map(_ => timedRun(name))
      }
    // Baseline pins load here (before gate passes) — shared by the
    // retry adjudication below and the final artifact fields.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE_QUERIES.json")
    val (baseline, unstableBaseline): (Map[String, Double], Set[String]) =
      try {
        import org.json4s._
        val jv = org.json4s.jackson.JsonMethods.parse(new java.io.File(baselinePath))
        val qsB = jv.asInstanceOf[JObject].obj.collect {
          case (k, JDouble(d)) if k != "_meta" => k -> d
          case (k, JInt(i)) if k != "_meta"    => k -> i.toDouble
        }.toMap
        val unstable = jv \ "_meta" \ "unstable" match {
          case JArray(xs) => xs.collect { case JString(s) => s }.toSet
          case _          => Set.empty[String]
        }
        (qsB, unstable)
      } catch { case _: Throwable => (Map.empty[String, Double], Set.empty[String]) }
    def minsOf(rs: Seq[(String, Seq[(Double, Long, Long, Long, Long, Double)])]) =
      rs.collect { case (k, xs) if !failed.contains(k) => k -> xs.map(_._1).min }
    def gateOf(rs: Seq[(String, Seq[(Double, Long, Long, Long, Long, Double)])]) =
      BaselineGate.adjudicate(
        minsOf(rs).collect {
          case (k, v) if baseline.get(k).exists(_ > 0) => k -> v / baseline(k)
        }.toSeq, baseline, unstableBaseline)
    // Retry adjudication (r13, extended to warns r14): the box exhibits
    // QUERY-LOCAL GC eras — all reps of one grouped block elevated 3-6x
    // with 10-20x the GC time, while the same query minutes later sits
    // at pin x era (bench_r13_b1/b2: disjoint single-query fail sets,
    // each clean in the sibling battery). The driver runs ONE battery
    // per round, so without this every round's artifact carries 1-2
    // spurious fails. Automate the same A/B that BASELINE.md prescribes
    // manually: re-run each gate-failing query at the END of the
    // battery (fresh warmup + full reps) and keep all runs —
    // min-of-both-blocks clears a transient GC era, while a real plan
    // regression fails both blocks and still gates. Retried names are
    // recorded in the artifact so the second block is auditable.
    //
    // r14: the same adjudication now covers the WARN zone (>1.5x
    // normalized) — r13's q_agg_hll_merge warned in two batteries and
    // was clean in two others the same day on byte-identical code
    // (isolated 8-rep probe: min 0.369 s vs 0.379 s pin, 5-8 ms GC/rep),
    // exactly the query-local-era signature, but warns never earned a
    // second block so the artifact carried the noise. A real mild
    // regression (say a steady 1.7x) is slow in BOTH blocks and still
    // warns. Mild-era caveat: with era_drift clamped at >= 1, a battery
    // in a mildly slow era (say 1.2x uniform but median-resistant
    // sub-noise-floor mix) could push several queries over 1.5x; the
    // retry set is therefore capped — beyond the cap the era itself is
    // the story and warn_era/correlated escalation already reports it.
    //
    // Iterated to fixpoint rather than one pass: clearing a retried
    // query LOWERS the battery median, which raises every other
    // normalized ratio a step — a query at 1.99x in the first pass can
    // cross 2.0x in the recomputed gate and deserves its own retry
    // block too. Each query is retried at most once, so the loop is
    // bounded by the battery size (and by RetryCap).
    val RetryCap = 24
    var rawCur = raw0
    var retriedNames = Vector.empty[String]
    def retrySet(): Seq[String] = {
      val g = gateOf(rawCur)
      (g.fail ++ g.warn).distinct
        .filterNot(retriedNames.contains)
        .take(math.max(0, RetryCap - retriedNames.size))
    }
    var toRetry = retrySet()
    while (toRetry.nonEmpty) {
      val extra = toRetry.map { q =>
        // fresh warm-up, as in block 1 (ADVICE r13)
        run(q)
        q -> (1 to reps).map(_ => timedRun(q))
      }.toMap
      rawCur = rawCur.map { case (k, rs) => k -> (rs ++ extra.getOrElse(k, Nil)) }
      retriedNames = retriedNames ++ toRetry
      toRetry = retrySet()
    }
    val raw = rawCur
    // Explicit block boundary per retried query (ADVICE r13): block-1
    // reps ran in battery order, block-2 reps start at retry_offset —
    // auditors no longer infer the boundary from the reps count.
    val retryOffsets: Map[String, Int] =
      raw.collect { case (k, rs) if retriedNames.contains(k) =>
        k -> (rs.size - reps) }.toMap
    // Exclude broken queries from all timing aggregates: their "reps"
    // measured exception latency, which would read as a 0.06 s success.
    val results = minsOf(raw)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val runsJson = raw.map { case (k, rs) =>
      s"\"" + k + "\":" + rs.map(_._1).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val gcJson = raw.map { case (k, rs) =>
      s"\"" + k + "\":" + rs.map(_._2).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val heapJson = raw.map { case (k, rs) =>
      s"\"" + k + "\":" + rs.map(_._3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-rep 1-min loadavg — turbulence adjudication from the artifact
    val loadJson = raw.map { case (k, rs) =>
      s"\"" + k + "\":" + rs.map(r => BigDecimal(r._6)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // max across reps: shuffle bytes are plan-determined (reps agree up
    // to AQE wobble); spill is worst-case-relevant
    val shufJson = raw.map { case (k, rs) =>
      s"\"" + k + "\":" + rs.map(_._4).max
    }.mkString("{", ",", "}")
    val spillJson = raw.map { case (k, rs) =>
      s"\"" + k + "\":" + rs.map(_._5).max
    }.mkString("{", ",", "}")
    // Variance gate (VERDICT r7 #6): queries whose per-rep spread
    // exceeds 30% of their min are unstable measurements — list them so
    // a drifting harness is visible in the artifact itself. Floor at
    // 0.3s: sub-0.3s queries are scheduler-noise-dominated and barely
    // move the total, so warning on them would drown the real signal.
    // Retried queries are excluded: their cross-block spread is the
    // explained query-local GC era (block 1 slow, retry clean), not a
    // drifting harness — `retried` + the raw runs carry that signal.
    val warnings = raw.collect {
      case (k, rs) if !failed.contains(k) && !retriedNames.contains(k) &&
        rs.map(_._1).min > 0.3 &&
        (rs.map(_._1).max - rs.map(_._1).min) / rs.map(_._1).min > 0.30 =>
        val ts = rs.map(_._1)
        s"""{"query":"$k","min":${ts.min},"max":${ts.max},"spread_pct":${math.round(100 * (ts.max - ts.min) / ts.min)}}"""
    }
    val warnJson = warnings.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // Baseline ratio gate (ADVICE r9): BASELINE_QUERIES.json pins each
    // query's min-of-battery seconds (loaded above, before the retry
    // pass); emit measured/baseline per query and gate on it so a scale
    // regression fails in the artifact, not in a judge's manual diff
    // three rounds later.
    val ratios = results.collect {
      case (k, v) if baseline.get(k).exists(_ > 0) => k -> v / baseline(k)
    }
    val ratioJson = ratios.map { case (k, r) =>
      s"\"" + k + "\":" + BigDecimal(r).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    }.mkString("{", ",", "}")
    // Era-normalized adjudication (r11): policy + rationale live in
    // BaselineGate (pure, unit-tested by BaselineGateSpec) — the box
    // drifts uniformly between speed eras, so warn/fail apply to each
    // ratio divided by the battery-wide median; see BASELINE.md.
    val gateRes = gateOf(raw)
    val eraDrift = gateRes.eraDrift
    val baseWarn = gateRes.warn
    val baseFail = gateRes.fail
    val baseWarnRaw = gateRes.warnRaw
    val baseFailRaw = gateRes.failRaw
    // Any broken query fails the gate outright — era normalization and
    // thresholds only adjudicate SLOWNESS; a query that cannot run is a
    // correctness failure the bench must not paper over.
    val gateStr = if (failed.nonEmpty) "fail" else gateRes.gate
    val noBaseline = results.collect { case (k, _) if !baseline.contains(k) => k }
    val common = ratios.map(_._1).toSet
    val totalVs =
      if (common.isEmpty) 0.0
      else results.collect { case (k, v) if common(k) => v }.sum /
        baseline.collect { case (k, v) if common(k) => v }.sum
    def strArr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    def dec(x: Double, s: Int) = BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
    // Full JSON string escape incl. ALL control chars (same contract as
    // Verify's writer, and for the same reason: one raw  or \f in
    // an exception message would make the driver's json.load throw and
    // zero the round's machine-readable bench).
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
    val failedJson = failed.map { case (k, msg) =>
      jstr(k) + ":" + jstr(msg)
    }.mkString("{", ",", "}")
    val baselineJson =
      s""""vs_baseline":$ratioJson,"total_vs_baseline":${dec(totalVs, 4)},"era_drift":${dec(eraDrift, 3)},"total_vs_norm":${dec(if (eraDrift > 0) totalVs / eraDrift else totalVs, 4)},"baseline_warn":${strArr(baseWarn)},"baseline_fail":${strArr(baseFail)},"baseline_warn_raw":${strArr(baseWarnRaw)},"baseline_fail_raw":${strArr(baseFailRaw)},"no_baseline":${strArr(noBaseline.toSeq)},"baseline_gate":"$gateStr","baseline_file":"$baselinePath""""
    val retryOffsetJson = retryOffsets.map { case (k, o) =>
      s"\"" + k + "\":" + o
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"warmup":"perquery","order":"grouped","failed":$failedJson,"retried":${strArr(retriedNames)},"retry_offset":$retryOffsetJson,"runs":$runsJson,"gc_ms":$gcJson,"heap_mb":$heapJson,"load":$loadJson,"shuffle_bytes":$shufJson,"spill_bytes":$spillJson,"warnings":$warnJson,$baselineJson}"""
    val stdoutLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(stdoutLine)
    // The full line above is ~3 KB and the driver records only a stdout
    // TAIL — r2 truncated it mid-line ("parsed": null). Emit a short
    // summary line LAST so it survives any front-truncation; full
    // per-query detail (incl. raw runs) stays in the file below.
    // Per-core-count sibling artifact (r22, VERDICT r21 #2): the driver
    // runs the battery at two core counts back to back, and both used to
    // write the SAME default file — the 8-core scaling run overwrote the
    // 32-core per-query record, which is why PERF_r21.per_query and the
    // scaling block came out empty. The full JSON now ALSO lands in
    // `<out>_c<cpus>.json`, so consecutive runs at different core counts
    // can never clobber each other; `bench_out.json` keeps its
    // last-run-wins contract for anything that depends on it.
    val outPathC = perCpuPath(outPath, cpus)
    val gateLine =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","queries_file":"$outPath","queries_file_cpus":"$outPathC","cpus":$cpus,"n_queries":${results.size},"n_failed":${failed.size},"failed_queries":${strArr(failed.keys.toSeq)},"n_retried":${retriedNames.size},"reps":$reps,"n_unstable":${warnings.size},"total_vs_baseline":${dec(totalVs, 4)},"era_drift":${dec(eraDrift, 3)},"total_vs_norm":${dec(if (eraDrift > 0) totalVs / eraDrift else totalVs, 4)},"n_baseline_warn":${baseWarn.size},"n_baseline_fail":${baseFail.size},"baseline_warn":${strArr(baseWarn)},"baseline_fail":${strArr(baseFail)},"baseline_gate":"$gateStr"}"""
    println(gateLine)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(outPathC),
      (json + "\n").getBytes("UTF-8"))
    // Machine-readable gate summary at a well-known path (ADVICE r13):
    // the driver's BENCH_r*.json wrapper records only a stdout tail and
    // has shipped "parsed": null since r2 — this file carries the gate
    // verdict regardless of how the wrapper truncates.
    val gatePath = sys.env.getOrElse("SPARK_GRAFT_GATE_OUT", "bench_gate.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(gatePath),
      (gateLine + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** `<out>_c<cpus>` with the suffix spliced before the FILE name's
    * extension, never a directory's: `a.d/bench.json` →
    * `a.d/bench_c4.json`, `a.d/bench` → `a.d/bench_c4`. */
  private[graft] def perCpuPath(outPath: String, cpus: String): String = {
    val dot = outPath.lastIndexOf('.')
    if (dot > outPath.lastIndexOf('/') + 1)
      outPath.substring(0, dot) + s"_c$cpus" + outPath.substring(dot)
    else s"${outPath}_c$cpus"
  }
}
