package perfbench

/** The per-layer metrics of a traced run, named after the program's
  * modules, each a mean per traced pass. Every workload reports the same
  * names; a layer the workload does not call reads 0. */
object PerLayer {

  /** ETL layers: parse and clean from the probe, the rest from the spans
    * and job call sites of the traced passes. */
  val EtlLayers = Seq("WikiXml", "WikiText", "WikiEtl.withDenseId.bodies", "Redirects",
    "WikiEtl.withDenseId.articles", "MySqlSink.bodies", "MySqlSink.articles", "parquet")

  final case class Run(cores: Int, spans: Seq[Span], jobs: Seq[JobRec],
                       counts: Map[String, Double], expect: Option[DumpGen.Expect], pages: Long,
                       untracedS: Seq[Double], tracedS: Seq[Double],
                       etlTimes: Seq[Driver.EtlTimes],
                       attempted: Int, failed: Int)

  def metrics(r: Run): Seq[(String, Double, String)] = {
    val out = Seq.newBuilder[(String, Double, String)]
    val layers = Trace.layers(r.spans, r.jobs)
    val empty = Trace.Layer(0, 0, 0, 0, 0, 0, 0)
    def util(l: Trace.Layer) = if (l.wallS > 0) l.taskCpuS / (l.wallS * r.cores) else 0.0

    EtlLayers.foreach { name =>
      val l = layers.getOrElse(name, empty)
      out += ((s"$name.self_s", l.selfS, "s"))
      out += ((s"$name.busy_s", l.busyS, "s"))
      out += ((s"$name.jobs", l.jobs, "count"))
      out += ((s"$name.task_cpu_s", l.taskCpuS, "s"))
      out += ((s"$name.core_util", util(l), "ratio"))
      out += ((s"$name.shuffle_write_bytes", l.shuffleWriteBytes, "bytes"))
      out += ((s"$name.spill_bytes", l.spillBytes, "bytes"))
    }
    def x(k: String) = r.counts.getOrElse(k, 0.0)
    val parseS = layers.get("WikiXml").map(_.wallS).getOrElse(0.0)
    val dumpMb = r.expect.map(_.dumpBytes / 1e6).getOrElse(0.0)
    out += (("WikiXml.records", x("WikiXml.records"), "count"))
    out += (("WikiXml.dropped_records", x("WikiXml.dropped_records"), "count"))
    out += (("WikiXml.mb_per_s", if (parseS > 0) dumpMb / parseS else 0.0, "MB/s"))
    out += (("WikiText.out_in_char_ratio", x("WikiText.out_in_char_ratio"), "ratio"))
    out += (("Redirects.resolved_ratio", x("Redirects.resolved_ratio"), "ratio"))
    out += (("Redirects.dropped_cycle", x("Redirects.dropped_cycle"), "count"))
    out += (("Redirects.dropped_dead_end", x("Redirects.dropped_dead_end"), "count"))
    out += (("Redirects.dropped_budget", x("Redirects.dropped_budget"), "count"))
    Seq("bodies", "articles").foreach { t =>
      val s = layers.get(s"MySqlSink.$t").map(_.wallS).getOrElse(0.0)
      out += ((s"MySqlSink.$t.rows_per_s", if (s > 0) x(s"MySqlSink.$t.rows") / s else 0.0, "rows/s"))
    }
    out += (("parquet.bytes", x("parquet.bytes"), "bytes"))

    // query modules: module spans hold their queries
    Driver.Mix.foreach { case (module, qs) =>
      val l = layers.getOrElse(module, empty)
      out += ((s"$module.s", l.wallS, "s"))
      out += ((s"$module.jobs", l.jobs, "count"))
      out += ((s"$module.task_cpu_s", l.taskCpuS, "s"))
      out += ((s"$module.core_util", util(l), "ratio"))
      out += ((s"$module.shuffle_write_bytes", l.shuffleWriteBytes, "bytes"))
      qs.foreach { q =>
        out += ((s"$module.${q}_s", layers.get(s"$module.$q").map(_.wallS).getOrElse(0.0), "s"))
      }
    }

    val etl = r.expect.isDefined
    val traced = Driver.median(r.tracedS)
    val untraced = Driver.median(r.untracedS)
    // headline rates from the run's untraced passes. The parquet rate
    // leaves out the work of materializing `articles`: the JDBC sink,
    // which runs first, pays for it, as in a pass of `graft.Dbfy` with
    // both sinks; `Dbfy --sink parquet` alone would pay it in its writes.
    def rate(f: Driver.EtlTimes => Double) =
      if (etl && r.etlTimes.nonEmpty) r.pages / Driver.median(r.etlTimes.map(f)) else 0.0
    out += (("etl_jdbc_pages_per_s", rate(t => t.run + t.jdbc), "pages/s"))
    out += (("etl_parquet_pages_per_s", rate(t => t.run + t.parquet), "pages/s"))
    out += (("stored_bytes_per_input_byte",
      if (etl) x("parquet.bytes") / r.expect.get.dumpBytes else 0.0, "ratio"))
    out += (("query_mix_s", if (etl) 0.0 else untraced, "s"))
    out += (("failed_ratio", r.failed.toDouble / math.max(1, r.attempted), "ratio"))
    out += (("trace.overhead_ratio", traced / untraced - 1, "ratio"))
    out.result()
  }
}
