package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Cumulative listener counters; a span's counters are the difference
  * between two snapshots. */
final case class Counters(jobs: Long = 0, taskCpuNs: Long = 0,
                          shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, taskCpuNs - o.taskCpuNs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, taskCpuNs + o.taskCpuNs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
}

/** One Spark job seen while counting: its interval in epoch ms, the
  * layer its call site names (see `Trace.layerOf`), and its counters. */
final case class JobRec(id: Int, layer: Option[String], startMs: Long, endMs: Long,
                        counters: Counters)

/** The benchmark's Spark listener. Block updates are always tracked
  * (`cache_peak_mb` is an end-to-end metric); jobs, task CPU, shuffle
  * and spill are counted only while `counting` is on (traced passes).
  *
  * A job's layer comes from the call site of the action that started it.
  * Adaptive execution submits stages from its own threads, so a job's
  * own call site says nothing; a SQL job takes the call site its
  * `SparkListenerSQLExecutionStart` carries, an RDD job its stage's. */
final class BenchListener extends SparkListener {
  @volatile var counting = false
  private var c = Counters()
  private val execLayer = mutable.HashMap.empty[Long, Option[String]]
  private val running = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val finished = mutable.ArrayBuffer.empty[JobRec]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var held = 0L
  private var base = 0L
  private var peak = 0L

  def counters: Counters = synchronized(c)
  def jobs: Seq[JobRec] = synchronized(finished.toList)
  /** Peak block-manager memory since `resetPeak`, above what was held then. */
  def peakBytes: Long = synchronized(peak - base)
  def resetPeak(): Unit = synchronized { base = held; peak = held }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if counting =>
      synchronized(execLayer(s.executionId) = Trace.layerOf(s.details))
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = if (counting) synchronized {
    c = c.copy(jobs = c.jobs + 1)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val layer = exec match {
      case Some(id) => execLayer.getOrElse(id.toLong, None)
      case None => e.stageInfos.headOption.flatMap(st => Trace.layerOf(st.details))
    }
    running(e.jobId) = JobRec(e.jobId, layer, e.time, e.time, Counters(jobs = 1))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (counting) synchronized {
    running.remove(e.jobId).foreach(j => finished += j.copy(endMs = e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting && e.taskMetrics != null) synchronized {
    val m = e.taskMetrics
    val t = Counters(0, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled + m.memoryBytesSpilled)
    c = c + t
    stageJob.get(e.stageId).flatMap(running.get).foreach(j => running(j.id) = j.copy(counters = j.counters + t))
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val id = e.blockUpdatedInfo.blockId.name
    val mem = e.blockUpdatedInfo.memSize
    held += mem - blocks.getOrElse(id, 0L)
    if (mem > 0) blocks(id) = mem else blocks.remove(id)
    peak = math.max(peak, held)
  }
}

/** One recorded span: name, wall interval in epoch ms, parent span id,
  * pass id, and the listener counters it covers (children included). */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long,
                      counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory, written out when the run ends. With
  * `enabled = false` `span` only runs its body. */
final class Tracer(sc: SparkContext, listener: BenchListener, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var pass = 0

  def spans: Seq[Span] = done.toList

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      org.apache.spark.perfbench.Bus.drain(sc)
      val id = Trace.ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0)
      val c0 = listener.counters
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        org.apache.spark.perfbench.Bus.drain(sc)
        done += Span(id, name, parent, pass, ms0, System.currentTimeMillis(), ns0,
          System.nanoTime(), listener.counters - c0)
      }
    }
}

object Trace {

  /** Span ids, unique across every tracer of the run. */
  val ids = new java.util.concurrent.atomic.AtomicInteger()

  /** Seconds of `[a, b)` covered by the union of `intervals`. */
  def covered(a: Long, b: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Self time of each span: its duration minus the part of that
    * interval its direct children cover. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.endNs - s.startNs - covered(s.startNs, s.endNs, ch)) / 1e9
    }.toMap
  }

  /** Per-name means over the passes a name occurs in: self seconds,
    * wall seconds, wall seconds during which at least one Spark job ran,
    * and listener counters (jobs, task CPU ns and bytes, per pass). */
  final case class Layer(selfS: Double, wallS: Double, busyS: Double, jobs: Double,
                         taskCpuS: Double, shuffleWriteBytes: Double, spillBytes: Double)

  def layers(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Layer] = {
    val self = selfSeconds(spans)
    val intervals = jobs.map(j => (j.startMs, j.endMs))
    spans.groupBy(_.name).map { case (name, ss) =>
      val n = ss.map(_.pass).distinct.size.toDouble
      val c = ss.map(_.counters).reduce(_ + _)
      name -> Layer(
        ss.map(s => self(s.id)).sum / n,
        ss.map(_.seconds).sum / n,
        ss.map(s => covered(s.startMs, s.endMs, intervals) / 1000.0).sum / n,
        c.jobs / n, c.taskCpuNs / 1e9 / n, c.shuffleWriteBytes / n, c.spillBytes / n)
    }
  }

  /** The layer a call stack (innermost frame first, one per line) names:
    * `Redirects` inside `Redirects.resolveTransitive`, and
    * `WikiEtl.withDenseId@<line>` inside `withDenseId`, with the line of
    * `WikiEtl.run` that called it; None for any other stack. */
  def layerOf(stack: String): Option[String] = {
    val frames = stack.split("\n").map(_.trim)
    frames.indexWhere(f => f.contains("graft.etl.Redirects$.resolveTransitive(") ||
      f.contains("graft.etl.WikiEtl$.withDenseId(")) match {
      case -1 => None
      case i if frames(i).contains("Redirects") => Some("Redirects")
      case i =>
        val caller = frames.drop(i + 1).find(_.contains("graft.etl.WikiEtl$.run("))
        Some("WikiEtl.withDenseId@" + caller.map(_.replaceAll(".*:(\\d+)\\).*", "$1")).getOrElse("?"))
    }
  }

  /** The layers inside one `WikiEtl.run` span, from the jobs the
    * program's own pass ran there: one child span per layer, from its
    * first job's start to its last job's end, holding those jobs'
    * counters. `withDenseId`'s two call sites are named by the order
    * they first run in: `bodies`, then `articles`. */
  def attribute(run: Span, jobs: Seq[JobRec]): Seq[Span] = {
    val inside = jobs.filter(j => j.layer.isDefined && j.startMs >= run.startMs && j.endMs <= run.endMs)
      .sortBy(_.startMs)
    val order = inside.flatMap(_.layer).distinct
    val dense = order.filter(_.startsWith("WikiEtl.withDenseId@"))
    def name(l: String) = dense.indexOf(l) match {
      case -1 => l
      case 0 => "WikiEtl.withDenseId.bodies"
      case 1 => "WikiEtl.withDenseId.articles"
      case k => s"WikiEtl.withDenseId.$k"
    }
    def ns(ms: Long) = run.startNs + (ms - run.startMs) * 1000000L
    order.map { l =>
      val js = inside.filter(_.layer.contains(l))
      val (s, e) = (js.map(_.startMs).min, js.map(_.endMs).max)
      Span(ids.incrementAndGet(), name(l), run.id, run.pass, s, e, ns(s), ns(e),
        js.map(_.counters).reduce(_ + _))
    }
  }

  def toJson(spans: Seq[Span]): String = {
    val self = selfSeconds(spans)
    spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.seconds},""" +
        s""""self_s":${self(s.id)},"jobs":${s.counters.jobs},""" +
        s""""task_cpu_s":${s.counters.taskCpuNs / 1e9},""" +
        s""""shuffle_write_bytes":${s.counters.shuffleWriteBytes},""" +
        s""""spill_bytes":${s.counters.spillBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
