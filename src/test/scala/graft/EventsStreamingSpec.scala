package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class IdEv(ts: Timestamp, event_id: Long, value: Double)

/** Structured Streaming equivalence (SURVEY.md §5.2.5): the batch
  * windowed aggregations of queries/Events.scala run under readStream
  * with a watermark; stream results must equal batch on the same rows,
  * and late data beyond the watermark must drop. */
class EventsStreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ev(t: String, u: Long = 1L, typ: String = "click", v: Double = 1.0) =
    Ev(Timestamp.valueOf(t), u, typ, v)

  test("tumbling window: stream (append + watermark) == batch on emitted windows; late rows drop") {
    val input = MemoryStream[Ev](spark)
    val agg = input.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total"))
      .select(col("w.start").as("w_start"), col("event_type"), col("cnt"), col("total"))
    val q = agg.writeStream.format("memory").queryName("evt_stream")
      .outputMode("append").start()
    try {
      input.addData(ev("2024-01-01 10:00:05"), ev("2024-01-01 10:30:00"))
      q.processAllAvailable()
      input.addData(ev("2024-01-01 13:00:00")) // → watermark 12:00, finalizes the 10:00 window
      q.processAllAvailable()
      input.addData(ev("2024-01-01 10:10:00")) // late beyond watermark → dropped
      q.processAllAvailable()
      input.addData(ev("2024-01-01 16:00:00")) // → watermark 15:00, finalizes the 13:00 window
      q.processAllAvailable()

      val rows = spark.table("evt_stream")
        .select(date_format(col("w_start"), "HH:mm").as("h"), col("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.get("10:00").contains(2L), s"late row must not count: $rows")
      assert(rows.get("13:00").contains(1L), rows.toString)

      // batch over the NON-late rows gives the same counts
      val batch = Seq(ev("2024-01-01 10:00:05"), ev("2024-01-01 10:30:00"),
        ev("2024-01-01 13:00:00")).toDF()
        .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
        .select(date_format(col("window.start"), "HH:mm").as("h"), col("count"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(batch("10:00") == rows("10:00") && batch("13:00") == rows("13:00"))
    } finally q.stop()
  }

  test("session window semantics: gap == duration merges; gap > duration splits") {
    // 30-minute gap exactly → still ONE session (Spark merges on <=);
    // 31 minutes → a new session. Pins the `>` break the oracle uses.
    val merged = Seq(ev("2024-01-01 09:00:00"), ev("2024-01-01 09:30:00"),
      ev("2024-01-01 09:45:00")).toDF()
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count().collect()
    assert(merged.length == 1 && merged.head.getLong(2) == 3L, merged.mkString(","))
    val split = Seq(ev("2024-01-01 09:00:00"), ev("2024-01-01 09:31:00")).toDF()
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count().collect()
    assert(split.length == 2, split.mkString(","))
  }

  test("flatMapGroupsWithState sessionizer: closes on gap inline and on event-time timeout") {
    import graft.streaming.EventWindows
    import graft.streaming.EventWindows.SessionEvent
    val input = MemoryStream[SessionEvent](spark)
    val q = EventWindows.sessionize(spark, input.toDS())
      .writeStream.format("memory").queryName("fmgs_sessions")
      .outputMode("append").start()
    def rows() = spark.table("fmgs_sessions")
      .select(col("user_id"), date_format(col("start"), "HH:mm").as("s"),
        col("n_events"), col("total"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    try {
      input.addData(SessionEvent(Timestamp.valueOf("2024-01-01 09:00:00"), 1L, 1.0),
        SessionEvent(Timestamp.valueOf("2024-01-01 09:10:00"), 1L, 2.0))
      q.processAllAvailable()
      assert(rows().isEmpty) // session still open
      input.addData(SessionEvent(Timestamp.valueOf("2024-01-01 11:00:00"), 1L, 5.0))
      q.processAllAvailable()
      assert(rows() == Set((1L, "09:00", 2L, 3.0)), rows()) // gap closed it inline
      // a far-future event advances the watermark past 11:30 → times out
      // user 1's open session
      input.addData(SessionEvent(Timestamp.valueOf("2024-01-01 15:00:00"), 2L, 1.0))
      q.processAllAvailable()
      assert(rows() == Set((1L, "09:00", 2L, 3.0), (1L, "11:00", 1L, 5.0)), rows())
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer: out-of-order stragglers extend backward or close alone") {
    import graft.streaming.EventWindows
    import graft.streaming.EventWindows.SessionEvent
    val input = MemoryStream[SessionEvent](spark)
    val q = EventWindows.sessionize(spark, input.toDS())
      .writeStream.format("memory").queryName("fmgs_ooo")
      .outputMode("append").start()
    def rows() = spark.table("fmgs_ooo")
      .select(col("user_id"), date_format(col("start"), "HH:mm").as("s"),
        col("n_events"), col("total"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    try {
      input.addData(SessionEvent(Timestamp.valueOf("2024-01-01 09:00:00"), 1L, 1.0),
        SessionEvent(Timestamp.valueOf("2024-01-01 09:10:00"), 1L, 2.0))
      q.processAllAvailable() // watermark now 08:10 — all of batch 2 is on time
      // 08:50 is within the 30-min gap BEFORE the open session's start →
      // must extend it backward; 09:05 is inside the session → must fold
      // in; 08:15 is on time (watermark 08:10) but > gap before even the extended 08:50 start → its own closed
      // singleton (the pre-fix cursor walk folded ALL three into the
      // open session, start unchanged at 09:00)
      input.addData(SessionEvent(Timestamp.valueOf("2024-01-01 08:50:00"), 1L, 4.0),
        SessionEvent(Timestamp.valueOf("2024-01-01 09:05:00"), 1L, 8.0),
        SessionEvent(Timestamp.valueOf("2024-01-01 08:15:00"), 1L, 16.0))
      q.processAllAvailable()
      assert(rows() == Set((1L, "08:15", 1L, 16.0)), rows())
      input.addData(SessionEvent(Timestamp.valueOf("2024-01-01 11:00:00"), 1L, 32.0))
      q.processAllAvailable() // gap closes the extended session inline
      assert(rows() == Set((1L, "08:15", 1L, 16.0), (1L, "08:50", 4L, 15.0)), rows())
    } finally q.stop()
  }

  test("custom sessionizer over the real events table == q_sessionize_sql " +
    "batch; timeout drains every open session (state bounded by watermark)") {
    import graft.streaming.EventWindows
    import graft.streaming.EventWindows.SessionEvent
    val evs = Tables.load(spark, sfDir, "events")
      .select(col("ts"), col("user_id"), col("value"))
      .orderBy(col("ts"), col("user_id")).collect()
      .map(r => SessionEvent(r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    val input = MemoryStream[SessionEvent](spark)
    val q = EventWindows.sessionize(spark, input.toDS())
      .writeStream.format("memory").queryName("fmgs_equiv")
      .outputMode("append").start()
    try {
      // chronological thirds: the watermark only advances, nothing is
      // late — stream must equal batch exactly
      evs.grouped(400).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      // flush: one far-future event advances the watermark past every
      // open session's (last + gap) → event-time timeout emits them all
      input.addData(SessionEvent(
        Timestamp.valueOf("2100-01-01 00:00:00"), -1L, 0.0))
      q.processAllAvailable()
      val got = spark.table("fmgs_equiv")
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          date_format(col("start"), "yyyy-MM-dd HH:mm:ss").as("s"),
          date_format(col("end"), "yyyy-MM-dd HH:mm:ss").as("e"),
          col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      val want = SparkEntry.queries("q_sessionize_sql")(spark, sfDir)
        .select(col("user_id"), col("sess_start"), col("sess_end"),
          col("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(got.toSet == want.toSet && got.nonEmpty)
      assert(got.length == want.length, "duplicate session emissions")
      // all state drained except the flush user's own open session
      val st = q.recentProgress.reverse.flatMap(_.stateOperators).headOption
      st.foreach(s => assert(s.numRowsTotal == 1,
        s"watermark left ${s.numRowsTotal} state rows, expected 1 (flush user)"))
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark duplicates across batches") {
    import graft.streaming.EventWindows
    val input = MemoryStream[IdEv](spark)
    val q = EventWindows.dedup(input.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(IdEv(Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0),
        IdEv(Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0), // same-batch dup
        IdEv(Timestamp.valueOf("2024-01-01 10:05:00"), 2L, 2.0))
      q.processAllAvailable()
      input.addData(IdEv(Timestamp.valueOf("2024-01-01 10:10:00"), 1L, 9.0)) // cross-batch dup
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L), ids.mkString(","))
    } finally q.stop()
  }

  test("streaming session windows with state: counts merge across batches") {
    val input = MemoryStream[Ev](spark)
    val agg = input.toDF()
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.format("memory").queryName("sess_stream")
      .outputMode("complete").start()
    try {
      input.addData(ev("2024-01-01 09:00:00"), ev("2024-01-01 09:10:00"))
      q.processAllAvailable()
      input.addData(ev("2024-01-01 09:20:00"), ev("2024-01-01 11:00:00"))
      q.processAllAvailable()
      val rows = spark.table("sess_stream").select("cnt").collect().map(_.getLong(0)).sorted
      assert(rows.toSeq == Seq(1L, 3L), rows.mkString(","))
    } finally q.stop()
  }

  test("stream-static enrichment join: dim broadcast per batch, missing dims survive") {
    val input = MemoryStream[Ev](spark)
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val out = graft.streaming.EventWindows.enrich(input.toDF(), dim)
      .select(col("user_id"), col("tier"), col("value"))
    val q = out.writeStream.format("memory").queryName("enrich_stream")
      .outputMode("append").start()
    try {
      input.addData(ev("2024-01-01 10:00:00", u = 1L, v = 5.0),
        ev("2024-01-01 10:01:00", u = 2L, v = 7.0),
        ev("2024-01-01 10:02:00", u = 9L, v = 3.0)) // no dim row
      q.processAllAvailable()
      val rows = spark.table("enrich_stream")
        .collect().map(r => (r.getLong(0),
          Option(r.getString(1)).getOrElse("-"), r.getDouble(2))).toSet
      assert(rows == Set((1L, "gold", 5.0), (2L, "basic", 7.0), (9L, "-", 3.0)))
      // static side is re-planned per micro-batch: no stateful operator
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("left-outer interval join: unmatched purchases null-pad once the watermark proves no match can arrive") {
    val clicks = MemoryStream[Ev](spark)
    val purchases = MemoryStream[Ev](spark)
    val joined = graft.streaming.EventWindows.clickAttributionOuter(
      clicks.toDF(), purchases.toDF())
    val q = joined.writeStream.format("memory").queryName("attr_outer")
      .outputMode("append").start()
    def rows() = spark.table("attr_outer")
      .select(col("user_id"),
        date_format(col("click_ts"), "HH:mm").as("c"),
        date_format(col("purchase_ts"), "HH:mm").as("p"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
    try {
      // u1's purchase has a click in-window; u2's has NONE
      clicks.addData(ev("2024-01-01 10:00:00", u = 1))
      purchases.addData(
        ev("2024-01-01 10:20:00", u = 1, typ = "purchase", v = 5.0),
        ev("2024-01-01 10:20:00", u = 2, typ = "purchase", v = 9.0))
      q.processAllAvailable()
      // matched pair emits immediately; the unmatched one must WAIT —
      // a click for u2 could still arrive within the watermark delay
      assert(rows() == Set((1L, Some("10:00"), "10:20")), rows().toString)

      // advance the watermark past the purchase time (+1 h delay), then
      // nudge one more batch: null emission happens in the batch AFTER
      // the watermark update
      clicks.addData(ev("2024-01-01 12:00:00", u = 8))
      purchases.addData(ev("2024-01-01 12:00:00", u = 9, typ = "purchase"))
      q.processAllAvailable()
      clicks.addData(ev("2024-01-01 12:30:00", u = 8))
      q.processAllAvailable()
      assert(rows().contains((2L, None, "10:20")),
        s"unmatched purchase must null-pad after the watermark passes: ${rows()}")
      assert(rows().contains((1L, Some("10:00"), "10:20")))
    } finally q.stop()
  }

  test("full-outer interval join: BOTH sides null-pad at watermark proof") {
    val clicks = MemoryStream[Ev](spark)
    val purchases = MemoryStream[Ev](spark)
    val joined = graft.streaming.EventWindows.clickAttributionFull(
      clicks.toDF(), purchases.toDF())
    val q = joined.writeStream.format("memory").queryName("attr_full")
      .outputMode("append").start()
    def rows() = spark.table("attr_full")
      .select(col("user_id"),
        date_format(col("click_ts"), "HH:mm").as("c"),
        date_format(col("purchase_ts"), "HH:mm").as("p"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)))).toSet
    try {
      // u1: matched pair; u2: purchase with NO click; u3: click with NO
      // purchase — the bidirectional audit must keep all three
      clicks.addData(ev("2024-01-01 10:00:00", u = 1),
        ev("2024-01-01 10:05:00", u = 3))
      purchases.addData(
        ev("2024-01-01 10:20:00", u = 1, typ = "purchase", v = 5.0),
        ev("2024-01-01 10:20:00", u = 2, typ = "purchase", v = 9.0))
      q.processAllAvailable()
      // only the matched pair emits now: u2's window could still fill,
      // and u3's click could still attribute a purchase until 10:35
      assert(rows() == Set((1L, Some("10:00"), Some("10:20"))), rows().toString)

      // advance both watermarks well past every window (+1 h delay),
      // then nudge one more batch: null emission follows the update
      clicks.addData(ev("2024-01-01 12:00:00", u = 8))
      purchases.addData(ev("2024-01-01 12:00:00", u = 9, typ = "purchase"))
      q.processAllAvailable()
      clicks.addData(ev("2024-01-01 12:30:00", u = 8))
      purchases.addData(ev("2024-01-01 12:30:00", u = 9, typ = "purchase"))
      q.processAllAvailable()
      assert(rows().contains((2L, None, Some("10:20"))),
        s"unmatched purchase must null-pad: ${rows()}")
      assert(rows().contains((3L, Some("10:05"), None)),
        s"unmatched click must null-pad: ${rows()}")
      assert(rows().contains((1L, Some("10:00"), Some("10:20"))))
    } finally q.stop()
  }

  test("stream-stream interval join == batch join; state evicts past the horizon") {
    val clicks = MemoryStream[Ev](spark)
    val purchases = MemoryStream[Ev](spark)
    val joined = graft.streaming.EventWindows.clickAttribution(
      clicks.toDF(), purchases.toDF())
    val q = joined.writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    def pairs() = spark.table("attr_stream")
      .select(col("user_id"),
        date_format(col("click_ts"), "HH:mm").as("c"),
        date_format(col("purchase_ts"), "HH:mm").as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    try {
      clicks.addData(ev("2024-01-01 10:00:00", u = 1),
        ev("2024-01-01 10:50:00", u = 1), ev("2024-01-01 10:05:00", u = 2))
      purchases.addData(
        ev("2024-01-01 10:20:00", u = 1, typ = "purchase", v = 5.0),
        ev("2024-01-01 11:05:00", u = 1, typ = "purchase", v = 7.0),
        ev("2024-01-01 12:00:00", u = 2, typ = "purchase", v = 9.0))
      q.processAllAvailable()
      // u1@10:20 ← only the 10:00 click; u1@11:05 ← only 10:50
      // (10:00 is 65 min earlier — outside the bound); u2@12:00 ← none
      val expected = Set((1L, "10:00", "10:20"), (1L, "10:50", "11:05"))
      assert(pairs() == expected, pairs().toString)

      // same data, batch semantics → identical pairs
      val bc = Seq(ev("2024-01-01 10:00:00", u = 1), ev("2024-01-01 10:50:00", u = 1),
        ev("2024-01-01 10:05:00", u = 2)).toDF()
      val bp = Seq(ev("2024-01-01 10:20:00", u = 1, typ = "purchase", v = 5.0),
        ev("2024-01-01 11:05:00", u = 1, typ = "purchase", v = 7.0),
        ev("2024-01-01 12:00:00", u = 2, typ = "purchase", v = 9.0)).toDF()
      val batch = graft.streaming.EventWindows.clickAttribution(bc, bp)
        .select(col("user_id"),
          date_format(col("click_ts"), "HH:mm").as("c"),
          date_format(col("purchase_ts"), "HH:mm").as("p"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(batch == expected, batch.toString)

      // advance both watermarks far past the horizon, then replay a
      // purchase that WOULD have matched the 10:00 click: its state is
      // evicted, the late row drops, output must not grow
      clicks.addData(ev("2024-01-01 16:00:00", u = 8))
      purchases.addData(ev("2024-01-01 16:00:00", u = 9, typ = "purchase"))
      q.processAllAvailable()
      purchases.addData(ev("2024-01-01 10:25:00", u = 1, typ = "purchase"))
      q.processAllAvailable()
      assert(pairs().size == 2, s"late purchase must not match: ${pairs()}")
    } finally q.stop()
  }

  test("interval-join state EVICTS at the watermark: numRowsTotal shrinks despite growing input") {
    // EventsStreamingSpec's other tests prove result equality; this one
    // bounds the STATE so a watermark/eviction regression (state growing
    // with total input instead of the horizon) fails loudly instead of
    // only OOMing at production scale.
    val clicks = MemoryStream[Ev](spark)
    val purchases = MemoryStream[Ev](spark)
    val joined = graft.streaming.EventWindows.clickAttribution(
      clicks.toDF(), purchases.toDF())
    val q = joined.writeStream.format("memory").queryName("attr_state")
      .outputMode("append").start()
    def stateRows(): Long =
      Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum)
        .getOrElse(0L)
    try {
      // micro-batch 1: 20 click + 20 purchase rows land in join state
      clicks.addData((1 to 20).map(i =>
        ev(f"2024-01-01 10:${i % 50}%02d:00", u = i.toLong)): _*)
      purchases.addData((1 to 20).map(i =>
        ev(f"2024-01-01 10:${i % 50}%02d:30", u = i.toLong, typ = "purchase")): _*)
      q.processAllAvailable()
      val peak = stateRows()
      assert(peak >= 20, s"expected the batch-1 rows in state, got $peak")

      // micro-batch 2: far-future rows advance the watermark hours past
      // every batch-1 row's horizon
      clicks.addData(ev("2024-01-01 18:00:00", u = 91))
      purchases.addData(ev("2024-01-01 18:00:00", u = 92, typ = "purchase"))
      q.processAllAvailable()
      // micro-batch 3: nudge — eviction applies on the batch AFTER the
      // watermark update
      clicks.addData(ev("2024-01-01 18:30:00", u = 93))
      purchases.addData(ev("2024-01-01 18:30:00", u = 94, typ = "purchase"))
      q.processAllAvailable()

      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "test must span at least 3 micro-batches")
      val after = stateRows()
      // input grew by 4 rows, yet state must SHRINK (batch-1 evicted)
      // and stay bounded by the rows still inside the horizon
      assert(after < peak, s"state did not evict: peak=$peak after=$after")
      assert(after <= 8, s"state must hold only horizon rows, got $after")
    } finally q.stop()
  }

  test("funnel's chained stateful stages keep bounded state across micro-batches") {
    val views = MemoryStream[Ev](spark)
    val clicks = MemoryStream[Ev](spark)
    val conv = graft.streaming.EventWindows.funnelConversions(
      views.toDF(), clicks.toDF())
    val q = conv.writeStream.format("memory").queryName("funnel_state")
      .outputMode("append").start()
    def stateRows(): Long =
      Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum)
        .getOrElse(0L)
    try {
      views.addData((1 to 15).map(i =>
        ev(f"2024-01-01 10:${i % 50}%02d:00", u = i.toLong, typ = "view")): _*)
      clicks.addData((1 to 15).map(i =>
        ev(f"2024-01-01 10:${i % 50}%02d:30", u = i.toLong)): _*)
      q.processAllAvailable()
      val peak = stateRows()
      assert(peak > 0, "expected join+agg state after batch 1")
      // two watermark-advancing nudges (eviction lands a batch late)
      views.addData(ev("2024-01-01 18:00:00", u = 91, typ = "view"))
      clicks.addData(ev("2024-01-01 18:00:00", u = 91))
      q.processAllAvailable()
      views.addData(ev("2024-01-01 18:30:00", u = 92, typ = "view"))
      clicks.addData(ev("2024-01-01 18:30:00", u = 92))
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "test must span at least 3 micro-batches")
      val after = stateRows()
      assert(after < peak,
        s"chained stateful stages did not evict: peak=$peak after=$after")
      // both stages together may hold only the horizon rows (2 views,
      // 2 clicks, their pairs and open windows) — far below batch 1's 30
      assert(after <= 12, s"state must be horizon-bounded, got $after")
    } finally q.stop()
  }

  test("custom mergeable top-k sketch aggregates under streaming state == batch") {
    // TypedImperativeAggregate state must serialize into the streaming
    // state store and merge across micro-batches — the property that
    // makes the sketch family (topk/qsketch/freq_items/HLL) usable for
    // production streaming monitoring, not just batch.
    val input = MemoryStream[Ev](spark)
    val agg = input.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr("graft_topk(CAST(user_id AS STRING), CAST(ROUND(value * 100) AS BIGINT), 2)").as("tk"))
      .select(date_format(col("w.start"), "HH:mm").as("h"),
        expr("transform(tk, x -> x.item)").as("items"))
    val q = agg.writeStream.format("memory").queryName("topk_stream")
      .outputMode("append").start()
    try {
      // micro-batch 1 and 2 both touch the 10:00 window — the sketch
      // state must merge across batches, not reset
      input.addData(ev("2024-01-01 10:05:00", u = 1, v = 5.0),
        ev("2024-01-01 10:10:00", u = 2, v = 9.0))
      q.processAllAvailable()
      input.addData(ev("2024-01-01 10:20:00", u = 3, v = 7.0))
      q.processAllAvailable()
      input.addData(ev("2024-01-01 13:00:00", u = 9)) // close 10:00 window
      q.processAllAvailable()
      val got = spark.table("topk_stream")
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
      assert(got.get("10:00").contains(List("2", "3")), got.toString) // 9.0, 7.0 win
      val batch = Seq(ev("2024-01-01 10:05:00", u = 1, v = 5.0),
        ev("2024-01-01 10:10:00", u = 2, v = 9.0),
        ev("2024-01-01 10:20:00", u = 3, v = 7.0)).toDF()
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(expr("graft_topk(CAST(user_id AS STRING), CAST(ROUND(value * 100) AS BIGINT), 2)").as("tk"))
        .select(date_format(col("w.start"), "HH:mm").as("h"),
          expr("transform(tk, x -> x.item)").as("items"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
      assert(batch("10:00") == got("10:00"), s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("streaming 2-step funnel (chained stateful stages) == batch; windows close at watermark") {
    val views = MemoryStream[Ev](spark)
    val clicks = MemoryStream[Ev](spark)
    val conv = graft.streaming.EventWindows.funnelConversions(
      views.toDF(), clicks.toDF())
    val q = conv.writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    def rows() = spark.table("funnel_stream")
      .select(col("user_id"), date_format(col("w_start"), "HH:mm").as("w"),
        date_format(col("first_conv"), "HH:mm").as("f"), col("n_pairs"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    try {
      // u1: view 10:00 → clicks 10:10 + 10:12 convert; 11:30 is outside
      // the 30-min horizon. u2: view only. u3: click with no prior view.
      // u4: TWO views before one click — n_pairs counts (view, click)
      // pairs by declared semantics, so that click contributes 2.
      views.addData(ev("2024-01-01 10:00:00", u = 1, typ = "view"),
        ev("2024-01-01 10:05:00", u = 2, typ = "view"),
        ev("2024-01-01 10:00:00", u = 4, typ = "view"),
        ev("2024-01-01 10:06:00", u = 4, typ = "view"))
      clicks.addData(ev("2024-01-01 10:10:00", u = 1),
        ev("2024-01-01 10:12:00", u = 1), ev("2024-01-01 10:10:00", u = 3),
        ev("2024-01-01 11:30:00", u = 1), ev("2024-01-01 10:15:00", u = 4))
      q.processAllAvailable()
      // push the watermark past both stateful stages' horizons so the
      // 10:00 aggregate window finalizes (15:00 pair joins nothing:
      // click_ts > view_ts is strict)
      views.addData(ev("2024-01-01 15:00:00", u = 9, typ = "view"))
      clicks.addData(ev("2024-01-01 15:00:00", u = 9))
      q.processAllAvailable()
      val expected = Set((1L, "10:00", "10:10", 2L), (4L, "10:00", "10:15", 2L))
      assert(rows() == expected, rows().toString)

      // identical composition, batch semantics, non-late rows → equal
      val bv = Seq(ev("2024-01-01 10:00:00", u = 1, typ = "view"),
        ev("2024-01-01 10:05:00", u = 2, typ = "view"),
        ev("2024-01-01 10:00:00", u = 4, typ = "view"),
        ev("2024-01-01 10:06:00", u = 4, typ = "view"),
        ev("2024-01-01 15:00:00", u = 9, typ = "view")).toDF()
      val bc = Seq(ev("2024-01-01 10:10:00", u = 1), ev("2024-01-01 10:12:00", u = 1),
        ev("2024-01-01 10:10:00", u = 3), ev("2024-01-01 11:30:00", u = 1),
        ev("2024-01-01 10:15:00", u = 4),
        ev("2024-01-01 15:00:00", u = 9)).toDF()
      val batch = graft.streaming.EventWindows.funnelConversions(bv, bc)
        .select(col("user_id"), date_format(col("w_start"), "HH:mm").as("w"),
          date_format(col("first_conv"), "HH:mm").as("f"), col("n_pairs"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(batch == expected, batch.toString)
    } finally q.stop()
  }
}
