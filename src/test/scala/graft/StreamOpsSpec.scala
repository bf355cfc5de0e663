package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

/** Streaming semantics driven through MemoryStream micro-batches. */
class StreamOpsSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("tumbling window with watermark aggregates by event time") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("user_id", "ts", "value")
    val q = StreamOps.tumblingCounts(df, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()

    // batch 1: the windowed data
    input.addData(
      (1L, ts("2024-01-01 00:10:00"), 10.0),
      (1L, ts("2024-01-01 00:40:00"), 5.0),
      (1L, ts("2024-01-01 01:10:00"), 7.0),
      (2L, ts("2024-01-01 00:20:00"), 1.0))
    q.processAllAvailable()
    // batch 2 advances the watermark to 03:00 (05:00 - 2h)...
    input.addData((1L, ts("2024-01-01 05:00:00"), 2.0))
    q.processAllAvailable()
    // ...and batch 3 runs with that watermark, emitting the closed windows
    input.addData((2L, ts("2024-01-01 06:00:00"), 3.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("tumbling")
      .orderBy("user_id", "wstart").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
    // watermark = 05:00 - 2h = 03:00 → only windows ending before 03:00
    // are finalized; the 05:00/06:00 windows stay open at stop
    assert(rows.toSeq == Seq(
      (1L, "2024-01-01 00:00:00.0", 2L, 15.0),
      (1L, "2024-01-01 01:00:00.0", 1L, 7.0),
      (2L, "2024-01-01 00:00:00.0", 1L, 1.0)))
  }

  test("sessionization accumulates state across micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamOps.sessionize(input.toDS(), timeoutMs = 0)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()

    input.addData(Event(1L, ts("2024-01-01 00:00:01"), 3.0),
      Event(1L, ts("2024-01-01 00:00:02"), 4.0))
    q.processAllAvailable()
    input.addData(Event(1L, ts("2024-01-01 00:00:03"), 5.0))
    q.processAllAvailable()
    q.stop()

    val snaps = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // batch 1 snapshot: count 2 sum 7; batch 2 snapshot: count 3 sum 12
    assert(snaps.toSet == Set((1L, 2L, 7.0, false), (1L, 3L, 12.0, false)))
  }

  test("first-seen dedup keeps one event per key across micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.KeyedEvent
    val input = MemoryStream[KeyedEvent]
    val q = StreamOps.dedupFirstSeen(input.toDS())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()

    // batch 1: two rows for (1, click) out of ts order → earliest wins;
    // one row for (2, view)
    input.addData(
      KeyedEvent(1L, "click", 11L, ts("2024-01-01 00:00:05"), 5.0),
      KeyedEvent(1L, "click", 10L, ts("2024-01-01 00:00:01"), 1.0),
      KeyedEvent(2L, "view", 20L, ts("2024-01-01 00:00:02"), 2.0))
    q.processAllAvailable()
    // batch 2: duplicates for both existing keys are dropped, a new key
    // passes through
    input.addData(
      KeyedEvent(1L, "click", 12L, ts("2024-01-01 00:00:00"), 9.0),
      KeyedEvent(2L, "view", 21L, ts("2024-01-01 00:00:09"), 9.0),
      KeyedEvent(1L, "view", 30L, ts("2024-01-01 00:00:03"), 3.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("dedup").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSet == Set(
      (1L, "click", 10L), (2L, "view", 20L), (1L, "view", 30L)))
  }

  test("sliding windows emit one row per (key, covering window) after watermark") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("user_id", "ts", "value")
    val q = StreamOps.slidingCounts(df, "1 hour", "30 minutes", "2 hours")
      .writeStream.format("memory").queryName("sliding")
      .outputMode("append").start()
    input.addData(
      (1L, ts("2024-01-01 00:10:00"), 10.0),
      (1L, ts("2024-01-01 00:40:00"), 5.0))
    q.processAllAvailable()
    // advance the watermark to 03:00, then run a batch with it
    input.addData((1L, ts("2024-01-01 05:00:00"), 2.0))
    q.processAllAvailable()
    input.addData((2L, ts("2024-01-01 06:00:00"), 3.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sliding")
      .orderBy("user_id", "wstart").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
    // each event lands in two 1h/30min windows; all windows ending before
    // the 03:00 watermark finalize
    assert(rows.toSeq == Seq(
      (1L, "2023-12-31 23:30:00.0", 1L, 10.0),
      (1L, "2024-01-01 00:00:00.0", 2L, 15.0),
      (1L, "2024-01-01 00:30:00.0", 1L, 5.0)))
  }

  test("stream-stream interval join pairs within the gap; matches batch") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val cdf = clicks.toDF().toDF("user_id", "ts")
    val pdf = purchases.toDF().toDF("user_id", "ts", "value")
    val q = StreamOps.intervalJoin(cdf, pdf, "30 MINUTES", "2 hours")
      .select($"l.user_id".as("user_id"), $"l.ts".as("cts"),
        $"r.ts".as("pts"), $"r.value".as("value"))
      .writeStream.format("memory").queryName("ijoin")
      .outputMode("append").start()
    val cRows = Seq(
      (1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:50:00")),
      (2L, ts("2024-01-01 01:00:00")))
    val pRows = Seq(
      (1L, ts("2024-01-01 00:10:00"), 5.0),
      (1L, ts("2024-01-01 01:05:00"), 7.0),
      (2L, ts("2024-01-01 01:20:00"), 9.0),
      (2L, ts("2024-01-01 02:00:00"), 1.0)) // 30:00 past user 2's click
    clicks.addData(cRows)
    purchases.addData(pRows)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ijoin").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getDouble(3))).toSet
    assert(streamed == Set(
      (1L, "2024-01-01 00:00:00.0", "2024-01-01 00:10:00.0", 5.0),
      (1L, "2024-01-01 00:50:00.0", "2024-01-01 01:05:00.0", 7.0),
      (2L, "2024-01-01 01:00:00.0", "2024-01-01 01:20:00.0", 9.0)))
    // the same definition in batch (watermark eliminated) agrees
    val batch = StreamOps.intervalJoin(
        cRows.toDF("user_id", "ts"), pRows.toDF("user_id", "ts", "value"),
        "30 MINUTES", "2 hours")
      .select($"l.user_id", $"l.ts", $"r.ts", $"r.value").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getDouble(3))).toSet
    assert(batch == streamed)
  }

  test("left-outer interval join releases unmatched rows after watermark") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamOps.intervalJoin(
        clicks.toDF().toDF("user_id", "ts"),
        purchases.toDF().toDF("user_id", "ts", "value"),
        "30 MINUTES", "2 hours", "left_outer")
      .select($"l.user_id".as("user_id"), $"l.ts".as("cts"), $"r.ts".as("pts"))
      .writeStream.format("memory").queryName("ljoin")
      .outputMode("append").start()
    // c1 matches; c2 has no purchase inside [02:00, 02:30]
    clicks.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 02:00:00")))
    purchases.addData((1L, ts("2024-01-01 00:10:00"), 5.0))
    q.processAllAvailable()
    // advance BOTH watermarks to 08:00 (10:00 - 2h) > c2.ts + gap
    clicks.addData((2L, ts("2024-01-01 10:00:00")))
    purchases.addData((2L, ts("2024-01-01 10:00:00"), 1.0))
    q.processAllAvailable()
    // run a batch WITH the advanced watermark: c2 emits null-padded
    clicks.addData((3L, ts("2024-01-01 20:00:00")))
    purchases.addData((3L, ts("2024-01-01 20:00:00"), 2.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ljoin").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        Option(r.getTimestamp(2)).map(_.toString).orNull)).toSet
    assert(streamed == Set(
      (1L, "2024-01-01 00:00:00.0", "2024-01-01 00:10:00.0"),
      (1L, "2024-01-01 02:00:00.0", null),
      (2L, "2024-01-01 10:00:00.0", "2024-01-01 10:00:00.0"),
      (3L, "2024-01-01 20:00:00.0", "2024-01-01 20:00:00.0")))
  }

  test("full-outer interval join releases unmatched rows on both sides") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamOps.intervalJoin(
        clicks.toDF().toDF("user_id", "ts"),
        purchases.toDF().toDF("user_id", "ts", "value"),
        "30 MINUTES", "2 hours", "full_outer")
      .select(org.apache.spark.sql.functions.coalesce(
          $"l.user_id", $"r.user_id").as("user_id"),
        $"l.ts".as("cts"), $"r.ts".as("pts"))
      .writeStream.format("memory").queryName("fjoin")
      .outputMode("append").start()
    // c1 matches p1; c2 has no purchase in its gap; p2 has no click
    clicks.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 02:00:00")))
    purchases.addData((1L, ts("2024-01-01 00:10:00"), 5.0),
      (1L, ts("2024-01-01 04:00:00"), 7.0))
    q.processAllAvailable()
    // advance BOTH watermarks far enough to flush both unmatched sides
    clicks.addData((2L, ts("2024-01-01 10:00:00")))
    purchases.addData((2L, ts("2024-01-01 10:00:00"), 1.0))
    q.processAllAvailable()
    clicks.addData((3L, ts("2024-01-01 20:00:00")))
    purchases.addData((3L, ts("2024-01-01 20:00:00"), 2.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("fjoin").collect()
      .map(r => (r.getLong(0),
        Option(r.getTimestamp(1)).map(_.toString).orNull,
        Option(r.getTimestamp(2)).map(_.toString).orNull)).toSet
    assert(streamed == Set(
      (1L, "2024-01-01 00:00:00.0", "2024-01-01 00:10:00.0"),
      (1L, "2024-01-01 02:00:00.0", null),
      (1L, null, "2024-01-01 04:00:00.0"),
      (2L, "2024-01-01 10:00:00.0", "2024-01-01 10:00:00.0"),
      (3L, "2024-01-01 20:00:00.0", "2024-01-01 20:00:00.0")))
  }

  test("full-outer: unmatched right releases only after watermark > r.ts") {
    // pins the timing claim at StreamOps.intervalJoin's doc: an unmatched
    // RIGHT row (p1 @ 01:00) must stay in state while the watermark is
    // still below its event time — a future left row with l.ts <= r.ts
    // could yet match it — and emit null-padded only once the watermark
    // passes r.ts. A premature emission would duplicate the row if the
    // match later arrived; a never-emission would leak state.
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamOps.intervalJoin(
        clicks.toDF().toDF("user_id", "ts"),
        purchases.toDF().toDF("user_id", "ts", "value"),
        "30 MINUTES", "2 hours", "full_outer")
      .select(org.apache.spark.sql.functions.coalesce(
          $"l.user_id", $"r.user_id").as("user_id"),
        $"l.ts".as("cts"), $"r.ts".as("pts"))
      .writeStream.format("memory").queryName("fjoin_timing")
      .outputMode("append").start()
    def unmatchedRightEmitted(): Boolean =
      spark.table("fjoin_timing").collect()
        .exists(r => r.getTimestamp(1) == null &&
          r.getTimestamp(2).toString == "2024-01-01 01:00:00.0")
    // p1 @ 01:00 can never match c1 @ 00:00 (gap 30 min) nor any later
    // click: every subsequent left event time is far past 01:00
    clicks.addData((1L, ts("2024-01-01 00:00:00")))
    purchases.addData((1L, ts("2024-01-01 01:00:00"), 5.0))
    q.processAllAvailable()
    // advance both sides to 02:30 -> watermark 00:30 (< r.ts 01:00);
    // filler pairs share key+ts so each contributes one matched row
    clicks.addData((9L, ts("2024-01-01 02:30:00")))
    purchases.addData((9L, ts("2024-01-01 02:30:00"), 1.0))
    q.processAllAvailable()
    // run one more batch under that 00:30 watermark: p1 must NOT emit
    clicks.addData((8L, ts("2024-01-01 02:31:00")))
    purchases.addData((8L, ts("2024-01-01 02:31:00"), 1.0))
    q.processAllAvailable()
    assert(!unmatchedRightEmitted(),
      "unmatched right row emitted while watermark (00:31) < r.ts (01:00)")
    // advance to 03:30 -> watermark 01:30 (> r.ts); next batch evicts
    clicks.addData((7L, ts("2024-01-01 03:30:00")))
    purchases.addData((7L, ts("2024-01-01 03:30:00"), 1.0))
    q.processAllAvailable()
    clicks.addData((6L, ts("2024-01-01 04:00:00")))
    purchases.addData((6L, ts("2024-01-01 04:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    assert(unmatchedRightEmitted(),
      "unmatched right row must emit null-padded after watermark passes r.ts")
  }

  test("single-batch dedup matches the w_stream_dedup batch shape") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.KeyedEvent
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val evs = graft.queries.Tables.events(spark, sfDir)
      .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
      .as[KeyedEvent].collect().toSeq
    val input = MemoryStream[KeyedEvent]
    input.addData(evs)
    val q = StreamOps.dedupFirstSeen(input.toDS())
      .writeStream.format("memory").queryName("dedup_batch")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dedup_batch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    val batch = graft.queries.Tables.events(spark, sfDir)
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"user_id", $"event_type", $"event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("stream-static enrich: stateless, static side broadcast, misses keep flowing") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("user_id", "ts", "value")
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("c_custkey", "tier")
    val q = StreamOps.enrichStream(df, dim, "user_id", "c_custkey")
      .select($"user_id", $"tier", $"value")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    input.addData((1L, ts("2024-01-01 00:00:01"), 1.0),
      (9L, ts("2024-01-01 00:00:02"), 2.0))
    q.processAllAvailable()
    input.addData((2L, ts("2024-01-01 00:00:03"), 3.0))
    q.processAllAvailable()
    // no state store: a stream-static join reports no stateful operators
    val stateOps = q.lastProgress.stateOperators
    q.stop()
    assert(stateOps.isEmpty, "stream-static join must be stateless")
    val rows = spark.table("enriched").orderBy("user_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, Some("GOLD"), 1.0), (2L, Some("SILVER"), 3.0),
      (9L, None, 2.0)), "left join keeps dimension misses as nulls")
  }

  test("dropDuplicatesWithinWatermark: in-horizon dup dropped, state expires") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, java.sql.Timestamp)]
    val df = input.toDF().toDF("user_id", "event_type", "event_id", "ts")
    val q = StreamOps.dedupWithinWatermark(df, "10 minutes")
      .writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    // batch 1: key (1, a) kept; in-batch duplicate dropped
    input.addData((1L, "a", 100L, ts("2024-01-01 00:00:00")),
      (1L, "a", 101L, ts("2024-01-01 00:01:00")))
    q.processAllAvailable()
    // batch 2: watermark still below 00:00 + 10m → duplicate dropped;
    // unrelated key flows; watermark advances to 00:30 - 10m = 00:20
    input.addData((1L, "a", 102L, ts("2024-01-01 00:05:00")),
      (2L, "b", 200L, ts("2024-01-01 00:30:00")))
    q.processAllAvailable()
    // batch 3: state for (1, a) expired at watermark 00:20 > 00:00+10m →
    // the same key is ADMITTED again (contrast dedupFirstSeen)
    input.addData((1L, "a", 103L, ts("2024-01-01 00:25:00")))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("wm_dedup").collect()
      .map(r => r.getLong(2)).toSet
    assert(kept == Set(100L, 200L, 103L),
      s"expected dup suppressed in-horizon and key re-admitted after expiry, got $kept")
  }

  test("dedupEventTimeTtl: fold matches a hand-replay and bounds survivors") {
    val sparkS = spark
    import sparkS.implicits._
    import StreamOps.KeyedEvent
    val evs = Seq(
      KeyedEvent(1L, "a", 1L, ts("2024-01-01 00:00:00"), 1.0),
      KeyedEvent(1L, "a", 2L, ts("2024-01-01 05:00:00"), 1.0), // < 12h: drop
      KeyedEvent(1L, "a", 3L, ts("2024-01-01 12:00:00"), 1.0), // ≥ 12h: keep
      KeyedEvent(1L, "a", 4L, ts("2024-01-01 23:59:00"), 1.0), // < 12h after #3
      KeyedEvent(1L, "a", 5L, ts("2024-01-02 00:00:00"), 1.0), // ≥ 12h: keep
      KeyedEvent(2L, "b", 6L, ts("2024-01-01 00:00:00"), 1.0))
    val out = StreamOps.dedupEventTimeTtl(evs.toDS(), 43200000L)
      .collect().map(_.event_id).toSet
    assert(out == Set(1L, 3L, 5L, 6L))
  }

  test("streaming quota persists the spent count across micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.KeyedEvent
    val input = MemoryStream[KeyedEvent]
    val q = StreamOps.quotaFirstNStream(input.toDS(), n = 3)
      .writeStream.format("memory").queryName("quota")
      .outputMode("append").start()

    // batch 1: user 1 spends 2 of 3 (rows arrive out of ts order — the
    // earlier ts must take rank 1)
    input.addData(
      KeyedEvent(1L, "c", 12L, ts("2024-01-01 00:02:00"), 2.0),
      KeyedEvent(1L, "c", 11L, ts("2024-01-01 00:01:00"), 1.0))
    q.processAllAvailable()
    // batch 2: user 1 has ONE slot left — only the earliest of the three
    // passes, with rank 3; user 2 starts fresh
    input.addData(
      KeyedEvent(1L, "c", 15L, ts("2024-01-01 00:05:00"), 5.0),
      KeyedEvent(1L, "c", 13L, ts("2024-01-01 00:03:00"), 3.0),
      KeyedEvent(1L, "c", 14L, ts("2024-01-01 00:04:00"), 4.0),
      KeyedEvent(2L, "c", 21L, ts("2024-01-01 00:01:00"), 9.0))
    q.processAllAvailable()
    // batch 3: user 1 is exhausted forever
    input.addData(KeyedEvent(1L, "c", 16L, ts("2024-01-01 00:06:00"), 6.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("quota").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows == Set(
      (1L, 11L, 1), (1L, 12L, 2), (1L, 13L, 3), (2L, 21L, 1)))

    // the batch fold (the gate's shape) agrees on the same events
    val batch = StreamOps.quotaFirstN(Seq(
      KeyedEvent(1L, "c", 12L, ts("2024-01-01 00:02:00"), 2.0),
      KeyedEvent(1L, "c", 11L, ts("2024-01-01 00:01:00"), 1.0),
      KeyedEvent(1L, "c", 15L, ts("2024-01-01 00:05:00"), 5.0),
      KeyedEvent(1L, "c", 13L, ts("2024-01-01 00:03:00"), 3.0),
      KeyedEvent(1L, "c", 14L, ts("2024-01-01 00:04:00"), 4.0),
      KeyedEvent(2L, "c", 21L, ts("2024-01-01 00:01:00"), 9.0),
      KeyedEvent(1L, "c", 16L, ts("2024-01-01 00:06:00"), 6.0)).toDS(), n = 3)
      .collect().map(o => (o.user_id, o.event_id, o.rk)).toSet
    assert(batch == rows,
      "one AvailableNow pass must equal the batch fold (same event set)")
  }

  test("streaming top-k: state holds O(k) per key; final snapshot = batch heap") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.KeyedEvent
    val input = MemoryStream[KeyedEvent]
    val q = StreamOps.topKStream(input.toDS(), k = 2)
      .writeStream.format("memory").queryName("topk")
      .outputMode("update").start()

    input.addData(
      KeyedEvent(1L, "c", 11L, ts("2024-01-01 00:01:00"), 5.0),
      KeyedEvent(1L, "c", 12L, ts("2024-01-01 00:02:00"), 3.0),
      KeyedEvent(1L, "c", 13L, ts("2024-01-01 00:03:00"), 8.0))
    q.processAllAvailable()
    // batch 2: 9.0 displaces 5.0; value tie 8.0 resolves to smaller id
    input.addData(
      KeyedEvent(1L, "c", 14L, ts("2024-01-01 00:04:00"), 9.0),
      KeyedEvent(1L, "c", 15L, ts("2024-01-01 00:05:00"), 8.0))
    q.processAllAvailable()
    q.stop()

    // Update mode re-emits the snapshot per batch; the LAST snapshot per
    // key is the answer — batch 1: (13,8.0),(11,5.0); batch 2: (14,9.0),(13,8.0)
    val rows = spark.table("topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rows.toSet.contains((1L, 14L, 1, 9.0)) &&
      rows.toSet.contains((1L, 13L, 2, 8.0)))

    // the final snapshot equals the batch bounded-heap over all events
    val batch = Seq(
      KeyedEvent(1L, "c", 11L, ts("2024-01-01 00:01:00"), 5.0),
      KeyedEvent(1L, "c", 12L, ts("2024-01-01 00:02:00"), 3.0),
      KeyedEvent(1L, "c", 13L, ts("2024-01-01 00:03:00"), 8.0),
      KeyedEvent(1L, "c", 14L, ts("2024-01-01 00:04:00"), 9.0),
      KeyedEvent(1L, "c", 15L, ts("2024-01-01 00:05:00"), 8.0)).toDS()
      .groupBy($"user_id")
      .agg(graft.operators.TopKAgg.topKByScore($"value", $"event_id", 2).as("t"))
      .select($"user_id", org.apache.spark.sql.functions.posexplode($"t")
        .as(Seq("i", "e")))
      .select($"user_id", $"e.id", ($"i" + 1).cast("int"), $"e.score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(batch == Set((1L, 14L, 1, 9.0), (1L, 13L, 2, 8.0)))
  }

  test("stateful dedup state survives a query restart from checkpoint") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.KeyedEvent
    // the memory sink refuses checkpoint recovery; the durable file sink
    // is the shape a production pipeline restarts through
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft_ckpt_out").toString
    val input = MemoryStream[KeyedEvent]
    def start() = StreamOps.dedupFirstSeen(input.toDS())
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", ckpt).option("path", out).start()

    // run 1: key (1, click) is consumed and committed to the state store
    val q1 = start()
    input.addData(KeyedEvent(1L, "click", 10L, ts("2024-01-01 00:00:01"), 1.0))
    q1.processAllAvailable()
    q1.stop()

    // run 2 RESUMES from the checkpoint: the duplicate key must be
    // dropped by the RELOADED state (11 never emitted), while a fresh
    // key passes — restart-safety is what lets a 100 TB streaming dedup
    // survive executor loss without re-admitting dups
    val q2 = start()
    input.addData(
      KeyedEvent(1L, "click", 11L, ts("2024-01-01 00:00:05"), 5.0),
      KeyedEvent(2L, "view", 20L, ts("2024-01-01 00:00:06"), 6.0))
    q2.processAllAvailable()
    q2.stop()

    val emitted = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("event_id"))).toSet
    assert(emitted == Set((1L, "click", 10L), (2L, "view", 20L)),
      s"resumed state must drop the (1, click) duplicate, got $emitted")
  }

  test("streaming forward-fill carries the last value across micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.KeyedEvent
    val input = MemoryStream[KeyedEvent]
    val q = StreamOps.ffillStream(input.toDS(), maskMod = 5L)
      .writeStream.format("memory").queryName("ffill")
      .outputMode("append").start()

    // batch 1: event 10 carries a value (10 % 5 == 0), 11/12 are masked
    input.addData(
      KeyedEvent(1L, "c", 10L, ts("2024-01-01 00:01:00"), 4.0),
      KeyedEvent(1L, "c", 11L, ts("2024-01-01 00:02:00"), 9.9),
      KeyedEvent(1L, "c", 12L, ts("2024-01-01 00:03:00"), 9.9))
    q.processAllAvailable()
    // batch 2: the carried 4.0 must survive the batch boundary; 15
    // refreshes the carry; a fresh user starts unfilled (None)
    input.addData(
      KeyedEvent(1L, "c", 13L, ts("2024-01-01 00:04:00"), 9.9),
      KeyedEvent(1L, "c", 15L, ts("2024-01-01 00:05:00"), 7.0),
      KeyedEvent(2L, "c", 21L, ts("2024-01-01 00:01:00"), 9.9))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ffill").collect()
      .map(r => (r.getLong(1), Option(r.get(4)).map(_.asInstanceOf[Double])))
      .toMap
    assert(rows(10L).contains(4.0) && rows(11L).contains(4.0) &&
      rows(12L).contains(4.0), "batch-1 fill from event 10")
    assert(rows(13L).contains(4.0), "carry must survive the batch boundary")
    assert(rows(15L).contains(7.0), "a new reading refreshes the carry")
    assert(rows(21L).isEmpty, "a user with no reading yet stays unfilled")
  }

  test("streaming CDC fold converges to the batch snapshot across batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.CdcChange
    val input = MemoryStream[CdcChange]
    val q = StreamOps.cdcLatestStream(input.toDS())
      .writeStream.format("memory").queryName("cdc")
      .outputMode("update").start()

    def state(): Map[Long, (Long, Long, Boolean)] =
      spark.table("cdc").collect()
        .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .groupBy(_._1).view.mapValues(_.last._2).toMap

    // batch 1: two keys upserted
    input.addData(
      CdcChange(1L, ts("2024-01-01 00:01:00"), 10L, "upsert", 100L),
      CdcChange(2L, ts("2024-01-01 00:01:00"), 11L, "upsert", 200L))
    q.processAllAvailable()
    assert(state() == Map(1L -> ((10L, 100L, true)), 2L -> ((11L, 200L, true))))

    // batch 2: newer upsert for k1; k2 deleted — state crosses the boundary
    input.addData(
      CdcChange(1L, ts("2024-01-01 00:05:00"), 30L, "upsert", 111L),
      CdcChange(2L, ts("2024-01-01 00:06:00"), 31L, "delete", 0L))
    q.processAllAvailable()
    val s2 = state()
    assert(s2(1L) == ((30L, 111L, true)) && s2(2L)._3 == false)

    // batch 3: a STALE change for k1 arrives late — the carried
    // (ts, change_id) argmax must reject it, like the batch aggregate
    input.addData(
      CdcChange(1L, ts("2024-01-01 00:03:00"), 20L, "upsert", 999L))
    q.processAllAvailable()
    q.stop()
    assert(state()(1L) == ((30L, 111L, true)),
      "stale late change must not override the newer state")
  }

  test("streaming funnel carries stage windows across micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.KeyedEvent
    val input = MemoryStream[KeyedEvent]
    val q = StreamOps.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode("update").start()

    def stages(): Map[Long, Int] =
      spark.table("funnel").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.last._2).toMap

    // batch 1: both users view; user 2 also clicks 2 DAYS later (outside
    // the 1-day window -> must NOT advance)
    input.addData(
      KeyedEvent(1L, "view", 10L, ts("2024-01-01 00:00:00"), 0),
      KeyedEvent(2L, "view", 20L, ts("2024-01-01 00:00:00"), 0),
      KeyedEvent(2L, "click", 21L, ts("2024-01-03 00:00:00"), 0))
    q.processAllAvailable()
    assert(stages() == Map(1L -> 1, 2L -> 1))

    // batch 2: user 1 clicks inside the window — the view time carried
    // across the batch boundary must qualify it
    input.addData(
      KeyedEvent(1L, "click", 11L, ts("2024-01-01 12:00:00"), 0))
    q.processAllAvailable()
    assert(stages() == Map(1L -> 2, 2L -> 1))

    // batch 3: user 1 purchases within 3 days of the click; user 2's
    // purchase has no qualifying click -> stays at stage 1
    input.addData(
      KeyedEvent(1L, "purchase", 12L, ts("2024-01-03 00:00:00"), 9.0),
      KeyedEvent(2L, "purchase", 22L, ts("2024-01-03 06:00:00"), 9.0))
    q.processAllAvailable()
    q.stop()
    assert(stages() == Map(1L -> 3, 2L -> 1))
  }

  test("streaming anomaly ring carries the trailing window across batches") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum, when}
    import StreamOps.{AnomalyOut, BucketCount}
    implicit val sc = spark.sqlContext
    val input = MemoryStream[BucketCount]
    // window=4 so the ring fills fast; flag when cnt*4 > trail_sum*2
    val q = StreamOps.anomalyStream(input.toDS(), window = 4)
      .writeStream.format("memory").queryName("anomaly")
      .outputMode("append").start()

    def rows(): Seq[AnomalyOut] =
      spark.table("anomaly").as[AnomalyOut].collect().toSeq.sortBy(_.hr_us)

    // batch 1: the first 4 buckets only build the ring — never flag,
    // partial trails report 0
    input.addData((1 to 4).map(h => BucketCount("click", h * 100L, 10L)): _*)
    q.processAllAvailable()
    assert(rows().map(_.flag) == Seq(0L, 0L, 0L, 0L))
    assert(rows().map(_.trail_n) == Seq(0L, 1L, 2L, 3L))
    assert(rows().map(_.trail_sum) == Seq(0L, 0L, 0L, 0L))

    // batch 2: the ring (40 over 4 buckets) crossed the batch boundary;
    // 21*4=84 > 40*2=80 flags, 20*4=80 does not (strict inequality)
    input.addData(BucketCount("click", 500L, 21L))
    q.processAllAvailable()
    assert(rows().last == AnomalyOut("click", 500L, 21L, 40L, 4L, 1L))

    // batch 3: the spike entered the ring (10+10+10+21=51); 20*4=80 is
    // NOT > 51*2=102 -> no flag; an independent key starts its own ring
    input.addData(BucketCount("click", 600L, 20L),
      BucketCount("error", 100L, 1000L))
    q.processAllAvailable()
    q.stop()
    val byKey = rows().groupBy(_.event_type)
    assert(byKey("click").last == AnomalyOut("click", 600L, 20L, 51L, 4L, 0L))
    assert(byKey("error").head.flag == 0L, "a fresh ring can never flag")

    // the batch window-frame shape over the same buckets agrees
    val batch = Seq(("click", 100L, 10L), ("click", 200L, 10L),
      ("click", 300L, 10L), ("click", 400L, 10L), ("click", 500L, 21L),
      ("click", 600L, 20L), ("error", 100L, 1000L))
      .toDF("event_type", "hr_us", "cnt")
    import org.apache.spark.sql.expressions.Window
    val tw = Window.partitionBy($"event_type").orderBy($"hr_us")
      .rowsBetween(-4, -1)
    val batchFlags = batch
      .withColumn("trail_n", count(lit(1)).over(tw))
      .withColumn("ts_raw", coalesce(sum($"cnt").over(tw), lit(0L)))
      .select($"event_type", $"hr_us", $"cnt",
        when($"trail_n" === 4, $"ts_raw").otherwise(0L).as("trail_sum"),
        $"trail_n",
        when($"trail_n" === 4 && $"cnt" * 4 > $"ts_raw" * 2, 1L)
          .otherwise(0L).as("flag"))
      .as[AnomalyOut].collect().toSeq.sortBy(r => (r.event_type, r.hr_us))
    val streamed = rows().sortBy(r => (r.event_type, r.hr_us))
    assert(streamed == batchFlags,
      "streaming ring must equal the batch trailing-frame shape")
  }

  test("watermark drops the too-late row and reports it in progress metrics") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val counts = StreamOps.tumblingCounts(input.toDF(), "1 hour", "30 minutes")
    val q = counts.writeStream.format("memory").queryName("late_agg")
      .outputMode("update").start()
    // batch 1 advances the watermark to 11:30
    input.addData(Event(1L, ts("2024-01-01 12:00:00"), 1.0))
    q.processAllAvailable()
    // batch 2: 09:00 is far behind the watermark -> dropped, and the
    // progress metrics must SAY so (the observability a pipeline needs
    // to notice silent data loss)
    input.addData(Event(1L, ts("2024-01-01 09:00:00"), 1.0))
    q.processAllAvailable()
    val dropped = q.recentProgress
      .map(p => Option(p.stateOperators).toSeq.flatten
        .map(_.numRowsDroppedByWatermark).sum).sum
    q.stop()
    assert(dropped == 1L,
      s"expected exactly the late row dropped, metrics said $dropped")
    val rows = spark.table("late_agg").collect()
    assert(!rows.exists(_.toString.contains("09:00")),
      "the dropped row must not appear in any window")
  }

  test("transformWithState sessionizer: timers close sessions at the watermark") {
    val sparkS = spark
    import sparkS.implicits._
    import StreamOps.{SessEvent, SessRow}
    implicit val sc = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // transformWithState requires the RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[SessEvent]
    val q = StreamOps.sessionizeTws(input.toDS(), gapUs = 3600L * 1000000)
      .writeStream.format("memory").queryName("tws_sess")
      .outputMode("append").start()
    try {
      def rows(): Seq[SessRow] =
        spark.table("tws_sess").as[SessRow].collect().toSeq
          .sortBy(r => (r.user_id, r.session_start_us))

      val h = 3600L * 1000000
      // batch 1: u1 has two events 30 min apart; u2's in-batch gap
      // closes its first session inline AND advances the global
      // watermark to 20h — past u1's (last + gap) timer at 11.5h, so
      // the TIMER closes u1's session in the same processAllAvailable
      // even though no further u1 event arrives. u2's second session
      // (timer 21h) stays open.
      input.addData(
        SessEvent(1L, 10 * h, "view"), SessEvent(1L, 10 * h + h / 2, "purchase"),
        SessEvent(2L, 10 * h, "view"), SessEvent(2L, 20 * h, "view"))
      q.processAllAvailable()
      assert(rows() == Seq(SessRow(1L, 10 * h, 2L, h / 2, 1L),
        SessRow(2L, 10 * h, 1L, 0L, 0L)),
        s"u1 closes by timer, u2's first by in-batch gap, got ${rows()}")

      // batch 2: a fresh key's far-future event pushes the watermark to
      // 40h — u2's open second session closes by timer, cross-batch
      input.addData(SessEvent(3L, 40 * h, "view"))
      q.processAllAvailable()
      assert(rows().filter(_.user_id == 2L) ==
        Seq(SessRow(2L, 10 * h, 1L, 0L, 0L), SessRow(2L, 20 * h, 1L, 0L, 0L)),
        s"u2's second session must close by the cross-batch timer, got ${rows()}")
      // u3's own session stays open (its timer is past the watermark)
      assert(!rows().exists(_.user_id == 3L))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState sessionizer: a pre-restart timer fires after " +
       "checkpoint recovery") {
    val sparkS = spark
    import sparkS.implicits._
    import StreamOps.{SessEvent, SessRow}
    implicit val sc = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // durable checkpoint + file sink: the restartable production shape
    // (the memory sink refuses checkpoint recovery)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tws_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_tws_out").toString
    val input = MemoryStream[SessEvent]
    val h = 3600L * 1000000
    def start() = StreamOps.sessionizeTws(input.toDS(), gapUs = h)
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", ckpt).option("path", out).start()
    try {
      // run 1: u1's session stays OPEN — its close timer (last + gap =
      // 11.5h) is registered in the state store but the watermark only
      // reaches 10.5h. Then the query dies.
      val q1 = start()
      input.addData(SessEvent(1L, 10 * h, "view"),
        SessEvent(1L, 10 * h + h / 2, "purchase"))
      q1.processAllAvailable()
      q1.stop()
      val afterRun1 = spark.read.parquet(out).as[SessRow].collect()
      assert(afterRun1.isEmpty,
        s"u1 must still be open when run 1 dies, got ${afterRun1.toSeq}")

      // run 2 resumes from the checkpoint: an unrelated key's far-future
      // event pushes the watermark past 11.5h, and the timer registered
      // BEFORE the restart must fire from recovered state — no u1 event
      // ever arrives in run 2
      val q2 = start()
      input.addData(SessEvent(9L, 40 * h, "view"))
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(out).as[SessRow].collect().toSeq
      assert(rows == Seq(SessRow(1L, 10 * h, 2L, h / 2, 1L)),
        s"pre-restart timer must close u1's session exactly once, got $rows")
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ListState pattern detector: trigram matches across batch " +
       "boundaries, equals the batch lag shape") {
    val sparkS = spark
    import sparkS.implicits._
    import StreamOps.{PatternHit, SessEvent}
    implicit val sc = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[SessEvent]
    val q = StreamOps.patternStream(input.toDS())
      .writeStream.format("memory").queryName("pattern_hits")
      .outputMode("append").start()
    try {
      // batch 1: u1 ends on [view, view] — the pattern tail must carry;
      // u2 completes a full trigram in-batch; u3 is a near-miss
      input.addData(
        SessEvent(1L, 10L, "view"), SessEvent(1L, 20L, "view"),
        SessEvent(2L, 10L, "view"), SessEvent(2L, 20L, "view"),
        SessEvent(2L, 30L, "purchase"),
        SessEvent(3L, 10L, "view"), SessEvent(3L, 20L, "click"),
        SessEvent(3L, 30L, "purchase"))
      q.processAllAvailable()
      // batch 2: u1's purchase completes the CROSS-BATCH trigram; a
      // second purchase must NOT match (the tail is now [view, purchase])
      input.addData(SessEvent(1L, 30L, "purchase"),
        SessEvent(1L, 40L, "purchase"))
      q.processAllAvailable()
      val hits = spark.table("pattern_hits").as[PatternHit]
        .collect().toSeq.sortBy(h => (h.user_id, h.ts_us))
      assert(hits == Seq(PatternHit(1L, 30L), PatternHit(2L, 30L)),
        s"expected u1 cross-batch + u2 in-batch only, got $hits")

      // the batch twin (two lags over the user window) agrees on the
      // same event set — the x_event_pattern gate shape
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.lag
      val all = Seq((1L, 10L, "view"), (1L, 20L, "view"),
        (1L, 30L, "purchase"), (1L, 40L, "purchase"),
        (2L, 10L, "view"), (2L, 20L, "view"), (2L, 30L, "purchase"),
        (3L, 10L, "view"), (3L, 20L, "click"), (3L, 30L, "purchase"))
        .toDF("user_id", "ts_us", "event_type")
      val w = Window.partitionBy($"user_id").orderBy($"ts_us")
      val batchHits = all
        .select($"user_id", $"ts_us", $"event_type",
          lag($"event_type", 2).over(w).as("p2"),
          lag($"event_type", 1).over(w).as("p1"))
        .filter($"p2" === "view" && $"p1" === "view" &&
          $"event_type" === "purchase")
        .select($"user_id", $"ts_us").as[(Long, Long)]
        .collect().toSeq.sorted
      assert(batchHits == hits.map(h => (h.user_id, h.ts_us)),
        s"streaming must equal the batch lag shape, got $batchHits")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ListState pattern detector: tied timestamps order by event_id, " +
       "matching the batch twin's (ts_us, event_id) tie-break") {
    val sparkS = spark
    import sparkS.implicits._
    import StreamOps.{PatternHit, SessEvent}
    implicit val sc = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[SessEvent]
    val q = StreamOps.patternStream(input.toDS())
      .writeStream.format("memory").queryName("pattern_tie")
      .outputMode("append").start()
    try {
      // u1: view@10, then TWO events tied at ts=20 — view (event_id 2)
      // before purchase (event_id 3). Ordered by (ts_us, event_id) the
      // sequence is view,view,purchase → one hit at 20. A lexicographic
      // event_type tie-break would order purchase first and find none.
      input.addData(
        SessEvent(1L, 10L, "view", 1L),
        SessEvent(1L, 20L, "purchase", 3L),
        SessEvent(1L, 20L, "view", 2L))
      q.processAllAvailable()
      val hits = spark.table("pattern_tie").as[PatternHit].collect().toSeq
      assert(hits == Seq(PatternHit(1L, 20L)),
        s"tied timestamps must order by event_id, got $hits")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ListState pattern tail survives a checkpoint restart") {
    val sparkS = spark
    import sparkS.implicits._
    import StreamOps.{PatternHit, SessEvent}
    implicit val sc = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ls_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ls_out").toString
    val input = MemoryStream[SessEvent]
    def start() = StreamOps.patternStream(input.toDS())
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", ckpt).option("path", out).start()
    try {
      // run 1 ends with u1's tail = [view, view] in the ListState
      val q1 = start()
      input.addData(SessEvent(1L, 10L, "view"), SessEvent(1L, 20L, "view"))
      q1.processAllAvailable()
      q1.stop()
      // run 2: the purchase completes the trigram purely from the
      // RECOVERED list tail
      val q2 = start()
      input.addData(SessEvent(1L, 30L, "purchase"))
      q2.processAllAvailable()
      q2.stop()
      val hits = spark.read.parquet(out).as[PatternHit].collect().toSeq
      assert(hits == Seq(PatternHit(1L, 30L)),
        s"recovered list tail must complete the trigram, got $hits")
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("blockFileStream: newly-arrived block files drain incrementally " +
       "with Trigger.AvailableNow (the C4 catch-up source)") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions.{count, lit, sum}
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = java.nio.file.Files.createTempDirectory("bfs_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bfs_ckpt").toString
    def writeScene(date: String, n: Int): Unit =
      (0 until n).map(i => ("c", "t1", java.sql.Date.valueOf(date), "B04",
          i, 0, 4, 4, 0.0, 160.0, 10.0, 10.0, -9999,
          Array.tabulate(16)(_ + i)))
        .toDF("cube", "tileId", "date", "band", "blockY", "blockX",
          "height", "width", "x0", "y0", "resX", "resY", "nodata", "pixels")
        .coalesce(1).write.mode("append").parquet(srcDir)
    writeScene("2020-01-05", 3)
    def drain(): Long = {
      val q = graft.streaming.StreamOps.blockFileStream(spark, srcDir)
        .groupBy($"date").agg(count(lit(1)).as("blocks"))
        .writeStream.format("memory").queryName("bfs_out")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table("bfs_out").agg(sum($"blocks")).collect().head.getLong(0)
    }
    assert(drain() == 3L, "first catch-up sees the existing scene")
    // a late scene lands between triggers; only the NEW files replay
    // into the next AvailableNow pass (file-source checkpoint tracking)
    writeScene("2020-01-20", 2)
    assert(drain() == 5L,
      "second catch-up must fold in exactly the late scene's blocks")
  }

  test("MapState distinct count: membership survives batches, novelty per batch") {
    val sparkS = spark
    import sparkS.implicits._
    import StreamOps.{DistinctOut, KeyVal}
    implicit val sc = spark.sqlContext
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[KeyVal]
    val q = StreamOps.distinctCountStream(input.toDS())
      .writeStream.format("memory").queryName("dcount")
      .outputMode("update").start()
    try {
      def latest(): Map[Long, (Long, Long)] =
        spark.table("dcount").as[DistinctOut].collect()
          .groupBy(_.user_id).view
          .mapValues(rs => (rs.last.n_distinct, rs.last.new_this_batch))
          .toMap
      // batch 1: u1 sees two types (one duplicated); u2 one
      input.addData(KeyVal(1L, "view"), KeyVal(1L, "click"),
        KeyVal(1L, "view"), KeyVal(2L, "view"))
      q.processAllAvailable()
      assert(latest() == Map(1L -> (2L, 2L), 2L -> (1L, 1L)))
      // batch 2: u1 repeats across the BATCH BOUNDARY (no growth) and
      // adds one new; u2 silent (no row emitted for silent keys)
      input.addData(KeyVal(1L, "view"), KeyVal(1L, "purchase"))
      q.processAllAvailable()
      assert(latest()(1L) == (3L, 1L),
        s"cross-batch membership must hold, got ${latest()}")
      assert(latest()(2L) == (1L, 1L), "silent keys emit nothing new")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("interval join takes key/ts column names; missing columns fail typed") {
    val sparkS = spark
    import sparkS.implicits._
    val l = Seq((7L, ts("2024-01-01 00:00:00")))
      .toDF("device", "seen_at")
    val r = Seq((7L, ts("2024-01-01 00:10:00"), 5.0))
      .toDF("device", "seen_at", "v")
    val got = StreamOps.intervalJoin(l, r, "30 MINUTES", "2 hours",
        keyCol = "device", tsCol = "seen_at")
      .select($"l.device", $"r.v").collect()
      .map(row => (row.getLong(0), row.getDouble(1))).toSet
    assert(got == Set((7L, 5.0)))
    // the default schema contract no longer binds silently to wrong columns
    val err = intercept[IllegalArgumentException](
      StreamOps.intervalJoin(l, r))
    assert(err.getMessage.contains("user_id"))
  }
}
