package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LogStream, Stateful, Windows}
import graft.streaming.Stateful._

/** Streaming forms vs batch forms: every stateful operator's
  * `flatMapGroupsWithState` implementation must agree with its
  * batch window-function equivalent on the same data (SURVEY.md §5).
  */
class StreamingSpec extends AnyFunSuite {
  import TestSession._

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  private def runAppend[T](ds: org.apache.spark.sql.Dataset[T], name: String): Unit = {
    val q = ds.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
  }

  // ---------------------------------------------------------- P1/S3/P10

  test("P1: JSON parse quarantines dirty rows, keeps clean ones") {
    import spark.implicits._
    val raw = Seq(
      """{"common":{"mid":"m1","uid":"u1","vc":"v1","ch":"a","ar":"1","is_new":"1"},"page":{"page_id":"home","during_time":5},"ts":1000}""",
      """not json at all""",
      """{"start":{"entry":"icon","loading_time":200},"ts":2000}""").toDF("value")
    val parsed = LogStream.parse(raw, LogStream.pageLogSchema)
    assert(LogStream.clean(parsed).count() == 2)
    assert(LogStream.dirty(parsed).as[String].collect().toSeq == Seq("not json at all"))
  }

  test("S3/P3/P4: Maxwell envelope parse, CDC slice, changed-column predicate") {
    import spark.implicits._
    val raw = Seq(
      """{"database":"gmall","table":"cart_info","type":"insert","data":{"id":"1","sku_num":"2"},"ts":100}""",
      """{"database":"gmall","table":"cart_info","type":"update","data":{"id":"1","sku_num":"5"},"old":{"sku_num":"2"},"ts":101}""",
      """{"database":"gmall","table":"order_info","type":"insert","data":{"id":"9"},"ts":102}""").toDF("value")
    val env = LogStream.maxwellEnvelope(raw)
    assert(env.columns.contains("pt"))
    val carts = LogStream.cdcSlice(env, "cart_info", Seq("insert", "update"))
    assert(carts.count() == 2)
    val changed = carts.filter(LogStream.columnChanged(col("old"), "sku_num"))
    assert(changed.select($"data"("id")).as[String].collect().toSeq == Seq("1"))
  }

  test("P10: five-way log split explodes displays with parent fields") {
    import spark.implicits._
    val raw = Seq(
      """{"common":{"mid":"m1"},"page":{"page_id":"home"},"displays":[{"item":"sku1","pos_id":"1"},{"item":"sku2","pos_id":"2"}],"ts":1000}""",
      """{"common":{"mid":"m1"},"start":{"entry":"icon","loading_time":150},"ts":900}""",
      """{"common":{"mid":"m2"},"err":{"error_code":"42","msg":"boom"},"ts":950}""").toDF("value")
    val split = LogStream.splitLog(LogStream.clean(LogStream.parse(raw, LogStream.pageLogSchema)))
    assert(split("page").count() == 1)
    assert(split("start").count() == 1)
    assert(split("err").count() == 1)
    val d = split("display").orderBy("pos_id")
    assert(d.count() == 2)
    // parent page_id/ts pushed into each exploded display element
    assert(d.select("page_id", "item").as[(String, String)].collect().toSeq ==
      Seq(("home", "sku1"), ("home", "sku2")))
  }

  // ----------------------------------------------- D3/D4/D5 daily flags

  test("D3/D4/D5: streaming dailyFlags equals batch window-function form") {
    import spark.implicits._
    val events = Seq(
      UserEvent(1, 1, ts(0), "2024-01-01", 1),
      UserEvent(1, 2, ts(60), "2024-01-01", 0),
      UserEvent(1, 3, ts(86400), "2024-01-02", 1),
      UserEvent(2, 4, ts(30), "2024-01-01", 1),
      UserEvent(2, 5, ts(86500), "2024-01-02", 1),
      UserEvent(2, 6, ts(86560), "2024-01-02", 0))

    // batch oracle: row_number per (user, dt); min(dt) per user
    val batch = events.toDF()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id", "dt").orderBy("ts", "event_id")))
      .withColumn("first_dt", min("dt").over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .select($"user_id", $"event_id",
        when($"rn" === 1, 1).otherwise(0).as("is_daily_first"),
        when($"dt" === $"first_dt", 1).otherwise(0).as("is_new"))
      .as[(Long, Long, Int, Int)].collect().toSet

    // streaming form, fed in two micro-batches split mid-day
    val mem = MemoryStream[UserEvent](spark)
    val q = Stateful.dailyFlags(mem.toDS()).writeStream.format("memory")
      .queryName("daily_flags").outputMode(OutputMode.Append).start()
    mem.addData(events.take(3))
    q.processAllAvailable()
    mem.addData(events.drop(3))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("daily_flags")
      .select("user_id", "event_id", "is_daily_first", "is_new")
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(streamed == batch)
  }

  // ------------------------------------------------------- D6 back-flow

  test("D6: back-flow fires on gap >= 8 days, matches batch lag form") {
    import spark.implicits._
    val events = Seq(
      UserEvent(1, 1, ts(0), "2024-01-01", 1),
      UserEvent(1, 2, ts(1), "2024-01-03", 1), // gap 2 -> no back
      UserEvent(1, 3, ts(2), "2024-01-20", 1), // gap 17 -> back
      UserEvent(2, 4, ts(3), "2024-02-01", 1)) // first ever -> no back
    val mem = MemoryStream[UserEvent](spark)
    val q = Stateful.backFlow(mem.toDS()).writeStream.format("memory")
      .queryName("back_flow").outputMode(OutputMode.Append).start()
    mem.addData(events)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("back_flow").as[LoginDay].collect()
      .map(l => (l.user_id, l.dt) -> l.back_ct).toMap
    assert(got == Map((1L, "2024-01-01") -> 0L, (1L, "2024-01-03") -> 0L,
      (1L, "2024-01-20") -> 1L, (2L, "2024-02-01") -> 0L))
  }

  // ----------------------------------------------------- D1/D2 dedup

  test("D1: firstWins emits exactly the first record per key across batches") {
    import spark.implicits._
    val mem = MemoryStream[Keyed](spark)
    val q = Stateful.firstWins(mem.toDS().withWatermark("ts", "0 seconds").as[Keyed])
      .writeStream.format("memory")
      .queryName("first_wins").outputMode(OutputMode.Append).start()
    mem.addData(Keyed("a", ts(5), "late"), Keyed("a", ts(1), "first"), Keyed("b", ts(2), "b1"))
    q.processAllAvailable()
    mem.addData(Keyed("a", ts(9), "dup"), Keyed("b", ts(9), "dup"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("first_wins").as[Keyed].collect().map(k => k.key -> k.payload).toMap
    assert(got == Map("a" -> "first", "b" -> "b1"))
  }

  test("D2: latestWins holds, replaces with newer ts, emits on timeout") {
    import spark.implicits._
    val mem = MemoryStream[Keyed](spark)
    val q = Stateful.latestWins(mem.toDS().withWatermark("ts", "0 seconds").as[Keyed])
      .writeStream.format("memory")
      .queryName("latest_wins").outputMode(OutputMode.Append).start()
    mem.addData(Keyed("a", ts(1), "v1"), Keyed("a", ts(3), "v2"))
    q.processAllAvailable()
    // advance the watermark far past a's timeout with another key
    mem.addData(Keyed("z", ts(100), "zz"))
    q.processAllAvailable()
    mem.addData(Keyed("z2", ts(200), "zz"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("latest_wins").as[Keyed].collect().map(k => k.key -> k.payload).toMap
    assert(got("a") == "v2")
  }

  // --------------------------------------------------------- C1 jumps

  test("C1: jump detection — match, non-jump, and timeout paths vs batch lead form") {
    import spark.implicits._
    // timestamps start at t=100: stateful ops with a watermark drop
    // rows at/below the watermark, which starts at 0 - epoch-0 events
    // would be filtered as late before reaching the operator
    val events = Seq(
      // user 1: start, next event is also a start 5s later -> jump(e1)
      UserEvent(1, 1, ts(100), "d", 1),
      UserEvent(1, 2, ts(105), "d", 1),
      // ...then a normal event 3s after e2 -> e2 NOT a jump
      UserEvent(1, 3, ts(108), "d", 0),
      // user 2: start, next event 30s later (outside 10s) -> timeout jump(e4)
      UserEvent(2, 4, ts(100), "d", 1),
      UserEvent(2, 5, ts(130), "d", 0),
      // user 3: start with no follow-up at all -> timeout jump(e6)
      UserEvent(3, 6, ts(140), "d", 1))

    // batch oracle: lead() over user/ts — SURVEY.md §5's brute-force check
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts", "event_id")
    val batch = events.toDF()
      .withColumn("next_ts", lead("ts", 1).over(w))
      .withColumn("next_start", lead("is_session_start", 1).over(w))
      .filter($"is_session_start" === 1 &&
        ($"next_ts".isNull ||
          unix_timestamp($"next_ts") > unix_timestamp($"ts") + 10 ||
          $"next_start" === 1))
      .select("event_id").as[Long].collect().toSet

    val mem = MemoryStream[UserEvent](spark)
    val q = Stateful.jumpDetect(mem.toDS().withWatermark("ts", "2 seconds").as[UserEvent])
      .writeStream.format("memory")
      .queryName("jumps").outputMode(OutputMode.Append).start()
    mem.addData(events)
    q.processAllAvailable()
    // sentinel far in the future: advances the watermark so pending
    // session-starts (users 2 and 3) hit their event-time timeouts
    mem.addData(UserEvent(99, 99, ts(1000), "d", 0))
    q.processAllAvailable()
    mem.addData(UserEvent(99, 100, ts(2000), "d", 0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("jumps").select("event_id").as[Long].collect().toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed == Set(1L, 4L, 6L))
  }

  // ------------------------------------------------------ W1–W6 window

  test("W1: streaming tumbling window agg equals batch groupBy on sf0.001 events") {
    import spark.implicits._
    val e = graft.sources.Tables.events(spark, sf)
      .select($"ts", $"event_type", $"user_id")

    val batch = Windows.tumbling(e, "ts", Seq(col("event_type")),
        Seq(count(lit(1)).as("pv"), size(collect_set($"user_id")).cast("long").as("uv")))
      .select("stt", "edt", "event_type", "pv", "uv")
      .as[(String, String, String, Long, Long)].collect().toSet

    val mem = MemoryStream[(Timestamp, String, Long)](spark)
    val stream = Windows.tumbling(
      mem.toDS().toDF("ts", "event_type", "user_id"), "ts",
      Seq(col("event_type")), Seq(count(lit(1)).as("pv"), size(collect_set($"user_id")).cast("long").as("uv")))
    val q = stream.writeStream.format("memory").queryName("w1")
      .outputMode(OutputMode.Complete).start()
    mem.addData(e.as[(Timestamp, String, Long)].collect().toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("w1").select("stt", "edt", "event_type", "pv", "uv")
      .as[(String, String, String, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("M1: unionTumbling's 13 s watermark counts a row 10 s late; tumbling's 2 s drops it") {
    import spark.implicits._
    // two input streams, unioned and windowed; Update mode emits each
    // window as it changes, so a dropped row leaves its window absent
    def run(name: String, windowed: Seq[org.apache.spark.sql.DataFrame] =>
        org.apache.spark.sql.DataFrame): Map[String, Long] = {
      val a = MemoryStream[(Timestamp, Long)](spark)
      val b = MemoryStream[(Timestamp, Long)](spark)
      val q = windowed(Seq(a, b).map(_.toDS().toDF("ts", "user_id")))
        .select("stt", "pv").writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try {
        a.addData((ts(125), 1L)); q.processAllAvailable()
        // 10 s behind the max event time, in the [110, 120) window that
        // ends before 125 - 2 but after 125 - 13
        b.addData((ts(115), 2L)); q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[(String, Long)].collect().toMap
    }
    val pv = Seq(count(lit(1)).as("pv"))
    val union = run("m1_union", Windows.unionTumbling(_, "ts", Nil, pv))
    val single = run("m1_tumbling", p => Windows.tumbling(p.reduce(_ unionByName _), "ts", Nil, pv))
    assert(union == Map("1970-01-01 00:02:00" -> 1L, "1970-01-01 00:01:50" -> 1L))
    assert(single == Map("1970-01-01 00:02:00" -> 1L))
  }

  test("state partitions follow shufflePartitions (TestSession: 4), not AQE's batch initial width") {
    import spark.implicits._
    val mem = MemoryStream[(Long, Long)](spark)
    val q = mem.toDS().toDF("k", "v").groupBy("k").agg(sum("v").as("s"))
      .writeStream.format("memory").queryName("state_width")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData((1L, 1L), (2L, 2L), (1L, 3L))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numShufflePartitions === 4)
    } finally q.stop()
  }

  test("hopping window: streaming two-batch run equals the batch plan at rest") {
    import spark.implicits._
    // the an_hopping_window shape (1 h window, 30 min slide — each
    // event in exactly 2 windows) run as a stream across two
    // micro-batches; counts only (countDistinct is Complete-mode
    // collect_set in W1's pattern, already proven there)
    val rows = graft.sources.Tables.events(spark, sf)
      .select($"ts", $"user_id").as[(Timestamp, Long)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(window($"ts", "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("event_ct"),
          size(collect_set($"user_id")).cast("long").as("user_ct"))
        .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("win_start"),
          $"event_ct", $"user_ct")
    val mem = MemoryStream[(Timestamp, Long)](spark)
    val q = agg(mem.toDS().toDF("ts", "user_id")).writeStream
      .format("memory").queryName("hop_stream")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("hop_stream")
        .as[(String, Long, Long)].collect().toSet
      val want = agg(rows.toSeq.toDF("ts", "user_id"))
        .as[(String, Long, Long)].collect().toSet
      assert(got.nonEmpty && got == want)
      // the hop doubles coverage: total window-event incidences = 2 × events
      assert(got.toSeq.map(_._2).sum == 2L * rows.length)
    } finally q.stop()
  }

  test("anomaly hours: streamed hourly counts + per-refresh z-scores == batch report") {
    import spark.implicits._
    import graft.operators.Analytic
    // the an_anomaly_hours monitor as a LIVE pipeline (r9 ask #7): the
    // corpus-sized work (hourly counts per event type) is a streaming
    // windowed agg maintained across micro-batches; each refresh then
    // recomputes the tiny moment/z-score report over the maintained
    // counts via the SAME production core (Analytic.anomalyOn). At
    // rest the report must equal the batch an_anomaly_hours output.
    val rows = graft.sources.Tables.events(spark, sf)
      .select($"event_type", $"ts").as[(String, Timestamp)].collect()
    val chunks = rows.grouped(math.max(1, rows.length / 3)).toSeq
    val mem = MemoryStream[(String, Timestamp)](spark)
    val hourly = mem.toDS().toDF("event_type", "ts")
      .groupBy($"event_type", window($"ts", "1 hour"))
      .agg(count(lit(1)).as("ct"))
      .select($"event_type",
        date_format($"window.start", "yyyy-MM-dd HH:00:00").as("hr"), $"ct")
    val q = hourly.writeStream.format("memory").queryName("anomaly_hourly")
      .outputMode(OutputMode.Complete).start()
    try {
      var refreshes = 0
      chunks.foreach { c =>
        mem.addData(c.toIndexedSeq); q.processAllAvailable()
        // per-refresh report over the maintained counts (the monitor's
        // read path); sanity: well-formed while data is still partial
        val partial = Analytic.anomalyOn(spark.table("anomaly_hourly"))
        assert(partial.filter($"sigma".isNull || $"z".isNull).count() == 0)
        refreshes += 1
      }
      assert(refreshes >= 3)
      val got = Analytic.anomalyOn(spark.table("anomaly_hourly"))
        .collect().map(_.toString).toSet
      val want = Analytic.anomalyHours(spark, sf)
        .collect().map(_.toString).toSet
      assert(want.nonEmpty && got == want,
        "streamed anomaly report at rest diverged from batch an_anomaly_hours")
    } finally q.stop()
  }
}
