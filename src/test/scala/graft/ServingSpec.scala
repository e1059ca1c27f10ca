package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.serving.{AdsStore, QueryServer, SugarApi}
import graft.streaming.LogStream

/** End-to-end checks for the REST serving shell (the reference's
  * Spring publisher surface on the JDK HttpServer): real HTTP round
  * trips against the live query library on sf0.001, plus renderer
  * unit pins for the four Sugar payload shapes.
  */
class ServingSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSession._

  private var server: QueryServer = _
  private var base: String = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    server = new QueryServer(spark, sf, port = 0)
    val port = server.start()
    base = s"http://127.0.0.1:$port"
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  private def get(path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** GET against a per-test second server (the store-binding tests
    * each run their own so binds can't shadow the shared server). */
  private def getAt(port: Int, path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  // ---------------------------------------------------- renderer pins

  test("renderer: series/pie/scalar/table shapes and quoting rules") {
    val fields = Array("dt", "ch", "uv_ct", "amt")
    val rows = Seq(
      Row("2024-01-01", "ch\"0", 6L, new java.math.BigDecimal("10.50")),
      Row("2024-01-01", "ch1", 2L, new java.math.BigDecimal("3.00")))
    // series: categories and data QUOTED (TrafficController.java:44-56)
    assert(SugarApi.render(
      SugarApi.SeriesChart("ch", Seq("uv_ct" -> "独立访客数")), fields, rows) ==
      """{"status":0,"msg":"","data":{"categories":["ch\"0","ch1"],""" +
        """"series":[{"name":"独立访客数","data":["6","2"]}]}}""")
    // legacy /ch series: BARE data (SugarController.java:85-88)
    assert(SugarApi.render(
      SugarApi.SeriesChart("ch", Seq("uv_ct" -> "日活"), quotedData = false),
      fields, rows) ==
      """{"status":0,"msg":"","data":{"categories":["ch\"0","ch1"],""" +
        """"series":[{"name":"日活","data":[6,2]}]}}""")
    // pie: bare numeric values (CommodityStatsController.java:102-110)
    assert(SugarApi.render(
      SugarApi.NameValue("ch", "amt"), fields, rows) ==
      """{"status":0,"msg":"","data":[{"name":"ch\"0","value":10.50},""" +
        """{"name":"ch1","value":3.00}]}""")
    // province map: the mapData/valueName wrapper (TradeController.java:108-116)
    assert(SugarApi.render(
      SugarApi.NameValue("ch", "uv_ct", mapName = Some("订单数")), fields, rows) ==
      """{"status":0,"msg":"","data":{"mapData":[{"name":"ch\"0","value":6},""" +
        """{"name":"ch1","value":2}],"valueName":"订单数"}}""")
    // scalar: one bare number (TradeController.java:29-34)
    assert(SugarApi.render(SugarApi.ScalarValue("uv_ct"), fields, rows) ==
      """{"status":0,"msg":"","data":6}""")
    // table: per-column output ids and quoting
    // (CommodityStatsController.java:43-66 quotes and renames;
    // TradeController.java:50-60 mixes quoted type with bare value)
    assert(SugarApi.render(
      SugarApi.TableShape(Seq(
        SugarApi.TableCol("ch", "channel", "类别", quoted = true),
        SugarApi.TableCol("uv_ct", "uv_ct", "独立访客数", quoted = false))),
      fields, rows) ==
      """{"status":0,"msg":"","data":{"columns":[{"name":"类别","id":"channel"},""" +
        """{"name":"独立访客数","id":"uv_ct"}],""" +
        """"rows":[{"channel":"ch\"0","uv_ct":6},{"channel":"ch1","uv_ct":2}]}}""")
    // empty slice -> empty body (the controllers' `return ""`) for
    // lists; the SCALAR renders the null value (TradeController.java:29-35)
    assert(SugarApi.render(SugarApi.NameValue("ch", "amt"), fields, Nil) == "")
    assert(SugarApi.render(SugarApi.ScalarValue("uv_ct"), fields, Nil) ==
      """{"status":0,"msg":"","data":null}""")
  }

  test("renderer: visitorPerHr zero-fills 24 bare-number hour buckets") {
    val fields = Array("dt", "hr", "uv_ct", "pv_ct", "new_uv_ct")
    val rows = Seq(Row("2024-01-01", 1L, 5L, 9L, 2L), Row("2024-01-01", 23L, 1L, 1L, 0L))
    val body = SugarApi.render(SugarApi.endpoints(
      "/gmall/realtime/traffic/visitorPerHr").shape, fields, rows)
    // TrafficController.java:423-446: categories always 00..23, data
    // bare and zero-filled per missing hour
    assert(body.contains(""""categories":["00","01","02"""))
    assert(body.contains(""""name":"独立访客数","data":[0,5,0"""))
    // hour 23's uv=1 lands in the last bucket of the first series
    assert(body.contains("""0,1]},{"name":"页面浏览数""""))
    assert("\"data\":\\[".r.findAllIn(body).size == 3)
    assert(!body.contains("\"5\""), "hour series data must be bare")
  }

  test("renderer: visitorPerType pivots to the reference's 5-metric table with derived ratios") {
    val fields = Array("dt", "is_new", "uv_ct", "pv_ct", "sv_ct", "uj_ct", "dur_sum")
    val rows = Seq(
      Row("2024-01-01", "1", 10L, 40L, 20L, 5L, 100000L),
      Row("2024-01-01", "0", 6L, 12L, 4L, 1L, 8000L))
    val body = SugarApi.render(SugarApi.VisitorTypePivot, fields, rows)
    // TrafficController.java:385-410 + TrafficVisitorTypeStats.java:
    // ujRate = uj/sv, avgDur = dur/sv/1000, avgPv = pv/sv
    assert(body ==
      """{"status":0,"data":{"total":5,"columns":[{"name":"类别","id":"type"},""" +
        """{"name":"新访客","id":"new"},{"name":"老访客","id":"old"}],"rows":[""" +
        """{"type":"访客数(人)","new":10,"old":6},""" +
        """{"type":"总访问页面数(次)","new":40,"old":12},""" +
        """{"type":"跳出率(%)","new":0.25,"old":0.25},""" +
        """{"type":"平均在线时长(秒)","new":5.0,"old":2.0},""" +
        """{"type":"平均访问页面数(人次)","new":2.0,"old":3.0}]}}""")
    // a missing visitor class zero-fills instead of the reference's
    // NPE (documented divergence)
    val one = SugarApi.render(SugarApi.VisitorTypePivot, fields, rows.take(1))
    assert(one.contains(""""new":10,"old":0"""))
  }

  // ------------------------------------------------- HTTP round trips

  test("uvCt endpoint == renderer over the query's day slice (explicit date)") {
    val df = SparkEntry.queries("ads_traffic_uv_ct")(spark, sf)
    val fields = df.schema.fieldNames
    val rows = df.collect().toSeq
    val day = rows.map(_.get(0).toString).min // any present day; use the first
    val expected = SugarApi.render(
      SugarApi.endpoints("/gmall/realtime/traffic/uvCt").shape,
      fields, rows.filter(_.get(0).toString == day))
    val (code, body) = get(s"/gmall/realtime/traffic/uvCt?date=$day")
    assert(code == 200 && body == expected)
    assert(body.contains("\"categories\"") && body.contains("独立访客数"))
  }

  test("trade/total defaults to the LATEST day (the DateUtil.now analog)") {
    val rows = SparkEntry.queries("ads_trade_total_amount")(spark, sf).collect()
    val latest = rows.map(_.get(0).toString).max
    val expectRow = rows.filter(_.get(0).toString == latest).head
    val (code, body) = get("/gmall/realtime/trade/total")
    assert(code == 200)
    assert(body == s"""{"status":0,"msg":"","data":${SugarApi.valueJson(expectRow.get(1))}}""")
  }

  test("all 23 sugar endpoints (incl. legacy /api/sugar) serve 200 with a non-empty default-day payload") {
    assert(SugarApi.endpoints.size == 23)
    SugarApi.endpoints.keys.foreach { route =>
      val (code, body) = get(route)
      assert(code == 200, s"$route -> $code")
      assert(body.startsWith("""{"status":0"""), s"$route empty/err: ${body.take(80)}")
    }
  }

  test("empty explicit day: lists return the empty body, scalars data:null; yyyyMMdd accepted") {
    // a day no fixture contains
    assert(get("/gmall/realtime/traffic/uvCt?date=1900-01-01") == ((200, "")))
    assert(get("/gmall/realtime/commodity/trademark?date=1900-01-01") == ((200, "")))
    assert(get("/gmall/realtime/trade/total?date=1900-01-01")._2 ==
      """{"status":0,"msg":"","data":null}""")
    assert(get("/api/sugar/gmv?date=1900-01-01")._2 ==
      """{"status":0,"msg":"","data":null}""")
    // the reference's integer date form (DateUtil.now yyyyMMdd) slices
    // the same day as the native yyyy-MM-dd
    val rows = SparkEntry.queries("ads_trade_total_amount")(spark, sf).collect()
    val day = rows.map(_.get(0).toString).max
    val compact = day.replace("-", "")
    assert(get(s"/gmall/realtime/trade/total?date=$compact")._2 ==
      get(s"/gmall/realtime/trade/total?date=$day")._2)
  }

  test("generic /api/query/<name> serves records; unknown routes 404") {
    val n = SparkEntry.queries("ads_topk_brand")(spark, sf).count()
    val (code, body) = get("/api/query/ads_topk_brand")
    assert(code == 200)
    assert(body.contains(""""query":"ads_topk_brand""""))
    assert("\"p_brand\":".r.findAllIn(body).size == n.toInt)
    assert(get("/api/query/no_such_query")._1 == 404)
    assert(get("/no/such/route")._1 == 404)
  }

  test("limit slices the one cached plan-side-capped collect") {
    val (code, body) = get("/api/query/ads_gmv?limit=3")
    assert(code == 200)
    assert("\"gmv\":".r.findAllIn(body).size == 3)
  }

  test("limit hygiene: bad limits 400, huge limits clamp, smaller limits share the cache") {
    assert(get("/api/query/ads_gmv?limit=abc")._1 == 400)
    assert(get("/api/query/ads_gmv?limit=0")._1 == 400)
    assert(get("/api/query/ads_gmv?limit=-5")._1 == 400)
    // Int.MaxValue must NOT disable the limit (the driver-safety cap):
    // ads_gmv has ~1k rows at this SF, well under the cap, so the
    // clamped request returns them all
    val n = SparkEntry.queries("ads_gmv")(spark, sf).count().toInt
    val (code, body) = get("/api/query/ads_gmv?limit=2147483647")
    assert(code == 200 && "\"gmv\":".r.findAllIn(body).size == n)
    // a smaller limit is a prefix of the same cached collect (same
    // leading row, no extra Spark job needed for the slice)
    val first = get("/api/query/ads_gmv?limit=1")._2
    assert(body.startsWith(first.stripSuffix("]}")), "limit=1 is not a prefix of the full result")
  }

  // ------------------------- streaming-maintained ADS store --------

  /** The /api/query rows payload for a frame, via the server's own
    * renderer rules — the expected-body builder for store parity. */
  private def apiRows(df: DataFrame): String = {
    val fields = df.schema.fieldNames
    df.collect().map { r =>
      fields.indices.map(i =>
        s""""${SugarApi.jsonEscape(fields(i))}":${SugarApi.valueJson(r.get(i))}""")
        .mkString("{", ",", "}")
    }.mkString("[", ",", "]")
  }

  test("foreachBatch-maintained ADS store: each micro-batch publish is visible over HTTP and == batch recompute") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("ads_store_src").toString
    val rawDir = Files.createTempDirectory("ads_store_raw").toString + "/raw"
    val root = Files.createTempDirectory("ads_store").toString + "/gmv"

    // a second server so binding ads_gmv can't shadow the shared
    // server's batch ads_gmv for the other cases
    val live = new QueryServer(spark, sf, port = 0)
    val livePort = live.start()
    def getLive(path: String): (Int, String) = getAt(livePort, path)
    try {
      live.bindStore("ads_gmv_live", root) // store-only name (not in the batch library)
      live.bindStore("ads_gmv", root)      // shadows the sugar route's query
      // bound but nothing committed yet: empty, not 500
      assert(getLive("/api/query/ads_gmv_live") == ((200,
        """{"status":0,"msg":"","query":"ads_gmv_live","rows":[]}""")))
      // empty-day SCALAR contract: the controller renders the null value
      assert(getLive("/api/sugar/gmv")._2 == """{"status":0,"msg":"","data":null}""")

      // the maintained ADS: GMV per dt over the accumulated envelope —
      // the ads_gmv payload shape (dt, gmv DOUBLE), DECIMAL inside
      def gmvOf(env: DataFrame): DataFrame =
        LogStream.cdcSlice(env, "order_info", Seq("insert"))
          .select(substring(col("data")("create_time"), 1, 10).as("dt"),
            col("data")("total_amount").cast(DecimalType(18, 2)).as("amt"))
          .groupBy(col("dt"))
          .agg(sum(col("amt")).cast(DoubleType).as("gmv"))
          .orderBy(col("dt"))

      def line(id: Int, amt: String, day: String, t: Long) =
        s"""{"database":"g","table":"order_info","type":"insert","data":{"id":"$id","total_amount":"$amt","create_time":"$day 00:00:00","order_status":"1001"},"ts":$t}"""
      val batches = Seq(
        Seq(line(1, "10.00", "2024-01-01", 1000), line(2, "5.00", "2024-01-01", 1001)),
        Seq(line(3, "7.50", "2024-01-02", 2000)),
        Seq(line(4, "2.25", "2024-01-01", 3000)))

      val q = spark.readStream.option("maxFilesPerTrigger", "1").text(srcDir)
        .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
          b.write.mode("append").parquet(rawDir) // the DWD store
          AdsStore.publish( // the K4/K5 publish
            gmvOf(LogStream.maxwellEnvelope(spark.read.parquet(rawDir))), root, id)
          ()
        }.start()
      val seen = ArrayBuffer.empty[String]
      try {
        batches.zipWithIndex.foreach { case (ls, i) =>
          Files.write(Paths.get(srcDir, f"b-$i%02d.jsonl"), ls.mkString("\n").getBytes("UTF-8"))
          q.processAllAvailable()
          val want = gmvOf(LogStream.maxwellEnvelope(
            batches.take(i + 1).flatten.toDF("value")))
          val body = getLive("/api/query/ads_gmv_live")._2
          assert(body ==
            s"""{"status":0,"msg":"","query":"ads_gmv_live","rows":${apiRows(want)}}""",
            s"batch $i: HTTP != batch recompute")
          seen += body
          // the sugar route serves the store's latest-day scalar
          val latestGmv = want.orderBy(col("dt").desc).head().getDouble(1)
          assert(getLive("/api/sugar/gmv")._2 ==
            s"""{"status":0,"msg":"","data":$latestGmv}""")
        }
      } finally q.stop()
      assert(seen.distinct.size == batches.size,
        "micro-batch publishes were not individually visible over HTTP")
      // only the newest `keep` versions survive pruning
      assert(AdsStore.versions(spark, root).size <= 2)
      // restart semantics: re-publishing an OLD version number (a
      // fresh checkpoint resets batchIds to 0) must never rewrite a
      // committed dir in place — it lands as latest+1, readers advance
      val restartFrame = gmvOf(LogStream.maxwellEnvelope(batches.head.toDF("value")))
      val vNew = AdsStore.publish(restartFrame, root, 0)
      assert(vNew > 2 && AdsStore.versions(spark, root).max == vNew,
        s"re-publish landed at $vNew instead of a strictly newer version")
      assert(getLive("/api/query/ads_gmv_live")._2 ==
        s"""{"status":0,"msg":"","query":"ads_gmv_live","rows":${apiRows(restartFrame)}}""",
        "HTTP did not advance to the re-published store")
      // the prune must only ever touch numeric v=<long> dirs it wrote
      // itself: a foreign "v=..." name next to the versions survives
      val foreign = Paths.get(root, "v=backup")
      // v=007 PARSES as 7 but is not the canonical form this class
      // writes — it must be neither pruned nor listed as version 7
      val nonCanon = Paths.get(root, "v=007")
      Seq(foreign, nonCanon).foreach { d =>
        Files.createDirectories(d)
        Files.write(d.resolve("keep.txt"), "precious".getBytes("UTF-8"))
      }
      Files.write(nonCanon.resolve("_SUCCESS"), Array.empty[Byte])
      AdsStore.publish(restartFrame, root, 99)
      assert(Files.exists(foreign.resolve("keep.txt")) &&
        Files.exists(nonCanon.resolve("keep.txt")),
        "publish pruning deleted a foreign v= directory it never wrote")
      assert(!AdsStore.versions(spark, root).contains(7L),
        "a non-canonical v=007 dir was listed as version 7")
      // re-binding the name to a DIFFERENT store root must serve the
      // new root immediately (stale per-root cache entries evicted)
      val root2 = Files.createTempDirectory("gmv_store2").toString + "/ads_gmv2"
      val other = gmvOf(LogStream.maxwellEnvelope(batches(1).toDF("value")))
      AdsStore.publish(other, root2, 0)
      live.bindStore("ads_gmv_live", root2)
      assert(getLive("/api/query/ads_gmv_live")._2 ==
        s"""{"status":0,"msg":"","query":"ads_gmv_live","rows":${apiRows(other)}}""",
        "rebind did not switch serving to the new store root")
    } finally live.stop()
  }

  test("streamed appends maintain the shard pack through AdsStore: splice per batch, HTTP reflects each version, == one-shot") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Curation
    val root = Files.createTempDirectory("pack_store").toString + "/pack"
    val live = new QueryServer(spark, sf, port = 0)
    val livePort = live.start()
    def getLive(path: String): String = getAt(livePort, path)._2
    try {
      live.bindStore("ads_pack_live", root)
      def words(id: Long, n: Int) = (0 until n).map(i => s"w${id}_$i").mkString(" ")
      // append-only: ids strictly increase across batches; sizes span
      // shard boundaries so the splice's shard continuation is exercised
      val batches: Seq[Seq[(Long, String)]] = Seq(
        Seq((1L, words(1, 700)), (2L, words(2, 900))),
        Seq((5L, words(5, 1200))),
        Seq((7L, words(7, 300)), (9L, words(9, 2500))))
      val ms = MemoryStream[(Long, String)](spark)
      val emptyPack = Curation.packShardsOn(Seq.empty[(Long, String)].toDF("doc_id", "text"))
      val q = ms.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          // production shape: the previous pack comes from the STORE
          // (restart-safe), the delta is spliced in O(|delta|), the
          // result published as the next version
          val base = AdsStore.read(spark, root).map(_._2).getOrElse(emptyPack)
          val packed = Curation.packSplice(
              base.select("doc_id", "tok_ct", "tok_offset", "shard_id"), b)
            .drop("carried").orderBy("doc_id").coalesce(1)
          AdsStore.publish(packed, root, id)
          ()
        }.start()
      try {
        batches.zipWithIndex.foreach { case (rows, i) =>
          ms.addData(rows)
          q.processAllAvailable()
          val accum = batches.take(i + 1).flatten.toDF("doc_id", "text")
          val want = Curation.packShardsOn(accum).orderBy("doc_id")
          assert(getLive("/api/query/ads_pack_live") ==
            s"""{"status":0,"msg":"","query":"ads_pack_live","rows":${apiRows(want)}}""",
            s"batch $i: served pack != one-shot recompute over the accumulated corpus")
        }
      } finally q.stop()
    } finally live.stop()
  }

  test("user erasure propagates to serving: anti-join rewrite republished, victim vanishes over HTTP") {
    import graft.operators.Governance
    import graft.sources.Tables
    val root = Files.createTempDirectory("erasure_store").toString + "/user_ads"
    val live = new QueryServer(spark, sf, port = 0)
    val livePort = live.start()
    def getLive(path: String): String = getAt(livePort, path)._2
    try {
      live.bindStore("ads_user_orders_live", root)
      // a user-keyed ADS frame (per-user order counts) — the serving
      // surface an erasure request must reach
      val ads = Tables.orders(spark, sf)
        .groupBy(col("o_custkey").cast("long").as("user_id"))
        .agg(count(lit(1)).as("order_ct"))
        .orderBy(col("user_id"))
      AdsStore.publish(ads, root, 0)
      val v = Governance.victims(spark, sf)
      // a victim who actually has served rows
      val gone = ads.join(v, ads("user_id") === v("uid")).select("user_id")
        .head().getLong(0)
      val before = getLive("/api/query/ads_user_orders_live?limit=10000")
      assert(before.contains(s""""user_id":$gone,"""), "victim not served before erasure")

      // the erasure rewrite job (the Governance scaladoc's shape:
      // broadcast victim set, anti-join probe), republished as v1
      val erased = ads.join(broadcast(v), ads("user_id") === v("uid"), "left_anti")
      AdsStore.publish(erased, root, 1)
      val after = getLive("/api/query/ads_user_orders_live?limit=10000")
      assert(!after.contains(s""""user_id":$gone,"""), "victim still served after erasure")
      // non-victims unchanged: the after-body is the before-body minus
      // exactly the victim rows
      val victimIds = ads.join(broadcast(v), ads("user_id") === v("uid"))
        .select("user_id").collect().map(_.getLong(0)).toSet
      val rowRe = """\{"user_id":(\d+),"order_ct":\d+\}""".r
      val beforeRows = rowRe.findAllMatchIn(before).map(_.matched).toSeq
      val afterRows = rowRe.findAllMatchIn(after).map(_.matched).toSeq
      assert(afterRows == beforeRows.filterNot(r =>
        victimIds.contains(rowRe.findFirstMatchIn(r).get.group(1).toLong)),
        "erasure touched non-victim rows or left residue")
    } finally live.stop()
  }

  // ------------------------------------------------ dashboard prefetch
  // These run after "all 23 sugar endpoints": every slot of the shared
  // server is filled by then, so its prefetch threads start no more
  // jobs and any active job belongs to the server under test.

  private def prefetchThreads(srv: QueryServer): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(srv.prefetchGroup))

  private def awaitUntil(what: String)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + 300L * 1000000000L
    while (!done) {
      assert(System.nanoTime() < deadline, s"timed out waiting for $what")
      Thread.sleep(100)
    }
  }

  private val sugarQueries = SugarApi.endpoints.values.map(_.query).toSeq.distinct.sorted

  test("first sugar request prefetches every other unbound sugar query, each collected exactly once; stop() joins") {
    // a fresh session: its own memo frames and its own execution
    // listeners, so every collect counted here is this server's
    val fresh = spark.newSession()
    val collects = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    fresh.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") collects.add(qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })

    val bound = "ads_gmv"
    val unbound = sugarQueries.filterNot(_ == bound)
    val srv = new QueryServer(fresh, sf, port = 0)
    val port = srv.start()
    try {
      // bound before the first request; nothing published yet
      srv.bindStore(bound, Files.createTempDirectory("prefetch_store").toString + "/gmv")
      // a server that has answered only /api/query starts no prefetch thread
      assert(getAt(port, s"/api/query/$bound")._1 == 200)
      assert(prefetchThreads(srv).isEmpty, "prefetch threads started before any sugar request")
      assert(getAt(port, "/gmall/realtime/trade/total")._1 == 200)
      // no further requests: the prefetch threads alone collect the rest
      awaitUntil("the prefetch threads to collect every unbound sugar query") {
        Bench.drain(spark.sparkContext); collects.size >= unbound.size
      }
      assert(unbound.map(q => s"sugar:$q").toSet.subsetOf(srv.cachedKeys))
      assert(!srv.cachedKeys.exists(_.startsWith(s"sugar:$bound")), "a bound name was prefetched")
    } finally srv.stop()
    Bench.drain(spark.sparkContext)
    // attribute each collect to its query by plan and output names
    // (ads_gmv and ads_trade_total_amount differ only in a column
    // name); every memo frame exists by now, so planning builds nothing
    val plans = sugarQueries.map(q => q -> SparkEntry.queries(q)(fresh, sf).queryExecution.analyzed)
    def same(a: LogicalPlan, b: LogicalPlan) = a.sameResult(b) && a.schema == b.schema
    for ((q, p) <- plans; (q2, p2) <- plans if q < q2)
      assert(!same(p, p2), s"$q and $q2 plan alike; collects can't be told apart")
    val got = collects.asScala.toSeq
    for ((q, p) <- plans) {
      val n = got.count(same(_, p))
      assert(n == (if (q == bound) 0 else 1), s"$q collected $n times")
    }
    assert(got.size == unbound.size, s"${got.size} collects for ${unbound.size} queries")
    assert(prefetchThreads(srv).isEmpty, "prefetch threads outlived stop()")
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty, "a Spark job outlived stop()")
  }

  test("stop() with prefetches in flight cancels them and joins: no job or thread outlives it") {
    val srv = new QueryServer(spark.newSession(), sf, port = 0) // cold memo: builds in flight
    val port = srv.start()
    assert(getAt(port, "/gmall/realtime/traffic/uvCt")._1 == 200)
    srv.stop()
    assert(prefetchThreads(srv).isEmpty, "prefetch threads outlived stop()")
    Bench.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty, "a Spark job outlived stop()")
  }

  test("a failed prefetch caches nothing: its route recomputes and answers the same 500 as a first-hand failure") {
    // events only: the traffic queries run, every order-side query
    // fails on its missing tables
    val partial = Files.createTempDirectory("prefetch_partial")
    Files.createSymbolicLink(partial.resolve("events.parquet"), Paths.get(sf, "events.parquet"))
    val dir = partial.toString
    val outcome = sugarQueries.map(q =>
      q -> Try(SparkEntry.queries(q)(spark, dir).collect()).failed.toOption.map(_.getMessage)).toMap
    assert(outcome.values.exists(_.isEmpty) && outcome.values.exists(_.nonEmpty),
      s"fixture must mix passing and failing queries: $outcome")
    val srv = new QueryServer(spark, dir, port = 0)
    val port = srv.start()
    try {
      val first = SugarApi.endpoints.collectFirst { case (r, e) if outcome(e.query).nonEmpty => r }.get
      assert(getAt(port, first)._1 == 500)
      // every other query's prefetch has started before the routes are
      // read; a route whose prefetch is still running waits for it
      awaitUntil("every prefetch to start")(
        sugarQueries.forall(q => srv.cachedKeys.contains(s"sugar:$q")))
      SugarApi.endpoints.foreach { case (route, e) =>
        outcome(e.query) match {
          case Some(msg) =>
            assert(getAt(port, route) ==
              ((500, s"""{"status":1,"msg":"${SugarApi.jsonEscape(msg)}"}""")), route)
          case None =>
            assert(getAt(port, route) == get(route), s"$route differs from the full fixture's")
        }
      }
    } finally srv.stop()
  }
}
