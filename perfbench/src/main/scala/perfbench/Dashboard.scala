package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators.{GmallDwd, GmallDws}
import graft.serving.{AdsStore, QueryServer, SugarApi}

/** A closed-loop HTTP client: one request in flight, one kept-alive
  * connection. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(150)).GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }
}

/** `dashboard_refresh`: a fresh session and a fresh QueryServer; one
  * client GETs every Sugar route once, in seed-permuted order. Every
  * route is answered from raw parquet: sources → ODS → DWD → DWS → ADS
  * plus the memo builds, then serving's shaping. */
object Dashboard {
  import Main._

  /** The memoized frames the Sugar routes read, by layer, in dependency
    * order. The traced run builds them through these public calls
    * before the first request, so each layer's span holds that layer's
    * own work and the route spans hold only the ADS queries and their
    * shaping. Source reads have no span of their own: they run inside
    * these builds and the ADS queries, and the listener counts their
    * bytes and scan time there. (The CDC envelope feeds only the `_cdc`
    * ADS variants, which no route serves, so it is not on this path.) */
  val odsBuilds: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Any)] = Seq(
    "page_log" -> GmallDwd.pageLog)
  val dwdBuilds: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Any)] = Seq(
    "order_wide" -> GmallDwd.orderWide, "orders_enriched" -> GmallDwd.ordersEnriched)
  val dwsBuilds: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Any)] = Seq(
    "traffic_channel" -> GmallDws.trafficChannel, "traffic_keyword" -> GmallDws.trafficKeyword,
    "traffic_home_detail" -> GmallDws.trafficHomeDetail, "user_login" -> GmallDws.userLogin,
    "user_register" -> GmallDws.userRegister, "trade_cart_add_uu" -> GmallDws.tradeCartAddUu,
    "trade_order" -> GmallDws.tradeOrder, "trade_payment_suc" -> GmallDws.tradePaymentSuc,
    "trade_province_order" -> GmallDws.tradeProvinceOrder,
    "trade_tm_cat_user_spu_order" -> GmallDws.tradeTmCatUserSpuOrder,
    "trade_tm_cat_user_refund" -> GmallDws.tradeTmCatUserRefund)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val server = new QueryServer(spark, data)
    val http = new Http(server.start())
    val routes = rng.shuffle(SugarApi.endpoints.keys.toSeq.sorted)
    ready()
    val t0 = System.nanoTime()
    if (tracer.enabled)
      for ((layer, builds) <- Seq("ods" -> odsBuilds, "dwd" -> dwdBuilds, "dws" -> dwsBuilds))
        tracer.span(layer, layer) {
          builds.foreach { case (n, f) => tracer.span(s"$layer.$n", layer)(f(spark, data)) }
        }
    val memoBefore = spark.sparkContext.getRDDStorageInfo.length
    val done = routes.map { r =>
      val s = System.nanoTime()
      val (code, body) = tracer.span(r, "serving")(http.get(r))
      val e = System.nanoTime()
      (r, code, sha256(body), (e - s) / 1e6, (e - t0) / 1e6)
    }
    val coldS = (System.nanoTime() - t0) / 1e9
    server.stop()
    val traced = if (!tracer.enabled) Map.empty[String, Double] else {
      // rows of the layer frames, counted after the timed pass
      val rows = Map("ods.page_log_rows" -> GmallDwd.pageLog(spark, data).count().toDouble)
      rows ++ Map("memo.built_in_routes" ->
        (spark.sparkContext.getRDDStorageInfo.length - memoBefore).toDouble)
    }
    val failed = done.count(_._2 != 200)
    Outcome(
      metrics = Map(
        "cold_s" -> coldS,
        // the viewer waits for the whole result: every item's freshness is
        // the full pass (per-item times depend on the seed's order)
        "freshness_p50_ms" -> coldS * 1000, "freshness_p90_ms" -> coldS * 1000) ++ traced,
      detail = Map("routes" -> done.map { case (r, c, h, ms, at) =>
        Map("route" -> r, "status" -> c, "sha256" -> h, "ms" -> ms, "done_ms" -> at)
      }),
      attempted = done.size, failed = failed)
  }

  /** Expected-body generation: serve every route from the DuckDB
    * oracle's frame instead of the engine's. `frames=<dir>` holds one
    * parquet directory per ADS query (the oracle result, in its ORDER
    * BY); each is cast to the engine query's schema, published as an
    * AdsStore version and bound, so the route renders the oracle's rows
    * through the production shaping code. The engine's own frames are
    * written beside them for the generator's frame check. */
  def render(ctx: Ctx): Outcome = {
    import ctx._
    val frames = opt("frames")
    val server = new QueryServer(spark, data)
    val http = new Http(server.start())
    val queries = SugarApi.endpoints.values.map(_.query).toSeq.distinct.sorted
    queries.foreach { q =>
      val engine = SparkEntry.queries(q)(spark, data)
      engine.coalesce(1).write.mode("overwrite").parquet(s"$work/engine/$q")
      val oracle = spark.read.parquet(s"$frames/$q")
        .select(engine.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      AdsStore.publish(oracle.coalesce(1), s"$work/store/$q", 1L)
      server.bindStore(q, s"$work/store/$q")
    }
    ready()
    val done = SugarApi.endpoints.keys.toSeq.sorted.map { r =>
      val (code, body) = http.get(r)
      Map("route" -> r, "status" -> code, "sha256" -> sha256(body))
    }
    server.stop()
    Outcome(Map.empty, Map("routes" -> done), done.size, done.count(_("status") != 200))
  }
}
