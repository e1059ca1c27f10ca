package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import GmallDws._

/** ADS layer: every publisher mapper query (SURVEY.md §2.9 K5), ported
  * dialect-for-dialect (ClickHouse → Spark SQL): `toYYYYMMDD(stt)` →
  * group by `dt = substr(stt,1,10)`, `toHour` → `substr(stt,12,2)`,
  * `multiIf` → CASE WHEN, `toFloat64` → CAST AS DOUBLE.
  *
  * The reference's mappers filter a single #{date}; here `dt` is a
  * group key instead so one deterministic result covers every day.
  * ClickHouse fills full-outer-join gaps with type defaults, so
  * COALESCE(…, 0) reproduces the reference's observable output.
  *
  * Sources (file:line in /root/reference):
  *  - ActivityStatsMapper.java:10-17, CouponStatsMapper.java:10-17
  *  - CommodityStatsMapper.java:13-99 (4 queries)
  *  - TradeStatsMapper.java:12-51 (4)
  *  - TrafficChannelStatsMapper.java:11-49 (5)
  *  - TrafficKeywordsMapper.java:10-21
  *  - TrafficVisitorStatsMapper.java:11-31 (2)
  *  - UserStatsMapper.java:12-63 (3)
  *  - legacy GmvMapper.java:10-11, UvMapper.java:22-23
  */
object GmallAds {

  private def withDt(df: DataFrame): DataFrame =
    df.withColumn("dt", substring(col("stt"), 1, 10))
  private def ratio(num: Column, den: Column): Column =
    num.cast(DoubleType) / when(den === 0, lit(null)).otherwise(den).cast(DoubleType)

  /** ActivityStatsMapper.selectActivityStats */
  def activityStats(s: SparkSession, d: String): DataFrame =
    withDt(tradeOrder(s, d)).groupBy(col("dt"))
      .agg(
        sum(col("order_activity_reduce_amount")).as("ar"),
        sum(col("order_origin_total_amount")).as("ot"))
      .select(col("dt"),
        col("ar").cast(DoubleType).as("activity_reduce_amount"),
        col("ot").cast(DoubleType).as("origin_total_amount"),
        ratio(col("ar"), col("ot")).as("subsidy_rate"))
      .orderBy(col("dt"))

  /** CouponStatsMapper.selectCouponStats */
  def couponStats(s: SparkSession, d: String): DataFrame =
    withDt(tradeOrder(s, d)).groupBy(col("dt"))
      .agg(
        sum(col("order_coupon_reduce_amount")).as("cr"),
        sum(col("order_origin_total_amount")).as("ot"))
      .select(col("dt"),
        col("cr").cast(DoubleType).as("coupon_reduce_amount"),
        col("ot").cast(DoubleType).as("origin_total_amount"),
        ratio(col("cr"), col("ot")).as("coupon_subsidy_rate"))
      .orderBy(col("dt"))

  /** The order/refund union prepared for [[orderRefundByKey]]: both
    * sides tagged, the other side's measure columns typed-null so the
    * single aggregation's per-side sums and side-tagged countDistincts
    * reproduce the former full-outer join of two distinct-aggregates
    * exactly (sum ignores the other side's nulls; countDistinct over a
    * side-gated user column ignores the other side; a key present in
    * one side only gets the same COALESCE defaults ClickHouse's gap
    * fill produced). */
  private def orderRefundUnion(o: DataFrame, r: DataFrame): DataFrame = {
    val oc = o.schema("order_count").dataType
    val oa = o.schema("order_amount").dataType
    val rc = r.schema("refund_count").dataType
    o.withColumn("is_o", lit(true))
      .withColumn("refund_count", lit(null).cast(rc))
      .unionByName(
        r.withColumn("is_o", lit(false))
          .withColumn("order_count", lit(null).cast(oc))
          .withColumn("order_amount", lit(null).cast(oa)),
        allowMissingColumns = true)
  }

  /** One two-level aggregation over [[orderRefundUnion]] output by the
    * former full-outer join key. Replaces the old plan — two 2-shuffle
    * distinct-aggregations + a sort-merge full-outer (7 exchanges) —
    * with 2 shuffles total (guide §2.3/§2.4, §3: fewer shuffles, no
    * join). The per-side distinct user counts are NOT expressed as two
    * `countDistinct(when(side, user))` calls: two distinct-groups make
    * Spark Expand every union row ×3 before the first exchange
    * (measured: trademark 41→73 MB shuffled, category 131→181 MB).
    * Instead level 1 groups by (dt, keys, user_id) — map-side-combined,
    * no Expand — carrying per-side sums and per-side presence flags;
    * level 2 counts the flags, which equals the per-side distinct user
    * count exactly (`max(is_o)` over the user's rows = "has an order
    * row"; null users are excluded as countDistinct would). Dimension
    * NAME strings are the other half of the win: they used to ride
    * every user-proportional distinct-shuffle row as grouping keys;
    * callers re-attach them from a dim-bounded broadcast map
    * ([[sideNameMap]]). */
  private def orderRefundByKey(u: DataFrame, keys: Seq[String]): DataFrame = {
    val g = col("dt") +: keys.map(col)
    u.groupBy(g :+ col("user_id"): _*).agg(
        sum(col("order_count")).as("oc"),
        sum(col("order_amount")).as("oa"),
        sum(col("refund_count")).as("rc"),
        max(col("is_o")).as("any_o"),
        max(!col("is_o")).as("any_r"))
      .groupBy(g: _*).agg(
        sum(col("oc")).as("order_count"),
        count(when(col("any_o") && col("user_id").isNotNull, lit(1))).as("uu_count"),
        sum(col("oa")).as("order_amount"),
        sum(col("rc")).as("refund_count"),
        count(when(col("any_r") && col("user_id").isNotNull, lit(1))).as("refund_uu_count"))
  }

  /** Per-key order-side-first name map (the COALESCE(order-side name,
    * refund-side name) the full-outer projection used to compute).
    * Dim-bounded by construction — names are functionally dependent on
    * the dim id through the same broadcast dim chain on both sides —
    * so the map broadcasts at any corpus size.
    *
    * NON-NULL KEY INVARIANT (r17 verdict "latent semantic edge"): the
    * callers' re-attach `join(sideNameMap(...), keys)` is an
    * INNER join on plain equality, so a NULL dim id row would be
    * dropped where the old full-outer form kept it as an unmatched row
    * (`null === null` is false there too, so nulls surfaced separately
    * per side). Null dim ids cannot occur here: every key column is
    * produced by the upstream DWS joins against the dim tables
    * (trademark/category/spu ids are join keys of INNER dim joins), so
    * a row with a null key never reaches this aggregation. OdsToAdsSpec
    * ("ADS name re-attach: sideNameMap join keys are non-null …") pins
    * this on both commodity DWS frames at sf0.001 and sf0.01. The oracle
    * SQL pins the same inner-join-on-`=` semantics, so if a future
    * schema change ever introduced null keys, the hash gate would flag
    * BOTH engines' drift together rather than silently diverging. */
  private def sideNameMap(u: DataFrame, keys: Seq[String],
                          names: Seq[String]): DataFrame = {
    val exprs = names.map(n => coalesce(
      max(when(col("is_o"), col(n))), max(when(!col("is_o"), col(n)))).as(n))
    u.groupBy(keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** CommodityStatsMapper.selectTrademarkStats — order ⟗ refund per
    * trademark, as ONE union-tagged aggregation (r17: was a full-outer
    * join of two distinct-aggregates; see [[orderRefundByKey]] —
    * measured 40.9 MB → ~7 MB shuffle, same rows/hash vs the unchanged
    * oracle). */
  def trademarkStats(s: SparkSession, d: String): DataFrame = {
    val u = orderRefundUnion(
      withDt(tradeTmCatUserSpuOrder(s, d)), withDt(tradeTmCatUserRefund(s, d)))
    orderRefundByKey(u, Seq("trademark_id"))
      .join(sideNameMap(u, Seq("trademark_id"), Seq("trademark_name")), Seq("trademark_id"))
      .select(
        col("dt"),
        col("trademark_name"),
        coalesce(col("order_count"), lit(0L)).as("order_count"),
        coalesce(col("uu_count"), lit(0L)).as("uu_count"),
        coalesce(col("order_amount").cast(DoubleType), lit(0.0)).as("order_amount"),
        coalesce(col("refund_count"), lit(0L)).as("refund_count"),
        coalesce(col("refund_uu_count"), lit(0L)).as("refund_uu_count"))
      .orderBy(col("dt"), col("trademark_name"))
  }

  /** The all-CDC-lineage twin of [[trademarkStats]]: both sides consume
    * the envelope-derived CDC windows
    * ([[GmallDws.tradeTmCatUserSpuOrderCdc]] /
    * [[GmallDws.tradeTmCatUserRefundCdc]] — the reference's actual
    * topic dataflow) instead of the star-schema batch twins, so the
    * full DWD→DWS→ADS commodity path exists end-to-end on the CDC
    * lineage too. Same r17 union-tagged single-aggregation shape as
    * [[trademarkStats]]. */
  def trademarkStatsCdc(s: SparkSession, d: String): DataFrame = {
    val u = orderRefundUnion(
      withDt(GmallDws.tradeTmCatUserSpuOrderCdc(s, d)),
      withDt(GmallDws.tradeTmCatUserRefundCdc(s, d)))
    orderRefundByKey(u, Seq("trademark_id"))
      .join(sideNameMap(u, Seq("trademark_id"), Seq("trademark_name")), Seq("trademark_id"))
      .select(
        col("dt"),
        col("trademark_name"),
        coalesce(col("order_count"), lit(0L)).as("order_count"),
        coalesce(col("uu_count"), lit(0L)).as("uu_count"),
        coalesce(col("order_amount").cast(DoubleType), lit(0.0)).as("order_amount"),
        coalesce(col("refund_count"), lit(0L)).as("refund_count"),
        coalesce(col("refund_uu_count"), lit(0L)).as("refund_uu_count"))
      .orderBy(col("dt"), col("trademark_name"))
  }

  /** CommodityStatsMapper.selectTmOrderAmtPieGra */
  def trademarkOrderAmountPie(s: SparkSession, d: String): DataFrame =
    withDt(tradeTmCatUserSpuOrder(s, d))
      .groupBy(col("dt"), col("trademark_id"), col("trademark_name"))
      .agg(sum(col("order_amount")).cast(DoubleType).as("order_amount"))
      .select(col("dt"), col("trademark_name"), col("order_amount"))
      .orderBy(col("dt"), col("trademark_name"))

  /** CommodityStatsMapper.selectCategoryStats — order ⟗ refund per
    * category triple, as ONE union-tagged aggregation (r17: was a
    * full-outer join of two distinct-aggregates — the single biggest
    * shuffle in the whole bench at 131.5 MB written, because three
    * category NAME strings rode every user-proportional distinct row;
    * see [[orderRefundByKey]]). */
  def categoryStats(s: SparkSession, d: String): DataFrame = {
    val keys = Seq("category1_id", "category2_id", "category3_id")
    val names = Seq("category1_name", "category2_name", "category3_name")
    val u = orderRefundUnion(
      withDt(tradeTmCatUserSpuOrder(s, d)), withDt(tradeTmCatUserRefund(s, d)))
    orderRefundByKey(u, keys)
      .join(sideNameMap(u, keys, names), keys)
      .select(
        col("dt"),
        col("category1_name"),
        col("category2_name"),
        col("category3_name"),
        coalesce(col("order_count"), lit(0L)).as("order_count"),
        coalesce(col("uu_count"), lit(0L)).as("uu_count"),
        coalesce(col("order_amount").cast(DoubleType), lit(0.0)).as("order_amount"),
        coalesce(col("refund_count"), lit(0L)).as("refund_count"),
        coalesce(col("refund_uu_count"), lit(0L)).as("refund_uu_count"))
      .orderBy(col("dt"), col("category1_name"), col("category2_name"), col("category3_name"))
  }

  /** CommodityStatsMapper.selectSpuStats. r17: `spu_name` no longer
    * rides the user-proportional distinct-aggregation shuffles as a
    * grouping key — the aggregation groups by the id alone and the
    * name re-attaches from a dim-bounded broadcast map (same FD
    * argument as [[sideNameMap]]: the name reaches every row through
    * one broadcast dim chain, so it is functionally dependent on
    * `spu_id` and max() reads the carried value). */
  def spuStats(s: SparkSession, d: String): DataFrame = {
    val ow = withDt(tradeTmCatUserSpuOrder(s, d))
    val names = ow.groupBy(col("spu_id")).agg(max(col("spu_name")).as("spu_name"))
    ow.groupBy(col("dt"), col("spu_id"))
      .agg(sum(col("order_count")).as("order_count"),
        countDistinct(col("user_id")).as("uu_count"),
        sum(col("order_amount")).cast(DoubleType).as("order_amount"))
      .join(names, Seq("spu_id"))
      .select(col("dt"), col("spu_name"), col("order_count"), col("uu_count"), col("order_amount"))
      .orderBy(col("dt"), col("spu_name"))
  }

  /** TradeStatsMapper.selectTotalAmount */
  def tradeTotalAmount(s: SparkSession, d: String): DataFrame =
    withDt(tradeProvinceOrder(s, d)).groupBy(col("dt"))
      .agg(sum(col("order_amount")).cast(DoubleType).as("order_total_amount"))
      .orderBy(col("dt"))

  /** TradeStatsMapper.selectTradeStats — UNION ALL with literal tags.
    * r17: each source is aggregated ONCE (sum and countDistinct fused
    * into one grouped aggregation) and the two tagged rows per day are
    * unpivoted from that single result with `explode(map(...))` —
    * 4 aggregation passes (2 of them distinct, 2 shuffles each) become
    * 2, same rows out (guide §2.3 "aggregate before you shuffle" /
    * §2.4 shared exchange). */
  def tradeStats(s: SparkSession, d: String): DataFrame = {
    val o = withDt(tradeTmCatUserSpuOrder(s, d)).groupBy(col("dt"))
      .agg(sum(col("order_count")).as("oc"), countDistinct(col("user_id")).as("ou"))
      .select(col("dt"), explode(map(
        lit("下单数"), col("oc"), lit("下单人数"), col("ou"))).as(Seq("type", "value")))
    val r = withDt(tradeTmCatUserRefund(s, d)).groupBy(col("dt"))
      .agg(sum(col("refund_count")).as("rc"), countDistinct(col("user_id")).as("ru"))
      .select(col("dt"), explode(map(
        lit("退单数"), col("rc"), lit("退单人数"), col("ru"))).as(Seq("type", "value")))
    o.unionByName(r).orderBy(col("dt"), col("type"))
  }

  /** TradeStatsMapper.selectTradeProvinceOrderCt */
  def tradeProvinceOrderCt(s: SparkSession, d: String): DataFrame =
    withDt(tradeProvinceOrder(s, d))
      .groupBy(col("dt"), col("province_id"), col("province_name"))
      .agg(sum(col("order_count")).as("order_count"))
      .select(col("dt"), col("province_name"), col("order_count"))
      .orderBy(col("dt"), col("province_name"))

  /** TradeStatsMapper.selectTradeProvinceOrderAmount */
  def tradeProvinceOrderAmount(s: SparkSession, d: String): DataFrame =
    withDt(tradeProvinceOrder(s, d))
      .groupBy(col("dt"), col("province_id"), col("province_name"))
      .agg(sum(col("order_amount")).cast(DoubleType).as("order_amount"))
      .select(col("dt"), col("province_name"), col("order_amount"))
      .orderBy(col("dt"), col("province_name"))

  private def chAgg(s: SparkSession, d: String): DataFrame =
    withDt(trafficChannel(s, d)).groupBy(col("dt"), col("ch"))
      .agg(sum(col("uv_ct")).as("uv_ct"), sum(col("sv_ct")).as("sv_ct"),
        sum(col("pv_ct")).as("pv_ct"), sum(col("dur_sum")).as("dur_sum"),
        sum(col("uj_ct")).as("uj_ct"))

  /** TrafficChannelStatsMapper.selectUvCt */
  def trafficUvCt(s: SparkSession, d: String): DataFrame =
    chAgg(s, d).select(col("dt"), col("ch"), col("uv_ct"))
      .orderBy(col("dt"), col("uv_ct").desc, col("ch"))

  /** TrafficChannelStatsMapper.selectSvCt */
  def trafficSvCt(s: SparkSession, d: String): DataFrame =
    chAgg(s, d).select(col("dt"), col("ch"), col("sv_ct"))
      .orderBy(col("dt"), col("sv_ct").desc, col("ch"))

  /** TrafficChannelStatsMapper.selectPvPerSession */
  def trafficPvPerSession(s: SparkSession, d: String): DataFrame =
    chAgg(s, d).select(col("dt"), col("ch"), ratio(col("pv_ct"), col("sv_ct")).as("pv_per_session"))
      .orderBy(col("dt"), col("pv_per_session").desc, col("ch"))

  /** TrafficChannelStatsMapper.selectDurPerSession */
  def trafficDurPerSession(s: SparkSession, d: String): DataFrame =
    chAgg(s, d).select(col("dt"), col("ch"), ratio(col("dur_sum"), col("sv_ct")).as("dur_per_session"))
      .orderBy(col("dt"), col("dur_per_session").desc, col("ch"))

  /** TrafficChannelStatsMapper.selectUjRate */
  def trafficUjRate(s: SparkSession, d: String): DataFrame =
    chAgg(s, d).select(col("dt"), col("ch"), ratio(col("uj_ct"), col("sv_ct")).as("uj_rate"))
      .orderBy(col("dt"), col("uj_rate").desc, col("ch"))

  /** TrafficKeywordsMapper.selectKeywords — multiIf weighted score. */
  def trafficKeywords(s: SparkSession, d: String): DataFrame =
    withDt(trafficKeyword(s, d))
      .withColumn("w",
        when(col("source") === "SEARCH", 10L).when(col("source") === "ORDER", 5L)
          .when(col("source") === "CART", 2L).when(col("source") === "CLICK", 1L).otherwise(0L))
      .groupBy(col("dt"), col("keyword"))
      .agg(sum(col("keyword_count") * col("w")).as("keyword_score"))
      .orderBy(col("dt"), col("keyword_score").desc, col("keyword"))

  /** TrafficVisitorStatsMapper.selectVisitorTypeStats */
  def visitorTypeStats(s: SparkSession, d: String): DataFrame =
    withDt(trafficChannel(s, d)).groupBy(col("dt"), col("is_new"))
      .agg(sum(col("uv_ct")).as("uv_ct"), sum(col("pv_ct")).as("pv_ct"),
        sum(col("sv_ct")).as("sv_ct"), sum(col("uj_ct")).as("uj_ct"),
        sum(col("dur_sum")).as("dur_sum"))
      .orderBy(col("dt"), col("is_new"))

  /** TrafficVisitorStatsMapper.selectVisitorStatsPerHr — toHour(stt) buckets. */
  def visitorStatsPerHour(s: SparkSession, d: String): DataFrame =
    withDt(trafficChannel(s, d))
      .withColumn("hr", substring(col("stt"), 12, 2).cast(LongType))
      .groupBy(col("dt"), col("hr"))
      .agg(sum(col("uv_ct")).as("uv_ct"), sum(col("pv_ct")).as("pv_ct"),
        sum(when(col("is_new") === "1", col("uv_ct")).otherwise(lit(0L))).as("new_uv_ct"))
      .orderBy(col("dt"), col("hr"))

  /** UserStatsMapper.selectUvByPage — 5-way UNION ALL across DWS tables. */
  def uvByPage(s: SparkSession, d: String): DataFrame = {
    val hd = withDt(trafficHomeDetail(s, d)).groupBy(col("dt"))
      .agg(sum(col("home_uv_ct")).as("home"), sum(col("good_detail_uv_ct")).as("gd"))
    val home = hd.select(col("dt"), lit("home").as("page_id"), col("home").as("uv_ct"))
    val gd = hd.select(col("dt"), lit("good_detail").as("page_id"), col("gd").as("uv_ct"))
    val cart = withDt(tradeCartAddUu(s, d)).groupBy(col("dt"))
      .agg(sum(col("cart_add_uu_ct")).as("uv_ct"))
      .select(col("dt"), lit("cart").as("page_id"), col("uv_ct"))
    val trade = withDt(tradeOrder(s, d)).groupBy(col("dt"))
      .agg(sum(col("order_unique_user_count")).as("uv_ct"))
      .select(col("dt"), lit("trade").as("page_id"), col("uv_ct"))
    val pay = withDt(tradePaymentSuc(s, d)).groupBy(col("dt"))
      .agg(sum(col("payment_suc_unique_user_count")).as("uv_ct"))
      .select(col("dt"), lit("payment").as("page_id"), col("uv_ct"))
    home.unionByName(gd).unionByName(cart).unionByName(trade).unionByName(pay)
      .orderBy(col("dt"), col("page_id"))
  }

  /** UserStatsMapper.selectUserChangeCtPerType */
  def userChangePerType(s: SparkSession, d: String): DataFrame = {
    val login = withDt(userLogin(s, d)).groupBy(col("dt"))
      .agg(sum(col("back_ct")).as("back"), sum(col("uu_ct")).as("uu"))
    val a = login.select(col("dt"), lit("backCt").as("type"), col("back").as("value"))
    val b = login.select(col("dt"), lit("activeUserCt").as("type"), col("uu").as("value"))
    val c = withDt(userRegister(s, d)).groupBy(col("dt"))
      .agg(sum(col("register_ct")).as("value"))
      .select(col("dt"), lit("newUserCt").as("type"), col("value"))
    a.unionByName(b).unionByName(c).orderBy(col("dt"), col("type"))
  }

  /** UserStatsMapper.selectTradeUserCt */
  def tradeUserCt(s: SparkSession, d: String): DataFrame = {
    val a = withDt(tradeOrder(s, d)).groupBy(col("dt"))
      .agg(sum(col("order_new_user_count")).as("new_user_count"))
      .select(col("dt"), lit("order").as("trade_type"), col("new_user_count"))
    val b = withDt(tradePaymentSuc(s, d)).groupBy(col("dt"))
      .agg(sum(col("payment_suc_new_user_count")).as("new_user_count"))
      .select(col("dt"), lit("payment").as("trade_type"), col("new_user_count"))
    a.unionByName(b).orderBy(col("dt"), col("trade_type"))
  }

  /** legacy GmvMapper.selectGmv */
  def gmv(s: SparkSession, d: String): DataFrame =
    withDt(tradeProvinceOrder(s, d)).groupBy(col("dt"))
      .agg(sum(col("order_amount")).cast(DoubleType).as("gmv"))
      .orderBy(col("dt"))

  /** legacy UvMapper.selectUvByCh */
  def uvByChLegacy(s: SparkSession, d: String): DataFrame =
    chAgg(s, d).select(col("dt"), col("ch"), col("uv_ct").as("uv"), col("uj_ct").as("uj"))
      .orderBy(col("dt"), col("ch"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ads_activity_stats" -> activityStats,
    "ads_coupon_stats" -> couponStats,
    "ads_trademark_stats" -> trademarkStats,
    "ads_trademark_stats_cdc" -> trademarkStatsCdc,
    "ads_trademark_order_amount_pie" -> trademarkOrderAmountPie,
    "ads_category_stats" -> categoryStats,
    "ads_spu_stats" -> spuStats,
    "ads_trade_total_amount" -> tradeTotalAmount,
    "ads_trade_stats" -> tradeStats,
    "ads_trade_province_order_ct" -> tradeProvinceOrderCt,
    "ads_trade_province_order_amount" -> tradeProvinceOrderAmount,
    "ads_traffic_uv_ct" -> trafficUvCt,
    "ads_traffic_sv_ct" -> trafficSvCt,
    "ads_traffic_pv_per_session" -> trafficPvPerSession,
    "ads_traffic_dur_per_session" -> trafficDurPerSession,
    "ads_traffic_uj_rate" -> trafficUjRate,
    "ads_traffic_keywords" -> trafficKeywords,
    "ads_visitor_type_stats" -> visitorTypeStats,
    "ads_visitor_stats_per_hour" -> visitorStatsPerHour,
    "ads_uv_by_page" -> uvByPage,
    "ads_user_change_per_type" -> userChangePerType,
    "ads_trade_user_ct" -> tradeUserCt,
    "ads_gmv" -> gmv,
    "ads_uv_by_ch_legacy" -> uvByChLegacy)

  // ------------------------------ oracles --------------------------

  private def wPage(ctes: String, sel: String) =
    s"WITH ${GmallDwd.pageLogCte},\n$ctes\n$sel"
  private def wTrade(ctes: String, sel: String) =
    s"WITH ${GmallDwd.orderWideCte},\n${GmallDwd.ordersEnrichedCte},\n$ctes\n$sel"
  private def wAll(ctes: String, sel: String) =
    s"WITH ${GmallDwd.pageLogCte},\n${GmallDwd.orderWideCte},\n${GmallDwd.ordersEnrichedCte},\n$ctes\n$sel"

  val oracles: Map[String, String] = Map(
    "ads_activity_stats" -> wTrade(dws7Cte,
      """SELECT dt,
        | CAST(SUM(order_activity_reduce_amount) AS DOUBLE) AS activity_reduce_amount,
        | CAST(SUM(order_origin_total_amount) AS DOUBLE) AS origin_total_amount,
        | CAST(SUM(order_activity_reduce_amount) AS DOUBLE) / CAST(NULLIF(SUM(order_origin_total_amount), 0) AS DOUBLE) AS subsidy_rate
        |FROM dws_trade_order_window GROUP BY dt ORDER BY dt""".stripMargin),
    "ads_coupon_stats" -> wTrade(dws7Cte,
      """SELECT dt,
        | CAST(SUM(order_coupon_reduce_amount) AS DOUBLE) AS coupon_reduce_amount,
        | CAST(SUM(order_origin_total_amount) AS DOUBLE) AS origin_total_amount,
        | CAST(SUM(order_coupon_reduce_amount) AS DOUBLE) / CAST(NULLIF(SUM(order_origin_total_amount), 0) AS DOUBLE) AS coupon_subsidy_rate
        |FROM dws_trade_order_window GROUP BY dt ORDER BY dt""".stripMargin),
    "ads_trademark_stats" -> wTrade(s"$dws10Cte,\n$dws11Cte",
      """SELECT COALESCE(o.dt, r.dt) AS dt,
        | COALESCE(o.trademark_name, r.trademark_name) AS trademark_name,
        | COALESCE(o.order_count, 0) AS order_count,
        | COALESCE(o.uu_count, 0) AS uu_count,
        | COALESCE(CAST(o.order_amount AS DOUBLE), 0.0) AS order_amount,
        | COALESCE(r.refund_count, 0) AS refund_count,
        | COALESCE(r.refund_uu_count, 0) AS refund_uu_count
        |FROM (SELECT dt, trademark_id, trademark_name, CAST(SUM(order_count) AS BIGINT) AS order_count,
        |       COUNT(DISTINCT user_id) AS uu_count, SUM(order_amount) AS order_amount
        |      FROM dws_trade_trademark_category_user_spu_order_window GROUP BY dt, trademark_id, trademark_name) o
        |FULL OUTER JOIN (SELECT dt, trademark_id, trademark_name, CAST(SUM(refund_count) AS BIGINT) AS refund_count,
        |       COUNT(DISTINCT user_id) AS refund_uu_count
        |      FROM dws_trade_trademark_category_user_refund_window GROUP BY dt, trademark_id, trademark_name) r
        | ON o.dt = r.dt AND o.trademark_id = r.trademark_id
        |ORDER BY dt, trademark_name""".stripMargin),
    "ads_trademark_stats_cdc" ->
      s"""${graft.operators.GmallDwdDb.flagshipWideCte},
        |${GmallDws.spuOrderCdcCtes},
        |${GmallDws.refundCdcCtes}
        |SELECT COALESCE(o.dt, r.dt) AS dt,
        | COALESCE(o.trademark_name, r.trademark_name) AS trademark_name,
        | COALESCE(o.order_count, 0) AS order_count,
        | COALESCE(o.uu_count, 0) AS uu_count,
        | COALESCE(CAST(o.order_amount AS DOUBLE), 0.0) AS order_amount,
        | COALESCE(r.refund_count, 0) AS refund_count,
        | COALESCE(r.refund_uu_count, 0) AS refund_uu_count
        |FROM (SELECT substring(stt, 1, 10) AS dt, trademark_id, trademark_name,
        |       CAST(SUM(order_count) AS BIGINT) AS order_count,
        |       COUNT(DISTINCT user_id) AS uu_count, SUM(order_amount) AS order_amount
        |      FROM spu_cdc GROUP BY 1, 2, 3) o
        |FULL OUTER JOIN (SELECT substring(stt, 1, 10) AS dt, trademark_id, trademark_name,
        |       CAST(SUM(refund_count) AS BIGINT) AS refund_count,
        |       COUNT(DISTINCT user_id) AS refund_uu_count
        |      FROM refund_cdc GROUP BY 1, 2, 3) r
        | ON o.dt = r.dt AND o.trademark_id = r.trademark_id
        |ORDER BY dt, trademark_name""".stripMargin,
    "ads_trademark_order_amount_pie" -> wTrade(dws10Cte,
      """SELECT dt, trademark_name, CAST(SUM(order_amount) AS DOUBLE) AS order_amount
        |FROM dws_trade_trademark_category_user_spu_order_window
        |GROUP BY dt, trademark_id, trademark_name ORDER BY dt, trademark_name""".stripMargin),
    "ads_category_stats" -> wTrade(s"$dws10Cte,\n$dws11Cte",
      """SELECT COALESCE(o.dt, r.dt) AS dt,
        | COALESCE(o.category1_name, r.category1_name) AS category1_name,
        | COALESCE(o.category2_name, r.category2_name) AS category2_name,
        | COALESCE(o.category3_name, r.category3_name) AS category3_name,
        | COALESCE(o.order_count, 0) AS order_count,
        | COALESCE(o.uu_count, 0) AS uu_count,
        | COALESCE(CAST(o.order_amount AS DOUBLE), 0.0) AS order_amount,
        | COALESCE(r.refund_count, 0) AS refund_count,
        | COALESCE(r.refund_uu_count, 0) AS refund_uu_count
        |FROM (SELECT dt, category1_id, category1_name, category2_id, category2_name, category3_id, category3_name,
        |       CAST(SUM(order_count) AS BIGINT) AS order_count, COUNT(DISTINCT user_id) AS uu_count, SUM(order_amount) AS order_amount
        |      FROM dws_trade_trademark_category_user_spu_order_window
        |      GROUP BY dt, category1_id, category1_name, category2_id, category2_name, category3_id, category3_name) o
        |FULL OUTER JOIN (SELECT dt, category1_id, category1_name, category2_id, category2_name, category3_id, category3_name,
        |       CAST(SUM(refund_count) AS BIGINT) AS refund_count, COUNT(DISTINCT user_id) AS refund_uu_count
        |      FROM dws_trade_trademark_category_user_refund_window
        |      GROUP BY dt, category1_id, category1_name, category2_id, category2_name, category3_id, category3_name) r
        | ON o.dt = r.dt AND o.category1_id = r.category1_id AND o.category2_id = r.category2_id AND o.category3_id = r.category3_id
        |ORDER BY dt, category1_name, category2_name, category3_name""".stripMargin),
    "ads_spu_stats" -> wTrade(dws10Cte,
      """SELECT dt, spu_name, CAST(SUM(order_count) AS BIGINT) AS order_count,
        | COUNT(DISTINCT user_id) AS uu_count, CAST(SUM(order_amount) AS DOUBLE) AS order_amount
        |FROM dws_trade_trademark_category_user_spu_order_window
        |GROUP BY dt, spu_id, spu_name ORDER BY dt, spu_name""".stripMargin),
    "ads_trade_total_amount" -> wTrade(dws9Cte,
      """SELECT dt, CAST(SUM(order_amount) AS DOUBLE) AS order_total_amount
        |FROM dws_trade_province_order_window GROUP BY dt ORDER BY dt""".stripMargin),
    "ads_trade_stats" -> wTrade(s"$dws10Cte,\n$dws11Cte",
      """SELECT * FROM (
        | SELECT dt, '下单数' AS type, CAST(SUM(order_count) AS BIGINT) AS value
        | FROM dws_trade_trademark_category_user_spu_order_window GROUP BY dt
        | UNION ALL
        | SELECT dt, '下单人数' AS type, COUNT(DISTINCT user_id) AS value
        | FROM dws_trade_trademark_category_user_spu_order_window GROUP BY dt
        | UNION ALL
        | SELECT dt, '退单数' AS type, CAST(SUM(refund_count) AS BIGINT) AS value
        | FROM dws_trade_trademark_category_user_refund_window GROUP BY dt
        | UNION ALL
        | SELECT dt, '退单人数' AS type, COUNT(DISTINCT user_id) AS value
        | FROM dws_trade_trademark_category_user_refund_window GROUP BY dt
        |) ORDER BY dt, type""".stripMargin),
    "ads_trade_province_order_ct" -> wTrade(dws9Cte,
      """SELECT dt, province_name, CAST(SUM(order_count) AS BIGINT) AS order_count
        |FROM dws_trade_province_order_window
        |GROUP BY dt, province_id, province_name ORDER BY dt, province_name""".stripMargin),
    "ads_trade_province_order_amount" -> wTrade(dws9Cte,
      """SELECT dt, province_name, CAST(SUM(order_amount) AS DOUBLE) AS order_amount
        |FROM dws_trade_province_order_window
        |GROUP BY dt, province_id, province_name ORDER BY dt, province_name""".stripMargin),
    "ads_traffic_uv_ct" -> wPage(dws1Cte,
      """SELECT substr(stt, 1, 10) AS dt, ch, CAST(SUM(uv_ct) AS BIGINT) AS uv_ct
        |FROM dws_traffic_channel_page_view_window GROUP BY substr(stt, 1, 10), ch
        |ORDER BY dt, uv_ct DESC, ch""".stripMargin),
    "ads_traffic_sv_ct" -> wPage(dws1Cte,
      """SELECT substr(stt, 1, 10) AS dt, ch, CAST(SUM(sv_ct) AS BIGINT) AS sv_ct
        |FROM dws_traffic_channel_page_view_window GROUP BY substr(stt, 1, 10), ch
        |ORDER BY dt, sv_ct DESC, ch""".stripMargin),
    "ads_traffic_pv_per_session" -> wPage(dws1Cte,
      """SELECT substr(stt, 1, 10) AS dt, ch,
        | CAST(SUM(pv_ct) AS DOUBLE) / CAST(NULLIF(SUM(sv_ct), 0) AS DOUBLE) AS pv_per_session
        |FROM dws_traffic_channel_page_view_window GROUP BY substr(stt, 1, 10), ch
        |ORDER BY dt, pv_per_session DESC, ch""".stripMargin),
    "ads_traffic_dur_per_session" -> wPage(dws1Cte,
      """SELECT substr(stt, 1, 10) AS dt, ch,
        | CAST(SUM(dur_sum) AS DOUBLE) / CAST(NULLIF(SUM(sv_ct), 0) AS DOUBLE) AS dur_per_session
        |FROM dws_traffic_channel_page_view_window GROUP BY substr(stt, 1, 10), ch
        |ORDER BY dt, dur_per_session DESC, ch""".stripMargin),
    "ads_traffic_uj_rate" -> wPage(dws1Cte,
      """SELECT substr(stt, 1, 10) AS dt, ch,
        | CAST(SUM(uj_ct) AS DOUBLE) / CAST(NULLIF(SUM(sv_ct), 0) AS DOUBLE) AS uj_rate
        |FROM dws_traffic_channel_page_view_window GROUP BY substr(stt, 1, 10), ch
        |ORDER BY dt, uj_rate DESC, ch""".stripMargin),
    "ads_traffic_keywords" -> (s"WITH $dws2Cte\n" +
      """SELECT substr(stt, 1, 10) AS dt, keyword,
        | CAST(SUM(keyword_count * CASE source WHEN 'SEARCH' THEN 10 WHEN 'ORDER' THEN 5
        |   WHEN 'CART' THEN 2 WHEN 'CLICK' THEN 1 ELSE 0 END) AS BIGINT) AS keyword_score
        |FROM dws_traffic_source_keyword_page_view_window GROUP BY substr(stt, 1, 10), keyword
        |ORDER BY dt, keyword_score DESC, keyword""".stripMargin),
    "ads_visitor_type_stats" -> wPage(dws1Cte,
      """SELECT substr(stt, 1, 10) AS dt, is_new,
        | CAST(SUM(uv_ct) AS BIGINT) AS uv_ct, CAST(SUM(pv_ct) AS BIGINT) AS pv_ct,
        | CAST(SUM(sv_ct) AS BIGINT) AS sv_ct, CAST(SUM(uj_ct) AS BIGINT) AS uj_ct,
        | CAST(SUM(dur_sum) AS BIGINT) AS dur_sum
        |FROM dws_traffic_channel_page_view_window GROUP BY substr(stt, 1, 10), is_new
        |ORDER BY dt, is_new""".stripMargin),
    "ads_visitor_stats_per_hour" -> wPage(dws1Cte,
      """SELECT substr(stt, 1, 10) AS dt, CAST(substr(stt, 12, 2) AS BIGINT) AS hr,
        | CAST(SUM(uv_ct) AS BIGINT) AS uv_ct, CAST(SUM(pv_ct) AS BIGINT) AS pv_ct,
        | CAST(SUM(CASE WHEN is_new = '1' THEN uv_ct ELSE 0 END) AS BIGINT) AS new_uv_ct
        |FROM dws_traffic_channel_page_view_window
        |GROUP BY substr(stt, 1, 10), CAST(substr(stt, 12, 2) AS BIGINT)
        |ORDER BY dt, hr""".stripMargin),
    "ads_uv_by_page" -> wAll(s"$dws3Cte,\n$dws6Cte,\n$dws7Cte,\n$dws8Cte",
      """SELECT * FROM (
        | SELECT substr(stt, 1, 10) AS dt, 'home' AS page_id, CAST(SUM(home_uv_ct) AS BIGINT) AS uv_ct
        | FROM dws_traffic_page_view_window GROUP BY substr(stt, 1, 10)
        | UNION ALL
        | SELECT substr(stt, 1, 10) AS dt, 'good_detail' AS page_id, CAST(SUM(good_detail_uv_ct) AS BIGINT) AS uv_ct
        | FROM dws_traffic_page_view_window GROUP BY substr(stt, 1, 10)
        | UNION ALL
        | SELECT substr(stt, 1, 10) AS dt, 'cart' AS page_id, CAST(SUM(cart_add_uu_ct) AS BIGINT) AS uv_ct
        | FROM dws_trade_cart_add_uu_window GROUP BY substr(stt, 1, 10)
        | UNION ALL
        | SELECT dt, 'trade' AS page_id, CAST(SUM(order_unique_user_count) AS BIGINT) AS uv_ct
        | FROM dws_trade_order_window GROUP BY dt
        | UNION ALL
        | SELECT dt, 'payment' AS page_id, CAST(SUM(payment_suc_unique_user_count) AS BIGINT) AS uv_ct
        | FROM dws_trade_payment_suc_window GROUP BY dt
        |) ORDER BY dt, page_id""".stripMargin),
    "ads_user_change_per_type" -> wPage(s"$dws4Cte,\n$dws5Cte",
      """SELECT * FROM (
        | SELECT substr(stt, 1, 10) AS dt, 'backCt' AS type, CAST(SUM(back_ct) AS BIGINT) AS value
        | FROM dws_user_user_login_window GROUP BY substr(stt, 1, 10)
        | UNION ALL
        | SELECT substr(stt, 1, 10) AS dt, 'activeUserCt' AS type, CAST(SUM(uu_ct) AS BIGINT) AS value
        | FROM dws_user_user_login_window GROUP BY substr(stt, 1, 10)
        | UNION ALL
        | SELECT substr(stt, 1, 10) AS dt, 'newUserCt' AS type, CAST(SUM(register_ct) AS BIGINT) AS value
        | FROM dws_user_user_register_window GROUP BY substr(stt, 1, 10)
        |) ORDER BY dt, type""".stripMargin),
    "ads_trade_user_ct" -> wTrade(s"$dws7Cte,\n$dws8Cte",
      """SELECT * FROM (
        | SELECT dt, 'order' AS trade_type, CAST(SUM(order_new_user_count) AS BIGINT) AS new_user_count
        | FROM dws_trade_order_window GROUP BY dt
        | UNION ALL
        | SELECT dt, 'payment' AS trade_type, CAST(SUM(payment_suc_new_user_count) AS BIGINT) AS new_user_count
        | FROM dws_trade_payment_suc_window GROUP BY dt
        |) ORDER BY dt, trade_type""".stripMargin),
    "ads_gmv" -> wTrade(dws9Cte,
      """SELECT dt, CAST(SUM(order_amount) AS DOUBLE) AS gmv
        |FROM dws_trade_province_order_window GROUP BY dt ORDER BY dt""".stripMargin),
    "ads_uv_by_ch_legacy" -> wPage(dws1Cte,
      """SELECT substr(stt, 1, 10) AS dt, ch, CAST(SUM(uv_ct) AS BIGINT) AS uv, CAST(SUM(uj_ct) AS BIGINT) AS uj
        |FROM dws_traffic_channel_page_view_window GROUP BY substr(stt, 1, 10), ch
        |ORDER BY dt, ch""".stripMargin))
}
