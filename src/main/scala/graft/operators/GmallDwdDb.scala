package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.streaming.{Joins, LogStream}

/** The reference's remaining DWD-db apps as named queries, each one the
  * batch form of its Flink app's filter+join over a Maxwell CDC
  * envelope stream:
  *
  *  - `dwd_trade_cancel_detail`  — `app/dwd/db/DwdTradeCancelDetail.java:70-77`:
  *    order-detail rows whose originating `order_info` update set
  *    `order_status='1003'` with `old['order_status']` present.
  *  - `dwd_trade_order_refund`   — `DwdTradeOrderRefund.java:76-135`:
  *    `order_refund_info` inserts ⟕ `order_info` updates (status 1005,
  *    `old` contains `order_status`) ⟕ `base_dic` twice.
  *  - `dwd_tool_coupon_get`      — `DwdToolCouponGet.java:43-52`:
  *    `coupon_use` inserts.
  *  - `dwd_tool_coupon_order`    — `DwdToolCouponOrder.java:51-76`:
  *    `coupon_use` updates whose `old` contains `using_time`.
  *  - `dwd_tool_coupon_pay`      — `DwdToolCouponPay.java:50-75`:
  *    `coupon_use` updates whose `old` contains `used_time`.
  *  - `dwd_interaction_favor_add`— `DwdInteractionFavorAdd.java:44-54`:
  *    `favor_info` inserts plus cancel-restore updates
  *    (`old['is_cancel']='1' and data['is_cancel']='0'`). The
  *    reference's WHERE has an AND/OR precedence slip that lets a
  *    cancel-restore from ANY table through; this engine applies the
  *    evident intent (favor_info only) and documents the divergence.
  *  - `dwd_interaction_comment`  — `DwdInteractionComment.java:77-80`:
  *    `comment_info` inserts ⟕ `base_dic` on `appraise`.
  *  - `dwd_user_register`        — `DwdUserRegister.java:66`:
  *    `user_info` inserts projected to (user_id, date_id, create_time).
  *  - `dwd_trade_order_detail`   — `DwdTradeOrderDetail.java:137-190`:
  *    the flagship 5-table join: `order_detail` inserts ⋈ `order_info`
  *    (inserts AND updates — the app keeps both, so an order that
  *    mutates emits one wide row per order_info envelope) ⟕
  *    `order_detail_activity` inserts ⟕ `order_detail_coupon` inserts
  *    ⋈ `base_dic` on source_type.
  *  - `dwd_trade_order_add`      — `DwdTradeOrderAdd.java:71-76`:
  *    the order-detail wide rows whose order_info side is an insert.
  *  - `dwd_trade_pay_detail_suc` — `DwdTradePayDetailSuc.java:91-134`:
  *    `payment_info` updates (`payment_status='1602'`,
  *    `old['payment_status']` non-null) ⋈ the order-detail wide rows
  *    ⋈ `base_dic` on payment_type.
  *  - `dwd_trade_cart_add`       — `DwdTradeCartAdd.java:43-94`:
  *    `cart_info` inserts plus sku_num-increase updates, with the P5
  *    conditional delta (`sku_num` = new−old on updates) ⋈ `base_dic`
  *    on source_type.
  *
  * The CDC input is a deterministic Maxwell-envelope fixture derived
  * from `orders`/`customer` rows ([[envelope]]): each business table's
  * inserts/updates are synthesized as JSON strings by key-modulus rules
  * (including negative cases each filter must reject), then parsed
  * through the REAL ingest path (`LogStream.maxwellEnvelope` →
  * `graft_json_parse`) — so the queries exercise envelope parsing, map-key
  * projection, `old`-map change predicates, and the dim joins, and the
  * DuckDB oracle can reproduce every result directly from the base
  * tables with the same modulus rules.
  *
  * Scale notes: envelope synthesis + parsing is stateless row-at-a-time
  * codegen work (no shuffle). Fact-fact joins shuffle on their keys
  * with AQE (cancel ⋈ order-detail on the order key; the flagship
  * od ⋈ oi on the order key, its activity/coupon decorations on the
  * detail key; pay ⋈ wide on the order key); dic lookups are explicit
  * broadcasts. The parsed envelope and the flagship wide frame are
  * memoized per (session, dir) the way GmallDwd memoizes its DWD
  * frames — the wide frame is built once and re-read by order_add,
  * pay_detail_suc and the DWS consumer, like the reference's topic.
  */
object GmallDwdDb {

  private def s(c: Column): Column = c.cast(StringType)
  private val noOld: Column = lit(null).cast(MapType(StringType, StringType))
  private def nullStr: Column = lit(null).cast(StringType)

  private def jsonEnv(table: String, typ: String, data: Column, old: Column,
                      ts: Column): Column =
    to_json(struct(
      lit("gmall").as("database"), lit(table).as("table"), lit(typ).as("type"),
      data.as("data"), old.as("old"), ts.as("ts")))

  /** Parsed Maxwell envelope fixture (memoized, persisted).
    *
    * Hash-repartitioned by `table` before the persist: the raw union
    * of 26 per-table synth frames carries 26 ×
    * spread-parallelism partitions, so every slice scan would schedule
    * ~800 tasks to read one table's rows — task-launch overhead, not
    * data, was the measured floor of every `dwd_*` query. Keying by
    * table alone (the batch analog of a topic partitioned by table)
    * keeps per-batch stats homogeneous, so the cached scan still
    * prunes to the queried table AND launches cores-many tasks.
    *
    * Known trade, kept deliberately: keying by table alone puts the
    * dominant table (`order_detail`, one row per lineitem) in ONE
    * partition. At fixture SFs that single task is the measured
    * optimum — adding a row salt (8-way, whether on all tables or the
    * fact tables only) was benchmarked 2-4× SLOWER across the `dwd_*`
    * family, because every slice scan then probes many mixed
    * partitions instead of pruning to one. On a real cluster, where
    * one table's CDC volume exceeds a task's comfortable working set,
    * pass `saltK > 1`: the repartition key gains
    * `pmod(xxhash64(data("id")), saltK)` for the FACT tables (the
    * per-row-volume ones) while dim/config tables keep their single
    * pruned partition — the scan-side plans are unchanged, only the
    * partition count per fact table grows. `saltK` is a config knob,
    * not a code change, so the 100×-scale remedy is one argument;
    * GmallDwdDbSpec pins result-equality at saltK = 4 and the
    * partition spread it buys.
    *
    * The default comes from the session conf [[EnvelopeSaltKConf]]
    * (env `SPARK_GRAFT_ENVELOPE_SALTK` via GraftSession), so a
    * DEPLOYMENT can turn the knob without touching query code — the
    * amplified-decade legs set 8: past sf10eq the dominant table's
    * single partition is the measured build-and-write wall (one task
    * streams order_detail = one row per third lineitem while 31 cores
    * idle), exactly the "volume exceeds a task's comfortable working
    * set" regime the paragraph above reserves the salt for. */
  def envelope(spark: SparkSession, dir: String, saltK: Int = -1): DataFrame = {
    // -1 is the ONLY "use the session conf" sentinel; an explicit 0/1
    // (or any other non-positive value) means unsalted, so a caller
    // that asks for no salt never gets silently salted by a deployment
    // env like SPARK_GRAFT_ENVELOPE_SALTK.
    val k = if (saltK != -1) math.max(saltK, 1)
            else {
              val raw = spark.conf.get(EnvelopeSaltKConf, "1")
              try raw.toInt catch {
                case e: NumberFormatException => throw new IllegalArgumentException(
                  s"$EnvelopeSaltKConf must be an integer, got '$raw'", e)
              }
            }
    Memo(spark, dir, if (k <= 1) "cdcEnvelope" else s"cdcEnvelope.salt$k") {
      saltedByTable(spark, LogStream.maxwellEnvelope(envelopeJson(spark, dir)), k)
    }
  }

  /** Session conf for [[envelope]]'s default salt (see the scaladoc
    * trade discussion; 1 = unsalted, the small-SF optimum). */
  val EnvelopeSaltKConf = "spark.graft.envelope.saltK"

  /** The envelope's per-table (optionally salted) repartitioning as a
    * standalone step, so the skew measurement (the MeasureSkew probe,
    * `git show ebc108b:src/test/scala/graft/MeasureSkew.scala`) drove the
    * EXACT keying the production loader uses over a synthetic skewed
    * frame. saltK spreads each fact table over K partitions keyed by
    * the mutation id's hash; config tables stay unsalted. */
  private[graft] def saltedByTable(spark: SparkSession, env: DataFrame,
                                   saltK: Int): DataFrame = {
    val keys: Seq[Column] =
      if (saltK <= 1) Seq(col("table"))
      else Seq(col("table"),
        when(col("table").isin(FactTables: _*),
          pmod(xxhash64(col("data").getItem("id")), lit(saltK.toLong)))
          .otherwise(lit(0L)))
    env.repartition(spark.sparkContext.defaultParallelism, keys: _*)
  }

  /** The envelope tables whose row volume scales with facts (orders /
    * lineitems / payments), i.e. the ones a `saltK` spreads; the
    * config-ish low-volume tables (user_info, base dictionaries) stay
    * unsalted so their scans keep pruning to one partition. */
  private val FactTables: Seq[String] = Seq(
    "order_info", "order_detail", "order_detail_activity",
    "order_detail_coupon", "order_refund_info", "cart_info",
    "payment_info", "coupon_use", "favor_info", "comment_info")

  /** The raw JSON fixture — one `value` column of Maxwell envelope
    * lines, deterministically derived from `orders`, `lineitem` and
    * `customer`. Modulus rules (o = o_orderkey, c = c_custkey,
    * l = l_orderkey, n = l_linenumber):
    *
    * | table                 | type   | rule            | notes |
    * |-----------------------|--------|-----------------|-------|
    * | order_info            | insert | every o         | full payload, status 1001 |
    * | order_refund_info     | insert | o%10==3         | refund fact |
    * | order_info            | update | o%20==3         | status 1005, old has order_status |
    * | order_info            | update | o%20==13        | status 1005, old LACKS order_status (negative) |
    * | order_info            | update | o%20==7         | status 1003, old has order_status (cancel) |
    * | order_info            | update | o%20==17        | status 1003, old LACKS order_status (negative) |
    * | order_detail          | insert | l%3==0          | one per lineitem, source_type 2401..2404 |
    * | order_detail          | update | l%3==0 ∧ (l+n)%7==0 | rejected by the insert-only filter (negative) |
    * | order_detail_activity | insert | l%3==0 ∧ (l+n)%3==1 | decorates its order_detail row |
    * | order_detail_coupon   | insert | l%3==0 ∧ (l+n)%4==2 | decorates its order_detail row |
    * | cart_info             | insert | o%7==1          | sku_num = o%5+1 |
    * | cart_info             | update | o%7==2          | sku_num increase, delta = o%4+1 |
    * | cart_info             | update | o%7==3          | sku_num DECREASE (negative) |
    * | cart_info             | update | o%7==4          | old LACKS sku_num (negative) |
    * | payment_info          | update | o%9==0          | status 1602, old has payment_status |
    * | payment_info          | update | o%9==3          | status 1602, old LACKS payment_status (negative) |
    * | payment_info          | update | o%9==6          | status 1601 ≠ success (negative) |
    * | coupon_use            | insert | o%4==0          | get |
    * | coupon_use            | update | o%8==0          | old has using_time (order) |
    * | coupon_use            | update | o%16==0         | old has used_time (pay) |
    * | coupon_use            | update | o%8==4          | old has neither (negative) |
    * | favor_info            | insert | o%5==1          | |
    * | favor_info            | update | o%10==2         | cancel-restore (old is_cancel 1→0) |
    * | favor_info            | update | o%10==7         | cancel 0→1 (negative) |
    * | comment_info          | insert | o%6==2          | appraise 1201..1204 |
    * | user_info             | insert | c%3==0          | register |
    */
  def envelopeJson(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.spread(spark, Tables.orders(spark, dir))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
    val okey = col("o_orderkey")
    val ts = unix_timestamp(col("o_orderdate"))
    val dt = date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
    val dtPlus1 = date_format(col("o_orderdate") + expr("INTERVAL 1 DAY"), "yyyy-MM-dd HH:mm:ss")
    val dtPlus2 = date_format(col("o_orderdate") + expr("INTERVAL 2 DAY"), "yyyy-MM-dd HH:mm:ss")

    val refundIns = o.filter(okey % 10 === 3).select(jsonEnv("order_refund_info", "insert",
      map(
        lit("id"), concat(lit("r"), s(okey)),
        lit("user_id"), s(col("o_custkey")),
        lit("order_id"), s(okey),
        lit("sku_id"), s(okey % 200),
        lit("refund_type"), concat(lit("110"), s(okey % 2 + 1)),
        lit("refund_num"), s(okey % 3 + 1),
        lit("refund_amount"), s(col("o_totalprice").cast(DecimalType(18, 2))),
        lit("refund_reason_type"), concat(lit("130"), s(okey % 7 + 1)),
        lit("refund_reason_txt"), concat(lit("reason "), s(okey % 7)),
        lit("create_time"), dt),
      noOld, ts).as("value"))

    // full Maxwell order_info payload (Maxwell `data` carries the whole
    // row on updates too); DwdTradeOrderDetail.java:59-87 projects every
    // key, so the fixture populates them all deterministically.
    // `process_status` mirrors `order_status` (the source table keeps
    // them in lockstep) and `parent_order_id` is present only for every
    // 100th order — Maxwell omits absent columns, modeled by appending
    // the conditional entry via map_concat. (This was map_filter-ing a
    // null entry out, but map_filter is a CodegenFallback higher-order
    // function: it dragged the collapsed 26-branch synthesis projection
    // into per-row interpreted eval — measured as the dominant cost of
    // the whole envelope build. map_concat is codegen'd; entry ORDER
    // changes (parent_order_id appends last), which nothing observes —
    // consumers project by key.)
    def orderInfoData(status: Column, operateTime: Column) = {
      val base = map(
      lit("process_status"), status,
      lit("id"), s(okey),
      lit("consignee"), concat(lit("name_"), s(col("o_custkey") % 1000)),
      lit("consignee_tel"), concat(lit("13"), s(okey % 100000000)),
      lit("total_amount"), s(col("o_totalprice").cast(DecimalType(18, 2))),
      lit("order_status"), status,
      lit("user_id"), s(col("o_custkey")),
      lit("payment_way"), concat(lit("250"), s(okey % 2 + 1)),
      lit("out_trade_no"), concat(lit("trade_"), s(okey)),
      lit("trade_body"), concat(lit("body "), s(okey % 10)),
      lit("operate_time"), operateTime,
      lit("expire_time"), dtPlus1,
      lit("tracking_no"), concat(lit("trk"), s(okey)),
      lit("province_id"), s(col("o_custkey") % 25),
      lit("activity_reduce_amount"), s((okey % 50).cast(DecimalType(18, 2))),
      lit("coupon_reduce_amount"), s((okey % 30).cast(DecimalType(18, 2))),
      lit("original_total_amount"), s(col("o_totalprice").cast(DecimalType(18, 2))),
      lit("feight_fee"), s((okey % 20).cast(DecimalType(18, 2))),
      lit("feight_fee_reduce"), s((okey % 5).cast(DecimalType(18, 2))))
      when(okey % 100 === 0,
        map_concat(base, map(lit("parent_order_id"), s(okey + 1000000))))
        .otherwise(base)
    }
    // one insert per order — the 5-table join's inner side
    val orderIns = o.select(jsonEnv("order_info", "insert",
      orderInfoData(lit("1001"), dt), noOld, ts).as("value"))
    // order_info status updates: the old-map presence of `order_status`
    // is what DwdTradeOrderRefund.java:87-99 / DwdTradeCancelDetail
    // .java:74-76 filter on, so emit both shapes per status
    def orderUpd(m: Long, status: String, oldHasStatus: Boolean) =
      o.filter(okey % 20 === m).select(jsonEnv("order_info", "update",
        orderInfoData(lit(status), dtPlus1),
        if (oldHasStatus) map(lit("order_status"), lit("1001"))
        else map(lit("operate_time"), dt),
        ts).as("value"))
    val refundAck = orderUpd(3, "1005", oldHasStatus = true)
    val refundAckNeg = orderUpd(13, "1005", oldHasStatus = false)
    val cancel = orderUpd(7, "1003", oldHasStatus = true)
    val cancelNeg = orderUpd(17, "1003", oldHasStatus = false)

    // order_detail + its activity/coupon decorations, one per lineitem
    // of every third order (DwdTradeOrderDetail.java:33-130's four
    // topic_db slices); create_time/ts ride l_shipdate so no
    // lineitem⋈orders join is needed to synthesize the envelope.
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
    // but a CDC `id` is a source-table PK — disambiguate duplicates
    // with a row_number over the payload columns, deterministic up to
    // fully-identical (hence interchangeable) rows, so the DuckDB
    // oracle reproduces the exact id multiset
    val dupRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"), col("l_shipdate"))
    val li = Tables.spread(spark, Tables.lineitem(spark, dir))
      .filter(col("l_orderkey") % 3 === 0)
      .withColumn("rn", row_number().over(dupRank))
    val lkey = col("l_orderkey")
    val lno = col("l_linenumber")
    val lts = unix_timestamp(col("l_shipdate"))
    val ldt = date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss")
    val detailId = concat(lit("d"), s(lkey), lit("-"), s(lno), lit("-"), s(col("rn")))
    val one = lit(1).cast(DecimalType(18, 2))
    def detailData = map(
      lit("id"), detailId,
      lit("order_id"), s(lkey),
      lit("sku_id"), s(col("l_partkey")),
      lit("sku_name"), concat(lit("sku_"), s(col("l_partkey"))),
      lit("order_price"), s(col("l_extendedprice").cast(DecimalType(18, 2))),
      lit("sku_num"), s(col("l_quantity").cast(IntegerType)),
      lit("create_time"), ldt,
      lit("source_type"), concat(lit("240"), s((lkey + lno) % 4 + 1)),
      lit("source_id"), s(col("l_suppkey")),
      lit("split_total_amount"), s((col("l_extendedprice").cast(DecimalType(18, 2)) *
        (one - col("l_discount").cast(DecimalType(18, 2)))).cast(DecimalType(18, 4))),
      lit("split_activity_amount"), s((col("l_extendedprice").cast(DecimalType(18, 2)) *
        col("l_discount").cast(DecimalType(18, 2))).cast(DecimalType(18, 4))),
      lit("split_coupon_amount"), s((col("l_extendedprice").cast(DecimalType(18, 2)) *
        col("l_tax").cast(DecimalType(18, 2))).cast(DecimalType(18, 4))))
    val detailIns = li.select(jsonEnv("order_detail", "insert",
      detailData, noOld, lts).as("value"))
    val detailUpdNeg = li.filter((lkey + lno) % 7 === 0)
      .select(jsonEnv("order_detail", "update",
        detailData, map(lit("sku_num"), lit("0")), lts).as("value"))
    val activityIns = li.filter((lkey + lno) % 3 === 1)
      .select(jsonEnv("order_detail_activity", "insert", map(
        lit("id"), concat(lit("a"), s(lkey), lit("-"), s(lno)),
        lit("order_id"), s(lkey),
        lit("order_detail_id"), detailId,
        lit("activity_id"), s(lkey % 10 + 1),
        lit("activity_rule_id"), s(lkey % 30 + 1),
        lit("sku_id"), s(col("l_partkey")),
        lit("create_time"), ldt), noOld, lts).as("value"))
    val couponIns = li.filter((lkey + lno) % 4 === 2)
      .select(jsonEnv("order_detail_coupon", "insert", map(
        lit("id"), concat(lit("c"), s(lkey), lit("-"), s(lno)),
        lit("order_id"), s(lkey),
        lit("order_detail_id"), detailId,
        lit("coupon_id"), s(lkey % 50),
        lit("coupon_use_id"), concat(lit("cu"), s(lkey)),
        lit("sku_id"), s(col("l_partkey")),
        lit("create_time"), ldt), noOld, lts).as("value"))

    // cart_info: insert, qualifying increase update, and the two
    // negative shapes DwdTradeCartAdd.java:56-59 must reject
    def cartData(skuNum: Column) = map(
      lit("id"), concat(lit("ct"), s(okey)),
      lit("user_id"), s(col("o_custkey")),
      lit("sku_id"), s(okey % 200),
      lit("cart_price"), s(col("o_totalprice").cast(DecimalType(18, 2))),
      lit("sku_num"), s(skuNum),
      lit("sku_name"), concat(lit("sku_"), s(okey % 200)),
      lit("is_checked"), s(okey % 2),
      lit("create_time"), dt,
      lit("operate_time"), dtPlus1,
      lit("is_ordered"), s(okey % 2),
      lit("order_time"), dtPlus2,
      lit("source_type"), concat(lit("240"), s(okey % 4 + 1)),
      lit("source_id"), s(okey % 100))
    val cartIns = o.filter(okey % 7 === 1).select(jsonEnv("cart_info", "insert",
      cartData(okey % 5 + 1), noOld, ts).as("value"))
    val cartUpd = o.filter(okey % 7 === 2).select(jsonEnv("cart_info", "update",
      cartData(okey % 5 + 1 + okey % 4 + 1),
      map(lit("sku_num"), s(okey % 5 + 1)), ts).as("value"))
    val cartUpdDecNeg = o.filter(okey % 7 === 3).select(jsonEnv("cart_info", "update",
      cartData(okey % 5 + 1), map(lit("sku_num"), s(okey % 5 + 3)), ts).as("value"))
    val cartUpdNoNumNeg = o.filter(okey % 7 === 4).select(jsonEnv("cart_info", "update",
      cartData(okey % 5 + 1), map(lit("is_checked"), lit("0")), ts).as("value"))

    // payment_info: success update + the two negatives
    // DwdTradePayDetailSuc.java:96-105 must reject
    def payData(status: String) = map(
      lit("id"), concat(lit("py"), s(okey)),
      lit("user_id"), s(col("o_custkey")),
      lit("order_id"), s(okey),
      lit("payment_type"), concat(lit("110"), s(okey % 2 + 1)),
      lit("total_amount"), s(col("o_totalprice").cast(DecimalType(18, 2))),
      lit("payment_status"), lit(status),
      lit("callback_time"), dtPlus1)
    val paySuc = o.filter(okey % 9 === 0).select(jsonEnv("payment_info", "update",
      payData("1602"), map(lit("payment_status"), lit("1601")), ts).as("value"))
    val payNegOld = o.filter(okey % 9 === 3).select(jsonEnv("payment_info", "update",
      payData("1602"), map(lit("callback_time"), dt), ts).as("value"))
    val payNegStatus = o.filter(okey % 9 === 6).select(jsonEnv("payment_info", "update",
      payData("1601"), map(lit("payment_status"), lit("1601")), ts).as("value"))

    def couponData(timeKey: Option[(String, Column)]) = {
      val base = Seq(
        lit("id") -> concat(lit("cu"), s(okey)),
        lit("coupon_id") -> s(okey % 50),
        lit("user_id") -> s(col("o_custkey")),
        lit("order_id") -> s(okey))
      val withTime = timeKey.fold(base) { case (k, v) => base :+ (lit(k) -> v) }
      map(withTime.flatMap { case (k, v) => Seq(k, v) }: _*)
    }
    val couponGet = o.filter(okey % 4 === 0).select(jsonEnv("coupon_use", "insert",
      couponData(Some("get_time" -> dt)), noOld, ts).as("value"))
    val couponOrder = o.filter(okey % 8 === 0).select(jsonEnv("coupon_use", "update",
      couponData(Some("using_time" -> dtPlus1)),
      map(lit("using_time"), nullStr), ts).as("value"))
    val couponPay = o.filter(okey % 16 === 0).select(jsonEnv("coupon_use", "update",
      couponData(Some("used_time" -> dtPlus2)),
      map(lit("used_time"), nullStr), ts).as("value"))
    val couponNeg = o.filter(okey % 8 === 4).select(jsonEnv("coupon_use", "update",
      couponData(None), map(lit("order_id"), nullStr), ts).as("value"))

    def favorData(isCancel: String) = map(
      lit("id"), concat(lit("f"), s(okey)),
      lit("user_id"), s(col("o_custkey")),
      lit("sku_id"), s(okey % 200),
      lit("is_cancel"), lit(isCancel),
      lit("create_time"), dt)
    val favorIns = o.filter(okey % 5 === 1).select(jsonEnv("favor_info", "insert",
      favorData("0"), noOld, ts).as("value"))
    val favorRestore = o.filter(okey % 10 === 2).select(jsonEnv("favor_info", "update",
      favorData("0"), map(lit("is_cancel"), lit("1")), ts).as("value"))
    val favorCancel = o.filter(okey % 10 === 7).select(jsonEnv("favor_info", "update",
      favorData("1"), map(lit("is_cancel"), lit("0")), ts).as("value"))

    val comment = o.filter(okey % 6 === 2).select(jsonEnv("comment_info", "insert",
      map(
        lit("id"), concat(lit("cm"), s(okey)),
        lit("user_id"), s(col("o_custkey")),
        lit("sku_id"), s(okey % 200),
        lit("order_id"), s(okey),
        lit("appraise"), concat(lit("120"), s(okey % 4 + 1)),
        lit("create_time"), dt),
      noOld, ts).as("value"))

    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
      .filter(col("c_custkey") % 3 === 0)
    val regDate = date_add(to_date(lit("1995-01-01")), (col("c_custkey") % 365).cast(IntegerType))
    val register = cust.select(jsonEnv("user_info", "insert",
      map(
        lit("id"), s(col("c_custkey")),
        lit("create_time"), date_format(regDate, "yyyy-MM-dd HH:mm:ss")),
      noOld, unix_timestamp(regDate)).as("value"))

    Seq(orderIns, refundAck, refundAckNeg, cancel, cancelNeg,
      detailIns, detailUpdNeg, activityIns, couponIns,
      cartIns, cartUpd, cartUpdDecNeg, cartUpdNoNumNeg,
      paySuc, payNegOld, payNegStatus,
      couponGet, couponOrder, couponPay, couponNeg,
      favorIns, favorRestore, favorCancel, comment, register)
      .foldLeft(refundIns)(_ unionByName _)
  }

  /** The `base_dic` dictionary snapshot (`utils/MysqlUtil.java` lookup
    * table): every code the fixture can emit, dic_name = "dic_"+code
    * (110x payment/refund types, 120x appraise, 130x refund reasons,
    * 240x source types). */
  def baseDic(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val codes = Seq("1101", "1102") ++ (1 to 4).map("120" + _) ++
      (1 to 7).map("130" + _) ++ (1 to 4).map("240" + _)
    codes.toDF("dic_code").withColumn("dic_name", concat(lit("dic_"), col("dic_code")))
  }

  private def d(key: String): Column = col("data").getItem(key)

  /** `DwdTradeCancelDetail.java:70-77` over ANY envelope frame (batch
    * OR readStream): cancel order_info updates (status 1003, old has
    * order_status) joined back to the order-detail wide rows they
    * cancel. The wide side is the static store, so on a stream this is
    * the stream-static inner join (stateless — no watermark needed);
    * OdsToAdsSpec drives exactly that shape. */
  def tradeCancelDetailOn(env: DataFrame, wide: DataFrame): DataFrame = {
    val cancels = LogStream.cdcSlice(env, "order_info", Seq("update"))
      .filter(LogStream.columnChanged(col("old"), "order_status") &&
        d("order_status") === "1003")
      .select(d("id").cast(LongType).as("cancel_order_id"),
        d("operate_time").as("operate_time"), col("ts"))
    wide.join(cancels, wide("order_id") === col("cancel_order_id"))
      .select(col("order_id"), col("line_no"), col("user_id"), col("sku_id"),
        col("province_id"),
        col("split_total_amount").cast(DoubleType).as("split_total_amount"),
        col("operate_time"), col("ts"))
  }

  def tradeCancelDetail(spark: SparkSession, dir: String): DataFrame =
    tradeCancelDetailOn(envelope(spark, dir), GmallDwd.orderWide(spark, dir))
      .orderBy(col("order_id"), col("line_no"))

  /** `order_refund_info` insert slice of [[tradeOrderRefund]] —
    * envelope-agnostic (batch or readStream). */
  private[graft] def refundInfoSliceOn(env: DataFrame): DataFrame =
    LogStream.cdcSlice(env, "order_refund_info", Seq("insert"))
      .select(d("id").as("id"), d("user_id").as("user_id"),
        d("order_id").as("order_id"), d("sku_id").as("sku_id"),
        d("refund_type").as("refund_type_code"),
        d("refund_num").as("refund_num"), d("refund_amount").as("refund_amount"),
        d("refund_reason_type").as("refund_reason_type_code"),
        d("refund_reason_txt").as("refund_reason_txt"),
        d("create_time").as("create_time"), col("ts"))

  /** Refund-ack slice: order_info updates to status 1005 whose old
    * shows the status change; carries its own `ack_ts` so the stream
    * form can watermark it. */
  private[graft] def refundAckSliceOn(env: DataFrame): DataFrame =
    LogStream.cdcSlice(env, "order_info", Seq("update"))
      .filter(d("order_status") === "1005" &&
        LogStream.columnChanged(col("old"), "order_status"))
      .select(d("id").as("oid"), d("province_id").as("province_id"),
        col("ts").as("ack_ts"))

  private def refundProjection: Seq[Column] =
    Seq(col("id"), col("user_id"), col("order_id"), col("sku_id"),
      col("province_id"), substring(col("create_time"), 1, 10).as("date_id"),
      col("create_time"), col("refund_type_code"), col("refund_type_name"),
      col("refund_reason_type_code"), col("refund_reason_type_name"),
      col("refund_reason_txt"), col("refund_num"), col("refund_amount"), col("ts"))

  private def refundProject(joined: DataFrame): DataFrame =
    joined.select(refundProjection: _*)

  private def refundDics(dic: DataFrame): (DataFrame, DataFrame) = (
    dic.select(col("dic_code").as("t_code"), col("dic_name").as("refund_type_name")),
    dic.select(col("dic_code").as("r_code"), col("dic_name").as("refund_reason_type_name")))

  /** `DwdTradeOrderRefund.java:76-135`: refund inserts ⟕ refund-ack
    * order updates ⟕ base_dic (type, reason) — over pre-built slices,
    * shared by the batch query and the stream≡batch oracle side. */
  def tradeOrderRefundOn(ri: DataFrame, oi: DataFrame, dic: DataFrame): DataFrame = {
    val (typeDic, reasonDic) = refundDics(dic)
    refundProject(ri.join(oi, ri("order_id") === col("oid"), "left")
      .join(typeDic, col("refund_type_code") === col("t_code"), "left")
      .join(reasonDic, col("refund_reason_type_code") === col("r_code"), "left"))
  }

  def tradeOrderRefund(spark: SparkSession, dir: String): DataFrame = {
    val env = envelope(spark, dir)
    tradeOrderRefundOn(refundInfoSliceOn(env), refundAckSliceOn(env), baseDic(spark))
      .orderBy(col("id"))
  }

  /** [[tradeOrderRefundOn]] in STREAMING form — the refund analog of
    * [[tradeOrderDetailStreamOn]]: watermarked slices over a
    * `readStream` envelope, one J2 left-outer (`ri ⟕ ack` on the order
    * key, bounded by `boundSec` exactly like the flagship's 3-day CDC
    * TTL mapping) and the two J3 broadcast dic decodes. Output matches
    * the batch form's projection, so OdsToAdsSpec can assert at-rest
    * equality layer by layer. */
  def tradeOrderRefundStreamOn(env: DataFrame, dic: DataFrame,
                               boundSec: Long = 3L * 24 * 3600,
                               wmDelay: String = "2 seconds",
                               keepEventTime: Boolean = false): DataFrame = {
    val ri = refundInfoSliceOn(env)
      .withColumn("ri_et", timestamp_seconds(col("ts"))).withWatermark("ri_et", wmDelay)
    val ack = refundAckSliceOn(env)
      .withColumn("ack_et", timestamp_seconds(col("ack_ts"))).withWatermark("ack_et", wmDelay)
    val (typeDic, reasonDic) = refundDics(dic)
    val joined = Joins.streamStream(ri, ack, "order_id", "oid", "ri_et", "ack_et",
        boundSec, boundSec, joinType = "leftOuter")
      // hints: J3 stream-static lookups, each micro-batch probes the dictionary snapshot
      .join(broadcast(typeDic), col("refund_type_code") === col("t_code"), "left")
      .join(broadcast(reasonDic), col("refund_reason_type_code") === col("r_code"), "left")
    // keepEventTime: retain the refund side's watermarked ri_et so a
    // DOWNSTREAM stateful operator (a chained windowed DWS agg) can
    // window on an already-watermarked column — the flagship's
    // keepEventTime contract
    if (keepEventTime) joined.select(col("ri_et") +: refundProjection: _*)
    else refundProject(joined)
  }

  /** [[skuDim]] domain for part-key sku ids (the flagship wide frame's
    * `sku_id` = `l_partkey`, 200 k·SF keys — 2^18 covers SF 1; beyond
    * that a real deployment reads its real dim table). The refund
    * envelope's sku domain (`okey % 200`) fits any n ≥ 200. */
  val SkuDimWide: Long = 1L << 18

  /** DIM sku star-chain analog for the CDC fixture: the reference's
    * trademark DWS windows decorate each fact with `dim_sku_info` →
    * `base_trademark` → `base_category3/2/1` (+ spu)
    * (`DwsTradeTrademarkCategoryUserRefundWindow.java:140-219`,
    * `DwsTradeTrademarkCategoryUserSpuOrderWindow.java:118-318` —
    * chained async lookups); here the decoded chain is ONE
    * deterministic dim frame (sku_id → trademark + category triple +
    * spu), broadcast like [[baseDic]]. The modulus rules make the
    * DuckDB side reproducible from `range()` or directly from the
    * joined key. */
  def skuDim(spark: SparkSession, n: Long = 4096): DataFrame =
    spark.range(0, n).select(
      s(col("id")).as("sku_id"),
      concat(lit("tm_"), s(col("id") % 12)).as("trademark_id"),
      concat(lit("trademark "), s(col("id") % 12)).as("trademark_name"),
      concat(lit("c1_"), s(col("id") % 3)).as("category1_id"),
      concat(lit("category1 "), s(col("id") % 3)).as("category1_name"),
      concat(lit("c2_"), s(col("id") % 6)).as("category2_id"),
      concat(lit("category2 "), s(col("id") % 6)).as("category2_name"),
      concat(lit("c3_"), s(col("id") % 24)).as("category3_id"),
      concat(lit("category3 "), s(col("id") % 24)).as("category3_name"),
      concat(lit("spu_"), s(col("id") % 50)).as("spu_id"),
      concat(lit("spu name "), s(col("id") % 50)).as("spu_name"))

  /** Broadcast [[skuDim]] decorate with a LOUD domain check. A plain
    * inner join silently DROPS facts whose sku_id falls outside the
    * synthetic dim's `[0, n)` range (part keys exceed [[SkuDimWide]]
    * past SF ≈ 1.3), and the oracle's matching `WHERE sku < n` cutoff
    * would mask the loss from the hash gate. Instead: left join + a
    * codegen'd `raise_error` on any unmatched key — identical result
    * whenever the domain holds (every tested SF), a failed job (not
    * missing rows) the first time it doesn't. Zero extra scans or
    * exchanges (the guard is a projection; the join stays broadcast). */
  def joinSkuDimChecked(facts: DataFrame, sku: DataFrame): DataFrame =
    facts.join(sku, Seq("sku_id"), "left")
      .withColumn("trademark_id",
        when(col("trademark_id").isNotNull, col("trademark_id"))
          .otherwise(raise_error(concat(
            lit("skuDim: sku_id outside the dim domain: "), col("sku_id")))))

  // The `*On(env)` forms below are the apps' transforms over ANY
  // Maxwell envelope frame — batch OR readStream (stateless
  // filter/project/broadcast-join only, no sort), mirroring the
  // reference's streaming nature; GmallDwdDbSpec proves batch ≡
  // streaming on the same envelope lines. The `(spark, dir)` wrappers
  // bind the fixture and add the oracle-determinism orderBy (a
  // presentation concern — streaming append mode cannot sort).

  /** `DwdToolCouponGet.java:43-52`. */
  def toolCouponGetOn(env: DataFrame): DataFrame =
    LogStream.cdcSlice(env, "coupon_use", Seq("insert"))
      .select(d("id").as("id"), d("coupon_id").as("coupon_id"),
        d("user_id").as("user_id"),
        substring(d("get_time"), 1, 10).as("date_id"),
        d("get_time").as("get_time"), col("ts"))

  def toolCouponGet(spark: SparkSession, dir: String): DataFrame =
    toolCouponGetOn(envelope(spark, dir)).orderBy(col("id"))

  /** `DwdToolCouponOrder.java:51-76`: updates whose old shows
    * `using_time` changed. */
  def toolCouponOrderOn(env: DataFrame): DataFrame =
    LogStream.cdcSlice(env, "coupon_use", Seq("update"))
      .filter(LogStream.columnChanged(col("old"), "using_time"))
      .select(d("id").as("id"), d("coupon_id").as("coupon_id"),
        d("user_id").as("user_id"), d("order_id").as("order_id"),
        substring(d("using_time"), 1, 10).as("date_id"),
        d("using_time").as("order_time"), col("ts"))

  def toolCouponOrder(spark: SparkSession, dir: String): DataFrame =
    toolCouponOrderOn(envelope(spark, dir)).orderBy(col("id"))

  /** `DwdToolCouponPay.java:50-75`: updates whose old shows
    * `used_time` changed. */
  def toolCouponPayOn(env: DataFrame): DataFrame =
    LogStream.cdcSlice(env, "coupon_use", Seq("update"))
      .filter(LogStream.columnChanged(col("old"), "used_time"))
      .select(d("id").as("id"), d("coupon_id").as("coupon_id"),
        d("user_id").as("user_id"), d("order_id").as("order_id"),
        substring(d("used_time"), 1, 10).as("date_id"),
        d("used_time").as("payment_time"), col("ts"))

  def toolCouponPay(spark: SparkSession, dir: String): DataFrame =
    toolCouponPayOn(envelope(spark, dir)).orderBy(col("id"))

  /** `DwdInteractionFavorAdd.java:44-54`: inserts plus cancel-restore
    * updates (intent semantics; see object scaladoc on the reference's
    * precedence slip). */
  def interactionFavorAddOn(env: DataFrame): DataFrame =
    env
      .filter(col("table") === "favor_info" &&
        (col("type") === "insert" ||
          (col("type") === "update" &&
            col("old").getItem("is_cancel") === "1" && d("is_cancel") === "0")))
      .select(d("id").as("id"), d("user_id").as("user_id"),
        d("sku_id").as("sku_id"),
        substring(d("create_time"), 1, 10).as("date_id"),
        d("create_time").as("create_time"), col("ts"))

  def interactionFavorAdd(spark: SparkSession, dir: String): DataFrame =
    interactionFavorAddOn(envelope(spark, dir)).orderBy(col("id"))

  /** `DwdInteractionComment.java:77-80`: comment inserts ⟕ base_dic. */
  def interactionCommentOn(env: DataFrame, dic: DataFrame): DataFrame =
    LogStream.cdcSlice(env, "comment_info", Seq("insert"))
      .join(dic, d("appraise") === col("dic_code"), "left")
      .select(d("id").as("id"), d("user_id").as("user_id"),
        d("sku_id").as("sku_id"), d("order_id").as("order_id"),
        substring(d("create_time"), 1, 10).as("date_id"),
        d("create_time").as("create_time"),
        d("appraise").as("appraise_code"), col("dic_name").as("appraise_name"),
        col("ts"))

  def interactionComment(spark: SparkSession, dir: String): DataFrame =
    interactionCommentOn(envelope(spark, dir), baseDic(spark)).orderBy(col("id"))

  /** `DwdUserRegister.java:66`. */
  def userRegisterOn(env: DataFrame): DataFrame =
    LogStream.cdcSlice(env, "user_info", Seq("insert"))
      .select(d("id").as("user_id"),
        substring(d("create_time"), 1, 10).as("date_id"),
        d("create_time").as("create_time"), col("ts"))

  def userRegister(spark: SparkSession, dir: String): DataFrame =
    userRegisterOn(envelope(spark, dir)).orderBy(col("user_id").cast(LongType))

  // ------------------------------------------------------------------
  // The flagship 5-table order-detail join (`DwdTradeOrderDetail
  // .java:137-190`) and its three consumers. Each slice below is one of
  // the app's four topic_db filters (its numbered steps 3-6); the wide
  // join is its step 8. All `*On` forms are envelope-in, frame-out so the same
  // transforms run on readStream micro-batches (GmallDwdDbSpec proves
  // streaming ≡ batch with `Joins.streamStream` supplying the
  // state-bounded streaming join the batch form gets for free).
  //
  // Determinism divergence (documented): the reference stamps the wide
  // row with `current_row_timestamp() ts` and the ingest proctime `pt`
  // (both wall-clock); this engine carries the order-detail envelope's
  // event `ts` instead so the result is replayable and oracle-checkable.
  // The Maxwell `old` map rides the internal wide frame (the order_add
  // filter and the reference's downstream apps read `type`/`old`) but is
  // projected off the named query, whose sink is a flat columnar table.

  /** `DwdTradeOrderDetail.java:32-51`: order_detail inserts, with the
    * derived `split_original_amount` = sku_num × order_price. */
  def orderDetailSliceOn(env: DataFrame): DataFrame =
    LogStream.cdcSlice(env, "order_detail", Seq("insert"))
      .select(d("id").as("order_detail_id"), d("order_id").as("order_id"),
        d("sku_id").as("sku_id"), d("sku_name").as("sku_name"),
        d("order_price").as("order_price"), d("sku_num").as("sku_num"),
        d("create_time").as("order_create_time"),
        d("source_type").as("source_type"), d("source_id").as("source_id"),
        s((d("sku_num").cast(DecimalType(16, 2)) *
          d("order_price").cast(DecimalType(16, 2))).cast(DecimalType(18, 4)))
          .as("split_original_amount"),
        d("split_total_amount").as("split_total_amount"),
        d("split_activity_amount").as("split_activity_amount"),
        d("split_coupon_amount").as("split_coupon_amount"),
        col("ts"), col("pt"))

  /** `DwdTradeOrderDetail.java:59-87`: order_info inserts AND updates —
    * the app keeps both, so a mutating order emits one wide row per
    * order_info envelope, `type`/`old` carried for downstream filters. */
  def orderInfoSliceOn(env: DataFrame): DataFrame =
    LogStream.cdcSlice(env, "order_info", Seq("insert", "update"))
      .select(d("id").as("oi_id"), d("consignee").as("consignee"),
        d("consignee_tel").as("consignee_tel"),
        d("total_amount").as("total_amount"),
        d("order_status").as("order_status"), d("user_id").as("user_id"),
        d("payment_way").as("payment_way"),
        d("out_trade_no").as("out_trade_no"), d("trade_body").as("trade_body"),
        d("operate_time").as("operate_time"), d("expire_time").as("expire_time"),
        d("process_status").as("process_status"),
        d("tracking_no").as("tracking_no"),
        d("parent_order_id").as("parent_order_id"),
        d("province_id").as("province_id"),
        d("activity_reduce_amount").as("activity_reduce_amount"),
        d("coupon_reduce_amount").as("coupon_reduce_amount"),
        d("original_total_amount").as("original_total_amount"),
        d("feight_fee").as("feight_fee"),
        d("feight_fee_reduce").as("feight_fee_reduce"),
        col("type"), col("old"), col("ts").as("oi_ts"))

  /** `DwdTradeOrderDetail.java:94-107`: order_detail_activity inserts. */
  def activitySliceOn(env: DataFrame): DataFrame =
    LogStream.cdcSlice(env, "order_detail_activity", Seq("insert"))
      .select(d("order_detail_id").as("oa_order_detail_id"),
        d("activity_id").as("activity_id"),
        d("activity_rule_id").as("activity_rule_id"),
        d("create_time").as("activity_create_time"), col("ts").as("oa_ts"))

  /** `DwdTradeOrderDetail.java:114-127`: order_detail_coupon inserts. */
  def couponSliceOn(env: DataFrame): DataFrame =
    LogStream.cdcSlice(env, "order_detail_coupon", Seq("insert"))
      .select(d("order_detail_id").as("oc_order_detail_id"),
        d("coupon_id").as("coupon_id"),
        d("coupon_use_id").as("coupon_use_id"),
        d("create_time").as("coupon_create_time"), col("ts").as("oc_ts"))

  /** The app's step 8, the 5-way join: od ⋈ oi ⟕ activity ⟕ coupon ⋈ dic.
    *
    * Scale notes: od ⋈ oi is the one fact-fact shuffle (on the order
    * key, AQE skew-handled); activity/coupon are sparse decorations
    * joined on the detail key; `base_dic` is an explicit broadcast
    * (`FOR SYSTEM_TIME AS OF` lookup ≈ stream-static broadcast). No
    * sort here — ordering is the named query's presentation concern. */
  def tradeOrderDetailWideOn(od: DataFrame, oi: DataFrame, oa: DataFrame,
                             oc: DataFrame, dic: DataFrame): DataFrame =
    od.join(oi, od("order_id") === oi("oi_id"))
      .join(oa, od("order_detail_id") === oa("oa_order_detail_id"), "left")
      .join(oc, od("order_detail_id") === oc("oc_order_detail_id"), "left")
      .join(dic, od("source_type") === dic("dic_code"))
      .drop("oi_id", "oa_order_detail_id", "oc_order_detail_id", "dic_code",
        "oi_ts", "oa_ts", "oc_ts")

  /** The wide frame, memoized per (session, dir) — the batch analog of
    * the app's `dwd_trade_order_detail` Kafka topic, read by order_add,
    * pay_detail_suc and the DWS consumers exactly as the reference's
    * downstream apps re-consume the topic. */
  def tradeOrderDetailWide(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "tradeOrderDetailWide") {
      val env = envelope(spark, dir)
      tradeOrderDetailWideOn(orderDetailSliceOn(env), orderInfoSliceOn(env),
        activitySliceOn(env), couponSliceOn(env), baseDic(spark))
    }

  /** The flagship join in STREAMING form: the same four `*On` slices
    * over a `readStream` envelope, composed with `Joins.streamStream`
    * (J1 inner + two J2 left-outers) and the J3 broadcast dic lookup.
    * On a real cluster the envelope is
    * `graft.streaming.Kafka.topicDb(spark, servers, groupId)` — the
    * same schema this fixture produces.
    *
    * The reference bounds join state with a 3-day idle-state retention
    * (`DwdTradeOrderDetail.java:26`) — a PROCESSING-time TTL, safe
    * because CDC envelopes of one order arrive within seconds of each
    * other. Spark bounds stream-stream state with watermarks + an
    * EVENT-time range, so the 3-day TTL maps to `od.ts within
    * [other.ts ± boundSec]` (default 3 days): equivalent for streams
    * whose event times track arrival, which is what CDC `ts` is.
    * Output matches [[tradeOrderDetailWideOn]] minus `pt`/`old`
    * (processing-time / map columns a flat streaming sink drops);
    * GmallDwdDbSpec asserts at-rest equality with the batch form and
    * D2 latest-wins collapsing the per-mutation wide variants.
    *
    * `keepEventTime` retains the detail-side watermarked `od_et`
    * column: a DOWNSTREAM stateful operator (e.g. a windowed DWS agg
    * chained in the same query) must window on an already-watermarked
    * column — re-calling withWatermark after a stateful operator is
    * disallowed under multiple-stateful-operator support. */
  def tradeOrderDetailStreamOn(env: DataFrame, dic: DataFrame,
                               boundSec: Long = 3L * 24 * 3600,
                               wmDelay: String = "2 seconds",
                               keepEventTime: Boolean = false): DataFrame = {
    val od = orderDetailSliceOn(env)
      .withColumn("od_et", timestamp_seconds(col("ts"))).withWatermark("od_et", wmDelay)
    val oi = orderInfoSliceOn(env)
      .withColumn("oi_et", timestamp_seconds(col("oi_ts"))).withWatermark("oi_et", wmDelay)
    val oa = activitySliceOn(env)
      .withColumn("oa_et", timestamp_seconds(col("oa_ts"))).withWatermark("oa_et", wmDelay)
    val oc = couponSliceOn(env)
      .withColumn("oc_et", timestamp_seconds(col("oc_ts"))).withWatermark("oc_et", wmDelay)
    val j1 = Joins.streamStream(od, oi, "order_id", "oi_id",
      "od_et", "oi_et", boundSec, boundSec)
    val j2 = Joins.streamStream(j1, oa, "order_detail_id", "oa_order_detail_id",
      "od_et", "oa_et", boundSec, boundSec, joinType = "leftOuter")
    val j3 = Joins.streamStream(j2, oc, "order_detail_id", "oc_order_detail_id",
      "od_et", "oc_et", boundSec, boundSec, joinType = "leftOuter")
    val dropped = Seq("oi_id", "oa_order_detail_id", "oc_order_detail_id", "dic_code",
      "oi_ts", "oa_ts", "oc_ts", "oi_et", "oa_et", "oc_et", "pt", "old") ++
      (if (keepEventTime) Nil else Seq("od_et"))
    // hint: J3 stream-static lookup, each micro-batch probes the dictionary snapshot
    j3.join(broadcast(dic), col("source_type") === dic("dic_code"))
      .drop(dropped: _*)
  }

  private def wideNamed(wide: DataFrame): DataFrame =
    wide.drop("old", "pt")
      .orderBy(col("order_id").cast(LongType), col("order_detail_id"), col("type"))

  /** `DwdTradeOrderDetail.java:137-190` as a named query. */
  def tradeOrderDetail(spark: SparkSession, dir: String): DataFrame =
    wideNamed(tradeOrderDetailWide(spark, dir))

  /** `DwdTradeOrderAdd.java:71-76`: wide rows whose order_info side is
    * an insert — the order-placement slice of the topic. */
  def tradeOrderAdd(spark: SparkSession, dir: String): DataFrame =
    wideNamed(tradeOrderDetailWide(spark, dir).filter(col("type") === "insert"))

  /** `DwdTradePayDetailSuc.java:91-134`: payment-success updates ⋈ the
    * order-detail wide rows ⋈ base_dic on payment_type. The wide side
    * is NOT filtered by type (the reference consumes the whole topic),
    * so orders whose order_info mutated contribute one identical output
    * row per wide variant — reproduced by the oracle's multiplicity. */
  def tradePayDetailSucOn(env: DataFrame, wide: DataFrame, dic: DataFrame): DataFrame = {
    val pay = LogStream.cdcSlice(env, "payment_info", Seq("update"))
      .filter(d("payment_status") === "1602" &&
        LogStream.columnChanged(col("old"), "payment_status"))
      .select(d("order_id").as("pay_order_id"),
        d("payment_type").as("payment_type_code"),
        d("callback_time").as("callback_time"), col("ts").as("pay_ts"))
    val w = wide.drop("ts", "pt", "old")
    // the wide frame already carries a (source_type) dic_name; alias the
    // payment-type lookup's columns so the two decodes don't collide
    val payDic = dic.select(col("dic_code").as("pay_dic_code"),
      col("dic_name").as("payment_type_name"))
    pay.join(w, col("pay_order_id") === w("order_id"))
      .join(payDic, col("payment_type_code") === col("pay_dic_code"))
      .select(col("order_detail_id"), col("order_id"), col("user_id"),
        col("sku_id"), col("province_id"), col("activity_id"),
        col("activity_rule_id"), col("coupon_id"), col("payment_type_code"),
        col("payment_type_name"), col("callback_time"),
        col("source_id"), col("source_type"), col("sku_num"),
        col("split_original_amount"), col("split_activity_amount"),
        col("split_coupon_amount"),
        col("split_total_amount").as("split_payment_amount"),
        col("pay_ts").as("ts"))
  }

  def tradePayDetailSuc(spark: SparkSession, dir: String): DataFrame =
    tradePayDetailSucOn(envelope(spark, dir), tradeOrderDetailWide(spark, dir),
      baseDic(spark))
      .orderBy(col("order_id").cast(LongType), col("order_detail_id"))

  /** `DwdTradeCartAdd.java:43-94`: cart inserts plus sku_num-increase
    * updates with the P5 conditional delta (insert → new value, update
    * → new − old), ⋈ base_dic on source_type. */
  def tradeCartAddOn(env: DataFrame, dic: DataFrame): DataFrame =
    env.filter(col("table") === "cart_info" &&
        (col("type") === "insert" ||
          (col("type") === "update" &&
            LogStream.columnChanged(col("old"), "sku_num") &&
            d("sku_num").cast(IntegerType) >
              col("old").getItem("sku_num").cast(IntegerType))))
      .join(dic, d("source_type") === col("dic_code"))
      .select(d("id").as("id"), d("user_id").as("user_id"),
        d("sku_id").as("sku_id"), d("cart_price").as("cart_price"),
        when(col("type") === "insert", d("sku_num").cast(IntegerType))
          .otherwise(d("sku_num").cast(IntegerType) -
            col("old").getItem("sku_num").cast(IntegerType)).as("sku_num"),
        d("sku_name").as("sku_name"), d("is_checked").as("is_checked"),
        d("create_time").as("create_time"), d("operate_time").as("operate_time"),
        d("is_ordered").as("is_ordered"), d("order_time").as("order_time"),
        d("source_type").as("source_type"), d("source_id").as("source_id"),
        col("dic_name"), col("ts"))

  def tradeCartAdd(spark: SparkSession, dir: String): DataFrame =
    tradeCartAddOn(envelope(spark, dir), baseDic(spark)).orderBy(col("id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dwd_trade_cancel_detail" -> tradeCancelDetail,
    "dwd_trade_order_refund" -> tradeOrderRefund,
    "dwd_tool_coupon_get" -> toolCouponGet,
    "dwd_tool_coupon_order" -> toolCouponOrder,
    "dwd_tool_coupon_pay" -> toolCouponPay,
    "dwd_interaction_favor_add" -> interactionFavorAdd,
    "dwd_interaction_comment" -> interactionComment,
    "dwd_user_register" -> userRegister,
    "dwd_trade_order_detail" -> tradeOrderDetail,
    "dwd_trade_order_add" -> tradeOrderAdd,
    "dwd_trade_pay_detail_suc" -> tradePayDetailSuc,
    "dwd_trade_cart_add" -> tradeCartAdd)

  /** DuckDB rebuild of the wide rows straight from the base tables with
    * the fixture's modulus rules: od = lineitem slice (l%3==0), oi = one
    * insert per order UNION the 1005/1003 update shapes, joined on the
    * order key; activity/coupon decorations and the dic decode are pure
    * expressions of (okey, lno). Helper cols okey/odate are EXCLUDEd in
    * each final projection. */
  private[operators] val flagshipWideCte: String =
    """WITH od AS (
      |  SELECT l_orderkey AS okey, l_linenumber AS lno, l_partkey, l_suppkey,
      |         CAST(l_quantity AS INTEGER) AS qty,
      |         CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
      |         CAST(l_discount AS DECIMAL(18,2)) AS disc,
      |         CAST(l_tax AS DECIMAL(18,2)) AS tax,
      |         l_shipdate AS sdate,
      |         ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
      |           ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice,
      |                    l_discount, l_tax, l_shipdate) AS rn
      |  FROM lineitem WHERE l_orderkey % 3 = 0
      |), oi AS (
      |  SELECT o_orderkey AS o, o_custkey AS c,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS total, o_orderdate AS odate,
      |         '1001' AS order_status,
      |         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS operate_time,
      |         'insert' AS type
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(18,2)), o_orderdate,
      |         CASE WHEN o_orderkey % 20 IN (3,13) THEN '1005' ELSE '1003' END,
      |         strftime(o_orderdate + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S'),
      |         'update'
      |  FROM orders WHERE o_orderkey % 20 IN (3,7,13,17)
      |), wide AS (
      |  SELECT
      |    od.okey, oi.odate,
      |    'd' || CAST(od.okey AS VARCHAR) || '-' || CAST(od.lno AS VARCHAR) || '-' || CAST(od.rn AS VARCHAR) AS order_detail_id,
      |    CAST(od.okey AS VARCHAR) AS order_id,
      |    CAST(od.l_partkey AS VARCHAR) AS sku_id,
      |    'sku_' || CAST(od.l_partkey AS VARCHAR) AS sku_name,
      |    CAST(od.price AS VARCHAR) AS order_price,
      |    CAST(od.qty AS VARCHAR) AS sku_num,
      |    strftime(od.sdate, '%Y-%m-%d %H:%M:%S') AS order_create_time,
      |    '240' || CAST((od.okey + od.lno) % 4 + 1 AS VARCHAR) AS source_type,
      |    CAST(od.l_suppkey AS VARCHAR) AS source_id,
      |    CAST(CAST(CAST(od.qty AS DECIMAL(16,2)) * CAST(od.price AS DECIMAL(16,2)) AS DECIMAL(18,4)) AS VARCHAR) AS split_original_amount,
      |    CAST(CAST(od.price * (CAST(1 AS DECIMAL(18,2)) - od.disc) AS DECIMAL(18,4)) AS VARCHAR) AS split_total_amount,
      |    CAST(CAST(od.price * od.disc AS DECIMAL(18,4)) AS VARCHAR) AS split_activity_amount,
      |    CAST(CAST(od.price * od.tax AS DECIMAL(18,4)) AS VARCHAR) AS split_coupon_amount,
      |    'name_' || CAST(oi.c % 1000 AS VARCHAR) AS consignee,
      |    '13' || CAST(oi.o % 100000000 AS VARCHAR) AS consignee_tel,
      |    CAST(oi.total AS VARCHAR) AS total_amount,
      |    oi.order_status,
      |    CAST(oi.c AS VARCHAR) AS user_id,
      |    '250' || CAST(oi.o % 2 + 1 AS VARCHAR) AS payment_way,
      |    'trade_' || CAST(oi.o AS VARCHAR) AS out_trade_no,
      |    'body ' || CAST(oi.o % 10 AS VARCHAR) AS trade_body,
      |    oi.operate_time,
      |    strftime(oi.odate + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS expire_time,
      |    oi.order_status AS process_status,
      |    'trk' || CAST(oi.o AS VARCHAR) AS tracking_no,
      |    CASE WHEN oi.o % 100 = 0 THEN CAST(oi.o + 1000000 AS VARCHAR) END AS parent_order_id,
      |    CAST(oi.c % 25 AS VARCHAR) AS province_id,
      |    CAST(CAST(oi.o % 50 AS DECIMAL(18,2)) AS VARCHAR) AS activity_reduce_amount,
      |    CAST(CAST(oi.o % 30 AS DECIMAL(18,2)) AS VARCHAR) AS coupon_reduce_amount,
      |    CAST(oi.total AS VARCHAR) AS original_total_amount,
      |    CAST(CAST(oi.o % 20 AS DECIMAL(18,2)) AS VARCHAR) AS feight_fee,
      |    CAST(CAST(oi.o % 5 AS DECIMAL(18,2)) AS VARCHAR) AS feight_fee_reduce,
      |    oi.type,
      |    CASE WHEN (od.okey + od.lno) % 3 = 1 THEN CAST(od.okey % 10 + 1 AS VARCHAR) END AS activity_id,
      |    CASE WHEN (od.okey + od.lno) % 3 = 1 THEN CAST(od.okey % 30 + 1 AS VARCHAR) END AS activity_rule_id,
      |    CASE WHEN (od.okey + od.lno) % 3 = 1 THEN strftime(od.sdate, '%Y-%m-%d %H:%M:%S') END AS activity_create_time,
      |    CASE WHEN (od.okey + od.lno) % 4 = 2 THEN CAST(od.okey % 50 AS VARCHAR) END AS coupon_id,
      |    CASE WHEN (od.okey + od.lno) % 4 = 2 THEN 'cu' || CAST(od.okey AS VARCHAR) END AS coupon_use_id,
      |    CASE WHEN (od.okey + od.lno) % 4 = 2 THEN strftime(od.sdate, '%Y-%m-%d %H:%M:%S') END AS coupon_create_time,
      |    'dic_240' || CAST((od.okey + od.lno) % 4 + 1 AS VARCHAR) AS dic_name,
      |    CAST(epoch(od.sdate) AS BIGINT) AS ts
      |  FROM od JOIN oi ON od.okey = oi.o
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dwd_trade_cancel_detail" ->
      s"""WITH ${GmallDwd.orderWideCte},
         |cancels AS (
         |  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey % 20 = 7
         |)
         |SELECT w.order_id, w.line_no, w.user_id, w.sku_id, w.province_id,
         |  CAST(w.split_total_amount AS DOUBLE) AS split_total_amount,
         |  strftime(c.o_orderdate + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS operate_time,
         |  CAST(epoch(c.o_orderdate) AS BIGINT) AS ts
         |FROM order_wide w JOIN cancels c ON w.order_id = c.o_orderkey
         |ORDER BY w.order_id, w.line_no""".stripMargin,
    "dwd_trade_order_refund" ->
      """SELECT 'r' || CAST(o_orderkey AS VARCHAR) AS id,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  CAST(o_orderkey AS VARCHAR) AS order_id,
        |  CAST(o_orderkey % 200 AS VARCHAR) AS sku_id,
        |  CASE WHEN o_orderkey % 20 = 3 THEN CAST(o_custkey % 25 AS VARCHAR) END AS province_id,
        |  strftime(o_orderdate, '%Y-%m-%d') AS date_id,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time,
        |  '110' || CAST(o_orderkey % 2 + 1 AS VARCHAR) AS refund_type_code,
        |  'dic_110' || CAST(o_orderkey % 2 + 1 AS VARCHAR) AS refund_type_name,
        |  '130' || CAST(o_orderkey % 7 + 1 AS VARCHAR) AS refund_reason_type_code,
        |  'dic_130' || CAST(o_orderkey % 7 + 1 AS VARCHAR) AS refund_reason_type_name,
        |  'reason ' || CAST(o_orderkey % 7 AS VARCHAR) AS refund_reason_txt,
        |  CAST(o_orderkey % 3 + 1 AS VARCHAR) AS refund_num,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS refund_amount,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS ts
        |FROM orders WHERE o_orderkey % 10 = 3
        |ORDER BY id""".stripMargin,
    "dwd_tool_coupon_get" ->
      """SELECT 'cu' || CAST(o_orderkey AS VARCHAR) AS id,
        |  CAST(o_orderkey % 50 AS VARCHAR) AS coupon_id,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  strftime(o_orderdate, '%Y-%m-%d') AS date_id,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS get_time,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS ts
        |FROM orders WHERE o_orderkey % 4 = 0
        |ORDER BY id""".stripMargin,
    "dwd_tool_coupon_order" ->
      """SELECT 'cu' || CAST(o_orderkey AS VARCHAR) AS id,
        |  CAST(o_orderkey % 50 AS VARCHAR) AS coupon_id,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  CAST(o_orderkey AS VARCHAR) AS order_id,
        |  strftime(o_orderdate + INTERVAL 1 DAY, '%Y-%m-%d') AS date_id,
        |  strftime(o_orderdate + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS order_time,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS ts
        |FROM orders WHERE o_orderkey % 8 = 0
        |ORDER BY id""".stripMargin,
    "dwd_tool_coupon_pay" ->
      """SELECT 'cu' || CAST(o_orderkey AS VARCHAR) AS id,
        |  CAST(o_orderkey % 50 AS VARCHAR) AS coupon_id,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  CAST(o_orderkey AS VARCHAR) AS order_id,
        |  strftime(o_orderdate + INTERVAL 2 DAY, '%Y-%m-%d') AS date_id,
        |  strftime(o_orderdate + INTERVAL 2 DAY, '%Y-%m-%d %H:%M:%S') AS payment_time,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS ts
        |FROM orders WHERE o_orderkey % 16 = 0
        |ORDER BY id""".stripMargin,
    "dwd_interaction_favor_add" ->
      """SELECT 'f' || CAST(o_orderkey AS VARCHAR) AS id,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  CAST(o_orderkey % 200 AS VARCHAR) AS sku_id,
        |  strftime(o_orderdate, '%Y-%m-%d') AS date_id,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS ts
        |FROM orders WHERE o_orderkey % 5 = 1 OR o_orderkey % 10 = 2
        |ORDER BY id""".stripMargin,
    "dwd_interaction_comment" ->
      """SELECT 'cm' || CAST(o_orderkey AS VARCHAR) AS id,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  CAST(o_orderkey % 200 AS VARCHAR) AS sku_id,
        |  CAST(o_orderkey AS VARCHAR) AS order_id,
        |  strftime(o_orderdate, '%Y-%m-%d') AS date_id,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time,
        |  '120' || CAST(o_orderkey % 4 + 1 AS VARCHAR) AS appraise_code,
        |  'dic_120' || CAST(o_orderkey % 4 + 1 AS VARCHAR) AS appraise_name,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS ts
        |FROM orders WHERE o_orderkey % 6 = 2
        |ORDER BY id""".stripMargin,
    "dwd_user_register" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS user_id,
        |  strftime(DATE '1995-01-01' + CAST(c_custkey % 365 AS INTEGER), '%Y-%m-%d') AS date_id,
        |  strftime(DATE '1995-01-01' + CAST(c_custkey % 365 AS INTEGER), '%Y-%m-%d %H:%M:%S') AS create_time,
        |  CAST(epoch(DATE '1995-01-01' + CAST(c_custkey % 365 AS INTEGER)) AS BIGINT) AS ts
        |FROM customer WHERE c_custkey % 3 = 0
        |ORDER BY CAST(user_id AS BIGINT)""".stripMargin,
    "dwd_trade_order_detail" ->
      s"""$flagshipWideCte
         |SELECT * EXCLUDE (okey, odate) FROM wide
         |ORDER BY okey, order_detail_id, type""".stripMargin,
    "dwd_trade_order_add" ->
      s"""$flagshipWideCte
         |SELECT * EXCLUDE (okey, odate) FROM wide WHERE type = 'insert'
         |ORDER BY okey, order_detail_id""".stripMargin,
    "dwd_trade_pay_detail_suc" ->
      s"""$flagshipWideCte
         |SELECT order_detail_id, order_id, user_id, sku_id, province_id,
         |  activity_id, activity_rule_id, coupon_id,
         |  '110' || CAST(okey % 2 + 1 AS VARCHAR) AS payment_type_code,
         |  'dic_110' || CAST(okey % 2 + 1 AS VARCHAR) AS payment_type_name,
         |  strftime(odate + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS callback_time,
         |  source_id, source_type, sku_num, split_original_amount,
         |  split_activity_amount, split_coupon_amount,
         |  split_total_amount AS split_payment_amount,
         |  CAST(epoch(odate) AS BIGINT) AS ts
         |FROM wide WHERE okey % 9 = 0
         |ORDER BY okey, order_detail_id""".stripMargin,
    "dwd_trade_cart_add" ->
      """SELECT 'ct' || CAST(o_orderkey AS VARCHAR) AS id,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  CAST(o_orderkey % 200 AS VARCHAR) AS sku_id,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS cart_price,
        |  CAST(CASE WHEN o_orderkey % 7 = 1 THEN o_orderkey % 5 + 1
        |            ELSE o_orderkey % 4 + 1 END AS INTEGER) AS sku_num,
        |  'sku_' || CAST(o_orderkey % 200 AS VARCHAR) AS sku_name,
        |  CAST(o_orderkey % 2 AS VARCHAR) AS is_checked,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time,
        |  strftime(o_orderdate + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS operate_time,
        |  CAST(o_orderkey % 2 AS VARCHAR) AS is_ordered,
        |  strftime(o_orderdate + INTERVAL 2 DAY, '%Y-%m-%d %H:%M:%S') AS order_time,
        |  '240' || CAST(o_orderkey % 4 + 1 AS VARCHAR) AS source_type,
        |  CAST(o_orderkey % 100 AS VARCHAR) AS source_id,
        |  'dic_240' || CAST(o_orderkey % 4 + 1 AS VARCHAR) AS dic_name,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS ts
        |FROM orders WHERE o_orderkey % 7 IN (1, 2)
        |ORDER BY id""".stripMargin)
}
