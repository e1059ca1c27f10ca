package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.functions.Num._

/** Core relational operators (SURVEY.md §2.2/§2.3/§2.6/§2.9), re-expressed
  * Spark-first over the driver testdata star schema.
  *
  * Every query here is the batch form of a reference operator:
  *  - P1  JSON parse + dirty-record quarantine   (`BaseLogApp.java:41-62`)
  *  - P2/P3 payload projection + slice filter    (`DwdTradeOrderDetail.java:32-51`)
  *  - P5  conditional delta                      (`DwdTradeCartAdd.java:43`)
  *  - P12 date/time scalar functions             (`utils/DateFormatUtil.java:14-39`)
  *  - J1  big-big equi-join                      (`DwdTradeOrderDetail.java:182-184`)
  *  - J2  left outer join                        (`DwdTradeOrderDetail.java:185-188`)
  *  - J3  broadcast dictionary decode            (`DwdTradeOrderDetail.java:189-190`)
  *  - J4  chained star-schema enrichment (6 hops) (`DwsTradeTrademarkCategoryUserSpuOrderWindow.java:88-199`)
  *  - J6  interval join                          (`DataStreamJoinTest.java:48-56`)
  *  - J7  full outer join of two aggregates      (`CommodityStatsMapper.java:27-35`)
  *  - M4  UNION ALL with literal tags            (`TradeStatsMapper.java:18-37`)
  *
  * Scale notes (100 TB design): fact-fact joins shuffle on their join
  * key and rely on AQE for skew; no join carries a hint: a dimension
  * broadcasts while its scan size fits the planner's threshold and
  * shuffles when it outgrows it (SCALE.md "Join strategy");
  * filters/projections stay in the initial select so Catalyst pushes
  * them into the parquet scan.
  */
object Relational {

  /** W1/ADS shape: multi-metric grouped aggregation with exact decimal math. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_base_price"),
        dsum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount")))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** P2/P3/P12: slice filter + projection + date functions; pushed to the scan. */
  def filterProject(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 1000.0)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_dt"),
        year(col("o_orderdate")).cast(LongType).as("order_year"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** P5: conditional delta (insert => +qty, else qty - old.qty analog). */
  def conditionalDelta(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(col("user_id"))
      .agg(
        dsum(when(col("event_type") === "purchase", dec2(col("value")))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).as("purchase_amount"),
        dsum(when(col("event_type") === "purchase", dec2(col("value")))
          .when(col("event_type") === "error", -dec2(col("value")))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).as("net_amount"),
        count(lit(1)).as("event_ct"))
      .orderBy(col("user_id"))
  }

  /** P1: JSON parse with dirty-data quarantine semantics — `from_json`
    * yields null on corrupt input; nulls counted separately (the
    * reference's side-output tag "Dirty", `DimApp.java:39-55`). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val parsed = e.select(
      col("event_id"),
      from_json(col("props"), StructType(Seq(StructField("k", LongType)))).as("j"))
    parsed.select(col("event_id"), col("j").getField("k").as("k"))
      .withColumn("is_dirty", when(col("k").isNull, lit(1L)).otherwise(lit(0L)))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("ct"), sum(col("is_dirty")).as("dirty_ct"))
      .orderBy(col("k_bucket"))
  }

  /** J1: fact-fact inner equi-join, aggregated per order BEFORE the
    * join (r18, guide §2.3 "aggregate before you shuffle" / §3): the
    * straight join+groupBy planned a two-key distinct aggregation —
    * partial agg on (status, orderkey), an exchange carrying every
    * order-level group, a merge, a second exchange — because
    * `countDistinct(o_orderkey)` forces the distinct key into the
    * grouping. Pre-aggregating lineitem by l_orderkey first makes the
    * order key unique, so the distinct count degenerates to a plain
    * `count(*)` over order-level rows: the join probes order-level
    * rows instead of line-level ones and the whole distinct machinery
    * (4 HashAggregate levels) disappears. Decimal revenue sums are
    * exact under re-association, so the result is bit-identical to the
    * single-level oracle. */
  def innerJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    // the per-order partial stays DECIMAL (dsum would cast to DOUBLE,
    // making the outer re-sum order-dependent); only the final dsum
    // surfaces the exact grand total as DOUBLE
    val perOrder = li.groupBy(col("l_orderkey"))
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount")))).as("rev"),
        count(lit(1)).as("lc"))
    perOrder.join(o, col("l_orderkey") === o("o_orderkey"), "inner")
      .groupBy(col("o_orderstatus"))
      .agg(
        dsum(col("rev")).as("revenue"),
        count(lit(1)).as("order_ct"),
        sum(col("lc")).as("line_ct"))
      .orderBy(col("o_orderstatus"))
  }

  /** J2: left outer join preserving customers without orders. */
  def leftJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("order_ct"),
        countDistinct(col("c_custkey")).as("customer_ct"),
        sum(when(col("o_orderkey").isNull, lit(1L)).otherwise(lit(0L))).as("orderless_ct"))
      .orderBy(col("c_mktsegment"))
  }

  /** J3: broadcast dictionary decode (lookup-join analog — the dim
    * snapshot is broadcast, replacing the reference's Redis/JDBC cache). */
  def broadcastDimDecode(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(s, li("l_suppkey") === s("s_suppkey"))
      .join(n, s("s_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum2(col("l_extendedprice")).as("gross"),
        count(lit(1)).as("line_ct"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** J4: 6-hop chained star enrichment (sku→spu→tm→cat3→cat2→cat1 analog):
    * one fact, five broadcast dims. Aggregated by (orderkey, brand)
    * BEFORE the order→customer→nation→region chain (r18, guide §2.3):
    * the region name is functionally determined by the order key
    * through that chain, so distinct orders per (region, brand) equal
    * the count of level-1 (orderkey, brand) groups — the shuffle
    * carries (orderkey, brand, decimal sum) instead of every line-level
    * (r_name, brand, orderkey) distinct-agg row, and the `countDistinct`
    * machinery (4 HashAggregate levels) collapses to plain counts. Only
    * the part join (the brand source) runs at line grain. */
  def starChain(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val p = Tables.part(spark, dir)
    val perOrderBrand = li
      .join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("l_orderkey"), col("p_brand"))
      // DECIMAL partial (not dsum) — see innerJoinAgg
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount")))).as("rev"))
    perOrderBrand
      .join(o, col("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("p_brand"))
      .agg(
        dsum(col("rev")).as("revenue"),
        count(lit(1)).as("order_ct"))
      .orderBy(col("r_name"), col("p_brand"))
  }

  /** J6: interval join — per-user (click, purchase) pairs within 5 minutes.
    * Equi-key on user_id bounds the range scan; the time predicate
    * rides along as a post-join filter on the shuffled pairs. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("value").as("pv"))
    clicks.join(buys,
        col("cu") === col("pu") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 5 MINUTES"))
      .groupBy(col("cu").as("user_id"))
      .agg(count(lit(1)).as("pair_ct"), dsum2(col("pv")).as("paired_amount"))
      .orderBy(col("user_id"))
  }

  /** J7: full outer join of two aggregated subqueries (order stats ⟗ balance stats). */
  def fullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val orderStats = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey").as("nk1"))
      .agg(count(lit(1)).as("order_ct"), dsum2(col("o_totalprice")).as("order_amount"))
    val balStats = c.filter(col("c_acctbal") > 5000)
      .groupBy(col("c_nationkey").as("nk2"))
      .agg(count(lit(1)).as("rich_ct"))
    orderStats.join(balStats, col("nk1") === col("nk2"), "full_outer")
      .select(
        coalesce(col("nk1"), col("nk2")).as("nationkey"),
        coalesce(col("order_ct"), lit(0L)).as("order_ct"),
        coalesce(col("order_amount"), lit(0.0)).as("order_amount"),
        coalesce(col("rich_ct"), lit(0L)).as("rich_ct"))
      .orderBy(col("nationkey"))
  }

  /** Semi/anti joins (beyond the reference's surface, standard at scale). */
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("active_ct"))
    val noOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("inactive_ct"))
    withOrders.join(noOrders, Seq("c_nationkey"), "full_outer")
      .select(
        col("c_nationkey").as("nationkey"),
        coalesce(col("active_ct"), lit(0L)).as("active_ct"),
        coalesce(col("inactive_ct"), lit(0L)).as("inactive_ct"))
      .orderBy(col("nationkey"))
  }

  /** ADS top-k: group + order by metric desc + deterministic tiebreak + limit. */
  def topK(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(dsum2(col("l_extendedprice")).as("revenue"), count(lit(1)).as("line_ct"))
      .orderBy(col("revenue").desc, col("p_brand"))
      .limit(10)
  }

  /** M4: UNION ALL with literal type tags (`TradeStatsMapper.java:18-37`). */
  def unionAllTags(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val e = Tables.events(spark, dir)
    val a = o.agg(count(lit(1)).as("ct")).select(lit("order").as("kind"), col("ct"))
    val b = e.filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("ct")).select(lit("purchase_event").as("kind"), col("ct"))
    val c = e.filter(col("event_type") === "signup")
      .agg(count(lit(1)).as("ct")).select(lit("signup_event").as("kind"), col("ct"))
    a.unionByName(b).unionByName(c).orderBy(col("kind"))
  }

  /** Skew-mitigated aggregation as a NAMED query: the salted two-phase
    * plan must equal the plain `GROUP BY` oracle exactly (decimal math
    * keeps the double conversion order-independent). event_type is the
    * natural hot key — a handful of values over the whole fact table,
    * precisely the shape that melts one reducer unsalted. */
  def skewSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedSumCount(
        Tables.events(spark, dir).select(col("event_type"), dec2(col("value")).as("v")),
        keys = Seq("event_type"), sumCols = Seq("v"), countName = "cnt")
      .select(col("event_type"), col("cnt"), col("sum_v").cast(DoubleType).as("sum_value"))
      .orderBy(col("event_type"))

  /** Skew-mitigated fact-dim equi-join as a NAMED query (the right side
    * is replicated `salts` ways instead of broadcast — the move for a
    * dim too large to broadcast under a skewed fact key). */
  def skewSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"), dec2(col("value")).as("v"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    Skew.saltedJoin(e, c, Seq("user_id"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("pair_ct"), dsum(col("v")).as("sum_value"))
      .orderBy(col("c_mktsegment"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> q1PricingSummary,
    "skew_salted_agg" -> skewSaltedAgg,
    "skew_salted_join" -> skewSaltedJoin,
    "p_filter_project" -> filterProject,
    "p_conditional_delta" -> conditionalDelta,
    "p_json_extract" -> jsonExtract,
    "j1_inner_join_agg" -> innerJoinAgg,
    "j2_left_join" -> leftJoin,
    "j3_broadcast_dim_decode" -> broadcastDimDecode,
    "j4_star_chain" -> starChain,
    "j6_interval_join" -> intervalJoin,
    "j7_full_outer_join" -> fullOuterJoin,
    "j_semi_anti" -> semiAntiJoin,
    "ads_topk_brand" -> topK,
    "m4_union_all_tags" -> unionAllTags)

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "skew_salted_agg" ->
      """SELECT event_type, COUNT(*) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "skew_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS pair_ct,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "p_filter_project" ->
      """SELECT o_orderkey, o_custkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_dt,
        | CAST(year(o_orderdate) AS BIGINT) AS order_year,
        | o_orderpriority
        |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 1000.0
        |ORDER BY o_orderkey""".stripMargin,
    "p_conditional_delta" ->
      """SELECT user_id,
        | CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_amount,
        | CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) WHEN event_type = 'error' THEN -CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS net_amount,
        | COUNT(*) AS event_ct
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "p_json_extract" ->
      """WITH parsed AS (
        | SELECT event_id, CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k FROM events
        |)
        |SELECT k % 10 AS k_bucket, COUNT(*) AS ct,
        | CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dirty_ct
        |FROM parsed GROUP BY k % 10 ORDER BY k_bucket""".stripMargin,
    "j1_inner_join_agg" ->
      """SELECT o_orderstatus,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(DISTINCT o_orderkey) AS order_ct,
        | COUNT(*) AS line_ct
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "j2_left_join" ->
      """SELECT c_mktsegment,
        | COUNT(o_orderkey) AS order_ct,
        | COUNT(DISTINCT c_custkey) AS customer_ct,
        | CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orderless_ct
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "j3_broadcast_dim_decode" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross,
        | COUNT(*) AS line_ct
        |FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "j4_star_chain" ->
      """SELECT r_name, p_brand,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(DISTINCT o_orderkey) AS order_ct
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | JOIN part ON l_partkey = p_partkey
        |GROUP BY r_name, p_brand ORDER BY r_name, p_brand""".stripMargin,
    "j6_interval_join" ->
      """SELECT c.user_id AS user_id, COUNT(*) AS pair_ct,
        | CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS paired_amount
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        | ON c.user_id = p.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 5 MINUTE
        |GROUP BY c.user_id ORDER BY user_id""".stripMargin,
    "j7_full_outer_join" ->
      """WITH os AS (
        |  SELECT c_nationkey AS nk1, COUNT(*) AS order_ct,
        |   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_nationkey
        |), bs AS (
        |  SELECT c_nationkey AS nk2, COUNT(*) AS rich_ct
        |  FROM customer WHERE c_acctbal > 5000 GROUP BY c_nationkey
        |)
        |SELECT COALESCE(nk1, nk2) AS nationkey,
        | COALESCE(order_ct, 0) AS order_ct,
        | COALESCE(order_amount, 0.0) AS order_amount,
        | COALESCE(rich_ct, 0) AS rich_ct
        |FROM os FULL OUTER JOIN bs ON nk1 = nk2 ORDER BY nationkey""".stripMargin,
    "j_semi_anti" ->
      """WITH a AS (
        |  SELECT c_nationkey, COUNT(*) AS active_ct FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM orders) GROUP BY c_nationkey
        |), i AS (
        |  SELECT c_nationkey, COUNT(*) AS inactive_ct FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) GROUP BY c_nationkey
        |)
        |SELECT COALESCE(a.c_nationkey, i.c_nationkey) AS nationkey,
        | COALESCE(active_ct, 0) AS active_ct,
        | COALESCE(inactive_ct, 0) AS inactive_ct
        |FROM a FULL OUTER JOIN i ON a.c_nationkey = i.c_nationkey
        |ORDER BY nationkey""".stripMargin,
    "ads_topk_brand" ->
      """SELECT p_brand,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS line_ct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY revenue DESC, p_brand LIMIT 10""".stripMargin,
    "m4_union_all_tags" ->
      """SELECT * FROM (
        | SELECT 'order' AS kind, COUNT(*) AS ct FROM orders
        | UNION ALL
        | SELECT 'purchase_event' AS kind, COUNT(*) AS ct FROM events WHERE event_type = 'purchase'
        | UNION ALL
        | SELECT 'signup_event' AS kind, COUNT(*) AS ct FROM events WHERE event_type = 'signup'
        |) ORDER BY kind""".stripMargin)
}
