package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.functions.Num._

/** DWD layer: deterministic adapter from the driver testdata onto the
  * gmall shapes (FIXTURES.md §7), then the reference's DWD semantics
  * in batch form.
  *
  * `pageLog` reproduces the whole DWD-log trio on one pass of `events`:
  *  - D4 new/returning correction (`BaseLogApp.java:64-101`): `is_new`
  *    = whether the event's date is the user's lifetime-first date.
  *  - D3 daily UV dedup (`DwdTrafficUniqueVisitorDetail.java:51-87`):
  *    `is_daily_first` marks the first event per (user, day).
  *  - Sessionization + C1 jump detection
  *    (`DwdTrafficUserJumpDetail.java:62-107`): a session starts after
  *    a 30-minute silence; a singleton session is a "jump". The batch
  *    form is lag/count over per-user windows — the streaming form
  *    (timers) lives in graft.streaming.
  *
  * `orderWide` is the 5-table order-detail wide row
  * (`DwdTradeOrderDetail.java:137-190`): fact-fact join on the order
  * key plus broadcast dimension decodes (J3/J4).
  *
  * Scale notes: pageLog's analytic windows shuffle once on user_id and
  * reuse that partitioning for all four window functions; orderWide
  * shuffles only for lineitem⋈orders (AQE-skew-safe) — part/customer/
  * nation are broadcast.
  */
object GmallDwd {
  val SessionGapMin = 30

  /** The reference materializes DWD as Kafka topics consumed by every
    * downstream app; the batch analog is computing each shared DWD
    * frame once per (session, dir) in [[Memo]], the store GmallDwdDb's
    * envelope also uses. 34 DWS/ADS queries read these three frames.
    *
    * Memo frames snapshot the parquet at first access: a process
    * that rewrites a dir (backfill) or cycles through many dirs must
    * call [[Memo.invalidate]] to drop the stale entries. */
  def pageLog(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "pageLog")(pageLogBuild(spark, dir))

  private def pageLogBuild(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val base = e.select(
      col("event_id"), col("user_id"), col("ts"), col("event_type"),
      regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast(LongType).as("k"),
      date_format(col("ts"), "yyyy-MM-dd").as("dt"),
      (dec2(col("value")) * 100).cast(LongType).as("during_time"))
    val attrs = base
      .withColumn("ch", concat(lit("ch"), col("k") % 4))
      .withColumn("vc", concat(lit("v"), col("k") % 3))
      .withColumn("ar", (col("user_id") % 7).cast(StringType))
      .withColumn("page_id",
        when(col("event_type") === "view", "home")
          .when(col("event_type") === "click", "good_detail")
          .when(col("event_type") === "purchase", "order")
          .when(col("event_type") === "signup", "register")
          .otherwise("mine"))
    // every flag derives from ONE window spec — partition by user_id,
    // order by (ts, event_id) — so the whole block is a single shuffle
    // + sort (dt is monotone in ts per user, so "first of day" is "day
    // changed vs previous event", and a 1-event session is "next event
    // opens a new session"):
    //  - is_daily_first ⟺ row_number() over (user_id, dt) = 1
    //  - first_dt       ⟺ min(dt) over (user_id)
    //  - is_jump        ⟺ count(*) over (user_id, session_id) = 1
    // The DuckDB oracle (pageLogCte) keeps the multi-window formulation;
    // the hash-equality of both is part of the correctness gate.
    val wUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val sess1 = attrs
      .withColumn("prev_ts", lag(col("ts"), 1).over(wUser))
      .withColumn("is_session_start",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr(s"INTERVAL $SessionGapMin MINUTES"), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("is_daily_first",
        when(lag(col("dt"), 1).over(wUser).isNull ||
          lag(col("dt"), 1).over(wUser) =!= col("dt"), lit(1L)).otherwise(lit(0L)))
      .withColumn("first_dt", first(col("dt")).over(
        wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sess2 = sess1.withColumn("session_id",
      sum(col("is_session_start")).over(wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess2
      .withColumn("is_jump",
        when(col("is_session_start") === 1 &&
          coalesce(lead(col("is_session_start"), 1).over(wUser), lit(1L)) === 1, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("is_new", when(col("dt") === col("first_dt"), "1").otherwise("0"))
      .drop("prev_ts")
  }

  /** Raw `topic_log` JSON fixture — the log lines
    * `BaseLogApp.java:41-62` consumes, synthesized deterministically
    * from `events` with every record family the five-way split routes
    * (common fields mirror [[pageLog]]'s attribute rules):
    *
    *  - view/click:  page records with `k % 3 + 1` `displays` entries
    *  - purchase:    page records with `k % 2 + 1` `actions` entries
    *  - signup:      `start` (app-launch) records — no page field
    *  - error:       records carrying an `err` payload
    *
    * to_json omits null fields, so each family's absent sections are
    * genuinely missing from the line, exactly what the parse side must
    * tolerate. */
  def logJson(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.select(
        col("user_id"), col("event_type"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast(LongType).as("k"),
        unix_millis(col("ts")).as("tsm"))
      .select(to_json(struct(
        struct(
          concat(lit("mid_"), col("user_id")).as("mid"),
          col("user_id").cast(StringType).as("uid"),
          concat(lit("v"), col("k") % 3).as("vc"),
          concat(lit("ch"), col("k") % 4).as("ch"),
          (col("user_id") % 7).cast(StringType).as("ar")).as("common"),
        when(col("event_type") =!= "signup", struct(
          when(col("event_type") === "view", "home")
            .when(col("event_type") === "click", "good_detail")
            .when(col("event_type") === "purchase", "order")
            .otherwise("mine").as("page_id"))).as("page"),
        when(col("event_type") === "signup", struct(
          element_at(array(lit("icon"), lit("notice"), lit("install")),
            (col("k") % 3).cast("int") + 1).as("entry"),
          (col("k") % 1000 + 500).as("loading_time"))).as("start"),
        when(col("event_type").isin("view", "click"), expr(
          "transform(sequence(0, CAST(k % 3 AS INT)), i -> named_struct(" +
            "'display_type', element_at(array('promotion','query','barrage','activity'), CAST((k + i) % 4 AS INT) + 1), " +
            "'item', concat('sku_', CAST((k * 7 + i) % 200 AS STRING)), " +
            "'item_type', 'sku_id', " +
            "'pos_id', CAST(i + 1 AS STRING)))")).as("displays"),
        when(col("event_type") === "purchase", expr(
          "transform(sequence(0, CAST(k % 2 AS INT)), i -> named_struct(" +
            "'action_id', element_at(array('cart_add','favor_add','get_coupon'), CAST((k + i) % 3 AS INT) + 1), " +
            "'item', concat('sku_', CAST((k * 5 + i) % 200 AS STRING)), " +
            "'item_type', 'sku_id', " +
            "'ts', tsm + (i + 1) * 1000))")).as("actions"),
        when(col("event_type") === "error", struct(
          concat(lit("30"), col("k") % 5).as("error_code"),
          concat(lit("err "), col("k") % 7).as("msg"))).as("err"),
        col("tsm").as("ts"))).as("value"))
  }

  /** Parsed clean `topic_log` frame, memoized per (session, dir): the
    * JSON synthesis + P1 parse run once and all four side-output
    * queries split from the same persisted pass — the batch analog of
    * the reference's one `topic_log` consumer group feeding BaseLog's
    * five outputs. */
  private def topicLog(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.LogStream
    Memo(spark, dir, "topicLog")(
      LogStream.clean(LogStream.parse(logJson(spark, dir), LogStream.pageLogSchema)))
  }

  private def splitBranch(spark: SparkSession, dir: String, branch: String): DataFrame =
    graft.streaming.LogStream.splitLog(topicLog(spark, dir))(branch)

  private def commonCols: Seq[Column] = Seq(
    col("common.mid").as("mid"), col("common.uid").as("uid"),
    col("common.ch").as("ch"), col("common.vc").as("vc"), col("common.ar").as("ar"))

  /** `BaseLogApp.java:134-147`'s display side output as a named
    * query: the raw JSON through P1 parse/quarantine → P10 five-way
    * split → the display branch, parent `page_id`/`ts` pushed into
    * every exploded element. Stateless codegen end to end (parse +
    * explode, no shuffle) — the oracle rebuilds the exploded rows
    * from `events` directly. */
  def displayLog(spark: SparkSession, dir: String): DataFrame =
    splitBranch(spark, dir, "display")
      .select(commonCols ++ Seq(col("page_id"), col("ts"),
        col("display_type"), col("item"), col("item_type"), col("pos_id")): _*)
      .orderBy(col("uid").cast(LongType), col("ts"), col("item"), col("pos_id"))

  /** `BaseLogApp.java:148-160`'s action side output: exploded actions
    * with the parent page_id; each action carries its OWN event time
    * (the reference pushes the page ts into timestamp-less actions at
    * generation; the fixture's actions are born with one). */
  def actionLog(spark: SparkSession, dir: String): DataFrame =
    splitBranch(spark, dir, "action")
      .select(commonCols ++ Seq(col("page_id"),
        col("action_id"), col("item"), col("item_type"), col("ts")): _*)
      .orderBy(col("uid").cast(LongType), col("ts"), col("item"))

  /** `BaseLogApp.java:109-116`'s start (app-launch) side output. */
  def startLog(spark: SparkSession, dir: String): DataFrame =
    splitBranch(spark, dir, "start")
      .select(commonCols ++ Seq(col("start.entry").as("entry"),
        col("start.loading_time").as("loading_time"), col("ts")): _*)
      .orderBy(col("uid").cast(LongType), col("ts"), col("entry"))

  /** `BaseLogApp.java:117-123`'s error side output (err records keep
    * their full payload in the reference; the named query projects the
    * error fields + identity, the analytical surface). */
  def errLog(spark: SparkSession, dir: String): DataFrame =
    splitBranch(spark, dir, "err")
      .select(commonCols ++ Seq(col("err.error_code").as("error_code"),
        col("err.msg").as("msg"), col("ts")): _*)
      .orderBy(col("uid").cast(LongType), col("ts"), col("error_code"))

  /** Shared DuckDB base for the side-output oracles: per-event common
    * fields, rebuilt from `events` alone. */
  private val logComCte: String =
    """log_com AS (
      |  SELECT 'mid_' || CAST(user_id AS VARCHAR) AS mid,
      |    CAST(user_id AS VARCHAR) AS uid,
      |    'ch' || CAST(k % 4 AS VARCHAR) AS ch,
      |    'v' || CAST(k % 3 AS VARCHAR) AS vc,
      |    CAST(user_id % 7 AS VARCHAR) AS ar,
      |    event_type, epoch_ms(ts) AS tsm, k
      |  FROM (
      |    SELECT user_id, ts, event_type,
      |      CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
      |    FROM events
      |  )
      |)""".stripMargin

  /** DuckDB rebuild of [[displayLog]] from `events` alone. */
  val displayLogSql: String =
    s"""WITH $logComCte
      |SELECT mid, uid, ch, vc, ar,
      |  CASE event_type WHEN 'view' THEN 'home' ELSE 'good_detail' END AS page_id,
      |  tsm AS ts,
      |  ['promotion','query','barrage','activity'][CAST((k + i) % 4 AS INTEGER) + 1] AS display_type,
      |  'sku_' || CAST((k * 7 + i) % 200 AS VARCHAR) AS item,
      |  'sku_id' AS item_type,
      |  CAST(i + 1 AS VARCHAR) AS pos_id
      |FROM log_com, UNNEST(range(0, k % 3 + 1)) t(i)
      |WHERE event_type IN ('view', 'click')
      |ORDER BY CAST(uid AS BIGINT), ts, item, pos_id""".stripMargin

  /** DuckDB rebuild of [[actionLog]]. */
  val actionLogSql: String =
    s"""WITH $logComCte
      |SELECT mid, uid, ch, vc, ar, 'order' AS page_id,
      |  ['cart_add','favor_add','get_coupon'][CAST((k + i) % 3 AS INTEGER) + 1] AS action_id,
      |  'sku_' || CAST((k * 5 + i) % 200 AS VARCHAR) AS item,
      |  'sku_id' AS item_type,
      |  tsm + (i + 1) * 1000 AS ts
      |FROM log_com, UNNEST(range(0, k % 2 + 1)) t(i)
      |WHERE event_type = 'purchase'
      |ORDER BY CAST(uid AS BIGINT), ts, item""".stripMargin

  /** DuckDB rebuild of [[startLog]]. */
  val startLogSql: String =
    s"""WITH $logComCte
      |SELECT mid, uid, ch, vc, ar,
      |  ['icon','notice','install'][CAST(k % 3 AS INTEGER) + 1] AS entry,
      |  k % 1000 + 500 AS loading_time,
      |  tsm AS ts
      |FROM log_com WHERE event_type = 'signup'
      |ORDER BY CAST(uid AS BIGINT), ts, entry""".stripMargin

  /** DuckDB rebuild of [[errLog]]. */
  val errLogSql: String =
    s"""WITH $logComCte
      |SELECT mid, uid, ch, vc, ar,
      |  '30' || CAST(k % 5 AS VARCHAR) AS error_code,
      |  'err ' || CAST(k % 7 AS VARCHAR) AS msg,
      |  tsm AS ts
      |FROM log_com WHERE event_type = 'error'
      |ORDER BY CAST(uid AS BIGINT), ts, error_code""".stripMargin

  /** 10s tumbling window bounds as strings (the DWS `stt`/`edt`). */
  def withStt(df: DataFrame): DataFrame = {
    val w = window(col("ts"), "10 seconds")
    df.withColumn("stt", date_format(w.getField("start"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("edt", date_format(w.getField("end"), "yyyy-MM-dd HH:mm:ss"))
  }

  /** The cached frame stores each distinct value once; the id/name
    * column pairs the gmall schema duplicates (spu_id = spu_name =
    * p_name, trademark_id = trademark_name, ...) are aliased back at
    * read time — a free projection that halves the cache footprint. */
  def orderWide(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "orderWide")(orderWideBuild(spark, dir))
      .select(
        col("order_id"), col("line_no"), col("user_id"), col("dt"),
        col("province_id"), col("province_name"),
        col("sku_id"),
        col("spu"). as("spu_id"), col("spu").as("spu_name"),
        col("tm").as("trademark_id"), col("tm").as("trademark_name"),
        col("cat3").as("category3_id"), col("cat3").as("category3_name"),
        col("cat2").as("category2_id"), col("cat2").as("category2_name"),
        col("cat1").as("category1_id"), col("cat1").as("category1_name"),
        col("origin_amount"), col("activity_reduce_amount"),
        col("coupon_reduce_amount"), col("split_total_amount"),
        col("l_returnflag"), col("o_orderstatus"))

  private def orderWideBuild(spark: SparkSession, dir: String): DataFrame =
    // broadcast-join plans keep scan parallelism end to end; fan the
    // fact scan out so the wide projection + cache build use all cores
    orderWideOn(Tables.spread(spark, Tables.lineitem(spark, dir)),
      Tables.orders(spark, dir), Tables.part(spark, dir),
      Tables.customer(spark, dir), Tables.nation(spark, dir))

  /** The J4 dim chain over explicit frames. Every join is
    * stream-compatible when only `li` streams: li ⋈ orders is a
    * stream-static equi-join and the three broadcast dim hops are
    * stateless lookups — the async-dim-join shape of
    * `DwsTradeTrademarkCategoryUserSpuOrderWindow.java:88-199`, so the
    * SAME chain serves the batch build and the streaming DWS window
    * (stream ≡ batch proven in FileStreamSpec). */
  private[graft] def orderWideOn(li: DataFrame, o: DataFrame, p: DataFrame,
                                 c: DataFrame, n: DataFrame): DataFrame = {
    val one = lit(1).cast(DecimalType(18, 2))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(p, li("l_partkey") === p("p_partkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        col("o_custkey").as("user_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"),
        col("c_nationkey").cast(StringType).as("province_id"),
        col("n_name").as("province_name"),
        col("l_partkey").cast(StringType).as("sku_id"),
        col("p_name").as("spu"),
        col("p_brand").as("tm"),
        col("p_type").as("cat3"),
        split(col("p_name"), " ").getItem(0).as("cat2"),
        split(col("p_name"), " ").getItem(1).as("cat1"),
        // products of (18,2)x(18,2) widen to precision 37 (16-byte,
        // byte-array-backed); values fit (18,4) with zero loss, which
        // keeps the cached columns long-backed - 5x cheaper to cache
        // and aggregate at sf0.1, same exactness
        dec2(col("l_extendedprice")).as("origin_amount"),
        dec4(dec2(col("l_extendedprice")) * dec2(col("l_discount"))).as("activity_reduce_amount"),
        dec4(dec2(col("l_extendedprice")) * dec2(col("l_tax"))).as("coupon_reduce_amount"),
        dec4(dec2(col("l_extendedprice")) * (one - dec2(col("l_discount")))).as("split_total_amount"),
        col("l_returnflag"),
        col("o_orderstatus"),
        // event-time passthrough for the streaming DWS window (the
        // batch wrapper's projection drops it)
        col("l_shipdate").as("ship_ts"))
  }

  /** Orders-level stream with lifetime-first markers (per user, and per
    * user among paid orders) — D5's state in batch form. */
  def ordersEnriched(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "ordersEnriched")(ordersEnrichedBuild(spark, dir))

  private def ordersEnrichedBuild(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val wUser = Window.partitionBy("o_custkey")
    o.select(
        col("o_orderkey"), col("o_custkey").as("user_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"),
        col("o_orderstatus"))
      .withColumn("first_dt", min(col("dt")).over(Window.partitionBy("user_id")))
      .withColumn("first_pay_dt",
        min(when(col("o_orderstatus") === "F", col("dt"))).over(Window.partitionBy("user_id")))
  }

  // ---------------------------------------------------------------
  // Oracle CTE prefixes (DuckDB SQL mirroring the transforms above).
  // ---------------------------------------------------------------

  /** WITH-clause body producing `page_log`. */
  val pageLogCte: String =
    s"""base AS (
       |  SELECT event_id, user_id, ts, event_type,
       |    CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS k,
       |    strftime(ts, '%Y-%m-%d') AS dt,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS during_time
       |  FROM events
       |), attrs AS (
       |  SELECT *,
       |    'ch' || CAST(k % 4 AS VARCHAR) AS ch,
       |    'v' || CAST(k % 3 AS VARCHAR) AS vc,
       |    CAST(user_id % 7 AS VARCHAR) AS ar,
       |    CASE event_type WHEN 'view' THEN 'home' WHEN 'click' THEN 'good_detail'
       |      WHEN 'purchase' THEN 'order' WHEN 'signup' THEN 'register' ELSE 'mine' END AS page_id
       |  FROM base
       |), sess1 AS (
       |  SELECT *,
       |    CASE WHEN lag(ts) OVER wu IS NULL
       |              OR ts > lag(ts) OVER wu + INTERVAL $SessionGapMin MINUTE
       |         THEN 1 ELSE 0 END AS is_session_start,
       |    CASE WHEN row_number() OVER (PARTITION BY user_id, dt ORDER BY ts, event_id) = 1
       |         THEN 1 ELSE 0 END AS is_daily_first,
       |    min(dt) OVER (PARTITION BY user_id) AS first_dt
       |  FROM attrs WINDOW wu AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), sess2 AS (
       |  SELECT *, SUM(is_session_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM sess1
       |), page_log AS (
       |  SELECT *,
       |    CASE WHEN is_session_start = 1
       |              AND COUNT(*) OVER (PARTITION BY user_id, session_id) = 1
       |         THEN 1 ELSE 0 END AS is_jump,
       |    CASE WHEN dt = first_dt THEN '1' ELSE '0' END AS is_new,
       |    strftime(time_bucket(INTERVAL 10 SECOND, ts), '%Y-%m-%d %H:%M:%S') AS stt,
       |    strftime(time_bucket(INTERVAL 10 SECOND, ts) + INTERVAL 10 SECOND, '%Y-%m-%d %H:%M:%S') AS edt
       |  FROM sess2
       |)""".stripMargin

  /** WITH-clause body producing `order_wide`. */
  val orderWideCte: String =
    """order_wide AS (
      |  SELECT l_orderkey AS order_id, l_linenumber AS line_no, o_custkey AS user_id,
      |    strftime(o_orderdate, '%Y-%m-%d') AS dt,
      |    CAST(c_nationkey AS VARCHAR) AS province_id, n_name AS province_name,
      |    CAST(l_partkey AS VARCHAR) AS sku_id, p_name AS spu_id, p_name AS spu_name,
      |    p_brand AS trademark_id, p_brand AS trademark_name,
      |    p_type AS category3_id, p_type AS category3_name,
      |    string_split(p_name, ' ')[1] AS category2_id, string_split(p_name, ' ')[1] AS category2_name,
      |    string_split(p_name, ' ')[2] AS category1_id, string_split(p_name, ' ')[2] AS category1_name,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS origin_amount,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS activity_reduce_amount,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS coupon_reduce_amount,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS split_total_amount,
      |    l_returnflag, o_orderstatus
      |  FROM lineitem
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN part ON l_partkey = p_partkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation ON c_nationkey = n_nationkey
      |)""".stripMargin

  /** WITH-clause body producing `orders_enriched`. */
  val ordersEnrichedCte: String =
    """orders_enriched AS (
      |  SELECT o_orderkey, o_custkey AS user_id,
      |    strftime(o_orderdate, '%Y-%m-%d') AS dt, o_orderstatus,
      |    min(strftime(o_orderdate, '%Y-%m-%d')) OVER (PARTITION BY o_custkey) AS first_dt,
      |    min(CASE WHEN o_orderstatus = 'F' THEN strftime(o_orderdate, '%Y-%m-%d') END)
      |      OVER (PARTITION BY o_custkey) AS first_pay_dt
      |  FROM orders
      |)""".stripMargin
}
