package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.streaming.LogStream

/** SCD type-2 dimension history and the as-of join that consumes it.
  *
  * The reference's DIM layer keeps only the latest row per key
  * (`TableProcessFunction.java:57-163` upserts into Phoenix; history is
  * lost on every update). A warehouse user asking "what was the order
  * status when this detail shipped?" needs the version history — the
  * standard SCD2 shape: one row per (key, version) with a
  * `[valid_from, valid_to)` interval, closed by the next version's
  * start. This module derives that history from the same Maxwell CDC
  * envelope the `dwd_*` queries parse (`GmallDwdDb.envelope`), then
  * joins facts to the version valid at their event time.
  *
  * Scale shape:
  *  - History build: ONE shuffle on the dim key for the
  *    `row_number`/`lead` window; per-key groups are the key's version
  *    count (CDC updates per row — single digits in practice), so the
  *    in-key sort is trivial and no key is meaningfully skewed.
  *  - As-of join: the interval predicate rides a LEFT join whose equi
  *    component is the dim key, so Catalyst plans a shuffled
  *    hash/sort-merge join on the key with the interval as a residual
  *    condition — never a nested-loop. Version intervals per key are
  *    disjoint and contiguous, so each fact matches AT MOST one version
  *    (no post-join dedup), and facts older than the first version
  *    surface as explicit `n/a` rows instead of silently dropping.
  * Both shapes survive 100×: the history is O(CDC volume), the join
  * shuffles fact rows once on a key they already carry.
  *
  * Timestamps ride as `yyyy-MM-dd HH:mm:ss` strings end-to-end:
  * lexicographic order IS chronological order for this format, both
  * engines compare bytes, and no timezone conversion can diverge.
  *
  * Relation to [[AsOf.asOfJoin]]: that operator matches the latest
  * EVENT at or before t via a union + sort-carry (one shuffle, no
  * history table); this one matches against materialized SCD2
  * INTERVALS, which additionally distinguishes "before the first
  * version" from "in the first version" and keys the join on an
  * equi column, letting facts reuse an existing history table.
  */
object Scd2 {

  private def d(field: String): Column = col("data").getItem(field)

  /** Open-interval sentinel for the current version (string-max in the
    * pinned timestamp format, so interval predicates need no null
    * handling). */
  val EndOfTime = "9999-12-31 00:00:00"

  /** SCD2 history of `order_info.order_status`: one row per
    * (order_id, version), versions ordered by (`operate_time`, type,
    * status) — the fixture's insert carries the order date, each status
    * update the following day, `'insert' < 'update'` breaks the tie if
    * a source ever stamps both with one time, and `order_status` is the
    * final deterministic tiebreak for two updates sharing a timestamp
    * (which would otherwise version-number nondeterministically and
    * emit an empty [t,t) interval in arbitrary order). */
  def orderStatusHistoryOn(env: DataFrame): DataFrame = {
    // builds on versionEventsOn so the batch history and the streaming
    // maintenance path provably read the SAME projection
    val w = Window.partitionBy(col("order_id"))
      .orderBy(col("valid_from"), col("typ"), col("order_status"))
    versionEventsOn(env).toDF()
      .withColumn("version_num", row_number().over(w).cast(LongType))
      .withColumn("valid_to",
        coalesce(lead(col("valid_from"), 1).over(w), lit(EndOfTime)))
      .withColumn("is_current", (col("valid_to") === EndOfTime).cast(LongType))
      .select(col("order_id"), col("version_num"), col("user_id"),
        col("order_status"), col("valid_from"), col("valid_to"),
        col("is_current"))
  }

  /** Shared per (session, dir) via [[Memo]] (checkpoint, r18):
    * the history is read by the as-of consumer and the spec; the named
    * `dim_scd2_order_status` query runs its own window pass per action
    * (the frame IS that query's output, so a CacheManager persist
    * would substitute itself back into the named query's timed plan). */
  private def historyShared(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "scd2.orderStatusHistory")(
      orderStatusHistoryOn(GmallDwdDb.envelope(spark, dir)))

  def orderStatusHistory(spark: SparkSession, dir: String): DataFrame =
    orderStatusHistoryOn(GmallDwdDb.envelope(spark, dir))
      .orderBy(col("order_id"), col("version_num"))

  /** Keyed as-of join: each fact row gets the single `hist` version
    * whose `[valid_from, valid_to)` interval contains `t`. `hist` must
    * be an SCD2 frame (disjoint contiguous intervals per key) — then
    * the LEFT join matches ≤ 1 version per fact and facts before the
    * first version keep null version columns. */
  def asOfJoin(facts: DataFrame, hist: DataFrame, key: String,
               t: Column): DataFrame =
    facts.join(hist,
      facts(key) === hist(key) &&
        t >= hist("valid_from") && t < hist("valid_to"),
      "left")
      .drop(hist(key))

  /** Every order_detail insert joined AS OF its `create_time` to the
    * order-status version then in effect: the fixture's details ride
    * `l_shipdate` (≥ order date + 1 day), so orders with a status
    * update resolve to version 2 while untouched orders stay on
    * version 1 — both paths exercised on real data. */
  /** `hist` defaults to a fresh history build; the named query passes
    * the memoized frame instead — ONE body either way. */
  def orderDetailAsOfOn(env: DataFrame, hist0: DataFrame = null): DataFrame = {
    val details = GmallDwdDb.orderDetailSliceOn(env)
      .select(col("order_detail_id"),
        col("order_id").cast(LongType).as("order_id"),
        col("order_create_time"))
    val hist = Option(hist0).getOrElse(orderStatusHistoryOn(env))
      .select(col("order_id"), col("version_num"), col("order_status"),
        col("valid_from"), col("valid_to"))
    asOfJoin(details, hist, "order_id", col("order_create_time"))
      .select(col("order_detail_id"), col("order_id"),
        col("order_create_time"),
        coalesce(col("order_status"), lit("n/a")).as("asof_status"),
        coalesce(col("version_num"), lit(0L)).as("asof_version"))
  }

  def orderDetailAsOf(spark: SparkSession, dir: String): DataFrame =
    orderDetailAsOfOn(GmallDwdDb.envelope(spark, dir), historyShared(spark, dir))
      .orderBy(col("order_detail_id"))

  // ------------------------------------------------------------------
  // Streaming maintenance
  // ------------------------------------------------------------------

  /** One order_info version as it arrives on the CDC stream. */
  case class VersionEvent(order_id: Long, user_id: String,
                          order_status: String, valid_from: String,
                          typ: String)

  /** One SCD2 version-row upsert emitted by [[versionStream]]. */
  case class VersionRow(order_id: Long, version_num: Long, user_id: String,
                        order_status: String, valid_from: String,
                        valid_to: String)

  /** State of [[versionStream]]: the key's last version only. (Public:
    * codegen'd encoders construct the class from generated Java, which
    * cannot see a Scala-private nested class.) */
  case class LastVersion(ver: Long, user_id: String,
                         order_status: String, valid_from: String)

  private implicit val eventEnc: Encoder[VersionEvent] = Encoders.product[VersionEvent]
  private implicit val rowEnc: Encoder[VersionRow] = Encoders.product[VersionRow]
  private implicit val stateEnc: Encoder[LastVersion] = Encoders.product[LastVersion]
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /** The envelope's order_info versions as a typed event stream (works
    * on the batch envelope and on `readStream` micro-batches alike). */
  def versionEventsOn(env: DataFrame): Dataset[VersionEvent] =
    LogStream.cdcSlice(env, "order_info", Seq("insert", "update"))
      .select(d("id").cast(LongType).as("order_id"),
        d("user_id").as("user_id"),
        d("order_status").as("order_status"),
        d("operate_time").as("valid_from"),
        col("type").as("typ"))
      .as[VersionEvent]

  /** Streaming SCD2 maintenance: each arriving version emits its own
    * OPEN row (valid_to = [[EndOfTime]]) plus the corrected CLOSED row
    * of its predecessor — the upsert-topic shape (K2). The sink keeps,
    * per (order_id, version_num), the row with the SMALLEST valid_to
    * (a correction always shrinks it), which reconstructs the batch
    * history deterministically with no arrival sequence numbers.
    *
    * State is O(1) per key (the last version only), the same keyspace
    * the reference's Phoenix dim table holds — semantically unbounded
    * like D4's last-visit state; at 100 TB back it with a compacted
    * snapshot, not a TTL (closing a version is meaningful no matter
    * how much later the next CDC mutation arrives). Requires per-key
    * in-order delivery ACROSS micro-batches (Kafka key-partitioning
    * provides it); within a batch the group iterator is sorted by
    * (valid_from, typ), so same-batch arrivals are deterministic. */
  private val versionFunc:
      (Long, Iterator[VersionEvent], GroupState[LastVersion]) => Iterator[VersionRow] = {
    (oid: Long, it: Iterator[VersionEvent], state: GroupState[LastVersion]) =>
      val sorted = it.toSeq.sortBy(e => (e.valid_from, e.typ, e.order_status))
      var last = state.getOption.orNull
      val out = Seq.newBuilder[VersionRow]
      sorted.foreach { e =>
        val k = (if (last == null) 0L else last.ver) + 1L
        if (last != null)
          out += VersionRow(oid, last.ver, last.user_id,
            last.order_status, last.valid_from, e.valid_from)
        out += VersionRow(oid, k, e.user_id, e.order_status,
          e.valid_from, EndOfTime)
        last = LastVersion(k, e.user_id, e.order_status, e.valid_from)
      }
      if (last != null) state.update(last)
      out.result().iterator
  }

  def versionStream(events: Dataset[VersionEvent]): Dataset[VersionRow] =
    events.groupByKey(_.order_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(versionFunc)

  /** Per-key compacted-snapshot record of [[versionStream]]'s state:
    * the open version row, one per order. */
  case class VersionSnapshot(order_id: Long, ver: Long, user_id: String,
                             order_status: String, valid_from: String)
  private implicit val versionSnapshotEnc: Encoder[VersionSnapshot] =
    Encoders.product[VersionSnapshot]

  /** Compacted snapshot of a [[versionStream]] checkpoint's keyed
    * state (the `statestore` batch source, last committed batch) —
    * the same 100 TB answer [[graft.streaming.Stateful.visitStateSnapshot]]
    * proves for D4: SCD2's open-version state is SEMANTICALLY
    * unbounded (closing a version is meaningful no matter how much
    * later the next CDC mutation lands, so no TTL is sound); instead
    * of dragging one ever-growing checkpoint across every restart,
    * snapshot to columnar on a schedule, compact offline (retention,
    * churned keys), and bootstrap the next incarnation via
    * [[versionStreamFrom]]. StreamRecoverySpec proves cut ≡ uncut
    * with a diverging no-bootstrap control. */
  def versionStateSnapshot(spark: SparkSession,
                           checkpoint: String): Dataset[VersionSnapshot] =
    spark.read.format("statestore").load(checkpoint)
      .select("key.value", "value.groupState.ver", "value.groupState.user_id",
        "value.groupState.order_status", "value.groupState.valid_from")
      .toDF("order_id", "ver", "user_id", "order_status", "valid_from")
      .as[VersionSnapshot]

  /** [[versionStream]] bootstrapped from a compacted snapshot: a FRESH
    * query whose first batch seeds each order's [[LastVersion]] from
    * `snapshot` through the initial-state plumbing — and the update
    * function is THE SAME value as [[versionStream]]'s, so the two
    * entry points cannot drift. */
  def versionStreamFrom(events: Dataset[VersionEvent],
                        snapshot: Dataset[VersionSnapshot]): Dataset[VersionRow] = {
    val init = snapshot.groupByKey(_.order_id)
      .mapValues(s => LastVersion(s.ver, s.user_id, s.order_status, s.valid_from))
    events.groupByKey(_.order_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout, init)(versionFunc)
  }

  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dim_scd2_order_status" -> ((s, d) => orderStatusHistory(s, d)),
    "dwd_order_detail_asof" -> ((s, d) => orderDetailAsOf(s, d)))

  /** Shared version-history CTE: the envelope's order_info rows rebuilt
    * from `orders` with the fixture's modulus rules (insert 1001 at the
    * order date; o%20 ∈ {3,13} → 1005 and {7,17} → 1003 one day later),
    * then the same row_number/lead window as the engine. */
  private val histCte: String =
    s"""v AS (
       |  SELECT o_orderkey AS order_id, CAST(o_custkey AS VARCHAR) AS user_id,
       |         '1001' AS order_status,
       |         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
       |         'insert' AS typ
       |  FROM orders
       |  UNION ALL
       |  SELECT o_orderkey, CAST(o_custkey AS VARCHAR),
       |         CASE WHEN o_orderkey % 20 IN (3,13) THEN '1005' ELSE '1003' END,
       |         strftime(o_orderdate + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S'),
       |         'update'
       |  FROM orders WHERE o_orderkey % 20 IN (3,7,13,17)
       |), hist AS (
       |  SELECT order_id, user_id, order_status, valid_from,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY order_id ORDER BY valid_from, typ, order_status) AS BIGINT) AS version_num,
       |    COALESCE(LEAD(valid_from) OVER (PARTITION BY order_id ORDER BY valid_from, typ, order_status),
       |             '$EndOfTime') AS valid_to
       |  FROM v
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dim_scd2_order_status" ->
      s"""WITH $histCte
         |SELECT order_id, version_num, user_id, order_status, valid_from, valid_to,
         |  CAST(CASE WHEN valid_to = '$EndOfTime' THEN 1 ELSE 0 END AS BIGINT) AS is_current
         |FROM hist ORDER BY order_id, version_num""".stripMargin,
    "dwd_order_detail_asof" ->
      s"""WITH $histCte,
         |od AS (
         |  SELECT l_orderkey AS okey, l_linenumber AS lno, l_shipdate AS sdate,
         |         ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
         |           ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice,
         |                    l_discount, l_tax, l_shipdate) AS rn
         |  FROM lineitem WHERE l_orderkey % 3 = 0
         |), f AS (
         |  SELECT 'd' || CAST(okey AS VARCHAR) || '-' || CAST(lno AS VARCHAR) || '-' || CAST(rn AS VARCHAR) AS order_detail_id,
         |         okey AS order_id,
         |         strftime(sdate, '%Y-%m-%d %H:%M:%S') AS order_create_time
         |  FROM od
         |)
         |SELECT f.order_detail_id, f.order_id, f.order_create_time,
         |  COALESCE(hist.order_status, 'n/a') AS asof_status,
         |  CAST(COALESCE(hist.version_num, 0) AS BIGINT) AS asof_version
         |FROM f LEFT JOIN hist
         |  ON f.order_id = hist.order_id
         | AND f.order_create_time >= hist.valid_from
         | AND f.order_create_time < hist.valid_to
         |ORDER BY f.order_detail_id""".stripMargin)
}
