package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Data-governance operators: the user-erasure ("right to be
  * forgotten") cascade report — given a deterministic victim set of
  * users, how many rows each table loses, including the indirect
  * cascade (a victim's orders take their lineitems with them).
  *
  * Scale shape: the victim set is a filtered key projection (tiny
  * relative to the corpus) and BROADCASTS into every per-table
  * semi-join probe; the cascade hop (orders → lineitem) joins on the
  * order key with the doomed-order side again broadcast-sized. No
  * table ever shuffles for the report — each is scanned once and
  * probed row-by-row, which is exactly the shape the actual erasure
  * rewrite job would use (anti-join instead of semi-join, same
  * probes). Counts are exact, so the report doubles as the post-delete
  * audit record.
  */
object Governance {

  /** Deterministic victim selection: every 97th customer key. A real
    * run swaps this for the request queue; everything downstream is
    * shape-identical. */
  private val VictimModulus = 97

  private[graft] def victims(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_custkey") % VictimModulus === 0)
      .select(col("c_custkey").as("uid"))

  /** Per-table erasure impact: total rows, rows erased (direct victim
    * rows, plus the order→lineitem cascade), rows kept. */
  def erasureReport(spark: SparkSession, dir: String): DataFrame = {
    val v = victims(spark, dir)

    val customer = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val events = Tables.events(spark, dir)

    // a semi join (uid is unique): it keeps the orders side's size estimate
    val doomed = orders.join(v, orders("o_custkey") === v("uid"), "left_semi")
    val doomedOrders = doomed.select(col("o_orderkey"))

    def row(name: String, total: DataFrame, erased: DataFrame): DataFrame = {
      val t = total.agg(count(lit(1)).as("total_rows"))
      val e = erased.agg(count(lit(1)).as("rows_erased"))
      t.crossJoin(e).select(
        lit(name).as("table_name"), col("total_rows"), col("rows_erased"),
        (col("total_rows") - col("rows_erased")).as("rows_kept"))
    }

    row("customer", customer,
        customer.join(v, customer("c_custkey") === v("uid"), "left_semi"))
      .unionByName(row("orders", orders, doomed))
      .unionByName(row("lineitem", lineitem,
        lineitem.join(doomedOrders,
          lineitem("l_orderkey") === doomedOrders("o_orderkey"), "left_semi")))
      .unionByName(row("events", events,
        events.join(v, events("user_id") === v("uid"), "left_semi")))
      .orderBy(col("table_name"))
  }

  /** Referential-integrity audit: orphan counts per foreign-key edge
    * of the star schema (child rows whose parent key is absent). Each
    * edge is one LEFT OUTER probe of the parent's distinct-key
    * projection with total and orphan counted in the same aggregation
    * — at 100 TB the parent key sets are far smaller than the child
    * fact tables and broadcast (dims) or shuffle once on the key
    * (orders); the child is scanned ONCE per edge. The audit a
    * pipeline runs after every backfill, and the exact complement of
    * the joins every query in this engine assumes are lossless. */
  /** One FK edge's audit row in ONE child scan: left-outer against
    * the distinct parent keys, then count rows and null-parent (=
    * orphan) rows in the same aggregation. Package-visible so the spec
    * can drive a PLANTED orphan through this exact code path. */
  private[graft] def edge(name: String, child: DataFrame, childKey: String,
                          parent: DataFrame, parentKey: String): DataFrame =
    child
      .join(parent.select(col(parentKey)).distinct(),
        col(childKey) === col(parentKey), "left_outer")
      .agg(count(lit(1)).as("child_rows"),
        sum(when(col(parentKey).isNull, 1L).otherwise(0L)).as("orphan_rows"))
      .select(lit(name).as("fk_edge"), col("child_rows"), col("orphan_rows"))

  def fkAudit(spark: SparkSession, dir: String): DataFrame = {
    edge("lineitem.l_orderkey->orders", Tables.lineitem(spark, dir), "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey")
      .unionByName(edge("orders.o_custkey->customer", Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .unionByName(edge("customer.c_nationkey->nation", Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey"))
      .unionByName(edge("supplier.s_nationkey->nation", Tables.supplier(spark, dir), "s_nationkey",
        Tables.nation(spark, dir), "n_nationkey"))
      .unionByName(edge("nation.n_regionkey->region", Tables.nation(spark, dir), "n_regionkey",
        Tables.region(spark, dir), "r_regionkey"))
      .orderBy(col("fk_edge"))
  }

  /** Column-level data profile of the orders table — the ANALYZE-style
    * report a warehouse publishes per snapshot: per column, null
    * count, exact distinct count, and min/max computed on the NATIVE
    * column type (numeric for numbers, chronological for dates) then
    * rendered as strings so one report schema covers every type. One
    * pass per column batch; every aggregate partial-aggregates,
    * nothing shuffles more than the final 1-row combine per column. */
  /** Join-key skew diagnostic: for every key a production join or
    * aggregation shuffles on, the distribution facts that decide
    * whether it needs salting/AQE skew handling — row and key counts,
    * the hottest key and its share, and the skew factor
    * (max/avg = max·keys/rows). This is the measurement behind the
    * engine's saltK knob (SCALE.md's skew table): run the report, salt
    * the keys it flags. One map-side-combined count per key family
    * plus a key-cardinality-sized aggregate — the report costs one
    * scan per table at any scale. Hot-key tie-break: smallest key. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    def branch(df: DataFrame, table: String, keyCol: String): DataFrame =
      df.select(col(keyCol).cast("long").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("ct"))
        .agg(sum(col("ct")).as("rows"),
          count(lit(1)).as("n_keys"),
          max(col("ct")).as("max_key_ct"),
          max(struct(col("ct"), (-col("k")).as("nk"))).as("hot"))
        .select(lit(table).as("table_name"), lit(keyCol).as("key_col"),
          col("rows"), col("n_keys"), col("max_key_ct"),
          (-col("hot.nk")).as("hot_key"),
          (col("max_key_ct").cast("double") * col("n_keys").cast("double") /
            col("rows").cast("double")).as("skew_factor"))
    branch(Tables.lineitem(spark, dir), "lineitem", "l_orderkey")
      .unionByName(branch(Tables.lineitem(spark, dir), "lineitem", "l_partkey"))
      .unionByName(branch(Tables.orders(spark, dir), "orders", "o_custkey"))
      .unionByName(branch(Tables.events(spark, dir), "events", "user_id"))
      .orderBy(col("table_name"), col("key_col"))
  }

  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    // min/max run on the typed column (so o_orderkey reports numeric
    // extremes, not lexicographic ones) and only the RESULT is cast to
    // string. Money profiles through DECIMAL(18,2), whose string form
    // is identical across engines (doubles hit scientific-notation
    // thresholds differently).
    def native(c: String) =
      if (c == "o_totalprice") col(c).cast(DecimalType(18, 2)) else col(c)
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    cols.map { c =>
      o.agg(count(lit(1)).as("row_ct"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("null_ct"),
          countDistinct(col(c)).as("distinct_ct"),
          min(native(c)).cast("string").as("min_str"),
          max(native(c)).cast("string").as("max_str"))
        .select(lit(c).as("column_name"), col("row_ct"), col("null_ct"),
          col("distinct_ct"), col("min_str"), col("max_str"))
    }.reduce(_ unionByName _).orderBy(col("column_name"))
  }

  /** TTL/retention enforcement plan over the event log: per event-day
    * partition, the row/user mass and the action the retention job
    * would take — `drop` for days wholly past the horizon, `retain`
    * otherwise. The horizon is DATA-relative (max event time − TTL),
    * never wall-clock, so the plan is reproducible; in production the
    * anchor is the run date, same plan shape. Day keys are compared as
    * `yyyy-MM-dd` strings (lexicographic = chronological).
    *
    * Scale shape: one scan → one day-keyed aggregation (thousands of
    * rows at ANY corpus size) + a broadcast 1-row horizon attach; a
    * dt-partitioned table executes the `drop` rows as O(1) partition
    * deletes, never a row-level rewrite (the same layout contract
    * PartitionPruningSpec pins for reads). */
  def retentionPlan(spark: SparkSession, dir: String,
                    retainDays: Int = 14): DataFrame = {
    val ev = Tables.events(spark, dir)
    val horizon = ev.agg(
      date_format(date_sub(to_date(max(col("ts"))), retainDays), "yyyy-MM-dd").as("h"))
    ev.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
      .agg(count(lit(1)).as("row_ct"), countDistinct(col("user_id")).as("user_ct"))
      .crossJoin(horizon)
      .select(col("dt"), col("row_ct"), col("user_ct"),
        when(col("dt") < col("h"), "drop").otherwise("retain").as("action"))
      .orderBy(col("dt"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gov_retention" -> ((s, d) => retentionPlan(s, d)),
    "gov_erasure_report" -> ((s, d) => erasureReport(s, d)),
    "gov_fk_audit" -> ((s, d) => fkAudit(s, d)),
    "gov_table_profile" -> ((s, d) => tableProfile(s, d)),
    "gov_skew_report" -> ((s, d) => skewReport(s, d)))

  private def profileCol(c: String, expr: String): String =
    s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS row_ct,
       |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ct,
       |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS distinct_ct,
       |  CAST(MIN($expr) AS VARCHAR) AS min_str,
       |  CAST(MAX($expr) AS VARCHAR) AS max_str
       |FROM orders""".stripMargin

  /** One oracle branch per key family — same aggregates, same
    * smallest-key tiebreak (arg_min over ct DESC ≡ max(ct, −k)). */
  private def skewBranchSql(table: String, keyCol: String): String =
    s"""SELECT * FROM (
       |  WITH c AS (
       |    SELECT CAST($keyCol AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS ct
       |    FROM $table GROUP BY 1
       |  )
       |  SELECT '$table' AS table_name, '$keyCol' AS key_col,
       |    CAST(SUM(ct) AS BIGINT) AS rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
       |    CAST(MAX(ct) AS BIGINT) AS max_key_ct,
       |    (SELECT k FROM c ORDER BY ct DESC, k LIMIT 1) AS hot_key,
       |    CAST(MAX(ct) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
       |      / CAST(SUM(ct) AS DOUBLE) AS skew_factor
       |  FROM c
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "gov_retention" ->
      """WITH h AS (
        |  SELECT strftime(CAST(MAX(ts) AS DATE) - 14, '%Y-%m-%d') AS hd FROM events
        |), d AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS dt,
        |    CAST(COUNT(*) AS BIGINT) AS row_ct,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS user_ct
        |  FROM events GROUP BY 1
        |)
        |SELECT dt, row_ct, user_ct,
        |  CASE WHEN dt < (SELECT hd FROM h) THEN 'drop' ELSE 'retain' END AS action
        |FROM d ORDER BY dt""".stripMargin,
    "gov_skew_report" ->
      (Seq(("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
        ("orders", "o_custkey"), ("events", "user_id"))
        .map { case (t, k) => s"(${skewBranchSql(t, k)})" }
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY table_name, key_col")),
    "gov_fk_audit" ->
      """WITH r AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS child_rows,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphan_rows
        |  UNION ALL SELECT 'orders.o_custkey->customer',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL SELECT 'customer.c_nationkey->nation',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        |     WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |  UNION ALL SELECT 'supplier.s_nationkey->nation',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM supplier s
        |     WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
        |  UNION ALL SELECT 'nation.n_regionkey->region',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM nation),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM nation na
        |     WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = na.n_regionkey))
        |)
        |SELECT fk_edge, child_rows, orphan_rows FROM r ORDER BY fk_edge""".stripMargin,
    "gov_table_profile" -> (
      "WITH r AS (\n" + Seq(
        profileCol("o_orderkey", "o_orderkey"),
        profileCol("o_custkey", "o_custkey"),
        profileCol("o_orderstatus", "o_orderstatus"),
        profileCol("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,2))"),
        profileCol("o_orderdate", "o_orderdate"),
        profileCol("o_orderpriority", "o_orderpriority"))
        .mkString("\nUNION ALL\n") +
      "\n)\nSELECT column_name, row_ct, null_ct, distinct_ct, min_str, max_str FROM r ORDER BY column_name"),
    "gov_erasure_report" ->
      s"""WITH v AS (
        |  SELECT c_custkey AS uid FROM customer WHERE c_custkey % $VictimModulus = 0
        |), doomed AS (
        |  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT uid FROM v)
        |), r AS (
        |  SELECT 'customer' AS table_name,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS total_rows,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer WHERE c_custkey IN (SELECT uid FROM v)) AS rows_erased
        |  UNION ALL SELECT 'orders',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey IN (SELECT uid FROM v))
        |  UNION ALL SELECT 'lineitem',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM doomed))
        |  UNION ALL SELECT 'events',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE user_id IN (SELECT uid FROM v))
        |)
        |SELECT table_name, total_rows, rows_erased,
        |  total_rows - rows_erased AS rows_kept
        |FROM r ORDER BY table_name""".stripMargin)
}
