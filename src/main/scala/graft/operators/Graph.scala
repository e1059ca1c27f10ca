package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Graph analytics over the behavioural transition graph mined from
  * `events`: damped PageRank (the canonical "which state matters"
  * centrality) and the two-step transition closure (one matrix-squaring
  * of the Markov chain). Both are join+aggregate compositions — the
  * Pregel-free formulation that scales to billion-edge graphs as one
  * shuffle per iteration, the same iterative-join discipline as the
  * connected-components family in [[Dedup]] (checkpoint cadence,
  * lineage truncation).
  *
  * Determinism contract: every floating-point reduction here is a
  * sorted left-fold ([[Graph.foldSum]]) rather than a plain
  * `SUM(double)`, so results are bit-identical at any partition count
  * AND in the DuckDB oracle (`list_reduce(list_sort(...))` is the same
  * ascending left-fold). Plain double sums are order-nondeterministic
  * and would flip low bits between runs — fine for analytics, fatal
  * for a hash-compared correctness gate. At production scale the fold
  * costs one `collect_list` per group (buffer = in-degree); swap in
  * plain `sum` when in-degrees are unbounded and ulp-stability is not
  * required — the spec pins the two within 1e-12 of each other.
  */
object Graph {

  /** Fixed damping split, written as independent literals on BOTH
    * engines (never derived as 1−d at runtime: `1.0 - 0.85` and the
    * literal `0.15` are DIFFERENT doubles, and the oracle hashes
    * exact bits). */
  private val Damping = "0.85"
  private val Teleport = "0.15"
  private val Iters = 8

  /** Deterministic IEEE sum of grouped double terms: collect, sort
    * ascending, fold left from +0.0. Equal values commute under +, so
    * value-only ordering is enough for a unique result. */
  private def foldSum(term: String): Column =
    expr(s"aggregate(sort_array(collect_list($term)), cast(0.0 as double), (a, x) -> a + x)")

  /** The user-journey Markov chain: P(next event-type | current), the
    * same lag-window mining as `an_transitions` but shaped as a
    * weighted edge list (src, dst, p) with rows summing to 1 per src. */
  def transitionEdges(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("ct"))
    val totals = pairs.groupBy(col("src").as("t_src"))
      .agg(sum(col("ct")).as("from_ct"))
    pairs.join(totals, col("src") === col("t_src"))
      .select(col("src"), col("dst"),
        (col("ct").cast(DoubleType) / col("from_ct").cast(DoubleType)).as("p"))
  }

  /** Damped PageRank over an arbitrary weighted edge list: 8 fixed
    * iterations of rank' = 0.15/N + 0.85·Σ_in rank·p.
    *
    * Scale design: each iteration is ONE shuffle — the edges⋈ranks
    * join (co-partitioned by src once edges are bucketed by src in a
    * catalog deployment) followed by the dst-keyed aggregation; N is a
    * broadcast 1-row scalar, never a driver collect. Lineage is
    * truncated every 4 rounds exactly like the components loop in
    * [[Dedup]] — without it the plan doubles per iteration. Assumes
    * every node has out-edges (true of a transition chain mined from
    * consecutive pairs); dangling-mass redistribution would add one
    * more broadcast scalar per round. */
  def pagerankOn(edges: DataFrame, iters: Int = Iters): DataFrame = {
    // materialize the edge list ONCE: every iteration's job otherwise
    // re-executes the full mining lineage behind `edges` (the events
    // window + aggregation) — measured 8× the edge-build cost at sf0.1.
    // Node²-bounded after aggregation, so the checkpoint is tiny here;
    // on a billion-edge graph this is still the right call — it is the
    // same materialize-the-loop-invariant discipline as the components
    // rounds, trading one write for iters× recomputation.
    val e = Memo.checkpointCounted(edges)._1
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
    val n = nodes.agg(count(lit(1)).as("n"))
    var ranks = nodes.crossJoin(n)
      .select(col("node"), (lit(1.0) / col("n")).as("pagerank"))
    for (i <- 1 to iters) {
      val summed = e.join(ranks, col("src") === col("node"))
        .select(col("dst"), (col("pagerank") * col("p")).as("contrib"))
        .groupBy(col("dst")).agg(foldSum("contrib").as("s"))
      ranks = nodes.join(summed, col("node") === col("dst"), "left")
        .crossJoin(n)
        .select(col("node"),
          (lit(Teleport.toDouble) / col("n") +
            lit(Damping.toDouble) * coalesce(col("s"), lit(0.0))).as("pagerank"))
      if (i % 4 == 0 && i < iters) ranks = Memo.checkpointCounted(ranks)._1
    }
    ranks
  }

  /** The mined transition edge list, memoized per (session, dir) —
    * the shared upstream of BOTH graph queries (r17: each previously
    * re-ran the events window + two aggregations per action; the
    * shared-frame memo is the same discipline as the DWS tier). */
  private def memoEdges(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph.edges")(transitionEdges(spark, dir))

  /** PageRank of the event-type journey graph. */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankOn(memoEdges(spark, dir)).orderBy(col("node"))

  /** Two-step transition closure P² — p2(src,dst) = Σ_mid p·p, the
    * "where will this user be in two events" matrix. Matrix squaring
    * as a self-join: one shuffle on the mid key, one on the (src,dst)
    * aggregation; row-stochasticity is preserved exactly (spec-pinned)
    * because the fold is deterministic. */
  def twoStep(spark: SparkSession, dir: String): DataFrame = {
    // both join sides read the same mined (memoized) frame
    val e = memoEdges(spark, dir)
    e.select(col("src"), col("dst").as("mid"), col("p").as("p1"))
      .join(e.select(col("src").as("mid2"), col("dst"), col("p").as("pb")),
        col("mid") === col("mid2"))
      .select(col("src"), col("dst"), (col("p1") * col("pb")).as("term"))
      .groupBy(col("src"), col("dst")).agg(foldSum("term").as("p2"))
      .orderBy(col("src"), col("dst"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> ((s, d) => pagerank(s, d)),
    "graph_two_step" -> ((s, d) => twoStep(s, d)))

  /** Shared oracle CTE prologue: edges + node universe + count. */
  private val edgesSql =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
      |  FROM events
      |), pairs AS (
      |  SELECT src, event_type AS dst, CAST(COUNT(*) AS BIGINT) AS ct
      |  FROM seq WHERE src IS NOT NULL GROUP BY 1, 2
      |), totals AS (
      |  SELECT src, CAST(SUM(ct) AS BIGINT) AS from_ct FROM pairs GROUP BY 1
      |), edges AS (
      |  SELECT p.src, p.dst, CAST(p.ct AS DOUBLE) / CAST(t.from_ct AS DOUBLE) AS p
      |  FROM pairs p JOIN totals t ON p.src = t.src
      |)""".stripMargin

  /** One unrolled PageRank round: same literals, same fold order as
    * the Spark loop (list_reduce over the ascending-sorted terms is
    * DuckDB's left fold; first-element init ≡ +0.0 init for finite
    * positive terms). */
  private def prIterSql(i: Int): String =
    s"""r$i AS (
       |  SELECT nodes.node,
       |    CAST($Teleport AS DOUBLE) / cnt.n +
       |      CAST($Damping AS DOUBLE) * COALESCE(c.s, CAST(0.0 AS DOUBLE)) AS pagerank
       |  FROM nodes CROSS JOIN cnt LEFT JOIN (
       |    SELECT e.dst AS node,
       |      list_reduce(list_sort(list(r.pagerank * e.p)), (a, b) -> a + b) AS s
       |    FROM edges e JOIN r${i - 1} r ON e.src = r.node GROUP BY e.dst
       |  ) c ON nodes.node = c.node
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> (edgesSql +
      """, nodes AS (
        |  SELECT DISTINCT src AS node FROM pairs
        |  UNION SELECT DISTINCT dst FROM pairs
        |), cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (
        |  SELECT nodes.node, CAST(1.0 AS DOUBLE) / cnt.n AS pagerank
        |  FROM nodes CROSS JOIN cnt
        |),
        |""".stripMargin +
      (1 to Iters).map(prIterSql).mkString(",\n") +
      s"\nSELECT node, pagerank FROM r$Iters ORDER BY node"),
    "graph_two_step" -> (edgesSql +
      """
        |SELECT a.src, b.dst,
        |  list_reduce(list_sort(list(a.p * b.p)), (x, y) -> x + y) AS p2
        |FROM edges a JOIN edges b ON a.dst = b.src
        |GROUP BY a.src, b.dst
        |ORDER BY a.src, b.dst""".stripMargin))
}
