package graft

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shuffle-budget pins for representative heavy queries: the number of
  * `ShuffleExchangeExec` nodes each query plans must not grow — every
  * exchange is a full materialize-and-repartition of the stream, the
  * dominant cost at 100 TB, and a refactor that silently adds one
  * (a lost broadcast, a mis-keyed window, a stray repartition) is
  * invisible to the correctness gate.
  *
  * Counted on the prepared `executedPlan`, through AQE wrappers and
  * into cached (`InMemoryRelation`) interiors, plus every checkpoint
  * the query builds: its `Memo` frames and loop phases are
  * `localCheckpoint`s, whose plans are gone from the consumer's tree,
  * so a listener collects them as `PlanPinSpec` does. Each test drops
  * every memo first, so the count is the query's cold build from
  * parquet whatever ran before it. Pinned as an UPPER bound; any
  * growth is a conscious, reviewed decision.
  */
class ShufflePinSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSession._

  /** The checkpoint builds (`localCheckpoint` executions) since the
    * last [[drainBuilds]]. */
  private val builds = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  private val buildListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (funcName == "localCheckpoint") builds.add(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  override def beforeAll(): Unit = spark.listenerManager.register(buildListener)

  override def afterAll(): Unit = spark.listenerManager.unregister(buildListener)

  /** The executed plans of the checkpoints built since the last call
    * (listener events are asynchronous; `listenerBus.waitUntilEmpty`
    * is public in bytecode). */
  private def drainBuilds(): Seq[SparkPlan] = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    val qes = builds.asScala.toList
    builds.clear()
    qes.map(_.executedPlan)
  }

  /** name → planned ShuffleExchangeExec count (-1 = discovery mode:
    * print the actual and pass). */
  private val pins: Map[String, Int] = Map(
    "q1_pricing_summary" -> 2,     // partial→final agg + range sort
    "j1_inner_join_agg" -> 3,      // distinct-expand agg ×2 + range sort (join broadcasts)
    "j4_star_chain" -> 3,          // agg ×2 + sort; all 4 dim joins broadcast
    "j7_full_outer_join" -> 3,     // full outer on pre-agged sides
    "dwd_trade_order_detail" -> 31, // cold build: envelope memo + dim memos + wide join
    "dws_trade_order_window" -> 6,
    "ads_trademark_stats" -> 9,    // 4 in the query + 5 in its 3 DWS memo builds
    "ads_category_stats" -> 9,     // likewise
    "dedup_minhash_lsh" -> 5,
    "dedup_components" -> 6,       // 1 in the query + 5 in its 3 loop/seed checkpoints
    "sim_ann_ivf" -> 4,            // its k-means collects are driver-loop actions, not builds
    "search_bm25_topk" -> 9,       // 3 in the query + 6 in its 5 checkpoint builds
    "text_token_ids" -> 11,        // three-level rank decomposition, shared token explode
    "text_pack_shards" -> 10,      // two prefix-sum levels + memoized token counts
    "mm_phash_neardup" -> 6,
    "gov_skew_report" -> 8)

  /** Exchanges are inserted by plan preparation (EnsureRequirements),
    * so they exist only in `executedPlan` — under AQE that is an
    * `AdaptiveSparkPlanExec` whose initial tree hangs off `inputPlan`.
    * The roots are the query's plan and its checkpoint builds; an
    * InMemoryTableScan (the few `.cache()`d intermediates) is expanded
    * into the plan that fills it, once per distinct cached plan
    * (`seen` below), since a persisted frame materializes once. */
  private def countShuffles(roots: Seq[SparkPlan]): Int = {
    // each cached plan counts ONCE no matter how many scans reference
    // it — that is what executes (a persisted frame materializes a
    // single time per session); per-reference re-expansion would let
    // nested memos inflate the count combinatorially. Reference-
    // identity set: identityHashCode alone can collide and silently
    // undercount.
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(p: SparkPlan): Int =
      p.collectWithSubqueries {
        // initialPlan, not inputPlan (predates EnsureRequirements — no
        // exchanges at all) and not executedPlan (mutates as AQE
        // re-plans at runtime: a shared memo executed by an earlier
        // suite would make the count order-dependent)
        case a: AdaptiveSparkPlanExec => go(a.initialPlan)
        // a materialized AQE stage wraps its exchange behind a leaf
        case qs: QueryStageExec => go(qs.plan)
        case im: InMemoryTableScanExec =>
          if (seen.add(im.relation.cachedPlan)) go(im.relation.cachedPlan)
          else 0
        case _: ShuffleExchangeExec => 1
      }.sum
    roots.map(go).sum
  }

  pins.toSeq.sortBy(_._1).foreach { case (name, pinned) =>
    test(s"shuffle pin: $name") {
      operators.Memo.invalidate(spark, None)
      drainBuilds()
      val df = SparkEntry.queries(name)(spark, sf)
      val n = countShuffles(df.queryExecution.executedPlan +: drainBuilds())
      if (pinned < 0) info(s"DISCOVERY $name shuffles=$n")
      else assert(n <= pinned,
        s"$name plans $n shuffle exchanges, pinned $pinned — every extra " +
          s"exchange re-materializes the stream at scale; if intentional, " +
          s"update the pin:\n${df.queryExecution.executedPlan}")
    }
  }
}
