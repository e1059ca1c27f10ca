package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-budget pins for representative heavy queries: the number of
  * `ShuffleExchangeExec` nodes each query plans must not grow — every
  * exchange is a full materialize-and-repartition of the stream, the
  * dominant cost at 100 TB, and a refactor that silently adds one
  * (a lost broadcast, a mis-keyed window, a stray repartition) is
  * invisible to the correctness gate.
  *
  * Counted on the prepared `executedPlan`, through AQE wrappers, plus
  * every checkpoint the query builds: its `Memo` frames and loop
  * phases are `localCheckpoint`s, whose plans are gone from the
  * consumer's tree, so [[CheckpointBuilds]] collects them as for
  * `PlanPinSpec`. Each test drops every memo first, so the count is
  * the query's cold build from parquet whatever ran before it. Pinned
  * as an UPPER bound; any growth is a conscious, reviewed decision.
  */
class ShufflePinSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSession._

  private val builds = new CheckpointBuilds(spark)

  override def beforeAll(): Unit = spark.listenerManager.register(builds)

  override def afterAll(): Unit = spark.listenerManager.unregister(builds)

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
    * The roots are the query's plan and its checkpoint builds. */
  private def countShuffles(roots: Seq[SparkPlan]): Int = {
    def go(p: SparkPlan): Int =
      p.collectWithSubqueries {
        // initialPlan, not inputPlan (predates EnsureRequirements — no
        // exchanges at all) and not executedPlan (mutates as AQE
        // re-plans at runtime: a shared memo executed by an earlier
        // suite would make the count order-dependent)
        case a: AdaptiveSparkPlanExec => go(a.initialPlan)
        // a materialized AQE stage wraps its exchange behind a leaf
        case qs: QueryStageExec => go(qs.plan)
        case _: ShuffleExchangeExec => 1
      }.sum
    roots.map(go).sum
  }

  pins.toSeq.sortBy(_._1).foreach { case (name, pinned) =>
    test(s"shuffle pin: $name") {
      operators.Memo.invalidate(spark, None)
      builds.drain()
      val df = SparkEntry.queries(name)(spark, sf)
      val n = countShuffles(df.queryExecution.executedPlan +: builds.drain().map(_.executedPlan))
      if (pinned < 0) info(s"DISCOVERY $name shuffles=$n")
      else assert(n <= pinned,
        s"$name plans $n shuffle exchanges, pinned $pinned — every extra " +
          s"exchange re-materializes the stream at scale; if intentional, " +
          s"update the pin:\n${df.queryExecution.executedPlan}")
    }
  }
}
