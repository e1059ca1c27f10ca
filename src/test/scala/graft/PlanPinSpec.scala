package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression protection for EVERY named query (r9 ask #6,
  * r10 verdict #2): one dynamically-registered test per
  * `SparkEntry.queries` entry, so coverage is per-query isolated — a
  * single broken loader (the r10 events incident) fails exactly the
  * affected queries' tests with their names, not the whole sweep as a
  * block.
  *
  * Pinned invariants, per query:
  *   - the plan BUILDS (analysis + physical planning succeed);
  *   - no `CartesianProduct` — at 100 TB an unbroadcast cross join is
  *     always a bug, except the explicitly-allowlisted oracle
  *     baselines below;
  *   - no lambda fallback (`MapPartitions`/`DeserializeToObject`) —
  *     every shipped path stays inside whole-stage codegen;
  *   - no partition-less `WindowExec` over an unbounded frame — a
  *     window with an empty partitionSpec moves ALL rows to one task,
  *     which is a single-machine bottleneck at 100 TB unless the
  *     windowed frame is provably bounded (sort+limit upstream, a
  *     model-/vocabulary-sized frame, …). Bounded cases must be
  *     allowlisted with their bound documented;
  *   - no cached relation: the query plans no `InMemoryTableScan`, and
  *     building it leaves the CacheManager empty — shared work lives
  *     in `Memo`, which the CacheManager never sees.
  *
  * BroadcastNestedLoopJoin is allowed: the engine's 1-row scalar
  * attaches (corpus stats, decile cuts, model frames) plan as BNLJ by
  * design and stay O(rows) at any scale.
  */
class PlanPinSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSession._

  /** The checkpoints the running query builds. */
  private val builds = new CheckpointBuilds(spark)

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  // every memo builds again while the listener is registered, so each
  // build is swept once, under the first query (in name order) that
  // reads it; earlier suites' caches are dropped so the empty-cache
  // pin sees only what these queries leave behind
  override def beforeAll(): Unit = {
    operators.Memo.invalidate(spark, None)
    cacheManager.clearCache()
    spark.listenerManager.register(builds)
  }

  override def afterAll(): Unit = spark.listenerManager.unregister(builds)

  /** EMPTY since r14: the last allowlisted cartesian
    * (`sim_neardup_pairs`' all-pairs oracle baseline) is retired — its
    * exact side is now a fixed 256-vector broadcast panel, so every
    * named query plans cartesian-free. Kept as a set so a future
    * genuinely-bounded case can be documented here rather than
    * silently weakening the pin. */
  private val cartesianOk: Set[String] = Set.empty

  /** Queries whose checkpoint builds run a lambda by design (value =
    * why). Nothing else may leave codegen. */
  private val lambdaOk: Map[String, String] = Seq("dedup_best_rep", "dedup_components",
    "dedup_components_star", "mm_curation_decisions", "mm_dup_components").map(_ ->
    ("the components core's union-find seed (Dedup.componentLabels) is a " +
      "per-partition mapPartitions over the pair frame, one pass with O(partition) " +
      "driver-free state; it shows since the sweep reads every checkpoint build")).toMap

  /** Queries whose partition-less window is over a PROVABLY BOUNDED
    * frame (value = the bound and why). Anything else with an empty
    * partitionSpec fails its pin — that window would serialize the
    * whole table through one task at scale. */
  private val globalWindowOk: Map[String, String] = Map(
    "an_moving_window" -> ("window input is the DAILY rollup (groupBy dt) — " +
      "rows = distinct calendar days (~2.4k over the TPC-H date range), " +
      "calendar-bounded regardless of fact-table size"),
    "text_vocab_topk" -> ("rank/cumshare windows run AFTER orderBy().limit(k) — " +
      "frame is exactly k=100 rows"),
    "text_quality_deciles" -> ("both windows are over the token_ct HISTOGRAM " +
      "(groupBy token_ct) — rows = distinct per-doc token counts, bounded by " +
      "max document length, not corpus size"),
    "text_token_ids" -> ("level-3 class-offset cumsum of the three-level rank " +
      "decomposition — frame is the distinct-ct rollup, O(sqrt(corpus token " +
      "mass)) rows (~1e7 at 100T tokens; Curation.tokenIdsOn scaladoc)"),
    "text_epoch_shuffle" -> ("rankAndPrefix bucket-offset cumsum — frame is " +
      "one row per (group, 2-hex-byte bucket), <=65536 rows per group")) ++
    Seq("text_pack_shards", "text_shard_manifest", "text_incremental_pack").map(_ ->
      ("exclusivePrefixSum's final residue — frame is docs/4096^2 rows " +
        "(~6e4 at 1e12 docs), every other level a partitioned window over " +
        "<=4096 rows")).toMap ++
    Map("text_chunk_pack" ->
      ("exclusivePrefixSum residue with doc-aligned fanouts (2^32, 4096, " +
        "4096): level 1 windows one document's chunks (doc-size-bounded), " +
        "level-1 block ids ARE the dense doc ids, so the residue is " +
        "docs/4096^2 rows — a uniform fanout would leave one block per doc " +
        "(theta(corpus) residue, the r13 review catch)")) ++
    Seq("search_bm25_topk", "search_phrase").map(_ ->
      ("the memoized workload-spec builder's rank windows run AFTER " +
        "orderBy().limit(maxRank) / limit(2) — frames are bounded by the " +
        "workload geometry (slot count), not the corpus; visible here because " +
        "these are the first queries in name order to build the query and " +
        "phrase workload memos")).toMap

  /** Every physical node reachable from `roots` (a query's plan and
    * the checkpoint builds it ran, see [[builds]]), including those
    * inside AQE wrappers. Without the builds, shared frames (the
    * flagship wide join, the shared token explode, ...) would be
    * plan-pin blind spots. */
  private def expand(roots: Seq[SparkPlan]): Seq[SparkPlan] = {
    def go(p: SparkPlan): Seq[SparkPlan] =
      p.collectWithSubqueries { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => a +: go(a.inputPlan)
        case n => Seq(n)
      }
    roots.flatMap(go)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"plan pin: $name") {
      builds.drain()
      val df = fn(spark, sf)
      val nodes = expand(df.queryExecution.sparkPlan +: builds.drain().map(_.sparkPlan))
      // cleared before any assertion, so one leak fails only its own query
      val cached = !cacheManager.isEmpty
      cacheManager.clearCache()
      assert(!cached, s"$name left a CacheManager entry behind")
      assert(!nodes.exists(_.nodeName == "InMemoryTableScan"),
        s"$name plans a cached relation:\n${df.queryExecution.sparkPlan}")
      if (!cartesianOk(name))
        assert(!nodes.exists(_.nodeName.contains("CartesianProduct")),
          s"$name plan has an unbroadcast cartesian join:\n${df.queryExecution.sparkPlan}")
      val lambda = nodes.filter(n => n.nodeName.contains("MapPartitions") ||
        n.nodeName.contains("DeserializeToObject"))
      assert(lambda.isEmpty || lambdaOk.contains(name),
        s"$name plan fell out of codegen into lambda execution:\n${lambda.headOption.getOrElse("")}")
      val globalWindows = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (globalWindows.nonEmpty && !globalWindowOk.contains(name))
        fail(s"$name has ${globalWindows.size} partition-less window(s) over a " +
          s"potentially unbounded frame (all rows to ONE task at scale); fix the " +
          s"plan or allowlist with a documented bound:\n${globalWindows.head}")
    }
  }

  test("sweep covers every named query (and stays in sync with oracleSql)") {
    assert(SparkEntry.queries.nonEmpty)
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle $k has no query")
    }
  }
}
