package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.functions.GraftExpressions

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two paths, as a production pipeline would ship them:
  *  - brute-force cosine top-k: the correctness baseline. Oracle-exact
  *    by quantizing floats to integers (×1000, round) so the dot
  *    product and norms are exact integer arithmetic in both Spark and
  *    DuckDB — no float-summation-order hazards.
  *  - LSH-bucketed ANN (random hyperplane signs): the 100 TB path. The
  *    cross product is confined to hash buckets; recall vs brute force
  *    is asserted in LlmOpsSpec rather than an SQL oracle.
  *
  * The float fast path (`CosineSimFloat`, codegen'd) powers the
  * benchmark variant; the quantized path powers the oracle queries.
  */
object Similarity {

  /** Integer-quantized vectors: q = round(x * 1000), exact in BIGINT.
    * Shared with [[Search]]'s hybrid rerank so engine and oracle
    * quantization live in exactly one place each. */
  private[graft] def quantizedOn(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
      .withColumn("nrm", expr("aggregate(q, 0L, (acc, v) -> acc + v * v)"))
  private def quantized(spark: SparkSession, dir: String): DataFrame =
    quantizedOn(Tables.spread(spark, Tables.embeddings(spark, dir)))

  // codegen'd fused loop (DotProductLong) — same integer math as
  // aggregate(zip_with(...)), minus the per-pair array materialization
  private def dotCol = GraftExpressions.dotLong(col("qa"), col("qb"))

  /** Brute-force cosine top-k for the first `nQueries` vectors. */
  def annTopK(spark: SparkSession, dir: String, nQueries: Int = 32, k: Int = 5): DataFrame = {
    val v = quantized(spark, dir)
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nrm").as("na"))
    val c = v.select(col("vec_id").as("neighbor_id"), col("q").as("qb"), col("nrm").as("nb"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dotCol)
      .withColumn("sim", col("dot").cast(DoubleType) /
        (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Fixed left-vector panel for [[nearDupPairs]] — the exact-oracle
    * side scans `panel × corpus`, not `corpus²`, so the ground-truth
    * yardstick stays a bounded broadcast at any corpus size (the same
    * shape as [[annRecall]]'s exact side). */
  val NearDupPanel = 256L

  /** Exact cosine pairs above a threshold for a FIXED PANEL of left
    * vectors (`vec_a < NearDupPanel`) — the ground-truth / recall
    * yardstick for [[nearDupLsh]]; the shipped scale path is the LSH
    * form. r14 (verdict task 5): the old all-pairs O(n²) cartesian is
    * retired — the panel side is broadcast, the corpus streams past it
    * once (BroadcastNestedLoopJoin with a 256-row build side), and the
    * PlanPinSpec cartesian allowlist is now EMPTY. Recall measured on
    * panel pairs is an unbiased estimate of corpus recall (panel
    * membership is independent of pair difficulty). (Exact
    * low-threshold cosine pair joins on dense vectors are inherently
    * linear-scan: at t=0.3 a hyperplane-LSH candidate filter caps out
    * near 43% recall even with 12 tables, so no bucketed plan can
    * reproduce this result — see the LlmOpsSpec recall math.) */
  def nearDupPairs(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    val v = quantized(spark, dir)
    // hint: the panel is a fixed 256 rows; a non-equi join has no shuffle form
    val a = broadcast(v.filter(col("vec_id") < NearDupPanel)
      .select(col("vec_id").as("vec_a"), col("q").as("qa"), col("nrm").as("na")))
    val b = v.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("dot", dotCol)
      .withColumn("sim", col("dot").cast(DoubleType) /
        (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Near-dup pairs via LSH candidates — the shipped 100 TB path.
    * Candidates are pairs whose signatures agree on ≥ 4 of 6 planes in
    * any of the 12 tables (radius-2 probing: each vector probes its
    * bucket plus all Hamming-1 and Hamming-2 flips, 22 probe rows per
    * (vector, table), against exact buckets); the exact quantized
    * cosine then verifies candidates only, so every emitted pair is
    * exactly-correct (zero false positives vs [[nearDupPairs]],
    * subset-asserted in LlmOpsSpec) and recall is the only
    * approximation. Recall depends on the threshold regime: at the
    * deliberately-low t = 0.3 it measures ~0.77 on the test corpus
    * (informational only — no bucketed config clears ~0.84 there, see
    * [[nearDupPairs]]); in the production near-dup regime the
    * [[nearDupPlanted]] evaluation gates recall ≥ 0.95 at t = 0.9.
    *
    * Scale shape: probe-side rows ×22 per table (×7 if dialed back to
    * radius 1), one bucket equi-join per table, verify on candidates,
    * `distinct` on canonical pairs — no cross/nested-loop join
    * anywhere (plan-asserted in LlmOpsSpec). At corpus scale,
    * `PlanesPerTable` is the bucket-granularity knob: size it
    * ~log₂(n / target bucket size). */
  private def nearDupCore(corpus: DataFrame, threshold: Double, radius: Int): DataFrame = {
    val buckets = bucketsUnpivoted(corpus, carryEmbedding = false)
    val probes = buckets.select(col("t"),
      explode(probeBuckets("bucket", radius)).as("bucket"), col("vec_id").as("pa"))
    val db = buckets.select(col("t"), col("bucket"), col("vec_id").as("pb"))
    val cand = probes.join(db, Seq("t", "bucket"))
      .filter(col("pa") < col("pb"))
      .select(col("pa").as("vec_a"), col("pb").as("vec_b")).distinct()
    val v = quantizedOn(corpus)
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("nrm").as("na")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("nrm").as("nb")), "vec_b")
      .withColumn("dot", dotCol)
      .withColumn("sim", col("dot").cast(DoubleType) /
        (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("sim"))
  }

  // The named wrappers checkpoint the UNSORTED core per call and sort
  // the checkpoint: the candidate verify (integer dot per candidate
  // pair) is narrow compute after the distinct's shuffle, and a global
  // orderBy over it would run it TWICE — the range partitioner samples
  // its child to pick bounds (the editDistancePairs lesson). Sorting
  // the checkpoint samples stored rows, so the verify runs once, inside
  // the call that asked for it; no session cache holds the result.
  def nearDupLsh(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame =
    Memo.checkpointCounted(
      nearDupCore(Tables.spread(spark, Tables.embeddings(spark, dir)), threshold, radius = 2))._1
      .orderBy(col("vec_a"), col("vec_b"))

  /** Planted vec_ids live at original id + this offset. */
  val PlantOffset = 1L << 20

  /** Near-dup detection evaluated in its PRODUCTION regime: the corpus
    * is `embeddings` plus one deterministically jittered copy of every
    * vector (component-wise ±30% multiplicative jitter keyed by
    * murmur3(vec_id, i) — planted cosine ≈ 0.96, comfortably above the
    * 0.9 threshold so no planted pair is a threshold casualty, while
    * the raw corpus's own max pair sim ≈ 0.55 stays far below it). At
    * planted sim ≈ 0.96 the hyperplane-LSH curve gives a per-table
    * exact-bucket collision probability ≈ 0.56, so 12 tables find
    * planted pairs with near-certainty — LlmOpsSpec gates recall
    * ≥ 0.95 with zero false positives. This is the regime the operator
    * ships for; sub-0.5-threshold pair mining is the exact
    * [[nearDupPairs]]' job (see its scaladoc for why no bucketed plan
    * can cover it). */
  def nearDupPlanted(spark: SparkSession, dir: String): DataFrame =
    // radius 1: exact buckets alone measure 0.970 recall (the hard
    // pairs miss in ALL tables — per-pair plane agreement correlates
    // across the fixed plane set), Hamming-1 probes lift it to 0.990
    // for ~40% more candidate rows
    // per-call checkpoint — same reasoning as [[nearDupLsh]]
    Memo.checkpointCounted(nearDupCore(plantedCorpus(spark, dir), threshold = 0.9, radius = 1))._1
      .orderBy(col("vec_a"), col("vec_b"))

  val NumTables = 12
  val PlanesPerTable = 6

  /** Probe set for multi-probe LSH: a bucket code plus its
    * `PlanesPerTable` single-bit flips (Hamming-1 neighbors). Probing
    * these on the QUERY side only makes a pair a candidate whenever its
    * signatures agree on ≥ 5 of 6 planes in any table — per-table
    * collision probability for a pair with per-plane agreement p rises
    * from p⁶ to p⁶ + 6p⁵(1−p) (e.g. 0.045 → 0.23 at cosine 0.3), while
    * the database side stays one bucket per table. Standard multi-probe
    * cost shape: query-side lookups ×7, corpus untouched. */
  private def probeBuckets(bucketCol: String, radius: Int = 1): Column = {
    val h1 = expr(
      s"transform(sequence(0, ${PlanesPerTable - 1}), " +
        s"i -> $bucketCol ^ shiftleft(CAST(1 AS BIGINT), i))")
    val h2 = expr(
      s"flatten(transform(sequence(0, ${PlanesPerTable - 2}), " +
        s"i -> transform(sequence(i + 1, ${PlanesPerTable - 1}), " +
        s"j -> $bucketCol ^ shiftleft(CAST(1 AS BIGINT), i) ^ shiftleft(CAST(1 AS BIGINT), j))))")
    if (radius >= 2) concat(array(col(bucketCol)), h1, h2)
    else if (radius == 1) concat(array(col(bucketCol)), h1)
    else array(col(bucketCol))
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p is
    * a hash-derived value in [-1, 1). Same construction at any scale. */
  private def planeComponent(p: Int, j: Int): Double = {
    val h = Fnv(s"plane_${p}_$j")
    (h & 0xffffffffL).toDouble / 0x80000000L.toDouble - 1.0
  }
  private def Fnv(s: String): Long = graft.functions.Fnv1a64.hash(s.getBytes("UTF-8"))

  /** Multi-table LSH signatures: `NumTables` independent bucket keys,
    * each the sign pattern of `PlanesPerTable` random hyperplanes.
    * More tables → higher recall; fewer planes/table → bigger buckets.
    * (A single-table variant has poor recall for top-k: a true
    * neighbor flipping any one sign bit is lost.) All tables×planes
    * dot products run in one fused codegen pass (HyperplaneBuckets). */
  private lazy val lshPlanes: Array[Array[Double]] =
    Array.tabulate(NumTables * PlanesPerTable, 64)((p, j) => planeComponent(p, j))

  /** One (vec_id, t, bucket) row per table, from ONE signature pass:
    * the fused HyperplaneBuckets expression evaluates once per vector
    * and `posexplode` unpivots its 12 codes. (The previous 12-way
    * unionByName re-evaluated the whole input tree — 72-plane dots,
    * upstream transforms, the scan — once PER TABLE; at sf0.1 that was
    * most of the near-dup queries' runtime.) */
  private def bucketsUnpivoted(e: DataFrame, carryEmbedding: Boolean): DataFrame = {
    val sig = e.select(col("vec_id"), col("embedding"),
      GraftExpressions.hyperplaneBuckets(col("embedding"), lshPlanes, PlanesPerTable).as("b"))
    val keep = if (carryEmbedding) Seq(col("vec_id"), col("embedding")) else Seq(col("vec_id"))
    sig.select(keep :+ posexplode(col("b")).as(Seq("t", "bucket")): _*)
  }

  /** LSH bucket-occupancy histogram, per table: how many buckets hold
    * exactly `occ` vectors — the hyperplane-LSH skew detector (a hot
    * bucket means that table's sign pattern is degenerate for this
    * corpus and its probes degrade toward a scan; lots of singletons
    * at this corpus/2^planes ratio is the healthy shape). Completes
    * the occupancy-audit symmetry across all three index families
    * ([[ivfCells]], [[pqCells]]). Shape: one fused signature pass +
    * two keyed partial-agg groupBys; output ≤ tables × distinct
    * occupancies. */
  def lshOccupancy(spark: SparkSession, dir: String): DataFrame =
    bucketsUnpivoted(Tables.spread(spark, Tables.embeddings(spark, dir)),
      carryEmbedding = false)
      .groupBy(col("t"), col("bucket")).agg(count(lit(1)).as("occ"))
      .groupBy(col("t").cast(LongType).as("t"), col("occ"))
      .agg(count(lit(1)).as("bucket_ct"))
      .orderBy(col("t"), col("occ"))

  /** ANN via multi-table, multi-probe LSH: a pair is a candidate when
    * the query's probe set (its bucket + Hamming-1 flips) hits the
    * neighbor's bucket in ANY table; exact cosine (codegen'd float
    * path) runs on candidates only — a 100 TB-safe path (no full cross
    * product, corpus stored once per table). */
  def annLsh(spark: SparkSession, dir: String, nQueries: Int = 32, k: Int = 5): DataFrame =
    annLshBuild(spark, dir, nQueries, k).orderBy(col("query_id"), col("rk"))

  private def annLshBuild(spark: SparkSession, dir: String,
                          nQueries: Int, k: Int): DataFrame = {
    val buckets = bucketsUnpivoted(
      Tables.spread(spark, Tables.embeddings(spark, dir)), carryEmbedding = true)
    // radius-2 probes (22 buckets per query-table — queries are few, so
    // the fan-out is trivial): measured top-5 recall 0.825 vs 0.744 at
    // radius 1 on the test corpus
    val q = buckets.filter(col("vec_id") < nQueries)
      .select(col("t"), explode(probeBuckets("bucket", radius = 2)).as("bucket"),
        col("vec_id").as("query_id"), col("embedding").as("ea"))
    val c = buckets.select(col("t"), col("bucket"), col("vec_id").as("neighbor_id"),
      col("embedding").as("eb"))
    q.join(c, Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", GraftExpressions.cosineSim(col("ea"), col("eb")))
      .groupBy(col("query_id"), col("neighbor_id")).agg(max(col("sim")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("sim"))
  }

  /** Default-panel LSH results shared (checkpoint, NOT CacheManager
    * persist — see [[Memo]]) by the recall audit and the
    * leaderboard; the named `sim_ann_lsh` query computes fresh. */
  private def annLshShared(spark: SparkSession, dir: String, k: Int): DataFrame =
    Memo(spark, dir, s"sim.ann.lsh.$k")(annLshBuild(spark, dir, 32, k))

  val NumCentroids = 16
  val NProbe = 6
  val KMeansIters = 3

  /** Lloyd mean-update quantization scale: per-component contributions
    * are `round(x * 1e6)` BIGINTs, so the per-cell sum is exact integer
    * arithmetic — ORDER-INDEPENDENT (float summation order varies with
    * partitioning, making `avg` non-deterministic across runs) and
    * partial-agg friendly (map-side combine of longs). One double
    * division + float cast per (cell, dim) then reconstructs the mean
    * with ~1e-6 component granularity — far below what a coarse
    * quantizer can resolve. Headroom: |x| ≤ ~4 ⇒ |q| ≤ 4e6, so BIGINT
    * sums stay exact past 1e12 vectors per cell and the double cast of
    * the sum stays exact below 2^53. Determinism is what makes the
    * full-value DuckDB k-means replay ([[kmeansCtes]]) possible. */
  val MeanQuantScale = 1000000L

  /** Distributed k-means for the IVF coarse quantizer: deterministic
    * init (first `NumCentroids` vectors), then Lloyd iterations.
    * Assignment is a doc-local argmax over the O(C·dims) centroid
    * constant (`NearestCentroidsFloat`, codegen'd) — a pure projection
    * with ZERO shuffle; the only shuffle per iteration is the C×dims
    * mean recompute (posexplode + partial-agg groupBy). Centroids are
    * collected to the driver each iteration — C×dims scalars, the same
    * move MLlib's KMeans makes — which also truncates the lineage: the
    * old DataFrame-chained version re-ran every previous Lloyd
    * iteration on each downstream action. At 100 TB each iteration is
    * one scan + one small aggregation. */
  /** Per-(session, dir, corpus-tag) k-means model memo via
    * [[Memo.value]] — the model is C×dims driver-side scalars, cheap
    * to hold and 1 + iters Spark actions to rebuild (rebuilds are now
    * bit-identical thanks to the quantized mean update, but still cost
    * real Spark actions); memoizing gives each session ONE model per
    * corpus and drops ~1 s per IVF/semantic-dedup call. Living in
    * Memo's store means a dir backfill's `Memo.invalidate` clears
    * models together with frames. */
  private def memoModel(spark: SparkSession, dir: String, tag: String)
                       (build: => (Array[Int], Array[Array[Float]]))
  : (Array[Int], Array[Array[Float]]) =
    Memo.value(spark, dir, s"sim.model.$tag")(build)

  def kmeansModel(spark: SparkSession, dir: String,
                  iters: Int = KMeansIters): (Array[Int], Array[Array[Float]]) =
    memoModel(spark, dir, s"embeddings-$iters") {
      kmeansModelOn(
        Tables.spread(spark, Tables.embeddings(spark, dir)).select(col("vec_id"), col("embedding")),
        iters)
    }

  /** Same, over an arbitrary (vec_id, embedding) corpus frame. */
  def kmeansModelOn(corpus: DataFrame,
                    iters: Int = KMeansIters): (Array[Int], Array[Array[Float]]) = {
    val e = corpus.select(col("vec_id"), col("embedding"))
    var model = collectModel(e.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("ce")))
    // empty table (or no vec_id < NumCentroids) → empty model; callers
    // short-circuit rather than constructing NearestCentroidsFloat
    if (model._1.isEmpty) return model
    (0 until iters).foreach { _ =>
      val assigned = e.withColumn("centroid_id",
        GraftExpressions.nearestCentroidsFloat(col("embedding"), model._1, model._2, 1).getItem(0))
      // mean vector per cell: posexplode + groupBy(cell, dim) + re-assemble.
      // The mean is the deterministic quantized form (see MeanQuantScale):
      // exact integer sum → one double division, identical on every run
      // and replayable verbatim in the DuckDB oracle.
      val dims = assigned
        .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("centroid_id"), col("dim"))
        .agg((sum(expr(s"CAST(round(CAST(x AS DOUBLE) * $MeanQuantScale) AS BIGINT)"))
          .cast(DoubleType) /
          (lit(MeanQuantScale.toDouble) * count(lit(1)).cast(DoubleType))).as("m"))
      model = collectModel(dims
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("centroid_id"),
          expr("transform(dm, s -> CAST(s.m AS FLOAT))").as("ce")))
    }
    model
  }

  /** (centroid_id asc, centroid vector) — ids ascending so the
    * expression's tie-break (lower index) matches `ORDER BY csim DESC,
    * centroid_id`. */
  private def collectModel(df: DataFrame): (Array[Int], Array[Array[Float]]) = {
    val rows = df.orderBy(col("centroid_id")).collect()
    (rows.map(_.getInt(0)), rows.map(_.getSeq[Float](1).toArray))
  }

  /** Doc-local top-1 cell assignment — a pure projection over the
    * centroid constant (no Exchange, no Window; asserted in
    * LlmOpsSpec's plan-shape test). */
  private[graft] def ivfAssign(e: DataFrame, ids: Array[Int],
                               cents: Array[Array[Float]]): DataFrame =
    e.withColumn("centroid_id",
      GraftExpressions.nearestCentroidsFloat(col("embedding"), ids, cents, 1).getItem(0))

  /** IVF-style ANN: database vectors are assigned to their nearest
    * coarse centroid; a query probes its `NProbe` nearest centroid
    * cells. Assignment and probe selection are doc-local projections
    * over the centroid constant (no Exchange, no Window — asserted in
    * LlmOpsSpec); the only joins are confined to probed cells — the
    * FAISS-IVF shape, Spark-first. */
  def annIvf(spark: SparkSession, dir: String, nQueries: Int = 32, k: Int = 5): DataFrame =
    annIvfBuild(spark, dir, nQueries, k).orderBy(col("query_id"), col("rk"))

  private def annIvfBuild(spark: SparkSession, dir: String,
                          nQueries: Int, k: Int): DataFrame = {
    val e = Tables.spread(spark, Tables.embeddings(spark, dir))
    val (ids, cents) = kmeansModel(spark, dir)
    if (ids.isEmpty)
      // empty embeddings table: degrade to the empty result the old
      // window-based path produced, not a constructor require failure
      e.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0).as("rk"),
          lit(0L).as("neighbor_id"), lit(0.0).as("sim"))
    else annIvfRanked(e, e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding")), ids, cents, k,
      excludeSelf = true)
  }

  /** Default-panel IVF results shared (checkpoint, NOT CacheManager
    * persist — see [[Memo]]) by the recall audit and the
    * leaderboard; the named `sim_ann_ivf` query computes fresh. */
  private def annIvfShared(spark: SparkSession, dir: String, k: Int): DataFrame =
    Memo(spark, dir, s"sim.ann.ivf.$k")(annIvfBuild(spark, dir, 32, k))

  /** IVF search core over an explicit model and an arbitrary
    * (query_id, embedding) query frame — the query side may be a
    * STREAM: assignment/probe selection are stateless projections and
    * the cell join is stream-static, so the same code serves online
    * queries against the indexed corpus (proven stream ≡ batch in
    * LlmOpsSpec; the streaming form ranks via a sorted collect_list
    * aggregate since rank windows don't exist in streaming). */
  private[graft] def annIvfOn(e: DataFrame, queries: DataFrame,
                              ids: Array[Int], cents: Array[Array[Float]],
                              k: Int = 5, excludeSelf: Boolean = false): DataFrame =
    annIvfRanked(e, queries, ids, cents, k, excludeSelf)
      .orderBy(col("query_id"), col("rk"))

  /** [[annIvfOn]] minus the presentation sort — the memoizable form. */
  private def annIvfRanked(e: DataFrame, queries: DataFrame,
                           ids: Array[Int], cents: Array[Array[Float]],
                           k: Int, excludeSelf: Boolean): DataFrame = {
    val scored = annIvfScored(e, queries, ids, cents)
    // self-exclusion is OPT-IN: it only makes sense when query ids live
    // in the corpus id space (annIvf's queries ARE corpus vectors); for
    // an arbitrary query frame (request ids, a stream) an accidental id
    // collision must not silently drop a true neighbor
    (if (excludeSelf) scored.filter(col("query_id") =!= col("neighbor_id")) else scored)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("sim"))
  }

  /** The stream-safe prefix of IVF search: probe-cell explosion + cell
    * equi-join + exact cosine, no windows. */
  private[graft] def annIvfScored(e: DataFrame, queries: DataFrame,
                                  ids: Array[Int], cents: Array[Array[Float]]): DataFrame = {
    val db = ivfAssign(e, ids, cents)
      .select(col("centroid_id"), col("vec_id").as("neighbor_id"), col("embedding").as("eb"))
    val probes = queries
      .select(col("query_id"), col("embedding").as("ea"),
        explode(GraftExpressions.nearestCentroidsFloat(
          col("embedding"), ids, cents, NProbe)).as("centroid_id"))
    probes.join(db, Seq("centroid_id"))
      .withColumn("sim", GraftExpressions.cosineSim(col("ea"), col("eb")))
  }

  /** IVF cell-occupancy histogram — the dead/hot-cell detector every
    * IVF deployment watches (an empty cell wastes a probe budget
    * slot; a hot cell degrades probe selectivity toward brute force).
    * The PQ twin is [[pqCells]]; this is the coarse-quantizer side.
    * Shape: the zero-shuffle assignment projection + one partial-agg
    * groupBy over ≤ C rows. */
  def ivfCells(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(spark, Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"))
    val (ids, cents) = kmeansModel(spark, dir)
    if (ids.isEmpty)
      return e.sparkSession.emptyDataFrame
        .select(lit(0L).as("centroid_id"), lit(0L).as("ct"))
    ivfAssign(e, ids, cents)
      .groupBy(col("centroid_id").cast(LongType).as("centroid_id"))
      .agg(count(lit(1)).as("ct"))
      .orderBy(col("centroid_id"))
  }

  /** Index-health dashboard: occupancy balance for all four ANN index
    * families in one table — the deploy-decision companion to
    * [[annLeaderboard]] (recall says which family FINDS neighbors;
    * this says whether its partitioning is balanced enough to keep
    * probe cost bounded: a high `max_share` family degrades toward a
    * scan on its hot cell). Per family: populated cells, hottest-cell
    * occupancy, total assignments, hot share. Composed from each
    * family's own assignment path — one fused signature/assignment
    * pass each, then ≤cell-count-sized aggregations; no pairwise work
    * anywhere. */
  def indexHealth(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(spark, Tables.embeddings(spark, dir))
    val (ids, cents) = kmeansModel(spark, dir)
    // same empty-model guard as ivfCells/incrementalIvf: with an empty
    // embeddings table ivfAssign over zero centroids yields null cells
    // and the global agg a null max/sum division — return the empty
    // frame in the dashboard's schema instead
    if (ids.isEmpty)
      return e.sparkSession.emptyDataFrame
        .select(lit("").as("family"), lit(0L).as("cells_used"),
          lit(0L).as("max_occ"), lit(0L).as("total_assignments"),
          lit(0.0).as("max_share"))
    // one two-level aggregation over a family-tagged union (r18, guide
    // §2.4): the four per-family health() pipelines each paid their own
    // groupBy(cell) + global-agg exchanges (8 exchanges, 8 tiny
    // stages); tagging each family's assignment stream with a literal
    // and aggregating ONCE by (family, cell) then by family computes
    // the identical counts — families are disjoint tags, so the fused
    // per-(family, cell) groups are exactly the per-family groups —
    // in 2 exchanges. The four assignment scans themselves remain (they
    // read different frames); only the aggregation tree fuses.
    def tag(family: String, cells: DataFrame): DataFrame =
      cells.select(lit(family).as("family"), col("cell"))
    def codeCells(codes: DataFrame): DataFrame =
      (0 until PqM).map(m => codes.select(
        concat(lit(s"$m:"), col(s"code_$m").cast(StringType)).as("cell")))
        .reduce(_ unionByName _)
    val cells = Seq(
      tag("ivf", ivfAssign(e.select(col("vec_id"), col("embedding")), ids, cents)
        .select(col("centroid_id").cast(StringType).as("cell"))),
      tag("ivfpq", codeCells(memoIvfpqCodes(spark, dir))),
      tag("lsh", bucketsUnpivoted(e, carryEmbedding = false)
        .select(concat(col("t").cast(StringType), lit(":"),
          col("bucket").cast(StringType)).as("cell"))),
      tag("pq", codeCells(memoPqCodes(spark, dir))))
      .reduce(_ unionByName _)
    cells.groupBy(col("family"), col("cell")).agg(count(lit(1)).as("occ"))
      .groupBy(col("family"))
      .agg(count(lit(1)).as("cells_used"), max(col("occ")).as("max_occ"),
        sum(col("occ")).as("total_assignments"))
      .select(col("family"), col("cells_used"), col("max_occ"),
        col("total_assignments"),
        (col("max_occ").cast(DoubleType) /
          col("total_assignments").cast(DoubleType)).as("max_share"))
      .orderBy(col("family"))
  }

  /** Arrival slice for [[incrementalIvf]]: `vec_id % IncrMod == 0`
    * rows land in the delta batch; the rest are the day-1 base. */
  val IncrMod = 16L
  /** Deletion slice: BASE rows with `vec_id % IncrDelMod == 0` are
    * erased before the delta splices in (coprime to [[IncrMod]] so
    * adds and deletes overlap nothing). */
  val IncrDelMod = 17L

  /** Incremental IVF index maintenance under a FROZEN coarse
    * quantizer — the production ANN delta path: the k-means model is
    * trained once (the shared memoized model) and never retrained per
    * batch; a delta batch is assigned to its nearest frozen centroid
    * by the same zero-shuffle codegen projection ([[ivfAssign]]), and
    * the stored index is spliced set-wise — deletes via filter, adds
    * via union — exactly the [[graft.operators.Search.incrementalPostings]] /
    * `Multimodal.incrementalHashes` maintenance discipline, applied to
    * the vector index.
    *
    * Scale shape: the delta pass touches ONLY delta rows (a projection
    * over the broadcast-free centroid constant — no Exchange), the
    * carried index is a stored-frame filter, and nothing re-reads the
    * base corpus embeddings. At 100 TB the per-batch cost is
    * O(|delta|·C·dims) scan work plus the splice. LlmOpsSpec proves
    * the splice ≡ assigning the v2 corpus directly under the frozen
    * model; the DuckDB oracle replays model + assignment exactly. */
  def incrementalIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(spark, Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"))
    val (ids, cents) = kmeansModel(spark, dir)
    if (ids.isEmpty)
      return e.sparkSession.emptyDataFrame
        .select(lit(0L).as("vec_id"), lit(0L).as("centroid_id"), lit("").as("src"))
    // "stored" v1 index state (the search.postings.v1 memo precedent)
    val v1 = Memo(spark, dir, "sim.ivf.v1")(
      ivfAssign(e.filter(col("vec_id") % IncrMod =!= 0), ids, cents)
        .select(col("vec_id"), col("centroid_id").cast(LongType).as("centroid_id")))
    val carried = v1.filter(col("vec_id") % IncrDelMod =!= 0)
      .withColumn("src", lit("carried"))
    val added = ivfAssign(e.filter(col("vec_id") % IncrMod === 0), ids, cents)
      .select(col("vec_id"), col("centroid_id").cast(LongType).as("centroid_id"))
      .withColumn("src", lit("added"))
    carried.unionByName(added)
      .select(col("vec_id"), col("centroid_id"), col("src"))
      .orderBy(col("vec_id"))
  }

  /** How many nearest cells each vector PROBES during semantic dedup.
    * The database side stays one cell per vector; probing 2 of
    * `NumCentroids` cells catches near-dup pairs that straddle a
    * cluster boundary (the known SemDeDup recall hole) for 2× probe
    * rows, corpus untouched. */
  val DedupProbes = 2

  /** SemDeDup-style semantic dedup (the embedding-space analog of
    * MinHash dedup): k-means-cluster the corpus, then WITHIN each cell
    * drop every vector that has a cosine-≥-threshold neighbor of
    * smaller vec_id; the surviving min-id vector is the kept
    * representative. Pair work is cluster-local — at C cells the
    * comparison count drops from n²/2 to ~Σ|cell|²/2 ≈ n²/(2C), and C
    * scales with corpus size (size it ~n/targetCellSize at 100 TB; the
    * k-means cost is one scan + one C×dims aggregation per Lloyd
    * iteration). Assignment and probe selection are zero-shuffle
    * codegen projections (`NearestCentroidsFloat`); the only shuffles
    * are the cell-key equi-join and the per-vector min — no cross join
    * anywhere (plan-asserted in LlmOpsSpec).
    *
    * Output: one row per corpus vector — (vec_id, centroid_id, keep,
    * dup_of) with dup_of = the smallest similar smaller-id NEIGHBOR
    * (-1 when kept). The witness may itself be dropped — greedy min-id
    * dedup produces witness CHAINS (a→b→c), strictly decreasing in id,
    * that always terminate at a retained vector (the standard SemDeDup
    * transitive-drop behavior: near-dup is not transitive, so a
    * chain-dropped vector need not be ≥-threshold similar to its
    * chain's root). Consumers wanting the retained representative
    * follow dup_of to a keep=1 row; chain termination is spec-asserted.
    * Not SQL-expressible (k-means); gated by the planted-pair recall +
    * zero-false-drop spec instead of a DuckDB oracle. */
  def semanticDedupOn(corpus: DataFrame, threshold: Double = 0.9,
                      model: Option[(Array[Int], Array[Array[Float]])] = None): DataFrame = {
    val e = corpus.select(col("vec_id"), col("embedding"))
    val (ids, cents) = model.getOrElse(kmeansModelOn(e))
    if (ids.isEmpty)
      return e.sparkSession.emptyDataFrame
        .select(lit(0L).as("vec_id"), lit(0L).as("centroid_id"),
          lit(0L).as("keep"), lit(0L).as("dup_of"))
    val assigned = ivfAssign(e, ids, cents)
    val db = assigned
      .select(col("centroid_id"), col("vec_id").as("vb"), col("embedding").as("eb"))
    val probes = e.select(col("vec_id"), col("embedding").as("ea"),
      explode(GraftExpressions.nearestCentroidsFloat(
        col("embedding"), ids, cents, DedupProbes)).as("centroid_id"))
    val dupOf = probes.join(db, Seq("centroid_id"))
      .filter(col("vb") < col("vec_id"))
      .withColumn("sim", GraftExpressions.cosineSim(col("ea"), col("eb")))
      .filter(col("sim") >= threshold)
      .groupBy(col("vec_id")).agg(min(col("vb")).as("dup_of"))
    assigned.select(col("vec_id"), col("centroid_id").cast(LongType).as("centroid_id"))
      .join(dupOf, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull.cast(LongType))
      .withColumn("dup_of", coalesce(col("dup_of"), lit(-1L)))
      .select(col("vec_id"), col("centroid_id"), col("keep"), col("dup_of"))
      .orderBy(col("vec_id"))
  }

  /** Named-query form: the corpus is `embeddings` plus the same
    * deterministically jittered copies [[nearDupPlanted]] uses, so the
    * operator demonstrably deduplicates (the raw corpus's max pair
    * cosine ≈ 0.55 sits far below the 0.9 threshold — over it alone
    * the query would be a no-op). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = plantedCorpus(spark, dir)
    semanticDedupOn(corpus,
      model = Some(memoModel(spark, dir, "planted") { kmeansModelOn(corpus) }))
  }

  /** embeddings ∪ jittered copies at vec_id + PlantOffset (cosine with
    * their original ≈ 0.96) — shared by [[nearDupPlanted]] and
    * [[semanticDedup]]. Memoized+persisted per (session, dir): the
    * semantic-dedup pipeline alone reads it ~6 times (k-means init +
    * Lloyd iterations + assignment + output join), and recomputing the
    * jitter transform per pass was most of its first-run cost. */
  private def plantedCorpus(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "sim.plantedCorpus") {
      val e = Tables.spread(spark, Tables.embeddings(spark, dir))
        .select(col("vec_id"), col("embedding"))
      val jittered = e.select((col("vec_id") + lit(PlantOffset)).as("vec_id"),
        expr("transform(embedding, (x, i) -> CAST(x * (1.0 + 0.3 * " +
          "(CAST(pmod(hash(vec_id, i), 2) AS DOUBLE) * 2.0 - 1.0)) AS FLOAT))")
          .as("embedding"))
      e.unionByName(jittered)
    }

  /** Float fast path (codegen'd CosineSimFloat) — the bench variant of
    * annTopK. Sims differ from the QUANTIZED oracle in the last ulps,
    * but the float path has its own bit-exact oracle: a DuckDB
    * list_reduce replaying the expression's exact IEEE fold order. */
  def annTopKFloat(spark: SparkSession, dir: String, nQueries: Int = 32, k: Int = 5): DataFrame =
    bfTruthBuild(spark, dir, k, nQueries).orderBy(col("query_id"), col("rk"))

  private def bfTruthBuild(spark: SparkSession, dir: String,
                           k: Int, nQueries: Int): DataFrame = {
    val e = Tables.spread(spark, Tables.embeddings(spark, dir))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("ea"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", GraftExpressions.cosineSim(col("ea"), col("eb")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("sim"))
  }

  /** The brute-force truth panel at the default query-panel size,
    * shared (checkpoint, NOT CacheManager persist — see
    * [[Memo]]) by every recall audit and the leaderboard: the
    * exact panel×corpus pass runs once per (session, dir, k) for the
    * audit tier, while the named `sim_ann_topk_float` query computes —
    * and is measured on — its own fresh pass. */
  private def bfTruth(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    Memo(spark, dir, s"sim.bf.$k")(bfTruthBuild(spark, dir, k, 32))

  /** ANN quality audit: recall@k of the IVF index against the exact
    * brute-force neighbors — the number every index deployment must
    * report before the approximate path replaces the exact one. One
    * key join between the two k-row-per-query rank frames, grouped per
    * query; recall = hits/k is a single exact division (small int /
    * 5.0), so the whole report is oracle-hashable. At 100 TB the truth
    * side runs on a sampled query panel (it is the only exact-cost
    * component) while the IVF side is the production path — the audit
    * cost is bounded by the panel, never the corpus. */
  def annRecall(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val approx = annIvfShared(spark, dir, k)
      .select(col("query_id"), col("neighbor_id"))
    val truth = bfTruth(spark, dir, k)
      .select(col("query_id").as("tq"), col("neighbor_id").as("tn"))
    val hits = approx
      .join(truth, col("query_id") === col("tq") && col("neighbor_id") === col("tn"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hit_ct"))
    truth.select(col("tq").as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hit_ct"), lit(0L)).as("hit_ct"),
        (coalesce(col("hit_ct"), lit(0L)).cast(DoubleType) / k.toDouble).as("recall"))
      .orderBy(col("query_id"))
  }

  /** [[annRecall]] for the hyperplane-LSH index — same audit, other
    * index family; reporting both tells the operator WHICH approximate
    * path is safe to serve. */
  def annRecallLsh(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val approx = annLshShared(spark, dir, k)
      .select(col("query_id"), col("neighbor_id"))
    val truth = bfTruth(spark, dir, k)
      .select(col("query_id").as("tq"), col("neighbor_id").as("tn"))
    val hits = approx
      .join(truth, col("query_id") === col("tq") && col("neighbor_id") === col("tn"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hit_ct"))
    truth.select(col("tq").as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hit_ct"), lit(0L)).as("hit_ct"),
        (coalesce(col("hit_ct"), lit(0L)).cast(DoubleType) / k.toDouble).as("recall"))
      .orderBy(col("query_id"))
  }

  /** Embedding-table QA: corpus size, dimensionality, and the
    * quantized-norm distribution — the sanity report run before any
    * ANN/dedup job (degenerate embeddings show up as zero or wildly
    * ranged norms; mixed dims break every dot product). Quantized
    * integer norms keep every aggregate exact, so the whole report is
    * oracle-checkable. Single scan + one 1-row aggregate. */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    quantized(spark, dir)
      .select(col("vec_id"), size(col("q")).as("dims"), col("nrm"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("dims")).as("distinct_dims"),
        min(col("dims")).as("dims"),
        min(col("nrm")).as("min_nrm"),
        max(col("nrm")).as("max_nrm"),
        sum(col("nrm")).as("sum_nrm"),
        sum(when(col("nrm") === 0, 1L).otherwise(0L)).as("zero_vecs"))

  /** Hard-negative mining for embedding-model training: for each query
    * vector, the k most-similar DIFFERENT-label neighbors below the
    * near-dup threshold — similar enough to be hard, excluded as a
    * positive (label) or a duplicate (threshold). Scoring reuses the
    * exact quantized cosine; labels attach with one key join. The
    * query set is bounded (like [[annTopK]]'s baseline contract); at
    * corpus scale generate candidates with [[annLsh]]'s bucketed probe
    * and apply the same label/threshold filter before the per-query
    * rank. */
  def hardNegatives(spark: SparkSession, dir: String,
                    nQueries: Int = HardNegQueries, k: Int = HardNegK,
                    dupThreshold: Double = HardNegDupThreshold): DataFrame = {
    val e = Tables.spread(spark, Tables.embeddings(spark, dir))
    val v = quantized(spark, dir)
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
    val q = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qa"),
        col("nrm").as("na"), col("label").as("qlabel"))
    val c = v.select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
      col("nrm").as("nb"), col("label").as("neighbor_label"))
    // hint: a non-equi join has no shuffle form, only a broadcast or a CartesianProduct
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .filter(col("qlabel") =!= col("neighbor_label"))
      .withColumn("dot", dotCol)
      .withColumn("sim", col("dot").cast(DoubleType) /
        (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))))
      .filter(col("sim") < dupThreshold)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        col("neighbor_label"), col("sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** [[hardNegatives]] defaults, interpolated into the registered
    * oracle SQL below so the engine and oracle constants cannot drift
    * (the Search module's WorkloadSlots pattern). */
  val HardNegQueries = 32
  val HardNegK = 5
  val HardNegDupThreshold = 0.9

  /** Per-label embedding centroids via [[graft.functions.VectorSumAgg]]
    * — one hash aggregation whose buffer is a single 64-long array per
    * label. The naive shapes both fail at scale: per-dimension
    * `explode` multiplies the shuffle rows by dims, and 64 separate
    * `sum(element_at(v, i))` slots stop codegen-ing near 10² dims.
    * Here the shuffle carries one vector per (partition, label), sums
    * are the exact quantized integers ([[MeanQuantScale]], same
    * convention as the IVF k-means mean step), and the mean is one
    * deterministic double division at the end. Output long form
    * (label, dim, sum_q, n, mean) for the oracle hash. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.spread(spark, Tables.embeddings(spark, dir))
    val q = emb.select(col("label"),
      expr(s"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $MeanQuantScale) AS BIGINT))").as("qv"))
    q.groupBy(col("label"))
      .agg(GraftExpressions.vectorSumAgg(col("qv"), 64).as("sums"),
        count(lit(1)).as("n"))
      .select(col("label"), col("n"), posexplode(col("sums")))
      .select(col("label").cast(LongType).as("label"),
        col("pos").cast(LongType).as("dim"), col("col").as("sum_q"), col("n"),
        (col("col").cast(DoubleType) /
          (lit(MeanQuantScale.toDouble) * col("n").cast(DoubleType))).as("mean"))
      .orderBy(col("label"), col("dim"))
  }

  // ── Product quantization ────────────────────────────────────────
  /** PQ geometry: 4 subspaces × 16 dims (the fixture's 64-dim
    * embeddings), 16 centroids each — so a vector compresses from
    * 64 × 4 B floats to 4 × 4-bit codes. At 100 TB of embeddings PQ is
    * what makes an ANN index fit in executor memory at all: the coded
    * corpus is 64× smaller than the float corpus, and asymmetric
    * distance scans read codes + one small per-query lookup table. */
  val PqM = 4
  val PqSubDim = 16

  /** Per-subspace codebook: the SAME deterministic Lloyd loop as the
    * IVF coarse quantizer ([[kmeansModelOn]] — integer-quantized mean
    * updates, cosine assignment, ties to lower cid), over the m-th
    * 16-dim slice of every vector. Memoized per (session, dir, m). */
  private def pqModel(spark: SparkSession, dir: String, m: Int)
  : (Array[Int], Array[Array[Float]]) =
    memoModel(spark, dir, s"pq$m") {
      kmeansModelOn(Tables.spread(spark, Tables.embeddings(spark, dir))
        .select(col("vec_id"),
          slice(col("embedding"), m * PqSubDim + 1, PqSubDim).as("embedding")))
    }

  /** (vec_id, code_0..code_3): each subspace's nearest-codebook-entry
    * id. All four assignments are `NearestCentroidsFloat` projections
    * over broadcast-constant codebooks fused into ONE codegen span —
    * coding a 100 TB corpus is a pure scan, zero shuffles (the only
    * exchange in the named query is its presentation sort). */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    // the named query codes fresh per action (a zero-shuffle scan);
    // index consumers share the checkpointed frame below (r18)
    pqCodesBuild(spark, dir).orderBy(col("vec_id"))

  private def memoPqCodes(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "sim_pq_codes")(pqCodesBuild(spark, dir))

  private[graft] def pqCodesBuild(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.spread(spark, Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"))
    val coded = (0 until PqM).foldLeft(e) { (df, m) =>
      val (ids, cents) = pqModel(spark, dir, m)
      df.withColumn(s"code_$m",
        GraftExpressions.nearestCentroidsFloat(
          slice(col("embedding"), m * PqSubDim + 1, PqSubDim), ids, cents, 1)
          .getItem(0).cast(LongType))
    }
    coded.select(col("vec_id") +: (0 until PqM).map(m => col(s"code_$m")): _*)
  }

  /** Codebook balance: (subspace, code, ct) occupancy histogram — the
    * dataset-quality view of the PQ index (a collapsed code means a
    * dead codebook entry; a dominant one means the subspace carries no
    * signal). 4·C rows at any corpus size. */
  def pqCells(spark: SparkSession, dir: String): DataFrame =
    memoPqCodes(spark, dir)
      .select(expr("stack(4, CAST(0 AS BIGINT), code_0, CAST(1 AS BIGINT), code_1, " +
        "CAST(2 AS BIGINT), code_2, CAST(3 AS BIGINT), code_3) AS (subspace, code)"))
      .groupBy(col("subspace"), col("code")).agg(count(lit(1)).as("ct"))
      .orderBy(col("subspace"), col("code"))

  /** ADC (asymmetric-distance) retrieval over the PQ codes — the
    * production PQ query shape: the query stays FLOAT, the corpus is
    * 4 codes/vector, and each (query, vector) score is four lookups
    * into the query's per-subspace dot-product table plus one division.
    * Because subspaces are disjoint coordinates, the reconstructed
    * vector's norm is EXACTLY Σ_m |c_{code_m}|² — so the ADC cosine is
    * the true cosine against the reconstruction, not an approximation
    * of one.
    *
    * Determinism: dot products and norms are index-ordered left folds
    * over per-element double casts (the [[GraftExpressions.cosineSim]]
    * contract); the 4 per-subspace terms come back from conditional
    * single-element sums and are added in fixed literal order — every
    * double op has one order in both engines.
    *
    * Scale shape: the LUT is (queries × 4 × C) rows — broadcast at any
    * corpus size; the corpus side scans CODES only (the 64×-compressed
    * frame, the entire point of PQ), one broadcast-hash join + one
    * grouped fold per (query, vector), then the standard per-query
    * top-k window over k·|queries| survivors. */
  def pqAnn(spark: SparkSession, dir: String, nQueries: Int = 32, k: Int = 5): DataFrame =
    pqAnnOn(spark, dir,
      Tables.spread(spark, Tables.embeddings(spark, dir))
        .filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding")), k)

  /** Default-panel PQ results shared (checkpoint, NOT CacheManager
    * persist — see [[Memo]]) by the recall audit and the
    * leaderboard; the named `sim_pq_ann` query computes fresh. */
  private def pqAnnShared(spark: SparkSession, dir: String, k: Int): DataFrame =
    Memo(spark, dir, s"sim.ann.pq.$k")(pqAnn(spark, dir, 32, k))

  /** [[pqAnn]] against an arbitrary `(query_id, embedding)` frame —
    * the serving entry point: a STREAM of query vectors scores per
    * micro-batch against the static coded corpus (`foreachBatch` over
    * this builder — the same serve discipline as the BM25 tier). When
    * the query frame is streaming, the LUT side skips the explicit
    * broadcast hint (stream-static joins pick their own strategy). */
  private[graft] def pqAnnOn(spark: SparkSession, dir: String,
                             queries: DataFrame, k: Int = 5): DataFrame = {
    import spark.implicits._
    val fold = "CAST(0.0 AS DOUBLE), (a, v) -> a + v"
    val cb = (0 until PqM).flatMap { m =>
      val (ids, cents) = pqModel(spark, dir, m)
      ids.zip(cents).map { case (cid, ce) => (m.toLong, cid.toLong, ce.toSeq) }
    }.toDF("m", "code", "ce")
    val slices = (0 until PqM).map(m =>
      s"CAST($m AS BIGINT), slice(embedding, ${m * PqSubDim + 1}, $PqSubDim)").mkString(", ")
    val q = queries
      .select(col("query_id"),
        expr(s"aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), $fold)").as("qn"),
        expr(s"stack($PqM, $slices) AS (m, qm)"))
    val lut = q.join(cb, Seq("m"))
      .select(col("query_id"), col("qn"), col("m"), col("code"),
        expr(s"aggregate(zip_with(qm, ce, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), $fold)").as("term"),
        expr(s"aggregate(transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), $fold)").as("cn"))
    val codeStack = (0 until PqM).map(m => s"CAST($m AS BIGINT), code_$m").mkString(", ")
    val codes = memoPqCodes(spark, dir)
      .select(col("vec_id"), expr(s"stack($PqM, $codeStack) AS (m, code)"))
    def only(m: Int, c: Column) = sum(when(col("m") === m, c))
    codes.join(lut, Seq("m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(max(col("qn")).as("qn"),
        only(0, col("term")).as("t0"), only(1, col("term")).as("t1"),
        only(2, col("term")).as("t2"), only(3, col("term")).as("t3"),
        only(0, col("cn")).as("n0"), only(1, col("cn")).as("n1"),
        only(2, col("cn")).as("n2"), only(3, col("cn")).as("n3"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adot", col("t0") + col("t1") + col("t2") + col("t3"))
      .withColumn("xn", col("n0") + col("n1") + col("n2") + col("n3"))
      .withColumn("sim", when(col("qn") === 0.0 || col("xn") === 0.0, lit(0.0))
        .otherwise(col("adot") / (sqrt(col("qn")) * sqrt(col("xn")))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Quantization-fidelity report: per vector, the cosine between the
    * FLOAT vector and its own PQ reconstruction (subspace centroids
    * concatenated) — the distribution every PQ deployment checks
    * before the coded corpus replaces the float one (a fat low-
    * fidelity tail means more subspaces / centroids are needed, not a
    * retrieval-time fix). Same fixed-order double algebra as
    * [[pqAnn]]; codes never re-derived (reads the memoized code
    * frame), codebooks broadcast.
    *
    * Scale shape: one coded-corpus scan + four broadcast-hash joins on
    * 4-bit keys; no shuffle at all until the presentation sort. */
  def pqResidual(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fold = "CAST(0.0 AS DOUBLE), (a, v) -> a + v"
    val e = Tables.spread(spark, Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"),
        expr(s"aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), $fold)").as("qn"))
    var df = e.join(memoPqCodes(spark, dir), Seq("vec_id"))
    (0 until PqM).foreach { m =>
      val (ids, cents) = pqModel(spark, dir, m)
      val cb = ids.zip(cents)
        .map { case (cid, ce) => (cid.toLong, ce.toSeq) }.toSeq
        .toDF(s"code_$m", s"ce_$m")
      df = df.join(cb, Seq(s"code_$m"))
        .withColumn(s"t$m",
          expr(s"aggregate(zip_with(slice(embedding, ${m * PqSubDim + 1}, $PqSubDim), ce_$m, " +
            s"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), $fold)"))
        .withColumn(s"n$m",
          expr(s"aggregate(transform(ce_$m, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), $fold)"))
    }
    df
      .withColumn("adot", col("t0") + col("t1") + col("t2") + col("t3"))
      .withColumn("xn", col("n0") + col("n1") + col("n2") + col("n3"))
      .select(col("vec_id"),
        when(col("qn") === 0.0 || col("xn") === 0.0, lit(0.0))
          .otherwise(col("adot") / (sqrt(col("qn")) * sqrt(col("xn")))).as("fidelity"))
      .orderBy(col("vec_id"))
  }

  // ── IVF-PQ: residual product quantization ───────────────────────

  /** Each vector minus its coarse cell's centroid — SINGLE-PRECISION
    * subtraction (Spark float − float = float; DuckDB FLOAT − FLOAT =
    * FLOAT — bit-identical), so the residual corpus replays exactly.
    * Residual PQ beats plain PQ at equal bits because residual norms
    * are a fraction of vector norms — the whole point of IVF-PQ. */
  private def memoIvfpqResiduals(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "sim.ivfpq.residuals") {
      import spark.implicits._
      val (ids, cents) = kmeansModel(spark, dir)
      val cdf = ids.zip(cents)
        .map { case (cid, ce) => (cid, ce.toSeq) }.toSeq.toDF("centroid_id", "cce")
      val e = Tables.spread(spark, Tables.embeddings(spark, dir))
        .select(col("vec_id"), col("embedding"))
      ivfAssign(e, ids, cents)
        .join(cdf, Seq("centroid_id"))
        .select(col("vec_id"), col("centroid_id").cast(LongType).as("centroid_id"),
          col("embedding"),
          expr("zip_with(embedding, cce, (x, y) -> x - y)").as("rv"))
    }

  /** Per-subspace RESIDUAL codebook — the same deterministic Lloyd
    * loop, trained on residual slices. */
  private def ivfpqModel(spark: SparkSession, dir: String, m: Int)
  : (Array[Int], Array[Array[Float]]) =
    memoModel(spark, dir, s"ivfpq$m") {
      kmeansModelOn(memoIvfpqResiduals(spark, dir)
        .select(col("vec_id"),
          slice(col("rv"), m * PqSubDim + 1, PqSubDim).as("embedding")))
    }

  /** The IVF-PQ index frame: (vec_id, coarse cell, 4 residual codes).
    * Like [[pqCodesBuild]], coding is a zero-shuffle projection chain
    * over broadcast-constant codebooks. */
  def ivfpqCodes(spark: SparkSession, dir: String): DataFrame =
    // the named query codes fresh per action (a zero-shuffle projection
    // chain); the ANN and residual consumers share the checkpoint (r18)
    ivfpqCodesBuild(spark, dir).orderBy(col("vec_id"))

  private def memoIvfpqCodes(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "sim_ivfpq_codes")(ivfpqCodesBuild(spark, dir))

  private def ivfpqCodesBuild(spark: SparkSession, dir: String): DataFrame = {
      val r = memoIvfpqResiduals(spark, dir)
      val coded = (0 until PqM).foldLeft(r) { (df, m) =>
        val (ids, cents) = ivfpqModel(spark, dir, m)
        df.withColumn(s"code_$m",
          GraftExpressions.nearestCentroidsFloat(
            slice(col("rv"), m * PqSubDim + 1, PqSubDim), ids, cents, 1)
            .getItem(0).cast(LongType))
      }
      coded.select(col("vec_id") +: col("centroid_id") +:
        (0 until PqM).map(m => col(s"code_$m")): _*)
    }

  /** Exact double dot in ascending index order from +0.0 — the
    * driver-side twin of the `aggregate(zip_with(...))` fold, for
    * model-constant tables (cell × codebook cross terms). */
  private def dotD(a: Array[Float], aOff: Int, b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < b.length) { s += a(aOff + i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** IVF-PQ/ADC retrieval: queries probe their [[NProbe]] nearest
    * coarse cells; database vectors surface as (cell, 4 codes) only.
    * The cosine against the reconstruction x̂ = c_cell + r̂ is computed
    * EXACTLY from constants: dot(q, x̂) = dot(q, c) + Σ_m lut[m][code];
    * |x̂|² = |c|² + 2·Σ_m dot(c_m, ĉ_m) + Σ_m |ĉ_m|² (subspaces are
    * disjoint coordinates, so no cross term is missing). The
    * (cell, m, code) cross-term table is model-sized (C·M·C rows),
    * computed driver-side with the same ascending-index double fold
    * and broadcast — the corpus side still scans codes only. */
  /** Shared IVF-PQ constant frames: the (cell, m, code) cross-term
    * table, the residual codebook, and the coarse-centroid table —
    * model-sized, broadcast by every consumer. */
  private def ivfpqConsts(spark: SparkSession, dir: String)
  : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val (kids, kcents) = kmeansModel(spark, dir)
    val rmodels = (0 until PqM).map(m => ivfpqModel(spark, dir, m))
    val cellConsts = (for {
      (cid, ce) <- kids.zip(kcents)
      m <- 0 until PqM
      (rcid, rce) <- rmodels(m)._1.zip(rmodels(m)._2)
    } yield (cid.toLong, m.toLong, rcid.toLong,
      dotD(ce, m * PqSubDim, rce), dotD(rce, 0, rce))).toSeq
      .toDF("centroid_id", "m", "code", "xterm", "nterm")
    val rcb = (0 until PqM).flatMap { m =>
      rmodels(m)._1.zip(rmodels(m)._2)
        .map { case (cid, rce) => (m.toLong, cid.toLong, rce.toSeq) }
    }.toSeq.toDF("m", "code", "rce")
    val cdf = kids.zip(kcents)
      .map { case (cid, ce) => (cid.toLong, ce.toSeq) }.toSeq
      .toDF("centroid_id", "cce")
    (cellConsts, rcb, cdf)
  }

  def ivfpqAnn(spark: SparkSession, dir: String, nQueries: Int = 32,
               k: Int = 5): DataFrame =
    ivfpqAnnBuild(spark, dir, nQueries, k)

  /** Default-panel IVF-PQ results shared (checkpoint, NOT CacheManager
    * persist — see [[Memo]]) by the recall audit and the
    * leaderboard; the named `sim_ivfpq_ann` query computes fresh. */
  private def ivfpqAnnShared(spark: SparkSession, dir: String, k: Int): DataFrame =
    Memo(spark, dir, s"sim.ann.ivfpq.$k")(ivfpqAnnBuild(spark, dir, 32, k))

  private def ivfpqAnnBuild(spark: SparkSession, dir: String, nQueries: Int,
                            k: Int): DataFrame = {
    import spark.implicits._
    val fold = "CAST(0.0 AS DOUBLE), (a, v) -> a + v"
    val (kids, kcents) = kmeansModel(spark, dir)
    val (cellConsts, rcb, cdf) = ivfpqConsts(spark, dir)
    val q0 = Tables.spread(spark, Tables.embeddings(spark, dir))
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding"),
        expr(s"aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), $fold)").as("qn"))
    val probes = q0
      .select(col("query_id"), col("embedding"), col("qn"),
        explode(GraftExpressions.nearestCentroidsFloat(
          col("embedding"), kids, kcents, NProbe)).as("cid0"))
      .withColumn("centroid_id", col("cid0").cast(LongType))
      .join(cdf, Seq("centroid_id"))
      .select(col("query_id"), col("qn"), col("centroid_id"),
        expr(s"aggregate(zip_with(embedding, cce, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), $fold)").as("qc"),
        expr(s"aggregate(transform(cce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), $fold)").as("cn"))
    val slices = (0 until PqM).map(m =>
      s"CAST($m AS BIGINT), slice(embedding, ${m * PqSubDim + 1}, $PqSubDim)").mkString(", ")
    // queries × PqM × codes rows, checkpointed so the corpus join sees
    // its measured size instead of the q0 ⋈ rcb product estimate
    val lut = Memo.checkpointCounted(q0
      .select(col("query_id"), expr(s"stack($PqM, $slices) AS (m, qm)"))
      .join(rcb, Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        expr(s"aggregate(zip_with(qm, rce, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), $fold)").as("term")))._1
    val codeStack = (0 until PqM).map(m => s"CAST($m AS BIGINT), code_$m").mkString(", ")
    val icu = memoIvfpqCodes(spark, dir)
      .select(col("vec_id"), col("centroid_id"),
        expr(s"stack($PqM, $codeStack) AS (m, code)"))
    def only(m: Int, c: Column) = sum(when(col("m") === m, c))
    icu.join(probes, Seq("centroid_id"))
      .join(lut, Seq("query_id", "m", "code"))
      .join(cellConsts, Seq("centroid_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(max(col("qn")).as("qn"), max(col("qc")).as("qc"), max(col("cn")).as("cn"),
        only(0, col("term")).as("t0"), only(1, col("term")).as("t1"),
        only(2, col("term")).as("t2"), only(3, col("term")).as("t3"),
        only(0, col("xterm")).as("x0"), only(1, col("xterm")).as("x1"),
        only(2, col("xterm")).as("x2"), only(3, col("xterm")).as("x3"),
        only(0, col("nterm")).as("n0"), only(1, col("nterm")).as("n1"),
        only(2, col("nterm")).as("n2"), only(3, col("nterm")).as("n3"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adot", col("qc") + col("t0") + col("t1") + col("t2") + col("t3"))
      .withColumn("xn", col("cn") + lit(2.0) * (col("x0") + col("x1") + col("x2") + col("x3")) +
        (col("n0") + col("n1") + col("n2") + col("n3")))
      .withColumn("sim", when(col("qn") === 0.0 || col("xn") <= 0.0, lit(0.0))
        .otherwise(col("adot") / (sqrt(col("qn")) * sqrt(col("xn")))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** IVF-PQ quantization-fidelity report: per vector, cosine to its
    * reconstruction x̂ = c_cell + r̂ — the paired number to
    * [[pqResidual]], and the measurable proof of WHY residual
    * quantization exists: at the same 4×4-bit budget the residual
    * codebooks cover a tighter ball, so fidelity strictly improves
    * (spec-pinned against the plain-PQ report). Same constants as
    * [[ivfpqAnn]], corpus side scans the coded index + the float
    * column, zero key shuffles before the presentation sort. */
  def ivfpqResidualReport(spark: SparkSession, dir: String): DataFrame = {
    val fold = "CAST(0.0 AS DOUBLE), (a, v) -> a + v"
    val (cellConsts, rcb, cdf) = ivfpqConsts(spark, dir)
    val e = Tables.spread(spark, Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"),
        expr(s"aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), $fold)").as("qn"))
    val codes = memoIvfpqCodes(spark, dir)
    val base = e.join(codes.select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .join(cdf, Seq("centroid_id"))
      .select(col("vec_id"), col("qn"),
        expr(s"aggregate(zip_with(embedding, cce, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), $fold)").as("qc"),
        expr(s"aggregate(transform(cce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), $fold)").as("cn"))
    val slices = (0 until PqM).map(m =>
      s"CAST($m AS BIGINT), slice(embedding, ${m * PqSubDim + 1}, $PqSubDim)").mkString(", ")
    val xm = e.select(col("vec_id"), expr(s"stack($PqM, $slices) AS (m, xm)"))
    val codeStack = (0 until PqM).map(m => s"CAST($m AS BIGINT), code_$m").mkString(", ")
    val cu = codes.select(col("vec_id"), col("centroid_id"),
      expr(s"stack($PqM, $codeStack) AS (m, code)"))
    def only(m: Int, c: Column) = sum(when(col("m") === m, c))
    xm.join(cu, Seq("vec_id", "m"))
      .join(rcb, Seq("m", "code"))
      .join(cellConsts, Seq("centroid_id", "m", "code"))
      .withColumn("term",
        expr(s"aggregate(zip_with(xm, rce, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), $fold)"))
      .groupBy(col("vec_id"))
      .agg(only(0, col("term")).as("t0"), only(1, col("term")).as("t1"),
        only(2, col("term")).as("t2"), only(3, col("term")).as("t3"),
        only(0, col("xterm")).as("x0"), only(1, col("xterm")).as("x1"),
        only(2, col("xterm")).as("x2"), only(3, col("xterm")).as("x3"),
        only(0, col("nterm")).as("n0"), only(1, col("nterm")).as("n1"),
        only(2, col("nterm")).as("n2"), only(3, col("nterm")).as("n3"))
      .join(base, Seq("vec_id"))
      .withColumn("adot", col("qc") + col("t0") + col("t1") + col("t2") + col("t3"))
      .withColumn("xn", col("cn") + lit(2.0) * (col("x0") + col("x1") + col("x2") + col("x3")) +
        (col("n0") + col("n1") + col("n2") + col("n3")))
      .select(col("vec_id"),
        when(col("qn") === 0.0 || col("xn") <= 0.0, lit(0.0))
          .otherwise(col("adot") / (sqrt(col("qn")) * sqrt(col("xn")))).as("fidelity"))
      .orderBy(col("vec_id"))
  }

  /** The ANN deploy-decision table: macro recall@5 of ALL FOUR index
    * families (IVF probe, hyperplane LSH, plain PQ/ADC, IVF-PQ)
    * against one shared brute-force truth panel — the single artifact
    * an index rollout reads (family, hit_total, query_ct, recall).
    * Exact integer hit counts + ONE division per row, so the whole
    * comparison hashes. The truth side is memoized and computed once;
    * each family side reuses its own memoized index frames. */
  def annLeaderboard(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val truth = bfTruth(spark, dir, k)
      .select(col("query_id").as("tq"), col("neighbor_id").as("tn"))
    def fam(name: String, df: DataFrame) =
      df.select(col("query_id"), col("neighbor_id"))
        .join(truth, col("query_id") === col("tq") && col("neighbor_id") === col("tn"))
        .agg(count(lit(1)).as("hit_total"))
        .withColumn("family", lit(name))
    Seq(
      fam("ivf", annIvfShared(spark, dir, k)),
      fam("ivfpq", ivfpqAnnShared(spark, dir, k)),
      fam("lsh", annLshShared(spark, dir, k)),
      fam("pq", pqAnnShared(spark, dir, k)))
      .reduce(_ unionByName _)
      .crossJoin(truth.select(col("tq")).distinct().agg(count(lit(1)).as("query_ct")))
      .select(col("family"), col("hit_total"), col("query_ct"),
        (col("hit_total").cast(DoubleType) /
          (col("query_ct") * k).cast(DoubleType)).as("recall"))
      .orderBy(col("family"))
  }

  /** [[annRecall]] for the IVF-PQ path — the compressed-index recall
    * row next to IVF (uncompressed probe), LSH, and plain PQ. */
  def ivfpqRecall(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val approx = ivfpqAnnShared(spark, dir, k)
      .select(col("query_id"), col("neighbor_id"))
    val truth = bfTruth(spark, dir, k)
      .select(col("query_id").as("tq"), col("neighbor_id").as("tn"))
    val hits = approx
      .join(truth, col("query_id") === col("tq") && col("neighbor_id") === col("tn"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hit_ct"))
    truth.select(col("tq").as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hit_ct"), lit(0L)).as("hit_ct"),
        (coalesce(col("hit_ct"), lit(0L)).cast(DoubleType) / k.toDouble).as("recall"))
      .orderBy(col("query_id"))
  }

  /** [[annRecall]] for the PQ/ADC path — the third index family's
    * audit row: IVF prunes candidates, LSH buckets them, PQ compresses
    * them; each trades recall differently and the deploy decision
    * needs all three numbers over the same query panel. */
  def pqRecall(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val approx = pqAnnShared(spark, dir, k)
      .select(col("query_id"), col("neighbor_id"))
    val truth = bfTruth(spark, dir, k)
      .select(col("query_id").as("tq"), col("neighbor_id").as("tn"))
    val hits = approx
      .join(truth, col("query_id") === col("tq") && col("neighbor_id") === col("tn"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hit_ct"))
    truth.select(col("tq").as("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hit_ct"), lit(0L)).as("hit_ct"),
        (coalesce(col("hit_ct"), lit(0L)).cast(DoubleType) / k.toDouble).as("recall"))
      .orderBy(col("query_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_pq_codes" -> ((s, d) => pqCodes(s, d)),
    "sim_pq_cells" -> ((s, d) => pqCells(s, d)),
    "sim_pq_ann" -> ((s, d) => pqAnn(s, d)),
    "sim_pq_residual" -> ((s, d) => pqResidual(s, d)),
    "sim_ivfpq_codes" -> ((s, d) => ivfpqCodes(s, d)),
    "sim_ivfpq_ann" -> ((s, d) => ivfpqAnn(s, d)),
    "sim_ivfpq_recall" -> ((s, d) => ivfpqRecall(s, d)),
    "sim_ivfpq_residual" -> ((s, d) => ivfpqResidualReport(s, d)),
    "sim_ann_leaderboard" -> ((s, d) => annLeaderboard(s, d)),
    "sim_pq_recall" -> ((s, d) => pqRecall(s, d)),
    "sim_label_centroids" -> ((s, d) => labelCentroids(s, d)),
    "sim_embedding_stats" -> ((s, d) => embeddingStats(s, d)),
    "sim_hard_negatives" -> ((s, d) => hardNegatives(s, d)),
    "sim_ann_topk" -> ((s, d) => annTopK(s, d)),
    "sim_neardup_pairs" -> ((s, d) => nearDupPairs(s, d)),
    "sim_neardup_lsh" -> ((s, d) => nearDupLsh(s, d)),
    "sim_neardup_planted" -> ((s, d) => nearDupPlanted(s, d)),
    "sim_ann_lsh" -> ((s, d) => annLsh(s, d)),
    "sim_ann_ivf" -> ((s, d) => annIvf(s, d)),
    "sim_ann_topk_float" -> ((s, d) => annTopKFloat(s, d)),
    "sim_ann_recall" -> ((s, d) => annRecall(s, d)),
    "sim_ann_recall_lsh" -> ((s, d) => annRecallLsh(s, d)),
    "sim_semantic_dedup" -> ((s, d) => semanticDedup(s, d)),
    "sim_incremental_ivf" -> ((s, d) => incrementalIvf(s, d)),
    "sim_ivf_cells" -> ((s, d) => ivfCells(s, d)),
    "sim_lsh_occupancy" -> ((s, d) => lshOccupancy(s, d)),
    "sim_index_health" -> ((s, d) => indexHealth(s, d)))

  /** DuckDB rebuild of the hyperplane-LSH buckets: plane components
    * are FNV-derived ([[planeComponent]] — low 32 bits / 2^31 − 1, all
    * steps IEEE-exact), per-plane dots replay HyperplaneBuckets' exact
    * double fold order, and the per-table code packs sign bits
    * identically. Yields `buckets(vec_id, t, bucket)` plus `ev` (the
    * double-cast embeddings) for bit-exact float re-scoring. */
  private def lshCtes(src: String = "embeddings"): String = {
    val nPlanes = NumTables * PlanesPerTable
    s"""plane_comp AS (
       |  SELECT p, j,
       |    CAST(${DuckSql.fnvU("'plane_' || CAST(p AS VARCHAR) || '_' || CAST(j AS VARCHAR)")} % CAST(4294967296 AS HUGEINT) AS DOUBLE) / 2147483648.0 - 1.0 AS comp
       |  FROM range(0, $nPlanes) tp(p), range(0, 64) tj(j)
       |),
       |planes AS (SELECT p, list(comp ORDER BY j) AS pl FROM plane_comp GROUP BY p),
       |ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM $src),
       |plane_dots AS (
       |  SELECT vec_id, p,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, len(e)+1), i -> e[i] * pl[i])), (acc, x) -> acc + x) AS dot
       |  FROM ev, planes
       |),
       |buckets AS (
       |  SELECT vec_id, p // $PlanesPerTable AS t,
       |    CAST(SUM(CASE WHEN dot >= 0 THEN 1 << (p % $PlanesPerTable) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM plane_dots GROUP BY vec_id, p // $PlanesPerTable
       |)""".stripMargin
  }

  /** Probe set in DuckDB list syntax: the bucket, its 6 Hamming-1
    * flips, and (radius 2) the 15 Hamming-2 flips — [[probeBuckets]]
    * verbatim. */
  private def probeList(b: String, radius: Int = 2): String = {
    val h1 = s"[xor($b, 1 << i) FOR i IN range(0, $PlanesPerTable)]"
    val h2 = s"flatten([[xor(xor($b, 1 << i), 1 << j) FOR j IN range(i + 1, $PlanesPerTable)] FOR i IN range(0, ${PlanesPerTable - 1})])"
    if (radius >= 2) s"[$b] ||\n    $h1 ||\n    $h2"
    else s"[$b] ||\n    $h1"
  }

  /** The planted corpus rebuilt in DuckDB: Spark's 32-bit Murmur3
    * (`hash(vec_id, i)`, seed 42 — hashLong then hashInt, every mix
    * step as chained-CTE mod-2^32 arithmetic) decides the ±30% jitter
    * parity per component, the factor expression replays the engine's
    * exact double ops, and the product rounds to FLOAT like the
    * engine's CAST. Yields `corpus(vec_id, embedding)` = originals ∪
    * jittered copies at id + 2^20. NOTE: the jitter hash reads the
    * ORIGINAL vec_id (in the engine both projections of one select see
    * input columns), while the output id carries the offset. */
  private lazy val plantedCtes: String = {
    def mul32(a: String, c: Long) = s"CAST((CAST($a AS HUGEINT) * $c) % 4294967296 AS BIGINT)"
    def rotl(x: String, r: Int) = s"((($x) * ${1L << r}) % 4294967296 + ($x) // ${1L << (32 - r)})"
    def mixK1(x: String) = mul32(rotl(mul32(x, 0xcc9e2d51L), 15), 0x1b873593L)
    def mixH1(h: String, k: String) =
      s"(((${rotl(s"xor($h, $k)", 13)}) * 5 + ${0xe6546b64L}) % 4294967296)"
    s"""orig AS (SELECT vec_id, embedding FROM embeddings),
       |exploded AS (
       |  SELECT vec_id, i - 1 AS i, embedding[i] AS comp
       |  FROM orig, UNNEST(range(1, len(embedding) + 1)) t(i)
       |),
       |mm0 AS (
       |  SELECT vec_id, i, comp,
       |    vec_id % 4294967296 AS lo, (vec_id // 4294967296) % 4294967296 AS hi
       |  FROM exploded
       |),
       |mm1 AS (SELECT *, ${mixK1("lo")} AS k1, ${mixK1("hi")} AS k2 FROM mm0),
       |mm2 AS (SELECT *, ${mixH1("42", "k1")} AS h1 FROM mm1),
       |mm3 AS (SELECT *, ${mixH1("h1", "k2")} AS h2 FROM mm2),
       |mm4 AS (SELECT *, xor(h2, 8) AS f1 FROM mm3),
       |mm5 AS (SELECT *, xor(f1, f1 // 65536) AS f2 FROM mm4),
       |mm6 AS (SELECT *, ${mul32("f2", 0x85ebca6bL)} AS f3 FROM mm5),
       |mm7 AS (SELECT *, xor(f3, f3 // 8192) AS f4 FROM mm6),
       |mm8 AS (SELECT *, ${mul32("f4", 0xc2b2ae35L)} AS f5 FROM mm7),
       |mm9 AS (SELECT *, xor(f5, f5 // 65536) AS hL FROM mm8),
       |mm10 AS (SELECT *, ${mixK1("i % 4294967296")} AS k3 FROM mm9),
       |mm11 AS (SELECT *, ${mixH1("hL", "k3")} AS g1 FROM mm10),
       |mm12 AS (SELECT *, xor(g1, 4) AS g2 FROM mm11),
       |mm13 AS (SELECT *, xor(g2, g2 // 65536) AS g3 FROM mm12),
       |mm14 AS (SELECT *, ${mul32("g3", 0x85ebca6bL)} AS g4 FROM mm13),
       |mm15 AS (SELECT *, xor(g4, g4 // 8192) AS g5 FROM mm14),
       |mm16 AS (SELECT *, ${mul32("g5", 0xc2b2ae35L)} AS g6 FROM mm15),
       |mm17 AS (SELECT vec_id, i, comp, xor(g6, g6 // 65536) % 2 AS parity FROM mm16),
       |jittered AS (
       |  SELECT vec_id + $PlantOffset AS vec_id,
       |    CAST(list(CAST(CAST(comp AS DOUBLE) * (1.0 + 0.3 * (CAST(parity AS DOUBLE) * 2.0 - 1.0)) AS FLOAT) ORDER BY i) AS FLOAT[]) AS embedding
       |  FROM mm17 GROUP BY vec_id
       |),
       |corpus AS (SELECT * FROM orig UNION ALL SELECT * FROM jittered)""".stripMargin
  }

  /** IEEE left-fold in index order — the DuckDB spelling of the
    * sequential double accumulation every float expression in this file
    * performs ([[graft.functions.CosineSimFloat]],
    * [[graft.functions.NearestCentroidsFloat]]). */
  private def ieeeFold(listExpr: String): String =
    s"list_reduce(list_prepend(0.0, $listExpr), (acc, x) -> acc + x)"

  /** DuckDB rebuild of the deterministic k-means model — the unrolled
    * Lloyd loop of [[kmeansModelOn]], bit-exact:
    *  - init: first `NumCentroids` vectors (`vec_id < C`), float as-is;
    *  - assignment: argmax over `NearestCentroidsFloat`'s exact scoring
    *    (per-element double casts, index-order fold, zero-norm → 0.0,
    *    ties to the lower centroid id);
    *  - mean update: the quantized integer-sum mean (`MeanQuantScale`),
    *    exact BIGINT arithmetic → one double division → FLOAT cast, so
    *    summation order cannot matter in either engine.
    * Emits `kcentn(cid, ced, nc)` — final centroids as double lists with
    * their norm folds — plus `kn(vec_id, e, na)` for the corpus side. */
  private def kmeansCtes(src: String, iters: Int = KMeansIters,
                         pfx: String = "k"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${pfx}v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM $src
         |),
         |${pfx}n AS (
         |  SELECT vec_id, e, ${ieeeFold("list_transform(e, x -> x * x)")} AS na FROM ${pfx}v
         |),
         |${pfx}c0 AS (
         |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS ce
         |  FROM $src WHERE vec_id < $NumCentroids
         |)""".stripMargin)
    for (it <- 0 until iters) {
      sb.append(
        s""",
           |${pfx}cn$it AS (
           |  SELECT cid, ced, ${ieeeFold("list_transform(ced, x -> x * x)")} AS nc
           |  FROM (SELECT cid, list_transform(ce, x -> CAST(x AS DOUBLE)) AS ced FROM ${pfx}c$it)
           |),
           |${pfx}a$it AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT v.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
           |        CASE WHEN v.na = 0 OR c.nc = 0 THEN 0.0
           |             ELSE ${ieeeFold("list_transform(range(1, len(v.e) + 1), i -> v.e[i] * c.ced[i])")}
           |                  / (sqrt(v.na) * sqrt(c.nc)) END DESC, c.cid) AS rn
           |    FROM ${pfx}n v CROSS JOIN ${pfx}cn$it c
           |  ) WHERE rn = 1
           |),
           |${pfx}m$it AS (
           |  SELECT cid, i,
           |    CAST(CAST(SUM(CAST(round(v.e[i] * $MeanQuantScale) AS BIGINT)) AS DOUBLE)
           |      / ($MeanQuantScale.0 * CAST(COUNT(*) AS DOUBLE)) AS FLOAT) AS m
           |  FROM ${pfx}a$it a JOIN ${pfx}n v USING (vec_id), UNNEST(range(1, len(v.e) + 1)) t(i)
           |  GROUP BY cid, i
           |),
           |${pfx}c${it + 1} AS (
           |  SELECT cid, CAST(list(m ORDER BY i) AS FLOAT[]) AS ce FROM ${pfx}m$it GROUP BY cid
           |)""".stripMargin)
    }
    sb.append(
      s""",
         |${pfx}centn AS (
         |  SELECT cid, ced, ${ieeeFold("list_transform(ced, x -> x * x)")} AS nc
         |  FROM (SELECT cid, list_transform(ce, x -> CAST(x AS DOUBLE)) AS ced FROM ${pfx}c$iters)
         |)""".stripMargin)
    sb.toString
  }

  /** Top-`k` centroid probes per vector from the final model — the
    * DuckDB spelling of `NearestCentroidsFloat(…, k)`'s successive
    * strict-max selection (score desc, lower cid first on ties). */
  private def probeCte(name: String, fromCte: String, k: Int,
                       where: String = "TRUE", centn: String = "kcentn"): String =
    s"""$name AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        CASE WHEN v.na = 0 OR c.nc = 0 THEN 0.0
       |             ELSE ${ieeeFold("list_transform(range(1, len(v.e) + 1), i -> v.e[i] * c.ced[i])")}
       |                  / (sqrt(v.na) * sqrt(c.nc)) END DESC, c.cid) AS rn
       |    FROM $fromCte v CROSS JOIN $centn c WHERE $where
       |  ) WHERE rn <= $k
       |)""".stripMargin

  private[operators] def quantCteOn(src: String) =
    s"""qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |  FROM $src
      |), qn AS (
      |  SELECT vec_id, q,
      |    CAST(list_sum([q[i] * q[i] FOR i IN range(1, len(q) + 1)]) AS BIGINT) AS nrm
      |  FROM qv
      |)""".stripMargin

  private val quantCte = quantCteOn("embeddings")

  private val baseOracles: Map[String, String] = Map(
    "sim_label_centroids" ->
      s"""WITH u AS (
         |  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(round(CAST(embedding[i] AS DOUBLE) * $MeanQuantScale) AS BIGINT) AS q
         |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
         |)
         |SELECT CAST(label AS BIGINT) AS label, dim,
         |  CAST(SUM(q) AS BIGINT) AS sum_q, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE)
         |    / ($MeanQuantScale.0 * CAST(COUNT(*) AS DOUBLE)) AS mean
         |FROM u GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,
    "sim_embedding_stats" -> (s"WITH $quantCte\n" +
      """SELECT COUNT(*) AS n_vecs,
        |  COUNT(DISTINCT len(q)) AS distinct_dims,
        |  CAST(MIN(len(q)) AS INTEGER) AS dims,
        |  CAST(MIN(nrm) AS BIGINT) AS min_nrm,
        |  CAST(MAX(nrm) AS BIGINT) AS max_nrm,
        |  CAST(SUM(nrm) AS BIGINT) AS sum_nrm,
        |  CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_vecs
        |FROM qn""".stripMargin),
    "sim_ann_topk" -> (s"WITH $quantCte\n" +
      """, scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(CAST(list_sum([a.q[i] * b.q[i] FOR i IN range(1, len(a.q) + 1)]) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS sim
        |  FROM qn a JOIN qn b ON a.vec_id < 32 AND a.vec_id <> b.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM scored
        |)
        |SELECT query_id, rk, neighbor_id, sim FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin),
    "sim_hard_negatives" -> (s"WITH $quantCte\n" +
      s""", lab AS (
        |  SELECT vec_id, label FROM embeddings
        |), scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    lb.label AS neighbor_label,
        |    CAST(CAST(list_sum([a.q[i] * b.q[i] FOR i IN range(1, len(a.q) + 1)]) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS sim
        |  FROM qn a JOIN qn b ON a.vec_id < $HardNegQueries AND a.vec_id <> b.vec_id
        |  JOIN lab la ON la.vec_id = a.vec_id
        |  JOIN lab lb ON lb.vec_id = b.vec_id
        |  WHERE la.label <> lb.label
        |), ranked AS (
        |  SELECT query_id, neighbor_id, neighbor_label, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM scored WHERE sim < $HardNegDupThreshold
        |)
        |SELECT query_id, rk, neighbor_id, neighbor_label, sim
        |FROM ranked WHERE rk <= $HardNegK ORDER BY query_id, rk""".stripMargin),
    "sim_neardup_pairs" -> (s"WITH $quantCte\n" +
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  CAST(CAST(list_sum([a.q[i] * b.q[i] FOR i IN range(1, len(a.q) + 1)]) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS sim
        |FROM qn a JOIN qn b ON a.vec_id < $NearDupPanel AND a.vec_id < b.vec_id
        |WHERE CAST(CAST(list_sum([a.q[i] * b.q[i] FOR i IN range(1, len(a.q) + 1)]) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.3
        |ORDER BY vec_a, vec_b""".stripMargin),
    // Bit-exact float-path oracle: CosineSimFloat is a sequential
    // left-fold in IEEE double (dot/na/nb accumulated in index order,
    // then dot / (sqrt(na) * sqrt(nb))); list_reduce over the same
    // per-element products replays the identical operation sequence,
    // so the doubles match to the last bit — verified, not assumed.
    "sim_ann_topk_float" ->
      """WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |pairs AS (
        |  SELECT a.query_id, b.neighbor_id, ea, eb FROM
        |    (SELECT vec_id AS query_id, e AS ea FROM ev WHERE vec_id < 32) a
        |    JOIN (SELECT vec_id AS neighbor_id, e AS eb FROM ev) b ON query_id <> neighbor_id
        |), scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, len(ea)+1), i -> ea[i] * eb[i])), (acc, x) -> acc + x) AS dot,
        |    list_reduce(list_prepend(0.0, list_transform(ea, x -> x * x)), (acc, x) -> acc + x) AS na,
        |    list_reduce(list_prepend(0.0, list_transform(eb, x -> x * x)), (acc, x) -> acc + x) AS nb
        |  FROM pairs
        |), sims AS (
        |  SELECT query_id, neighbor_id,
        |    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS sim
        |  FROM scored
        |), ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM sims
        |)
        |SELECT query_id, rk, neighbor_id, sim FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    // Full LSH rebuild (buckets + radius-2 probes + bit-exact float
    // re-score) — the DuckDB twin of annLsh; verified bit-exact.
    "sim_ann_lsh" ->
      s"""WITH ${lshCtes()},
         |probes AS (
         |  SELECT t, vec_id AS query_id, unnest(
         |    ${probeList("bucket")}
         |  ) AS bucket
         |  FROM buckets WHERE vec_id < 32
         |),
         |cand AS (
         |  SELECT DISTINCT query_id, b.vec_id AS neighbor_id
         |  FROM probes p JOIN buckets b ON p.t = b.t AND p.bucket = b.bucket
         |  WHERE query_id <> b.vec_id
         |),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, len(ea)+1), i -> ea[i] * eb[i])), (acc, x) -> acc + x) AS dot,
         |    list_reduce(list_prepend(0.0, list_transform(ea, x -> x * x)), (acc, x) -> acc + x) AS na,
         |    list_reduce(list_prepend(0.0, list_transform(eb, x -> x * x)), (acc, x) -> acc + x) AS nb
         |  FROM cand
         |    JOIN (SELECT vec_id, e AS ea FROM ev) qa ON cand.query_id = qa.vec_id
         |    JOIN (SELECT vec_id, e AS eb FROM ev) qb ON cand.neighbor_id = qb.vec_id
         |),
         |sims AS (
         |  SELECT query_id, neighbor_id,
         |    CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / (sqrt(na) * sqrt(nb)) END AS sim
         |  FROM scored
         |),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
         |  FROM sims
         |)
         |SELECT query_id, rk, neighbor_id, sim FROM ranked WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin,
    // Same buckets, all-pairs probing (a-side radius 2, a < b), with
    // the quantized-integer verify — exact division/sqrt on BIGINTs.
    "sim_neardup_lsh" ->
      s"""WITH ${lshCtes()},
         |$quantCte,
         |probes AS (
         |  SELECT t, vec_id AS pa, unnest(
         |    ${probeList("bucket")}
         |  ) AS bucket
         |  FROM buckets
         |),
         |cand AS (
         |  SELECT DISTINCT pa AS vec_a, b.vec_id AS vec_b
         |  FROM probes p JOIN buckets b ON p.t = b.t AND p.bucket = b.bucket
         |  WHERE pa < b.vec_id
         |),
         |scored AS (
         |  SELECT vec_a, vec_b,
         |    CAST(CAST(list_sum([qa.q[i] * qb.q[i] FOR i IN range(1, len(qa.q) + 1)]) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(qa.nrm AS DOUBLE)) * sqrt(CAST(qb.nrm AS DOUBLE))) AS sim
         |  FROM cand
         |    JOIN qn qa ON cand.vec_a = qa.vec_id
         |    JOIN qn qb ON cand.vec_b = qb.vec_id
         |)
         |SELECT vec_a, vec_b, sim FROM scored WHERE sim >= 0.3
         |ORDER BY vec_a, vec_b""".stripMargin,
    // Planted-regime evaluation: murmur3-jittered corpus (plantedCtes)
    // through the same LSH machinery at radius 1, t = 0.9.
    "sim_neardup_planted" ->
      s"""WITH $plantedCtes,
         |${lshCtes("corpus")},
         |${quantCteOn("corpus")},
         |probes AS (
         |  SELECT t, vec_id AS pa, unnest(
         |    ${probeList("bucket", radius = 1)}
         |  ) AS bucket
         |  FROM buckets
         |),
         |cand AS (
         |  SELECT DISTINCT pa AS vec_a, b.vec_id AS vec_b
         |  FROM probes p JOIN buckets b ON p.t = b.t AND p.bucket = b.bucket
         |  WHERE pa < b.vec_id
         |),
         |scored AS (
         |  SELECT vec_a, vec_b,
         |    CAST(CAST(list_sum([qa.q[i] * qb.q[i] FOR i IN range(1, len(qa.q) + 1)]) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(qa.nrm AS DOUBLE)) * sqrt(CAST(qb.nrm AS DOUBLE))) AS sim
         |  FROM cand
         |    JOIN qn qa ON cand.vec_a = qa.vec_id
         |    JOIN qn qb ON cand.vec_b = qb.vec_id
         |)
         |SELECT vec_a, vec_b, sim FROM scored WHERE sim >= 0.9
         |ORDER BY vec_a, vec_b""".stripMargin,
    // Full-value IVF oracle: DuckDB re-runs the ENTIRE pipeline —
    // deterministic k-means (kmeansCtes, bit-exact thanks to the
    // quantized mean update), database cell assignment (top-1), query
    // probes (top-NProbe), cell-confined candidate join, bit-exact
    // float cosine re-score, rank. Retired the last-but-one rows-only
    // check (round-7 VERDICT #1).
    "sim_ann_ivf" ->
      s"""WITH ${kmeansCtes("embeddings")},
         |${probeCte("kprobe", "kn", NProbe, where = "v.vec_id < 32")},
         |${probeCte("kafin", "kn", 1)},
         |cand AS (
         |  SELECT p.vec_id AS query_id, d.vec_id AS neighbor_id
         |  FROM kprobe p JOIN kafin d ON p.cid = d.cid
         |  WHERE p.vec_id <> d.vec_id
         |),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    CASE WHEN qa.na = 0 OR qb.na = 0 THEN 0.0
         |         ELSE ${ieeeFold("list_transform(range(1, len(qa.e) + 1), i -> qa.e[i] * qb.e[i])")}
         |              / (sqrt(qa.na) * sqrt(qb.na)) END AS sim
         |  FROM cand JOIN kn qa ON cand.query_id = qa.vec_id
         |            JOIN kn qb ON cand.neighbor_id = qb.vec_id
         |),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
         |  FROM scored
         |)
         |SELECT query_id, rk, neighbor_id, sim FROM ranked WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin,
    // Full-value SemDeDup oracle: murmur3-planted corpus (plantedCtes)
    // → deterministic k-means → final-model assignment + top-2 probes
    // → cell-local smaller-id pairs at the 0.9 threshold → min-witness.
    // Retires the last rows-only check.
    "sim_semantic_dedup" ->
      s"""WITH $plantedCtes,
         |${kmeansCtes("corpus")},
         |${probeCte("kprobe2", "kn", DedupProbes)},
         |${probeCte("kafin", "kn", 1)},
         |dpair AS (
         |  SELECT p.vec_id, d.vec_id AS vb,
         |    CASE WHEN qa.na = 0 OR qb.na = 0 THEN 0.0
         |         ELSE ${ieeeFold("list_transform(range(1, len(qa.e) + 1), i -> qa.e[i] * qb.e[i])")}
         |              / (sqrt(qa.na) * sqrt(qb.na)) END AS sim
         |  FROM kprobe2 p JOIN kafin d ON p.cid = d.cid AND d.vec_id < p.vec_id
         |    JOIN kn qa ON p.vec_id = qa.vec_id
         |    JOIN kn qb ON d.vec_id = qb.vec_id
         |),
         |ddup AS (
         |  SELECT vec_id, MIN(vb) AS dup_of FROM dpair WHERE sim >= 0.9 GROUP BY vec_id
         |)
         |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS centroid_id,
         |  CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
         |  COALESCE(d.dup_of, CAST(-1 AS BIGINT)) AS dup_of
         |FROM kafin a LEFT JOIN ddup d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin)

  /** The recall audit's oracle composes the IVF and brute-force
    * oracles verbatim (each full statement nests as a CTE body), so
    * the audit can never drift from the definitions it audits. */
  /** Shared tail of the two recall-audit oracles: per-query hit count
    * against the brute-force CTE `bf`, recall = hits/k. */
  private def recallTailSql(approxCte: String): String =
    s"""hits AS (
       |  SELECT i.query_id, CAST(COUNT(*) AS BIGINT) AS hit_ct
       |  FROM $approxCte i JOIN bf b
       |    ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
       |  GROUP BY i.query_id
       |)
       |SELECT q.query_id,
       |  CAST(COALESCE(h.hit_ct, 0) AS BIGINT) AS hit_ct,
       |  CAST(COALESCE(h.hit_ct, 0) AS DOUBLE) / 5.0 AS recall
       |FROM (SELECT DISTINCT query_id FROM bf) q
       |LEFT JOIN hits h ON q.query_id = h.query_id
       |ORDER BY q.query_id""".stripMargin

  /** Four per-subspace codebook replays (sliced source → prefixed
    * [[kmeansCtes]] Lloyd loop → rn=1 assignment) for the PQ oracles. */
  private def pqOracleCtes: String = (0 until PqM).map { m =>
    val lo = m * PqSubDim + 1
    val hi = (m + 1) * PqSubDim
    s"""pq${m}e AS (
       |  SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings
       |),
       |""".stripMargin +
      kmeansCtes(s"pq${m}e", KMeansIters, s"pq$m") + ",\n" +
      probeCte(s"pq${m}assign", s"pq${m}n", 1, centn = s"pq${m}centn")
  }.mkString(",\n")

  private def pqCodesSql: String =
    s"""SELECT e.vec_id,
       |  CAST(a0.cid AS BIGINT) AS code_0, CAST(a1.cid AS BIGINT) AS code_1,
       |  CAST(a2.cid AS BIGINT) AS code_2, CAST(a3.cid AS BIGINT) AS code_3
       |FROM embeddings e
       |JOIN pq0assign a0 ON e.vec_id = a0.vec_id
       |JOIN pq1assign a1 ON e.vec_id = a1.vec_id
       |JOIN pq2assign a2 ON e.vec_id = a2.vec_id
       |JOIN pq3assign a3 ON e.vec_id = a3.vec_id""".stripMargin

  /** Full ADC replay: LUT = query-slice·codebook folds, conditional
    * single-element per-subspace sums, fixed-order additions — the
    * same double-op order as [[pqAnn]]. */
  private def pqAnnSql(nQueries: Int = 32, k: Int = 5): String = {
    val cbUnion = (0 until PqM).map(m =>
      s"SELECT CAST($m AS BIGINT) AS m, cid, ced, nc FROM pq${m}centn").mkString("\n  UNION ALL ")
    val cuUnion = (0 until PqM).map(m =>
      s"SELECT vec_id, CAST($m AS BIGINT) AS m, code_$m AS code FROM pqcodes").mkString("\n  UNION ALL ")
    val onlyT = (0 until PqM).map(m =>
      s"SUM(CASE WHEN l.m = $m THEN l.term END) AS t$m").mkString(", ")
    val onlyN = (0 until PqM).map(m =>
      s"SUM(CASE WHEN l.m = $m THEN l.cn END) AS n$m").mkString(", ")
    s"""WITH $pqOracleCtes,
       |pqcodes AS (
       |$pqCodesSql
       |), pqq AS (
       |  SELECT vec_id AS query_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS eq
       |  FROM embeddings WHERE vec_id < $nQueries
       |), pqqn AS (
       |  SELECT query_id, eq, ${ieeeFold("list_transform(eq, x -> x * x)")} AS qn FROM pqq
       |), pqcb AS (
       |  $cbUnion
       |), pqlut AS (
       |  SELECT q.query_id, q.qn, c.m, c.cid AS code,
       |    ${ieeeFold(s"list_transform(range(1, $PqSubDim + 1), i -> q.eq[CAST(c.m AS INT) * $PqSubDim + i] * c.ced[i])")} AS term,
       |    c.nc AS cn
       |  FROM pqqn q CROSS JOIN pqcb c
       |), pqcu AS (
       |  $cuUnion
       |), pqagg AS (
       |  SELECT l.query_id, u.vec_id, MAX(l.qn) AS qn, $onlyT, $onlyN
       |  FROM pqcu u JOIN pqlut l ON u.m = l.m AND u.code = l.code
       |  GROUP BY l.query_id, u.vec_id
       |), pqscored AS (
       |  SELECT query_id, vec_id,
       |    CASE WHEN qn = 0 OR (n0 + n1 + n2 + n3) = 0 THEN 0.0
       |         ELSE (t0 + t1 + t2 + t3) / (sqrt(qn) * sqrt(n0 + n1 + n2 + n3)) END AS sim
       |  FROM pqagg WHERE query_id <> vec_id
       |), pqranked AS (
       |  SELECT query_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM pqscored
       |)
       |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id AS neighbor_id, sim
       |FROM pqranked WHERE rk <= $k
       |ORDER BY query_id, rk""".stripMargin
  }

  /** IVF-PQ oracle prefix: coarse Lloyd + rn=1 assignment, FLOAT
    * residuals off the final float centroids (`kc3`), four prefixed
    * residual Lloyd replays + assignments — ending in `rv0` (residual
    * frame with cell) and `ipq{m}a` / `ipq{m}centn` per subspace. */
  private def ivfpqOracleCtes: String = {
    val sub = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"""ipq${m}e AS (
         |  SELECT vec_id, rv[$lo:$hi] AS embedding FROM rv0
         |),
         |""".stripMargin +
        kmeansCtes(s"ipq${m}e", KMeansIters, s"ipq$m") + ",\n" +
        probeCte(s"ipq${m}a", s"ipq${m}n", 1, centn = s"ipq${m}centn")
    }.mkString(",\n")
    s"""${kmeansCtes("embeddings", KMeansIters, "k")},
       |${probeCte("kass", "kn", 1)},
       |rv0 AS (
       |  SELECT e.vec_id, CAST(a.cid AS BIGINT) AS centroid_id,
       |    list_transform(range(1, len(e.embedding) + 1), i -> e.embedding[i] - c.ce[i]) AS rv
       |  FROM embeddings e
       |  JOIN kass a ON e.vec_id = a.vec_id
       |  JOIN kc$KMeansIters c ON c.cid = a.cid
       |),
       |$sub""".stripMargin
  }

  private def ivfpqCodesSql: String =
    s"""SELECT r.vec_id, r.centroid_id,
       |  CAST(a0.cid AS BIGINT) AS code_0, CAST(a1.cid AS BIGINT) AS code_1,
       |  CAST(a2.cid AS BIGINT) AS code_2, CAST(a3.cid AS BIGINT) AS code_3
       |FROM rv0 r
       |JOIN ipq0a a0 ON r.vec_id = a0.vec_id
       |JOIN ipq1a a1 ON r.vec_id = a1.vec_id
       |JOIN ipq2a a2 ON r.vec_id = a2.vec_id
       |JOIN ipq3a a3 ON r.vec_id = a3.vec_id""".stripMargin

  /** Full IVF-PQ/ADC replay: query probes ([[probeCte]] at NProbe),
    * per-(query, cell) dot/norm constants, the residual-codebook LUT,
    * cell × codebook cross terms, and the exact-reconstruction cosine
    * in the engine's literal operation order. */
  private def ivfpqAnnSql(nQueries: Int = 32, k: Int = 5): String = {
    val rcbUnion = (0 until PqM).map(m =>
      s"SELECT CAST($m AS BIGINT) AS m, cid AS code, ced, nc FROM ipq${m}centn")
      .mkString("\n  UNION ALL ")
    val cuUnion = (0 until PqM).map(m =>
      s"SELECT vec_id, centroid_id, CAST($m AS BIGINT) AS m, code_$m AS code FROM icodes")
      .mkString("\n  UNION ALL ")
    val onlyT = (0 until PqM).map(m =>
      s"SUM(CASE WHEN r.m = $m THEN r.term END) AS t$m").mkString(", ")
    val onlyX = (0 until PqM).map(m =>
      s"SUM(CASE WHEN r.m = $m THEN r.xterm END) AS x$m").mkString(", ")
    val onlyN = (0 until PqM).map(m =>
      s"SUM(CASE WHEN r.m = $m THEN r.nterm END) AS n$m").mkString(", ")
    s"""WITH $ivfpqOracleCtes,
       |icodes AS (
       |$ivfpqCodesSql
       |), ${probeCte("iqp", "kn", NProbe, s"v.vec_id < $nQueries")},
       |iqc AS (
       |  SELECT p.vec_id AS query_id, CAST(p.cid AS BIGINT) AS centroid_id,
       |    n.na AS qn,
       |    ${ieeeFold("list_transform(range(1, len(n.e) + 1), i -> n.e[i] * c.ced[i])")} AS qc,
       |    c.nc AS cn
       |  FROM iqp p JOIN kn n ON p.vec_id = n.vec_id
       |  JOIN kcentn c ON c.cid = p.cid
       |), ircb AS (
       |  $rcbUnion
       |), ilut AS (
       |  SELECT n.vec_id AS query_id, r.m, r.code,
       |    ${ieeeFold(s"list_transform(range(1, $PqSubDim + 1), i -> n.e[CAST(r.m AS INT) * $PqSubDim + i] * r.ced[i])")} AS term
       |  FROM kn n CROSS JOIN ircb r WHERE n.vec_id < $nQueries
       |), icc AS (
       |  SELECT CAST(kk.cid AS BIGINT) AS centroid_id, r.m, r.code,
       |    ${ieeeFold(s"list_transform(range(1, $PqSubDim + 1), i -> kk.ced[CAST(r.m AS INT) * $PqSubDim + i] * r.ced[i])")} AS xterm,
       |    r.nc AS nterm
       |  FROM kcentn kk CROSS JOIN ircb r
       |), icu AS (
       |  $cuUnion
       |), irows AS (
       |  SELECT p.query_id, u.vec_id, p.qn, p.qc, p.cn, u.m, l.term, c.xterm, c.nterm
       |  FROM iqc p
       |  JOIN icu u ON u.centroid_id = p.centroid_id
       |  JOIN ilut l ON l.query_id = p.query_id AND l.m = u.m AND l.code = u.code
       |  JOIN icc c ON c.centroid_id = u.centroid_id AND c.m = u.m AND c.code = u.code
       |), iagg AS (
       |  SELECT r.query_id, r.vec_id, MAX(r.qn) AS qn, MAX(r.qc) AS qc, MAX(r.cn) AS cn,
       |    $onlyT, $onlyX, $onlyN
       |  FROM irows r GROUP BY r.query_id, r.vec_id
       |), iscored AS (
       |  SELECT query_id, vec_id,
       |    CASE WHEN qn = 0 OR (cn + 2.0 * (x0 + x1 + x2 + x3) + (n0 + n1 + n2 + n3)) <= 0 THEN 0.0
       |         ELSE (qc + t0 + t1 + t2 + t3)
       |              / (sqrt(qn) * sqrt(cn + 2.0 * (x0 + x1 + x2 + x3) + (n0 + n1 + n2 + n3))) END AS sim
       |  FROM iagg WHERE query_id <> vec_id
       |), iranked AS (
       |  SELECT query_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM iscored
       |)
       |SELECT query_id, CAST(rk AS INTEGER) AS rk, vec_id AS neighbor_id, sim
       |FROM iranked WHERE rk <= $k
       |ORDER BY query_id, rk""".stripMargin
  }

  val oracles: Map[String, String] = baseOracles +
    ("sim_ann_leaderboard" ->
      s"""WITH bfq AS (
         |${baseOracles("sim_ann_topk_float")}
         |), ivfq AS (
         |${baseOracles("sim_ann_ivf")}
         |), lshq AS (
         |${baseOracles("sim_ann_lsh")}
         |), pqq2 AS (
         |${pqAnnSql()}
         |), ipqq AS (
         |${ivfpqAnnSql()}
         |), qct AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS query_ct FROM bfq),
         |lb AS (
         |  SELECT 'ivf' AS family, CAST(COUNT(*) AS BIGINT) AS hit_total
         |  FROM ivfq i JOIN bfq b ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |  UNION ALL
         |  SELECT 'ivfpq', CAST(COUNT(*) AS BIGINT)
         |  FROM ipqq i JOIN bfq b ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |  UNION ALL
         |  SELECT 'lsh', CAST(COUNT(*) AS BIGINT)
         |  FROM lshq i JOIN bfq b ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |  UNION ALL
         |  SELECT 'pq', CAST(COUNT(*) AS BIGINT)
         |  FROM pqq2 i JOIN bfq b ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |)
         |SELECT family, hit_total, query_ct,
         |  CAST(hit_total AS DOUBLE) / CAST(query_ct * 5 AS DOUBLE) AS recall
         |FROM lb CROSS JOIN qct
         |ORDER BY family""".stripMargin) +
    ("sim_ivfpq_residual" ->
      s"""WITH $ivfpqOracleCtes,
         |icodes AS (
         |$ivfpqCodesSql
         |), ircb AS (
         |  ${(0 until PqM).map(m => s"SELECT CAST($m AS BIGINT) AS m, cid AS code, ced, nc FROM ipq${m}centn").mkString("\n  UNION ALL ")}
         |), icu AS (
         |  ${(0 until PqM).map(m => s"SELECT vec_id, centroid_id, CAST($m AS BIGINT) AS m, code_$m AS code FROM icodes").mkString("\n  UNION ALL ")}
         |), ibase AS (
         |  SELECT n.vec_id, n.na AS qn, i.centroid_id,
         |    ${ieeeFold("list_transform(range(1, len(n.e) + 1), i2 -> n.e[i2] * k2.ced[i2])")} AS qc,
         |    k2.nc AS cn
         |  FROM kn n
         |  JOIN (SELECT DISTINCT vec_id, centroid_id FROM icu) i ON n.vec_id = i.vec_id
         |  JOIN kcentn k2 ON k2.cid = i.centroid_id
         |), icc AS (
         |  SELECT CAST(kk.cid AS BIGINT) AS centroid_id, r.m, r.code,
         |    ${ieeeFold(s"list_transform(range(1, $PqSubDim + 1), i -> kk.ced[CAST(r.m AS INT) * $PqSubDim + i] * r.ced[i])")} AS xterm,
         |    r.nc AS nterm
         |  FROM kcentn kk CROSS JOIN ircb r
         |), ift AS (
         |  SELECT u.vec_id, u.m,
         |    ${ieeeFold(s"list_transform(range(1, $PqSubDim + 1), i -> n.e[CAST(u.m AS INT) * $PqSubDim + i] * r.ced[i])")} AS term,
         |    c.xterm, c.nterm
         |  FROM icu u
         |  JOIN kn n ON n.vec_id = u.vec_id
         |  JOIN ircb r ON r.m = u.m AND r.code = u.code
         |  JOIN icc c ON c.centroid_id = u.centroid_id AND c.m = u.m AND c.code = u.code
         |), ifa AS (
         |  SELECT vec_id,
         |    ${(0 until PqM).map(m => s"SUM(CASE WHEN m = $m THEN term END) AS t$m").mkString(", ")},
         |    ${(0 until PqM).map(m => s"SUM(CASE WHEN m = $m THEN xterm END) AS x$m").mkString(", ")},
         |    ${(0 until PqM).map(m => s"SUM(CASE WHEN m = $m THEN nterm END) AS n$m").mkString(", ")}
         |  FROM ift GROUP BY vec_id
         |)
         |SELECT b.vec_id,
         |  CASE WHEN b.qn = 0 OR (b.cn + 2.0 * (x0 + x1 + x2 + x3) + (n0 + n1 + n2 + n3)) <= 0 THEN 0.0
         |       ELSE (b.qc + t0 + t1 + t2 + t3)
         |            / (sqrt(b.qn) * sqrt(b.cn + 2.0 * (x0 + x1 + x2 + x3) + (n0 + n1 + n2 + n3))) END AS fidelity
         |FROM ifa f JOIN ibase b ON f.vec_id = b.vec_id
         |ORDER BY b.vec_id""".stripMargin) +
    ("sim_ivfpq_codes" ->
      s"""WITH $ivfpqOracleCtes
         |$ivfpqCodesSql
         |ORDER BY r.vec_id""".stripMargin) +
    ("sim_ivfpq_ann" -> ivfpqAnnSql()) +
    ("sim_ivfpq_recall" ->
      s"""WITH ivfpq AS (
         |${ivfpqAnnSql()}
         |), bf AS (
         |${baseOracles("sim_ann_topk_float")}
         |), ${recallTailSql("ivfpq")}""".stripMargin) +
    ("sim_pq_ann" -> pqAnnSql()) +
    ("sim_pq_recall" ->
      s"""WITH pq AS (
         |${pqAnnSql()}
         |), bf AS (
         |${baseOracles("sim_ann_topk_float")}
         |), ${recallTailSql("pq")}""".stripMargin) +
    ("sim_pq_residual" ->
      s"""WITH $pqOracleCtes,
         |pqcodes AS (
         |$pqCodesSql
         |), pqfq AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS eq
         |  FROM embeddings
         |), pqfqn AS (
         |  SELECT vec_id, eq, ${ieeeFold("list_transform(eq, x -> x * x)")} AS qn FROM pqfq
         |), pqfcb AS (
         |  SELECT CAST(0 AS BIGINT) AS m, cid, ced, nc FROM pq0centn
         |  UNION ALL SELECT CAST(1 AS BIGINT), cid, ced, nc FROM pq1centn
         |  UNION ALL SELECT CAST(2 AS BIGINT), cid, ced, nc FROM pq2centn
         |  UNION ALL SELECT CAST(3 AS BIGINT), cid, ced, nc FROM pq3centn
         |), pqfcu AS (
         |  SELECT vec_id, CAST(0 AS BIGINT) AS m, code_0 AS code FROM pqcodes
         |  UNION ALL SELECT vec_id, CAST(1 AS BIGINT), code_1 FROM pqcodes
         |  UNION ALL SELECT vec_id, CAST(2 AS BIGINT), code_2 FROM pqcodes
         |  UNION ALL SELECT vec_id, CAST(3 AS BIGINT), code_3 FROM pqcodes
         |), pqft AS (
         |  SELECT n.vec_id, n.qn, u.m,
         |    ${ieeeFold(s"list_transform(range(1, $PqSubDim + 1), i -> n.eq[CAST(u.m AS INT) * $PqSubDim + i] * c.ced[i])")} AS term,
         |    c.nc AS cn
         |  FROM pqfqn n JOIN pqfcu u ON n.vec_id = u.vec_id
         |  JOIN pqfcb c ON c.m = u.m AND c.cid = u.code
         |), pqfa AS (
         |  SELECT vec_id, MAX(qn) AS qn,
         |    SUM(CASE WHEN m = 0 THEN term END) AS t0, SUM(CASE WHEN m = 1 THEN term END) AS t1,
         |    SUM(CASE WHEN m = 2 THEN term END) AS t2, SUM(CASE WHEN m = 3 THEN term END) AS t3,
         |    SUM(CASE WHEN m = 0 THEN cn END) AS n0, SUM(CASE WHEN m = 1 THEN cn END) AS n1,
         |    SUM(CASE WHEN m = 2 THEN cn END) AS n2, SUM(CASE WHEN m = 3 THEN cn END) AS n3
         |  FROM pqft GROUP BY vec_id
         |)
         |SELECT vec_id,
         |  CASE WHEN qn = 0 OR (n0 + n1 + n2 + n3) = 0 THEN 0.0
         |       ELSE (t0 + t1 + t2 + t3) / (sqrt(qn) * sqrt(n0 + n1 + n2 + n3)) END AS fidelity
         |FROM pqfa ORDER BY vec_id""".stripMargin) +
    ("sim_pq_codes" ->
      s"""WITH $pqOracleCtes
         |$pqCodesSql
         |ORDER BY e.vec_id""".stripMargin) +
    ("sim_pq_cells" ->
      s"""WITH $pqOracleCtes,
         |pqcodes AS (
         |$pqCodesSql
         |), pqu AS (
         |  SELECT CAST(0 AS BIGINT) AS subspace, code_0 AS code FROM pqcodes
         |  UNION ALL SELECT CAST(1 AS BIGINT), code_1 FROM pqcodes
         |  UNION ALL SELECT CAST(2 AS BIGINT), code_2 FROM pqcodes
         |  UNION ALL SELECT CAST(3 AS BIGINT), code_3 FROM pqcodes
         |)
         |SELECT subspace, code, CAST(COUNT(*) AS BIGINT) AS ct
         |FROM pqu GROUP BY subspace, code
         |ORDER BY subspace, code""".stripMargin) +
    ("sim_ann_recall_lsh" ->
      s"""WITH lsh AS (
         |${baseOracles("sim_ann_lsh")}
         |), bf AS (
         |${baseOracles("sim_ann_topk_float")}
         |), ${recallTailSql("lsh")}""".stripMargin) +
    ("sim_index_health" -> {
      def unpivot(src: String): String = (0 until PqM).map(m =>
        s"SELECT CAST($m AS VARCHAR) || ':' || CAST(code_$m AS VARCHAR) AS cell FROM $src")
        .mkString("\n  UNION ALL ")
      def fam(name: String, cellsCte: String): String =
        s"""SELECT '$name' AS family,
           |  CAST(COUNT(*) AS BIGINT) AS cells_used,
           |  CAST(MAX(occ) AS BIGINT) AS max_occ,
           |  CAST(SUM(occ) AS BIGINT) AS total_assignments,
           |  CAST(CAST(MAX(occ) AS BIGINT) AS DOUBLE)
           |    / CAST(CAST(SUM(occ) AS BIGINT) AS DOUBLE) AS max_share
           |FROM (SELECT cell, CAST(COUNT(*) AS BIGINT) AS occ FROM $cellsCte GROUP BY 1)""".stripMargin
      s"""WITH $ivfpqOracleCtes,
         |icodes AS (
         |$ivfpqCodesSql
         |),
         |$pqOracleCtes,
         |pqcodes AS (
         |$pqCodesSql
         |),
         |${lshCtes()},
         |hiv AS (SELECT CAST(cid AS VARCHAR) AS cell FROM kass),
         |hlsh AS (
         |  SELECT CAST(t AS VARCHAR) || ':' || CAST(bucket AS VARCHAR) AS cell FROM buckets
         |),
         |hpq AS (
         |  ${unpivot("pqcodes")}
         |),
         |hiq AS (
         |  ${unpivot("icodes")}
         |)
         |${fam("ivf", "hiv")}
         |UNION ALL
         |${fam("ivfpq", "hiq")}
         |UNION ALL
         |${fam("lsh", "hlsh")}
         |UNION ALL
         |${fam("pq", "hpq")}
         |ORDER BY family""".stripMargin
    }) +
    ("sim_lsh_occupancy" ->
      s"""WITH ${lshCtes()},
         |lob AS (
         |  SELECT t, bucket, CAST(COUNT(*) AS BIGINT) AS occ
         |  FROM buckets GROUP BY 1, 2
         |)
         |SELECT CAST(t AS BIGINT) AS t, occ,
         |  CAST(COUNT(*) AS BIGINT) AS bucket_ct
         |FROM lob GROUP BY 1, 2 ORDER BY t, occ""".stripMargin) +
    ("sim_ivf_cells" ->
      s"""WITH ${kmeansCtes("embeddings")},
         |${probeCte("kass", "kn", 1)}
         |SELECT CAST(cid AS BIGINT) AS centroid_id,
         |  CAST(COUNT(*) AS BIGINT) AS ct
         |FROM kass GROUP BY 1 ORDER BY centroid_id""".stripMargin) +
    ("sim_incremental_ivf" ->
      s"""WITH ${kmeansCtes("embeddings")},
         |v2set AS (
         |  SELECT vec_id, e, na FROM kn
         |  WHERE vec_id % $IncrMod = 0
         |     OR (vec_id % $IncrMod <> 0 AND vec_id % $IncrDelMod <> 0)
         |),
         |${probeCte("iva", "v2set", 1)}
         |SELECT vec_id, CAST(cid AS BIGINT) AS centroid_id,
         |  CASE WHEN vec_id % $IncrMod = 0 THEN 'added' ELSE 'carried' END AS src
         |FROM iva ORDER BY vec_id""".stripMargin) +
    ("sim_ann_recall" ->
      s"""WITH ivf AS (
         |${baseOracles("sim_ann_ivf")}
         |), bf AS (
         |${baseOracles("sim_ann_topk_float")}
         |), hits AS (
         |  SELECT i.query_id, CAST(COUNT(*) AS BIGINT) AS hit_ct
         |  FROM ivf i JOIN bf b
         |    ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |  GROUP BY i.query_id
         |)
         |SELECT q.query_id,
         |  CAST(COALESCE(h.hit_ct, 0) AS BIGINT) AS hit_ct,
         |  CAST(COALESCE(h.hit_ct, 0) AS DOUBLE) / 5.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM bf) q
         |LEFT JOIN hits h ON q.query_id = h.query_id
         |ORDER BY q.query_id""".stripMargin)
}
