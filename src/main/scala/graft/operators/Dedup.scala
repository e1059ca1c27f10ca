package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.functions.GraftExpressions

/** Deduplication operators for large-scale training-data pipelines,
  * over the `documents` table.
  *
  * Scale design: every variant is a groupBy/shuffle on a *signature*
  * (hash, band bucket, shingle), never an O(n²) cross join. The only
  * pairwise work happens inside signature buckets, which LSH keeps
  * small by construction. At 100 TB: exact dedup is one shuffle on a
  * 128-bit hash; minhash is a doc-local signature pass + one shuffle
  * per band (unioned); verification joins touch only candidate pairs.
  */
object Dedup {

  private def toks(c: Column): Column = split(c, " ")

  /** Exact dedup: hash-groupBy on content (md5 here; 128-bit at scale).
    * Representative = min doc_id per content group. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("dup_count"))
      .orderBy(col("rep_doc_id"))

  /** Document-frequency cap for the [[ngramJaccard]] inverted index:
    * shingles present in more than this many documents are dropped
    * before the pair self-join, so `inter` counts RARE shared shingles
    * only — a conservative (never inflated) intersection, while the
    * denominators always use the full shingle-set sizes. Without the
    * cap a boilerplate shingle with df = 10⁶ puts df²/2 pair rows on
    * one reducer — the same blow-up [[minhashCandidatesFrom]] caps
    * with its bucket star. The trade: a pair whose shared shingles are
    * MOSTLY hot is under-scored and can fall below threshold; genuine
    * near-dups above any useful threshold share many shingles, almost
    * all rare, and mass-duplicated boilerplate is already collapsed by
    * [[exact]] and [[minhashLsh]]'s star-capped path. Fixture dfs top
    * out at 25 (sf0.1), so the cap is inert there and the driver
    * oracle — uncapped by construction — stays hash-equal. */
  val HotShingleDfCap = 64

  /** Exact n-gram Jaccard near-dup pairs: explode distinct 3-shingle
    * hashes, drop shingles hotter than the df cap, self-join the
    * remaining inverted index and count per-pair co-occurrences. This
    * is the ground truth minhash approximates.
    *
    * Scale shape: the hot-shingle blacklist is one map-side-combined
    * aggregation whose result is tiny by construction (only shingles
    * with df > cap survive) and broadcasts into an anti-join — on the
    * fixture it is EMPTY (max df 25), so `inter` stays the exact
    * distinct-shingle intersection and the uncapped oracle matches; at
    * corpus scale pairs held together only by boilerplate shingles are
    * surrendered and `inter` counts rare shared shingles only —
    * conservative jaccard, bounded reducers. Denominators always use
    * the full shingle-set sizes. */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.015,
                   dfCap: Int = HotShingleDfCap): DataFrame =
    // one shingle scan, shared by sizes and the index (the fused
    // codegen'd hash pass — no shingle-string materialization); the
    // frame is memoized per (session, dir), so repeated calls
    // (different thresholds, the minhash ground-truth spec) share one
    // copy. The named query mines and scores its own pair set per
    // action (r18: the r17 mined-pair result memo moved this query's
    // entire compute into the bench's untimed warmup — result-level
    // memoization, not optimization);
    // downstream consumers share the verified-pair CHECKPOINT instead
    // ([[verifiedPairs]]).
    ngramJaccardOn(shingled(spark, dir), threshold, dfCap)

  /** [[ngramJaccard]] over an arbitrary (doc_id, sh) shingle frame —
    * the capped-branch fixture tests feed synthetic hot shingles
    * through here (the parquet fixture's dfs never reach the cap, so
    * only a synthetic corpus exercises the conservative semantics). */
  /** The df-capped inverted-index self-join shared by the Jaccard and
    * containment scorers: per-pair rare-shingle intersection counts
    * with both docs' full shingle-set sizes attached. */
  private def minedPairSizes(sh: DataFrame, dfCap: Int): DataFrame = {
    // shingle-set size rides ALONG the inverted index instead of
    // joining back after pair mining: the former +8 bytes per inverted
    // row; the latter was TWO doc-keyed joins over the full pair set
    // whose build side (one row per document) outgrows the broadcast
    // threshold around the third amplified decade — the measured
    // ×13–15/decade shuffle step that helped kill the sf100eq star leg
    // (r15 SCALE.md "the one failure"). Same (inter, na, nb) values,
    // two fewer shuffles, no size-dependent plan transition.
    val inv = sh.select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
    val hot = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("s"))
    // no forced broadcast: the hot set is tiny under any Zipf-like
    // distribution (AQE broadcasts it at runtime), but its true bound
    // is occurrences/dfCap — corpus-proportional on an adversarial
    // near-dup-heavy crawl, where a forced hint would OOM the build
    // and a shuffle anti-join is the right degradation
    val rare = inv.join(hot, Seq("s"), "left_anti")
    rare.as("a").join(rare.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // n is functionally dependent on the doc id — max() reads the
      // carried value without widening the grouping key
      .agg(count(lit(1)).as("inter"), max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
  }

  private[graft] def ngramJaccardOn(sh: DataFrame, threshold: Double,
                                    dfCap: Int): DataFrame =
    scoreJaccard(minedPairSizes(sh, dfCap), threshold).orderBy(col("doc_a"), col("doc_b"))

  private def scoreJaccard(mined: DataFrame, threshold: Double): DataFrame =
    mined
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))

  /** Default-parameter [[ngramJaccard]] output, shared per
    * (session, dir): the verified near-dup pair set is the shared
    * upstream of the transitive-closure grouping, the triangle census,
    * the edit-distance verification and the cross-source matrix.
    * Shared via [[Memo]] (checkpoint), NOT a CacheManager
    * persist: the frame's plan IS the named `dedup_ngram_jaccard`
    * query's plan, and a persisted twin would be cache-substituted
    * into the named query's own timed window (r17 verdict: 0 bytes
    * shuffled). Downstream consumers read one materialization; the
    * named query computes fresh. Stored UNSORTED: no consumer reads
    * the pairs in order (components, edit distance, cross-source,
    * split leakage, the LSH audit), so the named query's range sort
    * and its sampling job stay out of the shared build. */
  private[graft] def verifiedPairs(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "dedup_ngram_pairs")(
      scoreJaccard(minedPairSizes(shingled(spark, dir), HotShingleDfCap), 0.015))

  /** Character-level verification of the mined near-dup pairs: exact
    * Levenshtein distance over bounded text prefixes, emitted next to
    * a normalized prefix similarity. Fuzzy dedup's second opinion —
    * token-shingle Jaccard misses small char-level edits (typo
    * normalization, OCR noise) that edit distance quantifies. Cost is
    * bounded twice: only the (LSH-disciplined) candidate pair set is
    * scored, and the O(len²) DP runs on `prefixLen`-char prefixes,
    * never whole documents. The pair side is tiny and broadcasts into
    * the two doc-key joins; the corpus never shuffles. */
  def editDistancePairs(spark: SparkSession, dir: String,
                        prefixLen: Int = 128): DataFrame =
    // Checkpoint the UNSORTED frame per call and sort the checkpoint: a
    // global orderBy over an expensively-computed projection pays the
    // projection TWICE — the range partitioner samples its child to
    // pick bounds, which executes the full DP pass once for sampling
    // and once for real (measured: 2 × 3.1 s at sf0.1). Sorting the
    // checkpointed rows samples materialized output instead, so the DP
    // runs exactly once PER ACTION — unlike the pre-r18 cross-run Memo,
    // which held the named query's own output and turned its timed
    // window into a cache re-read (the r17 result-memo finding).
    Memo.checkpointCounted(editDistanceBuild(spark, dir, prefixLen))._1
      .orderBy(col("doc_a"), col("doc_b"))

  private def editDistanceBuild(spark: SparkSession, dir: String,
                                prefixLen: Int): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, prefixLen).as("pfx"))
    // fan the pair set out to full parallelism BEFORE the O(prefixLen²)
    // DP projection: the memoized pair frame arrives in however few
    // partitions the mining join left it (4 at sf0.1 — 94k pairs ×16k
    // DP cells at mining parallelism was most of the query's cost), and
    // the broadcast prefix joins preserve partitioning, so without this
    // the compute-heavy stage runs at mining parallelism, not core count
    val pairs = verifiedPairs(spark, dir).select(col("doc_a"), col("doc_b"))
      .repartition(spark.sparkContext.defaultParallelism)
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("pfx").as("pfx_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("pfx").as("pfx_b")), Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("pfx_a"), col("pfx_b")).cast(LongType))
      // Both prefixes empty ⇒ identical ⇒ similarity 1.0. Spark's x/0
      // yields NULL while DuckDB's ieee_floating_point_ops yields NaN
      // for 0/0; the guard pins both engines to 1.0 for identical
      // empty prefixes.
      .withColumn("prefix_sim",
        when(greatest(length(col("pfx_a")), length(col("pfx_b"))) > 0,
          lit(1.0) - col("edit_dist").cast(DoubleType) /
            greatest(length(col("pfx_a")), length(col("pfx_b"))).cast(DoubleType))
          .otherwise(lit(1.0)))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"), col("prefix_sim"))
  }

  /** The components closure shared by the quality-aware representative
    * pass (TextAnalysis.bestRep) and the dedup summary — via
    * [[Memo]] (checkpoint, r18): the frame IS the named
    * `dedup_components` query's output, so the named query computes its
    * own components per action (and is measured on it) while the
    * downstream consumers read one materialization. */
  private[operators] def componentsShared(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "dedup.components")(dedupComponents(spark, dir))

  /** Transitive dedup groups: connected components of the verified
    * near-dup pair graph (the [[ngramJaccard]] pairs): every document
    * maps to the min doc_id of its component. Real pipelines collapse
    * duplicate GROUPS, not 1-hop neighbor pairs: A≈B≈C must land in
    * one group even when A and C never co-bucket ([[minhashLsh]]'s rep
    * map is the 1-hop approximation of this closure). The labels come
    * from [[componentLabels]]; isolated docs (the overwhelming majority
    * of a real corpus) never enter it — they are their own rep by
    * definition and are glued back with one left join at the end, so
    * the cost scales with the near-dup graph, not the corpus. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(componentLabels(verifiedPairs(spark, dir)).withColumnRenamed("rep_doc_id", "rep"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep_doc_id"))
      .orderBy(col("doc_id"))

  /** Vertex cap of one task's seed union-find in [[componentLabels]]:
    * a task that has seen this many distinct vertices emits their
    * labels and restarts with an empty structure. A `LongMap` entry
    * is two array slots at most half full plus a boxed Long, about
    * 40–64 bytes, so the cap bounds a task's seed heap near 64 MB. */
  val SeedCap: Int = 1 << 20

  /** Component labels of an arbitrary (doc_a, doc_b) pair frame:
    * (doc_id, rep_doc_id) for every vertex of an edge, rep = the min id
    * of its component. The one components core: `dedup_components`,
    * `dedup_components_star` and `mm_dup_components` all run it.
    *
    *  1. Seed. A union-find inside each partition of `pairs` labels
    *     every vertex with the min of its LOCAL set (the components of
    *     that partition's edges). One groupBy(doc_id) gives each vertex
    *     its minimum seed label `m` and its set of seed labels; every
    *     other label `s` in that set is a conflict edge (s, m).
    *  2. No conflict edges: the seed IS the answer. Local sets that
    *     share a vertex then carry one label, every edge lies inside
    *     some local set, and the set holding the component minimum is
    *     labeled with it. One job; the fixtures take this path.
    *  3. Otherwise, large-star/small-star contraction (Kiveris et al.,
    *     "Connected Components in MapReduce and Beyond", SoCC'14) on
    *     the conflict graph. Its vertices are seed labels and it has at
    *     most |seed rows| − |vertices| edges. Two labels are connected
    *     iff their local sets are chained through shared vertices, so
    *     its components are the true components, and each one's
    *     minimum is a vertex of it: the seed label of its own local set.
    *  4. Relabel: one join maps `m` to its component minimum.
    *
    * Scale notes:
    *  - Star phases are O(log n) in the conflict graph, which is the
    *    pair graph with each local set collapsed to one vertex: zero
    *    phases when every component's edges share a partition.
    *  - The seed conflict count and each phase's edge count are read
    *    by the same job that materializes the frame's lazy
    *    `localCheckpoint` ([[Memo.checkpointCounted]]). Without truncating
    *    lineage the plan doubles per phase and the driver OOMs building
    *    it (at cluster scale use reliable `checkpoint` so a lost
    *    executor can't drop a phase). Labels never leave executors.
    *  - `seedCap` bounds the union-find per task ([[SeedCap]], 2^20
    *    vertices, by default); a partial contraction is still a valid
    *    seed, it only leaves more conflict edges for the star phases.
    *  - `pairs` is read once, by the seed.
    *
    * Non-convergence within `maxIter` star phases is an ERROR, not a
    * stderr note: a truncated closure is indistinguishable from a
    * converged one in the output schema, so a caller consuming
    * `rep_doc_id` must never receive one silently (ADVICE r7). The loop
    * evaluates convergence on its final phase, so a thrown budget
    * overrun is definitive. */
  private[graft] def componentLabels(pairs: DataFrame, maxIter: Int = 20,
                                     seedCap: Int = SeedCap): DataFrame = {
    require(seedCap > 0, s"seedCap must be positive, got $seedCap")
    val longPair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val seeds = pairs.select(col("doc_a"), col("doc_b")).as(longPair)
      .mapPartitions { es =>
        Iterator.continually(new MinRootUnionFind).takeWhile(_ => es.hasNext).flatMap { uf =>
          while (es.hasNext && uf.size < seedCap) { val (a, b) = es.next(); uf.union(a, b) }
          uf.labels
        }
      }(longPair)
      .toDF("doc_id", "seed")
      .groupBy(col("doc_id"))
      .agg(min(col("seed")).as("rep_doc_id"), collect_set(col("seed")).as("seeds"))
    val (seeded, conflicted) = Memo.checkpointCounted(seeds, size(col("seeds")) > 1)
    val labels = seeded.select(col("doc_id"), col("rep_doc_id"))
    if (conflicted == 0) labels
    else {
      // star edges are oriented a > b and distinct; the row counts gate
      // the exact set-equality check below for free
      var (edges, nEdges) = Memo.checkpointCounted(seeded
        .select(explode(col("seeds")).as("a"), col("rep_doc_id").as("b"))
        .filter(col("a") =!= col("b")).distinct())
      var converged = false
      var i = 0
      val w = Window.partitionBy(col("a"))
      while (!converged && i < maxIter) {
        // Each star phase is ONE partitioned window min instead of the
        // groupBy+self-join pair (r18, guide §2.4): the window attaches
        // the neighborhood min to every row inside the single hash(a)
        // exchange — the join form paid the same exchange plus a
        // HashAggregate and an SMJ with two sorts per phase. Windows
        // stream sorted runs (spillable), so a giant-degree hub never
        // materializes an in-memory neighbor array the way collect_list
        // would.
        // large-star: hang every larger neighbor off the neighborhood min
        val sym = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
        val ls = sym.withColumn("m", least(min(col("b")).over(w), col("a")))
          .filter(col("b") > col("a"))
          .select(col("b").as("a"), col("m").as("b"))
          .filter(col("a") =!= col("b"))
        // ls is NOT deduplicated: duplicates ((b, m) reached through
        // several neighbors) are bounded by Σdeg(b) = 2|E| rows, fold in
        // the small-star distinct below anyway, and skipping the dedup
        // removes a full (a, b)-keyed exchange + stage barrier per phase
        // small-star: same for the not-larger neighbors, smaller-oriented
        val or = ls.select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        val ss = or.withColumn("m", min(col("b")).over(w))
          // every row votes its b AND its a against the partition min
          .select(explode(array(col("b"), col("a"))).as("v"), col("m"))
          .filter(col("v") =!= col("m"))
          .select(greatest(col("v"), col("m")).as("a"), least(col("v"), col("m")).as("b"))
          .distinct()
        val (ssCk, nSs) = Memo.checkpointCounted(ss)
        // both frames are distinct by construction, so they are equal as
        // sets iff their counts match AND every (a, b) of their union
        // appears exactly twice (one grouped count — still EXACT, never
        // probabilistic). Unequal counts PROVE inequality, so contracting
        // phases skip the equality job entirely.
        if (nSs == nEdges)
          converged = ssCk.unionByName(edges).groupBy(col("a"), col("b"))
            .agg(count(lit(1)).as("ct")).filter(col("ct") =!= 2).isEmpty
        edges = ssCk
        nEdges = nSs
        i += 1
      }
      if (!converged) throw new IllegalStateException(
        s"[graft] componentLabels: no fixpoint within $maxIter star phases — the labels " +
          "would be a partial (wrong) closure; raise maxIter")
      // a converged star set has one row per non-minimum label: a -> b,
      // its component minimum; minima carry no row. The relabel is
      // checkpointed so callers plan against measured labels, not the
      // join's product-of-children size estimate.
      val relabeled = labels.join(edges.select(col("a").as("rep_doc_id"), col("b").as("root")),
          Seq("rep_doc_id"), "left")
        .select(col("doc_id"), coalesce(col("root"), col("rep_doc_id")).as("rep_doc_id"))
      Memo.checkpointCounted(relabeled)._1
    }
  }

  /** One task's seed union-find over Long vertex ids. A parent link
    * always points at a smaller id, so every root is its set's minimum
    * and `find` returns the set label; path halving keeps finds
    * amortized logarithmic without a rank array. */
  private final class MinRootUnionFind {
    private val parent = new scala.collection.mutable.LongMap[Long]
    def size: Int = parent.size

    private def find(x: Long): Long = {
      var v = x
      var p = parent.getOrElseUpdate(v, v)
      while (p != v) {
        val g = parent(p)
        parent(v) = g
        v = g
        p = parent(v)
      }
      v
    }

    def union(a: Long, b: Long): Unit = {
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }

    /** (vertex, min of its set) for every vertex seen. */
    def labels: Iterator[(Long, Long)] = parent.keys.toArray.iterator.map(v => (v, find(v)))
  }

  /** Exact-substring overlap pairs: documents sharing at least one
    * verbatim run of [[SubstringK]] consecutive tokens (the windowed-
    * hash approximation of suffix-array exact-substring dedup — a long
    * shared substring of length L ≥ k is witnessed by L−k+1 shared
    * k-windows, so recall for runs ≥ k tokens is exact up to hash
    * collisions). Emits (doc_a, doc_b, shared_windows); shared_windows
    * approximates overlap mass in tokens.
    *
    * Scale shape: identical to [[ngramJaccard]] — one fused codegen
    * scan hashes every k-window (no window strings materialized), a
    * broadcast hot-window blacklist bounds the inverted-index self-join
    * (a window shared by df docs otherwise emits df²/2 rows on one
    * reducer), and only candidate pairs are ever paired. k = 8 makes a
    * chance window collision ~vocab⁻⁸ — hot windows are real
    * boilerplate, which exact/minhash dedup already collapse. */
  def substringPairs(spark: SparkSession, dir: String, k: Int = SubstringK,
                     dfCap: Int = HotShingleDfCap): DataFrame =
    substringPairsOn(Tables.spread(spark, Tables.documents(spark, dir)), k, dfCap)

  /** [[substringPairs]] over an arbitrary (doc_id, text) frame. */
  private[graft] def substringPairsOn(docs: DataFrame, k: Int = SubstringK,
                                      dfCap: Int = HotShingleDfCap): DataFrame = {
    val win = docs.select(col("doc_id"),
      explode(GraftExpressions.shingleHashes(toks(col("text")), k)).as("w"))
    val hot = win.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("w"))
    // no forced broadcast (see minedPairSizes): the >dfCap head is
    // Zipf-tiny in practice but occurrences/dfCap in the worst case —
    // AQE picks broadcast when it fits, shuffle anti-join when not
    val rare = win.join(hot, Seq("w"), "left_anti")
    rare.as("a").join(rare.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_windows"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val SubstringK = 8

  /** Cross-source duplication matrix: for every unordered source pair,
    * how many verified near-dup pairs straddle it and how many distinct
    * documents they involve — the curation report that tells you which
    * crawls/dumps mirror each other before you weight them. Diagonal
    * rows (source_x = source_y) are within-source duplication.
    *
    * Scale shape: the expensive part is [[ngramJaccard]]'s candidate
    * generation, shared work; this adds two equi-joins of the (small)
    * pair set against the doc→source projection and a grouped count —
    * the distinct-doc count shuffles only pair-touched doc ids. */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val meta = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val tagged = verifiedPairs(spark, dir).select(col("doc_a"), col("doc_b"))
      .join(meta.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(meta.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_x"),
        greatest(col("sa"), col("sb")).as("source_y"),
        col("doc_a"), col("doc_b"))
    val pairCt = tagged.groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("pair_count"))
    val docCt = tagged.select(col("source_x"), col("source_y"), col("doc_a").as("doc_id"))
      .unionByName(tagged.select(col("source_x"), col("source_y"), col("doc_b").as("doc_id")))
      .groupBy(col("source_x"), col("source_y"))
      .agg(countDistinct(col("doc_id")).as("doc_count"))
    pairCt.join(docCt, Seq("source_x", "source_y"))
      .orderBy(col("source_x"), col("source_y"))
  }

  /** Per-source corpus minhash signatures via the grouped-aggregate
    * form ([[graft.functions.MinHashSetAgg]]): each source's signature
    * is the 32-permutation minima over the UNION of its documents'
    * shingle hashes — the corpus-level fingerprint that lets two
    * crawls/dumps be compared for overlap without any per-document
    * pairwise work. Long format (source, h_idx, h_min) so the driver
    * hash-compare sees scalar columns.
    *
    * Scale shape: one shingle scan (fused codegen), then a partial-
    * aggregating groupBy — map-side combine reduces each (partition,
    * source) to one 32-long buffer before the shuffle, so signature
    * cost is scan-bound regardless of corpus size. */
  def sourceSignatures(spark: SparkSession, dir: String): DataFrame =
    // computes its own aggregation per action (r18) — the signature
    // frame shared with sourceJaccard moved to a checkpoint share so
    // it can no longer stand in for this named query's timed compute
    sourceSignaturesFrom(sourceShingles(spark, dir))
      .orderBy(col("source"), col("h_idx"))

  /** Aggregated per-source signatures shared with both self-join sides
    * of [[sourceJaccard]] — via [[Memo]] (checkpoint, r18): the
    * frame IS the named `dedup_source_signatures` output, so a
    * CacheManager persist would be substituted straight back into the
    * named query's fresh plan. */
  private def memoSourceSig(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "dedup.source_sig")(
      sourceSignaturesFrom(sourceShingles(spark, dir)))

  /** (source, x): the exploded per-source shingle-hash stream — the
    * one corpus scan behind signatures, set sizes, and the exact
    * intersection; memoized per (session, dir) so the signature and
    * jaccard queries (and both consumers inside the latter) share one
    * materialization instead of re-scanning the corpus. */
  private def sourceShingles(spark: SparkSession, dir: String): DataFrame =
    // DISTINCT at build time (r17): minhash minima are idempotent
    // under duplicates, so the signature consumer is unchanged, while
    // the exact-intersection consumers previously re-ran their own
    // `.distinct()` over the raw stream inside every timed action —
    // the dedup moves into the one shared materialization (guide
    // §2.4), and the memo itself shrinks to the per-source SET size
    Memo(spark, dir, "dedup_source_shingles")(
      Tables.spread(spark, Tables.documents(spark, dir))
        .select(col("source"), explode(GraftExpressions.shingleHashes(toks(col("text")), 3)).as("x"))
        .distinct())

  private def sourceSignaturesFrom(inv: DataFrame): DataFrame =
    inv.groupBy(col("source"))
      .agg(GraftExpressions.minhashSetAgg(col("x"), NumHashes).as("sig"))
      .select(col("source"), posexplode(col("sig")))
      .select(col("source"), col("pos").cast(LongType).as("h_idx"), col("col").as("h_min"))

  /** Estimated vs exact cross-source Jaccard: for every source pair,
    * the number of agreeing signature slots ([[sourceSignatures]] —
    * agree_ct/32 estimates J) next to the EXACT distinct-shingle
    * intersection and set sizes, so the estimate's error is visible in
    * the result itself.
    *
    * Scale shape: the estimate side joins 32·S signature rows (S =
    * source count) — trivial at any corpus size; that is the entire
    * point of corpus-level signatures. The exact side (the accuracy
    * audit) self-joins the per-source distinct shingle index; each
    * shingle's fan-out is bounded by S, so pair volume ≤ S²/2 per
    * shingle — it scales with sources, not documents. */
  def sourceJaccard(spark: SparkSession, dir: String): DataFrame = {
    val inv = sourceShingles(spark, dir)
    val sig = memoSourceSig(spark, dir)
    val est = sig.as("a").join(sig.as("b"),
        col("a.h_idx") === col("b.h_idx") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_x"), col("b.source").as("source_y"))
      .agg(sum(when(col("a.h_min") === col("b.h_min"), 1L).otherwise(0L)).as("agree_ct"))
    // the memoized stream is distinct by construction (see
    // [[sourceShingles]]) — no per-action re-dedup
    val dinv = inv
    val sizes = dinv.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = dinv.as("a").join(dinv.as("b"),
        col("a.x") === col("b.x") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_x"), col("b.source").as("source_y"))
      .agg(count(lit(1)).as("inter_ct"))
    est.join(inter, Seq("source_x", "source_y"), "left")
      .join(sizes.select(col("source").as("source_x"), col("n").as("n_x")), Seq("source_x"))
      .join(sizes.select(col("source").as("source_y"), col("n").as("n_y")), Seq("source_y"))
      .select(col("source_x"), col("source_y"), col("agree_ct"),
        coalesce(col("inter_ct"), lit(0L)).as("inter_ct"), col("n_x"), col("n_y"))
      .orderBy(col("source_x"), col("source_y"))
  }

  val NumHashes = 32
  val BandSize = 4
  val NumBands: Int = NumHashes / BandSize // 8
  private val MersennePrime = (1L << 61) - 1

  /** (doc_id, sh): distinct 3-shingle FNV hashes per document (fused
    * codegen, no shingle-string materialization) — the shared upstream
    * of signatures and verification. Jaccard over distinct shingle
    * hashes equals Jaccard over distinct shingles up to 64-bit hash
    * collisions (negligible). */
  private def shingled(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "dedup_shingled")(
      Tables.spread(spark, Tables.documents(spark, dir))
        .select(col("doc_id"), GraftExpressions.shingleHashes(toks(col("text")), 3).as("sh")))

  /** LSH bucket key of band `bnd` over a `sig` column. */
  private def bandCol(bnd: Int): Column =
    xxhash64((bnd * BandSize until (bnd + 1) * BandSize).map(i => col("sig").getItem(i)): _*)

  /** Per-doc minhash signature banded into LSH bucket keys.
    * The i-th "permutation" of a shingle hash is (a_i·h + b_i) mod
    * 2^61-1 with odd constants derived from i. */
  private[graft] def minhashSignaturesFrom(sh: DataFrame): DataFrame = {
    val d = sh.filter(size(col("sh")) > 0)
    // one fused codegen'd pass computes all NumHashes minima (identical
    // wrapping arithmetic to NumHashes separate aggregate(...) HOF calls)
    val sig = d.select(col("doc_id"),
      GraftExpressions.minhashSig(col("sh"), NumHashes).as("sig"))
    sig.select(col("doc_id") +: (0 until NumBands).map(b => bandCol(b).as(s"band_$b")): _*)
  }

  /** Per-bucket pair cap: buckets larger than this stop generating all
    * m²/2 pairs and star-link members to the bucket minimum instead —
    * see [[minhashCandidatesFrom]]. */
  val BucketCap = 32

  /** MinHash+LSH dedup: docs sharing any band bucket are candidates;
    * candidates are verified with exact shingle Jaccard; each doc maps
    * to the min doc_id of its verified near-dup group (itself if none).
    *
    * Composes the MEMOIZED verified edge list ([[lshVerifiedPairs]] —
    * the intermediate the triangle census and the LSH recall audit
    * already share) and runs its own rep-collapse aggregation on top;
    * before r18 it re-derived the whole verify pipeline per action and
    * only looked cheap because the CacheManager substituted the
    * persisted memo's columnar twin into the fresh plan — an implicit
    * dependency the Memo checkpoint form (plan-opaque) broke loudly. */
  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.015): DataFrame =
    repCollapse(lshVerifiedPairs(spark, dir, threshold),
      Tables.documents(spark, dir).select(col("doc_id")))

  /** The verified near-dup EDGE LIST (doc_a < doc_b, jaccard ≥
    * threshold) — the LSH pipeline stopped one step before rep
    * collapse, shared by [[minhashLshOn]] and the graph census
    * ([[dedupTriangles]]). Memoized per (session, dir, threshold) in
    * the named-query form, built from the shared `dedup_shingled` memo
    * (one shingle pass per session, not one per consumer). */
  private[graft] def lshVerifiedPairs(spark: SparkSession, dir: String,
                                      threshold: Double = 0.015): DataFrame =
    Memo(spark, dir, s"dedup.lsh_pairs.$threshold")(
      lshVerifiedPairsFrom(shingled(spark, dir), threshold, BucketCap))

  /** [[lshVerifiedPairs]] over an arbitrary (doc_id, text) frame. */
  private[graft] def lshVerifiedPairsOn(docs: DataFrame, threshold: Double,
                                        cap: Int): DataFrame =
    // shingling (split + 3-gram + distinct) is the expensive scan: a
    // lazy checkpoint shares it between signatures and verification
    // without a CacheManager entry that could stand in for other plans
    lshVerifiedPairsFrom(docs
      .select(col("doc_id"), GraftExpressions.shingleHashes(toks(col("text")), 3).as("sh"))
      .localCheckpoint(false), threshold, cap)

  /** LSH candidates from a (doc_id, sh) shingle frame, verified with
    * exact Jaccard; `sh` is read twice (signatures, verification). */
  private def lshVerifiedPairsFrom(sh: DataFrame, threshold: Double, cap: Int): DataFrame =
    verifyJaccard(sh, minhashCandidatesFrom(minhashSignaturesFrom(sh), cap))
      .filter(col("jaccard") >= threshold)

  /** Triangle census + local clustering coefficient of the verified
    * near-dup graph — the structural health check of a dedup run: high
    * LCC says near-duplication is transitive (boilerplate families,
    * template clusters — safe to collapse to one representative); low
    * LCC with high degree says chain-shaped similarity (drifting
    * revisions) where min-id collapse merges documents that are NOT
    * mutually similar.
    *
    * Scale shape: the classic degree-ordered orientation — every edge
    * points from its lower-(deg, id) endpoint, capping out-degrees at
    * O(√m), so the wedge self-join is bounded even on power-law dup
    * graphs (a star of m identical docs yields ZERO wedges at its hub
    * instead of m²). Wedge closure is an equi-join on the (v, w) pair;
    * per-node counts are one explode + groupBy. Everything downstream
    * of the (already-bounded) LSH verify is edge-sized, never
    * corpus-sized. */
  def dedupTriangles(spark: SparkSession, dir: String): DataFrame =
    dedupTrianglesOn(lshVerifiedPairs(spark, dir).select(col("doc_a"), col("doc_b")))

  private[graft] def dedupTrianglesOn(edges: DataFrame): DataFrame = {
    val e = edges.select(col("doc_a"), col("doc_b")).distinct()
    val deg = e.select(col("doc_a").as("v")).unionByName(e.select(col("doc_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("v").as("doc_a"), col("deg").as("da")), Seq("doc_a"))
      .join(deg.select(col("v").as("doc_b"), col("deg").as("db")), Seq("doc_b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    // degree prune (r18, guide §2.3): an edge with a degree-1 endpoint
    // cannot close a triangle (its endpoint has no second edge), so it
    // never needs to enter the wedge self-join or the closure join —
    // on near-dup graphs most pairs are isolated 2-cliques, so this
    // drops the bulk of the oriented frame before both shuffles. The
    // per-node report below still runs over the FULL deg frame, so
    // pruned nodes keep their (deg, tri_ct = 0) rows.
    val oriented = withDeg
      .filter(col("da") >= 2 && col("db") >= 2)
      .select(when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("src"),
        when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd"))
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") &&
          (col("x.dd") < col("y.dd") ||
            (col("x.dd") === col("y.dd") && col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("ta"), col("x.dst").as("tb"), col("y.dst").as("tc"))
    val tri = wedges.join(
      oriented.select(col("src").as("tb"), col("dst").as("tc")), Seq("tb", "tc"))
    val counts = tri
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_ct"))
    deg.join(counts, col("v") === col("node"), "left")
      .select(col("v").as("doc_id"), col("deg"),
        coalesce(col("tri_ct"), lit(0L)).as("tri_ct"),
        when(col("deg") >= 2,
          coalesce(col("tri_ct"), lit(0L)).cast(DoubleType) * lit(2.0) /
            (col("deg").cast(DoubleType) * (col("deg").cast(DoubleType) - lit(1.0))))
          .otherwise(lit(0.0)).as("lcc"))
      .orderBy(col("doc_id"))
  }

  /** LSH banding-recall audit: the verified LSH pair set measured
    * against the exact shingle-Jaccard truth, per similarity band —
    * the number that justifies replacing the exact index join with the
    * banded index at scale (the S-curve: recall ~1 above the banding
    * knee, deliberately lossy in the 0.015-grazing tail, where pairs
    * are near-noise). Precision needs no row: every emitted LSH pair
    * is exact-verified at the same threshold by construction.
    *
    * Scale shape: both inputs are the already-bounded pair frames
    * (memoized); the audit itself is a pair-keyed left join + a
    * 3-row aggregation. */
  def lshEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = verifiedPairs(spark, dir)
    val found = lshVerifiedPairs(spark, dir)
      .select(col("doc_a").as("fa"), col("doc_b").as("fb"), lit(1L).as("hit"))
    truth
      .join(found, col("doc_a") === col("fa") && col("doc_b") === col("fb"), "left")
      .withColumn("found", coalesce(col("hit"), lit(0L)))
      .withColumn("band",
        when(col("jaccard") >= 0.5, ">=0.5")
          .when(col("jaccard") >= 0.1, "0.1-0.5").otherwise("0.015-0.1"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("truth_ct"), sum(col("found")).as("found_ct"))
      .withColumn("recall",
        col("found_ct").cast(DoubleType) / col("truth_ct").cast(DoubleType))
      .orderBy(col("band"))
  }

  /** [[minhashLsh]] over an arbitrary (doc_id, text) frame; `allDocs`
    * carries ids of docs too short to shingle so every document gets a
    * mapping row. */
  private[graft] def minhashLshOn(docs: DataFrame, allDocs: DataFrame,
                                  threshold: Double = 0.015,
                                  cap: Int = BucketCap): DataFrame =
    repCollapse(lshVerifiedPairsOn(docs, threshold, cap), allDocs)

  /** Verified-edge-list → per-doc min-rep mapping (the LSH dedup's own
    * aggregation step, factored so the named query and the arbitrary-
    * frame test path share it). */
  private def repCollapse(verified: DataFrame, allDocs: DataFrame): DataFrame = {
    val reps = verified.select(col("doc_b").as("doc_id"), col("doc_a").as("other"))
      .unionByName(verified.select(col("doc_a").as("doc_id"), col("doc_b").as("other")))
      .groupBy(col("doc_id")).agg(min(col("other")).as("m"))
    // every document gets a mapping row — docs too short to shingle
    // (< 3 tokens, filtered before signatures) are their own reps
    allDocs.join(reps, Seq("doc_id"), "left")
      .select(col("doc_id"), least(col("doc_id"), coalesce(col("m"), col("doc_id"))).as("rep_doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Candidate pairs from banded signatures, with the giant-bucket
    * guard the 100 TB story needs: a bucket of m identical boilerplate
    * docs would otherwise emit m²/2 pairs (one hot bucket of 10⁶ docs =
    * 5·10¹¹ pairs — a job-killer). Buckets over `cap` switch from
    * all-pairs to star-linking every member to the bucket's min doc_id
    * — O(m) pairs that preserve exactly what the downstream rep
    * assignment needs: identical/boilerplate docs (the only way real
    * buckets get giant) collide in EVERY band, so each giant bucket's
    * min is the group's global min and the verified star edges collapse
    * the whole group to it. For a rare diverse giant bucket (adversarial
    * collision) the star still verifies every member against one
    * anchor; only member-member links absent from all other bands are
    * lost — the standard recall-for-survival trade. Both shapes share
    * one shuffle on the bucket key (the window and the self-join
    * partition identically). */
  private[graft] def minhashCandidatesFrom(sig: DataFrame, cap: Int = BucketCap): DataFrame = {
    // single-pass unpivot of the band columns (one scan of the
    // signatures instead of one per band)
    val buckets = sig.select(col("doc_id"),
      posexplode(array((0 until NumBands).map(b => col(s"band_$b")): _*))
        .as(Seq("band_idx", "bucket")))
    val w = Window.partitionBy(col("band_idx"), col("bucket"))
    // checkpointed: three consumers below (both sides of the
    // small-bucket self-join + the giant-bucket star) would each re-run
    // the window shuffle+sort otherwise — measured 3x the query time
    // uncached. A lazy localCheckpoint, not a CacheManager persist: its
    // blocks are freed with the frame instead of pinned for the session
    val stats = buckets
      .withColumn("mn", min(col("doc_id")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .localCheckpoint(false)
    val small = stats.filter(col("cnt") <= cap)
    val pairsSmall = small.as("a").join(small.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val pairsGiant = stats.filter(col("cnt") > cap && col("doc_id") =!= col("mn"))
      .select(col("mn").as("doc_a"), col("doc_id").as("doc_b"))
    pairsSmall.unionByName(pairsGiant).distinct()
  }

  /** Exact Jaccard for a given candidate-pair set only. */
  private def verifyJaccard(d: DataFrame, cand: DataFrame): DataFrame = {
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(d.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("sha")) + size(col("shb")) - col("inter")).cast(DoubleType))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Online dedup at ingestion: flag incoming documents that near-dup
    * an EXISTING corpus. `newDocs` may be a STREAM — shingling and
    * minhash signatures are doc-local projections, and both the bucket
    * probe and the shingle verify are stream-static joins against the
    * corpus index, so the identical code dedupes a batch backfill or a
    * live ingest feed (proven stream ≡ batch in LlmOpsSpec). Every
    * flagged doc reports its smallest duplicate corpus doc and the best
    * exact Jaccard; every emitted row is exact-verified (LSH affects
    * recall only).
    *
    * Scale: the corpus-side banded index + shingle store are built once
    * (checkpointed here; a real deployment persists them as tables). Per
    * micro-batch the stream does scan-local signature work plus
    * bucket-key equi-joins. The stream side carries its shingle array
    * through the band unpivot (8× in-flight duplication of ~10² longs
    * per doc) — the price of verifying without a stream-stream join. */
  def ingestNearDups(corpusDocs: DataFrame, newDocs: DataFrame,
                     threshold: Double = 0.015,
                     corpusMemo: Option[(SparkSession, String)] = None): DataFrame = {
    // `corpusMemo = Some((session, dir))` routes the corpus-side index
    // through the shared Memo store — one copy per session reused by
    // every ingest call (and freed by Memo.invalidate); without it each
    // call checkpoints its own copy, freed with the returned frame
    def memoOr(name: String)(build: => DataFrame): DataFrame =
      corpusMemo.map { case (s, d) => Memo(s, d, name)(build) }
        .getOrElse(Memo.checkpointCounted(build)._1)
    val shC = memoOr("dedup.ingest.sh") {
      corpusDocs
        .select(col("doc_id"), GraftExpressions.shingleHashes(toks(col("text")), 3).as("sh"))
    }
    val sigC = memoOr("dedup.ingest.sig")(minhashSignaturesFrom(shC))
    // posexplode, NOT a per-band union: a k-way union re-evaluates its
    // upstream k times when it can't be cached — and the stream side
    // can never be cached, so each band would re-shingle + re-minhash
    // every micro-batch
    val bucketsC = sigC.select(col("doc_id").as("corpus_doc"),
      posexplode(array((0 until NumBands).map(b => col(s"band_$b")): _*))
        .as(Seq("band_idx", "bucket")))
    val bandN = newDocs
      .select(col("doc_id"), GraftExpressions.shingleHashes(toks(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        GraftExpressions.minhashSig(col("sh"), NumHashes).as("sig"))
      .select(col("doc_id"), col("sh"),
        posexplode(array((0 until NumBands).map(bandCol): _*)).as(Seq("band_idx", "bucket")))
    // a pair colliding in several bands is verified once per collision;
    // the final per-doc aggregate absorbs the duplicates (a streaming
    // dropDuplicates would add watermark state for no semantic gain)
    val cand = bandN.join(bucketsC, Seq("band_idx", "bucket"))
    cand
      .join(shC.select(col("doc_id").as("corpus_doc"), col("sh").as("corpus_sh")),
        Seq("corpus_doc"))
      .withColumn("inter", size(array_intersect(col("sh"), col("corpus_sh"))))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("sh")) + size(col("corpus_sh")) - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_id"))
      .agg(min(col("corpus_doc")).as("dup_of"), max(col("jaccard")).as("best_jaccard"))
  }

  /** Named-query form of [[ingestNearDups]]: even doc_ids play the
    * existing corpus, odd doc_ids the incoming feed — deterministic and
    * non-trivial on the fixture (hash-defined candidates → rows-only
    * driver check; the spec gates stream ≡ batch equality). */
  def ingestLsh(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    ingestNearDups(d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        corpusMemo = Some((spark, dir)))
      .orderBy(col("doc_id"))
  }

  /** SimHash: 64-bit signature = sign of per-bit vote over token hashes
    * (FNV-1a per token, fused in the codegen'd `SimHash64`);
    * Hamming-adjacent docs collide on at least one 16-bit chunk
    * (pigeonhole for dist<=3).
    *
    * Doc-local projection — no explode, no shuffle: at 100 TB this is
    * a scan-speed pass. (The exploded 64-column-vote formulation it
    * replaces produces bit-identical signatures; GraftProps pins the
    * expression against a Scala reference.) */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashChunks(spark, dir).orderBy(col("doc_id"))

  private def simhashChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), GraftExpressions.simhash64(toks(col("text"))).as("simhash"))
      .withColumn("chunk0", expr("simhash & 65535"))
      .withColumn("chunk1", expr("(simhash >> 16) & 65535"))
      .withColumn("chunk2", expr("(simhash >> 32) & 65535"))
      .withColumn("chunk3", expr("(simhash >> 48) & 65535"))

  /** SimHash near-dup pairs: chunk-collision candidates verified by
    * Hamming distance <= maxDist.
    *
    * Scale note: "emit every pair" is itself O(m²) for a group of m
    * mass-duplicated docs — no candidate capping can change what this
    * operator RETURNS. Corpora where that's a hazard should use the
    * rep-collapse form ([[minhashLsh]], whose giant-bucket star cap
    * keeps both candidates and output linear) and treat pair
    * enumeration as a diagnostic on bounded slices. */
  def simhashPairs(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    // one row per (doc, chunk) from ONE signature pass: both join sides
    // read the same exchange, so the corpus is scanned and hashed once
    val buckets = simhashChunks(spark, dir).select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i => col(s"chunk$i")): _*)).as(Seq("chunk_idx", "chunk")))
    buckets.as("a").join(buckets.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Near-CONTAINMENT detection: pairs where the smaller doc's shingle
    * set is mostly inside the other's — containment = inter /
    * min(|A|, |B|). Jaccard misses subset duplication (a paragraph
    * quoted inside a 100× larger page scores inter/union ≈ 0.01 but
    * containment ≈ 1.0), and quote/boilerplate inclusion is the
    * dominant duplication mode in crawled training data. Same
    * df-capped inverted-index mining as the Jaccard pass (shared
    * [[minedPairSizes]]; one index build serves both scorers), only
    * the score and threshold differ. */
  def containmentPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.5,
                       dfCap: Int = HotShingleDfCap): DataFrame =
    // mines its own pair set per action (r18 — the r17 shared mined-
    // pair memo was result-level: it moved the named query's entire
    // compute into the untimed warmup; see [[ngramJaccard]])
    containmentOn(shingled(spark, dir), threshold, dfCap)

  private[graft] def containmentOn(sh: DataFrame, threshold: Double,
                                   dfCap: Int): DataFrame =
    scoreContainment(minedPairSizes(sh, dfCap), threshold)

  private def scoreContainment(mined: DataFrame, threshold: Double): DataFrame =
    mined
      .withColumn("containment",
        col("inter").cast(DoubleType) / least(col("na"), col("nb")).cast(DoubleType))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Train/test split-leakage audit: near-dup pairs whose members land
    * in DIFFERENT corpus splits — the eval-contamination mode exact
    * decontamination misses (the test doc is a near-duplicate, not an
    * exact n-gram match, of a training doc). Composes the verified
    * pair graph with the deterministic id-hash split; output is the
    * per-(split_a, split_b) pair count with the leak flag. Two
    * broadcast-shaped key joins over the memoized pair set — no new
    * corpus work. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val split = TextAnalysis.corpusSplitOn(Tables.documents(spark, dir))
      .select(col("doc_id"), col("split"))
    pairs
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("pair_ct"))
      .withColumn("is_leak", (col("split_a") =!= col("split_b")).cast("boolean"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Per-doc signature slots in long form — the stored shape of the
    * LSH index state ([[incrementalSignatures]] maintains it; the
    * banded bucket keys derive from these 32 slots per doc). */
  private def docSignatureSlots(sh: DataFrame): DataFrame =
    sh.filter(size(col("sh")) > 0)
      .select(col("doc_id"), GraftExpressions.minhashSig(col("sh"), NumHashes).as("sig"))
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("h_idx", "h_min")))
      .select(col("doc_id"), col("h_idx").cast(LongType).as("h_idx"), col("h_min"))

  /** Incremental MinHash-index maintenance over the crawl diff: the v2
    * per-doc signature table WITHOUT re-shingling the unchanged corpus
    * — the dedup-tier sibling of `search_incremental_postings`.
    * Content-hash diff → shingle+sign ONLY added/changed docs →
    * anti-join out removed/changed docs' stored rows → union. Work
    * scales with the delta; signatures are doc-local, so unlike the
    * postings case no cross-doc aggregate needs re-touching — the
    * splice alone IS the maintained index. The oracle re-derives every
    * v2 signature from scratch (HUGEINT permutation replay), so
    * hash-equality proves the carried rows are byte-for-byte the ones
    * a full rebuild would produce. */
  def incrementalSignatures(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
    val v2 = Curation.snapshotV2On(docs)
    val sig1 = Memo(spark, dir, "dedup.sig.v1")(docSignatureSlots(shingled(spark, dir)))
    // one shared crawl diff across every incremental-maintenance
    // consumer (r18) — the splice below stays this query's own compute
    val diff = Curation.snapshotDiffShared(spark, dir)
    val gone = diff.filter(col("status").isin("removed", "changed")).select(col("doc_id"))
    val fresh = diff.filter(col("status").isin("added", "changed")).select(col("doc_id"))
    val shNew = v2.join(fresh, Seq("doc_id"))
      .select(col("doc_id"), GraftExpressions.shingleHashes(toks(col("text")), 3).as("sh"))
    sig1.join(gone, Seq("doc_id"), "left_anti")
      .unionByName(docSignatureSlots(shNew))
      .orderBy(col("doc_id"), col("h_idx"))
  }

  /** Entity resolution (record linkage) across two sources: the
    * distinct part-name catalog vs a deterministically perturbed copy
    * (one deletion typo at a name-derived position, id + 10⁶) — the
    * PII-augmentation precedent applied to fuzzy KEY matching, so the
    * matcher is exercised with real positives AND the 63 distinct
    * non-matching names as negatives.
    *
    * Pipeline = the industry-standard blocking + scoring split:
    * character-trigram inverted index with a df-cap (names sharing
    * common words — "small …" — produce hot trigrams that would blow
    * the candidate set up quadratically at catalog scale; capped
    * trigrams are blacklisted exactly like the shingle df-cap in
    * [[nearDupCandidates]]), candidates = cross-source pairs sharing a
    * rare trigram, scored by full-set trigram Jaccard (exact integer
    * counts) and Levenshtein (the proven bit-equal pairing), matched
    * at edit-distance ≤ 2. Everything after blocking is
    * candidate-sized, never catalog². */
  def entityMatch(spark: SparkSession, dir: String,
                  dfCap: Int = 20, maxEdit: Int = 2): DataFrame = {
    val clean = Tables.part(spark, dir)
      .groupBy(col("p_name").as("name")).agg(min(col("p_partkey")).as("id"))
    val dirty = clean.select(
      (col("id") + lit(1000000L)).as("id"),
      expr("concat(substring(name, 1, CAST(id % length(name) AS INT)), " +
        "substring(name, CAST(id % length(name) AS INT) + 2, length(name)))").as("name"))
    val names = clean.select(col("id"), col("name")).unionByName(dirty)
    val tri = names.select(col("id"),
        explode(array_distinct(expr(
          "transform(sequence(1, length(name) - 2), i -> substring(name, i, 3))"))).as("tg"))
    val rare = tri.join(
      tri.groupBy(col("tg")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select(col("tg")), Seq("tg"))
    val cand = rare.select(col("tg"), col("id").as("id_a"))
      .join(rare.select(col("tg"), col("id").as("id_b")), Seq("tg"))
      .filter(col("id_a") < lit(1000000L) && col("id_b") >= lit(1000000L))
      .select(col("id_a"), col("id_b")).distinct()
    val sizes = tri.groupBy(col("id")).agg(count(lit(1)).as("n_tg"))
    val inter = cand
      .join(tri.select(col("id").as("id_a"), col("tg")), Seq("id_a"))
      .join(tri.select(col("id").as("id_b"), col("tg").as("tg_b")), Seq("id_b"))
      .filter(col("tg") === col("tg_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    cand
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.select(col("id").as("id_a"), col("n_tg").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_tg").as("nb")), Seq("id_b"))
      .join(names.select(col("id").as("id_a"), col("name").as("name_a")), Seq("id_a"))
      .join(names.select(col("id").as("id_b"), col("name").as("name_b")), Seq("id_b"))
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("trigram_jaccard",
        col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter")).cast(DoubleType))
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")).cast(LongType))
      .withColumn("is_match", (col("edit_dist") <= maxEdit).cast("int"))
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        col("inter"), col("trigram_jaccard"), col("edit_dist"), col("is_match"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Dedup planning dashboard: component-size histogram over the
    * transitive near-dup closure — how many groups of each size, how
    * many docs they hold, and how many an aggressive pass would drop
    * keeping one representative per group. Two keyed aggregations
    * over the memoized closure (component-count-sized, then
    * histogram-sized) — the report a curation run reads before
    * choosing a keep rule, at delta cost once the closure exists. */
  def dedupSummary(spark: SparkSession, dir: String): DataFrame =
    componentsShared(spark, dir)
      .groupBy(col("rep_doc_id")).agg(count(lit(1)).as("c_size"))
      .groupBy(col("c_size"))
      .agg(count(lit(1)).as("n_components"),
        sum(col("c_size")).as("n_docs"),
        (sum(col("c_size")) - count(lit(1))).as("n_removable"))
      .orderBy(col("c_size"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) => exact(s, d)),
    "dedup_summary" -> ((s, d) => dedupSummary(s, d)),
    "dedup_containment" -> ((s, d) => containmentPairs(s, d)),
    "dedup_incremental_sigs" -> ((s, d) => incrementalSignatures(s, d)),
    "dedup_entity_match" -> ((s, d) => entityMatch(s, d)),
    "dedup_split_leakage" -> ((s, d) => splitLeakage(s, d)),
    "dedup_components" -> ((s, d) => dedupComponents(s, d)),
    // alias: the name stays in the query surface, oracle map and decade artifacts
    "dedup_components_star" -> ((s, d) => dedupComponents(s, d)),
    "dedup_substring" -> ((s, d) => substringPairs(s, d)),
    "dedup_cross_source" -> ((s, d) => crossSourceDups(s, d)),
    "dedup_source_signatures" -> ((s, d) => sourceSignatures(s, d)),
    "dedup_source_jaccard" -> ((s, d) => sourceJaccard(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    "dedup_edit_distance" -> ((s, d) => editDistancePairs(s, d)),
    "dedup_minhash_lsh" -> ((s, d) => minhashLsh(s, d)),
    "dedup_triangles" -> ((s, d) => dedupTriangles(s, d)),
    "dedup_lsh_eval" -> ((s, d) => lshEval(s, d)),
    "dedup_ingest_lsh" -> ((s, d) => ingestLsh(s, d)),
    "dedup_simhash" -> ((s, d) => simhash(s, d)),
    "dedup_simhash_pairs" -> ((s, d) => simhashPairs(s, d)))

  /** Shared ngram pair CTE bodies: `pairs(doc_a, doc_b, inter)` +
    * `sizes(doc_id, n)` from the raw (uncapped) inverted index. */
  private val ngramPairCtes: String =
    """t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
      |    ELSE [toks[i] || '_' || toks[i+1] || '_' || toks[i+2] FOR i IN range(1, len(toks) - 1)] END) AS sh
      |  FROM t
      |), sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
      |inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |)""".stripMargin

  /** `jp(doc_a, doc_b)`: the pairs above the default verify threshold
    * (0.015) — one definition shared by every oracle that consumes the
    * verified pair graph, so a threshold change cannot silently
    * diverge them. */
  private val ngramJpCte: String =
    """jp AS (
      |  SELECT doc_a, doc_b FROM pairs
      |    JOIN sizes na ON pairs.doc_a = na.doc_id
      |    JOIN sizes nb ON pairs.doc_b = nb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.015
      |)""".stripMargin

  /** Per-source signature CTE bodies: `srcinv(source, x)` — the raw
    * shingle-hash stream per source — and `srcsig(source, h_idx,
    * h_min)` — the grouped 32-permutation minima, replaying
    * [[graft.functions.MinHashSetAgg]]'s wrapping arithmetic in
    * HUGEINT (the [[DuckSql.minhashCtes]] machinery, grouped by source
    * instead of doc). */
  private val sourceSigCtes: String =
    s"""srcdocs AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
      |srcsh AS (
      |  SELECT source, CASE WHEN len(tk) < 3 THEN CAST([] AS HUGEINT[]) ELSE
      |    list_transform(range(1, len(tk) - 1),
      |      i -> ${DuckSql.fnvU("array_to_string(list_slice(tk, CAST(i AS INT), CAST(i AS INT) + 2), '_')")}) END AS sh
      |  FROM srcdocs
      |), srcinv AS (SELECT source, unnest(sh) AS x FROM srcsh),
      |srcperm AS (
      |  SELECT source, i AS h_idx, ${DuckSql.permMod} AS pm FROM (
      |    SELECT source, i,
      |      (CAST(2*i+1 AS HUGEINT) * x + CAST('11400714819323198485' AS HUGEINT) + CAST(i AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT) AS v
      |    FROM srcinv, range(0, 32) t(i))
      |), srcsig AS (
      |  SELECT source, h_idx, CAST(MIN(pm) AS BIGINT) AS h_min FROM srcperm GROUP BY source, h_idx
      |)""".stripMargin

  /** Recursive min-label reachability over the verified pair graph:
    * the transitive-closure CTE chain ending in `comp(doc_id,
    * rep_doc_id)` — shared by the components oracles and the
    * quality-aware best-representative oracle (TextAnalysis). */
  private[operators] val componentsOracleCtes: String =
    s"""$ngramPairCtes,
      |$ngramJpCte,
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM jp UNION ALL SELECT doc_b, doc_a FROM jp),
      |reach AS (
      |  SELECT doc_id AS u, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
      |),
      |comp AS (SELECT u AS doc_id, MIN(r) AS rep_doc_id FROM reach GROUP BY u)""".stripMargin

  private val componentsOracleSql: String =
    s"""WITH RECURSIVE $componentsOracleCtes
      |SELECT doc_id, rep_doc_id FROM comp ORDER BY doc_id""".stripMargin

  /** The LSH pipeline's shared oracle prefix: shingle FNV hashes,
    * 32 Java-wrapping permutation minima, band grouping, the
    * BucketCap=32 giant-bucket star, and the exact shingle-set verify
    * at t=0.015 — ending in `verified(doc_a, doc_b)`. Consumed by the
    * rep-collapse oracle AND the triangle census. */
  private def lshVerifiedCtesSql: String = lshVerifiedCtesPfx("")

  /** Prefixed form for composition next to other shingle CTE chains
    * (the eval oracle joins this against the exact-truth CTEs, which
    * also define an `sh`). */
  private def lshVerifiedCtesPfx(p: String): String =
    s"""${DuckSql.minhashCtes("documents", p)},
       |${p}stats AS (
       |  SELECT doc_id, band_idx, b0, b1, b2, b3,
       |    MIN(doc_id) OVER w AS mn, COUNT(*) OVER w AS cnt
       |  FROM ${p}bands WINDOW w AS (PARTITION BY band_idx, b0, b1, b2, b3)
       |), ${p}cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM ${p}stats a JOIN ${p}stats b
       |      ON a.band_idx = b.band_idx AND a.b0 = b.b0 AND a.b1 = b.b1
       |      AND a.b2 = b.b2 AND a.b3 = b.b3 AND a.doc_id < b.doc_id
       |    WHERE a.cnt <= 32
       |    UNION ALL
       |    SELECT mn AS doc_a, doc_id AS doc_b FROM ${p}stats WHERE cnt > 32 AND doc_id <> mn
       |  )
       |), ${p}verified AS (
       |  SELECT doc_a, doc_b
       |  FROM ${p}cand
       |    JOIN ${p}sh sa ON ${p}cand.doc_a = sa.doc_id
       |    JOIN ${p}sh sb ON ${p}cand.doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |        CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) >= 0.015
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // degree-ordered orientation (deg, id), wedges from shared src with
    // ordered dst pair, equi-join closure — then per-node counts and
    // lcc = 2·tri/(deg·(deg−1)) in the engine's exact operation order
    // exact truth (uncapped pair CTEs, jaccard value) left-joined with
    // the prefixed LSH verified set; same band cuts and double division
    "dedup_lsh_eval" ->
      s"""WITH $ngramPairCtes,
         |${lshVerifiedCtesPfx("lv")},
         |evt AS (
         |  SELECT pairs.doc_a, pairs.doc_b,
         |    CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) AS j
         |  FROM pairs
         |    JOIN sizes na ON pairs.doc_a = na.doc_id
         |    JOIN sizes nb ON pairs.doc_b = nb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.015
         |), evb AS (
         |  SELECT t.doc_a, t.doc_b,
         |    CASE WHEN t.j >= 0.5 THEN '>=0.5'
         |         WHEN t.j >= 0.1 THEN '0.1-0.5' ELSE '0.015-0.1' END AS band,
         |    CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END AS found
         |  FROM evt t LEFT JOIN lvverified f
         |    ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b
         |)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS truth_ct,
         |  CAST(SUM(found) AS BIGINT) AS found_ct,
         |  CAST(CAST(SUM(found) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
         |FROM evb GROUP BY band ORDER BY band""".stripMargin,
    "dedup_triangles" ->
      s"""WITH $lshVerifiedCtesSql,
         |tedges AS (SELECT doc_a, doc_b FROM verified GROUP BY 1, 2),
         |tdeg AS (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT doc_a AS v FROM tedges UNION ALL SELECT doc_b FROM tedges
         |  ) GROUP BY v
         |), twd AS (
         |  SELECT e.doc_a, e.doc_b, x.deg AS da, y.deg AS db
         |  FROM tedges e JOIN tdeg x ON e.doc_a = x.v JOIN tdeg y ON e.doc_b = y.v
         |), tor AS (
         |  SELECT
         |    CASE WHEN da < db OR (da = db AND doc_a < doc_b) THEN doc_a ELSE doc_b END AS src,
         |    CASE WHEN da < db OR (da = db AND doc_a < doc_b) THEN doc_b ELSE doc_a END AS dst
         |  FROM twd
         |), tod AS (
         |  SELECT tor.src, tor.dst, d.deg AS dd FROM tor JOIN tdeg d ON tor.dst = d.v
         |), twedge AS (
         |  SELECT x.src AS ta, x.dst AS tb, y.dst AS tc
         |  FROM tod x JOIN tod y ON x.src = y.src
         |    AND (x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst))
         |), ttri AS (
         |  SELECT ta, tb, tc FROM twedge w JOIN tod z ON w.tb = z.src AND w.tc = z.dst
         |), tcnt AS (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_ct FROM (
         |    SELECT ta AS node FROM ttri UNION ALL SELECT tb FROM ttri
         |    UNION ALL SELECT tc FROM ttri
         |  ) GROUP BY node
         |)
         |SELECT d.v AS doc_id, d.deg, CAST(COALESCE(c.tri_ct, 0) AS BIGINT) AS tri_ct,
         |  CASE WHEN d.deg >= 2
         |    THEN CAST(COALESCE(c.tri_ct, 0) AS DOUBLE) * 2.0
         |         / (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0))
         |    ELSE 0.0 END AS lcc
         |FROM tdeg d LEFT JOIN tcnt c ON d.v = c.node
         |ORDER BY doc_id""".stripMargin,
    // augmentation + blocking + scoring mirrored end to end; levenshtein
    // is the proven bit-equal pairing
    "dedup_entity_match" ->
      """WITH clean AS (
        |  SELECT MIN(p_partkey) AS id, p_name AS name FROM part GROUP BY p_name
        |), dirty AS (
        |  SELECT id + 1000000 AS id,
        |    substring(name, 1, CAST(id % length(name) AS INT)) ||
        |    substring(name, CAST(id % length(name) AS INT) + 2) AS name
        |  FROM clean
        |), names AS (
        |  SELECT id, name FROM clean UNION ALL SELECT id, name FROM dirty
        |), tri AS (
        |  SELECT id, unnest(list_distinct(
        |    [substring(name, i, 3) FOR i IN range(1, length(name) - 1)])) AS tg
        |  FROM names
        |), rare AS (
        |  SELECT t.id, t.tg FROM tri t JOIN (
        |    SELECT tg FROM tri GROUP BY tg HAVING COUNT(*) <= 20
        |  ) d ON t.tg = d.tg
        |), cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM rare a JOIN rare b ON a.tg = b.tg
        |  WHERE a.id < 1000000 AND b.id >= 1000000
        |), sizes AS (
        |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tg FROM tri GROUP BY id
        |), ic AS (
        |  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM cand c
        |    JOIN tri ta ON c.id_a = ta.id
        |    JOIN tri tb ON c.id_b = tb.id AND ta.tg = tb.tg
        |  GROUP BY c.id_a, c.id_b
        |)
        |SELECT c.id_a, c.id_b, na.name AS name_a, nb.name AS name_b,
        |  COALESCE(i.inter, 0) AS inter,
        |  CAST(COALESCE(i.inter, 0) AS DOUBLE)
        |    / CAST(sa.n_tg + sb.n_tg - COALESCE(i.inter, 0) AS DOUBLE) AS trigram_jaccard,
        |  CAST(levenshtein(na.name, nb.name) AS BIGINT) AS edit_dist,
        |  CAST(CASE WHEN levenshtein(na.name, nb.name) <= 2 THEN 1 ELSE 0 END AS INTEGER) AS is_match
        |FROM cand c
        |LEFT JOIN ic i ON c.id_a = i.id_a AND c.id_b = i.id_b
        |JOIN sizes sa ON c.id_a = sa.id
        |JOIN sizes sb ON c.id_b = sb.id
        |JOIN names na ON c.id_a = na.id
        |JOIN names nb ON c.id_b = nb.id
        |ORDER BY c.id_a, c.id_b""".stripMargin,
    "dedup_source_signatures" ->
      s"""WITH $sourceSigCtes
        |SELECT source, h_idx, h_min FROM srcsig ORDER BY source, h_idx""".stripMargin,
    "dedup_source_jaccard" ->
      s"""WITH $sourceSigCtes,
        |est AS (
        |  SELECT a.source AS source_x, b.source AS source_y,
        |    CAST(SUM(CASE WHEN a.h_min = b.h_min THEN 1 ELSE 0 END) AS BIGINT) AS agree_ct
        |  FROM srcsig a JOIN srcsig b ON a.h_idx = b.h_idx AND a.source < b.source
        |  GROUP BY a.source, b.source
        |),
        |sdinv AS (SELECT DISTINCT source, x FROM srcinv),
        |ssizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sdinv GROUP BY source),
        |sinter AS (
        |  SELECT a.source AS source_x, b.source AS source_y,
        |    CAST(COUNT(*) AS BIGINT) AS inter_ct
        |  FROM sdinv a JOIN sdinv b ON a.x = b.x AND a.source < b.source
        |  GROUP BY a.source, b.source
        |)
        |SELECT est.source_x, est.source_y, agree_ct,
        |  COALESCE(inter_ct, CAST(0 AS BIGINT)) AS inter_ct, sa.n AS n_x, sb.n AS n_y
        |FROM est
        |  LEFT JOIN sinter ON est.source_x = sinter.source_x AND est.source_y = sinter.source_y
        |  JOIN ssizes sa ON est.source_x = sa.source
        |  JOIN ssizes sb ON est.source_y = sb.source
        |ORDER BY est.source_x, est.source_y""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS rep_doc_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY rep_doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $ngramPairCtes
        |SELECT doc_a, doc_b, inter,
        |  CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) AS jaccard
        |FROM pairs
        |  JOIN sizes na ON pairs.doc_a = na.doc_id
        |  JOIN sizes nb ON pairs.doc_b = nb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.015
        |ORDER BY doc_a, doc_b""".stripMargin,
    // full HUGEINT signature re-derivation over the SAME v2 synthesis
    // (Curation.diffCtes) — equality proves the incremental splice
    "dedup_incremental_sigs" ->
      s"""WITH ${Curation.diffCtes},
        |${DuckSql.minhashCtes("v2")}
        |SELECT doc_id, CAST(i AS BIGINT) AS h_idx, CAST(sig[i + 1] AS BIGINT) AS h_min
        |FROM sig, range(0, 32) t(i)
        |ORDER BY doc_id, h_idx""".stripMargin,
    "dedup_containment" ->
      s"""WITH $ngramPairCtes
        |SELECT doc_a, doc_b, inter,
        |  CAST(inter AS DOUBLE) / CAST(LEAST(na.n, nb.n) AS DOUBLE) AS containment
        |FROM pairs
        |  JOIN sizes na ON pairs.doc_a = na.doc_id
        |  JOIN sizes nb ON pairs.doc_b = nb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(LEAST(na.n, nb.n) AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the verified pair graph × the deterministic id-hash split rule
    // (identical mix/bucket arithmetic to the text_corpus_split oracle)
    "dedup_split_leakage" ->
      s"""WITH $ngramPairCtes,
        |$ngramJpCte,
        |sm AS (
        |  SELECT doc_id,
        |    xor(xor((doc_id & 2147483647) * 2654435761, (doc_id >> 31) * 40503), doc_id >> 7) AS mixed
        |  FROM documents
        |), sbk AS (
        |  SELECT doc_id, ((mixed % 100) + 100) % 100 AS bucket FROM sm
        |), sp AS (
        |  SELECT doc_id,
        |    CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |  FROM sbk
        |)
        |SELECT sa.split AS split_a, sb2.split AS split_b,
        |  CAST(COUNT(*) AS BIGINT) AS pair_ct, sa.split <> sb2.split AS is_leak
        |FROM jp
        |  JOIN sp sa ON jp.doc_a = sa.doc_id
        |  JOIN sp sb2 ON jp.doc_b = sb2.doc_id
        |GROUP BY 1, 2, 4 ORDER BY split_a, split_b""".stripMargin,
    // Exact Levenshtein over 128-char prefixes of the SAME thresholded
    // pair set — DuckDB's levenshtein is the identical standard DP, so
    // distances (and the single-division similarity) match bit-exactly.
    "dedup_edit_distance" ->
      s"""WITH $ngramPairCtes,
        |verified AS (
        |  SELECT doc_a, doc_b FROM pairs
        |    JOIN sizes na ON pairs.doc_a = na.doc_id
        |    JOIN sizes nb ON pairs.doc_b = nb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / CAST(na.n + nb.n - inter AS DOUBLE) >= 0.015
        |), pd AS (
        |  SELECT doc_id, substr(text, 1, 128) AS pfx FROM documents
        |)
        |SELECT v.doc_a, v.doc_b,
        |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist,
        |  CASE WHEN greatest(len(a.pfx), len(b.pfx)) > 0
        |    THEN 1.0 - CAST(levenshtein(a.pfx, b.pfx) AS DOUBLE)
        |      / CAST(greatest(len(a.pfx), len(b.pfx)) AS DOUBLE)
        |    ELSE 1.0 END AS prefix_sim
        |FROM verified v
        |  JOIN pd a ON v.doc_a = a.doc_id
        |  JOIN pd b ON v.doc_b = b.doc_id
        |ORDER BY v.doc_a, v.doc_b""".stripMargin,
    // Transitive closure of the same pair graph: a recursive min-label
    // reachability CTE — pure set semantics, so the fixpoint matches
    // the engine's label propagation exactly.
    // k-window strings replay ShingleHashes' distinct k=8 windows (the
    // engine hashes, the oracle compares strings — same distinct sets
    // modulo 64-bit collisions, the ngram-oracle precedent). Uncapped:
    // fixture window dfs top out at 4, far under HotShingleDfCap.
    "dedup_substring" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), w AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 8 THEN []
        |    ELSE [list_aggregate(toks[i:i+7], 'string_agg', '_') FOR i IN range(1, len(toks) - 6)] END) AS ws
        |  FROM t
        |), inv AS (SELECT doc_id, unnest(ws) AS w FROM w)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared_windows
        |FROM inv a JOIN inv b ON a.w = b.w AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_cross_source" ->
      s"""WITH $ngramPairCtes,
        |$ngramJpCte,
        |tagged AS (
        |  SELECT least(ma.source, mb.source) AS source_x,
        |    greatest(ma.source, mb.source) AS source_y, doc_a, doc_b
        |  FROM jp
        |    JOIN documents ma ON jp.doc_a = ma.doc_id
        |    JOIN documents mb ON jp.doc_b = mb.doc_id
        |),
        |pc AS (
        |  SELECT source_x, source_y, CAST(COUNT(*) AS BIGINT) AS pair_count
        |  FROM tagged GROUP BY source_x, source_y
        |),
        |dc AS (
        |  SELECT source_x, source_y, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_count
        |  FROM (SELECT source_x, source_y, doc_a AS doc_id FROM tagged
        |        UNION ALL SELECT source_x, source_y, doc_b FROM tagged)
        |  GROUP BY source_x, source_y
        |)
        |SELECT pc.source_x, pc.source_y, pair_count, doc_count
        |FROM pc JOIN dc USING (source_x, source_y)
        |ORDER BY source_x, source_y""".stripMargin,
    "dedup_components" -> componentsOracleSql,
    "dedup_summary" ->
      s"""WITH RECURSIVE $componentsOracleCtes,
        |csizes AS (SELECT rep_doc_id, CAST(COUNT(*) AS BIGINT) AS c_size FROM comp GROUP BY 1)
        |SELECT c_size, CAST(COUNT(*) AS BIGINT) AS n_components,
        |  CAST(SUM(c_size) AS BIGINT) AS n_docs,
        |  CAST(SUM(c_size) - COUNT(*) AS BIGINT) AS n_removable
        |FROM csizes GROUP BY 1 ORDER BY c_size""".stripMargin,
    "dedup_components_star" -> componentsOracleSql,
    // SimHash is FNV-over-tokens + bit votes — fully reproducible in
    // DuckDB (DuckSql.simhashCtes runs the same wrapping arithmetic in
    // HUGEINT). The pairs oracle is the EXACT Hamming<=3 pair set: the
    // 16-bit-chunk pigeonhole makes the engine's candidate filter
    // lossless for dist<=3, so engine output == exact pairs (also
    // asserted by LlmOpsSpec).
    "dedup_simhash" ->
      s"""WITH ${DuckSql.simhashCtes("documents")}
         |SELECT doc_id, simhash,
         |  CAST(su % 65536 AS BIGINT) AS chunk0,
         |  CAST((su >> 16) % 65536 AS BIGINT) AS chunk1,
         |  CAST((su >> 32) % 65536 AS BIGINT) AS chunk2,
         |  CAST((su >> 48) % 65536 AS BIGINT) AS chunk3
         |FROM simdocs ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH ${DuckSql.simhashCtes("documents")}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM simdocs a JOIN simdocs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // The FULL MinHash+LSH pipeline rebuilt in DuckDB: shingle FNV
    // hashes, 32 Java-wrapping permutation minima (HUGEINT mod-2^64),
    // band 4-tuple grouping (≡ the engine's xxhash64 bucket keys),
    // the BucketCap=32 giant-bucket star, exact shingle-set verify at
    // t=0.015, and the min-neighbor rep collapse over every document.
    "dedup_minhash_lsh" ->
      s"""WITH $lshVerifiedCtesSql,
         |reps AS (
         |  SELECT doc_id, MIN(other) AS m FROM (
         |    SELECT doc_b AS doc_id, doc_a AS other FROM verified
         |    UNION ALL
         |    SELECT doc_a AS doc_id, doc_b AS other FROM verified
         |  ) GROUP BY doc_id
         |)
         |SELECT d.doc_id, LEAST(d.doc_id, COALESCE(r.m, d.doc_id)) AS rep_doc_id
         |FROM documents d LEFT JOIN reps r ON d.doc_id = r.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // Ingest form: odd doc_ids (the stream) probe the even-doc banded
    // index (no cap on the probe path, matching ingestNearDups), every
    // collision exact-verified; per flagged doc the smallest corpus
    // duplicate and best jaccard.
    "dedup_ingest_lsh" ->
      s"""WITH ${DuckSql.minhashCtes("documents")},
         |cand AS (
         |  SELECT n.doc_id, c.doc_id AS corpus_doc
         |  FROM bands n JOIN bands c
         |    ON n.band_idx = c.band_idx AND n.b0 = c.b0 AND n.b1 = c.b1
         |    AND n.b2 = c.b2 AND n.b3 = c.b3
         |  WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
         |), scored AS (
         |  SELECT cand.doc_id, cand.corpus_doc,
         |    CAST(len(list_intersect(sn.sh, sc.sh)) AS DOUBLE) /
         |      CAST(len(sn.sh) + len(sc.sh) - len(list_intersect(sn.sh, sc.sh)) AS DOUBLE) AS jaccard
         |  FROM cand
         |    JOIN sh sn ON cand.doc_id = sn.doc_id
         |    JOIN sh sc ON cand.corpus_doc = sc.doc_id
         |)
         |SELECT doc_id, MIN(corpus_doc) AS dup_of, MAX(jaccard) AS best_jaccard
         |FROM scored WHERE jaccard >= 0.015
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  // the remaining hash-defined rows-only checks are the
  // embedding-geometry paths (hyperplane/centroid models); their
  // ground truth is the oracled brute-force baseline, and LlmOpsSpec
  // gates recall against it.
}
