package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftExpressions
import graft.sources.Tables

/** Corpus search operators: BM25 lexical retrieval over an inverted
  * index, sketch-guided heavy hitters (frequent collocations), and a
  * hybrid lexical→semantic rerank — the retrieval surface a curation
  * pipeline needs for "find training docs like X", boilerplate-phrase
  * mining, and contamination triage.
  *
  * Scale shapes:
  *  - BM25: postings are filtered to the query terms with a BROADCAST
  *    semi-shaped join BEFORE any shuffle, so no corpus-wide shuffle
  *    exists anywhere in the plan — the only aggregations run over
  *    matched postings (an inverted-index lookup, not an index build).
  *    Top-k per query is two-phase (per-salt partial top-k, then a
  *    final top-k over ≤ salt·k rows) so one popular query term never
  *    pins a corpus-sized partition under a rank window.
  *  - Heavy hitters: one pass builds a count-min sketch (partial
  *    aggregation: the shuffle carries one depth×width grid per
  *    partition, NOT one row per distinct element); a second pass
  *    probe-filters the stream against the broadcast-sized sketch
  *    (row-level, codegen'd, no shuffle) and exactly counts only the
  *    survivors. Because count-min never undercounts, the candidate
  *    set is a superset of the true heavy hitters and the final exact
  *    filter makes the output EXACT — sketch params affect only how
  *    much the recount shuffle carries, never the answer.
  *
  * Cross-engine determinism: BM25's idf needs a logarithm, but libm
  * `ln` differs between the JVM and C++ engines by 1 ulp on ~0.1% of
  * inputs (measured). Instead the scoring uses ln(x) ≈ 2²⁰·(x^(1/2²⁰)
  * − 1) via 20 iterated square roots: sqrt is IEEE-754
  * correctly-rounded in every engine, subtraction and scaling by a
  * power of two are exact, so the approximation (4·10⁻⁶ relative
  * error, verified against true ln) is BIT-IDENTICAL in Spark and
  * DuckDB. Per-term scores are then floor-quantized to 10⁻⁶ units and
  * summed as exact BIGINTs, eliminating float-summation-order hazards
  * in the per-document total.
  */
object Search {

  /** Workload GEOMETRY: which document-frequency ranks compose each
    * retrieval query — a literal constant like `k` or [[CmsWidth]].
    * The TERMS are data: ranked out of the corpus's own term-df frame
    * (`ORDER BY dfv DESC, term`), so the workload travels with the
    * dataset and the DuckDB oracle rebuilds the identical queries from
    * the same parquet (r9 ask #2 / r10 task #3 — no query literals).
    * q4 maps two slots to the same rank on purpose: whatever term the
    * corpus puts there arrives repeated, pinning the
    * dedupe-before-scoring contract in every gate. */
  private[graft] val WorkloadSlots: Seq[(String, Int, Int)] = Seq(
    ("q1", 0, 4), ("q1", 1, 6), ("q1", 2, 8),
    ("q2", 0, 5), ("q2", 1, 9), ("q2", 2, 12),
    ("q3", 0, 7), ("q3", 1, 10), ("q3", 2, 11),
    ("q4", 0, 13), ("q4", 1, 13), ("q4", 2, 14))

  /** BM25 constants (Lucene defaults), written as the same literals in
    * engine and oracle so constant parsing is identical. */
  private val LnIters = 20
  private val LnScale = 1048576.0 // 2^20
  private val ScoreScale = 1000000.0

  /** Deterministic ln: 20 iterated sqrts, then exact re-scale. Shared
    * (with [[duckDetLn]]) by every cross-engine log-scoring path: BM25
    * idf, TF-IDF, PMI, and the weighted-sampling priority keys. */
  private[operators] def detLn(x: Column): Column =
    ((1 to LnIters).foldLeft(x)((c, _) => sqrt(c)) - lit(1.0)) * lit(LnScale)

  private[operators] def duckDetLn(e: String): String = {
    val nested = (1 to LnIters).foldLeft(e)((s, _) => s"sqrt($s)")
    s"(($nested - 1.0) * 1048576.0)"
  }

  // ---------------------------------------------------------------
  // BM25 retrieval
  // ---------------------------------------------------------------

  /** Query-independent BM25 index frames — what a serving tier
    * materializes ONCE per corpus build: per-(term, doc) term
    * frequency with document length, per-term document frequency, and
    * the one-row corpus stats. Each is a plain partial-aggregated
    * groupBy; at 100 TB this is the index-build job, output sized by
    * postings/vocabulary. */
  private[graft] def bm25Index(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // Curation.tokensCol is THE corpus tokenization rule; the array
    // form (not the positioned frame) keeps dl a per-row size() so the
    // whole build stays ONE aggregation — streaming-compatible
    val dd = docs
      .select(col("doc_id"), Curation.tokensCol.as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast(LongType).as("dl"))
    val stats = dd.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val tf = dd
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val tdf = tf.groupBy(col("term")).agg(count(lit(1)).as("dfv"))
    (tf, tdf, stats)
  }

  /** BM25 scoring of a frame of `(qid, qtext)` queries against the
    * static index frames — the SERVING shape: the query terms, each
    * with its df, broadcast into the postings lookup, the corpus stats
    * attach as one row, and ONE aggregation sums the exact
    * fixed-point per-term scores per (query, doc). `qdf` may be a
    * STREAMING frame (queries arriving online): every join is then
    * stream-static and the final groupBy is the single stateful
    * operator — proven at-rest ≡ batch in SearchSpec. */
  private[graft] def bm25ServeOn(qdf: DataFrame, tf: DataFrame,
                                 tdf: DataFrame, stats: DataFrame): DataFrame = {
    // array_distinct BEFORE the explode: a repeated query term must
    // score once (the oracle's grouped tf would otherwise fold the
    // duplicate into a doubled tf inside the non-linear saturation
    // while the join-side summed twice — different numbers). Per-row,
    // stateless, so a STREAMING qdf stays single-stateful-operator.
    val qterms = qdf.select(col("qid"),
      explode(array_distinct(split(col("qtext"), " "))).as("qterm"))
    // the df lookup joins the query terms first, so the
    // vocabulary-proportional tdf is only scanned, never shuffled or
    // broadcast whole; a stream-static inner join, so one plan serves
    // a batch or a streaming qdf
    val qdfv = qterms.join(tdf.select(col("term").as("qterm"), col("dfv")), Seq("qterm"))
    // hint: query terms × their df is workload-sized by construction, but a join's size estimate is the product of its inputs
    val j = tf.join(broadcast(qdfv), col("qterm") === col("term"))
      .crossJoin(stats)
    // expression order mirrors the oracle SQL token for token — every
    // op is IEEE correctly-rounded, so bits agree cross-engine
    val nd = col("n_docs").cast(DoubleType)
    val dfd = col("dfv").cast(DoubleType)
    val tfd = col("tf").cast(DoubleType)
    val dld = col("dl").cast(DoubleType)
    val avgdl = col("tot_dl").cast(DoubleType) / nd
    val idf = detLn(lit(1.0) + (nd - dfd + lit(0.5)) / (dfd + lit(0.5)))
    val tfn = (tfd * lit(2.2)) / (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (dld / avgdl)))
    j.withColumn("fp", floor(idf * tfn * lit(ScoreScale)).cast(LongType))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("fp")).as("score_fp"), count(lit(1)).as("matched_terms"))
  }

  /** Per-(query, doc) BM25 scores in exact fixed-point: the index
    * build and the serving join composed in one batch plan. The
    * per-term df the oracle computes per (qid, term) equals the
    * query-independent per-term df — a term's document frequency does
    * not depend on which query asked. */
  private[graft] def bm25ScoredOn(docs: DataFrame,
                                  queries: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (tf, tdf, stats) = bm25Index(docs)
    bm25ServeOn(queries.toDF("qid", "qtext"), tf, tdf, stats)
  }

  /** The memoized index frames every search query shares — built once
    * per (session, dir), like the reference's shared DWD topics. */
  private[graft] def indexFrames(spark: SparkSession, dir: String)
  : (DataFrame, DataFrame, DataFrame) = {
    def docs = Tables.spread(spark, Tables.documents(spark, dir))
    val tf = Memo(spark, dir, "search.bm25.tf")(bm25Index(docs)._1)
    val tdf = Memo(spark, dir, "search.bm25.tdf")(
      tf.groupBy(col("term")).agg(count(lit(1)).as("dfv")))
    val stats = Memo(spark, dir, "search.bm25.stats")(bm25Index(docs)._3)
    (tf, tdf, stats)
  }

  /** The (qid, qtext) retrieval workload derived from the corpus:
    * terms at the fixed df-ranks of [[WorkloadSlots]], concatenated in
    * slot order. The rank window is global but runs over the
    * vocabulary-sized term-df frame — never corpus-sized — and the
    * 12-row slot mapping broadcasts, so the whole derivation is one
    * vocabulary shuffle at any scale. */
  private[graft] def searchWorkloadOn(tdf: DataFrame): DataFrame = {
    val spark = tdf.sparkSession
    import spark.implicits._
    // orderBy().limit(k) plans as TakeOrderedAndProject — a distributed
    // top-k, never a single-partition sort of the whole vocabulary; the
    // rank window then runs over ≤ maxRank rows (bounded by the slot
    // geometry, not the corpus)
    val maxRank = WorkloadSlots.map(_._3).max
    tdf.orderBy(col("dfv").desc, col("term")).limit(maxRank)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("dfv").desc, col("term"))))
      .join(WorkloadSlots.toDF("qid", "slot", "rnk"), Seq("rnk"))
      .groupBy(col("qid"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("slot"), col("term")))),
        x => x.getField("term"))).as("qtext"))
  }

  def searchWorkload(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "search_workload_q")(
      searchWorkloadOn(indexFrames(spark, dir)._2))

  /** Phrase workload, also corpus-derived: p1/p2 are the two most
    * frequent bigrams (`ORDER BY ct DESC, bigram`); p3 repeats the
    * most frequent equal-token bigram's token — a repeated phrase slot
    * with corpus-guaranteed occurrences, so the repeated-term join
    * path is exercised on real data every round (overlap counting
    * itself is pinned by SearchSpec's explicit fixture). */
  private[graft] def phraseWorkloadOn(bigramCts: DataFrame): DataFrame = {
    // same discipline as searchWorkloadOn: distributed top-k via
    // orderBy().limit() (the bigram domain is vocab²-sized at corpus
    // scale — never a single-partition window), then rank the ≤2-row
    // survivors
    val top = bigramCts
      .orderBy(col("bigram_ct").desc, col("bigram")).limit(2)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("bigram_ct").desc, col("bigram"))))
      .select(concat(lit("p"), col("rnk")).as("pid"), col("bigram").as("ptext"))
    val eq = bigramCts
      .withColumn("w", split(col("bigram"), " ").getItem(0))
      .filter(col("w") === split(col("bigram"), " ").getItem(1))
      .orderBy(col("bigram_ct").desc, col("bigram")).limit(1)
      .select(lit("p3").as("pid"), concat_ws(" ", col("w"), col("w")).as("ptext"))
    top.unionByName(eq)
  }

  private[graft] def bigramCounts(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "search_bigram_ct")(
      bigramMemo(spark, dir).groupBy(col("bigram"))
        .agg(count(lit(1)).as("bigram_ct")))

  def phraseWorkload(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "search_workload_p")(
      phraseWorkloadOn(bigramCounts(spark, dir)))

  /** The workload itself as a hash-verified table: if the engine's
    * derivation ever drifts from the oracle's, THIS query fails in
    * isolation, pinpointing the drift before any retrieval diff. */
  def workloadTable(spark: SparkSession, dir: String): DataFrame =
    searchWorkload(spark, dir)
      .select(lit("q").as("kind"), col("qid"), col("qtext"))
      .unionByName(phraseWorkload(spark, dir)
        .select(lit("p").as("kind"), col("pid").as("qid"), col("ptext").as("qtext")))
      .orderBy(col("kind"), col("qid"))

  /** Driver-side view of the workloads for spec recomputations (rows
    * are query-count-sized — 4 and 3). */
  private[graft] def searchWorkloadSeq(spark: SparkSession, dir: String): Seq[(String, String)] =
    searchWorkload(spark, dir).collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
  private[graft] def phraseWorkloadSeq(spark: SparkSession, dir: String): Seq[(String, String)] =
    phraseWorkload(spark, dir).collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** Docs-per-salt-class for the two-phase top-k. */
  private val SaltBuckets = 32

  /** Exact two-phase per-query top-k: phase 1 ranks inside (qid, salt)
    * classes — every global top-k member is in its class's top-k, so
    * phase 2's final rank window only ever sees ≤ SaltBuckets·k rows
    * per query instead of every matching document. */
  private[graft] def topKTwoPhase(scored: DataFrame, k: Int): DataFrame =
    scored
      // hash the id before salting: structured id allocation (fixed
      // low bits from sharded generators) would otherwise collapse a
      // query's rows into one salt class and undo the two-phase bound
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(SaltBuckets)))
      .withColumn("lrk", row_number().over(
        Window.partitionBy(col("qid"), col("salt"))
          .orderBy(col("score_fp").desc, col("doc_id"))))
      .filter(col("lrk") <= k)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score_fp").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("doc_id"),
        col("score_fp"), col("matched_terms"))

  private def bm25Memo(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "search_bm25_scored") {
      val (tf, tdf, stats) = indexFrames(spark, dir)
      bm25ServeOn(searchWorkload(spark, dir), tf, tdf, stats)
    }

  def bm25TopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    topKTwoPhase(bm25Memo(spark, dir), k).orderBy(col("qid"), col("rk"))

  // ---------------------------------------------------------------
  // Hybrid retrieval: BM25 candidates → embedding cosine rerank
  // ---------------------------------------------------------------

  /** Candidate pool width for the rerank stage. */
  private val HybridCandidates = 20

  /** Lexical-then-semantic retrieval: take the BM25 top
    * [[HybridCandidates]] per query, use the top-1 document's
    * embedding as the pseudo-relevance anchor, and re-rank the pool by
    * exact quantized cosine to the anchor ([[Similarity.quantizedOn]]:
    * integer dot products, deterministic doubles only at the final
    * division). The embedding table is probed with a BROADCAST of the
    * (queries·candidates)-row pool — embeddings never shuffle. */
  def hybridRerank(spark: SparkSession, dir: String): DataFrame = {
    // memoized: a measured leaf of queries × candidates rows, so it
    // broadcasts into the embeddings by size
    val cand = Memo(spark, dir, "search_bm25_cand")(
      topKTwoPhase(bm25Memo(spark, dir), HybridCandidates))
    // zero-norm vectors cannot cosine (x/0 is NULL in Spark, NaN in
    // DuckDB — they would even ORDER differently); excluded in both
    // engine and oracle
    val qv = Similarity.quantizedOn(Tables.spread(spark, Tables.embeddings(spark, dir)))
      .filter(col("nrm") > 0)
    val pool = qv.join(
        cand.select(col("qid"), col("doc_id"), col("score_fp"), col("rk").as("cand_rk")),
        col("vec_id") === col("doc_id"))
    // the anchor is the pool's own rank-1 row: a window over the qid
    // partitioning the rank window below reuses, so the vectors are
    // read once and a query whose anchor has no vector drops out
    val byQid = Window.partitionBy(col("qid"))
    def anchor(c: String) = max(when(col("cand_rk") === 1, col(c))).over(byQid)
    pool.select(col("qid"), col("doc_id"), col("score_fp"),
        col("q").as("qb"), col("nrm").as("nb"), anchor("q").as("qa"), anchor("nrm").as("na"))
      .filter(col("qa").isNotNull)
      .withColumn("dot", GraftExpressions.dotLong(col("qa"), col("qb")))
      .withColumn("sim", col("dot").cast(DoubleType) /
        (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("doc_id"))))
      .select(col("qid"), col("rk"), col("doc_id"), col("score_fp"), col("sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** "Did you mean": spell-correction candidates for misspelled query
    * terms — every vocabulary word within Levenshtein ≤ 2 of the
    * probe term, ranked by (corpus frequency DESC, word) — the search
    * box's recovery path when a term has zero postings. Probes are
    * deterministic derivations of real vocabulary words (one deletion
    * + one substitution — the same typo model as
    * [[Dedup.entityMatch]]), so correction quality is measurable: the
    * source word must rank first.
    *
    * Scale shape: candidates are length-banded (|len(w) − len(probe)|
    * ≤ 2 — a necessary condition for edit distance ≤ 2) BEFORE any
    * distance runs, so the DP cost is (probes × band), never
    * (probes × vocabulary); band keys broadcast. */
  def didYouMean(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val vocab = Curation.vocabShared(spark, dir)
      .select(col("token").as("word"), col("token_ct").as("word_ct"))
    // probes: the 5 most frequent words, each misspelled two ways —
    // drop the 2nd char; replace the 1st char with 'q'
    val seeds = vocab.orderBy(col("word_ct").desc, col("word")).limit(5)
      .select(col("word").as("seed"))
    val probes = seeds
      .select(col("seed"), expr("concat(substring(seed, 1, 1), substring(seed, 3, length(seed)))").as("probe"))
      .unionByName(seeds
        .select(col("seed"), expr("concat('q', substring(seed, 2, length(seed)))").as("probe")))
    probes
      .join(vocab, abs(length(col("word")) - length(col("probe"))) <= 2)
      .withColumn("dist", levenshtein(col("probe"), col("word")).cast(LongType))
      .filter(col("dist") <= 2)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("seed"), col("probe"))
          .orderBy(col("word_ct").desc, col("word"))))
      .filter(col("rk") <= k)
      .select(col("seed"), col("probe"), col("rk").cast(LongType).as("rk"),
        col("word").as("suggestion"), col("word_ct"), col("dist"))
      .orderBy(col("seed"), col("probe"), col("rk"))
  }

  /** MMR result-list size. */
  private val MmrK = 5

  /** MMR-diversified retrieval: greedy maximal-marginal-relevance
    * selection of [[MmrK]] results from the BM25 candidate pool —
    * step score = 0.7·rel − 0.3·max_sim_to_already_selected, where
    * rel is the query-normalized BM25 score and doc-doc similarity is
    * the exact quantized cosine between candidate embeddings. The
    * dedup knob of a retrieval stack: plain top-k returns five
    * near-copies of the same hit; MMR trades relevance for coverage.
    *
    * Scale shape: everything after the BM25 stage is bounded by the
    * POOL, not the corpus — the pairwise-similarity frame is
    * pool²-per-query rows ([[HybridCandidates]]² = 400) built by a
    * broadcast key join (embeddings never shuffle), and each greedy
    * step is a window over ≤pool rows per query. The greedy loop is
    * [[MmrK]] chained stages of one tiny join + one window each —
    * depth is a constant, never data-dependent.
    *
    * Determinism: rel and sim are exact single-division doubles
    * (integer fixed-point / integer dots), the penalty is MAX (order-
    * free), and the step score is two literal products and one
    * subtract in fixed order — no accumulation anywhere, so the
    * DuckDB oracle (the same five steps unrolled) hash-matches. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val cand = Memo(spark, dir, "search_bm25_cand")(
      topKTwoPhase(bm25Memo(spark, dir), HybridCandidates))
    val qv = Similarity.quantizedOn(Tables.spread(spark, Tables.embeddings(spark, dir)))
      .filter(col("nrm") > 0)
    val pool = qv.join(cand.select(col("qid"), col("doc_id"), col("score_fp")),
        col("vec_id") === col("doc_id"))
      .select(col("qid"), col("doc_id"), col("score_fp"), col("q"), col("nrm"))
    // rel/sims are loop invariants read by every greedy stage, and
    // each stage's plan embeds all previous stages — unmaterialized,
    // the upstream (BM25 scoring + embedding probe + pool² cosines)
    // re-executes per stage reference, compounding to ~2^K full
    // recomputations (measured 55 s at sf0.1; 0.6 s materialized).
    // Both frames are pool-bounded (≤queries·pool and ≤queries·pool²
    // rows at ANY corpus size), so the checkpoint cost is constant.
    val rel = Memo.checkpointCounted(pool
      .withColumn("rel", col("score_fp").cast(DoubleType) /
        max(col("score_fp")).over(Window.partitionBy(col("qid"))).cast(DoubleType))
      .select(col("qid"), col("doc_id"), col("rel")))._1
    val sims = Memo.checkpointCounted(pool
      .select(col("qid"), col("doc_id").as("da"), col("q").as("qa"), col("nrm").as("na"))
      .join(pool.select(col("qid"), col("doc_id").as("db"), col("q").as("qb"),
        col("nrm").as("nb")), Seq("qid"))
      .filter(col("da") =!= col("db"))
      .select(col("qid"), col("da"), col("db"),
        (GraftExpressions.dotLong(col("qa"), col("qb")).cast(DoubleType) /
          (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType)))).as("sim")))._1
    // step 1: pure relevance argmax (empty selected set ⇒ zero penalty)
    var selected = Memo.checkpointCounted(rel
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("qid"), col("doc_id"), lit(1).as("step"),
        (lit(0.7) * col("rel")).as("mmr")))._1
    for (i <- 2 to MmrK) {
      val pen = sims
        .join(selected.select(col("qid").as("sqid"), col("doc_id").as("sel_id")),
          col("qid") === col("sqid") && col("db") === col("sel_id"))
        .groupBy(col("qid"), col("da")).agg(max(col("sim")).as("pen"))
      val pick = rel
        .join(selected.select(col("qid"), col("doc_id")), Seq("qid", "doc_id"), "left_anti")
        .join(pen.select(col("qid"), col("da").as("doc_id"), col("pen")), Seq("qid", "doc_id"))
        .withColumn("mmr", (lit(0.7) * col("rel")) - (lit(0.3) * col("pen")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("mmr").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("doc_id"), lit(i).as("step"), col("mmr"))
      // truncate per stage: selected_i's plan otherwise nests every
      // previous stage's windows and joins
      selected = Memo.checkpointCounted(selected.unionByName(pick))._1
    }
    selected
      .select(col("qid"), col("step").cast(LongType).as("step"),
        col("doc_id"), col("mmr"))
      .orderBy(col("qid"), col("step"))
  }

  /** PMI collocation mining: pointwise mutual information of adjacent
    * token pairs — ln(P(ab) / (P(a)·P(b))) — the classic "these two
    * tokens travel together" signal behind phrase induction, query
    * expansion, and tokenizer-merge candidates (the statistical cousin
    * of [[Curation.bpeMerges]]' raw-count rule). min-support 5, top 50
    * by (pmi DESC, bigram).
    *
    * Scale shape: two memoized frames (the shared vocabulary and the
    * bigram counts), both map-side-combined aggregations sized by
    * vocabulary / vocabulary²-observed; the scoring join is
    * vocabulary-keyed; the top-k is `orderBy().limit()` =
    * TakeOrderedAndProject, never a global rank window. Determinism:
    * the probability ratio is one fixed-order product/quotient of exact
    * counts, and the ln is the shared iterated-sqrt [[detLn]] —
    * bit-identical in DuckDB. */
  def pmiPairs(spark: SparkSession, dir: String,
               minCount: Long = 5, k: Int = 50): DataFrame = {
    val bg = bigramCounts(spark, dir)
    val toks = Curation.vocabShared(spark, dir)
    val nTok = toks.agg(sum(col("token_ct")).as("n_tok"))
    val nBg = bg.agg(sum(col("bigram_ct")).as("n_bg"))
    bg.filter(col("bigram_ct") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(toks.select(col("token").as("w1"), col("token_ct").as("a_ct")), Seq("w1"))
      .join(toks.select(col("token").as("w2"), col("token_ct").as("b_ct")), Seq("w2"))
      .crossJoin(nTok).crossJoin(nBg)
      .withColumn("ratio",
        (col("bigram_ct").cast(DoubleType) * col("n_tok").cast(DoubleType) *
          col("n_tok").cast(DoubleType)) /
          (col("n_bg").cast(DoubleType) * col("a_ct").cast(DoubleType) *
            col("b_ct").cast(DoubleType)))
      .withColumn("pmi", detLn(col("ratio")))
      .orderBy(col("pmi").desc, col("bigram")).limit(k)
      .select(col("bigram"), col("bigram_ct"), col("a_ct"), col("b_ct"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
  }

  // ---------------------------------------------------------------
  // Inverted-index materialization (the index itself as a table)
  // ---------------------------------------------------------------

  /** The per-term index statistics a serving tier would materialize:
    * document frequency, collection frequency, and the top-scoring
    * posting (highest tf, lowest doc_id tiebreak). One shuffle on the
    * term key builds it from the (token, doc, tf) frame — the
    * `row_number` ranks within one term's postings only, so no
    * corpus-wide window exists. At 100 TB this is the index-build job:
    * partial-aggregated term counts, output sized by vocabulary, not
    * corpus. */
  /** Per-term postings rows from a `(token, doc_id, tf)` frame — the
    * index-build aggregation, factored out so the full build and the
    * incremental maintenance path compute the SAME projection. The
    * `row_number` ranks within one term's postings only. */
  private[graft] def postingsOn(tf: DataFrame): DataFrame =
    tf.withColumn("rn", row_number().over(
        Window.partitionBy(col("token"))
          .orderBy(col("tf").desc, col("doc_id"))))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        max(when(col("rn") === 1, col("doc_id"))).as("top_doc_id"),
        max(when(col("rn") === 1, col("tf"))).as("top_tf"))

  def postings(spark: SparkSession, dir: String): DataFrame =
    postingsOn(indexFrames(spark, dir)._1
      .select(col("term").as("token"), col("doc_id"), col("tf")))
      .orderBy(col("token"))

  /** Incremental index maintenance over a crawl diff: the v2 postings
    * table computed WITHOUT re-tokenizing the unchanged corpus — the
    * operation that keeps a 100 TB search index alive between crawls
    * when re-building from scratch is a day-long job.
    *
    * Plan: (1) diff v1/v2 by content hash (one doc_id shuffle —
    * `Curation.snapshotDiffOn`); (2) tokenize ONLY added/changed docs
    * (delta-sized scan); (3) splice the stored v1 tf frame: anti-join
    * out removed/changed docs' rows, union the fresh rows; (4)
    * re-aggregate postings ONLY for terms appearing in any delta row
    * (the only terms whose df/cf/top can move), and carry the stored
    * v1 postings rows for every untouched term verbatim. Work scales
    * with the delta and the touched vocabulary, never the corpus.
    * The oracle is a FULL rebuild over v2 — equality proves the
    * carry/recompute split is exact. */
  def incrementalPostings(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
    val v2 = Curation.snapshotV2On(docs)
    // "stored" v1 index state: the memoized tf frame + its postings
    val tf1 = indexFrames(spark, dir)._1
      .select(col("term").as("token"), col("doc_id"), col("tf"))
    val postings1 = Memo(spark, dir, "search.postings.v1")(postingsOn(tf1))
    // the shared crawl diff (r18): one materialized diff per
    // (session, dir) feeds every incremental-maintenance consumer, so
    // the gone/fresh/touched branches below read a tiny checkpoint
    // instead of re-running the v1⟗v2 full-outer subtree per reference
    val diff = Curation.snapshotDiffShared(spark, dir)
    // gone/fresh are delta-doc-id lists and touched is the delta
    // vocabulary: the diff memo reports its stored size, so they
    // broadcast by size into the index frames they join
    val gone = diff.filter(col("status").isin("removed", "changed")).select(col("doc_id"))
    val fresh = diff.filter(col("status").isin("added", "changed")).select(col("doc_id"))
    val tfNew = v2.join(fresh, Seq("doc_id"))
      .select(col("doc_id"), explode(Curation.tokensCol).as("token"))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val tf2 = tf1.join(gone, Seq("doc_id"), "left_anti").unionByName(tfNew)
    val touched = tf1.join(gone, Seq("doc_id")).select(col("token"))
      .unionByName(tfNew.select(col("token"))).distinct()
    val recomputed = postingsOn(tf2.join(touched, Seq("token")))
    val carried = postings1.join(touched, Seq("token"), "left_anti")
    recomputed.unionByName(carried).orderBy(col("token"))
  }

  // ---------------------------------------------------------------
  // Exact phrase search (positional inverted index)
  // ---------------------------------------------------------------

  /** Exact phrase occurrences via the positional-index join: a token
    * at position `pos` matching phrase slot `idx` votes for a match
    * starting at `pos − idx`; a start position with all `plen` slots
    * voting is an occurrence. Overlapping occurrences count — the
    * standard positional-index contract.
    *
    * Scale shape: the broadcast join against the phrase terms prunes
    * the postings BEFORE any shuffle (same discipline as BM25), so the
    * vote aggregation only ever groups matched postings — cost scales
    * with the phrase terms' document frequency, not the corpus. No
    * substring scan: the oracle recomputes the same semantics from
    * positions independently in DuckDB. */
  private[graft] def phraseOccurrencesOn(docs: DataFrame,
                                         phrases: Seq[(String, String)]): DataFrame =
    phraseOccurrencesOnTokens(Curation.tokensOf(docs), phrases)

  private[graft] def phraseOccurrencesOnTokens(tok: DataFrame,
                                               phrases: Seq[(String, String)]): DataFrame = {
    val spark = tok.sparkSession
    import spark.implicits._
    phraseOccurrencesOnTokensDF(tok, phrases.toDF("pid", "ptext"))
  }

  /** Phrase matching against a FRAME of phrases — the data-driven
    * workload path: the (tiny) phrase side explodes to (pid, idx,
    * term) slots and broadcasts; lengths come from the frame itself so
    * a streaming or derived phrase set needs no driver round trip. */
  private[graft] def phraseOccurrencesOnTokensDF(tok: DataFrame,
                                                 pdf: DataFrame): DataFrame = {
    val pterms = pdf
      .select(col("pid"), posexplode(split(col("ptext"), " ")).as(Seq("idx", "term")))
    val plens = pdf
      .select(col("pid"), size(split(col("ptext"), " ")).cast(LongType).as("plen"))
    tok.join(pterms, col("token") === col("term"))
      .select(col("pid"), col("doc_id"), (col("pos") - col("idx")).as("start"))
      .groupBy(col("pid"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("hits"))
      .join(plens, Seq("pid"))
      .filter(col("hits") === col("plen"))
      .groupBy(col("pid"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("start")).cast(LongType).as("first_pos"))
      .orderBy(col("pid"), col("doc_id"))
  }

  def phraseSearch(spark: SparkSession, dir: String): DataFrame =
    // reads the memoized positioned-token frame the LM paths share —
    // one tokenize pass per (session, dir) across curation AND search
    phraseOccurrencesOnTokensDF(Curation.tokensShared(spark, dir),
      phraseWorkload(spark, dir))

  // ---------------------------------------------------------------
  // Sketch-guided heavy hitters (frequent collocations)
  // ---------------------------------------------------------------

  /** Count-min geometry: 4 rows × 4096 slots = 128 KiB of counters —
    * partial-agg buffer and probe reference object alike. Width is
    * sized to the collocation domain (vocab²); at URL/n-gram
    * cardinalities widen the grid, which changes only collision rates
    * (pruning efficiency), never the exact output. */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 4096

  /** Heavy-hitter threshold: an element is heavy when its exact count
    * reaches ceil(total/PhiInv) — the standard φ-heavy-hitter contract
    * with φ = 1/PhiInv, distribution-independent. */
  private[operators] val PhiInv = 800.0

  /** Adjacent-token bigrams (collocations), one row per occurrence. */
  private[graft] def bigramsOn(docs: DataFrame): DataFrame =
    docs.select(Curation.tokensCol.as("toks"))
      .select(explode(expr(
        """zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
          |         slice(toks, 2, greatest(size(toks) - 1, 0)),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("bigram"))

  private def bigramMemo(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "search_bigrams")(
      bigramsOn(Tables.spread(spark, Tables.documents(spark, dir))))

  /** EXACT φ-heavy-hitter collocations via the two-pass sketch plan:
    * pass 1 aggregates the count-min grid + the stream total (one
    * model-sized collect, like the k-means centroids); pass 2
    * probe-filters every occurrence row against the broadcast sketch
    * and exactly counts only candidates. The final `count ≥ threshold`
    * filter removes count-min false positives, so the result equals
    * the plain exact groupBy — which is exactly what the DuckDB oracle
    * computes. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val bg = bigramMemo(spark, dir)
    val (sketch, total) = Memo.value(spark, dir, "search_cms") {
      val r = bg.agg(
        GraftExpressions.cmsSketchAgg(xxhash64(col("bigram")), CmsDepth, CmsWidth).as("sk"),
        count(lit(1)).as("total")).head()
      (r.getSeq[Long](0).toArray, r.getLong(1))
    }
    // same double division + ceil in the oracle: CAST(ceil(total / 800.0) AS BIGINT)
    val threshold = math.ceil(total / PhiInv).toLong
    bg.filter(GraftExpressions.cmsEstimateLong(
        xxhash64(col("bigram")), sketch, CmsDepth, CmsWidth) >= lit(threshold))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("bigram_ct"))
      .filter(col("bigram_ct") >= lit(threshold))
      .select(col("bigram"), col("bigram_ct"), lit(threshold).as("threshold"))
      .orderBy(col("bigram_ct").desc, col("bigram"))
  }

  /** Top-3 TF-IDF keywords per document — per-document feature
    * extraction over the SAME memoized index frames the retrieval
    * tier shares (one tf build, broadcast vocabulary df, 1-row corpus
    * stats). idf = detLn(n_docs/df) floor-quantized to 10⁻⁶ units
    * (exact BIGINT, bit-identical cross-engine per the iterated-sqrt
    * construction above); score = tf · idf_fp, which stays < 2⁵³ so
    * the aggregate's double comparison is exact integer order.
    *
    * The per-doc top-3 runs through the bounded
    * [[graft.functions.TopKAgg]] — no per-doc rank window: a window
    * form would shuffle-sort the ENTIRE postings frame (corpus-sized)
    * to discard all but 3 rows per doc, while the aggregate's shuffle
    * carries ≤3 (score, term) pairs per doc with map-side combine.
    */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    val (tf, tdf, stats) = indexFrames(spark, dir)
    val scored = tf
      // both sides are data-proportional here (corpus postings ⋈ full
      // vocabulary): the df frame broadcasts while it fits and the
      // join degrades to a shuffle on term when not
      .join(tdf.select(col("term").as("dterm"), col("dfv")), col("term") === col("dterm"))
      .crossJoin(stats.select(col("n_docs")))
      .withColumn("idf_fp", floor(
        detLn(col("n_docs").cast(DoubleType) / col("dfv").cast(DoubleType))
          * lit(ScoreScale)).cast(LongType))
      .withColumn("s_fp", col("tf") * col("idf_fp"))
    scored.groupBy(col("doc_id"))
      .agg(GraftExpressions.topkAgg(
        col("s_fp").cast(DoubleType), col("term"), 3).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).as("rk"),
        col("col.tag").as("term"),
        col("col.score").cast(LongType).as("score_fp"))
      .orderBy(col("doc_id"), col("rk"))
  }

  // ---------------------------------------------------------------
  // Driver contract
  // ---------------------------------------------------------------

  // ---------------------------------------------------------------
  // Snippet extraction (result presentation)
  // ---------------------------------------------------------------

  /** Snippet window width in token positions. */
  private[graft] val SnippetWindow = 8

  /** Best-snippet extraction for the BM25 result page: for each
    * (query, top-5 document), the [[SnippetWindow]]-token window
    * covering the most DISTINCT query terms, ties to the earliest
    * start, plus the window's reconstructed text. Candidate starts are
    * only the matched positions themselves (shifting a window right
    * until its left edge touches a match never drops a term, so some
    * matched-start window is always optimal).
    *
    * Scale shape: postings prune against the broadcast query terms
    * FIRST, then against the broadcast k·|queries| result page — the
    * window self-join and the text reconstruction both run on frames
    * bounded by the result page times per-doc match counts, never the
    * corpus. The token scan is the shared memoized frame every other
    * positional operator reads. */
  def snippets(spark: SparkSession, dir: String, k: Int = 5,
               window: Int = SnippetWindow): DataFrame = {
    val top = topKTwoPhase(bm25Memo(spark, dir), k).select(col("qid"), col("doc_id"))
    val qterms = searchWorkload(spark, dir)
      .select(col("qid"), explode(array_distinct(split(col("qtext"), " "))).as("term"))
    val tok = Curation.tokensShared(spark, dir)
    val matches = tok.join(qterms, col("token") === col("term"))
      .join(top, Seq("qid", "doc_id"))
      .select(col("qid"), col("doc_id"), col("pos"), col("term"))
    val starts = matches.select(col("qid"), col("doc_id"), col("pos").as("start"))
    val best = starts.join(matches, Seq("qid", "doc_id"))
      .filter(col("pos") >= col("start") && col("pos") < col("start") + window)
      .groupBy(col("qid"), col("doc_id"), col("start"))
      .agg(countDistinct(col("term")).as("matched_ct"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"), col("doc_id"))
          .orderBy(col("matched_ct").desc, col("start"))))
      .filter(col("rn") === 1)
      .select(col("qid"), col("doc_id"), col("start"), col("matched_ct"))
    best.join(tok, Seq("doc_id"))
      .filter(col("pos") >= col("start") && col("pos") < col("start") + window)
      .groupBy(col("qid"), col("doc_id"), col("start"), col("matched_ct"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, token))), s -> s.token), ' ')")
        .as("snippet"))
      .select(col("qid"), col("doc_id"), col("start").cast(LongType).as("snip_start"),
        col("matched_ct"), col("snippet"))
      .orderBy(col("qid"), col("doc_id"))
  }

  /** Related-query mining from result-set overlap — the zero-log
    * bootstrap of "searches related to X": two queries relate when
    * their top-`k` result pages share documents (the co-click graph's
    * content-based stand-in). Every query pair gets a row (zero
    * overlaps included — an all-zero report is a ranking-drift alarm,
    * not an empty table).
    *
    * Scale shape: the result page is k·|queries| rows; the overlap
    * self-join and the pair frame are workload-sized, never
    * corpus-sized. */
  def relatedQueries(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val top = topKTwoPhase(bm25Memo(spark, dir), k).select(col("qid"), col("doc_id"))
    val sz = top.groupBy(col("qid")).agg(count(lit(1)).as("n"))
    val inter = top.select(col("qid").as("qid_a"), col("doc_id"))
      .join(top.select(col("qid").as("qid_b"), col("doc_id")), Seq("doc_id"))
      .filter(col("qid_a") < col("qid_b"))
      .groupBy(col("qid_a"), col("qid_b")).agg(count(lit(1)).as("overlap_ct"))
    // hint: a non-equi join has no shuffle form, only a broadcast or a CartesianProduct
    broadcast(sz.select(col("qid").as("qid_a"), col("n").as("n_a")))
      .join(sz.select(col("qid").as("qid_b"), col("n").as("n_b")),
        col("qid_a") < col("qid_b"))
      .join(inter, Seq("qid_a", "qid_b"), "left")
      .withColumn("overlap_ct", coalesce(col("overlap_ct"), lit(0L)))
      .select(col("qid_a"), col("qid_b"), col("overlap_ct"), col("n_a"), col("n_b"),
        (col("overlap_ct").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("overlap_ct")).cast(DoubleType)).as("jaccard"))
      .orderBy(col("qid_a"), col("qid_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "search_related_queries" -> ((s, d) => relatedQueries(s, d)),
    "search_snippets" -> ((s, d) => snippets(s, d)),
    "search_workload" -> ((s, d) => workloadTable(s, d)),
    "search_bm25_topk" -> ((s, d) => bm25TopK(s, d)),
    "search_hybrid_rerank" -> ((s, d) => hybridRerank(s, d)),
    "search_mmr" -> ((s, d) => mmrRerank(s, d)),
    "search_pmi_pairs" -> ((s, d) => pmiPairs(s, d)),
    "search_did_you_mean" -> ((s, d) => didYouMean(s, d)),
    "search_phrase" -> ((s, d) => phraseSearch(s, d)),
    "search_postings" -> ((s, d) => postings(s, d)),
    "search_tfidf_keywords" -> ((s, d) => tfidfKeywords(s, d)),
    "search_incremental_postings" -> ((s, d) => incrementalPostings(s, d)),
    "search_heavy_hitters" -> ((s, d) => heavyHitters(s, d)))

  // ---------------------------------------------------------------
  // DuckDB oracles
  // ---------------------------------------------------------------

  /** CTEs rebuilding the data-driven query workload from the same
    * parquet the engine reads: tokenize, per-term document frequency,
    * rank by (dfv DESC, term), join the literal slot geometry, and
    * string_agg in slot order — ending in `q(qid, qtext)`. Mirrors
    * [[searchWorkloadOn]] decision for decision. */
  private def workloadCtes: String = {
    val slotValues = WorkloadSlots
      .map { case (q, s, r) => s"('$q', $s, $r)" }.mkString(", ")
    s"""dd AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks,
       |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
       |  FROM documents
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_dl FROM dd
       |), tok AS (
       |  SELECT doc_id, dl, unnest(toks) AS token FROM dd
       |), vdf AS (
       |  SELECT token AS term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfv FROM tok GROUP BY 1
       |), vrank AS (
       |  SELECT term, row_number() OVER (ORDER BY dfv DESC, term) AS rnk FROM vdf
       |), wls(wqid, wslot, wrnk) AS (VALUES $slotValues),
       |q AS (
       |  SELECT wqid AS qid, string_agg(term, ' ' ORDER BY wslot, term) AS qtext
       |  FROM vrank JOIN wls ON vrank.rnk = wls.wrnk GROUP BY 1
       |)""".stripMargin
  }

  /** CTEs rebuilding the phrase workload — ending in `p(pid, ptext)`.
    * Mirrors [[phraseWorkloadOn]]: top-2 bigrams by (ct DESC, bigram),
    * plus the top equal-token bigram's token repeated as p3. */
  private def phraseWorkloadCtes: String =
    """pdd AS (SELECT string_split(lower(text), ' ') AS ts FROM documents),
      |pbg AS (
      |  SELECT ts[i] || ' ' || ts[i + 1] AS bigram, ts[i] AS w1, ts[i + 1] AS w2
      |  FROM pdd, unnest(range(1, len(ts))) AS u(i)
      |), pbc AS (
      |  SELECT bigram, MIN(w1) AS w1, MIN(w2) AS w2, CAST(COUNT(*) AS BIGINT) AS ct
      |  FROM pbg GROUP BY 1
      |), ptop AS (
      |  SELECT bigram, row_number() OVER (ORDER BY ct DESC, bigram) AS rnk FROM pbc
      |), peq AS (
      |  SELECT w1 AS w, row_number() OVER (ORDER BY ct DESC, bigram) AS rnk
      |  FROM pbc WHERE w1 = w2
      |), p(pid, ptext) AS (
      |  SELECT 'p' || CAST(rnk AS VARCHAR), bigram FROM ptop WHERE rnk <= 2
      |  UNION ALL
      |  SELECT 'p3', w || ' ' || w FROM peq WHERE rnk = 1
      |)""".stripMargin

  /** The BM25 CTE chain, ending in ranked rows `r(qid, rk, doc_id,
    * score_fp, matched_terms)` — shared by the top-k and hybrid
    * oracles. Scoring expressions mirror the engine token for token
    * (same literals, same association), with the iterated-sqrt ln. */
  private def bm25Ctes: String = {
    val idf = duckDetLn(
      "(1.0 + (CAST(n_docs AS DOUBLE) - CAST(dfv AS DOUBLE) + 0.5) / (CAST(dfv AS DOUBLE) + 0.5))")
    s"""$workloadCtes,
       |qt AS (SELECT qid, unnest(list_distinct(string_split(qtext, ' '))) AS term FROM q),
       |tfm AS (
       |  SELECT qt.qid, qt.term, tok.doc_id, tok.dl, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM tok JOIN qt ON tok.token = qt.term
       |  GROUP BY 1, 2, 3, 4
       |), dfr AS (
       |  SELECT qid, term, CAST(COUNT(*) AS BIGINT) AS dfv FROM tfm GROUP BY 1, 2
       |), sc AS (
       |  SELECT tfm.qid, tfm.doc_id,
       |    CAST(floor($idf
       |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)
       |          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
       |              / (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
       |      * 1000000.0) AS BIGINT) AS fp
       |  FROM tfm JOIN dfr ON tfm.qid = dfr.qid AND tfm.term = dfr.term, stats
       |), g AS (
       |  SELECT qid, doc_id, CAST(SUM(fp) AS BIGINT) AS score_fp,
       |    CAST(COUNT(*) AS BIGINT) AS matched_terms
       |  FROM sc GROUP BY 1, 2
       |), r AS (
       |  SELECT qid, doc_id, score_fp, matched_terms,
       |    row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS rk
       |  FROM g
       |)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "search_related_queries" ->
      s"""WITH $bm25Ctes,
         |rt AS (SELECT qid, doc_id FROM r WHERE rk <= 10),
         |rsz AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n FROM rt GROUP BY qid),
         |rint AS (
         |  SELECT a.qid AS qid_a, b.qid AS qid_b, CAST(COUNT(*) AS BIGINT) AS overlap_ct
         |  FROM rt a JOIN rt b ON a.doc_id = b.doc_id AND a.qid < b.qid
         |  GROUP BY 1, 2
         |)
         |SELECT x.qid_a, x.qid_b,
         |  CAST(COALESCE(i.overlap_ct, 0) AS BIGINT) AS overlap_ct, x.n_a, x.n_b,
         |  CAST(COALESCE(i.overlap_ct, 0) AS DOUBLE)
         |    / CAST(x.n_a + x.n_b - COALESCE(i.overlap_ct, 0) AS DOUBLE) AS jaccard
         |FROM (SELECT a.qid AS qid_a, a.n AS n_a, b.qid AS qid_b, b.n AS n_b
         |      FROM rsz a JOIN rsz b ON a.qid < b.qid) x
         |LEFT JOIN rint i ON x.qid_a = i.qid_a AND x.qid_b = i.qid_b
         |ORDER BY x.qid_a, x.qid_b""".stripMargin,
    "search_snippets" ->
      s"""WITH $bm25Ctes,
         |stok AS (
         |  SELECT doc_id, i - 1 AS pos, ts[i] AS token
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
         |       unnest(range(1, len(ts) + 1)) AS u(i)
         |), stop AS (
         |  SELECT qid, doc_id FROM r WHERE rk <= 5
         |), sm AS (
         |  SELECT qt.qid, stok.doc_id, stok.pos, qt.term
         |  FROM stok JOIN qt ON stok.token = qt.term
         |  JOIN stop t ON t.qid = qt.qid AND t.doc_id = stok.doc_id
         |), sw AS (
         |  SELECT s.qid, s.doc_id, s.start,
         |    CAST(COUNT(DISTINCT m.term) AS BIGINT) AS matched_ct
         |  FROM (SELECT qid, doc_id, pos AS start FROM sm) s
         |  JOIN sm m ON s.qid = m.qid AND s.doc_id = m.doc_id
         |    AND m.pos >= s.start AND m.pos < s.start + $SnippetWindow
         |  GROUP BY 1, 2, 3
         |), sb AS (
         |  SELECT qid, doc_id, start, matched_ct,
         |    row_number() OVER (PARTITION BY qid, doc_id
         |      ORDER BY matched_ct DESC, start) AS rn
         |  FROM sw
         |)
         |SELECT sb.qid, sb.doc_id, CAST(sb.start AS BIGINT) AS snip_start,
         |  sb.matched_ct,
         |  array_to_string(list(stok.token ORDER BY stok.pos), ' ') AS snippet
         |FROM sb JOIN stok ON stok.doc_id = sb.doc_id
         |  AND stok.pos >= sb.start AND stok.pos < sb.start + $SnippetWindow
         |WHERE sb.rn = 1
         |GROUP BY sb.qid, sb.doc_id, sb.start, sb.matched_ct
         |ORDER BY sb.qid, sb.doc_id""".stripMargin,
    "search_bm25_topk" ->
      s"""WITH $bm25Ctes
         |SELECT qid, CAST(rk AS INTEGER) AS rk, doc_id, score_fp, matched_terms
         |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin,
    "search_hybrid_rerank" ->
      (s"WITH $bm25Ctes,\n" + Similarity.quantCteOn("embeddings") +
        s""",
           |anc AS (
           |  SELECT r.qid, qn.q AS qa, qn.nrm AS na
           |  FROM r JOIN qn ON r.doc_id = qn.vec_id WHERE r.rk = 1 AND qn.nrm > 0
           |), pool AS (
           |  SELECT r.qid, r.doc_id, r.score_fp, qn.q AS qb, qn.nrm AS nb
           |  FROM r JOIN qn ON r.doc_id = qn.vec_id WHERE r.rk <= $HybridCandidates AND qn.nrm > 0
           |), sc2 AS (
           |  SELECT pool.qid, pool.doc_id, pool.score_fp,
           |    CAST(CAST(list_sum([anc.qa[i] * pool.qb[i] FOR i IN range(1, len(anc.qa) + 1)]) AS BIGINT) AS DOUBLE)
           |      / (sqrt(CAST(anc.na AS DOUBLE)) * sqrt(CAST(pool.nb AS DOUBLE))) AS sim
           |  FROM pool JOIN anc ON pool.qid = anc.qid
           |)
           |SELECT qid,
           |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, doc_id) AS INTEGER) AS rk,
           |  doc_id, score_fp, sim
           |FROM sc2 ORDER BY qid, rk""".stripMargin),
    // The five greedy MMR steps unrolled: identical literals, same
    // window tiebreaks, penalty as MAX (order-free) — hash-exact.
    "search_mmr" -> {
      val steps = (2 to MmrK).map { i =>
        s"""m$i AS (
           |  SELECT r.qid, r.doc_id,
           |    (CAST(0.7 AS DOUBLE) * r.rel) - (CAST(0.3 AS DOUBLE) * p.pen) AS mmr
           |  FROM mrel r
           |  JOIN (
           |    SELECT s.qid, s.da, MAX(s.sim) AS pen
           |    FROM msims s JOIN sel${i - 1} t ON s.qid = t.qid AND s.db = t.doc_id
           |    GROUP BY s.qid, s.da
           |  ) p ON r.qid = p.qid AND r.doc_id = p.da
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM sel${i - 1} t2 WHERE t2.qid = r.qid AND t2.doc_id = r.doc_id)
           |),
           |s$i AS (
           |  SELECT qid, doc_id, $i AS step, mmr FROM (
           |    SELECT qid, doc_id, mmr,
           |      row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, doc_id) AS rn
           |    FROM m$i
           |  ) WHERE rn = 1
           |),
           |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
      }.mkString(",\n")
      s"WITH $bm25Ctes,\n" + Similarity.quantCteOn("embeddings") +
        s""",
           |mpool AS (
           |  SELECT r.qid, r.doc_id, r.score_fp, qn.q, qn.nrm
           |  FROM r JOIN qn ON r.doc_id = qn.vec_id
           |  WHERE r.rk <= $HybridCandidates AND qn.nrm > 0
           |),
           |mrel AS (
           |  SELECT qid, doc_id,
           |    CAST(score_fp AS DOUBLE) / CAST(MAX(score_fp) OVER (PARTITION BY qid) AS DOUBLE) AS rel
           |  FROM mpool
           |),
           |msims AS (
           |  SELECT a.qid, a.doc_id AS da, b.doc_id AS db,
           |    CAST(CAST(list_sum([a.q[i] * b.q[i] FOR i IN range(1, len(a.q) + 1)]) AS BIGINT) AS DOUBLE)
           |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS sim
           |  FROM mpool a JOIN mpool b ON a.qid = b.qid AND a.doc_id <> b.doc_id
           |),
           |sel1 AS (
           |  SELECT qid, doc_id, 1 AS step, CAST(0.7 AS DOUBLE) * rel AS mmr FROM (
           |    SELECT qid, doc_id, rel,
           |      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS rn
           |    FROM mrel
           |  ) WHERE rn = 1
           |),
           |$steps
           |SELECT qid, CAST(step AS BIGINT) AS step, doc_id, mmr
           |FROM sel$MmrK ORDER BY qid, step""".stripMargin
    },
    // same typo derivations, same length band, same levenshtein
    "search_did_you_mean" ->
      """WITH vocab AS (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS word_ct FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
        |  ) GROUP BY 1
        |), seeds AS (
        |  SELECT word AS seed FROM vocab ORDER BY word_ct DESC, word LIMIT 5
        |), probes AS (
        |  SELECT seed, substring(seed, 1, 1) || substring(seed, 3) AS probe FROM seeds
        |  UNION ALL
        |  SELECT seed, 'q' || substring(seed, 2) AS probe FROM seeds
        |), scored AS (
        |  SELECT p.seed, p.probe, v.word, v.word_ct,
        |    CAST(levenshtein(p.probe, v.word) AS BIGINT) AS dist
        |  FROM probes p JOIN vocab v ON abs(length(v.word) - length(p.probe)) <= 2
        |  WHERE levenshtein(p.probe, v.word) <= 2
        |), ranked AS (
        |  SELECT seed, probe, word, word_ct, dist,
        |    row_number() OVER (PARTITION BY seed, probe
        |      ORDER BY word_ct DESC, word) AS rk
        |  FROM scored
        |)
        |SELECT seed, probe, CAST(rk AS BIGINT) AS rk, word AS suggestion,
        |  word_ct, dist
        |FROM ranked WHERE rk <= 3
        |ORDER BY seed, probe, rk""".stripMargin,
    // unigram + bigram probability ratio in one fixed-order expression,
    // iterated-sqrt ln, top-50 with bigram tiebreak
    "search_pmi_pairs" -> {
      val ratio = "(CAST(b.bigram_ct AS DOUBLE) * CAST(nt.n_tok AS DOUBLE) * CAST(nt.n_tok AS DOUBLE)) " +
        "/ (CAST(nb.n_bg AS DOUBLE) * CAST(a.token_ct AS DOUBLE) * CAST(c.token_ct AS DOUBLE))"
      s"""WITH bt AS (SELECT string_split(lower(text), ' ') AS ts FROM documents),
         |bgx AS (
         |  SELECT ts[i] || ' ' || ts[i + 1] AS bigram
         |  FROM bt, unnest(range(1, len(ts))) AS u(i)
         |), bgc AS (
         |  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS bigram_ct FROM bgx GROUP BY 1
         |), ugc AS (
         |  SELECT unnest(ts) AS token FROM bt
         |), ugcc AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS token_ct FROM ugc GROUP BY 1
         |), nt AS (SELECT CAST(SUM(token_ct) AS BIGINT) AS n_tok FROM ugcc),
         |nb AS (SELECT CAST(SUM(bigram_ct) AS BIGINT) AS n_bg FROM bgc),
         |j AS (
         |  SELECT b.bigram, b.bigram_ct, a.token_ct AS a_ct, c.token_ct AS b_ct,
         |    ${duckDetLn(s"($ratio)")} AS pmi
         |  FROM bgc b
         |  JOIN ugcc a ON string_split(b.bigram, ' ')[1] = a.token
         |  JOIN ugcc c ON string_split(b.bigram, ' ')[2] = c.token
         |  CROSS JOIN nt CROSS JOIN nb
         |  WHERE b.bigram_ct >= 5
         |)
         |SELECT bigram, bigram_ct, a_ct, b_ct, pmi
         |FROM j ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin
    },
    "search_workload" ->
      s"""WITH $workloadCtes,
         |$phraseWorkloadCtes
         |SELECT * FROM (
         |  SELECT 'q' AS kind, qid, qtext FROM q
         |  UNION ALL
         |  SELECT 'p' AS kind, pid AS qid, ptext AS qtext FROM p
         |) ORDER BY kind, qid""".stripMargin,
    "search_phrase" -> {
      s"""WITH $phraseWorkloadCtes,
         |pt AS (
         |  SELECT pid, i - 1 AS idx, ts[i] AS term
         |  FROM (SELECT pid, string_split(ptext, ' ') AS ts FROM p),
         |       unnest(range(1, len(ts) + 1)) AS u(i)
         |), pl AS (
         |  SELECT pid, CAST(len(string_split(ptext, ' ')) AS BIGINT) AS plen FROM p
         |), tok AS (
         |  SELECT doc_id, i - 1 AS pos, ts[i] AS token
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
         |       unnest(range(1, len(ts) + 1)) AS u(i)
         |), votes AS (
         |  SELECT pt.pid, tok.doc_id, tok.pos - pt.idx AS start
         |  FROM tok JOIN pt ON tok.token = pt.term
         |), occ AS (
         |  SELECT v.pid, v.doc_id, v.start
         |  FROM votes v GROUP BY 1, 2, 3
         |  HAVING CAST(COUNT(*) AS BIGINT) = (SELECT plen FROM pl WHERE pl.pid = v.pid)
         |)
         |SELECT pid, doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         |  CAST(MIN(start) AS BIGINT) AS first_pos
         |FROM occ GROUP BY 1, 2 ORDER BY pid, doc_id""".stripMargin
    },
    "search_postings" ->
      """WITH tf AS (
        |  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rn FROM tf
        |)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
        |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS top_doc_id,
        |  MAX(CASE WHEN rn = 1 THEN tf END) AS top_tf
        |FROM r GROUP BY 1 ORDER BY token""".stripMargin,
    // full rebuild over the SAME v2 synthesis rules (Curation.diffCtes)
    // — equality proves the incremental carry/recompute split is exact
    "search_incremental_postings" ->
      s"""WITH ${Curation.diffCtes},
         |tf AS (
         |  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM v2)
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rn FROM tf
         |)
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
         |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS top_doc_id,
         |  MAX(CASE WHEN rn = 1 THEN tf END) AS top_tf
         |FROM r GROUP BY 1 ORDER BY token""".stripMargin,
    "search_tfidf_keywords" -> {
      val idf = duckDetLn("(CAST(n_docs AS DOUBLE) / CAST(dfv AS DOUBLE))")
      s"""WITH tf AS (
         |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
         |  GROUP BY 1, 2
         |), vdf AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS dfv FROM tf GROUP BY 1
         |), stats AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
         |), scored AS (
         |  SELECT doc_id, tf.term,
         |    tf * CAST(floor($idf * 1000000.0) AS BIGINT) AS score_fp
         |  FROM tf JOIN vdf ON tf.term = vdf.term, stats
         |)
         |SELECT doc_id, rk, term, score_fp FROM (
         |  SELECT doc_id, term, score_fp,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score_fp DESC, term) AS rk
         |  FROM scored
         |) WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin
    },
    "search_heavy_hitters" ->
      """WITH dd AS (
        |  SELECT string_split(lower(text), ' ') AS ts FROM documents
        |), bg AS (
        |  SELECT ts[i] || ' ' || ts[i + 1] AS bigram
        |  FROM dd, unnest(range(1, len(ts))) AS u(i)
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS total FROM bg
        |), c AS (
        |  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS bigram_ct FROM bg GROUP BY 1
        |)
        |SELECT bigram, bigram_ct,
        |  CAST(ceil(CAST(total AS DOUBLE) / 800.0) AS BIGINT) AS threshold
        |FROM c, tot
        |WHERE bigram_ct >= CAST(ceil(CAST(total AS DOUBLE) / 800.0) AS BIGINT)
        |ORDER BY bigram_ct DESC, bigram""".stripMargin)
}
