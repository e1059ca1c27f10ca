package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.functions.GraftExpressions

/** Text-analysis operators over the `documents` table: language ID,
  * quality scoring, token counting, fingerprinting. All scalar
  * per-document passes — embarrassingly parallel, codegen-friendly,
  * scan-bound at any scale.
  */
object TextAnalysis {

  private val stopEn = Seq("the", "and", "of", "to", "a", "in", "is", "it")
  private val stopEs = Seq("el", "la", "de", "que", "los", "en", "un")
  private val stopDe = Seq("der", "die", "und", "das", "ein", "ist")
  private val stopFr = Seq("le", "les", "et", "une", "est", "des")

  private def inList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")
  private def cntExpr(ws: Seq[String]): String =
    s"size(filter(toks, x -> x IN (${inList(ws)})))"
  private def duckCnt(ws: Seq[String]): String =
    s"len(list_filter(toks, x -> x IN (${inList(ws)})))"

  /** Quality scoring: token stats + stopword ratio + a deterministic
    * composite score (the shape of a Gopher/C4-style quality filter).
    *
    * Memoized per (session, dir): tokenize-and-score is the dominant
    * cost of every consumer, and four named queries build on this frame
    * (`text_stats`, `text_quality_filter`, `text_quality_deciles`,
    * `text_source_quality`) — one materialized pass serves them all,
    * and `Memo.invalidate` frees it. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "text.stats")(
      textStatsOn(Tables.spread(spark, Tables.documents(spark, dir)))
        .orderBy(col("doc_id")))

  /** The tokenize-and-score pass over an arbitrary documents frame —
    * stateless row-local work (split + array aggregates inside
    * codegen), so the SAME transform scores a batch corpus or a
    * readStream of incoming documents (stream ≡ batch proven in
    * LlmOpsSpec); streams cannot sort, so the presentation orderBy
    * lives in the batch wrapper. */
  private[graft] def textStatsOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        split(col("text"), " ").as("toks"), length(col("text")).cast(LongType).as("char_ct"))
      .withColumn("token_ct", size(col("toks")).cast(LongType))
      .withColumn("uniq_token_ct", size(array_distinct(col("toks"))).cast(LongType))
      .withColumn("stopword_ct", expr(cntExpr(stopEn)).cast(LongType))
      .withColumn("stopword_ratio",
        col("stopword_ct").cast(DoubleType) / col("token_ct").cast(DoubleType))
      .withColumn("ttr",
        col("uniq_token_ct").cast(DoubleType) / col("token_ct").cast(DoubleType))
      .withColumn("avg_token_len",
        (col("char_ct") - col("token_ct") + 1).cast(DoubleType) / col("token_ct").cast(DoubleType))
      .withColumn("quality_score",
        least(col("token_ct").cast(DoubleType) / 100.0, lit(1.0)) * 0.4 +
          col("stopword_ratio") * 0.3 + col("ttr") * 0.3)
      .drop("toks")

  /** Language ID: stopword-hit n-gram heuristic, argmax with a fixed
    * priority order (en > es > de > fr > other). */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdOn(Tables.spread(spark, Tables.documents(spark, dir)))
      .orderBy(col("doc_id"))

  /** The stopword-argmax pass over an arbitrary documents frame —
    * row-local, so the incremental curation run scores only its diff
    * slice through the same rules. */
  private[graft] def langIdOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), split(lower(col("text")), " ").as("toks"))
      .withColumn("en_ct", expr(cntExpr(stopEn)).cast(LongType))
      .withColumn("es_ct", expr(cntExpr(stopEs)).cast(LongType))
      .withColumn("de_ct", expr(cntExpr(stopDe)).cast(LongType))
      .withColumn("fr_ct", expr(cntExpr(stopFr)).cast(LongType))
      .withColumn("pred_lang",
        when(col("en_ct") >= col("es_ct") && col("en_ct") >= col("de_ct") &&
          col("en_ct") >= col("fr_ct") && col("en_ct") > 0, "en")
          .when(col("es_ct") >= col("de_ct") && col("es_ct") >= col("fr_ct") && col("es_ct") > 0, "es")
          .when(col("de_ct") >= col("fr_ct") && col("de_ct") > 0, "de")
          .when(col("fr_ct") > 0, "fr")
          .otherwise("und"))
      .drop("toks")

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (letter runs / digit runs / single non-alnum). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("ws_token_ct"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)")).cast(LongType).as("bpeish_token_ct"),
        length(col("text")).cast(LongType).as("char_ct"))
      .withColumn("chars_per_token",
        col("char_ct").cast(DoubleType) / col("bpeish_token_ct").cast(DoubleType))
      .orderBy(col("doc_id"))

  /** RAG chunking parameters: 200-char windows advancing 150 chars, so
    * consecutive chunks overlap by 50 chars (retrieval context keeps
    * sentence fragments that straddle a boundary). */
  private val ChunkSize = 200
  private val ChunkStride = 150

  /** RAG chunking: split every document into fixed-size overlapping
    * character windows, with a token-boundary-snapped variant (the
    * trailing partial token is trimmed unless the window ends at the
    * document end) and a per-chunk whitespace token count.
    *
    * Scale design: pure row-local work — `sequence` + `explode` +
    * `substring` all inside whole-stage codegen, zero shuffles before
    * the presentation sort. Chunking a 100 TB corpus is exactly a
    * scan: output rows ≈ chars/stride per doc, produced at whatever
    * parallelism the scan has. This is the fan-out stage in front of
    * an embedding/indexing pipeline, so keeping it shuffle-free means
    * the expensive downstream work (embed, index) starts without a
    * corpus-sized exchange. */
  def chunkRag(spark: SparkSession, dir: String): DataFrame =
    chunkRagOn(Tables.spread(spark, Tables.documents(spark, dir)))
      .orderBy(col("doc_id"), col("chunk_index"))

  /** The chunking pass over an arbitrary documents frame — stateless
    * row-local work, so the SAME transform chunks a batch corpus or a
    * readStream of incoming documents (stream ≡ batch in LlmOpsSpec). */
  private[graft] def chunkRagOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      // window starts 0, stride, 2·stride … ≤ len-1-overlap: a start
      // past len-overlap would produce a tail fully contained in the
      // previous chunk (pure garbage downstream — at corpus scale,
      // redundant embed/index work for every doc whose length lands in
      // the overlap zone). greatest() keeps the empty-document edge
      // well-defined: one empty chunk.
      .withColumn("s",
        explode(sequence(lit(0),
          greatest(col("len") - 1 - (ChunkSize - ChunkStride), lit(0)),
          lit(ChunkStride))))
      .withColumn("chunk_text", expr(s"substring(text, s + 1, $ChunkSize)"))
      // snap back to the last space only when the window was cut mid-
      // document; a window reaching the document end is already whole
      .withColumn("snapped_text",
        when(col("s") + ChunkSize < col("len"),
          regexp_replace(col("chunk_text"), " [^ ]*$", ""))
          .otherwise(col("chunk_text")))
      .select(col("doc_id"),
        expr(s"s DIV $ChunkStride").cast(LongType).as("chunk_index"),
        col("s").cast(LongType).as("chunk_start"),
        length(col("chunk_text")).cast(LongType).as("chunk_len"),
        col("chunk_text"), col("snapped_text"),
        size(split(col("snapped_text"), " ")).cast(LongType).as("chunk_token_ct"))

  /** DuckDB rebuild of the chunking pass over `src` — ends in
    * `snapped(doc_id, chunk_index, chunk_start, chunk_len, chunk_text,
    * snapped_text)`. Shared with the chunk-packing oracle in
    * [[Curation]] and the incremental-chunk oracle (src = the v2
    * crawl). */
  private[operators] def chunkCtesOn(src: String): String =
    s"""starts AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    unnest(generate_series(0, greatest(length(text) - 51, 0), 150)) AS s
      |  FROM $src
      |), c AS (
      |  SELECT doc_id, len, CAST(s // 150 AS BIGINT) AS chunk_index,
      |    CAST(s AS BIGINT) AS chunk_start,
      |    substring(text, s + 1, 200) AS chunk_text
      |  FROM starts
      |), snapped AS (
      |  SELECT doc_id, chunk_index, chunk_start,
      |    CAST(length(chunk_text) AS BIGINT) AS chunk_len, chunk_text,
      |    CASE WHEN chunk_start + 200 < len
      |      THEN regexp_replace(chunk_text, ' [^ ]*$$', '')
      |      ELSE chunk_text END AS snapped_text
      |  FROM c
      |)""".stripMargin

  private[operators] val chunkCtes: String = chunkCtesOn("documents")

  /** Incremental chunk-index maintenance over the crawl diff: the v2
    * chunk table WITHOUT re-chunking (or re-embedding, downstream) the
    * unchanged corpus — the RAG-tier sibling of the postings and
    * MinHash-signature maintenance jobs. Chunks are doc-local, so the
    * diff-driven splice alone IS the maintained table: anti-join out
    * removed/changed docs' stored chunks, chunk only the added/changed
    * slice, union. Work scales with |delta|; the oracle re-chunks the
    * whole v2 corpus from scratch, so hash-equality proves the carried
    * rows byte-identical to a full rebuild. At 100 TB this is the
    * difference between a nightly embed job sized by the crawl churn
    * and one sized by the corpus. */
  def chunkIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
    val v2 = Curation.snapshotV2On(docs)
    val chunks1 = Memo(spark, dir, "text.chunks.v1")(chunkRagOn(docs))
    // one shared crawl diff across every incremental-maintenance
    // consumer (r18) — the splice below stays this query's own compute
    val diff = Curation.snapshotDiffShared(spark, dir)
    val gone = diff.filter(col("status").isin("removed", "changed")).select(col("doc_id"))
    val fresh = diff.filter(col("status").isin("added", "changed")).select(col("doc_id"))
    chunks1.join(gone, Seq("doc_id"), "left_anti")
      .unionByName(chunkRagOn(v2.join(fresh, Seq("doc_id"))))
      .orderBy(col("doc_id"), col("chunk_index"))
  }

  /** Document fingerprinting: md5 (oracle-checkable) plus a rolling
    * 64-bit FNV content hash via the custom codegen'd expression. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"),
        md5(col("text")).as("md5_hex"),
        GraftExpressions.fnv1a64(col("text")).as("fnv64"),
        GraftExpressions.fnv1a64(concat_ws(" ", slice(split(col("text"), " "), 1, 8))).as("prefix_fnv64"))
      .orderBy(col("doc_id"))

  /** md5-only variant for the SQL oracle (fnv64 is not SQL-expressible). */
  def fingerprintsMd5(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), md5(col("text")).as("md5_hex"))
      .orderBy(col("doc_id"))

  /** C4/Gopher-style quality filter: keep/drop decision + the list of
    * violated rules, built on the textStats metrics. Thresholds are
    * the operator's parameters; these defaults mirror common
    * training-data heuristics (min/max length, stopword floor,
    * repetition ceiling via type-token ratio). */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityFilterOn(textStats(spark, dir)).orderBy(col("doc_id"))

  /** The keep/drop decision over an arbitrary [[textStatsOn]] frame —
    * row-local like the stats pass, so the same rules gate a batch
    * corpus or an ingest stream (stream ≡ batch in LlmOpsSpec). */
  private[graft] def qualityFilterOn(stats: DataFrame): DataFrame =
    stats
      .withColumn("reasons", array_compact(array(
        when(col("token_ct") < 10, "too_short"),
        when(col("token_ct") > 5000, "too_long"),
        when(col("stopword_ratio") < 0.01, "no_stopwords"),
        when(col("ttr") < 0.2, "repetitive"),
        when(col("avg_token_len") > 12.0, "tokens_too_long"))))
      .withColumn("keep", when(size(col("reasons")) === 0, lit(1L)).otherwise(lit(0L)))
      .select(col("doc_id"), col("keep"), concat_ws(",", col("reasons")).as("reasons"))

  /** Quality decile report: docs bucketed into exact ntile(10) deciles
    * by (token_ct, doc_id), with per-decile count, token-count range,
    * token mass, and quality-score range — the "what does each tenth of
    * my corpus look like" curation table.
    *
    * Scale design: a naive `ntile(10) OVER (ORDER BY ...)` collapses
    * the whole corpus into ONE window partition — the canonical
    * unscalable plan. This computes the identical assignment
    * distributed: (1) histogram the order key (distinct token counts —
    * bounded and tiny at any corpus size), (2) cumulative offsets +
    * grand total over that histogram (the only single-partition window,
    * histogram-sized by construction), (3) global rank = broadcast
    * offset + per-key `row_number` partitioned BY the key (distributed),
    * (4) the closed-form ntile bucket formula (first n%b buckets get
    * ⌈n/b⌉ rows). The oracle runs the naive global ntile — equality IS
    * the proof the decomposition reproduces it. */
  def qualityDeciles(spark: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    // the histogram build and the join probe side both read the shared
    // memoized stats frame (tokenize-and-score runs once per session+dir)
    val stats = textStats(spark, dir)
      .select(col("doc_id"), col("token_ct"), col("quality_score"))
    val hist = stats.groupBy(col("token_ct")).agg(count(lit(1)).as("ct"))
      .withColumn("before", sum(col("ct")).over(Window.orderBy(col("token_ct")))
        - col("ct"))
      .withColumn("n", sum(col("ct")).over(Window.partitionBy()))
      .withColumn("q", expr(s"n DIV $buckets"))
      .withColumn("r", col("n") % buckets)
    val rank = col("before") +
      row_number().over(Window.partitionBy(col("token_ct")).orderBy(col("doc_id"))).cast(LongType)
    stats.join(hist, Seq("token_ct"))
      .withColumn("rank", rank)
      // closed-form ntile: first r buckets hold q+1 rows, the rest q
      // (greatest(q,1) keeps the dead branch well-defined when n < b)
      .withColumn("decile",
        expr("CASE WHEN rank <= r * (q + 1) THEN (rank - 1) DIV (q + 1) + 1 " +
          "ELSE r + (rank - 1 - r * (q + 1)) DIV greatest(q, 1) + 1 END")
          .cast(LongType))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("doc_ct"),
        min(col("token_ct")).as("min_token_ct"),
        max(col("token_ct")).as("max_token_ct"),
        sum(col("token_ct")).as("token_sum"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))
      .orderBy(col("decile"))
  }

  /** Gopher-style within-document repetition signals: duplicate-token
    * fraction, duplicate-3-gram fraction, and the most-frequent-token
    * share — the standard "discard documents that repeat themselves"
    * rules of large-scale training-data curation, computed as
    * doc-local array work (no shuffle, scan-bound at any scale). */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("token_ct", size(col("toks")).cast(LongType))
      .withColumn("grams", expr(
        "CASE WHEN size(toks) < 3 THEN array() ELSE " +
          "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws('_', toks[i], toks[i+1], toks[i+2])) END"))
      .withColumn("dup_token_frac",
        when(col("token_ct") > 0,
          lit(1.0) - size(array_distinct(col("toks"))).cast(DoubleType) /
            col("token_ct").cast(DoubleType)).otherwise(lit(0.0)))
      .withColumn("dup_3gram_frac",
        when(size(col("grams")) > 0,
          lit(1.0) - size(array_distinct(col("grams"))).cast(DoubleType) /
            size(col("grams")).cast(DoubleType)).otherwise(lit(0.0)))
      .withColumn("top_token_frac",
        when(col("token_ct") > 0,
          expr("array_max(transform(array_distinct(toks), t -> size(filter(toks, x -> x = t))))")
            .cast(DoubleType) / col("token_ct").cast(DoubleType)).otherwise(lit(0.0)))
      .select(col("doc_id"), col("token_ct"), col("dup_token_frac"),
        col("dup_3gram_frac"), col("top_token_frac"))
      .orderBy(col("doc_id"))

  /** Deterministic train/val/test split: every pipeline needs
    * reproducible doc-level assignment that survives re-runs,
    * repartitioning, and engine changes — so the split key is a pure
    * integer mix of doc_id, never `rand()` and never
    * partition-dependent row position. 90/5/5 by mixed-hash mod 100.
    *
    * Overflow-free at ANY id magnitude: the Knuth multiplier only sees
    * the low 31 bits ((2^31-1) * 2654435761 < 2^63), the high bits are
    * folded in with a small multiplier — so the same arithmetic is
    * exact in both Spark's LongType and DuckDB's checked BIGINT (which
    * raises on overflow instead of wrapping). */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame =
    corpusSplitOn(Tables.spread(spark, Tables.documents(spark, dir)))
      .orderBy(col("doc_id"))

  /** The id-hash split over an arbitrary documents frame — pure
    * doc_id arithmetic, so an added document's assignment never
    * depends on which run first saw it. */
  private[graft] def corpusSplitOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"))
      .withColumn("mixed", expr(
        "((doc_id & 2147483647) * 2654435761) ^ ((doc_id >> 31) * 40503) ^ (doc_id >> 7)"))
      .withColumn("bucket", pmod(col("mixed"), lit(100L)))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("bucket").cast(LongType).as("bucket"), col("split"))

  /** Test-set decontamination: flag every training document that shares
    * at least one word 5-gram with the held-out benchmark set (here:
    * every 20th doc plays the eval-set role — deterministic, so the
    * oracle can reproduce the partition). The standard n-gram-overlap
    * decontamination of large-scale training corpora.
    *
    * Scale shape: grams are hashed to 64-bit (`xxhash64`) before the
    * join, so the shuffle moves longs, not strings; the benchmark gram
    * set (eval sets are tiny relative to the corpus) is deduped and
    * broadcast, so the corpus-side pass is shuffle-free — scan →
    * explode → broadcast-semi-probe → per-doc partial agg. Collisions
    * at 64 bits (~m²/2⁶⁴) err on the conservative side: a false
    * positive drops a training doc, never leaks an eval gram. */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    // memoized: the benchmark-gram set and the training-side probe both
    // read this frame, and the Bloom variant shares the identical grams
    // (in production the benchmark is its own small table and the
    // corpus side stays a single uncached scan)
    val grams = memoGrams(spark, dir, n)
    val benchGrams = grams.filter(col("doc_id") % 20 === 0).select(col("gh")).distinct()
    // a semi join: only the benchmark side can build, and the probe
    // keeps the training grams' size estimate
    val hits = grams.filter(col("doc_id") % 20 =!= 0)
      .join(benchGrams, Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(countDistinct(col("gh")).as("hit_ct"))
    docs.filter(col("doc_id") % 20 =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("hit_ct", coalesce(col("hit_ct"), lit(0L)))
      .withColumn("contaminated", (col("hit_ct") > 0).cast(LongType))
      .orderBy(col("doc_id"))
  }

  /** Sketch-path decontamination: same contract as [[decontaminate]]
    * (doc_id, hit_ct, contaminated over the non-benchmark partition)
    * but the benchmark gram set is carried as a Bloom filter instead
    * of an exact broadcast set — the scale path for when the held-out
    * suite outgrows an exact in-memory set. Probing happens inside
    * whole-stage codegen ([[graft.functions.BloomMightContainLong]]
    * attaches the filter as a codegen reference object), so the corpus
    * side stays a single scan-speed pass.
    *
    * Semantics: hit counts are upper bounds (false positives at
    * `fpp`, NEVER false negatives) — a doc `decontaminate` flags is
    * always flagged here with hit_ct at least as large; LlmOpsSpec
    * pins both properties. The filter is a driver-side model (like
    * the k-means centroids), memoized per (session, dir). */
  def decontaminateBloom(spark: SparkSession, dir: String, n: Int = 5,
                         fpp: Double = 1e-4): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    // shared with decontaminate: the bloom build (count + aggregate)
    // and the corpus probe all read the memoized gram projection
    val grams = memoGrams(spark, dir, n)
    val bloom = Memo.value(spark, dir, s"decon_bloom_$n:$fpp") {
      val bench = grams.filter(col("doc_id") % 20 === 0).select(col("gh")).distinct().cache()
      try bench.stat.bloomFilter("gh", math.max(bench.count(), 1L), fpp)
      finally bench.unpersist()
    }
    val hits = grams.filter(col("doc_id") % 20 =!= 0)
      .filter(GraftExpressions.bloomMightContainLong(col("gh"), bloom))
      .groupBy(col("doc_id")).agg(countDistinct(col("gh")).as("hit_ct"))
    docs.filter(col("doc_id") % 20 =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("hit_ct", coalesce(col("hit_ct"), lit(0L)))
      .withColumn("contaminated", (col("hit_ct") > 0).cast(LongType))
      .orderBy(col("doc_id"))
  }

  /** The inverse decontamination view: per BENCHMARK document, how
    * far it has leaked into the training corpus — distinct training
    * docs sharing ≥ 1 word `n`-gram and the count of leaked grams.
    * [[decontaminate]] answers "which training docs must go";
    * this answers "which eval items are compromised" (the report an
    * eval owner reads before trusting a score). Clean benchmark docs
    * keep a zero row.
    *
    * Scale shape: same as the forward path — the benchmark gram set
    * is tiny and broadcasts; the training side is one scan + explode
    * + broadcast-hash join + per-bench-doc partial agg. */
  def decontaminationReport(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val grams = memoGrams(spark, dir, n)
    val bench = grams.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("bench_doc_id"), col("gh")).distinct()
    val hits = grams.filter(col("doc_id") % 20 =!= 0)
      .join(bench, "gh")
      .groupBy(col("bench_doc_id"))
      .agg(countDistinct(col("doc_id")).as("leaked_to_ct"),
        countDistinct(col("gh")).as("leaked_gram_ct"))
    Tables.documents(spark, dir).select(col("doc_id").as("bench_doc_id"))
      .filter(col("bench_doc_id") % 20 === 0)
      .join(hits, Seq("bench_doc_id"), "left")
      .select(col("bench_doc_id"),
        coalesce(col("leaked_to_ct"), lit(0L)).as("leaked_to_ct"),
        coalesce(col("leaked_gram_ct"), lit(0L)).as("leaked_gram_ct"))
      .orderBy(col("bench_doc_id"))
  }

  /** The corpus gram-hash frame behind both decontamination paths,
    * memoized per (session, dir, n) — exact and Bloom variants read
    * the identical projection, so it materializes once and
    * `Memo.invalidate` frees it. */
  private def memoGrams(spark: SparkSession, dir: String, n: Int): DataFrame =
    Memo(spark, dir, s"text.grams.$n")(
      gramHashes(Tables.spread(spark, Tables.documents(spark, dir))
        .select(col("doc_id"), col("text")), n))

  /** (doc_id, gh): xxhash64'd word `n`-grams of a (doc_id, text) frame.
    * Pure split/explode/hash projection — stream-safe, so the SAME
    * code decontaminates a batch corpus or a readStream of incoming
    * docs against a static benchmark gram set (stream-static join;
    * proven stream ≡ batch in LlmOpsSpec). */
  def gramHashes(docs: DataFrame, n: Int = 5): DataFrame =
    docs.select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .withColumn("gram", explode(expr(
        s"CASE WHEN size(toks) >= $n THEN transform(sequence(0, size(toks) - $n), " +
          s"i -> concat_ws(' ', slice(toks, i + 1, $n))) END")))
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))

  /** Deterministic exact-k per-stratum sample: each source keeps its
    * min(k, n) documents with the smallest md5(doc_id || salt) — the
    * "exactly 10k docs per source" curation move that per-mille
    * thresholds ([[sampleStratified]]) cannot hit exactly. The hash
    * order is a uniform permutation independent of doc_id order, and
    * fully reproducible across engines, partitionings, and retries
    * (`rand()` is banned here for the same reason as everywhere else).
    *
    * Scale shape: one `row_number` window PARTITIONED BY the stratum —
    * distributed, no global sort; a skewed giant stratum is one
    * partition's sort of its own rows, and AQE's skew handling applies
    * to the exchange feeding it. */
  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * exponential-keys): every doc gets priority −ln(u)/w with u a
    * deterministic uniform from its id hash and w = token count; the k
    * SMALLEST keys are a weighted-without-replacement sample — the
    * data-mixing primitive between plain uniform sampling
    * ([[sampleExactK]]) and the per-source √-temperature budgets
    * ([[Curation.mixtureSample]]): token-mass-proportional at the
    * DOCUMENT level, one scan + a distributed TakeOrdered top-k.
    * Deterministic end to end: u = (hash32+1)/2³² is exact (power-of-2
    * division), ln is the shared iterated-sqrt [[Search.detLn]], the
    * key is one fixed-order subtract+divide — so the DuckDB oracle
    * reproduces the SAMPLE ITSELF, not just its distribution. */
  def sampleWeighted(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val docs = textStats(spark, dir).select(col("doc_id"), col("token_ct"))
    val u = (GraftExpressions.hash32(concat(lit("d"), col("doc_id").cast(StringType)))
      + lit(1L)).cast(DoubleType) / lit(4294967296.0)
    docs
      .withColumn("skey",
        (lit(0.0) - Search.detLn(u)) / col("token_ct").cast(DoubleType))
      .orderBy(col("skey"), col("doc_id")).limit(k)
      .select(col("doc_id"), col("token_ct"), col("skey"))
      .orderBy(col("skey"), col("doc_id"))
  }

  /** Exact-k per-stratum sample by hash order. Two-phase top-k: a
    * window partitioned by `source` alone would sort corpus/#sources
    * rows on ONE task (sources are low-cardinality); the salted local
    * phase keeps ≤k per (source, salt) — every global top-k row
    * survives, since the global top-k within a source is a prefix of
    * each salt's local order — so the final per-source window ranks
    * ≤64·k rows per source, constant-bounded (same shape as
    * [[Search.topKTwoPhase]]). */
  def sampleExactK(spark: SparkSession, dir: String, k: Int = 15): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"),
        md5(concat(col("doc_id").cast(StringType), lit("|graft-sample"))).as("h"))
      // salt from the uniform hash, NOT the raw id: sharded id
      // generators allocate structured low bits (fixed worker ids,
      // stride-64 sequences), which would collapse every row of a
      // source into one salt group and re-open the single-task sort
      .withColumn("salt",
        pmod(conv(substring(col("h"), 1, 2), 16, 10).cast(LongType), lit(64)))
      .withColumn("lrk", row_number().over(
        Window.partitionBy(col("source"), col("salt")).orderBy(col("h"), col("doc_id"))))
      .filter(col("lrk") <= k)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("source"), col("rn").cast(LongType).as("rn"))
      .orderBy(col("source"), col("rn"))

  /** Deterministic stratified downsampling: per-language keep rates
    * applied via an integer-hash threshold, so the sample is
    * reproducible, partition-independent, and oracle-checkable —
    * `rand()` is banned for the same reason it is in [[corpusSplit]].
    * The hash is the same overflow-free multiply-xor-shift mix (salted
    * with a doc_id XOR so split and sample decisions decorrelate);
    * thresholds are integers out of 1000 per stratum — the "rebalance
    * language mix" move of corpus curation. Pure projection: no
    * shuffle, scan-bound at any scale. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"))
      .withColumn("mixed", expr(
        "(((doc_id ^ 99991) & 2147483647) * 2654435761) ^ ((doc_id >> 31) * 48271) ^ (doc_id >> 5)"))
      .withColumn("bucket", pmod(col("mixed"), lit(1000L)))
      .withColumn("keep_per_mille",
        when(col("lang") === "en", 500L)
          .when(col("lang") === "es", 750L)
          .when(col("lang") === "zh", 800L)
          .when(col("lang") === "de" || col("lang") === "fr", 900L)
          .otherwise(1000L))
      .withColumn("sampled", (col("bucket") < col("keep_per_mille")).cast(LongType))
      .select(col("doc_id"), col("lang"), col("bucket").cast(LongType).as("bucket"),
        col("keep_per_mille"), col("sampled"))
      .orderBy(col("doc_id"))

  /** Per-source curation report — the "which crawl sources are junk"
    * table every corpus pipeline maintains: per `source`, document
    * count, quality-filter survivors, exact-dedup uniques, token mass,
    * and the quality-score range. Aggregates are exact (counts, BIGINT
    * sums, min/max of identically-computed doubles), so the whole
    * report is oracle-checkable. Shape: one wide scan + one shuffle on
    * `source` (the dedup-rep flag rides a hash semi-join). */
  def sourceQuality(spark: SparkSession, dir: String): DataFrame = {
    val stats = textStats(spark, dir)
      .select(col("doc_id"), col("source"), col("token_ct"), col("quality_score"))
    val kept = qualityFilter(spark, dir).select(col("doc_id"), col("keep"))
    val reps = exactReps(spark, dir).withColumn("is_rep", lit(1L))
    stats
      .join(kept, "doc_id")
      .join(reps, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("doc_ct"),
        sum(col("keep")).as("kept_ct"),
        sum(coalesce(col("is_rep"), lit(0L))).as("uniq_ct"),
        sum(col("token_ct")).as("token_sum"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))
      .orderBy(col("source"))
  }

  /** Corpus vocabulary statistics: top-k tokens by frequency with
    * document frequency and the cumulative (Zipf) share of the total
    * token mass. The canonical "what's in this corpus" report; shape =
    * explode → two-level aggregate. Scale: token counts partial-agg
    * map-side before the shuffle; top-k is sort+limit (per-partition
    * top-k + k-row merge), so only the k winners reach the ranking and
    * cumulative windows — never the full vocabulary. */
  def vocabTopK(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    // the shared vocabulary memo: the grand total and the top-k both
    // read one materialized aggregation
    val counts = Curation.vocabShared(spark, dir)
    val total = counts.agg(sum(col("token_ct")).as("total_ct"))
    import org.apache.spark.sql.expressions.Window
    // top-k via sort+limit = TakeOrderedAndProject (per-partition top-k,
    // then a k-row merge on one reducer) — NOT a row_number window over
    // the full vocabulary, which would single-partition-sort all of it.
    // The ranking/cumulative windows below only ever see k rows.
    counts
      .orderBy(col("token_ct").desc, col("token")).limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("token_ct").desc, col("token"))))
      .crossJoin(total)   // 1-row total, lazily
      .withColumn("cum_share",
        sum(col("token_ct")).over(
          Window.orderBy(col("token_ct").desc, col("token"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType) / col("total_ct").cast(DoubleType))
      .select(col("rk"), col("token"), col("token_ct"), col("doc_ct"), col("cum_share"))
      .orderBy(col("rk"))
  }

  /** The composed training-corpus pipeline: quality filter → exact
    * dedup (keep the representative) → language ID → per-language
    * corpus statistics. One expression of how the operators chain in a
    * real data-curation run; every stage is SQL-expressible so the
    * whole pipeline is oracle-checked end to end. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val kept = qualityFilter(spark, dir).filter(col("keep") === 1).select("doc_id")
    val reps = exactReps(spark, dir)
    val langs = langId(spark, dir).select(col("doc_id"), col("pred_lang"))
    val toks = Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("token_ct"))
    kept.join(reps, "doc_id").join(langs, "doc_id").join(toks, "doc_id")
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("doc_ct"), sum(col("token_ct")).as("token_sum"))
      .orderBy(col("pred_lang"))
  }

  /** Documents that are their own exact-dedup representative. */
  private def exactReps(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir))
      .groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  /** The end-to-end per-document curation decision table — the single
    * deliverable a training-data pipeline ships downstream: for every
    * document, the quality gate (+ violated rules), predicted
    * language, benchmark-membership and contamination flags, exact-
    * and near-dup representatives, and the composed `train_keep`
    * verdict (quality-pass ∧ not benchmark ∧ not contaminated ∧ its
    * own exact rep ∧ its own near rep). Every input is an
    * already-oracle-checked operator; this table pins their JOIN
    * composition with one more full-value oracle.
    *
    * Scale shape: the quality/langid columns are row-local scans; the
    * joins are all on `doc_id` (co-partitionable); the dedup and
    * decontamination inputs carry their own bucketed/broadcast scale
    * stories. Benchmark docs (the held-out eval slice) are flagged,
    * not dropped — `contaminated` is 0 for them by construction and
    * `train_keep` excludes them via the flag. */
  def curationDecisions(spark: SparkSession, dir: String): DataFrame =
    // the named query runs its own verdict pipeline per action (r18);
    // the dataset manifest reads the checkpoint share below
    curationDecisionsBuild(spark, dir)

  private def curationShared(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "text.curation")(curationDecisionsBuild(spark, dir))

  private def curationDecisionsBuild(spark: SparkSession, dir: String): DataFrame = {
    // same content key as Dedup.exact / exactReps, here as the full
    // doc→representative MAPPING (those two only need the group mins);
    // spread like every sibling document pass so the hash scan uses
    // all cores
    val docsSpread = Tables.spread(spark, Tables.documents(spark, dir))
    val hashed = docsSpread.select(col("doc_id"), md5(col("text")).as("ch"))
    val exactRep = hashed.groupBy(col("ch")).agg(min(col("doc_id")).as("exact_rep_doc_id"))
    val near = Dedup.minhashLsh(spark, dir)
      .withColumnRenamed("rep_doc_id", "near_rep_doc_id")
    // round-9 signals: PII is REDACTED downstream, so pii_ct is carried
    // as bookkeeping, not a drop rule; the LM gate drops docs whose
    // mean surprisal exceeds 90% of the OOV ceiling (≈ gibberish to the
    // reference LM) — exact integer comparison, no float threshold
    val pii = Curation.piiScanOn(Curation.withSyntheticPii(docsSpread))
      .select(col("doc_id"), col("pii_ct"))
    val lm = Curation.lmSurprisalShared(spark, dir)
      .select(col("doc_id"), col("tok_ct"), col("surprisal_bits"))
      .crossJoin(Curation.lmTotalBits(spark, dir))
      .withColumn("lm_gibberish",
        (col("surprisal_bits") * 10L > col("tbits") * 9L * col("tok_ct")).cast(LongType))
      .select(col("doc_id"), col("lm_gibberish"))
    hashed
      .join(exactRep, "ch").drop("ch")
      .join(qualityFilter(spark, dir), "doc_id")
      .join(langId(spark, dir).select(col("doc_id"), col("pred_lang")), "doc_id")
      .join(near, "doc_id")
      .join(decontaminate(spark, dir).select(col("doc_id"), col("contaminated")),
        Seq("doc_id"), "left")
      .join(pii, "doc_id")
      .join(lm, "doc_id")
      .withColumn("is_benchmark", (col("doc_id") % 20 === 0).cast(LongType))
      .withColumn("contaminated", coalesce(col("contaminated"), lit(0L)))
      .withColumn("train_keep",
        (col("keep") === 1 && col("is_benchmark") === 0 && col("contaminated") === 0 &&
          col("exact_rep_doc_id") === col("doc_id") &&
          col("near_rep_doc_id") === col("doc_id") &&
          col("lm_gibberish") === 0).cast(LongType))
      .select(col("doc_id"), col("keep"), col("reasons"), col("pred_lang"),
        col("is_benchmark"), col("contaminated"),
        col("exact_rep_doc_id"), col("near_rep_doc_id"),
        col("pii_ct"), col("lm_gibberish"), col("train_keep"))
      .orderBy(col("doc_id"))
  }

  /** The final dataset manifest: every document's deterministic
    * train/val/test assignment ([[corpusSplit]]) composed with the
    * curation verdict — benchmark docs route to their own slice,
    * curation rejects to 'dropped', survivors keep their hash split.
    * This is the table a dataloader consumes. */
  def datasetManifest(spark: SparkSession, dir: String): DataFrame =
    curationShared(spark, dir)
      .join(corpusSplit(spark, dir).select(col("doc_id"), col("split")), "doc_id")
      .withColumn("final_split",
        when(col("is_benchmark") === 1, "benchmark")
          .when(col("train_keep") === 0, "dropped")
          .otherwise(col("split")))
      .select(col("doc_id"), col("split"), col("train_keep"), col("final_split"))
      .orderBy(col("doc_id"))

  /** Quality-aware canonical representative per near-dup component:
    * production dedup keeps the CLEANEST copy, not the lowest id —
    * here the component member with the highest [[textStats]]
    * quality_score (ties → lowest doc_id). Composes the memoized
    * components closure with the memoized stats frame; the rank
    * window partitions by component (dup-cluster-sized groups, never
    * corpus-wide), so the plan is two cached scans + one
    * component-keyed shuffle at any corpus size. */
  def bestRep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = Dedup.componentsShared(spark, dir)
      .join(textStats(spark, dir).select(col("doc_id"), col("quality_score")), "doc_id")
    val best = joined
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("rep_doc_id"))
          .orderBy(col("quality_score").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("rep_doc_id"), col("doc_id").as("best_doc_id"))
    joined.join(best, "rep_doc_id")
      .select(col("doc_id"), col("rep_doc_id"), col("quality_score"),
        col("best_doc_id"),
        (col("doc_id") === col("best_doc_id")).cast(LongType).as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // Incremental curation over the snapshot diff
  // ---------------------------------------------------------------

  /** PER-DOCUMENT curation signals of `docs`, scored against a FROZEN
    * reference LM (`vocab`/`total`/`tbits` — the PRIOR run's model
    * artifacts): quality gate, language id, PII count, LM-gibberish
    * gate, benchmark flag, split assignment, and the composed
    * train_keep. Every column is a function of the document's own
    * content plus the frozen model — the property that makes carrying
    * prior rows for unchanged docs EXACT, not an approximation
    * (corpus-level signals like dedup representatives live in
    * [[curationDecisions]] and need their own maintenance strategy).
    * All joins are doc_id-equi over per-doc frames: co-partitionable,
    * no corpus-wide state. */
  private[graft] def perDocSignalsOn(docs: DataFrame, vocab: DataFrame,
                                     total: DataFrame, tbits: DataFrame): DataFrame = {
    val quality = qualityFilterOn(textStatsOn(docs))
    val lang = langIdOn(docs).select(col("doc_id"), col("pred_lang"))
    val pii = Curation.piiScanOn(Curation.withSyntheticPii(docs))
      .select(col("doc_id"), col("pii_ct"))
    val lm = Curation.lmScoreOn(docs, vocab, total)
      .select(col("doc_id"), col("tok_ct"), col("surprisal_bits"))
      .crossJoin(tbits)
      .withColumn("lm_gibberish",
        (col("surprisal_bits") * 10L > col("tbits") * 9L * col("tok_ct")).cast(LongType))
      .select(col("doc_id"), col("lm_gibberish"))
    quality
      .join(lang, "doc_id")
      .join(pii, "doc_id")
      .join(lm, "doc_id")
      .join(corpusSplitOn(docs).select(col("doc_id"), col("split")), "doc_id")
      .withColumn("is_benchmark", (col("doc_id") % 20 === 0).cast(LongType))
      .withColumn("train_keep",
        (col("keep") === 1 && col("is_benchmark") === 0 &&
          col("lm_gibberish") === 0).cast(LongType))
      .select(col("doc_id"), col("keep"), col("reasons"), col("pred_lang"),
        col("pii_ct"), col("lm_gibberish"), col("is_benchmark"), col("split"),
        col("train_keep"))
  }

  /** Incremental curation manifest for the v2 crawl (r9 ask #3 / r10
    * task #5): re-score ONLY the added/changed slice of the snapshot
    * diff against the frozen v1 LM, carry the prior run's rows for
    * unchanged docs verbatim, drop removed docs. Because every signal
    * in [[perDocSignalsOn]] is per-doc under a frozen model, the
    * carried+rescored union EQUALS a full v2 re-score (CurationSpec
    * pins this), while the expensive tokenize/score passes touch only
    * |diff| documents — the 100 TB point: a 1% daily churn re-reads 1%
    * of the corpus, not all of it. The prior manifest is recomputed
    * here because the harness has no cross-run store; in production it
    * is a parquet read of the previous run's output. */
  def incrementalManifest(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.spread(spark, Tables.documents(spark, dir))
    val v2 = Curation.snapshotV2FullOn(v1)
    // the shared crawl diff (r18): snapshotDiffOn reads only
    // (doc_id, text), which v2Full and snapshotV2On agree on by
    // construction, so the shared frame is row-identical here
    val diff = Curation.snapshotDiffShared(spark, dir).select(col("doc_id"), col("status"))
    // frozen v1 model: the memoized vocab the whole curation tier shares
    val vocab = Curation.lmVocabShared(spark, dir)
    val total = vocab.agg(sum(col("ct")).as("total_ct"))
    val tbits = Curation.lmTotalBits(spark, dir)
    val prior = Memo(spark, dir, "text.incr.prior")(
      perDocSignalsOn(v1, vocab, total, tbits))
    val carried = prior
      .join(diff.filter(col("status") === "unchanged"), "doc_id")
    val rescored = perDocSignalsOn(
        v2.join(diff.filter(col("status").isin("added", "changed")), "doc_id")
          .drop("status"),
        vocab, total, tbits)
      .join(diff, "doc_id")
    carried.unionByName(rescored)
      .select(col("doc_id"), col("status"), col("keep"), col("reasons"),
        col("pred_lang"), col("pii_ct"), col("lm_gibberish"), col("is_benchmark"),
        col("split"), col("train_keep"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_curation_decisions" -> ((s, d) => curationDecisions(s, d)),
    "text_dataset_manifest" -> ((s, d) => datasetManifest(s, d)),
    "text_incremental_manifest" -> ((s, d) => incrementalManifest(s, d)),
    "dedup_best_rep" -> ((s, d) => bestRep(s, d)),
    "text_corpus_stats" -> ((s, d) => corpusStats(s, d)),
    "text_quality_filter" -> ((s, d) => qualityFilter(s, d)),
    "text_quality_deciles" -> ((s, d) => qualityDeciles(s, d)),
    "text_sample_exact_k" -> ((s, d) => sampleExactK(s, d)),
    "text_sample_weighted" -> ((s, d) => sampleWeighted(s, d)),
    "text_stats" -> ((s, d) => textStats(s, d)),
    "text_lang_id" -> ((s, d) => langId(s, d)),
    "text_token_counts" -> ((s, d) => tokenCounts(s, d)),
    "text_chunk_rag" -> ((s, d) => chunkRag(s, d)),
    "text_chunk_incremental" -> ((s, d) => chunkIncremental(s, d)),
    "text_repetition" -> ((s, d) => repetition(s, d)),
    "text_corpus_split" -> ((s, d) => corpusSplit(s, d)),
    "text_decontaminate" -> ((s, d) => decontaminate(s, d)),
    "text_decontamination_report" -> ((s, d) => decontaminationReport(s, d)),
    "text_vocab_topk" -> ((s, d) => vocabTopK(s, d)),
    "text_source_quality" -> ((s, d) => sourceQuality(s, d)),
    "text_sample_stratified" -> ((s, d) => sampleStratified(s, d)),
    "text_fingerprints" -> ((s, d) => fingerprints(s, d)),
    "text_fingerprints_md5" -> ((s, d) => fingerprintsMd5(s, d)))

  // The composed decision table: quality + langid + decontamination +
  // exact/minhash reps, each CTE block identical to its standalone
  // oracle, joined and verdict-composed exactly like the engine; ends
  // in `cur` so the decisions and manifest oracles share the chain.
  private val curationCtes: String =
      s"""qt AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS char_ct FROM documents
         |), qm AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS token_ct,
         |    CAST(${duckCnt(stopEn)} AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
         |    CAST(char_ct - len(toks) + 1 AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len
         |  FROM qt
         |), qf AS (
         |  SELECT doc_id, list_filter([
         |    CASE WHEN token_ct < 10 THEN 'too_short' END,
         |    CASE WHEN token_ct > 5000 THEN 'too_long' END,
         |    CASE WHEN stopword_ratio < 0.01 THEN 'no_stopwords' END,
         |    CASE WHEN ttr < 0.2 THEN 'repetitive' END,
         |    CASE WHEN avg_token_len > 12.0 THEN 'tokens_too_long' END],
         |    x -> x IS NOT NULL) AS reasons
         |  FROM qm
         |), lt AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
         |), lc AS (
         |  SELECT doc_id,
         |    CAST(${duckCnt(stopEn)} AS BIGINT) AS en_ct,
         |    CAST(${duckCnt(stopEs)} AS BIGINT) AS es_ct,
         |    CAST(${duckCnt(stopDe)} AS BIGINT) AS de_ct,
         |    CAST(${duckCnt(stopFr)} AS BIGINT) AS fr_ct
         |  FROM lt
         |), lp AS (
         |  SELECT doc_id,
         |    CASE WHEN en_ct >= es_ct AND en_ct >= de_ct AND en_ct >= fr_ct AND en_ct > 0 THEN 'en'
         |         WHEN es_ct >= de_ct AND es_ct >= fr_ct AND es_ct > 0 THEN 'es'
         |         WHEN de_ct >= fr_ct AND de_ct > 0 THEN 'de'
         |         WHEN fr_ct > 0 THEN 'fr'
         |         ELSE 'und' END AS pred_lang
         |  FROM lc
         |), dg AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5 THEN
         |    list_transform(range(1, len(t) - 3), i -> array_to_string(list_slice(t, i, i + 4), ' '))
         |    END) AS gram
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
         |), dbg AS (
         |  SELECT DISTINCT gram FROM dg WHERE doc_id % 20 = 0
         |), dhits AS (
         |  SELECT dg.doc_id, COUNT(DISTINCT dg.gram) AS hit_ct
         |  FROM dg JOIN dbg USING (gram) WHERE dg.doc_id % 20 <> 0 GROUP BY dg.doc_id
         |), er AS (
         |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_rep_doc_id
         |  FROM documents
         |), ${DuckSql.minhashCtes("documents")},
         |stats AS (
         |  SELECT doc_id, band_idx, b0, b1, b2, b3,
         |    MIN(doc_id) OVER w AS mn, COUNT(*) OVER w AS cnt
         |  FROM bands WINDOW w AS (PARTITION BY band_idx, b0, b1, b2, b3)
         |), cand AS (
         |  SELECT DISTINCT doc_a, doc_b FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |    FROM stats a JOIN stats b
         |      ON a.band_idx = b.band_idx AND a.b0 = b.b0 AND a.b1 = b.b1
         |      AND a.b2 = b.b2 AND a.b3 = b.b3 AND a.doc_id < b.doc_id
         |    WHERE a.cnt <= 32
         |    UNION ALL
         |    SELECT mn AS doc_a, doc_id AS doc_b FROM stats WHERE cnt > 32 AND doc_id <> mn
         |  )
         |), verified AS (
         |  SELECT doc_a, doc_b
         |  FROM cand
         |    JOIN sh sa ON cand.doc_a = sa.doc_id
         |    JOIN sh sb ON cand.doc_b = sb.doc_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |        CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) >= 0.015
         |), nreps AS (
         |  SELECT doc_id, MIN(other) AS m FROM (
         |    SELECT doc_b AS doc_id, doc_a AS other FROM verified
         |    UNION ALL
         |    SELECT doc_a AS doc_id, doc_b AS other FROM verified
         |  ) GROUP BY doc_id
         |), pa AS (${Curation.augSql}
         |), pc AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(aug, '${Curation.EmailRe}'))
         |       + len(regexp_extract_all(aug, '${Curation.PhoneRe}'))
         |       + len(regexp_extract_all(aug, '${Curation.IpRe}')) AS BIGINT) AS pii_ct
         |  FROM pa
         |), ltok AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
         |), lv AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS ct FROM ltok
         |  WHERE doc_id % ${Curation.TrainMod} = 0 GROUP BY token
         |), ltt AS (
         |  SELECT CAST(SUM(ct) AS BIGINT) AS total_ct FROM lv
         |), lj AS (
         |  SELECT ltok.doc_id,
         |    CASE WHEN lv.ct IS NULL THEN len(bin(ltt.total_ct))
         |         ELSE len(bin(ltt.total_ct)) - len(bin(lv.ct)) END AS bits
         |  FROM ltok LEFT JOIN lv USING (token) CROSS JOIN ltt
         |), lmx AS (
         |  SELECT doc_id, COUNT(*) AS ltc, CAST(SUM(bits) AS BIGINT) AS sbits
         |  FROM lj GROUP BY doc_id
         |), lmf AS (
         |  SELECT lmx.doc_id,
         |    CAST(CASE WHEN lmx.sbits * 10 > len(bin(ltt.total_ct)) * 9 * lmx.ltc
         |      THEN 1 ELSE 0 END AS BIGINT) AS lm_gibberish
         |  FROM lmx CROSS JOIN ltt
         |), cur AS (
         |SELECT d.doc_id,
         |  CAST(CASE WHEN len(qf.reasons) = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep,
         |  COALESCE(array_to_string(qf.reasons, ','), '') AS reasons,
         |  lp.pred_lang,
         |  CAST(CASE WHEN d.doc_id % 20 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_benchmark,
         |  CAST(CASE WHEN COALESCE(dhits.hit_ct, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated,
         |  er.exact_rep_doc_id,
         |  LEAST(d.doc_id, COALESCE(nreps.m, d.doc_id)) AS near_rep_doc_id,
         |  pc.pii_ct,
         |  lmf.lm_gibberish,
         |  CAST(CASE WHEN len(qf.reasons) = 0 AND d.doc_id % 20 <> 0
         |    AND COALESCE(dhits.hit_ct, 0) = 0
         |    AND er.exact_rep_doc_id = d.doc_id
         |    AND LEAST(d.doc_id, COALESCE(nreps.m, d.doc_id)) = d.doc_id
         |    AND lmf.lm_gibberish = 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS train_keep
         |FROM documents d
         |  JOIN qf ON d.doc_id = qf.doc_id
         |  JOIN lp ON d.doc_id = lp.doc_id
         |  JOIN er ON d.doc_id = er.doc_id
         |  LEFT JOIN dhits ON d.doc_id = dhits.doc_id
         |  LEFT JOIN nreps ON d.doc_id = nreps.doc_id
         |  JOIN pc ON d.doc_id = pc.doc_id
         |  JOIN lmf ON d.doc_id = lmf.doc_id
         |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_curation_decisions" ->
      s"WITH $curationCtes\nSELECT * FROM cur ORDER BY doc_id",
    // components closure (Dedup's shared recursive chain) + the
    // text_stats quality expression, token for token, then the same
    // per-component rank
    "dedup_best_rep" ->
      s"""WITH RECURSIVE ${Dedup.componentsOracleCtes},
         |bq AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS char_ct FROM documents
         |), bm AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS token_ct,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS uniq_token_ct,
         |    CAST(${duckCnt(stopEn)} AS BIGINT) AS stopword_ct
         |  FROM bq
         |), qs AS (
         |  SELECT doc_id,
         |    least(CAST(token_ct AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + CAST(stopword_ct AS DOUBLE) / CAST(token_ct AS DOUBLE) * 0.3
         |      + CAST(uniq_token_ct AS DOUBLE) / CAST(token_ct AS DOUBLE) * 0.3 AS quality_score
         |  FROM bm
         |), bj AS (
         |  SELECT comp.doc_id, comp.rep_doc_id, qs.quality_score
         |  FROM comp JOIN qs ON comp.doc_id = qs.doc_id
         |), bb AS (
         |  SELECT rep_doc_id, doc_id AS best_doc_id FROM (
         |    SELECT rep_doc_id, doc_id,
         |      row_number() OVER (PARTITION BY rep_doc_id
         |        ORDER BY quality_score DESC, doc_id) AS rn
         |    FROM bj) WHERE rn = 1
         |)
         |SELECT bj.doc_id, bj.rep_doc_id, bj.quality_score, bb.best_doc_id,
         |  CAST(CASE WHEN bj.doc_id = bb.best_doc_id THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
         |FROM bj JOIN bb ON bj.rep_doc_id = bb.rep_doc_id
         |ORDER BY bj.doc_id""".stripMargin,
    // Rebuilds the v2 snapshot + diff (Curation.diffCtes — the same
    // rules as text_snapshot_diff), then scores EVERY surviving v2 doc
    // against the FROZEN v1 LM vocabulary. The engine instead carries
    // prior rows for unchanged docs and re-scores only the diff slice;
    // the outputs are identical because every signal is per-doc under
    // a frozen model — which is exactly the contract this oracle pins.
    "text_incremental_manifest" ->
      s"""WITH ${Curation.diffCtes},
         |qt AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS char_ct FROM v2
         |), qm AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS token_ct,
         |    CAST(${duckCnt(stopEn)} AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
         |    CAST(char_ct - len(toks) + 1 AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len
         |  FROM qt
         |), qf AS (
         |  SELECT doc_id, list_filter([
         |    CASE WHEN token_ct < 10 THEN 'too_short' END,
         |    CASE WHEN token_ct > 5000 THEN 'too_long' END,
         |    CASE WHEN stopword_ratio < 0.01 THEN 'no_stopwords' END,
         |    CASE WHEN ttr < 0.2 THEN 'repetitive' END,
         |    CASE WHEN avg_token_len > 12.0 THEN 'tokens_too_long' END],
         |    x -> x IS NOT NULL) AS reasons
         |  FROM qm
         |), q AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN len(reasons) = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep,
         |    COALESCE(array_to_string(reasons, ','), '') AS reasons
         |  FROM qf
         |), lt AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM v2
         |), lc AS (
         |  SELECT doc_id,
         |    CAST(${duckCnt(stopEn)} AS BIGINT) AS en_ct,
         |    CAST(${duckCnt(stopEs)} AS BIGINT) AS es_ct,
         |    CAST(${duckCnt(stopDe)} AS BIGINT) AS de_ct,
         |    CAST(${duckCnt(stopFr)} AS BIGINT) AS fr_ct
         |  FROM lt
         |), langs AS (
         |  SELECT doc_id,
         |    CASE WHEN en_ct >= es_ct AND en_ct >= de_ct AND en_ct >= fr_ct AND en_ct > 0 THEN 'en'
         |         WHEN es_ct >= de_ct AND es_ct >= fr_ct AND es_ct > 0 THEN 'es'
         |         WHEN de_ct >= fr_ct AND de_ct > 0 THEN 'de'
         |         WHEN fr_ct > 0 THEN 'fr'
         |         ELSE 'und' END AS pred_lang
         |  FROM lc
         |), pa AS (${Curation.augSqlOn("v2")}),
         |pii AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(aug, '${Curation.EmailRe}')) AS BIGINT)
         |    + CAST(len(regexp_extract_all(aug, '${Curation.PhoneRe}')) AS BIGINT)
         |    + CAST(len(regexp_extract_all(aug, '${Curation.IpRe}')) AS BIGINT) AS pii_ct
         |  FROM pa
         |), vtok AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
         |), lv AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS ct FROM vtok
         |  WHERE doc_id % ${Curation.TrainMod} = 0 GROUP BY token
         |), ltt AS (
         |  SELECT CAST(SUM(ct) AS BIGINT) AS total_ct FROM lv
         |), ltb AS (
         |  SELECT CAST(len(bin(total_ct)) AS BIGINT) AS tbits FROM ltt
         |), tok2 AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM v2
         |), lj AS (
         |  SELECT tok2.doc_id,
         |    CASE WHEN lv.ct IS NULL THEN len(bin(ltt.total_ct))
         |         ELSE len(bin(ltt.total_ct)) - len(bin(lv.ct)) END AS bits
         |  FROM tok2 LEFT JOIN lv USING (token) CROSS JOIN ltt
         |), lmx AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tok_ct,
         |    CAST(SUM(bits) AS BIGINT) AS sb
         |  FROM lj GROUP BY doc_id
         |), lmg AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN sb * 10 > tbits * 9 * tok_ct THEN 1 ELSE 0 END AS BIGINT) AS lm_gibberish
         |  FROM lmx, ltb
         |), sp AS (
         |  SELECT doc_id,
         |    ((xor(xor((doc_id & 2147483647) * 2654435761, (doc_id >> 31) * 40503), doc_id >> 7) % 100) + 100) % 100 AS bucket
         |  FROM v2
         |)
         |SELECT v2.doc_id, diffd.status, q.keep, q.reasons, langs.pred_lang,
         |  pii.pii_ct, lmg.lm_gibberish,
         |  CAST(CASE WHEN v2.doc_id % 20 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_benchmark,
         |  CASE WHEN sp.bucket < 90 THEN 'train' WHEN sp.bucket < 95 THEN 'val' ELSE 'test' END AS split,
         |  CAST(CASE WHEN q.keep = 1 AND v2.doc_id % 20 <> 0 AND lmg.lm_gibberish = 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS train_keep
         |FROM v2
         |  JOIN diffd ON v2.doc_id = diffd.doc_id
         |  JOIN q ON v2.doc_id = q.doc_id
         |  JOIN langs ON v2.doc_id = langs.doc_id
         |  JOIN pii ON v2.doc_id = pii.doc_id
         |  JOIN lmg ON v2.doc_id = lmg.doc_id
         |  JOIN sp ON v2.doc_id = sp.doc_id
         |ORDER BY v2.doc_id""".stripMargin,
    "text_dataset_manifest" ->
      s"""WITH $curationCtes,
         |sm AS (
         |  SELECT doc_id,
         |    xor(xor((doc_id & 2147483647) * 2654435761, (doc_id >> 31) * 40503), doc_id >> 7) AS mixed
         |  FROM documents
         |), sb AS (
         |  SELECT doc_id,
         |    CASE WHEN ((mixed % 100) + 100) % 100 < 90 THEN 'train'
         |         WHEN ((mixed % 100) + 100) % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM sm
         |)
         |SELECT cur.doc_id, sb.split, cur.train_keep,
         |  CASE WHEN cur.is_benchmark = 1 THEN 'benchmark'
         |       WHEN cur.train_keep = 0 THEN 'dropped'
         |       ELSE sb.split END AS final_split
         |FROM cur JOIN sb ON cur.doc_id = sb.doc_id
         |ORDER BY cur.doc_id""".stripMargin,
    "text_corpus_stats" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS char_ct FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS token_ct,
         |    CAST(${duckCnt(stopEn)} AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
         |    CAST(char_ct - len(toks) + 1 AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len
         |  FROM t
         |), kept AS (
         |  SELECT doc_id FROM m
         |  WHERE NOT (token_ct < 10 OR token_ct > 5000 OR stopword_ratio < 0.01
         |             OR ttr < 0.2 OR avg_token_len > 12.0)
         |), reps AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), lt AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
         |), lc AS (
         |  SELECT doc_id,
         |    CAST(${duckCnt(stopEn)} AS BIGINT) AS en_ct,
         |    CAST(${duckCnt(stopEs)} AS BIGINT) AS es_ct,
         |    CAST(${duckCnt(stopDe)} AS BIGINT) AS de_ct,
         |    CAST(${duckCnt(stopFr)} AS BIGINT) AS fr_ct
         |  FROM lt
         |), langs AS (
         |  SELECT doc_id,
         |    CASE WHEN en_ct >= es_ct AND en_ct >= de_ct AND en_ct >= fr_ct AND en_ct > 0 THEN 'en'
         |         WHEN es_ct >= de_ct AND es_ct >= fr_ct AND es_ct > 0 THEN 'es'
         |         WHEN de_ct >= fr_ct AND de_ct > 0 THEN 'de'
         |         WHEN fr_ct > 0 THEN 'fr'
         |         ELSE 'und' END AS pred_lang
         |  FROM lc
         |)
         |SELECT pred_lang, COUNT(*) AS doc_ct,
         |  CAST(SUM((SELECT token_ct FROM m WHERE m.doc_id = kept.doc_id)) AS BIGINT) AS token_sum
         |FROM kept
         |  JOIN reps ON kept.doc_id = reps.doc_id
         |  JOIN langs ON kept.doc_id = langs.doc_id
         |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin,
    "text_quality_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS char_ct FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS token_ct,
         |    CAST(${duckCnt(stopEn)} AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
         |    CAST(char_ct - len(toks) + 1 AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len
         |  FROM t
         |), f AS (
         |  SELECT doc_id, list_filter([
         |    CASE WHEN token_ct < 10 THEN 'too_short' END,
         |    CASE WHEN token_ct > 5000 THEN 'too_long' END,
         |    CASE WHEN stopword_ratio < 0.01 THEN 'no_stopwords' END,
         |    CASE WHEN ttr < 0.2 THEN 'repetitive' END,
         |    CASE WHEN avg_token_len > 12.0 THEN 'tokens_too_long' END],
         |    x -> x IS NOT NULL) AS reasons
         |  FROM m
         |)
         |SELECT doc_id,
         |  CAST(CASE WHEN len(reasons) = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep,
         |  COALESCE(array_to_string(reasons, ','), '') AS reasons
         |FROM f ORDER BY doc_id""".stripMargin,
    // DuckDB md5 == Spark md5 (hex string of the same bytes), so the
    // hash-permutation sample order replays exactly.
    "text_sample_exact_k" ->
      """WITH h AS (
        |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR) || '|graft-sample') AS h
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rn
        |  FROM h
        |)
        |SELECT doc_id, source, rn FROM r WHERE rn <= 15
        |ORDER BY source, rn""".stripMargin,
    // The oracle runs the NAIVE single-window global ntile; the engine
    // runs the distributed histogram/offset decomposition. Hash
    // equality proves the decomposition reproduces ntile exactly.
    "text_quality_deciles" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS char_ct FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS token_ct,
         |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
         |      + CAST(${duckCnt(stopEn)} AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.3
         |      + CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.3 AS quality_score
         |  FROM t
         |), d AS (
         |  SELECT token_ct, quality_score,
         |    CAST(ntile(10) OVER (ORDER BY token_ct, doc_id) AS BIGINT) AS decile
         |  FROM m
         |)
         |SELECT decile, CAST(COUNT(*) AS BIGINT) AS doc_ct,
         |  MIN(token_ct) AS min_token_ct, MAX(token_ct) AS max_token_ct,
         |  CAST(SUM(token_ct) AS BIGINT) AS token_sum,
         |  MIN(quality_score) AS min_quality, MAX(quality_score) AS max_quality
         |FROM d GROUP BY decile ORDER BY decile""".stripMargin,
    "text_stats" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, source, n_chars, string_split(text, ' ') AS toks,
         |    length(text) AS char_ct
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, lang, source, n_chars, char_ct,
         |    CAST(len(toks) AS BIGINT) AS token_ct,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS uniq_token_ct,
         |    CAST(${duckCnt(stopEn)} AS BIGINT) AS stopword_ct
         |  FROM t
         |)
         |SELECT doc_id, lang, source, n_chars, char_ct, token_ct, uniq_token_ct, stopword_ct,
         |  CAST(stopword_ct AS DOUBLE) / CAST(token_ct AS DOUBLE) AS stopword_ratio,
         |  CAST(uniq_token_ct AS DOUBLE) / CAST(token_ct AS DOUBLE) AS ttr,
         |  CAST(char_ct - token_ct + 1 AS DOUBLE) / CAST(token_ct AS DOUBLE) AS avg_token_len,
         |  least(CAST(token_ct AS DOUBLE) / 100.0, 1.0) * 0.4
         |    + CAST(stopword_ct AS DOUBLE) / CAST(token_ct AS DOUBLE) * 0.3
         |    + CAST(uniq_token_ct AS DOUBLE) / CAST(token_ct AS DOUBLE) * 0.3 AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents
         |), c AS (
         |  SELECT doc_id, lang,
         |    CAST(${duckCnt(stopEn)} AS BIGINT) AS en_ct,
         |    CAST(${duckCnt(stopEs)} AS BIGINT) AS es_ct,
         |    CAST(${duckCnt(stopDe)} AS BIGINT) AS de_ct,
         |    CAST(${duckCnt(stopFr)} AS BIGINT) AS fr_ct
         |  FROM t
         |)
         |SELECT doc_id, lang, en_ct, es_ct, de_ct, fr_ct,
         |  CASE WHEN en_ct >= es_ct AND en_ct >= de_ct AND en_ct >= fr_ct AND en_ct > 0 THEN 'en'
         |       WHEN es_ct >= de_ct AND es_ct >= fr_ct AND es_ct > 0 THEN 'es'
         |       WHEN de_ct >= fr_ct AND de_ct > 0 THEN 'de'
         |       WHEN fr_ct > 0 THEN 'fr'
         |       ELSE 'und' END AS pred_lang
         |FROM c ORDER BY doc_id""".stripMargin,
    // the sample itself is deterministic: avalanche hash → exact
    // uniform → iterated-sqrt ln key, top-k by (key, doc_id)
    "text_sample_weighted" ->
      s"""WITH ${DuckSql.avalanche32Ctes(
        s"SELECT doc_id, ${DuckSql.fnvU("'d' || CAST(doc_id AS VARCHAR)")} AS u FROM documents")},
         |w AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS token_ct
         |  FROM documents
         |), keyed AS (
         |  SELECT h.doc_id, w.token_ct,
         |    (0.0 - ${Search.duckDetLn("(CAST(h.h32 + 1 AS DOUBLE) / 4294967296.0)")})
         |      / CAST(w.token_ct AS DOUBLE) AS skey
         |  FROM hashed h JOIN w ON h.doc_id = w.doc_id
         |)
         |SELECT doc_id, token_ct, skey FROM keyed
         |ORDER BY skey, doc_id LIMIT 50""".stripMargin,
    "text_chunk_rag" ->
      s"""WITH $chunkCtes
         |SELECT doc_id, chunk_index, chunk_start, chunk_len, chunk_text,
         |  snapped_text,
         |  CAST(len(string_split(snapped_text, ' ')) AS BIGINT) AS chunk_token_ct
         |FROM snapped
         |ORDER BY doc_id, chunk_index""".stripMargin,
    // full re-chunk of the synthesized v2 crawl — equality proves the
    // engine's carried rows byte-identical to a rebuild
    "text_chunk_incremental" ->
      s"""WITH ${Curation.diffCtes},
         |${chunkCtesOn("v2")}
         |SELECT doc_id, chunk_index, chunk_start, chunk_len, chunk_text,
         |  snapped_text,
         |  CAST(len(string_split(snapped_text, ' ')) AS BIGINT) AS chunk_token_ct
         |FROM snapped
         |ORDER BY doc_id, chunk_index""".stripMargin,
    "text_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_token_ct,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS bpeish_token_ct,
        |  length(text) AS char_ct,
        |  CAST(length(text) AS DOUBLE) / CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS DOUBLE) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 3 THEN []
        |      ELSE [toks[i] || '_' || toks[i+1] || '_' || toks[i+2] FOR i IN range(1, len(toks) - 1)]
        |    END AS grams
        |  FROM t
        |)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS token_ct,
        |  CASE WHEN len(toks) > 0
        |    THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |    ELSE 0.0 END AS dup_token_frac,
        |  CASE WHEN len(grams) > 0
        |    THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
        |    ELSE 0.0 END AS dup_3gram_frac,
        |  CASE WHEN len(toks) > 0
        |    THEN CAST(list_max([len(list_filter(toks, x -> x = tk)) FOR tk IN list_distinct(toks)]) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE)
        |    ELSE 0.0 END AS top_token_frac
        |FROM g ORDER BY doc_id""".stripMargin,
    "text_corpus_split" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    xor(xor((doc_id & 2147483647) * 2654435761, (doc_id >> 31) * 40503), doc_id >> 7) AS mixed
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, ((mixed % 100) + 100) % 100 AS bucket FROM m
        |)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "text_fingerprints_md5" ->
      "SELECT doc_id, md5(text) AS md5_hex FROM documents ORDER BY doc_id",
    // FNV-1a reproduced in DuckDB via HUGEINT mod-2^64 reduction
    // (DuckSql.fnvU) — full value oracle for the rolling content hash
    "text_fingerprints" ->
      s"""WITH p AS (
         |  SELECT doc_id, text,
         |    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS prefix
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, md5(text) AS md5_hex,
         |    ${DuckSql.fnvU("text")} AS hu,
         |    ${DuckSql.fnvU("prefix")} AS pu
         |  FROM p
         |)
         |SELECT doc_id, md5_hex,
         |  ${DuckSql.signed64("hu")} AS fnv64,
         |  ${DuckSql.signed64("pu")} AS prefix_fnv64
         |FROM h ORDER BY doc_id""".stripMargin,
    "text_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5 THEN
        |    list_transform(range(1, len(t) - 3), i -> array_to_string(list_slice(t, i, i + 4), ' '))
        |    END) AS gram
        |  FROM toks
        |), bg AS (
        |  SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0
        |), hits AS (
        |  SELECT g.doc_id, COUNT(DISTINCT g.gram) AS hit_ct
        |  FROM g JOIN bg USING (gram) WHERE g.doc_id % 20 <> 0 GROUP BY g.doc_id
        |)
        |SELECT d.doc_id, CAST(COALESCE(h.hit_ct, 0) AS BIGINT) AS hit_ct,
        |  CAST(CASE WHEN COALESCE(h.hit_ct, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 20 <> 0 ORDER BY d.doc_id""".stripMargin,
    "text_decontamination_report" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5 THEN
        |    list_transform(range(1, len(t) - 3), i -> array_to_string(list_slice(t, i, i + 4), ' '))
        |    END) AS gram
        |  FROM toks
        |), bg AS (
        |  SELECT DISTINCT doc_id AS bench_doc_id, gram FROM g WHERE doc_id % 20 = 0
        |), hits AS (
        |  SELECT bg.bench_doc_id,
        |    COUNT(DISTINCT g.doc_id) AS leaked_to_ct,
        |    COUNT(DISTINCT bg.gram) AS leaked_gram_ct
        |  FROM g JOIN bg USING (gram) WHERE g.doc_id % 20 <> 0
        |  GROUP BY bg.bench_doc_id
        |)
        |SELECT d.doc_id AS bench_doc_id,
        |  CAST(COALESCE(h.leaked_to_ct, 0) AS BIGINT) AS leaked_to_ct,
        |  CAST(COALESCE(h.leaked_gram_ct, 0) AS BIGINT) AS leaked_gram_ct
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.bench_doc_id
        |WHERE d.doc_id % 20 = 0 ORDER BY d.doc_id""".stripMargin,
    "text_source_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS toks, length(text) AS char_ct FROM documents
         |), m AS (
         |  SELECT doc_id, source,
         |    CAST(len(toks) AS BIGINT) AS token_ct,
         |    CAST(${duckCnt(stopEn)} AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
         |    CAST(char_ct - len(toks) + 1 AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len
         |  FROM t
         |), q AS (
         |  SELECT doc_id, source, token_ct,
         |    least(CAST(token_ct AS DOUBLE) / 100.0, 1.0) * 0.4 + stopword_ratio * 0.3 + ttr * 0.3 AS quality_score,
         |    CASE WHEN NOT (token_ct < 10 OR token_ct > 5000 OR stopword_ratio < 0.01
         |                   OR ttr < 0.2 OR avg_token_len > 12.0) THEN 1 ELSE 0 END AS keep
         |  FROM m
         |), reps AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |)
         |SELECT source, COUNT(*) AS doc_ct,
         |  CAST(SUM(keep) AS BIGINT) AS kept_ct,
         |  CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS uniq_ct,
         |  CAST(SUM(token_ct) AS BIGINT) AS token_sum,
         |  MIN(quality_score) AS min_quality,
         |  MAX(quality_score) AS max_quality
         |FROM q LEFT JOIN reps r ON q.doc_id = r.doc_id
         |GROUP BY source ORDER BY source""".stripMargin,
    "text_vocab_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
        |), counts AS (
        |  SELECT token, COUNT(*) AS token_ct, COUNT(DISTINCT doc_id) AS doc_ct FROM tok GROUP BY token
        |), total AS (
        |  SELECT CAST(SUM(token_ct) AS BIGINT) AS total_ct FROM counts
        |), ranked AS (
        |  SELECT token, token_ct, doc_ct,
        |    row_number() OVER (ORDER BY token_ct DESC, token) AS rk
        |  FROM counts
        |)
        |SELECT CAST(rk AS INTEGER) AS rk, token,
        |  CAST(token_ct AS BIGINT) AS token_ct, CAST(doc_ct AS BIGINT) AS doc_ct,
        |  CAST(SUM(token_ct) OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST((SELECT total_ct FROM total) AS DOUBLE) AS cum_share
        |FROM ranked WHERE rk <= 100 ORDER BY rk""".stripMargin,
    "text_sample_stratified" ->
      """WITH m AS (
        |  SELECT doc_id, lang,
        |    xor(xor((xor(doc_id, 99991) & 2147483647) * 2654435761, (doc_id >> 31) * 48271), doc_id >> 5) AS mixed
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, lang, ((mixed % 1000) + 1000) % 1000 AS bucket,
        |    CASE WHEN lang = 'en' THEN 500 WHEN lang = 'es' THEN 750 WHEN lang = 'zh' THEN 800
        |         WHEN lang IN ('de', 'fr') THEN 900 ELSE 1000 END AS keep_per_mille
        |  FROM m
        |)
        |SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(keep_per_mille AS BIGINT) AS keep_per_mille,
        |  CAST(CASE WHEN bucket < keep_per_mille THEN 1 ELSE 0 END AS BIGINT) AS sampled
        |FROM b ORDER BY doc_id""".stripMargin)
}
