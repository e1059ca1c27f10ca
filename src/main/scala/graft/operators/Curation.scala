package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Corpus-curation operators a large-scale training-data pipeline
  * needs beyond per-document scoring: cross-document block-level
  * dedup (the C4/Dolma "drop repeated paragraphs" pass), token-budget
  * sequence packing into training shards, PII scan/redaction, int8
  * embedding quantization, reference-LM surprisal scoring (CCNet),
  * temperature-weighted mixture sampling, and the deterministic
  * per-epoch training shuffle.
  *
  * All are declarative few-shuffle plans:
  *  - block dedup: explode → one window shuffle on the block hash →
  *    one per-doc re-aggregation (no join-back, no self-join);
  *  - packing: a two-level prefix sum (per-bucket window + a tiny
  *    bucket-offset frame) — the classic scalable cumsum, no global
  *    single-partition window;
  *  - PII: stateless per-row regexes, whole-stage codegen;
  *  - quantization: per-row array math, no shuffle at all.
  */
object Curation {

  // ---------------------------------------------------------------
  // Block-level exact dedup (C4/Dolma-style repeated-span removal)
  // ---------------------------------------------------------------

  /** Words per dedup block. Small enough that boilerplate spans
    * collide, large enough that natural text rarely collides by
    * chance (16 words ≈ a sentence). */
  val BlockWords = 16

  /** Cross-document block dedup over (doc_id, text): split each doc
    * into non-overlapping [[BlockWords]]-word blocks, keep only the
    * globally FIRST occurrence of each distinct block (ordered by
    * (doc_id, block_idx)), and reassemble the surviving blocks in
    * document order.
    *
    * Scale shape: the only wide operation is ONE window shuffle
    * keyed on the 128-bit block hash — per-key groups are tiny (the
    * duplicate count of one block), so the sort inside each key is
    * O(dup_count log dup_count); a boilerplate block repeated 10⁶
    * times lands on one reducer as a single skewed key, which AQE
    * cannot split for a window — at that extreme, pre-aggregate
    * min(doc_id, block_idx) per hash (groupBy, map-side combined)
    * and join back instead; the window form is preferred here
    * because it is one shuffle instead of two and corpus block
    * frequencies are Zipf-bounded after the quality filter.
    * Reassembly is a per-doc groupBy whose state is the doc's own
    * surviving blocks. */
  private[graft] def blockDedupOn(docs: DataFrame, blockWords: Int = BlockWords): DataFrame = {
    val blocks = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, cast(ceil(size(toks) / ${blockWords}.0d) as int) - 1),
             |  i -> array_join(slice(toks, i * $blockWords + 1, $blockWords), ' '))""".stripMargin))
          .as(Seq("block_idx", "bstr")))
      .withColumn("block_idx", col("block_idx").cast(LongType))
    val ranked = blocks
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("bstr"))).orderBy(col("doc_id"), col("block_idx"))))
    // ONE aggregation produces both the total and the kept side:
    // conditional aggregates over the ranked frame, clean text from
    // the idx-sorted surviving blocks (collect_list order is
    // nondeterministic; array_sort on (block_idx, bstr) pins it).
    ranked
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("block_ct"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("kept_ct"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1, struct(col("block_idx"), col("bstr"))))),
            x => x.getField("bstr")),
          " ").as("clean_text"))
      .withColumn("dropped_ct", col("block_ct") - col("kept_ct"))
      .select(col("doc_id"), col("block_ct"), col("kept_ct"), col("dropped_ct"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  def blockDedup(spark: SparkSession, dir: String): DataFrame =
    blockDedupOn(Tables.spread(spark, Tables.documents(spark, dir)))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------
  // Token-budget sequence packing (training-shard assignment)
  // ---------------------------------------------------------------

  /** Token capacity of one packed training shard. */
  val ShardTokens = 2048L

  /** Keys per prefix-sum block at each level of [[exclusivePrefixSum]].
    * Each inner window sees at most this many rows (bounds per-task
    * work); with levels=2 the final single-partition residue is
    * keys/4096² rows (~6·10⁴ at 10¹² keys). The packed output is
    * decomposition-independent (GraftProps), so the width is free to
    * tune. */
  val PackBucketDocs = 4096L

  /** Exclusive running sum of `valC` over ascending `keyC` (unique,
    * non-negative Longs), returned as `(keyC, valC, _prev)`.
    *
    * The standard work-efficient distributed prefix sum, as a STATIC
    * fixed-depth plan: level i blocks keys by `keyC div fanouts(i)`,
    * computes per-block exclusive cumsums as a partitioned window
    * (massively parallel), and recurses on the one-row-per-block
    * totals frame. Only the residue after the last level runs a
    * single-partition window, and no level broadcasts a
    * corpus-proportional frame (the offset joins are plain equi-joins;
    * AQE broadcasts the small side when it fits).
    *
    * THE SHRINK IS A CONTRACT ON `fanouts`, NOT A GIVEN: level i's
    * frame is the number of DISTINCT `key div fanouts(i)` values, so
    * the caller must align the fanouts with the key structure. Dense
    * keys shrink fanout× per level; a SPARSE composed key does not
    * (e.g. `doc_id·2³² + chunk` under a 4096 divisor leaves ≈ one
    * block per document — Θ(corpus) residue, the exact single-task
    * bottleneck this function exists to avoid). For composed keys the
    * first fanout must be the composition stride (2³² → level-1
    * blocks ARE the dense doc ids), then dense fanouts after. */
  private[graft] def exclusivePrefixSum(rows: DataFrame, keyC: String, valC: String,
                                        fanouts: Seq[Long]): DataFrame =
    fanouts match {
      case Seq() =>
        rows.withColumn("_prev",
          coalesce(sum(col(valC)).over(
            Window.orderBy(col(keyC)).rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select(col(keyC), col(valC), col("_prev"))
      case fanout +: rest =>
        val levels = fanouts.length
        val withB = rows.select(col(keyC), col(valC))
          .withColumn("_pb", expr(s"$keyC div $fanout"))
        val inner = withB.withColumn("_ip",
          coalesce(sum(col(valC)).over(
            Window.partitionBy(col("_pb")).orderBy(col(keyC))
              .rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        // level-unique names: at depth ≥1 keyC IS "_k<level>" and a bare
        // "_pb" withColumn would overwrite the key it blocks on
        val totals = withB.groupBy(col("_pb")).agg(sum(col(valC)).as("_bt"))
          .select(col("_pb").as(s"_k$levels"), col("_bt").as(s"_v$levels"))
        val blockOff =
          exclusivePrefixSum(totals, s"_k$levels", s"_v$levels", rest)
            .select(col(s"_k$levels").as("_pb"), col("_prev").as("_boff"))
        inner.join(blockOff, Seq("_pb"))
          .select(col(keyC), col(valC), (col("_ip") + col("_boff")).as("_prev"))
    }

  /** Contiguous token-budget packing: order docs by doc_id, give each
    * doc its exclusive running-token offset, and assign it to shard
    * `offset div capacity` — [[exclusivePrefixSum]] over the
    * (pack_key, tok_ct) frame. */
  private[graft] def packShardsOn(docs: DataFrame,
                                  capacity: Long = ShardTokens,
                                  bucketDocs: Long = PackBucketDocs): DataFrame =
    packByKey(
      docs.select(col("doc_id").as("pack_key"),
        size(split(col("text"), " ")).cast(LongType).as("tok_ct")),
      capacity, bucketDocs)
      .select(col("pack_key").as("doc_id"), col("tok_ct"),
        col("tok_offset"), col("shard_id"))

  /** The packing core over an arbitrary `(pack_key, tok_ct)` frame —
    * the prefix sum is key-agnostic, so the same machinery packs
    * documents (key = doc_id) or RAG chunks (key = the composed
    * doc/chunk ordinal, via the fanouts overload). Sparse keys stay
    * CORRECT at any fanout (GraftProps pins result-invariance across
    * bucket widths) — only the per-level SHRINK needs fanouts aligned
    * with the key structure (see [[exclusivePrefixSum]]).
    * `tok_offset` is decomposition-independent so the pack oracles
    * need no knowledge of the fanouts. */
  private[graft] def packByKey(rows: DataFrame,
                               capacity: Long = ShardTokens,
                               bucketKeys: Long = PackBucketDocs): DataFrame =
    packByKeyFanouts(rows, capacity, Seq(bucketKeys, bucketKeys))

  private[graft] def packByKeyFanouts(rows: DataFrame, capacity: Long,
                                      fanouts: Seq[Long]): DataFrame =
    exclusivePrefixSum(rows, "pack_key", "tok_ct", fanouts)
      .withColumn("tok_offset", col("_prev"))
      .select(col("pack_key"), col("tok_ct"), col("tok_offset"),
        expr(s"tok_offset div $capacity").as("shard_id"))

  /** Chunk-level sequence packing: the RAG pipeline's last mile —
    * [[TextAnalysis.chunkRagOn]]'s overlapping chunks, in (doc,
    * chunk) order, assigned contiguous token offsets and
    * [[ShardTokens]]-capacity training shards through the SAME
    * prefix sum as document packing ([[packByKey]]).
    * The composed ordinal `doc_id·2³² + chunk_index` keeps chunks of
    * one document adjacent and ordered at any chunk count (a 10 MB
    * document yields ~70 k chunks — far under 2³²). Because the key
    * is SPARSE (stride 2³² per doc), the first fanout must be the
    * stride itself: level 1 blocks by document (window over one doc's
    * chunks — document-size-bounded), whose block ids ARE the dense
    * doc ids, then two dense 4096-ary levels shrink to a docs/4096²
    * residue. A uniform 4096 fanout here would leave one block per
    * document at every level — a Θ(corpus) single-task residue.
    *
    * Domain contract: `doc_id ∈ [0, 2³¹)` — beyond that the composed
    * Long overflows negative, breaking both the `div` blocking and
    * the key order. Enforced distributedly (a codegen'd `when` +
    * `raise_error` on the key build, zero extra scans); a corpus with
    * wider ids must re-key (dense_rank) before packing. */
  /** The guarded composed chunk ordinal (see [[chunkPack]]'s domain
    * contract): `doc_id·2³² + chunk_index`, raising on any doc_id
    * outside `[0, 2³¹)` rather than silently overflowing negative. */
  private[graft] def chunkPackKey(doc: Column, idx: Column): Column =
    when(doc.between(0L, (1L << 31) - 1), doc)
      .otherwise(raise_error(concat(
        lit("chunkPack: doc_id outside the composed-key domain [0, 2^31): "),
        doc.cast(StringType)))) * lit(4294967296L) + idx

  def chunkPack(spark: SparkSession, dir: String): DataFrame =
    packByKeyFanouts(
      TextAnalysis.chunkRagOn(Tables.spread(spark, Tables.documents(spark, dir)))
        .select(
          chunkPackKey(col("doc_id"), col("chunk_index")).as("pack_key"),
          col("chunk_token_ct").as("tok_ct")),
      ShardTokens, Seq(4294967296L, PackBucketDocs, PackBucketDocs))
      .select(
        expr("pack_key div 4294967296").as("doc_id"),
        (col("pack_key") % 4294967296L).as("chunk_index"),
        col("tok_ct"), col("tok_offset"), col("shard_id"))
      .orderBy(col("doc_id"), col("chunk_index"))

  def packShards(spark: SparkSession, dir: String): DataFrame =
    // the named query packs fresh per action (r18); the shard manifest
    // reads the checkpoint share below
    packShardsOn(Tables.spread(spark, Tables.documents(spark, dir)))
      .orderBy(col("doc_id"))

  private def packShardsShared(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "curation.packShards")(
      packShardsOn(Tables.spread(spark, Tables.documents(spark, dir))))

  /** Incremental shard packing over an APPEND-ONLY corpus: the stored
    * v1 pack (docs at or below the append cutoff — here the oldest 90%
    * of the id range plays the stored corpus) is CARRIED untouched,
    * and only the appended delta is packed — its offsets shifted by
    * the stored token total (one scalar), its shard ids continuing the
    * stream. Because appends only ever add larger keys, the splice is
    * EXACTLY the full repack (the oracle recomputes everything from
    * scratch and the gate hash-compares), so a 100 TB corpus absorbs a
    * 1 GB crawl drop with O(|delta|) packing work and zero movement of
    * already-scheduled shards — the property a training-data pipeline
    * actually needs from its packer. `carried` marks the rows that
    * were NOT recomputed. */
  def packIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
    // exact integer arithmetic in the oracle's order (max*9//10):
    // Column./ is DOUBLE division, whose truncation diverges from the
    // integer floor once max*9 exceeds 2^53 — `div` stays exact
    val cut = docs.agg(max(col("doc_id")).as("mx"))
      .select(expr("mx * 9 div 10").cast(LongType).as("cut"))
    val withCut = docs.crossJoin(cut)
    val basePack = Memo(spark, dir, "curation.packIncremental.base")(
      packShardsOn(withCut.filter(col("doc_id") <= col("cut"))
        .select(col("doc_id"), col("text"))))
    packSplice(basePack,
      withCut.filter(col("doc_id") > col("cut")).select(col("doc_id"), col("text")))
      .orderBy(col("doc_id"))
  }

  /** The splice core: carry `basePack` (a packed `(doc_id, tok_ct,
    * tok_offset, shard_id)` frame) VERBATIM with `carried = true`, and
    * pack `deltaDocs` — whose doc_ids must all exceed the base's (the
    * append contract) — with offsets shifted by the base's token total
    * (one scalar) and shard ids continuing the stream. Folding this
    * over successive appends equals the one-shot pack of everything
    * (CurationSpec pins the N-batch fold). */
  private[graft] def packSplice(basePack: DataFrame, deltaDocs: DataFrame): DataFrame = {
    val baseTok = basePack.agg(coalesce(sum(col("tok_ct")), lit(0L)).as("base_tok"))
    val deltaPack = packShardsOn(deltaDocs)
      .crossJoin(baseTok) // 1-row shift scalar
      .select(col("doc_id"), col("tok_ct"),
        (col("tok_offset") + col("base_tok")).as("tok_offset"))
      .withColumn("shard_id", expr(s"tok_offset div $ShardTokens"))
      .withColumn("carried", lit(false))
    basePack.select(col("doc_id"), col("tok_ct"), col("tok_offset"),
        col("shard_id"), lit(true).as("carried"))
      .unionByName(deltaPack)
  }

  /** Shard-level manifest over [[packShards]]: the frame a training
    * job reads to plan its data loading. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    packShardsShared(spark, dir)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("doc_ct"), sum(col("tok_ct")).as("token_sum"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard_id"))

  // ---------------------------------------------------------------
  // PII scan + redaction
  // ---------------------------------------------------------------

  /** Patterns kept to the Java-regex ∩ RE2 common subset so the
    * engine (Java `regexp_*`) and the DuckDB oracle (RE2) agree
    * byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** The synthetic word-salad corpus carries no PII, so the scan is
    * exercised on a deterministic augmentation: docs at doc_id ≡ 0
    * (mod 3/5/7) get a synthetic email / phone / IP appended. Both
    * the engine and the DuckDB oracle build the SAME augmented text,
    * so every regex path is verified with real positives AND real
    * negatives (docs with none appended). */
  private[graft] def withSyntheticPii(docs: DataFrame): DataFrame =
    docs.withColumn("aug", concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" reach user"), col("doc_id").cast(StringType), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call 415-555-"), lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" host 10."), (col("doc_id") % 256).cast(StringType),
          lit(".0."), ((col("doc_id") * 7) % 256).cast(StringType)))
        .otherwise(lit(""))))

  private def reCount(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0))).cast(LongType)

  /** Per-document PII hit counts (before redaction). Stateless
    * per-row regexes — codegen'd, scan-bound, trivially streamable. */
  private[graft] def piiScanOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("aug"))
      .withColumn("email_ct", reCount(col("aug"), EmailRe))
      .withColumn("phone_ct", reCount(col("aug"), PhoneRe))
      .withColumn("ip_ct", reCount(col("aug"), IpRe))
      .withColumn("pii_ct", col("email_ct") + col("phone_ct") + col("ip_ct"))
      .withColumn("has_pii", (col("pii_ct") > 0).cast(LongType))
      .drop("aug")

  def piiScan(spark: SparkSession, dir: String): DataFrame =
    piiScanOn(withSyntheticPii(Tables.spread(spark, Tables.documents(spark, dir))))
      .orderBy(col("doc_id"))

  /** Redaction: replace each PII class with a typed placeholder, in a
    * fixed order (email → phone → ip; the classes cannot overlap, so
    * the order is cosmetic but pinned for the oracle). */
  private[graft] def piiRedactOn(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("aug"), EmailRe, "[EMAIL]"),
          PhoneRe, "[PHONE]"),
        IpRe, "[IP]").as("redacted"))

  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedactOn(withSyntheticPii(Tables.spread(spark, Tables.documents(spark, dir))))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------
  // int8 embedding quantization
  // ---------------------------------------------------------------

  /** Symmetric per-vector int8 quantization (the standard ANN-index /
    * KV-cache compression step): scale = max |x|, q_i = round(x_i /
    * scale · 127). Output is exact-integer summaries plus the scale
    * (a float preserved bit-exactly through double), so the oracle
    * compares exactly — `floor(v + 0.5)` is used instead of
    * `round()` because Spark and DuckDB disagree on banker's vs
    * half-up rounding, while floor is IEEE-pinned in both. Per-row
    * array math only: no shuffle, fully codegen'd. */
  private[graft] def quantizeOn(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("dim", size(col("v")).cast(LongType))
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("q", expr(
        """CASE WHEN scale > 0d
          |  THEN transform(v, x -> cast(floor(x / scale * 127.0d + 0.5d) as bigint))
          |  ELSE transform(v, x -> 0L) END""".stripMargin))
      .select(col("vec_id"), col("dim"), col("scale"),
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        expr("aggregate(q, 0L, (a, x) -> a + abs(x))").as("q_l1"),
        expr("cast(size(filter(q, x -> abs(x) = 127)) as bigint)").as("saturated_ct"))

  def quantize(spark: SparkSession, dir: String): DataFrame =
    quantizeOn(Tables.spread(spark, Tables.embeddings(spark, dir)))
      .orderBy(col("vec_id"))

  // ---------------------------------------------------------------
  // Two-level distributed rank + prefix sum (shared machinery)
  // ---------------------------------------------------------------

  /** Distributed rank (1-based) and exclusive running sum of `valC`
    * over rows of each `grpC` group, ordered by (`keyC`, doc_id) —
    * WITHOUT a group-wide single-partition window. Rows are bucketed
    * by the first two hex bytes of `keyC` (65 536 buckets — at 10¹¹
    * rows that is ~1.5 M rows per window task; `keyC` must be a
    * hex digest so buckets are uniform AND bucket order == key order);
    * per-bucket windows run in parallel, only one row per
    * (group, bucket) reaches the offset cumsum (≤65 536 rows per
    * group — constant-bounded), and the offsets come back via a join.
    * The offsets frame is groups×65 536 rows at worst; the planner
    * broadcasts it while it fits and shuffles both sides when not. */
  private[graft] def rankAndPrefix(df: DataFrame, grpC: String, keyC: String,
                                   valC: String): DataFrame = {
    val withB = df.withColumn("_bucket",
      conv(substring(col(keyC), 1, 4), 16, 10).cast(LongType))
    val wIn = Window.partitionBy(col(grpC), col("_bucket"))
      .orderBy(col(keyC), col("doc_id"))
    val inner = withB
      .withColumn("_rn", row_number().over(wIn).cast(LongType))
      .withColumn("_prev",
        coalesce(sum(col(valC)).over(
          wIn.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wOff = Window.partitionBy(col(grpC)).orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withB.groupBy(col(grpC), col("_bucket"))
      .agg(count(lit(1)).as("_bc"), sum(col(valC)).as("_bv"))
      .select(col(grpC), col("_bucket"),
        coalesce(sum(col("_bc")).over(wOff), lit(0L)).as("_cnt_off"),
        coalesce(sum(col("_bv")).over(wOff), lit(0L)).as("_val_off"))
    inner.join(offsets, Seq(grpC, "_bucket"))
      .withColumn("rank", col("_cnt_off") + col("_rn"))
      .withColumn("cum_before", col("_val_off") + col("_prev"))
      .drop("_bucket", "_rn", "_prev", "_cnt_off", "_val_off")
  }

  // ---------------------------------------------------------------
  // Reference-LM surprisal scoring (CCNet-shaped quality signal)
  // ---------------------------------------------------------------

  /** Docs with doc_id % TrainMod == 0 form the reference corpus the
    * unigram LM is trained on; every doc is then scored against it. */
  val TrainMod = 2L

  /** Per-document surprisal against a reference unigram LM, the CCNet
    * quality signal (score each doc by how surprising its tokens are
    * to a LM trained on trusted text). Surprisal is measured in
    * EXACT integer bits — `bits(x) = length(bin(x))` = floor(log2 x)+1,
    * identical in Spark and DuckDB — so token surprisal
    * ≈ log2(total) − log2(ct) with no cross-engine float log drift;
    * out-of-vocabulary tokens pay the maximum penalty `bits(total)`.
    * The one float column (`avg_bits`) is a single IEEE division of
    * two exact integers, bit-equal in both engines.
    *
    * Scale shape: token explode → shuffle join on token (the vocab is
    * corpus-bounded; AQE broadcasts it when small) → one per-doc
    * re-aggregation, map-side combined. No window, no collect. */
  /** Positioned lowered tokens of every doc — the frame every LM
    * consumer reads. Memoized per (session, dir): surprisal, bigram
    * and the composed curation decision share one tokenize pass (same
    * discipline as the `text.stats`/`text.grams` memos). */
  /** THE tokenization rule — single definition shared by every LM path
    * (batch, streaming, memoized), by the search tier, and mirrored by
    * every DuckDB oracle as `string_split(lower(text), ' ')`. */
  private[operators] def tokensCol: org.apache.spark.sql.Column =
    split(lower(col("text")), " ")

  private[graft] def tokensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(tokensCol).as(Seq("pos", "token")))

  private[operators] def tokensShared(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "curation.tokens")(
      tokensOf(Tables.spread(spark, Tables.documents(spark, dir))))

  /** The corpus vocabulary `(token, token_ct, doc_ct)` over
    * [[tokensShared]], memoized per (session, dir): the vocabulary
    * report, spell correction and PMI read one aggregation. */
  private[operators] def vocabShared(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "curation.vocab")(
      tokensShared(spark, dir).groupBy(col("token"))
        .agg(count(lit(1)).as("token_ct"), countDistinct(col("doc_id")).as("doc_ct")))

  /** Unigram LM over a positioned-token frame: (vocab counts, 1-row
    * total) — the static side of at-ingest scoring. */
  private[graft] def lmModelTokens(toks: DataFrame): (DataFrame, DataFrame) = {
    val vocab = toks.filter(col("doc_id") % TrainMod === 0)
      .groupBy(col("token")).agg(count(lit(1)).as("ct"))
    (vocab, vocab.agg(sum(col("ct")).as("total_ct")))
  }

  private[graft] def lmModelOn(docs: DataFrame): (DataFrame, DataFrame) =
    lmModelTokens(tokensOf(docs))

  /** Scoring pass over a token frame against a pre-built LM — ONE code
    * path for batch and streaming (the vocab join and 1-row total are
    * stream-static; the per-doc agg runs Complete/update downstream). */
  private[graft] def lmScoreTokens(toks: DataFrame, vocab: DataFrame,
                                   total: DataFrame): DataFrame =
    toks.select(col("doc_id"), col("token"))
      .join(vocab, Seq("token"), "left")
      .crossJoin(total) // 1-row LM normalizer
      .withColumn("bits",
        when(col("ct").isNull, length(bin(col("total_ct"))).cast(LongType))
          .otherwise((length(bin(col("total_ct"))) -
            length(bin(col("ct")))).cast(LongType)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tok_ct"),
        sum(when(col("ct").isNull, 1L).otherwise(0L)).as("oov_ct"),
        sum(col("bits")).as("surprisal_bits"))
      .withColumn("avg_bits",
        col("surprisal_bits").cast(DoubleType) / col("tok_ct").cast(DoubleType))

  /** Stream-compatible doc-frame form (explodes inline). */
  private[graft] def lmScoreOn(docs: DataFrame, vocab: DataFrame,
                               total: DataFrame): DataFrame =
    lmScoreTokens(tokensOf(docs), vocab, total)

  private[graft] def lmSurprisalOn(docs: DataFrame): DataFrame = {
    val (vocab, total) = lmModelOn(docs)
    lmScoreOn(docs, vocab, total)
  }

  /** Memoized reference vocab: the one corpus-scale aggregation both
    * the surprisal scorer and the gibberish-gate ceiling derive from
    * (each then runs only a tiny agg over the persisted vocab). */
  private[graft] def lmVocabShared(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "curation.lmVocab")(
      lmModelTokens(tokensShared(spark, dir))._1)

  /** Unordered form shared with the composed curation decision. */
  private[operators] def lmSurprisalShared(spark: SparkSession, dir: String): DataFrame = {
    val vocab = lmVocabShared(spark, dir)
    lmScoreTokens(tokensShared(spark, dir), vocab,
      vocab.agg(sum(col("ct")).as("total_ct")))
  }

  def lmSurprisal(spark: SparkSession, dir: String): DataFrame =
    lmSurprisalShared(spark, dir).orderBy(col("doc_id"))

  /** 1-row bits(T) of the reference LM — the OOV ceiling the composed
    * LM-gibberish gate compares against; a 1-row agg over the SAME
    * memoized vocab the scorer reads (no second corpus-scale pass). */
  private[graft] def lmTotalBits(spark: SparkSession, dir: String): DataFrame =
    lmVocabShared(spark, dir).agg(sum(col("ct")).as("total_ct"))
      .select(length(bin(col("total_ct"))).cast(LongType).as("tbits"))

  /** Bigram LM with stupid-backoff, same exact-integer-bits contract as
    * [[lmSurprisalOn]]: token i is scored −log2 P(wᵢ | wᵢ₋₁) ≈
    * bits(U(wᵢ₋₁)) − bits(B(wᵢ₋₁,wᵢ)) when the bigram was seen in the
    * reference half, else a 1-bit backoff penalty + the unigram
    * surprisal (OOV pays bits(T)); each doc's first token is scored by
    * the unigram alone. Context is recovered with `lag` over a window
    * PARTITIONED BY doc (one doc's tokens per group — bounded, never a
    * global sort), then two token-keyed shuffle joins (bigram, prev
    * unigram) — the vocab frames are corpus-bounded, AQE broadcasts
    * them when small. */
  private[graft] def lmBigramOn(docs: DataFrame): DataFrame =
    lmBigramTokens(tokensOf(docs))

  private[graft] def lmBigramTokens(toks: DataFrame): DataFrame = {
    val withPrev = toks.withColumn("prev",
      lag(col("token"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val train = withPrev.filter(col("doc_id") % TrainMod === 0)
    val uni = train.groupBy(col("token")).agg(count(lit(1)).as("uct"))
    val bi = train.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("token")).agg(count(lit(1)).as("bct"))
    val total = uni.agg(sum(col("uct")).as("total_ct"))
    val uniBits = uni.select(col("token"), length(bin(col("uct"))).as("ubits"))
    withPrev
      .join(uniBits.withColumnRenamed("token", "prev").withColumnRenamed("ubits", "pbits"),
        Seq("prev"), "left")
      .join(uniBits, Seq("token"), "left")
      .join(bi, Seq("prev", "token"), "left")
      .crossJoin(total)
      .withColumn("tbits", length(bin(col("total_ct"))))
      // unigram surprisal of the CURRENT token (OOV -> full tbits)
      .withColumn("usurp",
        when(col("ubits").isNull, col("tbits")).otherwise(col("tbits") - col("ubits")))
      .withColumn("bits",
        when(col("prev").isNull, col("usurp"))                   // doc start
          .when(col("bct").isNotNull, col("pbits") - length(bin(col("bct")))) // seen bigram
          .otherwise(lit(1) + col("usurp")))                     // backoff
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tok_ct"),
        sum(when(col("prev").isNotNull && col("bct").isNull, 1L).otherwise(0L)).as("backoff_ct"),
        sum(col("bits").cast(LongType)).as("surprisal_bits"))
      .withColumn("avg_bits",
        col("surprisal_bits").cast(DoubleType) / col("tok_ct").cast(DoubleType))
  }

  def lmBigram(spark: SparkSession, dir: String): DataFrame =
    lmBigramTokens(tokensShared(spark, dir))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------
  // Temperature-weighted mixture sampling to a token budget
  // ---------------------------------------------------------------

  /** Global budget = total corpus tokens / MixtureDenom. */
  val MixtureDenom = 4L

  /** Per-source token budgets at temperature τ = 0.5 (weights ∝
    * √mass — the standard up-weighting of small sources in training
    * mixtures), filled greedily by a deterministic md5 permutation:
    * a doc is kept while its source's budget is not yet exhausted, so
    * a source may overshoot its budget by at most one document.
    *
    * Everything is exact integer arithmetic: √mass goes through
    * IEEE-correctly-rounded sqrt then floor (identical in both
    * engines), budgets are bigint products/divisions (at corpora past
    * ~10¹⁸ token·√token, widen to DECIMAL(38,0) — one cast), and the
    * greedy fill is the two-level [[rankAndPrefix]] — per-source
    * ranking without a per-source single-partition window, so one hot
    * source cannot pin a reducer. */
  private[graft] def mixtureSampleOn(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast(LongType).as("tok_ct"))
    val masses = base.groupBy(col("source")).agg(sum(col("tok_ct")).as("mass"))
      .withColumn("isq", expr("cast(floor(sqrt(cast(mass as double))) as bigint)"))
    val tot = masses.agg(sum(col("mass")).as("total_mass"),
      sum(col("isq")).as("sum_isq"))
    val budgets = masses.crossJoin(tot)
      .withColumn("source_budget",
        expr(s"((total_mass div $MixtureDenom) * isq) div sum_isq"))
      .select(col("source"), col("source_budget"))
    val keyed = base.withColumn("pick_key",
      md5(concat(col("source"), lit(":"), col("doc_id").cast(StringType))))
    rankAndPrefix(keyed, "source", "pick_key", "tok_ct")
      .join(budgets, "source")
      .withColumn("kept", (col("cum_before") < col("source_budget")).cast(LongType))
      .select(col("doc_id"), col("source"), col("tok_ct"),
        col("rank").as("pick_rank"), col("cum_before"),
        col("source_budget"), col("kept"))
  }

  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    mixtureSampleOn(Tables.spread(spark, Tables.documents(spark, dir)))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------
  // Deterministic epoch shuffle (training-order assignment)
  // ---------------------------------------------------------------

  /** Docs per shuffled shard. */
  val ShuffleShardDocs = 64L

  /** The shuffle epoch baked into the permutation key (a new epoch =
    * a new independent permutation of the same corpus). */
  val ShuffleEpoch = 7

  /** Deterministic global shuffle for epoch [[ShuffleEpoch]]: every
    * doc gets its exact 0-based position in the md5-permuted order
    * and the training shard that position falls in. The global rank
    * is computed DISTRIBUTED via [[rankAndPrefix]] (bucket windows +
    * a 256-row offset cumsum) — the oracle's naive global-window
    * row_number proves the decomposition exact. */
  private[graft] def epochShuffleOn(docs: DataFrame,
                                    epoch: Int = ShuffleEpoch): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      md5(concat(lit(s"epoch$epoch:"), col("doc_id").cast(StringType))).as("shuffle_key"),
      lit(1L).as("one"), lit(0L).as("grp"))
    rankAndPrefix(keyed, "grp", "shuffle_key", "one")
      .withColumn("shuffle_pos", col("rank") - 1L)
      .withColumn("shard_id", expr(s"shuffle_pos div $ShuffleShardDocs"))
      .select(col("doc_id"), col("shuffle_key"), col("shuffle_pos"),
        col("shard_id"))
  }

  def epochShuffle(spark: SparkSession, dir: String): DataFrame =
    epochShuffleOn(Tables.spread(spark, Tables.documents(spark, dir)))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------
  // Vocabulary encoding (docs → token-id sequences)
  // ---------------------------------------------------------------

  /** The corpus encoded as token-id sequences — what a training job
    * actually consumes. Ids are assigned by corpus frequency rank
    * (ct desc, ties by md5(token) then token — fully deterministic),
    * 1-based; the output is the exploded (doc_id, pos, token_id) form
    * so downstream packing/sharding stays row-oriented.
    *
    * The rank over the RAW vocabulary is fully distributed — this is
    * the one place a "vocabularies are bounded" argument fails, because
    * the raw whitespace vocabulary of a web crawl has an unbounded
    * hapax tail. Three levels, none corpus- or vocabulary-wide:
    *  1. within (ct, digest-prefix bucket): parallel `row_number` — the
    *     md5 tie-break makes buckets uniform AND bucket order == rank
    *     order (the [[rankAndPrefix]] convention), and splits the huge
    *     ct=1 class 65 536 ways where a token-lexicographic tie-break
    *     could not (~1.5·10⁴ rows per task at 10⁹ hapaxes);
    *  2. bucket offsets within a ct class: a window over ≤65 536 rows
    *     per class;
    *  3. class offsets across distinct ct values: one cumsum over the
    *     distinct-count frame — O(√(corpus token mass)) rows by the
    *     standard distinct-counts bound (Σct = N ⇒ ≤ √(2N) distinct
    *     values), i.e. ~10^7 rows at 100 T tokens, versus the 10^9+
    *     raw vocabulary the old partition-less window sorted on one
    *     task. */
  def tokenIds(spark: SparkSession, dir: String): DataFrame =
    tokenIdsOn(tokensShared(spark, dir))

  /** Core over an explicit (doc_id, pos, token) frame — split out so
    * the GraftProps property can prove the three-level decomposition
    * equals the naive global-window rank on random corpora. */
  private[graft] def tokenIdsOn(toks: DataFrame): DataFrame = {
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("ct"))
      .withColumn("_dg", md5(col("token")))
      .withColumn("_bucket", conv(substring(col("_dg"), 1, 4), 16, 10).cast(LongType))
    val wIn = Window.partitionBy(col("ct"), col("_bucket"))
      .orderBy(col("_dg"), col("token"))
    val inner = counts.withColumn("_rn", row_number().over(wIn).cast(LongType))
    val wB = Window.partitionBy(col("ct")).orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val perBucket = counts.groupBy(col("ct"), col("_bucket"))
      .agg(count(lit(1)).as("_bc"))
      .withColumn("_boff", coalesce(sum(col("_bc")).over(wB), lit(0L)))
    // constant-group partition keeps the cumsum a defined-partition
    // window (epochShuffleOn's trick); the frame is distinct-ct-sized
    val wCt = Window.partitionBy(col("_g")).orderBy(col("ct").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ctOff = perBucket.groupBy(col("ct")).agg(sum(col("_bc")).as("_cc"))
      .withColumn("_g", lit(0))
      .withColumn("_coff", coalesce(sum(col("_cc")).over(wCt), lit(0L)))
      .select(col("ct"), col("_coff"))
    val ids = inner
      .join(perBucket.select(col("ct"), col("_bucket"), col("_boff")),
        Seq("ct", "_bucket"))
      .join(ctOff, Seq("ct"))
      .withColumn("token_id", col("_coff") + col("_boff") + col("_rn"))
      .select(col("token"), col("token_id"))
    toks.join(ids, "token")
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("token_id"))
      .orderBy(col("doc_id"), col("pos"))
  }

  // ---------------------------------------------------------------
  // BPE merge induction (tokenizer training)
  // ---------------------------------------------------------------

  /** Merge rounds induced; real tokenizers run tens of thousands —
    * the round LOOP is the operator, k is a budget knob. */
  val BpeRounds = 5

  /** The word-type table BPE trains on: ONE corpus scan aggregates to
    * (symbol-string, frequency) per distinct word, and every merge
    * round after that runs on this vocabulary-sized frame — the
    * textbook scalable BPE shape (Sennrich et al., ACL'16): corpus
    * touched once, rounds touch only word types. Symbols are ' '-
    * delimited with sentinel spaces so a merge is a plain substring
    * replace. */
  private def bpeWords(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "bpe.words")(
      Tables.spread(spark, Tables.documents(spark, dir))
        .select(explode(tokensCol).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .select(concat(lit(" "),
          concat_ws(" ", expr("regexp_extract_all(w, '.', 0)")),
          lit(" ")).as("syms"), col("freq")))

  private def bpePairCounts(words: DataFrame): DataFrame =
    words
      .select(col("freq"), split(trim(col("syms")), " ").as("ts"))
      .select(col("freq"), explode(expr(
        """zip_with(slice(ts, 1, greatest(size(ts) - 1, 0)),
          |         slice(ts, 2, greatest(size(ts) - 1, 0)),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("ct"))

  /** One merge application. TWO iterated plain replaces give a
    * deterministic, residual-free non-overlapping merge with identical
    * single-pass `replace` semantics in Spark and DuckDB, so the
    * oracle applies the same two calls. For a ≠ b this EQUALS
    * leftmost-greedy BPE merging (pass 1 can skip an occurrence only
    * when its leading space was consumed, skipped occurrences are
    * never adjacent, pass 2 completes); for a SELF-pair (a == b) on
    * runs of ≥ 5 identical symbols the pairing diverges from
    * leftmost-greedy at the run tail (e.g. "a a a a a" → "aa a aa",
    * greedy gives "aa aa a") — a documented variant, exhaustively
    * characterized by brute force to length 8 and pinned by the
    * GraftProps property. */
  private def bpeApplyMerge(words: DataFrame, a: String, b: String): DataFrame = {
    val pat = lit(s" $a $b ")
    val rep = lit(s" $a$b ")
    words.withColumn("syms",
      org.apache.spark.sql.functions.replace(
        org.apache.spark.sql.functions.replace(col("syms"), pat, rep), pat, rep))
  }

  /** Lineage cap for the BPE merge loops: every N applied merges the
    * word-type frame is `localCheckpoint`ed (the [[Dedup]] iterative-
    * round cadence), so plan depth stays O(N) instead of O(rounds) —
    * at the shipped [[BpeRounds]]=5 the cap never fires (plans, and
    * thus oracles, unchanged); a real 32k-merge training run would
    * otherwise build a 32k-deep `replace` lineage and crawl to a halt
    * in the analyzer long before the data mattered. Checkpointing is
    * semantics-free here (the frame is deterministic per round);
    * CurationSpec pins that a forced cadence leaves the merge table
    * bit-identical. */
  val BpeCheckpointEvery = 64

  /** BPE merge-table induction: k rounds of (count adjacent symbol
    * pairs weighted by word frequency → take the most frequent pair,
    * ties broken lexicographically → merge it everywhere). The per-
    * round top pair is a 1-row driver value (the k-means-centroid
    * precedent); everything distributed is a vocabulary-sized
    * aggregation. Output: the merge table a tokenizer ships. */
  def bpeMerges(spark: SparkSession, dir: String,
                rounds: Int = BpeRounds,
                checkpointEvery: Int = BpeCheckpointEvery): DataFrame = {
    var cur = bpeWords(spark, dir)
    val out = scala.collection.mutable.ListBuffer.empty[(Long, String, String, String, Long)]
    for (r <- 1 to rounds) {
      val top = bpePairCounts(cur)
        .orderBy(col("ct").desc, col("pair")).limit(1).head()
      val Array(a, b) = top.getString(0).split(" ", 2)
      out += ((r.toLong, a, b, a + b, top.getLong(1)))
      cur = bpeApplyMerge(cur, a, b)
      if (r % checkpointEvery == 0) cur = Memo.checkpointCounted(cur)._1
    }
    spark.createDataFrame(out.toSeq)
      .toDF("round", "p1", "p2", "merged", "pair_ct")
      .orderBy(col("round"))
  }

  /** The trained state after [[BpeRounds]] merges, for specs: the
    * word-type frame with merges applied. */
  private[graft] def bpeFinalWords(spark: SparkSession, dir: String): DataFrame = {
    var cur = bpeWords(spark, dir)
    bpeMerges(spark, dir).collect().foreach { r =>
      cur = bpeApplyMerge(cur, r.getString(1), r.getString(2))
    }
    cur
  }

  /** The corpus ENCODED with the learned merge table — the
    * tokenizer-application pass a training pipeline runs over every
    * document after BPE induction. Each position gets its token's
    * piece sequence (space-joined symbols) and piece count.
    *
    * Scale shape: the merge table is k driver rows (what a tokenizer
    * ships; memoized via [[Memo.value]] so induction runs once per
    * (session, dir)); the k merges are applied on the DISTINCT-token
    * vocabulary — each word TYPE is encoded exactly once, the
    * textbook trick that makes BPE encoding corpus-size-independent —
    * and one token-keyed join carries the encodings back to positions.
    * The corpus is scanned once; the merge loop never touches it. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokensShared(spark, dir).filter(col("token") =!= "")
    toks.join(bpeEncodedVocab(spark, dir), "token")
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        col("token"), col("pieces"), col("n_pieces"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Each distinct word type with the learned merges applied — the
    * vocab-sized frame every BPE consumer joins against ([[bpeEncode]]
    * back to positions, [[bpeVocab]] to piece frequencies). */
  private[graft] def bpeEncodedVocab(spark: SparkSession, dir: String,
                                     checkpointEvery: Int = BpeCheckpointEvery): DataFrame = {
    val merges = Memo.value(spark, dir, "bpe.merges")(
      bpeMerges(spark, dir).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)
    var vocab = tokensShared(spark, dir).filter(col("token") =!= "")
      .select(col("token")).distinct()
      .withColumn("syms", concat(lit(" "),
        concat_ws(" ", expr("regexp_extract_all(token, '.', 0)")), lit(" ")))
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      vocab = bpeApplyMerge(vocab, a, b)
      // same lineage cap as the induction loop — the application side
      // of a 32k-merge table is a 32k-deep replace chain otherwise
      // (parameterized so CurationSpec can force the cadence)
      if ((i + 1) % checkpointEvery == 0) vocab = Memo.checkpointCounted(vocab)._1
    }
    vocab
      .withColumn("pieces", trim(col("syms")))
      .withColumn("n_pieces", size(split(col("pieces"), " ")).cast(LongType))
      .select(col("token"), col("pieces"), col("n_pieces"))
  }

  /** The PIECE vocabulary with corpus frequencies — the vocab.json a
    * trained tokenizer ships: per piece, total corpus occurrences and
    * the number of distinct word types containing it. Scale shape:
    * word-type frequencies (one corpus aggregation) join the encoded
    * vocabulary, so the piece explode runs over WORD TYPES weighted by
    * frequency — vocabulary-sized, the corpus is never re-exploded. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    val freqs = tokensShared(spark, dir).filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    freqs.join(bpeEncodedVocab(spark, dir), "token")
      .select(col("token"), col("freq"),
        explode(split(col("pieces"), " ")).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("freq")).as("ct"),
        countDistinct(col("token")).as("word_type_ct"))
      .orderBy(col("ct").desc, col("piece"))
  }

  /** Tokenizer-evaluation report over the encoded corpus: per
    * (lang, source), token/piece/char mass plus FERTILITY (pieces per
    * token — the standard "how well does this tokenizer fit this
    * slice" metric; high-fertility slices waste context window) and
    * compression (chars per piece). Exact integer masses; the two
    * ratios are single IEEE divisions of exact longs, bit-equal in
    * DuckDB. Scale shape: rides [[bpeEncode]] (vocab-sized merge work)
    * + one doc-keyed metadata join + one partial-agg groupBy over a
    * (langs × sources)-sized result. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val meta = Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"))
    bpeEncode(spark, dir).join(meta, "doc_id")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(length(col("token")).cast(LongType)).as("n_chars"))
      .withColumn("fertility",
        col("n_pieces").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("chars_per_piece",
        col("n_chars").cast(DoubleType) / col("n_pieces").cast(DoubleType))
      .orderBy(col("lang"), col("source"))
  }

  // ---------------------------------------------------------------
  // Crawl snapshot diff (incremental corpus maintenance)
  // ---------------------------------------------------------------

  /** Deterministic "next crawl" of the corpus, so the diff operator is
    * exercised with every outcome class on real data (both engines
    * derive the SAME v2): docs at doc_id ≡ 0 (mod 13) disappear,
    * ≡ 0 (mod 11) get revised text, every ≡ 0 (mod 17) spawns a new
    * doc at doc_id + 10⁹. */
  private[graft] def snapshotV2On(docs: DataFrame): DataFrame =
    snapshotV2FullOn(docs).select(col("doc_id"), col("text"))

  /** The v2 snapshot WITH its metadata columns (lang/source carried
    * from the parent document, n_chars recomputed from the revised
    * text) — what the incremental curation run scores. [[snapshotV2On]]
    * is its (doc_id, text) projection, so the diff and the incremental
    * manifest see the SAME v2 by construction. */
  private[graft] def snapshotV2FullOn(docs: DataFrame): DataFrame = {
    val base = docs.filter(col("doc_id") % 13 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    val added = docs.filter(col("doc_id") % 17 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      .withColumn("text", concat(lit("new crawl "), col("text")))
    base.unionByName(added)
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }

  /** The crawl diff as a SHARED INTERMEDIATE ([[Memo]]
    * checkpoint): one diff per (session, dir) feeds every incremental-
    * maintenance consumer — postings, minhash signatures, RAG chunks,
    * blockhashes, the curation manifest — exactly the production
    * shape, where the crawler emits ONE diff table and every index-
    * maintenance job consumes it (r18, guide §2.4: the diff's
    * full-outer hash join is the one corpus-scale shuffle these
    * queries share; inline, each of the five consumers re-ran it per
    * action). The named `text_snapshot_diff`/`_summary` queries keep
    * computing their own diff per action, so their timed windows still
    * measure the operator itself. */
  private[graft] def snapshotDiffShared(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "curation.diff") {
      val docs = Tables.spread(spark, Tables.documents(spark, dir))
      snapshotDiffOn(docs, snapshotV2On(docs))
    }

  /** Content-level diff of two corpus snapshots: FULL OUTER join on
    * doc_id, classification from join-side presence + md5 inequality —
    * the operator never sees the synthesis rules. One shuffle on the
    * id both sides already carry; the downstream incremental pipeline
    * (re-dedup, re-score) touches only the added/changed slice. */
  private[graft] def snapshotDiffOn(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), md5(col("text")).as("h1"),
      size(split(col("text"), " ")).cast(LongType).as("t1"))
    val b = v2.select(col("doc_id"), md5(col("text")).as("h2"),
      size(split(col("text"), " ")).cast(LongType).as("t2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed"))
      .select(col("doc_id"), col("status"),
        coalesce(col("h1"), lit("")).as("v1_hash"),
        coalesce(col("h2"), lit("")).as("v2_hash"),
        (coalesce(col("t2"), lit(0L)) - coalesce(col("t1"), lit(0L))).as("tok_delta"))
  }

  /** Distribution drift between crawls: Jensen–Shannon divergence of
    * the two snapshots' unigram distributions plus the vocabulary
    * churn — the "did the new crawl shift what the model will see"
    * gate run BEFORE retraining on v2, complementing the row-level
    * [[snapshotDiffOn]] (which says which docs changed, not whether
    * the token distribution moved).
    *
    * JS = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2 — always finite (M > 0
    * wherever either side has mass) and symmetric. Probabilities are
    * exact count ratios; ln is the shared iterated-sqrt
    * [[Search.detLn]]; both KL sums are sorted left-folds, so the
    * single output double is bit-identical to DuckDB's replay. Scale:
    * two scans + a vocabulary-keyed full-outer join; the fold collects
    * the vocabulary once — at an unbounded vocabulary swap in a plain
    * `sum` (the PageRank trade-off note) or pre-aggregate by hash
    * range. */
  def distDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
    distDriftOn(docs, snapshotV2On(docs))
  }

  private[graft] def distDriftOn(v1: DataFrame, v2: DataFrame): DataFrame = {
    def uni(d: DataFrame, ctName: String): DataFrame =
      d.select(explode(tokensCol).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as(ctName))
    val j = uni(v1, "ct1")
      .join(uni(v2, "ct2"), Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("ct1"), lit(0L)).as("ct1"),
        coalesce(col("ct2"), lit(0L)).as("ct2"))
    val tot = j.agg(sum(col("ct1")).as("n1"), sum(col("ct2")).as("n2"))
    j.crossJoin(tot)
      .withColumn("pp", col("ct1").cast(DoubleType) / col("n1").cast(DoubleType))
      .withColumn("pq", col("ct2").cast(DoubleType) / col("n2").cast(DoubleType))
      .withColumn("m", (col("pp") + col("pq")) / lit(2.0))
      .withColumn("tp", when(col("pp") > 0.0,
        col("pp") * Search.detLn(col("pp") / col("m"))).otherwise(lit(0.0)))
      .withColumn("tq", when(col("pq") > 0.0,
        col("pq") * Search.detLn(col("pq") / col("m"))).otherwise(lit(0.0)))
      .agg(
        max(col("n1")).as("n_tokens_v1"), max(col("n2")).as("n_tokens_v2"),
        sum(when(col("ct1") > 0, 1L).otherwise(0L)).as("vocab_v1"),
        sum(when(col("ct2") > 0, 1L).otherwise(0L)).as("vocab_v2"),
        sum(when(col("ct1") === 0, 1L).otherwise(0L)).as("vocab_added"),
        sum(when(col("ct2") === 0, 1L).otherwise(0L)).as("vocab_removed"),
        ((lit(0.5) * expr(
          "aggregate(sort_array(collect_list(tp)), cast(0.0 as double), (a, x) -> a + x)")) +
          (lit(0.5) * expr(
            "aggregate(sort_array(collect_list(tq)), cast(0.0 as double), (a, x) -> a + x)")))
          .as("js_divergence"))
  }

  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
    snapshotDiffOn(docs, snapshotV2On(docs)).orderBy(col("doc_id"))
  }

  /** The planner's view of the diff: per-status doc counts and token
    * churn — what an incremental run must reprocess. */
  def snapshotDiffSummary(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
    snapshotDiffOn(docs, snapshotV2On(docs))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("doc_ct"), sum(col("tok_delta")).as("token_delta"))
      .orderBy(col("status"))
  }

  // ---------------------------------------------------------------
  // Registration
  // ---------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_block_dedup" -> ((s, d) => blockDedup(s, d)),
    "text_pack_shards" -> ((s, d) => packShards(s, d)),
    "text_incremental_pack" -> ((s, d) => packIncremental(s, d)),
    "text_chunk_pack" -> ((s, d) => chunkPack(s, d)),
    "text_shard_manifest" -> ((s, d) => shardManifest(s, d)),
    "text_pii_scan" -> ((s, d) => piiScan(s, d)),
    "text_pii_redact" -> ((s, d) => piiRedact(s, d)),
    "sim_embedding_quantize" -> ((s, d) => quantize(s, d)),
    "text_lm_surprisal" -> ((s, d) => lmSurprisal(s, d)),
    "text_lm_bigram" -> ((s, d) => lmBigram(s, d)),
    "text_mixture_sample" -> ((s, d) => mixtureSample(s, d)),
    "text_epoch_shuffle" -> ((s, d) => epochShuffle(s, d)),
    "text_snapshot_diff" -> ((s, d) => snapshotDiff(s, d)),
    "text_dist_drift" -> ((s, d) => distDrift(s, d)),
    "text_snapshot_diff_summary" -> ((s, d) => snapshotDiffSummary(s, d)),
    "text_token_ids" -> ((s, d) => tokenIds(s, d)),
    "text_bpe_merges" -> ((s, d) => bpeMerges(s, d)),
    "text_bpe_encode" -> ((s, d) => bpeEncode(s, d)),
    "text_bpe_fertility" -> ((s, d) => bpeFertility(s, d)),
    "text_bpe_vocab" -> ((s, d) => bpeVocab(s, d)))

  // Single-line on purpose: this fragment is interpolated into
  // stripMargin'd oracle strings, where a line starting with `||`
  // would lose its first pipe to the margin stripping. Shared with the
  // composed curation-decision oracle (TextAnalysis).
  private[operators] def augSqlOn(table: String): String =
    s"SELECT doc_id, text" +
      " || CASE WHEN doc_id % 3 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END" +
      " || CASE WHEN doc_id % 5 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END" +
      " || CASE WHEN doc_id % 7 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END" +
      s" AS aug FROM $table"

  private[operators] val augSql: String = augSqlOn("documents")

  /** Shared two-level prefix-sum rebuild (text_pack_shards +
    * text_shard_manifest read the same `packed` CTE — one definition,
    * engine/oracle parity cannot drift between the siblings). */
  private val packCtes: String =
    s"""t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_ct,
       |    doc_id // $PackBucketDocs AS bucket
       |  FROM documents
       |), i AS (
       |  SELECT doc_id, tok_ct, bucket,
       |    COALESCE(SUM(tok_ct) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS inner_prev
       |  FROM t
       |), bt AS (
       |  SELECT bucket, SUM(tok_ct) AS bt FROM t GROUP BY bucket
       |), bo AS (
       |  SELECT bucket, COALESCE(SUM(bt) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bucket_prev
       |  FROM bt
       |), packed AS (
       |  SELECT i.doc_id, i.tok_ct,
       |    CAST(bo.bucket_prev + i.inner_prev AS BIGINT) AS tok_offset,
       |    CAST((bo.bucket_prev + i.inner_prev) // $ShardTokens AS BIGINT) AS shard_id
       |  FROM i JOIN bo USING (bucket)
       |)""".stripMargin

  /** Shared crawl-diff rebuild (the v2 synthesis rules live ONCE for
    * both snapshot oracles). */
  private[operators] val diffCtes: String =
    """v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS doc_id, 'new crawl ' || text AS text
      |  FROM documents WHERE doc_id % 17 = 0
      |), va AS (
      |  SELECT doc_id, md5(text) AS h1,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t1 FROM documents
      |), vb AS (
      |  SELECT doc_id, md5(text) AS h2,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t2 FROM v2
      |), diffd AS (
      |  SELECT COALESCE(va.doc_id, vb.doc_id) AS doc_id,
      |    CASE WHEN h1 IS NULL THEN 'added' WHEN h2 IS NULL THEN 'removed'
      |         WHEN h1 = h2 THEN 'unchanged' ELSE 'changed' END AS status,
      |    COALESCE(h1, '') AS v1_hash, COALESCE(h2, '') AS v2_hash,
      |    COALESCE(t2, 0) - COALESCE(t1, 0) AS tok_delta
      |  FROM va FULL OUTER JOIN vb ON va.doc_id = vb.doc_id
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_block_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |bl AS (
         |  SELECT doc_id,
         |    list_transform(range(0, CAST(ceil(len(toks) / $BlockWords.0) AS BIGINT)),
         |      i -> array_to_string(list_slice(toks, CAST($BlockWords*i+1 AS INT), CAST($BlockWords*i+$BlockWords AS INT)), ' ')) AS blocks
         |  FROM t
         |), b0 AS (
         |  SELECT doc_id, unnest(range(0, len(blocks))) AS bi, unnest(blocks) AS bstr FROM bl
         |), b AS (
         |  SELECT doc_id, CAST(bi AS BIGINT) AS block_idx, bstr FROM b0
         |), k AS (
         |  SELECT doc_id, block_idx, bstr,
         |    row_number() OVER (PARTITION BY md5(bstr) ORDER BY doc_id, block_idx) AS rn
         |  FROM b
         |), tot AS (
         |  SELECT doc_id, COUNT(*) AS block_ct FROM b GROUP BY doc_id
         |), kept AS (
         |  SELECT doc_id, COUNT(*) AS kept_ct,
         |    string_agg(bstr, ' ' ORDER BY block_idx) AS clean_text
         |  FROM k WHERE rn = 1 GROUP BY doc_id
         |)
         |SELECT tot.doc_id, CAST(tot.block_ct AS BIGINT) AS block_ct,
         |  CAST(COALESCE(kept.kept_ct, 0) AS BIGINT) AS kept_ct,
         |  CAST(tot.block_ct - COALESCE(kept.kept_ct, 0) AS BIGINT) AS dropped_ct,
         |  COALESCE(kept.clean_text, '') AS clean_text
         |FROM tot LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin,
    "text_pack_shards" ->
      s"""WITH $packCtes
         |SELECT doc_id, tok_ct, tok_offset, shard_id
         |FROM packed ORDER BY doc_id""".stripMargin,
    // the incremental packer must EQUAL the from-scratch pack (append
    // splice exactness); carried = below the append cutoff
    "text_incremental_pack" ->
      s"""WITH $packCtes,
         |cutoff AS (SELECT CAST(max(doc_id) * 9 // 10 AS BIGINT) AS cut FROM documents)
         |SELECT doc_id, tok_ct, tok_offset, shard_id,
         |  doc_id <= (SELECT cut FROM cutoff) AS carried
         |FROM packed ORDER BY doc_id""".stripMargin,
    // chunk CTEs (TextAnalysis) + the same two-level prefix sum keyed
    // by the composed doc/chunk ordinal
    "text_chunk_pack" ->
      s"""WITH ${TextAnalysis.chunkCtes},
         |ck AS (
         |  SELECT doc_id, chunk_index,
         |    doc_id * 4294967296 + chunk_index AS pack_key,
         |    CAST(len(string_split(snapped_text, ' ')) AS BIGINT) AS tok_ct,
         |    (doc_id * 4294967296 + chunk_index) // $PackBucketDocs AS bucket
         |  FROM snapped
         |), ci AS (
         |  SELECT *, COALESCE(SUM(tok_ct) OVER (PARTITION BY bucket ORDER BY pack_key
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS inner_prev
         |  FROM ck
         |), cbt AS (
         |  SELECT bucket, SUM(tok_ct) AS bt FROM ck GROUP BY bucket
         |), cbo AS (
         |  SELECT bucket, COALESCE(SUM(bt) OVER (ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bucket_prev
         |  FROM cbt
         |), cpacked AS (
         |  SELECT ci.doc_id, ci.chunk_index, ci.tok_ct,
         |    CAST(cbo.bucket_prev + ci.inner_prev AS BIGINT) AS tok_offset
         |  FROM ci JOIN cbo ON ci.bucket = cbo.bucket
         |)
         |SELECT doc_id, chunk_index, tok_ct, tok_offset,
         |  tok_offset // $ShardTokens AS shard_id
         |FROM cpacked ORDER BY doc_id, chunk_index""".stripMargin,
    "text_shard_manifest" ->
      s"""WITH $packCtes
         |SELECT shard_id, COUNT(*) AS doc_ct, CAST(SUM(tok_ct) AS BIGINT) AS token_sum,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM packed GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "text_pii_scan" ->
      s"""WITH a AS ($augSql), c AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT) AS email_ct,
         |    CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS BIGINT) AS phone_ct,
         |    CAST(len(regexp_extract_all(aug, '$IpRe')) AS BIGINT) AS ip_ct
         |  FROM a
         |)
         |SELECT doc_id, email_ct, phone_ct, ip_ct,
         |  email_ct + phone_ct + ip_ct AS pii_ct,
         |  CAST(CASE WHEN email_ct + phone_ct + ip_ct > 0 THEN 1 ELSE 0 END AS BIGINT) AS has_pii
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_pii_redact" ->
      s"""WITH a AS ($augSql)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(aug,
         |    '$EmailRe', '[EMAIL]', 'g'),
         |    '$PhoneRe', '[PHONE]', 'g'),
         |    '$IpRe', '[IP]', 'g') AS redacted
         |FROM a ORDER BY doc_id""".stripMargin,
    "sim_embedding_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, CAST(len(v) AS BIGINT) AS dim,
        |    list_max(list_transform(v, x -> abs(x))) AS scale, v
        |  FROM e
        |), q AS (
        |  SELECT vec_id, dim, scale,
        |    CASE WHEN scale > 0
        |      THEN list_transform(v, x -> CAST(floor(x / scale * 127.0 + 0.5) AS BIGINT))
        |      ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
        |  FROM s
        |)
        |SELECT vec_id, dim, scale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  list_min(qv) AS q_min, list_max(qv) AS q_max,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
        |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS saturated_ct
        |FROM q ORDER BY vec_id""".stripMargin,
    "text_lm_surprisal" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
         |), v AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS ct FROM tok
         |  WHERE doc_id % $TrainMod = 0 GROUP BY token
         |), t AS (
         |  SELECT CAST(SUM(ct) AS BIGINT) AS total_ct FROM v
         |), j AS (
         |  SELECT tok.doc_id,
         |    CASE WHEN v.ct IS NULL THEN len(bin(t.total_ct))
         |         ELSE len(bin(t.total_ct)) - len(bin(v.ct)) END AS bits,
         |    CASE WHEN v.ct IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tok LEFT JOIN v USING (token) CROSS JOIN t
         |)
         |SELECT doc_id, COUNT(*) AS tok_ct,
         |  CAST(SUM(oov) AS BIGINT) AS oov_ct,
         |  CAST(SUM(bits) AS BIGINT) AS surprisal_bits,
         |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bits
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_lm_bigram" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
         |), tok AS (
         |  SELECT doc_id,
         |    unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS token
         |  FROM t0
         |), wp AS (
         |  SELECT doc_id, pos, token,
         |    LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM tok
         |), uni AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS uct FROM wp
         |  WHERE doc_id % $TrainMod = 0 GROUP BY token
         |), bi AS (
         |  SELECT prev, token, CAST(COUNT(*) AS BIGINT) AS bct FROM wp
         |  WHERE doc_id % $TrainMod = 0 AND prev IS NOT NULL GROUP BY prev, token
         |), t AS (
         |  SELECT CAST(SUM(uct) AS BIGINT) AS total_ct FROM uni
         |), j AS (
         |  SELECT wp.doc_id, wp.prev,
         |    len(bin(t.total_ct)) AS tbits,
         |    CASE WHEN u.uct IS NULL THEN len(bin(t.total_ct))
         |         ELSE len(bin(t.total_ct)) - len(bin(u.uct)) END AS usurp,
         |    b.bct, pu.uct AS puct
         |  FROM wp
         |  LEFT JOIN uni u ON wp.token = u.token
         |  LEFT JOIN uni pu ON wp.prev = pu.token
         |  LEFT JOIN bi b ON wp.prev = b.prev AND wp.token = b.token
         |  CROSS JOIN t
         |), s AS (
         |  SELECT doc_id,
         |    CASE WHEN prev IS NULL THEN usurp
         |         WHEN bct IS NOT NULL THEN len(bin(puct)) - len(bin(bct))
         |         ELSE 1 + usurp END AS bits,
         |    CASE WHEN prev IS NOT NULL AND bct IS NULL THEN 1 ELSE 0 END AS backoff
         |  FROM j
         |)
         |SELECT doc_id, COUNT(*) AS tok_ct,
         |  CAST(SUM(backoff) AS BIGINT) AS backoff_ct,
         |  CAST(SUM(bits) AS BIGINT) AS surprisal_bits,
         |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bits
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_mixture_sample" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_ct
         |  FROM documents
         |), m AS (
         |  SELECT source, CAST(SUM(tok_ct) AS BIGINT) AS mass,
         |    CAST(floor(sqrt(CAST(SUM(tok_ct) AS DOUBLE))) AS BIGINT) AS isq
         |  FROM base GROUP BY source
         |), t AS (
         |  SELECT CAST(SUM(mass) AS BIGINT) AS total_mass,
         |    CAST(SUM(isq) AS BIGINT) AS sum_isq FROM m
         |), b AS (
         |  SELECT m.source,
         |    ((t.total_mass // $MixtureDenom) * m.isq) // t.sum_isq AS source_budget
         |  FROM m CROSS JOIN t
         |), r AS (
         |  SELECT doc_id, source, tok_ct,
         |    md5(source || ':' || CAST(doc_id AS VARCHAR)) AS pick_key
         |  FROM base
         |), w AS (
         |  SELECT doc_id, source, tok_ct,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY pick_key, doc_id) AS BIGINT) AS pick_rank,
         |    CAST(COALESCE(SUM(tok_ct) OVER (PARTITION BY source ORDER BY pick_key, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM r
         |)
         |SELECT w.doc_id, w.source, w.tok_ct, w.pick_rank, w.cum_before,
         |  CAST(b.source_budget AS BIGINT) AS source_budget,
         |  CAST(CASE WHEN w.cum_before < b.source_budget THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM w JOIN b USING (source) ORDER BY doc_id""".stripMargin,
    // JS divergence: same v2 synthesis, same detLn, same sorted folds
    "text_dist_drift" ->
      s"""WITH $diffCtes,
         |dc1 AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS ct1 FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
         |  ) GROUP BY 1
         |), dc2 AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS ct2 FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS token FROM v2
         |  ) GROUP BY 1
         |), jj AS (
         |  SELECT COALESCE(dc1.token, dc2.token) AS token,
         |    COALESCE(ct1, 0) AS ct1, COALESCE(ct2, 0) AS ct2
         |  FROM dc1 FULL OUTER JOIN dc2 ON dc1.token = dc2.token
         |), tot AS (
         |  SELECT CAST(SUM(ct1) AS BIGINT) AS n1, CAST(SUM(ct2) AS BIGINT) AS n2 FROM jj
         |), dterms AS (
         |  SELECT ct1, ct2, n1, n2,
         |    CAST(ct1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS pp,
         |    CAST(ct2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS pq
         |  FROM jj CROSS JOIN tot
         |), dscored AS (
         |  SELECT *,
         |    CASE WHEN pp > 0.0
         |      THEN pp * ${Search.duckDetLn("(pp / ((pp + pq) / 2.0))")} ELSE 0.0 END AS tp,
         |    CASE WHEN pq > 0.0
         |      THEN pq * ${Search.duckDetLn("(pq / ((pp + pq) / 2.0))")} ELSE 0.0 END AS tq
         |  FROM dterms
         |)
         |SELECT MAX(n1) AS n_tokens_v1, MAX(n2) AS n_tokens_v2,
         |  CAST(SUM(CASE WHEN ct1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_v1,
         |  CAST(SUM(CASE WHEN ct2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_v2,
         |  CAST(SUM(CASE WHEN ct1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_added,
         |  CAST(SUM(CASE WHEN ct2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_removed,
         |  (0.5 * list_reduce(list_sort(list(tp)), (a, x) -> a + x))
         |    + (0.5 * list_reduce(list_sort(list(tq)), (a, x) -> a + x)) AS js_divergence
         |FROM dscored""".stripMargin,
    "text_snapshot_diff" ->
      s"""WITH $diffCtes
         |SELECT doc_id, status, v1_hash, v2_hash, tok_delta
         |FROM diffd ORDER BY doc_id""".stripMargin,
    "text_snapshot_diff_summary" ->
      s"""WITH $diffCtes
         |SELECT status, COUNT(*) AS doc_ct,
         |  CAST(SUM(tok_delta) AS BIGINT) AS token_delta
         |FROM diffd GROUP BY status ORDER BY status""".stripMargin,
    "text_token_ids" ->
      """WITH t0 AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        |), tok AS (
        |  SELECT doc_id,
        |    unnest(range(0, len(toks))) AS pos, unnest(toks) AS token
        |  FROM t0
        |), v AS (
        |  SELECT token, COUNT(*) AS ct FROM tok GROUP BY token
        |), ids AS (
        |  SELECT token,
        |    CAST(ROW_NUMBER() OVER (ORDER BY ct DESC, md5(token), token) AS BIGINT) AS token_id
        |  FROM v
        |)
        |SELECT tok.doc_id, CAST(tok.pos AS BIGINT) AS pos, ids.token_id
        |FROM tok JOIN ids USING (token)
        |ORDER BY doc_id, pos""".stripMargin,
    "text_epoch_shuffle" ->
      s"""WITH k AS (
         |  SELECT doc_id,
         |    md5('epoch$ShuffleEpoch:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
         |  FROM documents
         |)
         |SELECT doc_id, shuffle_key,
         |  CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS shuffle_pos,
         |  CAST((ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1) // $ShuffleShardDocs AS BIGINT) AS shard_id
         |FROM k ORDER BY doc_id""".stripMargin,
    // The BPE induction replayed round by round: each round's CTE trio
    // (pair counts over the previous word state, the scalar top pair,
    // the doubly-applied merge replace — the same two replace calls as
    // bpeApplyMerge, so leftmost-greedy semantics match exactly) feeds
    // the next; the merge table is the union of the k scalar rows.
    "text_bpe_merges" -> {
      val rows = (1 to BpeRounds).map { r =>
        s"SELECT CAST($r AS BIGINT) AS round, a AS p1, b AS p2, a || b AS merged, ct AS pair_ct FROM t$r"
      }.mkString("\nUNION ALL\n")
      s"WITH $bpeReplayCtes\n$rows\nORDER BY round"
    },
    // Encoding replays the SAME merge sequence over the distinct-token
    // vocabulary (each word type once), then joins back to positions —
    // the engine's exact shape.
    "text_bpe_encode" ->
      s"""$bpeEncodePrefix
         |SELECT btok.doc_id, CAST(btok.pos AS BIGINT) AS pos, btok.token,
         |  e.pieces, e.n_pieces
         |FROM btok JOIN encf e USING (token)
         |WHERE btok.token <> ''
         |ORDER BY doc_id, pos""".stripMargin,
    "text_bpe_fertility" ->
      s"""$bpeEncodePrefix
         |SELECT d.lang, d.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(SUM(len(btok.token)) AS BIGINT) AS n_chars,
         |  CAST(CAST(SUM(e.n_pieces) AS BIGINT) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS fertility,
         |  CAST(CAST(SUM(len(btok.token)) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(SUM(e.n_pieces) AS BIGINT) AS DOUBLE) AS chars_per_piece
         |FROM btok
         |JOIN encf e USING (token)
         |JOIN documents d USING (doc_id)
         |WHERE btok.token <> ''
         |GROUP BY d.lang, d.source
         |ORDER BY lang, source""".stripMargin,
    "text_bpe_vocab" ->
      s"""$bpeEncodePrefix,
         |bfr AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM btok WHERE token <> '' GROUP BY token
         |), bpc AS (
         |  SELECT f.token, f.freq, unnest(string_split(e.pieces, ' ')) AS piece
         |  FROM bfr f JOIN encf e USING (token)
         |)
         |SELECT piece, CAST(SUM(freq) AS BIGINT) AS ct,
         |  CAST(COUNT(DISTINCT token) AS BIGINT) AS word_type_ct
         |FROM bpc GROUP BY piece ORDER BY ct DESC, piece""".stripMargin)

  /** Shared WITH-prefix of the BPE encode/fertility oracles: training
    * replay + positioned tokens (`btok`) + per-word-type encodings
    * (`encf`). */
  private def bpeEncodePrefix: String = {
    val encRounds = (1 to BpeRounds).map { r =>
      s"""enc$r AS MATERIALIZED (
         |  SELECT token, replace(replace(syms,
         |      ' ' || (SELECT a FROM t$r) || ' ' || (SELECT b FROM t$r) || ' ',
         |      ' ' || (SELECT a FROM t$r) || (SELECT b FROM t$r) || ' '),
         |      ' ' || (SELECT a FROM t$r) || ' ' || (SELECT b FROM t$r) || ' ',
         |      ' ' || (SELECT a FROM t$r) || (SELECT b FROM t$r) || ' ') AS syms
         |  FROM enc${r - 1}
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeReplayCtes,
       |bt0 AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
       |), btok AS (
       |  SELECT doc_id,
       |    unnest(range(0, len(toks))) AS pos, unnest(toks) AS token
       |  FROM bt0
       |), enc0 AS (
       |  SELECT DISTINCT token,
       |    ' ' || array_to_string(regexp_extract_all(token, '.'), ' ') || ' ' AS syms
       |  FROM btok WHERE token <> ''
       |),
       |$encRounds,
       |encf AS (
       |  SELECT token, trim(syms) AS pieces,
       |    CAST(len(string_split(trim(syms), ' ')) AS BIGINT) AS n_pieces
       |  FROM enc$BpeRounds
       |)""".stripMargin
  }

  /** The BPE training replay shared by the merges and encode oracles:
    * `w0` (sentinel-spaced word types) through `w{k}` with the scalar
    * top-pair CTEs `t1..tk` in between. */
  private def bpeReplayCtes: String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT ' ' || array_to_string(regexp_extract_all(w, '.'), ' ') || ' ' AS syms,
        |    CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w
        |)""".stripMargin
    val rounds = (1 to BpeRounds).map { r =>
      val prev = s"w${r - 1}"
      s"""pc$r AS MATERIALIZED (
         |  SELECT ts[i] || ' ' || ts[i + 1] AS pair, CAST(SUM(freq) AS BIGINT) AS ct
         |  FROM (SELECT string_split(trim(syms), ' ') AS ts, freq FROM $prev),
         |       unnest(range(1, len(ts))) AS u(i)
         |  GROUP BY 1
         |), t$r AS MATERIALIZED (
         |  SELECT pair, ct, string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
         |  FROM pc$r ORDER BY ct DESC, pair LIMIT 1
         |), w$r AS MATERIALIZED (
         |  SELECT replace(replace(syms,
         |      ' ' || (SELECT a FROM t$r) || ' ' || (SELECT b FROM t$r) || ' ',
         |      ' ' || (SELECT a FROM t$r) || (SELECT b FROM t$r) || ' '),
         |      ' ' || (SELECT a FROM t$r) || ' ' || (SELECT b FROM t$r) || ' ',
         |      ' ' || (SELECT a FROM t$r) || (SELECT b FROM t$r) || ' ') AS syms, freq
         |  FROM $prev
         |)""".stripMargin
    }.mkString(",\n")
    s"$w0,\n$rounds"
  }
}
