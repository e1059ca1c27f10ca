package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.GraftExpressions

/** Multimodal column plumbing: opaque `binary` payloads with typed
  * metadata, probed at scan speed.
  *
  * The fixture has no real media files, so [[mediaTable]] synthesizes
  * payloads that carry REAL container headers — a valid PNG signature
  * + IHDR, a JPEG SOI/APP0/COM/SOF0 marker sequence, a RIFF/WAVE
  * `fmt ` chunk — with dimensions/channels/sample-rate derived
  * deterministically from `doc_id`, followed by the document text as
  * stand-in content bytes. [[mediaFeatures]] then recovers format and
  * geometry by PARSING THE BYTES with the codegen'd
  * [[graft.functions.MediaHeaderInfo]] probe (magic-byte detection,
  * IHDR/SOF0/fmt-chunk field extraction) — so the query proves the
  * header-parse path end to end, and the DuckDB oracle can rebuild
  * every output column from `doc_id` + text length alone. A full
  * pixel/sample decode still needs codec libraries this container
  * lacks; headers are the honest, library-free 90% of curation-time
  * media introspection (format routing, aspect filtering, bitrate
  * math).
  *
  * Scale notes: payloads stay columnar (parquet binary) end to end;
  * the probe reads a few dozen bytes per row inside whole-stage
  * codegen (no `mapPartitions`, no Encoder round trip, no shuffle);
  * feature output is a flat schema so downstream similarity/dedup
  * runs codegen'd too.
  */
object Multimodal {

  private def byteHex(v: Column, shift: Int): Column =
    lpad(hex(shiftright(v, shift).bitwiseAND(lit(255L))), 2, "0")
  private def le16Hex(v: Column): Column = concat(byteHex(v, 0), byteHex(v, 8))
  private def le32Hex(v: Column): Column =
    concat(byteHex(v, 0), byteHex(v, 8), byteHex(v, 16), byteHex(v, 24))

  // deterministic per-doc media parameters, mirrored by the oracle
  private def width: Column = (lit(64) + col("doc_id") % 577).cast("long")
  private def height: Column = (lit(64) + col("doc_id") % 433).cast("long")
  private def wavChannels: Column = (lit(1) + col("doc_id") % 2).cast("long")
  private def wavRate: Column = (lit(8000) + (col("doc_id") % 8) * 1000).cast("long")

  /** PNG signature + IHDR (33 bytes): bit depth 8, color type 6
    * (RGBA); the CRC is a placeholder — dimension probes don't
    * checksum. */
  private def pngHeaderHex: Column = concat(
    lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
    lpad(hex(width), 8, "0"), lpad(hex(height), 8, "0"),
    lit("0806000000" + "DEADBEEF"))

  /** JPEG SOI + APP0(JFIF) + COM + SOF0 (49 bytes) — the COM segment
    * makes the probe's marker scan actually skip variable-length
    * segments before it finds the frame header. */
  private def jpegHeaderHex: Column = concat(
    lit("FFD8" + "FFE000104A46494600010100000100010000" +
      "FFFE0008677261667400" + "FFC0" + "0011" + "08"),
    lpad(hex(height), 4, "0"), lpad(hex(width), 4, "0"),
    lit("03" + "012200" + "021101" + "031101"))

  /** RIFF/WAVE header + `fmt ` chunk + empty `data` chunk header
    * (44 bytes), 16-bit PCM; chunk sizes are placeholders. */
  private def wavHeaderHex: Column = concat(
    lit("52494646" + "00000000" + "57415645" + "666D7420" + "10000000" + "0100"),
    le16Hex(wavChannels), le32Hex(wavRate), le32Hex(wavRate * wavChannels * 2),
    le16Hex(wavChannels * 2), lit("1000" + "64617461" + "00000000"))

  /** documents → media table: binary payload (real container header +
    * text content bytes) + metadata struct. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.documents(spark, dir)).select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("kind"),
      concat(
        unhex(when(col("doc_id") % 3 === 0, pngHeaderHex)
          .when(col("doc_id") % 3 === 1, wavHeaderHex)
          .otherwise(jpegHeaderHex)),
        encode(col("text"), "UTF-8")).as("payload"),
      struct(col("n_chars").as("len"), col("lang").as("lang")).as("meta"))

  /** Header probe over the binary column: one codegen'd expression
    * returns the packed info long; the per-field unpacks below are
    * plain bit ops in the same codegen span. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val info = GraftExpressions.mediaHeader(col("payload"))
    mediaTable(spark, dir)
      .select(col("doc_id"), col("kind"), info.as("info"),
        length(col("payload")).cast("long").as("byte_len"))
      .select(col("doc_id"), col("kind"),
        when(shiftright(col("info"), 60).bitwiseAND(lit(15L)) === 1, "png")
          .when(shiftright(col("info"), 60).bitwiseAND(lit(15L)) === 2, "jpeg")
          .when(shiftright(col("info"), 60).bitwiseAND(lit(15L)) === 3, "wav")
          .otherwise("unknown").as("format"),
        shiftright(col("info"), 40).bitwiseAND(lit(0xFFFFFL)).as("width"),
        shiftright(col("info"), 20).bitwiseAND(lit(0xFFFFFL)).as("height"),
        shiftright(col("info"), 16).bitwiseAND(lit(15L)).as("channels"),
        col("info").bitwiseAND(lit(0xFFFFL)).as("sample_rate"),
        col("byte_len"))
      .orderBy(col("doc_id"))
  }

  /** Frame-sampling shape: deterministic fixed-stride offsets into the
    * content (the video-frame analog), exploded to one row per sample.
    * The payload is ASCII here, so the sampled byte equals the sampled
    * character's code point — which keeps it oracle-checkable. */
  def frameSamples(spark: SparkSession, dir: String, stride: Int = 32): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("kind"),
        expr(s"CASE WHEN length(text) < $stride THEN array() ELSE " +
          s"transform(sequence(0, (length(text) div $stride) - 1), " +
          s"i -> struct(CAST(i AS BIGINT) AS frame_no, " +
          s"CAST(ascii(substring(text, i * $stride + 1, 1)) AS BIGINT) AS sample_byte)) END").as("frames"))
      .select(col("doc_id"), col("kind"), explode(col("frames")).as("f"))
      .select(col("doc_id"), col("kind"),
        col("f").getField("frame_no").as("frame_no"),
        col("f").getField("sample_byte").as("sample_byte"))
      .orderBy(col("doc_id"), col("frame_no"))

  /** Content-entropy QA over the media payloads: per asset, the byte
    * (= ASCII char, per the fixture contract) histogram entropy — the
    * standard blank/stuck-frame/corrupt-stream detector: constant or
    * near-constant content collapses to ~0, healthy content sits well
    * above. Reported in [[Search.detLn]] units (the shared
    * deterministic ln), summed with a sorted left-fold so the doubles
    * are bit-identical at any partition count and in DuckDB. One
    * explode + two keyed aggregations — content-sized, no shuffle
    * wider than the (asset, byte-value) histogram. */
  def contentEntropy(spark: SparkSession, dir: String): DataFrame =
    contentEntropyOn(Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("text")))

  private[graft] def contentEntropyOn(docs: DataFrame): DataFrame =
    // one codegen'd histogram pass per row (ByteEntropyStats) in place
    // of the old explode → two keyed aggs → sorted-collect fold, which
    // amplified the scan by one row per payload byte. The entropy
    // double replays the old plan's exact op order (p = ct/n, term =
    // p·detLn(p), ascending fold from 0.0), so results — and the
    // DuckDB oracle — are bit-identical.
    docs
      .select(col("doc_id"),
        graft.functions.GraftExpressions.byteEntropyStats(col("text")).as("st"))
      .select(col("doc_id"),
        col("st.n_bytes").as("n_bytes"),
        col("st.distinct_bytes").as("distinct_bytes"),
        col("st.entropy").as("entropy"))
      .orderBy(col("doc_id"))

  /** 64-bit BLOCKHASH fingerprint over the payload CONTENT bytes — the
    * perceptual-hash analog for this fixture (real pHash needs a pixel
    * decode; blockhash-over-bytes is the same mean-threshold bit rule
    * applied to the only signal the container has). Content is
    * recovered by slicing the binary payload past the parsed header
    * length (format-specific: PNG 33, WAV 44, JPEG 49) — so the query
    * proves binary-column slicing + charset decode end to end, not
    * just string math on `text`.
    *
    * Bit rule: split the content into 64 position-proportional blocks
    * (block of byte p = ⌊p·64/L⌋); bit_b = 1 iff the block's byte MEAN
    * exceeds the whole content's byte mean — compared in exact integer
    * cross-multiplied form (`bs·L > ts·bc`), so no float ever enters
    * the hash and both engines agree bit-for-bit. The 64 bits are
    * emitted as four 16-bit band integers (band_j = bits 16j..16j+15)
    * because the bands are ALSO the LSH keys of [[phashNearDups]].
    * Contents shorter than 64 bytes are excluded (blocks would be
    * empty; a 64-bit hash of <64 bytes is noise).
    *
    * Scale shape: one byte-explode (content-sized, the same cost class
    * as [[contentEntropy]]) into two keyed aggregations — nothing
    * wider than (doc, block) ever shuffles; at 100 TB the explode is
    * scan-bound and the hash output is 5 longs per asset. */
  def blockHashes(spark: SparkSession, dir: String): DataFrame =
    // the named query hashes fresh per action (r18); downstream
    // consumers (the dup closure, the decision table) share the
    // checkpointed frame below
    blockHashBuild(spark, dir).orderBy(col("doc_id"))

  private def memoBlockHashes(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "mm_blockhash")(blockHashBuild(spark, dir))

  private def blockHashBuild(spark: SparkSession, dir: String): DataFrame =
    blockHashesOn(mediaTable(spark, dir)
      .withColumn("hlen",
        when(col("kind") === "image", 33)
          .when(col("kind") === "audio", 44).otherwise(49))
      // binary slice past the header, then charset-decode: the
      // multimodal plumbing under test (fixture content is ASCII, so
      // byte value = code point and the oracle can rebuild from text)
      .withColumn("t",
        decode(expr("substring(payload, hlen + 1, 2147483647)"), "UTF-8"))
      .select(col("doc_id"), col("t")))

  /** Hash core over a `(doc_id, t)` content frame — split out so specs
    * can feed adversarial content directly. One codegen'd pass per row
    * ([[graft.functions.BlockHash64]]) computes all 64 mean-threshold
    * bits; the four 16-bit LSH bands are plain shift/mask slices of
    * that long. Replaces the old per-byte posexplode → two keyed
    * aggregations, whose scan stage paid one full row per payload byte
    * for what is a few hundred bytes of per-row state — zero shuffles
    * now (the old exchange was ≤64 rows/doc; this one is none). */
  private[graft] def blockHashesOn(contentDocs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.LongType
    def band(j: Int) =
      shiftrightunsigned(col("h"), 16 * j).bitwiseAND(lit(0xFFFFL)).as(s"band$j")
    contentDocs
      .select(col("doc_id"), col("t"), length(col("t")).cast(LongType).as("L"))
      .filter(col("L") >= 64)
      .withColumn("h", graft.functions.GraftExpressions.blockHash64(col("t")))
      .select(col("doc_id"), col("L").as("n_bytes"),
        band(0), band(1), band(2), band(3))
  }

  /** Banded hamming near-dup over the blockhashes — the standard
    * perceptual-dedup join: two assets are candidates iff ANY of their
    * four 16-bit bands match exactly (pigeonhole: hamming ≤ 3 ⇒ some
    * band is untouched, so recall is total below 4 bits and
    * probabilistic up to the verify threshold), then the candidate's
    * exact 64-bit hamming distance filters at `maxHamming`.
    *
    * Scale shape: four hash-equi-joins on 16-bit keys (never an OR-join
    * — Spark would cross-product it) + one distinct; candidate volume
    * is bounded by band-bucket occupancy exactly like the MinHash LSH
    * path in [[Dedup]]. Hamming is four codegen'd `bit_count(xor)`
    * ops, no UDF. */
  def phashNearDups(spark: SparkSession, dir: String,
                    maxHamming: Int = 12): DataFrame =
    phashNearDupsOn(memoBlockHashes(spark, dir), maxHamming)

  private[graft] def phashNearDupsOn(h: DataFrame, maxHamming: Int = 12): DataFrame =
    phashPairsOn(h, maxHamming).orderBy(col("doc_a"), col("doc_b"))

  /** Thumbnail/resize PLANNING over the parsed headers: for every
    * visual asset, the aspect-preserving target geometry under a
    * 128-px bounding box — the metadata half of a resize stage (the
    * pixel half needs codecs this container lacks; the plan is what a
    * production resize fleet consumes). All-integer math
    * (`dim·128 DIV max`, floor semantics, min 1 px) so the plan
    * hashes exactly; audio rows are excluded (no geometry).
    * Scale shape: pure row-local projection over the header probe —
    * scan-bound, zero shuffles before the presentation sort. */
  def thumbnailPlan(spark: SparkSession, dir: String,
                    maxPx: Int = 128): DataFrame = {
    val mx = greatest(col("width"), col("height"))
    mediaFeatures(spark, dir)
      .filter(col("format") =!= "wav")
      .withColumn("needs_resize", (mx > maxPx).cast("long"))
      .withColumn("target_w",
        when(mx <= maxPx, col("width"))
          .otherwise(greatest(expr(s"width * $maxPx DIV greatest(width, height)"), lit(1L))))
      .withColumn("target_h",
        when(mx <= maxPx, col("height"))
          .otherwise(greatest(expr(s"height * $maxPx DIV greatest(width, height)"), lit(1L))))
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        col("needs_resize"), col("target_w"), col("target_h"))
      .orderBy(col("doc_id"))
  }

  /** The per-asset media curation decision table — the multimodal twin
    * of `text_curation_decisions`: for every asset, the parsed format,
    * the entropy QA verdict, the perceptual-dup representative, the
    * resize plan, and the composed `keep` verdict (parsed ∧ healthy
    * entropy ∧ its own dup rep). Every input column comes from an
    * already-oracle-checked operator; this table pins their JOIN
    * composition with one more full-value oracle. All joins are on
    * `doc_id` (co-partitionable); the inputs carry their own
    * banded/broadcast scale stories. */
  def mediaCurationDecisions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val feats = mediaFeatures(spark, dir)
      .select(col("doc_id"), col("kind"), col("format"))
    val ent = contentEntropy(spark, dir).select(col("doc_id"), col("entropy"))
    val comp = memoPhashComponents(spark, dir)
    val thumb = thumbnailPlan(spark, dir)
      .select(col("doc_id"), col("needs_resize"), col("target_w"), col("target_h"))
    feats.join(ent, Seq("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .join(thumb, Seq("doc_id"), "left")
      .withColumn("rep_asset_id", coalesce(col("rep_asset_id"), col("doc_id")))
      .withColumn("is_dup", (col("rep_asset_id") =!= col("doc_id")).cast(LongType))
      .withColumn("low_entropy", (col("entropy") <= 1.0).cast(LongType))
      .withColumn("keep",
        (col("format") =!= "unknown" && col("low_entropy") === 0 &&
          col("is_dup") === 0).cast(LongType))
      .select(col("doc_id"), col("kind"), col("format"), col("rep_asset_id"),
        col("is_dup"), col("low_entropy"),
        coalesce(col("needs_resize"), lit(-1L)).as("needs_resize"),
        coalesce(col("target_w"), lit(-1L)).as("target_w"),
        coalesce(col("target_h"), lit(-1L)).as("target_h"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Incremental maintenance of the blockhash index over the crawl
    * diff ([[Curation.snapshotDiffOn]]'s v1→v2): carry stored hashes
    * for unchanged assets, re-hash ONLY added/changed content,
    * anti-join out removed/changed — work scales with the delta, and
    * hashes are asset-local so the splice alone IS the maintained
    * index (the [[Dedup.incrementalSignatures]] discipline applied to
    * the media tier). The oracle re-derives every v2 hash from
    * scratch, so hash-equality proves the carried rows are
    * byte-for-byte what a full rebuild would produce. */
  def incrementalBlockHashes(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
    val v2 = Curation.snapshotV2On(docs)
    // one shared crawl diff across every incremental-maintenance
    // consumer (r18) — the splice below stays this query's own compute
    val diff = Curation.snapshotDiffShared(spark, dir)
    val gone = diff.filter(col("status").isin("removed", "changed")).select(col("doc_id"))
    val fresh = diff.filter(col("status").isin("added", "changed")).select(col("doc_id"))
    memoBlockHashes(spark, dir)
      .join(gone, Seq("doc_id"), "left_anti")
      .unionByName(blockHashesOn(
        v2.join(fresh, Seq("doc_id")).select(col("doc_id"), col("text").as("t"))))
      .orderBy(col("doc_id"))
  }

  /** Per-(band, value) bucket cap — the giant-bucket guard the text
    * LSH path carries ([[Dedup.BucketCap]] reasoning, verbatim): m
    * identical assets collide in EVERY band, and without the cap each
    * band bucket emits m²/2 candidates on one reducer. Buckets over
    * the cap star-link members to the bucket minimum instead — O(m)
    * candidates that preserve exactly what components and hamming-0
    * reporting need (a true giant bucket is near-identical content, so
    * every member verifies against the min anchor). */
  private[graft] val BandCap = 32

  /** The unsorted pair core — shared by the named pair query and the
    * component closure. */
  private[graft] def phashPairsOn(h: DataFrame, maxHamming: Int = 12,
                                  cap: Int = BandCap): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val bandStack = (0 until 4).map(j => s"CAST($j AS BIGINT), band$j").mkString(", ")
    val bands = h.select(col("doc_id"), col("band0"), col("band1"),
      col("band2"), col("band3"), expr(s"stack(4, $bandStack) AS (j, bv)"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("j"), col("bv"))
    val stats = bands
      .withColumn("mn", min(col("doc_id")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
    val small = stats.filter(col("cnt") <= cap)
    val pairsSmall = small.as("a").join(small.as("b"),
        col("a.j") === col("b.j") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.band0").as("a0"), col("a.band1").as("a1"),
        col("a.band2").as("a2"), col("a.band3").as("a3"),
        col("b.band0").as("b0"), col("b.band1").as("b1"),
        col("b.band2").as("b2"), col("b.band3").as("b3"))
    val pairsGiant = stats.filter(col("cnt") > cap && col("doc_id") =!= col("mn"))
      .select(col("mn").as("doc_a"), col("doc_id").as("doc_b"),
        col("band0").as("b0"), col("band1").as("b1"),
        col("band2").as("b2"), col("band3").as("b3"))
      .join(h.select(col("doc_id").as("doc_a"), col("band0").as("a0"),
        col("band1").as("a1"), col("band2").as("a2"), col("band3").as("a3")),
        Seq("doc_a"))
    pairsSmall.unionByName(pairsGiant.select(pairsSmall.columns.map(col): _*))
      .distinct()
      .withColumn("hamming",
        expr("bit_count(a0 ^ b0) + bit_count(a1 ^ b1) + " +
          "bit_count(a2 ^ b2) + bit_count(a3 ^ b3)").cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Transitive perceptual-dup groups: connected components of the
    * banded-hamming pair graph via [[Dedup.componentLabels]] (the same
    * components core the text dedup tier uses — one machinery, two
    * modalities). Every hashed asset gets a row; isolated assets are
    * their own representative. */
  def phashComponents(spark: SparkSession, dir: String): DataFrame =
    // the named query runs its own components per action (r18);
    // the decision table reads the checkpoint share below
    phashComponentsBuild(spark, dir).orderBy(col("doc_id"))

  /** Shared closure for the decision table — [[Memo]]
    * (checkpoint, r18): the frame IS the named `mm_dup_components`
    * output; unshared, the components core ran once per consumer
    * (measured 2× the pipeline cost in the decision query). */
  private def memoPhashComponents(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "mm_dup_components")(phashComponentsBuild(spark, dir))

  private def phashComponentsBuild(spark: SparkSession, dir: String): DataFrame = {
    val h = memoBlockHashes(spark, dir)
    val labels = Dedup.componentLabels(phashPairsOn(h)).withColumnRenamed("rep_doc_id", "rep")
    h.select(col("doc_id")).join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep_asset_id"))
  }

  /** At-ingest perceptual dedup: each incoming asset (odd doc_ids —
    * the stream stand-in, mirroring the text path's
    * [[Dedup.ingestNearDups]] split) probes the even-id corpus's band
    * index; for flagged assets, the duplicate count, best (minimum)
    * hamming, and the witness corpus asset (ties to the smallest id).
    * The probe side is NOT capped — an incoming asset colliding with a
    * giant bucket must still be flagged.
    *
    * Scale shape: four band equi-joins (probe ⋈ index) + one per-asset
    * top-1 window over candidates only; the corpus index is the 5-long
    * hash frame, rebuilt never and probed per batch. */
  def phashIngest(spark: SparkSession, dir: String,
                  maxHamming: Int = 12): DataFrame = {
    val h = memoBlockHashes(spark, dir)
    phashIngestOn(h.filter(col("doc_id") % 2 === 1),
      h.filter(col("doc_id") % 2 === 0), maxHamming)
  }

  private[graft] def phashIngestOn(incoming: DataFrame, corpus: DataFrame,
                                   maxHamming: Int = 12): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val a = incoming.select(col("doc_id"), col("band0").as("i0"),
      col("band1").as("i1"), col("band2").as("i2"), col("band3").as("i3"))
    val c = corpus.select(col("doc_id").as("corpus_doc"), col("band0").as("c0"),
      col("band1").as("c1"), col("band2").as("c2"), col("band3").as("c3"))
    val cand = (0 until 4).map { j =>
      a.join(c, col(s"i$j") === col(s"c$j"))
    }.reduce(_ unionByName _).distinct()
    val scored = cand
      .withColumn("hamming",
        expr("bit_count(i0 ^ c0) + bit_count(i1 ^ c1) + " +
          "bit_count(i2 ^ c2) + bit_count(i3 ^ c3)").cast(LongType))
      .filter(col("hamming") <= maxHamming)
    scored
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("hamming"), col("corpus_doc"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_ct"),
        min(col("hamming")).as("best_hamming"),
        max(when(col("rn") === 1, col("corpus_doc"))).as("corpus_doc"))
      .orderBy(col("doc_id"))
  }

  /** Shared DuckDB rebuild of [[blockHashes]]: emits CTEs ending in
    * `mmh(doc_id, n_bytes, band0..band3)`. Content bytes = text bytes
    * (ASCII fixture contract), so the oracle works from `text` and the
    * integer cross-multiplied bit rule matches the engine exactly. */
  private def blockHashCtes(src: String = "documents"): String =
    s"""mmc AS (
      |  SELECT doc_id, text AS t, CAST(length(text) AS BIGINT) AS L
      |  FROM $src WHERE length(text) >= 64
      |), mmb AS (
      |  SELECT doc_id, L, t, unnest(range(0, L)) AS pos FROM mmc
      |), mmv AS (
      |  SELECT doc_id, L,
      |    CAST(ascii(substring(t, CAST(pos + 1 AS INT), 1)) AS BIGINT) AS v,
      |    (pos * 64) // L AS blk
      |  FROM mmb
      |), mmblocks AS (
      |  SELECT doc_id, blk, SUM(v) AS bs, CAST(COUNT(*) AS BIGINT) AS bc,
      |    MAX(L) AS L
      |  FROM mmv GROUP BY doc_id, blk
      |), mmtot AS (
      |  SELECT doc_id, SUM(v) AS ts FROM mmv GROUP BY doc_id
      |), mmbits AS (
      |  SELECT b.doc_id, b.blk, b.L,
      |    CASE WHEN b.bs * b.L > t.ts * b.bc THEN 1 ELSE 0 END AS bit
      |  FROM mmblocks b JOIN mmtot t USING (doc_id)
      |), mmh AS (
      |  SELECT doc_id, MAX(L) AS n_bytes,
      |    CAST(SUM(CASE WHEN bit = 1 AND blk // 16 = 0 THEN CAST(1 AS BIGINT) << CAST(blk % 16 AS INT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS band0,
      |    CAST(SUM(CASE WHEN bit = 1 AND blk // 16 = 1 THEN CAST(1 AS BIGINT) << CAST(blk % 16 AS INT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS band1,
      |    CAST(SUM(CASE WHEN bit = 1 AND blk // 16 = 2 THEN CAST(1 AS BIGINT) << CAST(blk % 16 AS INT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS band2,
      |    CAST(SUM(CASE WHEN bit = 1 AND blk // 16 = 3 THEN CAST(1 AS BIGINT) << CAST(blk % 16 AS INT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS band3
      |  FROM mmbits GROUP BY doc_id
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_media_features" -> ((s, d) => mediaFeatures(s, d)),
    "mm_content_entropy" -> ((s, d) => contentEntropy(s, d)),
    "mm_blockhash" -> ((s, d) => blockHashes(s, d)),
    "mm_phash_neardup" -> ((s, d) => phashNearDups(s, d)),
    "mm_phash_ingest" -> ((s, d) => phashIngest(s, d)),
    "mm_dup_components" -> ((s, d) => phashComponents(s, d)),
    "mm_thumbnail_plan" -> ((s, d) => thumbnailPlan(s, d)),
    "mm_curation_decisions" -> ((s, d) => mediaCurationDecisions(s, d)),
    "mm_incremental_hashes" -> ((s, d) => incrementalBlockHashes(s, d)),
    "mm_frame_samples" -> ((s, d) => frameSamples(s, d)))

  /** Shared DuckDB rebuild of [[phashPairsOn]] (after [[blockHashCtes]]):
    * four band equi-joins, DISTINCT, exact hamming ≤ 12 — ending in
    * `mmpairs(doc_a, doc_b, hamming)`. */
  private def phashPairCtes: String =
    """mmbnd AS (
      |  SELECT doc_id, band0, band1, band2, band3, j, bv FROM (
      |    SELECT *, CAST(0 AS BIGINT) AS j, band0 AS bv FROM mmh
      |    UNION ALL SELECT *, CAST(1 AS BIGINT), band1 FROM mmh
      |    UNION ALL SELECT *, CAST(2 AS BIGINT), band2 FROM mmh
      |    UNION ALL SELECT *, CAST(3 AS BIGINT), band3 FROM mmh
      |  )
      |), mmst AS (
      |  SELECT doc_id, band0, band1, band2, band3, j, bv,
      |    MIN(doc_id) OVER w AS mn, COUNT(*) OVER w AS cnt
      |  FROM mmbnd WINDOW w AS (PARTITION BY j, bv)
      |), mmcand AS (
      |  SELECT DISTINCT doc_a, doc_b, a0, a1, a2, a3, b0, b1, b2, b3 FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |      a.band0 AS a0, a.band1 AS a1, a.band2 AS a2, a.band3 AS a3,
      |      b.band0 AS b0, b.band1 AS b1, b.band2 AS b2, b.band3 AS b3
      |    FROM mmst a JOIN mmst b
      |      ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
      |    WHERE a.cnt <= 32 AND b.cnt <= 32
      |    UNION ALL
      |    SELECT g.mn, g.doc_id, m.band0, m.band1, m.band2, m.band3,
      |      g.band0, g.band1, g.band2, g.band3
      |    FROM mmst g JOIN mmh m ON m.doc_id = g.mn
      |    WHERE g.cnt > 32 AND g.doc_id <> g.mn
      |  )
      |), mmpairs AS (
      |  SELECT doc_a, doc_b,
      |    CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) +
      |         bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) AS BIGINT) AS hamming
      |  FROM mmcand
      |  WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) +
      |        bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) <= 12
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // full re-hash of the SAME v2 synthesis (Curation.diffCtes) —
    // equality proves the incremental splice
    "mm_incremental_hashes" ->
      s"""WITH ${Curation.diffCtes},
         |${blockHashCtes("v2")}
         |SELECT doc_id, n_bytes, band0, band1, band2, band3
         |FROM mmh ORDER BY doc_id""".stripMargin,
    // the composed decision table: entropy CTEs (inline, prefixed) +
    // the recursive dup closure + doc_id geometry rules, joined on
    // doc_id exactly like the engine
    "mm_curation_decisions" ->
      (s"""WITH RECURSIVE ${blockHashCtes()},
         |$phashPairCtes,
         |mmedg2 AS (
         |  SELECT doc_a AS u, doc_b AS v FROM mmpairs
         |  UNION ALL SELECT doc_b, doc_a FROM mmpairs
         |),
         |mmreach2 AS (
         |  SELECT doc_id AS u, doc_id AS r FROM mmh
         |  UNION
         |  SELECT e.u, mmreach2.r FROM mmedg2 e JOIN mmreach2 ON e.v = mmreach2.u
         |),
         |mmcomp2 AS (SELECT u AS doc_id, MIN(r) AS rep FROM mmreach2 GROUP BY u),
         |mdc AS (
         |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS ct FROM (
         |    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
         |  ) GROUP BY doc_id, ch
         |), mdt AS (
         |  SELECT doc_id, CAST(SUM(ct) AS BIGINT) AS n FROM mdc GROUP BY doc_id
         |), mdm AS (
         |  SELECT c.doc_id,
         |    (CAST(c.ct AS DOUBLE) / CAST(t.n AS DOUBLE))
         |      * """ + Search.duckDetLn("(CAST(c.ct AS DOUBLE) / CAST(t.n AS DOUBLE))") + s""" AS term
         |  FROM mdc c JOIN mdt t ON c.doc_id = t.doc_id
         |), ment AS (
         |  SELECT doc_id,
         |    0.0 - list_reduce(list_sort(list(term)), (a, x) -> a + x) AS entropy
         |  FROM mdm GROUP BY doc_id
         |), mfe AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'jpeg' END AS format,
         |    CAST(64 + doc_id % 577 AS BIGINT) AS width,
         |    CAST(64 + doc_id % 433 AS BIGINT) AS height
         |  FROM documents
         |), mth AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN GREATEST(width, height) > 128 THEN 1 ELSE 0 END AS BIGINT) AS needs_resize,
         |    CASE WHEN GREATEST(width, height) <= 128 THEN width
         |         ELSE GREATEST((width * 128) // GREATEST(width, height), 1) END AS target_w,
         |    CASE WHEN GREATEST(width, height) <= 128 THEN height
         |         ELSE GREATEST((height * 128) // GREATEST(width, height), 1) END AS target_h
         |  FROM mfe WHERE format <> 'wav'
         |)
         |SELECT f.doc_id, f.kind, f.format,
         |  COALESCE(c.rep, f.doc_id) AS rep_asset_id,
         |  CAST(CASE WHEN COALESCE(c.rep, f.doc_id) <> f.doc_id THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
         |  CAST(CASE WHEN e.entropy <= 1.0 THEN 1 ELSE 0 END AS BIGINT) AS low_entropy,
         |  COALESCE(t.needs_resize, CAST(-1 AS BIGINT)) AS needs_resize,
         |  COALESCE(t.target_w, CAST(-1 AS BIGINT)) AS target_w,
         |  COALESCE(t.target_h, CAST(-1 AS BIGINT)) AS target_h,
         |  CAST(CASE WHEN f.format <> 'unknown' AND e.entropy > 1.0
         |    AND COALESCE(c.rep, f.doc_id) = f.doc_id THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM mfe f
         |JOIN ment e ON f.doc_id = e.doc_id
         |LEFT JOIN mmcomp2 c ON f.doc_id = c.doc_id
         |LEFT JOIN mth t ON f.doc_id = t.doc_id
         |ORDER BY f.doc_id""").stripMargin,
    // geometry from the doc_id synthesis rules (PNG for doc_id%3=0,
    // JPEG for %3=2), integer floor scale, 128-px box
    "mm_thumbnail_plan" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png' ELSE 'jpeg' END AS format,
        |    CAST(64 + doc_id % 577 AS BIGINT) AS width,
        |    CAST(64 + doc_id % 433 AS BIGINT) AS height
        |  FROM documents WHERE doc_id % 3 <> 1
        |)
        |SELECT doc_id, format, width, height,
        |  CAST(CASE WHEN GREATEST(width, height) > 128 THEN 1 ELSE 0 END AS BIGINT) AS needs_resize,
        |  CASE WHEN GREATEST(width, height) <= 128 THEN width
        |       ELSE GREATEST((width * 128) // GREATEST(width, height), 1) END AS target_w,
        |  CASE WHEN GREATEST(width, height) <= 128 THEN height
        |       ELSE GREATEST((height * 128) // GREATEST(width, height), 1) END AS target_h
        |FROM g ORDER BY doc_id""".stripMargin,
    "mm_phash_ingest" ->
      s"""WITH ${blockHashCtes()},
         |mmin AS (SELECT * FROM mmh WHERE doc_id % 2 = 1),
         |mmcorp AS (SELECT * FROM mmh WHERE doc_id % 2 = 0),
         |mmic AS (
         |  SELECT DISTINCT a.doc_id, c.doc_id AS corpus_doc,
         |    a.band0 AS i0, a.band1 AS i1, a.band2 AS i2, a.band3 AS i3,
         |    c.band0 AS c0, c.band1 AS c1, c.band2 AS c2, c.band3 AS c3
         |  FROM mmin a JOIN mmcorp c
         |    ON a.band0 = c.band0 OR a.band1 = c.band1
         |    OR a.band2 = c.band2 OR a.band3 = c.band3
         |), mmsc AS (
         |  SELECT doc_id, corpus_doc,
         |    CAST(bit_count(xor(i0, c0)) + bit_count(xor(i1, c1)) +
         |         bit_count(xor(i2, c2)) + bit_count(xor(i3, c3)) AS BIGINT) AS hamming
         |  FROM mmic
         |), mmfl AS (
         |  SELECT doc_id, corpus_doc, hamming,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY hamming, corpus_doc) AS rn
         |  FROM mmsc WHERE hamming <= 12
         |)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_ct,
         |  MIN(hamming) AS best_hamming,
         |  MAX(CASE WHEN rn = 1 THEN corpus_doc END) AS corpus_doc
         |FROM mmfl GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "mm_blockhash" ->
      s"""WITH ${blockHashCtes()}
         |SELECT doc_id, n_bytes, band0, band1, band2, band3
         |FROM mmh ORDER BY doc_id""".stripMargin,
    // candidates via four separate band equi-joins (mirroring the
    // engine's union-of-hash-joins, never an OR-join), then exact
    // 64-bit hamming at the same threshold
    "mm_phash_neardup" ->
      s"""WITH ${blockHashCtes()},
         |$phashPairCtes
         |SELECT doc_a, doc_b, hamming FROM mmpairs
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the same pair CTEs feeding a recursive min-label closure over
    // the hashed-asset node set: every asset -> min id of its component
    "mm_dup_components" ->
      s"""WITH RECURSIVE ${blockHashCtes()},
         |$phashPairCtes,
         |mmedg AS (
         |  SELECT doc_a AS u, doc_b AS v FROM mmpairs
         |  UNION ALL SELECT doc_b, doc_a FROM mmpairs
         |),
         |mmreach AS (
         |  SELECT doc_id AS u, doc_id AS r FROM mmh
         |  UNION
         |  SELECT e.u, mmreach.r FROM mmedg e JOIN mmreach ON e.v = mmreach.u
         |)
         |SELECT u AS doc_id, MIN(r) AS rep_asset_id
         |FROM mmreach GROUP BY u ORDER BY doc_id""".stripMargin,
    // char histogram → p·detLn(p) terms → sorted left-fold, negated
    "mm_content_entropy" ->
      s"""WITH counts AS (
         |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS ct FROM (
         |    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
         |  ) GROUP BY doc_id, ch
         |), totals AS (
         |  SELECT doc_id, CAST(SUM(ct) AS BIGINT) AS n,
         |    CAST(COUNT(*) AS BIGINT) AS distinct_bytes
         |  FROM counts GROUP BY doc_id
         |), terms AS (
         |  SELECT c.doc_id, t.n, t.distinct_bytes,
         |    (CAST(c.ct AS DOUBLE) / CAST(t.n AS DOUBLE))
         |      * ${Search.duckDetLn("(CAST(c.ct AS DOUBLE) / CAST(t.n AS DOUBLE))")} AS term
         |  FROM counts c JOIN totals t ON c.doc_id = t.doc_id
         |)
         |SELECT doc_id, MAX(n) AS n_bytes, MAX(distinct_bytes) AS distinct_bytes,
         |  0.0 - list_reduce(list_sort(list(term)), (a, x) -> a + x) AS entropy
         |FROM terms GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    // every feature is header-derived, and the headers derive from
    // doc_id by the fixture rules — so DuckDB rebuilds the full row
    // (header sizes: PNG 33, WAV 44, JPEG 49 bytes; text is ASCII, so
    // content bytes = length(text))
    "mm_media_features" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'jpeg' END AS format,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 64 + doc_id % 577 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 64 + doc_id % 433 END AS BIGINT) AS height,
        |  CAST(CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 4 WHEN 1 THEN 1 + doc_id % 2 ELSE 3 END AS BIGINT) AS channels,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 8) * 1000 ELSE 0 END AS BIGINT) AS sample_rate,
        |  CAST(CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 33 WHEN 1 THEN 44 ELSE 49 END + length(text) AS BIGINT) AS byte_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frame_samples" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    [{'frame_no': CAST(i - 1 AS BIGINT),
        |      'sample_byte': CAST(ascii(substring(text, (i - 1) * 32 + 1, 1)) AS BIGINT)}
        |     FOR i IN range(1, (length(text) // 32) + 1)] AS frames
        |  FROM documents
        |), u AS (SELECT doc_id, kind, unnest(frames) AS f FROM s)
        |SELECT doc_id, kind, f.frame_no AS frame_no, f.sample_byte AS sample_byte
        |FROM u ORDER BY doc_id, frame_no""".stripMargin)
}
