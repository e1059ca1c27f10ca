package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths of the LLM-pipeline
  * operators. Both generate Java in whole-stage codegen — no UDF
  * boxing, no Encoder round-trip — which is the difference between a
  * scan-speed similarity pass and a 10× slower closure at 100 TB.
  */
object GraftExpressions {
  import org.apache.spark.sql.GraftBridge.{toColumn, toExpression}
  def fnv1a64(c: Column): Column = toColumn(Fnv1a64(toExpression(c)))

  /** Uniform 32-bit hash of a string key: FNV-1a 64 through a
    * splitmix64-style avalanche finalizer, high 32 bits. Raw FNV of
    * near-identical short keys ("u17","u18",…) is under-mixed and
    * biases order statistics (measured 72% KMV error vs 1.6%
    * finalized — SCALE.md); every consumer that feeds hashes into
    * minima/sampling keys must use THIS, not raw FNV. Signed-long ops
    * ≡ unsigned mod 2^64: >>> is the unsigned shift, wrapping × is ×
    * mod 2^64, xor is xor — the DuckDB oracles replay the identical
    * chain in HUGEINT (`DuckSql.avalanche32Ctes`). */
  def hash32(c: Column): Column = {
    import org.apache.spark.sql.functions.{lit, shiftrightunsigned}
    val h = fnv1a64(c)
    val a = h.bitwiseXOR(shiftrightunsigned(h, 33))
    val b = a * lit(0xff51afd7ed558ccdL)
    val d = b.bitwiseXOR(shiftrightunsigned(b, 33))
    val e = d * lit(0xc4ceb9fe1a85ec53L)
    shiftrightunsigned(e.bitwiseXOR(shiftrightunsigned(e, 33)), 32)
  }
  def cosineSim(a: Column, b: Column): Column =
    toColumn(CosineSimFloat(toExpression(a), toExpression(b)))
  def dotLong(a: Column, b: Column): Column =
    toColumn(DotProductLong(toExpression(a), toExpression(b)))
  def minhashSig(hashes: Column, numHashes: Int): Column =
    toColumn(MinHashSignature(toExpression(hashes), numHashes))
  def simhash64(tokens: Column): Column = toColumn(SimHash64(toExpression(tokens)))
  def shingleHashes(tokens: Column, k: Int): Column =
    toColumn(ShingleHashes(toExpression(tokens), k))
  def hyperplaneBuckets(vec: Column, planes: Array[Array[Double]], planesPerTable: Int): Column =
    toColumn(HyperplaneBuckets(toExpression(vec), planes, planesPerTable))
  def nearestCentroidsFloat(vec: Column, centIds: Array[Int], cents: Array[Array[Float]], k: Int): Column =
    toColumn(NearestCentroidsFloat(toExpression(vec), centIds, cents, k))
  def segmentTokens(c: Column): Column = toColumn(SegmentTokens(toExpression(c)))
  def jsonParse(c: Column, schema: StructType): Column =
    toColumn(SchemaJsonParse(toExpression(c), schema))
  def mediaHeader(c: Column): Column = toColumn(MediaHeaderInfo(toExpression(c)))
  def blockHash64(c: Column): Column = toColumn(BlockHash64(toExpression(c)))
  def byteEntropyStats(c: Column): Column = toColumn(ByteEntropyStats(toExpression(c)))
  def minhashSetAgg(hash: Column, numHashes: Int): Column =
    toColumn(MinHashSetAgg(toExpression(hash), numHashes).toAggregateExpression())
  def bloomMightContainLong(hash: Column, filter: org.apache.spark.util.sketch.BloomFilter): Column =
    toColumn(BloomMightContainLong(toExpression(hash), filter))
  def cmsSketchAgg(hash: Column, depth: Int, width: Int): Column =
    toColumn(CmsSketchAgg(toExpression(hash), depth, width).toAggregateExpression())
  def cmsEstimateLong(hash: Column, sketch: Array[Long], depth: Int, width: Int): Column =
    toColumn(CmsEstimateLong(toExpression(hash), sketch, depth, width))
  def topkAgg(score: Column, tag: Column, k: Int): Column =
    toColumn(TopKAgg(toExpression(score), toExpression(tag), k).toAggregateExpression())
  def vectorSumAgg(vec: Column, dims: Int): Column =
    toColumn(VectorSumAgg(toExpression(vec), dims).toAggregateExpression())
}


/** Manual input-type validation shared by the graft expressions —
  * without it, the SQL-registered graft_* functions would run codegen
  * against mistyped columns (e.g. getLong on an int array) and return
  * garbage instead of failing analysis. */
private[functions] object GraftTypeChecks {
  def expect(ok: Boolean, msg: => String): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess else TypeCheckResult.TypeCheckFailure(msg)
  def isArrayOf(dt: DataType, t: DataType): Boolean = t match {
    case ArrayType(et, _) => et == dt
    case _ => false
  }
}

/** FNV-1a 64-bit hash of a string's UTF-8 bytes.
  *
  * Stable across JVMs/partitions (unlike `hashCode`), cheap (one pass,
  * two ops per byte), and codegen'd. Used as the base hash for
  * minhash/simhash signatures.
  */
case class Fnv1a64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(child.dataType == StringType,
      s"graft_fnv1a64 requires a string argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    Fnv1a64.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // ctx.freshName for every local: two instances of a graft
      // expression in one projection must not collide (fixed names
      // would be duplicate declarations when the child is non-nullable
      // and the snippet inlines without its own block scope).
      val bytes = ctx.freshName("graftBytes")
      val h = ctx.freshName("graftH")
      val i = ctx.freshName("graftI")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0xcbf29ce484222325L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h ^= ($bytes[$i] & 0xffL);
         |  $h *= 0x100000001b3L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64 = copy(newChild)
}

object Fnv1a64 {
  def hash(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}

/** Keyword segmentation (U1, the IK-analyzer substitute — see
  * [[graft.functions.Tokenizer]]): string → array<string> of tokens.
  * Codegen emits a direct static call into the shared segmenter, so
  * tokenization stays inside whole-stage codegen — no UDF boxing, no
  * Encoder round-trip — while the token algorithm lives in one
  * plain-Scala place that unit tests exercise directly.
  */
case class SegmentTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(child.dataType == StringType,
      s"graft_segment_tokens requires a string argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    Tokenizer.segmentArrayData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Tokenizer.segmentArrayData($c);")

  override protected def withNewChildInternal(newChild: Expression): SegmentTokens =
    copy(newChild)
}

/** Schema-driven native JSON parse, P1's per-record hot path for both
  * reference ingest topics: string → the given struct, null on
  * malformed input (the dirty-quarantine contract). `topic_log` parses
  * against `LogStream.pageLogSchema`, `topic_db` against
  * `LogStream.maxwellSchema` (also registered in SQL as
  * `graft_maxwell_parse`). `from_json` PERMISSIVE partial-results
  * parity is spec-pinned for both schemas; the point is performance:
  * no CodegenFallback, no per-row Reader stack, the surrounding
  * projection stays fused in whole-stage codegen. A schema outside
  * [[SchemaJson.supports]] fails analysis. The compiled converter tree
  * ([[SchemaJsonParser]]) is built once and shipped to executors as a
  * codegen reference object. */
case class SchemaJsonParse(child: Expression, schema: StructType)
    extends UnaryExpression {
  override def dataType: DataType = schema

  override def nullable: Boolean = true

  override def prettyName: String = "graft_json_parse"

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(
      child.dataType == StringType && SchemaJson.supports(schema),
      s"graft_json_parse requires a string argument and a supported schema, " +
        s"got ${child.dataType.sql} / ${schema.sql}")

  @transient private lazy val parser = new SchemaJsonParser(schema)

  override protected def nullSafeEval(input: Any): Any =
    parser.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftJsonParser", parser,
      classOf[SchemaJsonParser].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = $ref.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SchemaJsonParse =
    copy(child = newChild)
}

/** Media container header probe: binary → packed long
  * `[format:4][width:20][height:20][channels:4][sample_rate:16]` —
  * see [[MediaHeaders]] for the PNG/JPEG/WAV parsing. Codegen emits a
  * direct static call (the [[SegmentTokens]] pattern): the probe reads
  * a few dozen header bytes with no allocation, so format detection
  * and dimension extraction run at scan speed inside whole-stage
  * codegen — no `mapPartitions`, no Encoder round trip.
  */
case class MediaHeaderInfo(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(child.dataType == BinaryType,
      s"graft_media_header requires a binary argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    MediaHeaders.packedInfo(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MediaHeaders.packedInfo($c);")

  override protected def withNewChildInternal(newChild: Expression): MediaHeaderInfo =
    copy(newChild)
}

/** 64-bit mean-threshold blockhash of a content string — one codegen'd
  * pass via [[MediaContent.blockHash64]], replacing a per-byte
  * `posexplode` + two aggregations (the bands the LSH join needs are
  * bit-slices of this long, extracted with plain shift/mask columns).
  * Returns 0L below the 64-code-point gate; callers filter first. */
case class BlockHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(child.dataType == StringType,
      s"graft_blockhash64 requires a string argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    MediaContent.blockHash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MediaContent.blockHash64($c);")

  override protected def withNewChildInternal(newChild: Expression): BlockHash64 =
    copy(newChild)
}

/** Code-point histogram stats of a content string —
  * struct(n_bytes, distinct_bytes, entropy) in one codegen'd pass via
  * [[MediaContent.entropyStats]], replacing a per-byte explode + two
  * keyed aggregations + sorted-collect fold. The entropy double
  * replays the old plan's exact IEEE op order, so oracles and any
  * cached results stay bit-identical. */
case class ByteEntropyStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("distinct_bytes", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(child.dataType == StringType,
      s"graft_byte_entropy requires a string argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    MediaContent.entropyStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MediaContent.entropyStats($c);")

  override protected def withNewChildInternal(newChild: Expression): ByteEntropyStats =
    copy(newChild)
}

/** Cosine similarity of two float vectors, accumulated in double.
  *
  * The brute-force ANN hot loop: one fused pass computing dot product
  * and both norms, inside whole-stage codegen. Returns null when
  * either side is null or lengths differ; 0.0 for zero-norm inputs.
  */
case class CosineSimFloat(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(
      GraftTypeChecks.isArrayOf(FloatType, left.dataType) &&
        GraftTypeChecks.isArrayOf(FloatType, right.dataType),
      s"graft_cosine_sim requires two array<float> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    if (l == null || r == null) return null
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    if (la.numElements() != ra.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = la.numElements()
    while (i < n) {
      val x = la.getFloat(i).toDouble
      val y = ra.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("graftN")
      val dot = ctx.freshName("graftDot")
      val na = ctx.freshName("graftNa")
      val nb = ctx.freshName("graftNb")
      val i = ctx.freshName("graftI")
      val x = ctx.freshName("graftX")
      val y = ctx.freshName("graftY")
      s"""
         |int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double) $l.getFloat($i);
         |    double $y = (double) $r.getFloat($i);
         |    $dot += $x * $y;
         |    $na += $x * $x;
         |    $nb += $y * $y;
         |  }
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0)
         |    ? 0.0 : $dot / (Math.sqrt($na) * Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimFloat =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product of two BIGINT arrays (wrapping 64-bit math).
  *
  * The quantized-similarity hot loop: `zip_with` + `aggregate` build
  * an intermediate array and evaluate two lambda closures per element;
  * this is one fused codegen'd loop, which matters when it runs once
  * per candidate *pair*. Null when either side is null or lengths
  * differ.
  */
case class DotProductLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(
      GraftTypeChecks.isArrayOf(LongType, left.dataType) &&
        GraftTypeChecks.isArrayOf(LongType, right.dataType),
      s"graft_dot_long requires two array<bigint> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    if (l == null || r == null) return null
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = la.numElements()
    if (n != ra.numElements()) return null
    var dot = 0L
    var i = 0
    while (i < n) { dot += la.getLong(i) * ra.getLong(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("graftN")
      val dot = ctx.freshName("graftDot")
      val i = ctx.freshName("graftI")
      s"""
         |int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $dot = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $l.getLong($i) * $r.getLong($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature: for hash index i in [0, numHashes), the minimum
  * of ((2i+1)·x + (GOLDEN+i)) mod (2^61−1) over the input BIGINT array.
  *
  * One fused pass computing all `numHashes` minima — equivalent to
  * `numHashes` separate `aggregate(...)` higher-order calls (identical
  * wrapping-long arithmetic), but traverses the shingle-hash array
  * once instead of `numHashes` times and evaluates no lambdas.
  */
case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression {
  private val Prime = (1L << 61) - 1
  private val Golden = 0x9e3779b97f4a7c15L

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(GraftTypeChecks.isArrayOf(LongType, child.dataType),
      s"graft_minhash_sig requires an array<bigint> argument, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      val x = arr.getLong(j)
      var i = 0
      while (i < numHashes) {
        val v = (2 * i + 1) * x + (Golden + i)
        val m = v % Prime
        val pm = if (m < 0) m + Prime else m
        if (pm < mins(i)) mins(i) = pm
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("graftN")
      val mins = ctx.freshName("graftMins")
      val j = ctx.freshName("graftJ")
      val x = ctx.freshName("graftX")
      val i = ctx.freshName("graftI")
      val v = ctx.freshName("graftV")
      val m = ctx.freshName("graftM")
      s"""
         |int $n = $c.numElements();
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $j = 0; $j < $n; $j++) {
         |  long $x = $c.getLong($j);
         |  for (int $i = 0; $i < $numHashes; $i++) {
         |    long $v = (2L * $i + 1L) * $x + (${Golden}L + $i);
         |    long $m = $v % ${Prime}L;
         |    if ($m < 0) $m += ${Prime}L;
         |    if ($m < $mins[$i]) $mins[$i] = $m;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** SimHash-64 of a token array: FNV-1a hash per token, per-bit ±1 vote
  * over all tokens, sign → signature bit.
  *
  * Doc-local by construction — replaces an explode (~tokens× row
  * blowup) + 64-column vote aggregation + shuffle with a single
  * codegen'd projection: the shape that keeps simhash scan-bound at
  * 100 TB. Votes count token occurrences (duplicates included),
  * matching the exploded formulation bit-for-bit.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(GraftTypeChecks.isArrayOf(StringType, child.dataType),
      s"graft_simhash64 requires an array<string> argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val h = Fnv1a64.hash(arr.getUTF8String(j).getBytes)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("graftN")
      val votes = ctx.freshName("graftVotes")
      val j = ctx.freshName("graftJ")
      val bytes = ctx.freshName("graftBytes")
      val h = ctx.freshName("graftH")
      val k = ctx.freshName("graftK")
      val i = ctx.freshName("graftI")
      val i2 = ctx.freshName("graftI2")
      val sig = ctx.freshName("graftSig")
      s"""
         |int $n = $c.numElements();
         |int[] $votes = new int[64];
         |for (int $j = 0; $j < $n; $j++) {
         |  byte[] $bytes = $c.getUTF8String($j).getBytes();
         |  long $h = 0xcbf29ce484222325L;
         |  for (int $k = 0; $k < $bytes.length; $k++) {
         |    $h ^= ($bytes[$k] & 0xffL);
         |    $h *= 0x100000001b3L;
         |  }
         |  for (int $i = 0; $i < 64; $i++) {
         |    if ((($h >>> $i) & 1L) == 1L) $votes[$i]++; else $votes[$i]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $i2 = 0; $i2 < 64; $i2++) {
         |  if ($votes[$i2] > 0) $sig |= (1L << $i2);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(newChild)
}

/** Distinct FNV-1a hashes of the k-token shingles of a token array.
  *
  * Equivalent to `array_distinct(transform(...concat_ws...))` followed
  * by a hash pass, but never materializes shingle strings: hashes are
  * computed by streaming each token's bytes (with '_' separators)
  * through FNV, then sorted + uniqued. The minhash upstream for
  * billion-document corpora: one scan, zero string allocation.
  */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(GraftTypeChecks.isArrayOf(StringType, child.dataType),
      s"graft_shingle_hashes requires an array<string> argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val m = n - k + 1
    if (m <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < k) {
        if (j > 0) { h ^= '_'.toLong; h *= 0x100000001b3L }
        val bs = toks.getUTF8String(i + j).getBytes
        var b = 0
        while (b < bs.length) { h ^= (bs(b) & 0xffL); h *= 0x100000001b3L; b += 1 }
        j += 1
      }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    var r = 1
    while (r < m) { if (hs(r) != hs(r - 1)) { hs(w) = hs(r); w += 1 }; r += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("graftN")
      val m = ctx.freshName("graftM")
      val hs = ctx.freshName("graftHs")
      val i = ctx.freshName("graftI")
      val h = ctx.freshName("graftH")
      val j = ctx.freshName("graftJ")
      val bytes = ctx.freshName("graftBytes")
      val b = ctx.freshName("graftB")
      val w = ctx.freshName("graftW")
      val r = ctx.freshName("graftR")
      s"""
         |int $n = $c.numElements();
         |int $m = $n - $k + 1;
         |if ($m <= 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  long[] $hs = new long[$m];
         |  for (int $i = 0; $i < $m; $i++) {
         |    long $h = 0xcbf29ce484222325L;
         |    for (int $j = 0; $j < $k; $j++) {
         |      if ($j > 0) { $h ^= 95L; $h *= 0x100000001b3L; }
         |      byte[] $bytes = $c.getUTF8String($i + $j).getBytes();
         |      for (int $b = 0; $b < $bytes.length; $b++) {
         |        $h ^= ($bytes[$b] & 0xffL);
         |        $h *= 0x100000001b3L;
         |      }
         |    }
         |    $hs[$i] = $h;
         |  }
         |  java.util.Arrays.sort($hs);
         |  int $w = 1;
         |  for (int $r = 1; $r < $m; $r++) {
         |    if ($hs[$r] != $hs[$r - 1]) $hs[$w++] = $hs[$r];
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    java.util.Arrays.copyOf($hs, $w));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Sign-bit LSH bucket keys for `numTables` tables of `planesPerTable`
  * hyperplanes each, over a float-vector column. The hyperplane matrix
  * is a deterministic constant (hash-derived), referenced once from the
  * generated code — one fused pass instead of tables×planes
  * `aggregate(zip_with(...))` evaluations per row.
  */
case class HyperplaneBuckets(child: Expression, planes: Array[Array[Double]],
                             planesPerTable: Int) extends UnaryExpression {
  private val numTables = planes.length / planesPerTable

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(GraftTypeChecks.isArrayOf(FloatType, child.dataType),
      s"HyperplaneBuckets requires an array<float> argument, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val out = new Array[Long](numTables)
    var p = 0
    while (p < planes.length) {
      var dot = 0.0
      val pl = planes(p)
      val n = math.min(v.numElements(), pl.length)
      var j = 0
      while (j < n) { dot += v.getFloat(j).toDouble * pl(j); j += 1 }
      if (dot >= 0) out(p / planesPerTable) |= (1L << (p % planesPerTable))
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("graftPlanes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("graftOut")
      val p = ctx.freshName("graftP")
      val dot = ctx.freshName("graftDot")
      val pl = ctx.freshName("graftPl")
      val n = ctx.freshName("graftN")
      val j = ctx.freshName("graftJ")
      s"""
         |long[] $out = new long[$numTables];
         |for (int $p = 0; $p < ${planes.length}; $p++) {
         |  double $dot = 0.0;
         |  double[] $pl = $planesRef[$p];
         |  int $n = Math.min($c.numElements(), $pl.length);
         |  for (int $j = 0; $j < $n; $j++) {
         |    $dot += ((double) $c.getFloat($j)) * $pl[$j];
         |  }
         |  if ($dot >= 0) $out[$p / $planesPerTable] |= (1L << ($p % $planesPerTable));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

/** Doc-local k-nearest-centroid assignment for FLOAT vectors — the
  * shipped IVF/k-means path (`Similarity`). Scoring reproduces
  * `CosineSimFloat` bit-for-bit (double accumulation of float casts,
  * `dot / (sqrt(na) * sqrt(nb))`, zero-norm → 0.0), so replacing the
  * old `row_number().over(partitionBy(vec_id))` argmax with this
  * expression changes the PLAN (n×C window shuffle → pure projection,
  * zero Exchange) but not one output row. Ties rank the lower centroid
  * index first — pass `centIds` ascending to match `ORDER BY csim
  * DESC, centroid_id`. The centroid model is an O(C·dims) driver-side
  * constant referenced from generated code, the same class of constant
  * as a broadcast dim table.
  *
  * Length-mismatch semantics: a vector whose length differs from a
  * centroid's is scored over the common prefix `min(n, ce.length)`
  * with a prefix-only query norm — it still gets an assignment, unlike
  * `CosineSimFloat` which yields null for ragged pairs. Uniform-dim
  * corpora (the shipped case) are unaffected; callers that must
  * exclude ragged vectors should filter on `size(embedding)` first. */
case class NearestCentroidsFloat(child: Expression, centIds: Array[Int],
                                 cents: Array[Array[Float]], k: Int) extends UnaryExpression {
  require(centIds.length == cents.length,
    s"centroid id count (${centIds.length}) != centroid vector count (${cents.length})")
  require(cents.nonEmpty,
    "empty centroid model — no vectors to assign against; guard the caller " +
      "(e.g. short-circuit to an empty result when the embeddings table is empty)")

  // per-centroid norm accumulated in double over float casts — the
  // identical summation CosineSimFloat performs for its right side
  @transient private lazy val norms: Array[Double] =
    cents.map { c =>
      var n = 0.0; var j = 0
      while (j < c.length) { val x = c(j).toDouble; n += x * x; j += 1 }
      n
    }

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(GraftTypeChecks.isArrayOf(FloatType, child.dataType),
      s"NearestCentroidsFloat requires an array<float> argument, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val c = cents.length
    val scores = new Array[Double](c)
    var p = 0
    while (p < c) {
      val ce = cents(p)
      val n = math.min(v.numElements(), ce.length)
      var dot = 0.0; var na = 0.0
      var j = 0
      while (j < n) {
        val x = v.getFloat(j).toDouble; val y = ce(j).toDouble
        dot += x * y; na += x * x
        j += 1
      }
      scores(p) = if (na == 0.0 || norms(p) == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(norms(p)))
      p += 1
    }
    val outLen = math.min(k, c)
    val out = new Array[Int](outLen)
    val used = new Array[Boolean](c)
    var s = 0
    while (s < outLen) {
      var best = -1; var bestScore = 0.0
      var q = 0
      while (q < c) {
        if (!used(q) && (best < 0 || scores(q) > bestScore)) { best = q; bestScore = scores(q) }
        q += 1
      }
      used(best) = true; out(s) = centIds(best)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("graftCentsF", cents, "float[][]")
    val idsRef = ctx.addReferenceObj("graftCentIdsF", centIds, "int[]")
    val normsRef = ctx.addReferenceObj("graftNormsF", norms, "double[]")
    val c = cents.length
    val outLen = math.min(k, c)
    nullSafeCodeGen(ctx, ev, v => {
      val scores = ctx.freshName("graftScores")
      val p = ctx.freshName("graftP")
      val dot = ctx.freshName("graftDot")
      val na = ctx.freshName("graftNa")
      val x = ctx.freshName("graftX")
      val y = ctx.freshName("graftY")
      val ce = ctx.freshName("graftCe")
      val n = ctx.freshName("graftN")
      val j = ctx.freshName("graftJ")
      val out = ctx.freshName("graftOut")
      val used = ctx.freshName("graftUsed")
      val slot = ctx.freshName("graftSlot")
      val best = ctx.freshName("graftBest")
      val bestScore = ctx.freshName("graftBestScore")
      val q = ctx.freshName("graftQ")
      s"""
         |double[] $scores = new double[$c];
         |for (int $p = 0; $p < $c; $p++) {
         |  float[] $ce = $centsRef[$p];
         |  int $n = Math.min($v.numElements(), $ce.length);
         |  double $dot = 0.0, $na = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    double $x = (double) $v.getFloat($j);
         |    double $y = (double) $ce[$j];
         |    $dot += $x * $y;
         |    $na += $x * $x;
         |  }
         |  $scores[$p] = ($na == 0.0 || $normsRef[$p] == 0.0)
         |    ? 0.0 : $dot / (Math.sqrt($na) * Math.sqrt($normsRef[$p]));
         |}
         |int[] $out = new int[$outLen];
         |boolean[] $used = new boolean[$c];
         |for (int $slot = 0; $slot < $outLen; $slot++) {
         |  int $best = -1; double $bestScore = 0.0;
         |  for (int $q = 0; $q < $c; $q++) {
         |    if (!$used[$q] && ($best < 0 || $scores[$q] > $bestScore)) {
         |      $best = $q; $bestScore = $scores[$q];
         |    }
         |  }
         |  $used[$best] = true; $out[$slot] = $idsRef[$best];
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidsFloat =
    copy(child = newChild)
}

/** MinHash signature of a SET OF ROWS: the grouped-aggregate form of
  * [[MinHashSignature]] (same permutation family, slot i minimizes
  * (2i+1)·x + (φ64+i) mod 2⁶¹−1 with Java wrapping arithmetic), so a
  * group's signature equals the scalar expression applied to the
  * group's element array — one signature per `groupBy` key instead of
  * one per document.
  *
  * This is the corpus-level similarity primitive: per-source (or
  * per-dump, per-snapshot) signatures estimate cross-corpus Jaccard as
  * the fraction of agreeing slots — comparing two 10-TB crawls costs
  * two aggregations plus a 32-row join, no pairwise document work.
  * Partial aggregation applies (map-side combine: the buffer is a
  * slot-wise running min, merge is slot-wise min), so the shuffle
  * carries one numHashes-long buffer per (partition, key), not the
  * element stream.
  */
case class MinHashSetAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  private val Prime = (1L << 61) - 1
  private val Golden = 0x9e3779b97f4a7c15L

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(child.dataType == LongType,
      s"graft_minhash_set_agg requires a BIGINT element hash, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      var i = 0
      while (i < numHashes) {
        val m = ((2L * i + 1L) * x + (Golden + i)) % Prime
        val pm = if (m < 0) m + Prime else m
        if (pm < buf(i)) buf(i) = pm
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(numHashes * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSetAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSetAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashSetAgg =
    copy(child = newChild)
}

/** Bloom-filter membership probe of a 64-bit hash, inside whole-stage
  * codegen: the filter (an `org.apache.spark.util.sketch.BloomFilter`,
  * typically built with `df.stat.bloomFilter` over the small side) is
  * attached as a codegen reference object and probed with
  * `mightContainLong` — no UDF boxing, no per-row filter
  * deserialization. The sketch path for semi-join-shaped checks whose
  * build side outgrows an exact broadcast set: false positives at the
  * configured fpp, never false negatives.
  */
case class BloomMightContainLong(
    child: Expression,
    filter: org.apache.spark.util.sketch.BloomFilter) extends UnaryExpression {
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(child.dataType == LongType,
      s"graft_bloom_might_contain requires a BIGINT hash, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("graftBloom", filter,
        classOf[org.apache.spark.util.sketch.BloomFilter].getName)
      s"${ev.value} = $ref.mightContainLong($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}

/** Shared count-min row hashing: row `d` maps element hash `x` to slot
  * `((2d+1)·x + (φ64+d)) mod (2⁶¹−1) mod width` — the same pairwise-
  * independent permutation family as [[MinHashSetAgg]], so the sketch
  * builder ([[CmsSketchAgg]]) and the probe ([[CmsEstimateLong]])
  * agree by construction. Kept in one object (and mirrored verbatim in
  * both expressions' generated Java) because a builder/probe drift
  * would silently break the sketch's ≥-true-count guarantee. */
object CmsHash {
  val Prime: Long = (1L << 61) - 1
  val Golden: Long = 0x9e3779b97f4a7c15L
  def slot(x: Long, d: Int, width: Int): Int = {
    val m = ((2L * d + 1L) * x + (Golden + d)) % Prime
    val pm = if (m < 0) m + Prime else m
    (pm % width).toInt
  }
}

/** Count-min sketch of a stream of 64-bit element hashes: a
  * `depth × width` grid of counters; each element increments one
  * counter per row, estimate = min over rows — never below the true
  * count, above it only on all-rows collisions.
  *
  * This is the scale primitive for frequency queries over domains too
  * large to groupBy (URLs, n-grams, user agents at 100 TB): partial
  * aggregation applies (update is counter increments, merge is
  * element-wise add — commutative and associative, so partition order
  * never changes the result), and the shuffle carries one
  * `depth·width`-long grid per partition instead of one row per
  * distinct element. The exact-recount pattern in
  * `Search.heavyHitters` turns the lossy sketch into an exact answer:
  * probe-filter the stream (superset of true heavy hitters, because
  * estimates never undercount), then exactly count only the
  * survivors. */
case class CmsSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(child.dataType == LongType,
      s"graft_cms_sketch requires a BIGINT element hash, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      var d = 0
      while (d < depth) {
        buf(d * width + CmsHash.slot(x, d, width)) += 1L
        d += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(depth * width)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketchAgg =
    copy(child = newChild)
}

/** Count-min frequency estimate of a 64-bit hash, inside whole-stage
  * codegen: the sketch (built by [[CmsSketchAgg]], collected once —
  * model-sized, `depth·width` longs) rides along as a codegen
  * reference object; the probe is `depth` multiply-mod-index loads and
  * a running min — no UDF boxing, no shuffle. Estimates are exact or
  * high, never low, which is what makes sketch-guided exact recounts
  * sound. */
case class CmsEstimateLong(
    child: Expression,
    sketch: Array[Long],
    depth: Int,
    width: Int) extends UnaryExpression {
  require(sketch.length == depth * width,
    s"sketch length ${sketch.length} != depth $depth * width $width")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(child.dataType == LongType,
      s"graft_cms_estimate requires a BIGINT hash, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[Long]
    var est = Long.MaxValue
    var d = 0
    while (d < depth) {
      val v = sketch(d * width + CmsHash.slot(x, d, width))
      if (v < est) est = v
      d += 1
    }
    est
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("graftCms", sketch, "long[]")
      val est = ctx.freshName("est")
      val d = ctx.freshName("d")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      // same arithmetic as CmsHash.slot, inlined for codegen
      s"""long $est = Long.MAX_VALUE;
         |for (int $d = 0; $d < $depth; $d++) {
         |  long $m = ((2L * $d + 1L) * $c + (0x9e3779b97f4a7c15L + $d)) % ${CmsHash.Prime}L;
         |  if ($m < 0) $m += ${CmsHash.Prime}L;
         |  long $v = $ref[$d * $width + (int) ($m % $width)];
         |  if ($v < $est) $est = $v;
         |}
         |${ev.value} = $est;""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CmsEstimateLong =
    copy(child = newChild)
}

/** Element-wise sum of fixed-width BIGINT vectors: the grouped
  * centroid primitive. `groupBy(label).agg(vector_sum(qv))` computes
  * per-group embedding sums in ONE hash aggregation whose buffer is a
  * single dims-long array — no per-dimension explode (which multiplies
  * the shuffle by dims) and no dims separate `sum(element_at(v, i))`
  * slots (which blow up codegen past ~10² dimensions). Partial
  * aggregation applies: update and merge are element-wise adds
  * (commutative, associative), so the shuffle carries one vector per
  * (partition, key). Inputs are integer-quantized upstream, so sums
  * are exact and order-independent at any parallelism — the reason
  * this takes BIGINT vectors, not floats.
  */
case class VectorSumAgg(
    child: Expression,
    dims: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(
      (child.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }) && dims > 0,
      s"graft_vector_sum_agg requires (ARRAY<BIGINT>, dims > 0), got (${child.dataType.sql}, $dims)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](dims)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() != dims)
        throw new IllegalStateException(
          s"graft_vector_sum_agg(dims=$dims) got a ${arr.numElements()}-element vector")
      var i = 0
      while (i < dims) {
        if (!arr.isNullAt(i)) buf(i) += arr.getLong(i)
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < dims) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(dims * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(dims)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorSumAgg =
    copy(child = newChild)
}

/** Bounded top-k of a group: the k best (score, tag) pairs under the
  * total order (score DESC, tag ASC), as an ordered array of structs.
  *
  * This is the scale-safe form of `row_number() OVER (PARTITION BY g
  * ORDER BY s DESC) <= k`: the window plan shuffles and SORTS every
  * row of every group before discarding all but k, while this
  * aggregate's buffer never holds more than k entries, partial
  * aggregation applies (update inserts into a k-bounded sorted array,
  * merge is a k-bounded merge of two such arrays — associative and
  * commutative under the total order), and the shuffle carries at most
  * k entries per (partition, key). For "top 10 per brand" over 100 TB
  * of lineitems that is the difference between sorting the whole fact
  * table and a map-side-combined agg whose shuffle is O(groups · k).
  *
  * Determinism: ties in score break on the tag's binary (UTF8) order,
  * so callers needing a numeric tiebreak encode tags fixed-width
  * (e.g. `lpad(id, 12, '0')` — string order == numeric order).
  * Scores compare via `java.lang.Double.compare` (a total order, so
  * NaN sorts above +Inf rather than poisoning comparisons); null
  * score or tag rows are skipped.
  */
case class TopKAgg(
    score: Expression,
    tag: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[TopKAgg.Buffer]
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
  import TopKAgg.Buffer

  override def left: Expression = score
  override def right: Expression = tag

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.expect(
      score.dataType == DoubleType && tag.dataType == StringType && k > 0,
      s"graft_topk_agg requires (DOUBLE score, STRING tag, k > 0), got " +
        s"(${score.dataType.sql}, ${tag.dataType.sql}, $k)")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("tag", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Buffer = new Buffer(k)

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val s = score.eval(input)
    val t = tag.eval(input)
    if (s != null && t != null)
      // clone: the UTF8String points into a reused input row buffer
      buf.offer(s.asInstanceOf[Double], t.asInstanceOf[UTF8String].clone())
    buf
  }

  override def merge(b1: Buffer, b2: Buffer): Buffer = { b1.mergeFrom(b2); b1 }

  override def eval(buf: Buffer): Any = {
    val rows = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      rows(i) = InternalRow(buf.scores(i), buf.tags(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override def serialize(buf: Buffer): Array[Byte] = {
    var bytes = 4
    var i = 0
    while (i < buf.size) { bytes += 12 + buf.tags(i).numBytes(); i += 1 }
    val bb = java.nio.ByteBuffer.allocate(bytes)
    bb.putInt(buf.size)
    i = 0
    while (i < buf.size) {
      bb.putDouble(buf.scores(i))
      val tb = buf.tags(i).getBytes
      bb.putInt(tb.length)
      bb.put(tb)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Buffer(k)
    var i = 0
    while (i < n) {
      val s = bb.getDouble
      val len = bb.getInt
      val tb = new Array[Byte](len)
      bb.get(tb)
      buf.offer(s, UTF8String.fromBytes(tb))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): TopKAgg =
    copy(score = newLeft, tag = newRight)
}

object TopKAgg {
  /** k-bounded sorted array, best-first under (score DESC, tag ASC).
    * Insertion is O(k) per row with k small and fixed — no heap
    * allocation churn, no comparator boxing. */
  final class Buffer(k: Int) {
    val scores = new Array[Double](k)
    val tags = new Array[UTF8String](k)
    var size: Int = 0

    /** true when (s1,t1) ranks strictly better than (s2,t2). */
    private def better(s1: Double, t1: UTF8String, s2: Double, t2: UTF8String): Boolean = {
      val c = java.lang.Double.compare(s2, s1) // DESC on score
      c < 0 || (c == 0 && t1.compareTo(t2) < 0)
    }

    def offer(s: Double, t: UTF8String): Unit = {
      if (size == k && !better(s, t, scores(k - 1), tags(k - 1))) return
      var pos = if (size == k) k - 1 else size
      if (size < k) size += 1
      while (pos > 0 && better(s, t, scores(pos - 1), tags(pos - 1))) {
        scores(pos) = scores(pos - 1); tags(pos) = tags(pos - 1); pos -= 1
      }
      scores(pos) = s; tags(pos) = t
    }

    def mergeFrom(other: Buffer): Unit = {
      var i = 0
      while (i < other.size) { offer(other.scores(i), other.tags(i)); i += 1 }
    }
  }
}
