package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Registers the engine's native expressions in the SQL function
  * registry, so `spark.sql("SELECT graft_simhash64(...)")` works the
  * same as the Column API — the `SparkSessionExtensions` path every
  * Spark extension library uses. Enabled via
  * `GraftSession.builder` (`withExtensions`) or
  * `spark.sql.extensions=graft.functions.GraftSqlExtensions`.
  */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftSqlExtensions].getName, null, name, usage, "")

  private def arity(args: Seq[Expression], n: Int, fn: String): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n argument(s), got ${args.length}")

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_fnv1a64"),
      info("graft_fnv1a64", "graft_fnv1a64(str) - FNV-1a 64-bit hash of a string"),
      (args: Seq[Expression]) => { arity(args, 1, "graft_fnv1a64"); Fnv1a64(args.head) }))

    ext.injectFunction((FunctionIdentifier("graft_cosine_sim"),
      info("graft_cosine_sim", "graft_cosine_sim(a, b) - cosine similarity of float arrays"),
      (args: Seq[Expression]) => { arity(args, 2, "graft_cosine_sim"); CosineSimFloat(args(0), args(1)) }))

    ext.injectFunction((FunctionIdentifier("graft_dot_long"),
      info("graft_dot_long", "graft_dot_long(a, b) - integer dot product of bigint arrays"),
      (args: Seq[Expression]) => { arity(args, 2, "graft_dot_long"); DotProductLong(args(0), args(1)) }))

    ext.injectFunction((FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "graft_simhash64(tokens) - 64-bit SimHash of a token array"),
      (args: Seq[Expression]) => { arity(args, 1, "graft_simhash64"); SimHash64(args.head) }))

    ext.injectFunction((FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig", "graft_minhash_sig(hashes, n) - n-permutation minhash signature"),
      (args: Seq[Expression]) => { arity(args, 2, "graft_minhash_sig")
        MinHashSignature(args.head, intArg(args(1), "graft_minhash_sig")) }))

    ext.injectFunction((FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes", "graft_shingle_hashes(tokens, k) - distinct k-gram shingle hashes"),
      (args: Seq[Expression]) => { arity(args, 2, "graft_shingle_hashes")
        ShingleHashes(args.head, intArg(args(1), "graft_shingle_hashes")) }))

    ext.injectFunction((FunctionIdentifier("graft_segment_tokens"),
      info("graft_segment_tokens",
        "graft_segment_tokens(str) - keyword tokens: latin/digit runs + CJK bigrams"),
      (args: Seq[Expression]) => { arity(args, 1, "graft_segment_tokens"); SegmentTokens(args.head) }))

    ext.injectFunction((FunctionIdentifier("graft_maxwell_parse"),
      info("graft_maxwell_parse",
        "graft_maxwell_parse(str) - Maxwell CDC envelope: struct(database,table,type,data,old,ts); null if malformed"),
      (args: Seq[Expression]) => { arity(args, 1, "graft_maxwell_parse")
        SchemaJsonParse(args.head, graft.streaming.LogStream.maxwellSchema) }))

    ext.injectFunction((FunctionIdentifier("graft_media_header"),
      info("graft_media_header",
        "graft_media_header(bin) - packed PNG/JPEG/WAV header info: [format:4][width:20][height:20][channels:4][sample_rate:16]"),
      (args: Seq[Expression]) => { arity(args, 1, "graft_media_header"); MediaHeaderInfo(args.head) }))

    ext.injectFunction((FunctionIdentifier("graft_blockhash64"),
      info("graft_blockhash64",
        "graft_blockhash64(str) - 64-bit mean-threshold blockhash of the content (0 below the 64-char gate)"),
      (args: Seq[Expression]) => { arity(args, 1, "graft_blockhash64"); BlockHash64(args.head) }))

    ext.injectFunction((FunctionIdentifier("graft_byte_entropy"),
      info("graft_byte_entropy",
        "graft_byte_entropy(str) - struct(n_bytes, distinct_bytes, entropy) of the code-point histogram"),
      (args: Seq[Expression]) => { arity(args, 1, "graft_byte_entropy"); ByteEntropyStats(args.head) }))

    ext.injectFunction((FunctionIdentifier("graft_minhash_set_agg"),
      info("graft_minhash_set_agg",
        "graft_minhash_set_agg(hash, n) - aggregate: n-permutation minhash signature of the group's hash set"),
      (args: Seq[Expression]) => { arity(args, 2, "graft_minhash_set_agg")
        MinHashSetAgg(args.head, intArg(args(1), "graft_minhash_set_agg"))
          .toAggregateExpression() }))

    ext.injectFunction((FunctionIdentifier("graft_vector_sum_agg"),
      info("graft_vector_sum_agg",
        "graft_vector_sum_agg(vec, dims) - aggregate: element-wise sum of the group's BIGINT vectors"),
      (args: Seq[Expression]) => { arity(args, 2, "graft_vector_sum_agg")
        VectorSumAgg(args(0), intArg(args(1), "graft_vector_sum_agg"))
          .toAggregateExpression() }))

    ext.injectFunction((FunctionIdentifier("graft_topk_agg"),
      info("graft_topk_agg",
        "graft_topk_agg(score, tag, k) - aggregate: the k best (score, tag) pairs of the group, ordered (score DESC, tag ASC)"),
      (args: Seq[Expression]) => { arity(args, 3, "graft_topk_agg")
        TopKAgg(args(0), args(1), intArg(args(2), "graft_topk_agg"))
          .toAggregateExpression() }))

    ext.injectFunction((FunctionIdentifier("graft_cms_sketch_agg"),
      info("graft_cms_sketch_agg",
        "graft_cms_sketch_agg(hash, depth, width) - aggregate: count-min sketch grid (depth*width counters) of the group's hashes"),
      (args: Seq[Expression]) => { arity(args, 3, "graft_cms_sketch_agg")
        CmsSketchAgg(args.head, intArg(args(1), "graft_cms_sketch_agg"),
          intArg(args(2), "graft_cms_sketch_agg")).toAggregateExpression() }))
  }
}
