package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds the SECOND measured scaling decade's input (r13 verdict task
  * 1): an sf1-EQUIVALENT dataset in a scratch dir, synthesized as ten
  * disjoint-id-range copies of the read-only sf0.1 fixtures (testdata
  * itself is never touched). `graft.Bench` then runs the
  * structure-sensitive queries at sf0.1 vs this dir and SCALE.md
  * records the exponents — the cheapest falsification available for
  * the 100 TB claims, which otherwise rest on plan shape plus ONE
  * measured decade (a quadratic with a tiny constant hides below
  * measurement at sf0.1).
  *
  * Copy-k id shifting preserves per-row structure exactly:
  *  - orders/lineitem: keys shift by k × the smallest multiple of
  *    every modulus in [[graft.operators.GmallDwdDb.envelopeJson]]'s
  *    rule table (lcm 126000) above the source max key, so each copy
  *    reproduces the same envelope row mix and the flagship join's
  *    key multiplicities; dates stay, so daily windows get 10× rows
  *    per bucket (density, not span).
  *  - documents: doc_id shifts past the source max and EVERY TOKEN gets the
  *    copy digit suffixed. Without the perturbation the ten copies
  *    are exact duplicates — minhash LSH would weld each doc into a
  *    10-clique (pairs ×45, triangles ×120) and the measured dedup
  *    exponent would be an artifact of the synthesis, not the
  *    operator. Suffixing keeps intra-copy shingle structure
  *    identical (same Jaccard graph per copy) with zero cross-copy
  *    overlap, and grows the vocabulary ×10 — a deliberate stress on
  *    any vocabulary-proportional path.
  *  - events: event_id/user_id shift — per-user streams identical,
  *    10× users, timestamps untouched (same disorder profile).
  * Dimension tables copy verbatim (a 10× fact load over fixed dims is
  * the realistic shape).
  */
object AmplifyDecade {
  val Copies = 10

  /** lcm of every modulus in GmallDwdDb.envelopeJson's rule table —
    * order strides must be a multiple so each copy reproduces the same
    * envelope row mix and join-key multiplicities. */
  val EnvelopeLcm = 126000L

  /** Smallest multiple of `multipleOf` strictly above the column's max
    * — derived from the DATA, not hardcoded, so the amplifier composes
    * (sf0.1 → sf1eq → sf10eq: the second pass sees the first pass's
    * widened key range and strides past it automatically). */
  private def strideFor(df: DataFrame, c: String, multipleOf: Long): Long = {
    val max = df.agg(org.apache.spark.sql.functions.max(col(c))).head().getLong(0)
    ((max / multipleOf) + 1L) * multipleOf
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1eq"
    // own session (not TestSession's local[4]): amplification is one
    // scan+write per table — IO-bound but wide; the session's default
    // core count (GraftSession.cpus) matches the bench profile and a
    // plain `java -cp` run needs no scalatest
    val spark = GraftSession.get()
    amplify(spark, src, out)
    println(s"AMPLIFIED $src x$Copies -> $out")
  }

  def amplify(spark: SparkSession, src: String, out: String): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // one row per (source row, copy) — explode is codegen'd and keeps
    // the amplification a single scan per table
    def copies(df: DataFrame): DataFrame =
      df.withColumn("_k", explode(lit((0 until Copies).toArray)))

    val orderStride = strideFor(read("orders"), "o_orderkey", EnvelopeLcm)
    val docStride = strideFor(read("documents"), "doc_id", 1L)
    val eventStride = strideFor(read("events"), "event_id", 1L)
    val userStride = strideFor(read("events"), "user_id", 1L)

    write(copies(read("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + col("_k") * orderStride)
      .drop("_k"), "orders")

    write(copies(read("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("_k") * orderStride)
      .drop("_k"), "lineitem")

    write(copies(read("documents"))
      .withColumn("doc_id", col("doc_id") + col("_k") * docStride)
      .withColumn("text",
        regexp_replace(col("text"), lit("([A-Za-z0-9]+)"),
          concat(lit("$1"), col("_k").cast("string"))))
      .withColumn("n_chars", length(col("text")))
      .drop("_k"), "documents")

    write(copies(read("events"))
      .withColumn("event_id", col("event_id") + col("_k") * eventStride)
      .withColumn("user_id", col("user_id") + col("_k") * userStride)
      .drop("_k"), "events")

    Seq("region", "nation", "customer", "supplier", "part", "embeddings")
      .foreach(t => write(read(t), t))
  }
}
