package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot keys that overwhelm a single
  * reducer (AQE's skew-join split handles join inputs; these cover
  * aggregation skew and joins where the skewed side must stay
  * shuffled).
  *
  * WHEN TO USE WHICH — measured, not guessed (the MeasureJoinSkew probe
  * at sf0.1, `git show ebc108b:src/test/scala/graft/MeasureJoinSkew.scala`;
  * SCALE.md "Skew"): for JOIN skew prefer
  * AQE's skew-join and do nothing here. With a 90%-one-key fact of
  * 6.6 M rows (hot key 4.7 M) AQE ran 2.16 s vs 3.54 s unmitigated
  * (1.6× win) while [[saltedJoin]] ran 4.24 s — the `salts`-way
  * replication of the right side costs more than the balance win, and
  * AQE splits only the oversized partitions with no replication at
  * all. Below one reducer's worth of hot-key rows (0.23 M-row run)
  * skew is invisible and salting is a pure 1.8× tax. [[saltedJoin]]
  * earns its keep only where AQE cannot re-plan the join: stream-side
  * joins inside a streaming query, or when the skewed side must keep
  * its existing partitioning. AGGREGATION skew is different — AQE has
  * no skew rule for aggregates, so [[saltedSumCount]] remains the
  * tool whenever one group key holds ≫ 1/parallelism of the rows.
  *
  * Both are deterministic: the salt derives from a per-partition row
  * index (`monotonically_increasing_id`), not `rand()` — identical on
  * task retry for the same input partition, so exactly-once sinks stay
  * safe. A row-content hash would NOT work here: aggregation skew
  * usually comes from millions of *identical* rows, which would all
  * hash to one salt and defeat the spreading entirely.
  */
object Skew {

  /** The salt column both operators shuffle on — deterministic
    * per-partition row index mod `salts` (see object scaladoc for why
    * not `rand()` or a content hash). Exposed so the skew property
    * test measures the distribution of the operator's REAL salt, not a
    * reimplementation. */
  private[graft] def withSalt(df: DataFrame, salts: Int): DataFrame =
    df.withColumn("_salt",
      pmod(monotonically_increasing_id(), lit(salts)).cast("int"))

  /** Two-phase aggregation for skewed group keys: phase 1 aggregates
    * on (keys, salt) — spreading a hot key over `salts` reducers —
    * phase 2 combines per key. Supports the decomposable aggregates
    * the DWS layer uses: per-column sums and a row count.
    *
    * Equivalent to `df.groupBy(keys).agg(sum(c)..., count(*))` for any
    * input; worthwhile when one key holds ≫ 1/parallelism of the rows.
    */
  def saltedSumCount(df: DataFrame, keys: Seq[String], sumCols: Seq[String],
                     countName: String = "cnt", salts: Int = 16): DataFrame = {
    val phase1 = withSalt(df, salts)
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(count(lit(1)).as("_pc"),
        sumCols.map(c => sum(col(c)).as(s"_ps_$c")): _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_pc")).as(countName),
        sumCols.map(c => sum(col(s"_ps_$c")).as(s"sum_$c")): _*)
  }

  /** Salted equi-join for a skewed left side against a right side too
    * large to broadcast: left rows get a deterministic salt in
    * [0, salts); the right side is replicated `salts` times; the join
    * key becomes (key, salt). Semantically identical to
    * `left.join(right, keys, joinType)` for inner/left joins, but the
    * hot key's rows land on `salts` reducers instead of one. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 joinType: String = "inner", salts: Int = 16): DataFrame = {
    val l = withSalt(left, salts)
    val r = right.withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, keys :+ "_salt", joinType).drop("_salt")
  }
}
