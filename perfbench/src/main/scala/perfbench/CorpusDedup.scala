package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.SparkEntry

/** `corpus_dedup`: a fresh session runs each of `Queries` once, in
  * seed-permuted order, and collects its result. Only
  * the LLM-ops half of the engine runs (signatures, pair mining,
  * components, `Memo.shared` checkpoints); no gmall layer and no
  * serving. Results are written to `work/results/<query>` after the
  * timed pass for run.py's digest check. */
object CorpusDedup {
  import Main._

  /** The `Dedup.queries` entries run: together they cover signature
    * codegen, LSH pair mining (with its exact recall), connected
    * components, star contraction and the `Memo.shared` checkpoints
    * they share. The full list takes too long cold (README.md). */
  val Queries: Seq[String] = Seq("dedup_lsh_eval", "dedup_components")

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val names = rng.shuffle(Queries.sorted)
    ready()
    val t0 = System.nanoTime()
    val done = names.map { q =>
      val s = System.nanoTime()
      val r = scala.util.Try(tracer.span(s"dedup.$q", "dedup") {
        val df = SparkEntry.queries(q)(spark, data)
        (df.schema, df.collect())
      })
      val e = System.nanoTime()
      (q, r, (e - s) / 1e6, (e - t0) / 1e6)
    }
    val coldS = (System.nanoTime() - t0) / 1e9
    done.foreach {
      case (q, scala.util.Success((schema, rows)), _, _) =>
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$work/results/$q")
      case (q, scala.util.Failure(e), _, _) => System.err.println(s"[perfbench] $q failed: $e")
    }
    // LSH recall over the exact verified-pair truth, from dedup_lsh_eval
    val recall = done.collectFirst { case ("dedup_lsh_eval", scala.util.Success((schema, rows)), _, _) =>
      val f = schema.fieldIndex("found_ct"); val t = schema.fieldIndex("truth_ct")
      rows.map(r => num(r, f)).sum / rows.map(r => num(r, t)).sum
    }
    Outcome(
      metrics = Map(
        "cold_s" -> coldS,
        // the viewer waits for the whole result: every item's freshness is
        // the full pass (per-item times depend on the seed's order)
        "freshness_p50_ms" -> coldS * 1000, "freshness_p90_ms" -> coldS * 1000) ++
        (if (tracer.enabled) recall.map("dedup.lsh_recall" -> _) else None),
      detail = Map("queries" -> done.map { case (q, r, ms, at) =>
        Map("query" -> q, "ok" -> r.isSuccess, "rows" -> r.map(_._2.length.toLong).getOrElse(-1L),
          "ms" -> ms, "done_ms" -> at)
      }),
      attempted = done.size, failed = done.count(_._2.isFailure))
  }

  private def num(r: Row, i: Int): Double =
    if (r.isNullAt(i)) 0.0 else r.get(i).toString.toDouble
}
