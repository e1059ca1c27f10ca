package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import scala.collection.mutable

/** Plan-shape sweep: runs every named query once, in name order, in
  * one session, to a noop sink, and writes one JSON line per query:
  * the join operators and shuffle exchanges of the final (AQE) plan of
  * every SQL execution the query ran — memo builds and other
  * checkpoints included — its shuffle write bytes, and its wall time.
  * Join-strategy changes are judged by diffing two sweeps, e.g.
  * `gate/plan_sweep_parent_sf0.01.jsonl` against
  * `gate/plan_sweep_sf0.01.jsonl`.
  *
  * {{{
  * sbt Test/compile
  * SPARK_GRAFT_CPUS=4 sbt "Test/runMain graft.PlanSweep <sf-dir> <out.jsonl>"
  * }}}
  * `SPARK_GRAFT_SWEEP_ONLY=q1,q2` restricts the sweep to those queries
  * (their memo builds then run under the first of them). */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val Array(sf, out) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val joins = mutable.Map[String, mutable.Map[String, Int]]()
    val exchanges = mutable.Map[String, Int]().withDefaultValue(0)
    val shuffleBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val stageQuery = new java.util.concurrent.ConcurrentHashMap[Int, String]()

    def walk(q: String, p: SparkPlan): Unit = p.foreachWithSubqueries {
      case a: AdaptiveSparkPlanExec => walk(q, a.executedPlan)
      case s: QueryStageExec => walk(q, s.plan)
      case _: ShuffleExchangeExec => exchanges(q) += 1
      case n if n.nodeName.endsWith("Join") || n.nodeName.contains("Cartesian") =>
        joins.getOrElseUpdate(q, mutable.Map[String, Int]().withDefaultValue(0))(n.nodeName) += 1
      case _ =>
    }

    val executions = new CheckpointBuilds(spark, keep = _ => true)
    spark.listenerManager.register(executions)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.sweep.query")))
          .foreach(stageQuery.put(e.stageInfo.stageId, _))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        shuffleBytes.merge(stageQuery.getOrDefault(e.stageId, "?"),
          m.shuffleWriteMetrics.bytesWritten, (a, b) => a + b)
      }
    })
    val only = sys.env.get("SPARK_GRAFT_SWEEP_ONLY").map(_.split(',').toSet)
    val w = new java.io.PrintWriter(out)
    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => only.forall(_(q._1))).foreach {
      case (name, fn) =>
        spark.sparkContext.setLocalProperty("graft.sweep.query", name)
        val t0 = System.nanoTime()
        val err = try { fn(spark, sf).write.format("noop").mode("overwrite").save(); "" }
          catch { case e: Throwable => e.toString.replace('"', '\'').take(200) }
        val qes = executions.drain()
        val ms = (System.nanoTime() - t0) / 1000000
        qes.foreach(qe => walk(name, qe.executedPlan))
        val js = joins.getOrElse(name, mutable.Map()).toSeq.sorted
          .map { case (k, v) => s""""$k":$v""" }.mkString(",")
        w.println(s"""{"q":"$name","ms":$ms,"exchanges":${exchanges(name)},""" +
          s""""shuffle_write":${Option(shuffleBytes.get(name)).getOrElse(0L)},""" +
          s""""joins":{$js},"err":"$err"}""")
        w.flush()
    }
    w.close()
    spark.stop()
  }
}
