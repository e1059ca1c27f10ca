package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
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
    @volatile var current = ""
    val joins = mutable.Map[String, mutable.Map[String, Int]]()
    val exchanges = mutable.Map[String, Int]().withDefaultValue(0)
    val shuffleBytes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val stageQuery = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // each cached plan is counted once, under the first query to read it
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

    def walk(q: String, p: SparkPlan): Unit = p.foreachWithSubqueries {
      case a: AdaptiveSparkPlanExec => walk(q, a.executedPlan)
      case s: QueryStageExec => walk(q, s.plan)
      case im: InMemoryTableScanExec =>
        if (seen.add(im.relation.cachedPlan)) walk(q, im.relation.cachedPlan)
      case _: ShuffleExchangeExec => exchanges(q) += 1
      case n if n.nodeName.endsWith("Join") || n.nodeName.contains("Cartesian") =>
        joins.getOrElseUpdate(q, mutable.Map[String, Int]().withDefaultValue(0))(n.nodeName) += 1
      case _ =>
    }

    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        synchronized(walk(current, qe.executedPlan))
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.sweep.query")))
          .foreach(stageQuery.put(e.stageInfo.stageId, _))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        shuffleBytes.merge(stageQuery.getOrDefault(e.stageId, "?"),
          m.shuffleWriteMetrics.bytesWritten, (a, b) => a + b)
      }
    })
    // `listenerBus.waitUntilEmpty` is public in bytecode
    def drain(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }

    val only = sys.env.get("SPARK_GRAFT_SWEEP_ONLY").map(_.split(',').toSet)
    val w = new java.io.PrintWriter(out)
    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => only.forall(_(q._1))).foreach {
      case (name, fn) =>
        current = name
        spark.sparkContext.setLocalProperty("graft.sweep.query", name)
        val t0 = System.nanoTime()
        val err = try { fn(spark, sf).write.format("noop").mode("overwrite").save(); "" }
          catch { case e: Throwable => e.toString.replace('"', '\'').take(200) }
        drain()
        val ms = (System.nanoTime() - t0) / 1000000
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
