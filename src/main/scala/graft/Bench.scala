package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Task-metric accumulator for the per-query I/O report: shuffle
    * bytes and records written, bytes read, spill, and max single-task
    * peak execution memory. Record counts are deterministic for a given
    * plan + data, so their scaling exponents across amplified decades
    * (tools/decade.py --field shuffle_records) carry no noise — a plan
    * whose shuffle volume grows super-linearly is a scale-killer even
    * when task-overhead floors hide it in the timings. Bytes are not:
    * a range-sorted query's bounds come from a sample seeded by the RDD
    * id, so its bytes move by a few hundred with whatever the session
    * ran before, while its records stay put. */
  private final class IoListener extends org.apache.spark.scheduler.SparkListener {
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val shufRecords = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
    val peakMem = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakMem.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
      }
    }
    def snapshot: (Long, Long, Long, Long, Long) =
      (shufWrite.get, shufRead.get, spill.get, peakMem.get, shufRecords.get)
    // the byte counters diff across snapshots; the max doesn't — reset
    // it (post-drain) so each report window gets its own peak
    def resetPeak(): Unit = peakMem.set(0L)
  }

  /** Listener events are delivered asynchronously; drain the bus so a
    * query's tail tasks aren't attributed to the next query. Scala's
    * `private[spark]` on `SparkContext.listenerBus` /
    * `LiveListenerBus.waitUntilEmpty()` is compile-time only — both
    * are public in bytecode (Spark's own test harness calls them the
    * same way), so plain reflection reaches them with no setAccessible.
    * Falls back to a fixed sleep if Spark ever renames them; either
    * path is outside the timed windows. */
  private[graft] def drain(sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(200) }

  /** Process CPU time in ns (for the wall-vs-cpu contention sentinel);
    * -1 when the JVM doesn't expose the com.sun.management extension. */
  private def procCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Cumulative stop-the-world GC milliseconds across all collectors —
    * snapshot-diffed around each timed window so a query whose "time"
    * is actually heap pressure (e.g. the whole warm-memo surface
    * resident during the timed runs) indicts itself in the JSON
    * (r16 verdict task 3: per-window GC attribution). */
  private def gcMs: Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => if (b.getCollectionTime > 0) t += b.getCollectionTime)
    t
  }

  /** Whole-JVM codegen counters: (classes compiled, compile ms). Both
    * are global to the JVM, driver and task threads alike; a compile
    * that hits `CodeGenerator`'s cache counts in neither. */
  private def codegen: (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1000000L)

  /** Locale-independent numeric rendering — the f"" interpolator uses
    * the JVM default locale, which on a comma-decimal locale would
    * emit "1,234" and break the JSON line the driver parses. */
  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // same session profile as GraftSession (AQE, skew join, 64 MB
    // broadcast threshold, UTC, ANSI off) so the bench measures the
    // plans the engine actually ships
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    val benchWall0 = System.nanoTime()
    val benchCpu0 = procCpuNs
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    val runsJson = scala.collection.mutable.ListBuffer.empty[String]
    val ioJson = scala.collection.mutable.ListBuffer.empty[String]
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    // optional comma-separated allowlist for timing a few queries in
    // isolation (plan-iteration loop); the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    // Pre-warm pass (r15 verdict task 2): run every query once,
    // UNTIMED, before any timed window. Shared memo builds landed on
    // whichever query touched them first, so per-query deltas rotated
    // identity across same-code runs; after this pass every timed run
    // measures a warm-memo steady-state query and the whole build cost
    // is charged to its own "warmup_sec" line.
    val warm0 = System.nanoTime()
    val warmGc0 = gcMs
    val warmCg0 = codegen
    selected.foreach { case (name, fn) =>
      if (!spark.sparkContext.isStopped)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch {
          // the timed loop records the failure against the query; a
          // FATAL error (warmup OOM) must stay attributable in the log
          // rather than vanish into an empty catch — the post-warmup
          // isStopped check turns it into the recorded abort
          case scala.util.control.NonFatal(_) => ()
          case e: Throwable =>
            System.err.println(s"[bench] warmup $name: FATAL ${e.getClass.getName}: ${e.getMessage}")
        }
    }
    val warmupSec = (System.nanoTime() - warm0) / 1e9
    val warmupGcMs = gcMs - warmGc0
    val warmCg1 = codegen
    // once a query kills the SparkContext (the OOM cascade in SCALE.md's
    // memory finding stopped it from an executor thread), every later
    // query fails with the meaningless "stopped SparkContext" — flag the
    // abort so the JSON distinguishes "this query broke" from "the JVM
    // died under an earlier one"
    var aborted = spark.sparkContext.isStopped
    val results = selected.map { case (name, fn) =>
      // noop sink: executes the FULL plan (projections, sorts, exprs)
      // without writing — a bare count() would let Catalyst prune the
      // very work being measured (projection-only queries collapse to
      // scan time).
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // two passes, report the min: a single cold pass inherits whatever
      // else the sandbox is doing, so one contended run can read as a 10×
      // "regression" on untouched code. The min of two is the stable,
      // comparable number; both raw runs are kept in "runs" so a noisy
      // machine is visible in the JSON itself.
      // the I/O report uses run 2 only (memo builds a first toucher
      // pays land in run 1, the steady-state plan is what scales), so
      // snapshot between the runs and after — each preceded by a bus
      // drain so late task-end events stay with their query
      val timed =
        if (aborted) { errors += name; None }
        else try {
          val g0 = gcMs
          val r1 = once()
          drain(spark.sparkContext); val s1 = io.snapshot; io.resetPeak()
          val g1 = gcMs
          val c1 = codegen
          val r2 = once()
          drain(spark.sparkContext); val s2 = io.snapshot
          val g2 = gcMs
          val c2 = codegen
          Some((r1, r2, s1, s2, g1 - g0, g2 - g1, (c2._1 - c1._1, c2._2 - c1._2)))
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name: $e"); errors += name
          if (spark.sparkContext.isStopped) {
            System.err.println(s"[bench] SparkContext stopped under $name " +
              "(executor-thread OOM kills it from below — see SCALE.md " +
              "memory finding); aborting, remaining queries marked failed")
            aborted = true
          }
          None
        }
      timed match {
        case Some((r1, r2, s1, s2, gc1, gc2, cg)) =>
          runsJson += s"\"$name\":[${num(r1)},${num(r2)}]"
          ioJson += s"\"$name\":{\"shuffle_write\":${s2._1 - s1._1}," +
            s"\"shuffle_records\":${s2._5 - s1._5}," +
            s"\"shuffle_read\":${s2._2 - s1._2},\"spilled\":${s2._3 - s1._3}," +
            s"\"peak_task_mem\":${s2._4},\"gc_ms\":[$gc1,$gc2]," +
            s"\"codegen_compiles\":${cg._1},\"codegen_ms\":${cg._2}}"
          // a failed query records -1, not its meaningless elapsed time —
          // broken must be distinguishable from fast in the JSON alone
          name -> math.min(r1, r2)
        case None => name -> -1.0
      }
    }
    val benchWallNs = System.nanoTime() - benchWall0
    val benchCpuNs = if (benchCpu0 >= 0) procCpuNs - benchCpu0 else -1L
    // effective parallelism over the whole bench: process-CPU-seconds /
    // wall-seconds. On an idle local[32] box this sits well above 1; a
    // contended sandbox drags it toward (or below) 1 even though per-query
    // wall times balloon — so a suspicious BENCH file indicts itself.
    val wallVsCpu = if (benchCpuNs >= 0) benchCpuNs.toDouble / benchWallNs else -1.0
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    // ok:false marks a run whose total excludes failed queries — a smaller
    // value than a clean run's must never be read as a speedup
    val ok = errors.isEmpty
    val json = s"""{"metric":"total","value":$total,"unit":"sec","ok":$ok,"queries":$qs,"runs":${runsJson.mkString("{", ",", "}")},"io":${ioJson.mkString("{", ",", "}")},"errors":$errs,"warmup_sec":${num(warmupSec)},"warmup_gc_ms":$warmupGcMs,"warmup_codegen_compiles":${warmCg1._1 - warmCg0._1},"warmup_codegen_ms":${warmCg1._2 - warmCg0._2},"gc_total_ms":${gcMs},"cpu_vs_wall":${num(wallVsCpu)},"load_avg_start":${num(loadStart)},"load_avg_end":${num(osBean.getSystemLoadAverage)},"memo_level":"${spark.conf.get(graft.operators.Memo.LevelConf, "MEMORY_AND_DISK")}","memo_level_resolved":"${graft.operators.Memo.level(spark)}","sf":"$sfDir"}"""
    println(json)
    // the driver's BENCH capture truncates long stdout lines, losing
    // "total" and half the per-query map; the full JSON on disk keeps
    // round-over-round gates comparing complete query sets
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench.json"), json)
    catch { case e: Throwable => System.err.println(s"[bench] bench.json write failed: $e") }
    spark.stop()
  }
}
