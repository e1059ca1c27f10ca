package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One pass of one benchmark workload in a fresh JVM.
  *
  * `perfbench/run.py` launches this class; it is not meant to be run by
  * hand. Arguments are `key=value` pairs:
  *   mode=dashboard|dedup|stream|render|oracles  data=<parquet dir>  work=<scratch dir>
  *   seed=<n>  seconds=<n>  trace=0|1  cores=<n>  out=<result json>
  * and, for `render`, `frames=<dir>`. `render` and `oracles` serve
  * gen_expected.py.
  *
  * The result file holds the pass's metrics, its detail and (traced)
  * its spans; run.py turns a set of passes into the benchmark's line.
  */
object Main {

  final class Ctx(val spark: SparkSession, val opts: Map[String, String], val tracer: Tracer) {
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing argument $k="))
    val data: String = opt("data")
    val work: String = opt("work")
    val seed: Long = opt("seed").toLong
    val seconds: Double = opt("seconds").toDouble
    val cores: Int = opt("cores").toInt
    // java.util.Random's first draws are correlated across nearby seeds
    val rng = new Random(new java.util.SplittableRandom(seed).nextLong())
    /** Wall-clock ms at which set-up ended (session ready, inputs staged). */
    var readyMs: Long = -1L
    def ready(): Unit = readyMs = System.currentTimeMillis()
  }

  /** What a workload reports: metric values, extra detail for the
    * report, and its own operation counts. */
  final case class Outcome(metrics: Map[String, Double], detail: Map[String, Any],
                           attempted: Long, failed: Long)

  def main(args: Array[String]): Unit = {
    val opts = args.iterator.map { a =>
      val i = a.indexOf('='); require(i > 0, s"expected key=value, got '$a'")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    val cores = opts.getOrElse("cores", "4").toInt
    // the engine's own session profile (AQE, UTC, broadcast threshold)
    // at local[cores] with one shuffle partition per core, as graft.Bench
    val spark = graft.GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, opts, new Tracer(spark, opts.get("trace").contains("1")))
    val gc0 = gcMs
    val cpu0 = procCpuNs
    val wall0 = System.nanoTime()
    val out = ctx.opt("mode") match {
      case "dashboard" => Dashboard.run(ctx)
      case "dedup" => CorpusDedup.run(ctx)
      case "stream" => StreamTraffic.run(ctx)
      case "render" => Dashboard.render(ctx)
      case "oracles" =>
        // oracle SQL of the corpus_dedup queries and of every route's ADS query
        val routes = graft.serving.SugarApi.endpoints.map { case (r, e) => r -> e.query }
        val sql = graft.SparkEntry.oracleSql
        val names = CorpusDedup.Queries ++ routes.values
        Outcome(Map.empty, Map("routes" -> routes, "dedup" -> CorpusDedup.Queries,
          "sql" -> names.flatMap(q => sql.get(q).map(q -> _)).toMap), 0, 0)
      case m => sys.error(s"unknown mode $m")
    }
    val wallNs = System.nanoTime() - wall0
    val rssMb = peakRssMb
    // what the pass leaves resident (memo blocks, caches, session state):
    // heap in use after full collections, steadier than the RSS peak,
    // which follows the collector's heap sizing. Pending listener events
    // and the cleaner's work on the first collection's garbage settle first.
    ctx.tracer.drain()
    System.gc(); Thread.sleep(300); ctx.tracer.drain(); System.gc()
    val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = if (ctx.readyMs > 0) (ctx.readyMs - jvmStartMs) / 1000.0 else -1.0
    val storage = spark.sparkContext.getRDDStorageInfo
    val run = ctx.tracer.runCounters
    val common = Map[String, Any](
      "setup_s" -> setupS,
      "heap_live_mb" -> liveMb,
      "jvm.peak_rss_mb" -> rssMb,
      "jvm.gc_ms" -> (gcMs - gc0).toDouble,
      "memo.blocks" -> storage.map(_.numCachedPartitions.toLong).sum.toDouble,
      "memo.mem_bytes" -> storage.map(_.memSize).sum.toDouble,
      "memo.disk_bytes" -> storage.map(_.diskSize).sum.toDouble,
      "spark.tasks" -> run.tasks.get.toDouble,
      "spark.failed_tasks" -> run.failedTasks.get.toDouble,
      "spark.executor_cpu_ms" -> run.cpuNs.get / 1e6)
    val osBean = ManagementFactory.getOperatingSystemMXBean
    val env = Map[String, Any](
      "seed" -> ctx.seed, "cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "load_avg" -> osBean.getSystemLoadAverage,
      "cpu_vs_wall" -> (if (cpu0 >= 0) (procCpuNs - cpu0).toDouble / wallNs else -1.0),
      "trace" -> ctx.tracer.enabled, "run_id" -> ctx.tracer.runId)
    val json = Json.obj(
      "mode" -> ctx.opt("mode"),
      "metrics" -> (common ++ out.metrics),
      "detail" -> out.detail, "env" -> env,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "spans" -> Json.Raw(ctx.tracer.spansJson.mkString("[", ",\n", "]")))
    Files.write(Paths.get(ctx.opt("out")), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
  }

  def gcMs: Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  def procCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  /** q-quantile (0..1) of `xs` by linear interpolation; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
}
