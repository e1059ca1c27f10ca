package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress, Trigger}

import graft.operators.{GmallDwd, GmallDws}
import graft.serving.{AdsStore, QueryServer}
import graft.streaming.{LogStream, Windows}

/** `stream_traffic`: an open-loop replay of the page log through the
  * streaming traffic leg, read over HTTP while it runs.
  *
  * Inputs: `GmallDwd.logJson` lines in event-time order; the seed picks
  * a contiguous slice, cut into files of `LinesPerFile` lines that are
  * staged before the clock starts. One generator thread renames file i
  * into the watched directory when it is due (`i / Rate` seconds after
  * the start), whether or not the engine keeps up.
  *
  * The leg: `LogStream.parse` → `clean` → `splitLog` page branch →
  * `Windows.tumbling` 10 s page-view windows per (ch, page_id) → a
  * foreachBatch that merges the closed windows into the stored DWS
  * frame (`GmallDws.mergeDwsDelta`) and publishes it as a new
  * `AdsStore` version, bound in a `QueryServer`. Two closed-loop reader
  * threads GET the bound route the whole time. Micro-batches start on
  * a fixed processing-time trigger, as a deployment would run the leg.
  *
  * A window's freshness runs from the due time of the file holding its
  * last event to the first response that shows the window. At the end a
  * far-future sentinel line closes the open windows (as OdsToAdsSpec
  * flushes), and the served frame must equal the batch recompute of the
  * same lines. The run's `cold_s` is that flush: from the sentinel's due
  * time until every window shows.
  *
  * The replay is phase-locked to the trigger. Processing-time triggers
  * fire on multiples of `TriggerMs` since the epoch, and the start is
  * chosen so that the sentinel is due `SentinelLeadMs` before one. Every
  * run then drops its files at the same points of the trigger cycle, and
  * the flush is that batch, the no-data batch one trigger later that
  * closes the windows, and the reads that show them. */
object StreamTraffic {
  import Main._

  val Route = "ads_traffic_page_window"
  val Keys = Seq("stt", "edt", "ch", "page_id")
  val Measures = Seq("pv_ct", "uv_ct")
  private val WatermarkMs = 2000L
  private val WindowMs = 10000L
  /** Files replayed (and waited for) before the clock starts. */
  val WarmFiles = 2
  /** Files dropped per second, lines per file and the leg's trigger: the
    * rate is about half of what the leg sustains at local[4] on this
    * cadence (README.md). */
  val Rate = 8.0
  val LinesPerFile = 6
  val TriggerMs = 2000L
  val SentinelLeadMs = 200L

  /** DWS page-view windows of a page-branch frame (batch or stream). */
  def pageWindows(page: DataFrame): DataFrame =
    Windows.tumbling(
      page.select(col("common.ch").as("ch"), col("page.page_id").as("page_id"),
        col("common.mid").as("mid"), timestamp_millis(col("ts")).as("et")),
      "et", Seq(col("ch"), col("page_id")),
      Seq(count(lit(1)).as("pv_ct"), size(collect_set(col("mid"))).cast("long").as("uv_ct")))

  def pageBranch(raw: DataFrame): DataFrame =
    LogStream.splitLog(LogStream.clean(LogStream.parse(raw, LogStream.pageLogSchema)))("page")

  private val TsRe = """"ts":\s*(-?\d+)""".r
  private def tsOf(line: String): Long = TsRe.findAllMatchIn(line).map(_.group(1).toLong).toSeq.last
  private def isPage(line: String): Boolean =
    line.contains("\"page\":") && !line.contains("\"err\":") && !line.contains("\"start\":")
  private def stt(ms: Long): String = {
    val f = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    f.format(java.time.Instant.ofEpochMilli(Math.floorDiv(ms, WindowMs) * WindowMs))
  }

  private val RowRe = """\{[^{}]*\}""".r
  private val FieldRe = """"(\w+)":("((?:[^"\\]|\\.)*)"|[^,}]+)""".r
  private val SttRe = """"stt":"([^"]*)"""".r
  /** Rows of an `/api/query` body as sorted canonical strings. */
  def bodyRows(body: String): Seq[String] = {
    val i = body.indexOf("\"rows\":")
    if (i < 0) Nil
    else RowRe.findAllIn(body.substring(i)).map { obj =>
      val m = FieldRe.findAllMatchIn(obj).map(x => x.group(1) -> Option(x.group(3)).getOrElse(x.group(2))).toMap
      (Keys ++ Measures).map(k => m.getOrElse(k, "?")).mkString("|")
    }.toSeq.sorted
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    import spark.implicits._
    val staged = Files.createDirectories(Paths.get(work, "staged"))
    val watch = Files.createDirectories(Paths.get(work, "watch"))
    val root = s"$work/store"

    // ---- inputs: a seed-chosen slice of the event-time-ordered log
    val all = GmallDwd.logJson(spark, data).as[String].collect().map(l => tsOf(l) -> l).sortBy(_._1)
    val nFiles = math.max(1, math.floor(Rate * seconds).toInt)
    val need = nFiles * LinesPerFile
    val warmLines = WarmFiles * LinesPerFile
    require(all.length > need + warmLines, s"log has ${all.length} lines, the run needs ${need + warmLines}")
    val from = warmLines + rng.nextInt(all.length - need - warmLines + 1)
    val warm = all.slice(from - warmLines, from).grouped(LinesPerFile).toIndexedSeq
    val slice = all.slice(from, from + need)
    val files = slice.grouped(LinesPerFile).toIndexedSeq
    val base = System.currentTimeMillis() - 3600000L
    val stagedFiles = files.zipWithIndex.map { case (chunk, i) =>
      val p = staged.resolve(f"part-$i%05d.json")
      Files.write(p, chunk.map(_._2).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      // the file source takes files oldest first: stamp the drop order
      Files.setLastModifiedTime(p, FileTime.fromMillis(base + i))
      p
    }
    // window → index of the file holding its last page event
    val lastFile = scala.collection.mutable.Map.empty[String, Int]
    files.zipWithIndex.foreach { case (chunk, i) =>
      chunk.foreach { case (ts, l) => if (isPage(l)) lastFile(stt(ts)) = i }
    }
    val pageTs = slice.filter(x => isPage(x._2)).map(_._1)
    val maxPageTs = if (pageTs.isEmpty) Long.MinValue else pageTs.max
    // windows the replay itself closes (the rest wait for the sentinel)
    val closedByReplay = lastFile.keySet.filter { w =>
      val end = java.time.LocalDateTime.parse(w.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli + WindowMs
      end + WatermarkMs <= maxPageTs
    }

    // ---- the leg
    val store = () => AdsStore.read(spark, root).map(_._2)
    val query = pageWindows(pageBranch(
        spark.readStream.text(watch.toString)))
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$work/checkpoint")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (tracer.enabled) {
          val merged = tracer.span("dws.merge", "dws")(
            GmallDws.mergeDwsDelta(store(), b, Keys, Measures).localCheckpoint())
          tracer.span("serving.publish", "serving")(AdsStore.publish(merged, root, id))
        } else AdsStore.publish(GmallDws.mergeDwsDelta(store(), b, Keys, Measures), root, id)
        ()
      }.start()
    val server = new QueryServer(spark, data)
    server.bindStore(Route, root)
    val port = server.start()
    // warm-up: the lines just before the slice, so the timed batches do
    // not pay the engine's one-off start-up (code generation, JIT)
    val warmPaths = warm.zipWithIndex.map { case (chunk, i) =>
      val p = staged.resolve(f"warm-$i%02d.json")
      Files.write(p, chunk.map(_._2).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(p, FileTime.fromMillis(base - WarmFiles + i))
      Files.move(p, watch.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
      watch.resolve(p.getFileName)
    }
    query.processAllAvailable()
    ready()

    // ---- open-loop generator and closed-loop readers
    val periodMs = 1000.0 / Rate
    val replayMs = (seconds * 1000).toLong
    val earliest = System.currentTimeMillis() + 100
    val t0 = earliest + Math.floorMod(-(replayMs + SentinelLeadMs) - earliest, TriggerMs)
    val endMs = t0 + replayMs
    val dueMs = files.indices.map(i => t0 + (i * periodMs).toLong)
    val dropMs = new Array[Long](files.size)
    val stop = new AtomicBoolean(false)
    val firstSeen = new ConcurrentHashMap[String, java.lang.Long]()
    val seenBodies = ConcurrentHashMap.newKeySet[String]()
    val reads = new ConcurrentLinkedQueue[(Double, Int, Boolean)]() // (latency ms, status, new version)
    val generator = new Thread(() => {
      files.indices.foreach { i =>
        val wait = dueMs(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(stagedFiles(i), watch.resolve(stagedFiles(i).getFileName), StandardCopyOption.ATOMIC_MOVE)
        dropMs(i) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    def reader(n: Int) = new Thread(() => {
      val http = new Http(port)
      var last = ""
      while (!stop.get) {
        val s = System.nanoTime()
        val (code, body) = try http.get(s"/api/query/$Route?limit=10000")
                           catch { case _: Exception => (-1, "") }
        val lat = (System.nanoTime() - s) / 1e6
        val recv = System.currentTimeMillis()
        var fresh = false
        if (code == 200 && body != last) {
          last = body
          fresh = seenBodies.add(sha256(body))
          SttRe.findAllMatchIn(body).foreach(m =>
            firstSeen.merge(m.group(1), recv, (a, b) => math.min(a, b)))
        }
        reads.add((lat, code, fresh))
      }
    }, s"perfbench-reader-$n")
    val readers = Seq(reader(1), reader(2))
    readers.foreach(_.start())
    generator.start()
    generator.join()
    if (endMs > System.currentTimeMillis()) Thread.sleep(endMs - System.currentTimeMillis())

    // ---- flush: a far-future page line closes every open window
    val lastTs = slice.last._1
    val sentinelLine = slice.filter(x => isPage(x._2)).last._2
      .replaceAll(""""ts":\s*-?\d+""", s""""ts":${lastTs + 3600000L}""")
    val sentinelStaged = staged.resolve("zz-sentinel.json")
    Files.write(sentinelStaged, (sentinelLine + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(sentinelStaged, watch.resolve("zz-sentinel.json"), StandardCopyOption.ATOMIC_MOVE)
    val deadline = System.currentTimeMillis() + 60000
    while (!lastFile.keySet.forall(firstSeen.containsKey) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    val allSeenMs = lastFile.keySet.toSeq.flatMap(w => Option(firstSeen.get(w)).map(_.longValue))
    val allSeenMax = if (allSeenMs.isEmpty) System.currentTimeMillis() else allSeenMs.max
    stop.set(true)
    readers.foreach(_.join())
    // let the flush batch finish, so that its progress is reported
    while (query.status.isTriggerActive && System.currentTimeMillis() < deadline) Thread.sleep(5)
    query.stop()
    tracer.drain()
    val batches = tracer.progress.asScala.toSeq.map(_.progress).filter(_.durationMs.containsKey("addBatch"))
    def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli

    // ---- correctness: served frame == batch recompute of the same lines
    val (finalCode, finalBody) = new Http(port).get(s"/api/query/$Route?limit=10000")
    server.stop()
    val served = bodyRows(finalBody)
    val batchFrame = pageWindows(pageBranch(spark.read.text((warmPaths ++ stagedFiles.map(p =>
      watch.resolve(p.getFileName))).map(_.toString): _*)))
    val want = batchFrame.select((Keys ++ Measures).map(c => col(c).cast("string")): _*)
      .collect().map(r => (0 until r.length).map(r.getString).mkString("|")).toSeq.sorted
    val equal = finalCode == 200 && served == want
    val windowsMissing = lastFile.keySet.count(w => !firstSeen.containsKey(w))

    val fresh = closedByReplay.toSeq.flatMap(w =>
      Option(firstSeen.get(w)).map(seen => (seen - dueMs(lastFile(w))).toDouble))
    val readSeq = reads.asScala.toSeq
    val lat = readSeq.map(_._1)
    val late = files.indices.map(i => (dropMs(i) - dueMs(i)).toDouble)
    val httpErrors = readSeq.count(_._2 != 200)
    val attempted = readSeq.size + lastFile.size + 1
    val failed = httpErrors + windowsMissing + (if (equal) 0 else 1)
    if (!equal) System.err.println(s"[perfbench] served frame (${served.size} rows) != batch recompute (${want.size} rows)")

    // timed batches only (the warm-up ran before t0); a file waits from
    // its due time until the first batch that starts after its drop
    val timed = batches.filter(startMs(_) >= t0)
    val starts = timed.map(startMs).sorted
    val queueWait = files.indices.flatMap(i =>
      starts.find(_ >= dropMs(i)).map(st => (st - dueMs(i)).toDouble))
    def dur(k: String) = timed.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
    val traced = if (!tracer.enabled) Map.empty[String, Double] else Map(
      "streaming.batch_ms" -> quantile(dur("triggerExecution"), 0.5),
      "streaming.plan_ms" -> quantile(dur("queryPlanning"), 0.5),
      "streaming.add_batch_ms" -> quantile(dur("addBatch"), 0.5),
      "streaming.wal_ms" -> quantile(dur("walCommit"), 0.5),
      "streaming.queue_wait_ms" -> quantile(queueWait, 0.5),
      "streaming.input_rows" -> timed.map(_.numInputRows.toDouble).sum,
      "streaming.state_rows" -> batches.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> batches.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "streaming.generator_late_p90_ms" -> quantile(late, 0.9),
      "serving.http_cached_ms" -> quantile(readSeq.filter(r => r._2 == 200 && !r._3).map(_._1), 0.5),
      "serving.http_new_version_ms" -> quantile(readSeq.filter(_._3).map(_._1), 0.5),
      "serving.http_errors" -> httpErrors.toDouble)
    Outcome(
      metrics = Map(
        "cold_s" -> (allSeenMax - endMs) / 1000.0,
        "freshness_p50_ms" -> quantile(fresh, 0.5),
        "freshness_p90_ms" -> quantile(fresh, 0.9),
        "serving.http_p50_ms" -> quantile(lat, 0.5),
        "serving.http_p90_ms" -> quantile(lat, 0.9)) ++ traced,
      detail = Map(
        "rate_files_per_s" -> Rate, "lines_per_file" -> LinesPerFile, "trigger_ms" -> TriggerMs,
        "files" -> files.size,
        "lines" -> slice.size, "windows" -> lastFile.size, "freshness_windows" -> fresh.size,
        "reads" -> readSeq.size, "generator_late_max_ms" -> (if (late.isEmpty) 0.0 else late.max),
        "generator_late_p50_ms" -> quantile(late, 0.5),
        "served_rows" -> served.size, "batch_rows" -> want.size, "windows_missing" -> windowsMissing,
        "served_equals_batch" -> equal, "all_windows_seen_ms" -> (allSeenMax - t0),
        "batches" -> batches.map(p => Map("id" -> p.batchId, "rows" -> p.numInputRows,
          "start_ms" -> (startMs(p) - t0),
          "ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L)))),
      attempted = attempted, failed = failed)
  }
}
