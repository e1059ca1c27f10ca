package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types.DecimalType

import graft.operators.{GmallDwd, GmallDwdDb, GmallDws}
import graft.streaming.LogStream

/** The reference's FULL topology as ONE streaming run per pipeline
  * (SURVEY.md §0: ODS topics → DWD → DWS store → ADS queries), r9 ask
  * #4 / r10 task #4:
  *
  *   - trade leg: `topic_db` file stream → Maxwell envelope → the
  *     flagship stream-stream 5-table join (J1/J2/J3) appending a DWD
  *     parquet store → per micro-batch, the DWS province aggregate
  *     (`GmallDws.tradeProvinceOrderCdcOn` — production code, not a
  *     test re-implementation) overwrites a DWS parquet store (the K4
  *     foreachBatch sink analog) → an ADS query reads the DWS store
  *     per micro-batch (the K5 mapper analog);
  *   - traffic leg: `topic_log` file stream → P1 parse/clean → P10/M3
  *     five-way split appending DWD branch parquet → per micro-batch
  *     page/display DWS overwrite → a J7-shaped ADS read;
  *   - refund/cancel leg (r12 task #1): `topic_db` file stream →
  *     `dwd_trade_order_refund` (J2 left-outer stream form) and
  *     `dwd_trade_cancel_detail` (stream-static) appending DWD parquet
  *     → per micro-batch the CDC refund window
  *     (`GmallDws.tradeTmCatUserRefundCdcOn` + the skuDim star chain)
  *     overwrites a DWS store → an `ads_trademark_stats`-shaped J7
  *     full-outer ADS read. Reference dataflow:
  *     `DwdTradeOrderRefund.java:76-135` →
  *     `DwsTradeTrademarkCategoryUserRefundWindow.java:113-235` →
  *     `CommodityStatsMapper.selectTrademarkStats`.
  *
  * Each leg is fed file-by-file (one micro-batch per ODS file, in
  * event-time order — the Kafka-arrival analog), and the FINAL frames
  * of every layer must equal the one-shot batch computation over the
  * same ODS text. Per-batch DWS recompute is O(accumulated) in the
  * legs (it re-proves layer semantics each batch); the O(delta) scale
  * path — `GmallDws.mergeDwsDelta` through `AdsStore` versions — is
  * pinned by the dedicated incremental-maintenance test below.
  */
class OdsToAdsSpec extends AnyFunSuite {
  import TestSession._

  /** Write `lines` as `n` sequential chunk files (event-time-sorted
    * input ⇒ each file is a later time slice, like a CDC topic). */
  private def writeChunks(dir: String, lines: Seq[String], n: Int): Seq[java.nio.file.Path] = {
    val per = math.max(1, math.ceil(lines.size / n.toDouble).toInt)
    lines.grouped(per).zipWithIndex.map { case (chunk, i) =>
      Files.write(Paths.get(dir, f"batch-$i%03d.jsonl"),
        chunk.mkString("\n").getBytes("UTF-8"))
    }.toSeq
  }

  private def tsOf(line: String): Long =
    """"ts":\s*(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(0L)

  // sentinel envelopes (GmallDwdDbSpec's flush pattern): od+oi pairs
  // that JOIN (so they ride through the 2-deep chain and advance every
  // branch's watermark) plus oa/oc rows, all far past the real data
  private def sentinelLines(round: Int, t: Long): Seq[String] = Seq(
    s"""{"database":"g","table":"order_detail","type":"insert","data":{"id":"zsd$round","order_id":"zso$round","sku_id":"7","sku_name":"s","order_price":"1.00","sku_num":"1","create_time":"2099-01-01 00:00:00","source_type":"2401","source_id":"3","split_total_amount":"1.00","split_activity_amount":"0.00","split_coupon_amount":"0.00"},"ts":$t}""",
    s"""{"database":"g","table":"order_info","type":"insert","data":{"id":"zso$round","consignee":"n","total_amount":"1.00","order_status":"1001","user_id":"1","province_id":"1","operate_time":"2099-01-01 00:00:00","original_total_amount":"1.00","activity_reduce_amount":"0.00","coupon_reduce_amount":"0.00"},"ts":$t}""",
    s"""{"database":"g","table":"order_detail_activity","type":"insert","data":{"order_detail_id":"zsx$round","activity_id":"5","activity_rule_id":"8","create_time":"2099-01-01 00:00:00"},"ts":$t}""",
    s"""{"database":"g","table":"order_detail_coupon","type":"insert","data":{"order_detail_id":"zsy$round","coupon_id":"9","coupon_use_id":"c","create_time":"2099-01-01 00:00:00"},"ts":$t}""")

  private def notSentinel = !col("order_detail_id").startsWith("zsd")

  test("trade leg: topic_db stream -> DWD join parquet -> DWS parquet -> ADS == batch") {
    import spark.implicits._
    val odsDir = Files.createTempDirectory("ods_db").toString
    val dwdDir = Files.createTempDirectory("dwd_trade").toString + "/wide"
    val dwsDir = Files.createTempDirectory("dws_trade").toString + "/province"

    // ODS: the driver fixture's CDC lines in event-time order, 3 files
    val lines = GmallDwdDb.envelopeJson(spark, sf)
      .as[String].collect().toSeq.sortBy(tsOf)
    val maxTs = tsOf(lines.last)
    writeChunks(odsDir, lines, 3)

    val dic = GmallDwdDb.baseDic(spark)
    val adsSnapshots = ArrayBuffer.empty[Set[String]]
    def adsProvince(dws: DataFrame): DataFrame = dws
      .groupBy(substring(col("stt"), 1, 10).as("dt"))
      .agg(sum(col("order_count")).as("order_ct"),
        sum(col("order_amount")).cast("double").as("order_amount"))

    // The fixture derives od event times from l_shipdate but oi times
    // from o_orderdate, and the driver's synthetic generator draws the
    // two INDEPENDENTLY over 1992–2000 (measured od−oi gaps span ±6.7
    // years — no TPC-H ship-lag invariant), so the reference's 3-day
    // CDC TTL can never pair them. Real CDC envelopes of one order
    // arrive within seconds (the tight-TTL behavior is pinned by
    // GmallDwdDbSpec's controlled fixture); here the bound is widened
    // past the fixture's full spread so the streamed result is the
    // batch join, which is what the layer-equality gates need.
    val fixtureBound = 400_000_000L // ~12.7 years > the ±6.7-year gap spread
    val wide = GmallDwdDb.tradeOrderDetailStreamOn(
      LogStream.maxwellEnvelope(
        spark.readStream.option("maxFilesPerTrigger", "1").text(odsDir)), dic,
      boundSec = fixtureBound)
    val q = wide.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(dwdDir) // DWD layer
        Try(spark.read.parquet(dwdDir)).foreach { acc =>
          GmallDws.tradeProvinceOrderCdcOn(acc.filter(notSentinel))
            .write.mode("overwrite").parquet(dwsDir) // DWS layer (K4)
          adsSnapshots += adsProvince(spark.read.parquet(dwsDir)) // ADS (K5)
            .collect().map(_.toString).toSet
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      // flush outer-join state: one sentinel file per round, three
      // rounds to propagate the watermark through the 2-deep chain
      (1 to 3).foreach { r =>
        Files.write(Paths.get(odsDir, f"sentinel-$r.jsonl"),
          sentinelLines(r, maxTs + r * 3 * fixtureBound).mkString("\n").getBytes("UTF-8"))
        q.processAllAvailable()
      }
    } finally q.stop()

    // batch oracle over the SAME ODS lines (pre-sentinel), layer by layer
    val benv = LogStream.maxwellEnvelope(lines.toDF("value"))
    val batchWide = GmallDwdDb.tradeOrderDetailWideOn(
      GmallDwdDb.orderDetailSliceOn(benv), GmallDwdDb.orderInfoSliceOn(benv),
      GmallDwdDb.activitySliceOn(benv), GmallDwdDb.couponSliceOn(benv), dic)
      .drop("pt", "old")
    val cols = batchWide.columns.sorted.toSeq

    val gotWide = spark.read.parquet(dwdDir).filter(notSentinel)
    assert(gotWide.columns.sorted.toSeq == cols,
      s"streamed DWD columns ${gotWide.columns.sorted.toSeq} != batch $cols")
    val gw = gotWide.select(cols.map(col): _*).collect().map(_.toString).toSet
    val bw = batchWide.select(cols.map(col): _*).collect().map(_.toString).toSet
    assert(bw.nonEmpty && gw == bw,
      s"streamed DWD store diverged from batch (got ${gw.size}, want ${bw.size})")

    val gotDws = spark.read.parquet(dwsDir).collect().map(_.toString).toSet
    val wantDws = GmallDws.tradeProvinceOrderCdcOn(batchWide)
      .collect().map(_.toString).toSet
    assert(wantDws.nonEmpty && gotDws == wantDws, "final DWS store diverged from batch")

    assert(adsSnapshots.size >= 3, s"expected >=3 micro-batches, saw ${adsSnapshots.size}")
    val wantAds = adsProvince(GmallDws.tradeProvinceOrderCdcOn(batchWide))
      .collect().map(_.toString).toSet
    assert(adsSnapshots.last == wantAds, "final ADS frame diverged from batch")
  }

  // refund-leg sentinels: one ri+ack pair per round that JOINS (both
  // branches' watermarks advance) at a far-future ts, flushing the
  // left-outer's unmatched refund state
  private def refundSentinelLines(round: Int, t: Long): Seq[String] = Seq(
    s"""{"database":"g","table":"order_refund_info","type":"insert","data":{"id":"zr$round","user_id":"1","order_id":"zq$round","sku_id":"7","refund_type":"1101","refund_num":"1","refund_amount":"1.00","refund_reason_type":"1301","refund_reason_txt":"r","create_time":"2099-01-01 00:00:00"},"ts":$t}""",
    s"""{"database":"g","table":"order_info","type":"update","data":{"id":"zq$round","order_status":"1005","province_id":"1","operate_time":"2099-01-01 00:00:00"},"old":{"order_status":"1002"},"ts":$t}""")

  private def notRefundSentinel = !col("id").startsWith("zr")

  test("refund/cancel leg: topic_db stream -> DWD refund+cancel parquet -> DWS refund window -> ADS trademark == batch") {
    import spark.implicits._
    val odsDir = Files.createTempDirectory("ods_refund").toString
    val refundDwdDir = Files.createTempDirectory("dwd_refund").toString + "/refund"
    val cancelDwdDir = Files.createTempDirectory("dwd_cancel").toString + "/cancel"
    val dwsDir = Files.createTempDirectory("dws_refund").toString + "/tm_refund"

    val lines = GmallDwdDb.envelopeJson(spark, sf)
      .as[String].collect().toSeq.sortBy(tsOf)
    val maxTs = tsOf(lines.last)
    writeChunks(odsDir, lines, 3)

    val dic = GmallDwdDb.baseDic(spark)
    val sku = GmallDwdDb.skuDim(spark)
    val wide = GmallDwd.orderWide(spark, sf)

    // ADS: ads_trademark_stats' shape (CommodityStatsMapper
    // .selectTrademarkStats) — refund stats ⟗ cancel stats per
    // (dt, trademark), zero-filled. Amount summed in DECIMAL so the
    // streamed/batch set compare is order-independent.
    def adsTrademark(refundDws: DataFrame, cancel: DataFrame): DataFrame = {
      val r = refundDws
        .groupBy(substring(col("stt"), 1, 10).as("rdt"),
          col("trademark_id").as("rtm"), col("trademark_name").as("rtmn"))
        .agg(sum(col("refund_count")).as("refund_count"),
          countDistinct(col("user_id")).as("refund_uu_count"))
      val c = cancel
        .withColumn("sku_id", col("sku_id").cast("string"))
        .join(broadcast(sku), Seq("sku_id"))
        .groupBy(substring(col("operate_time"), 1, 10).as("cdt"),
          col("trademark_id").as("ctm"), col("trademark_name").as("ctmn"))
        .agg(countDistinct(col("order_id")).as("cancel_count"),
          sum(col("split_total_amount").cast(DecimalType(18, 4))).as("cancel_amount"))
      r.join(c, col("rdt") === col("cdt") && col("rtm") === col("ctm"), "full_outer")
        .select(coalesce(col("rdt"), col("cdt")).as("dt"),
          coalesce(col("rtmn"), col("ctmn")).as("trademark_name"),
          coalesce(col("refund_count"), lit(0L)).as("refund_count"),
          coalesce(col("refund_uu_count"), lit(0L)).as("refund_uu_count"),
          coalesce(col("cancel_count"), lit(0L)).as("cancel_count"),
          coalesce(col("cancel_amount"), lit(0).cast(DecimalType(18, 4))).as("cancel_amount"))
    }

    // leg A: cancel detail — stateless stream-static inner join, runs
    // to completion first (a separate app in the reference too)
    val cq = GmallDwdDb.tradeCancelDetailOn(
        LogStream.maxwellEnvelope(
          spark.readStream.option("maxFilesPerTrigger", "1").text(odsDir)), wide)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(cancelDwdDir)
        ()
      }.start()
    try cq.processAllAvailable() finally cq.stop()

    // leg B: refund — J2 left-outer stream form with sentinel flushes;
    // per micro-batch, DWS overwrite + ADS snapshot over BOTH stores
    val boundSec = 3L * 24 * 3600
    val adsSnapshots = ArrayBuffer.empty[Set[String]]
    val rq = GmallDwdDb.tradeOrderRefundStreamOn(
        LogStream.maxwellEnvelope(
          spark.readStream.option("maxFilesPerTrigger", "1").text(odsDir)), dic)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(refundDwdDir) // DWD layer
        Try(spark.read.parquet(refundDwdDir)).foreach { acc =>
          GmallDws.tradeTmCatUserRefundCdcOn(acc.filter(notRefundSentinel), sku)
            .write.mode("overwrite").parquet(dwsDir) // DWS layer (K4)
          adsSnapshots += adsTrademark(spark.read.parquet(dwsDir), // ADS (K5)
            spark.read.parquet(cancelDwdDir)).collect().map(_.toString).toSet
        }
        ()
      }.start()
    try {
      rq.processAllAvailable()
      (1 to 3).foreach { r =>
        Files.write(Paths.get(odsDir, f"refund-sentinel-$r.jsonl"),
          refundSentinelLines(r, maxTs + r * 3 * boundSec).mkString("\n").getBytes("UTF-8"))
        rq.processAllAvailable()
      }
    } finally rq.stop()

    // batch oracle over the SAME ODS lines (pre-sentinel), layer by layer
    val benv = LogStream.maxwellEnvelope(lines.toDF("value"))
    val batchRefund = GmallDwdDb.tradeOrderRefundOn(
      GmallDwdDb.refundInfoSliceOn(benv), GmallDwdDb.refundAckSliceOn(benv), dic)

    val gotRefund = spark.read.parquet(refundDwdDir).filter(notRefundSentinel)
    val rCols = batchRefund.columns.sorted.toSeq
    assert(gotRefund.columns.sorted.toSeq == rCols,
      s"streamed refund DWD columns ${gotRefund.columns.sorted.toSeq} != batch $rCols")
    val gr = gotRefund.select(rCols.map(col): _*).collect().map(_.toString).toSet
    val br = batchRefund.select(rCols.map(col): _*).collect().map(_.toString).toSet
    assert(br.nonEmpty && gr == br,
      s"streamed refund DWD store diverged from batch (got ${gr.size}, want ${br.size})")
    // the left-outer's watermark flush is load-bearing: unacked refunds
    // (null province) must be present, not dropped as inner rows
    assert(br.exists(_.contains("null")) &&
      gotRefund.filter(col("province_id").isNull).count() > 0,
      "unmatched (null-province) refunds missing — watermark flush never fired")

    val batchCancel = GmallDwdDb.tradeCancelDetailOn(benv, wide)
    val cCols = batchCancel.columns.sorted.toSeq
    val gotCancel = spark.read.parquet(cancelDwdDir)
    assert(gotCancel.columns.sorted.toSeq == cCols, "cancel DWD columns diverged")
    val gc = gotCancel.select(cCols.map(col): _*).collect().map(_.toString).toSet
    val bc = batchCancel.select(cCols.map(col): _*).collect().map(_.toString).toSet
    assert(bc.nonEmpty && gc == bc,
      s"streamed cancel DWD store diverged from batch (got ${gc.size}, want ${bc.size})")

    val gotDws = spark.read.parquet(dwsDir).collect().map(_.toString).toSet
    val wantDws = GmallDws.tradeTmCatUserRefundCdcOn(batchRefund, sku)
      .collect().map(_.toString).toSet
    assert(wantDws.nonEmpty && gotDws == wantDws, "final DWS refund store diverged from batch")

    assert(adsSnapshots.size >= 3, s"expected >=3 micro-batches, saw ${adsSnapshots.size}")
    val wantAds = adsTrademark(
      GmallDws.tradeTmCatUserRefundCdcOn(batchRefund, sku), batchCancel)
      .collect().map(_.toString).toSet
    assert(wantAds.nonEmpty && adsSnapshots.last == wantAds,
      "final ADS trademark frame diverged from batch")
  }

  test("incremental DWS maintenance: per-batch O(delta) merge through AdsStore versions == batch recompute") {
    import graft.serving.AdsStore
    // closes the legs' documented caveat: instead of recomputing the
    // DWS from the ACCUMULATED DWD store each batch, aggregate ONLY
    // the micro-batch and merge it into the stored frame
    // (GmallDws.mergeDwsDelta), published as AdsStore versions so no
    // reader sees a half-merge and the merge never reads the directory
    // it writes
    import spark.implicits._
    val odsDir = Files.createTempDirectory("ods_incr").toString
    val root = Files.createTempDirectory("dws_incr").toString + "/page_view"

    val lines = GmallDwd.logJson(spark, sf).as[String].collect().toSeq.sortBy(tsOf)
    writeChunks(odsDir, lines, 3)

    def pageDws(page: DataFrame): DataFrame = page
      .groupBy(to_date(timestamp_millis(col("ts"))).as("dt"),
        col("common.ch").as("ch"), col("page.page_id").as("page_id"))
      .agg(count(lit(1)).as("pv_ct"))
    val keys = Seq("dt", "ch", "page_id")

    val parsed = LogStream.parse(
      spark.readStream.option("maxFilesPerTrigger", "1").text(odsDir),
      LogStream.pageLogSchema)
    val q = parsed.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val page = LogStream.splitLog(LogStream.clean(b)).apply("page")
        val delta = pageDws(page) // THIS batch only — never the accumulation
        val store = AdsStore.read(spark, root).map(_._2)
        AdsStore.publish(
          GmallDws.mergeDwsDelta(store, delta, keys, Seq("pv_ct")), root, id)
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()

    assert(AdsStore.versions(spark, root).nonEmpty, "no version published")
    val got = AdsStore.read(spark, root).get._2
      .collect().map(_.toString).toSet
    val want = pageDws(LogStream.splitLog(LogStream.clean(
      LogStream.parse(spark.read.text(odsDir), LogStream.pageLogSchema))).apply("page"))
      .collect().map(_.toString).toSet
    assert(want.nonEmpty && got == want,
      "incrementally merged DWS store diverged from the batch recompute")
  }

  test("mergeDwsDelta: null-keyed groups are SUMMED across batches, not appended as duplicates") {
    import spark.implicits._
    // a null dt (e.g. from an unparseable timestamp) must merge like
    // any other key — the r13 advice's hazard was a using-columns
    // full-outer join that never matches null keys, so the null group
    // reappeared as a fresh row every micro-batch
    val b1 = Seq((Some("2020-01-01"), 3L), (None, 2L)).toDF("dt", "pv_ct")
    val b2 = Seq((Some("2020-01-01"), 1L), (None, 5L)).toDF("dt", "pv_ct")
    val merged = GmallDws.mergeDwsDelta(
      Some(GmallDws.mergeDwsDelta(None, b1, Seq("dt"), Seq("pv_ct"))),
      b2, Seq("dt"), Seq("pv_ct"))
    val rows = merged.collect().map(r => (Option(r.getString(0)), r.getLong(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((None, 7L), (Some("2020-01-01"), 4L)),
      s"null-keyed group mishandled: ${rows.toSeq}")
  }

  test("ADS name re-attach: sideNameMap join keys are non-null in both commodity DWS frames (sf0.001, sf0.01)") {
    // GmallAds.sideNameMap re-attaches names with an INNER equi-join on
    // these keys, which would silently drop a null-keyed group
    val keys = Seq("trademark_id", "category1_id", "category2_id", "category3_id")
    for (dir <- Seq(sf, "/root/testdata/sf0.01");
         (frame, df) <- Seq(
           "tradeTmCatUserSpuOrder" -> GmallDws.tradeTmCatUserSpuOrder(spark, dir),
           "tradeTmCatUserRefund" -> GmallDws.tradeTmCatUserRefund(spark, dir))) {
      val row = df.agg(count(lit(1)), keys.map(k => count(when(col(k).isNull, lit(1)))): _*).head()
      assert(row.getLong(0) > 0, s"$frame at $dir is empty")
      keys.indices.foreach(i => assert(row.getLong(i + 1) == 0L,
        s"$frame at $dir has ${row.getLong(i + 1)} null ${keys(i)} rows"))
    }
  }

  test("traffic leg: topic_log stream -> DWD split parquet -> DWS parquet -> ADS == batch") {
    import spark.implicits._
    val odsDir = Files.createTempDirectory("ods_log").toString
    val dwdDir = Files.createTempDirectory("dwd_log").toString
    val dwsDir = Files.createTempDirectory("dws_log").toString

    val lines = GmallDwd.logJson(spark, sf).as[String].collect().toSeq.sortBy(tsOf)
    val files = writeChunks(odsDir, lines, 3)
    assert(files.size == 3)

    // DWS: page views per (dt, ch, page_id) + displays per (dt, ch) —
    // the stateless half of W1's measures, from the split branches
    def pageDws(page: DataFrame): DataFrame = page
      .groupBy(to_date(timestamp_millis(col("ts"))).as("dt"),
        col("common.ch").as("ch"), col("page.page_id").as("page_id"))
      .agg(count(lit(1)).as("pv_ct"))
    def displayDws(display: DataFrame): DataFrame = display
      .groupBy(to_date(timestamp_millis(col("ts"))).as("dt"), col("common.ch").as("ch"))
      .agg(count(lit(1)).as("display_ct"))
    // ADS: J7-shaped full outer of the two DWS stores by (dt, ch)
    def adsTraffic(pv: DataFrame, disp: DataFrame): DataFrame = pv
      .groupBy(col("dt"), col("ch")).agg(sum(col("pv_ct")).as("pv_ct"))
      .join(disp, Seq("dt", "ch"), "full_outer")
      .select(col("dt"), col("ch"),
        coalesce(col("pv_ct"), lit(0L)).as("pv_ct"),
        coalesce(col("display_ct"), lit(0L)).as("display_ct"))

    val adsSnapshots = ArrayBuffer.empty[Set[String]]
    val parsed = LogStream.parse(
      spark.readStream.option("maxFilesPerTrigger", "1").text(odsDir),
      LogStream.pageLogSchema)
    val q = parsed.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val clean = LogStream.clean(b.cache())
        try {
          LogStream.splitLog(clean).foreach { case (name, df) =>
            df.write.mode("append").parquet(s"$dwdDir/$name") // DWD layer
          }
        } finally b.unpersist()
        for {
          page <- Try(spark.read.parquet(s"$dwdDir/page"))
          disp <- Try(spark.read.parquet(s"$dwdDir/display"))
        } {
          pageDws(page).write.mode("overwrite").parquet(s"$dwsDir/page_view")
          displayDws(disp).write.mode("overwrite").parquet(s"$dwsDir/display")
          adsSnapshots += adsTraffic(
            spark.read.parquet(s"$dwsDir/page_view"),
            spark.read.parquet(s"$dwsDir/display"))
            .collect().map(_.toString).toSet
        }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()

    val batchSplit = LogStream.splitLog(LogStream.clean(
      LogStream.parse(spark.read.text(odsDir), LogStream.pageLogSchema)))
    // every DWD branch byte-equal to the batch split
    batchSplit.foreach { case (name, df) =>
      val got = spark.read.parquet(s"$dwdDir/$name").toJSON.collect().sorted.toSeq
      val want = df.toJSON.collect().sorted.toSeq
      assert(want.nonEmpty && got == want, s"DWD branch $name diverged")
    }
    val gotDws = spark.read.parquet(s"$dwsDir/page_view").collect().map(_.toString).toSet
    val wantDws = pageDws(batchSplit("page")).collect().map(_.toString).toSet
    assert(wantDws.nonEmpty && gotDws == wantDws, "page DWS store diverged from batch")

    assert(adsSnapshots.size >= 3, s"expected >=3 micro-batches, saw ${adsSnapshots.size}")
    val wantAds = adsTraffic(pageDws(batchSplit("page")), displayDws(batchSplit("display")))
      .collect().map(_.toString).toSet
    assert(adsSnapshots.last == wantAds, "final ADS frame diverged from batch")
  }
}
