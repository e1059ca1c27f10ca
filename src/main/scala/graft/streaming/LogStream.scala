package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming ingest plumbing, the Structured Streaming form of the
  * reference's ODS layer. Every function here takes and returns a
  * `DataFrame` so it works identically on `spark.read` (batch tests)
  * and `spark.readStream` (production): batch-first,
  * streaming-compatible per SURVEY.md §7.1.
  *
  * Reference semantics reproduced (see SURVEY.md §2.1/§2.2):
  *  - P1  JSON parse with dirty-data side output
  *    (`app/dim/DimApp.java:39-55`, `app/dwd/log/BaseLogApp.java:41-62`)
  *  - S3  Maxwell CDC envelope table
  *    (`utils/MyKafkaUtil.java:91-100`)
  *  - P10 five-way log splitting with array explosion
  *    (`app/dwd/log/BaseLogApp.java:109-199`)
  *  - P3  CDC slice filter (`DwdTradeOrderDetail.java:48-51`)
  *  - P4  changed-column predicate (`DwdTradeCartAdd.java:56-59`)
  *
  * Scale notes: all of this is stateless row-at-a-time work — no
  * shuffle, fully inside whole-stage codegen. Both topics parse through
  * the one native [[graft.functions.SchemaJsonParse]], which returns
  * null on corrupt input, so the quarantine split is two filters over
  * one parse, not a try/catch per record.
  */
object LogStream {

  /** Page-log schema: the gmall `topic_log` JSON shape
    * (`BaseLogApp.java:117-172` probes exactly these fields). */
  val pageLogSchema: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("mid", StringType), StructField("uid", StringType),
      StructField("vc", StringType), StructField("ch", StringType),
      StructField("ar", StringType), StructField("is_new", StringType)))),
    StructField("page", StructType(Seq(
      StructField("page_id", StringType), StructField("last_page_id", StringType),
      StructField("item", StringType), StructField("item_type", StringType),
      StructField("during_time", LongType)))),
    StructField("start", StructType(Seq(
      StructField("entry", StringType), StructField("loading_time", LongType)))),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("display_type", StringType), StructField("item", StringType),
      StructField("item_type", StringType), StructField("pos_id", StringType))))),
    StructField("actions", ArrayType(StructType(Seq(
      StructField("action_id", StringType), StructField("item", StringType),
      StructField("item_type", StringType), StructField("ts", LongType))))),
    StructField("err", StructType(Seq(
      StructField("error_code", StringType), StructField("msg", StringType)))),
    StructField("ts", LongType)))

  /** Maxwell CDC envelope: the gmall `topic_db` table shape
    * (`MyKafkaUtil.java:91-100`; `ts`+string-`old` variant at
    * `DwdTradeOrderRefund.java:46-54`). */
  val maxwellSchema: StructType = StructType(Seq(
    StructField("database", StringType), StructField("table", StringType),
    StructField("type", StringType),
    StructField("data", MapType(StringType, StringType)),
    StructField("old", MapType(StringType, StringType)),
    StructField("ts", LongType)))

  /** P1: parse a raw string column; rows that fail to parse carry a
    * null struct. Returns the annotated frame; split with [[clean]] /
    * [[dirty]] (two filters over one pass — the side-output analog of
    * `DimApp.java:39-55`).
    *
    * The parse is the native codegen'd
    * [[graft.functions.SchemaJsonParse]] (parity with Spark's JSON reader,
    * spec-pinned). Its type surface — string/long leaves, nested
    * structs, arrays, string maps — covers both reference ingest
    * shapes, [[pageLogSchema]] and [[maxwellSchema]]; any other schema
    * fails analysis.
    *
    * The parse is wrapped in a one-element `explode` — a `Generate`
    * barrier. Without it, alias inlining (CollapseProject +
    * predicate pushdown) substitutes the parse expression into EVERY
    * downstream reference: the dirty-check's per-field null tests plus
    * the `parsed.*` projection re-parse the same line up to
    * 2+2×fields times per row (measured 208 parse copies in the CDC
    * envelope's optimized plan — the single dominant cost of the
    * whole build). `Generate` evaluates the generator once per row and
    * emits `parsed` as a real attribute, so field accesses downstream
    * are struct reads, not re-parses. `explode` of a 1-element array
    * never drops or adds rows and is streaming-safe.
    *
    * Keeps EVERY input column (Kafka timestamp/partition metadata,
    * caller-added fields) alongside `parsed` — the Generate barrier
    * needs a projection, not a narrowing one. A pre-existing column
    * named `parsed` would make every downstream `col("parsed")`
    * ambiguous (AnalysisException), so it is an error here, loudly. */
  def parse(raw: DataFrame, schema: StructType, column: String = "value"): DataFrame = {
    require(!raw.columns.contains("parsed"),
      "input frame already has a column named 'parsed'; rename it before LogStream.parse")
    val parser = graft.functions.GraftExpressions.jsonParse(col(column), schema)
    raw.select(raw.columns.map(col).toSeq :+ explode(array(parser)).as("parsed"): _*)
  }

  /** A null struct is a parse failure. A struct whose every top-level
    * field is null (`{}`, or an object carrying only unknown keys)
    * holds nothing either, so both shapes are quarantined. */
  private def isDirty(parsed: DataFrame): Column = {
    val schema = parsed.schema("parsed").dataType.asInstanceOf[StructType]
    col("parsed").isNull ||
      schema.fieldNames.map(f => col("parsed")(f).isNull).reduce(_ && _)
  }

  def clean(parsed: DataFrame): DataFrame =
    parsed.filter(!isDirty(parsed)).select(col("parsed.*"))

  /** Dirty side output: the raw line, for a quarantine sink. */
  def dirty(parsed: DataFrame, column: String = "value"): DataFrame =
    parsed.filter(isDirty(parsed)).select(col(column))

  /** S3: Maxwell envelope with the processing-time ingest column
    * (`pt AS PROCTIME()` ≈ `current_timestamp()`, semantic difference
    * documented in SURVEY.md §1.2), parsed by [[parse]] over
    * [[maxwellSchema]]. */
  def maxwellEnvelope(raw: DataFrame, column: String = "value"): DataFrame =
    clean(parse(raw, maxwellSchema, column)).withColumn("pt", current_timestamp())

  /** P3: slice one table's change events out of the CDC firehose. */
  def cdcSlice(envelope: DataFrame, table: String, types: Seq[String]): DataFrame =
    envelope.filter(col("table") === table && col("type").isin(types: _*))

  /** P4: "column changed" predicate on the Maxwell `old` map. */
  def columnChanged(oldCol: Column, key: String): Column =
    array_contains(map_keys(oldCol), key)

  /** P10: five-way split of the parsed page log: five filtered
    * projections of `log`, each re-reading it when run (a caller that
    * runs several memoizes `log` first, as `GmallDwd.topicLog` does);
    * `displays`/`actions` are exploded with the parent fields pushed
    * into each element, exactly as `BaseLogApp.java:134-160` does by
    * hand. */
  def splitLog(log: DataFrame): Map[String, DataFrame] = {
    val err = log.filter(col("err").isNotNull)
    val start = log.filter(col("err").isNull && col("start").isNotNull)
    val pages = log.filter(col("err").isNull && col("start").isNull)
    val display = pages.filter(col("displays").isNotNull)
      .select(col("common"), col("page.page_id").as("page_id"), col("ts"),
        explode(col("displays")).as("display"))
      .select(col("common"), col("page_id"), col("ts"), col("display.*"))
    val action = pages.filter(col("actions").isNotNull)
      .select(col("common"), col("page.page_id").as("page_id"),
        explode(col("actions")).as("action"))
      .select(col("common"), col("page_id"), col("action.*"))
    Map(
      "page" -> pages.drop("displays", "actions", "start", "err"),
      "start" -> start.drop("displays", "actions", "page", "err"),
      "display" -> display,
      "action" -> action,
      "err" -> err)
  }
}
