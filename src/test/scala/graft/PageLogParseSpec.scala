package graft

import graft.functions.GraftExpressions.jsonParse
import graft.streaming.LogStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.functions.SchemaJsonParse]] exists for performance (P1's
  * page-log ingest freed from `from_json`'s CodegenFallback + per-row
  * Reader stack — the defect class measured as 10× on the Maxwell
  * path); its CONTRACT is `from_json(value, schema)` PERMISSIVE
  * partial-results parity. These pin that parity case by case on the
  * page-log schema's full type surface — nested structs, arrays of
  * structs, longs, strings — by running BOTH parsers over the same
  * lines, plus end-to-end equivalence on the real `topic_log` fixture
  * and the codegen/plan-shape guarantees that justify the native
  * expression. */
class PageLogParseSpec extends AnyFunSuite {
  import TestSession.spark

  /** Malformed input: from_json renders the all-null struct, the
    * native parser a null struct — the same dirty-quarantine class
    * (LogStream.isDirty), so parity is "equal after mapping all-null
    * → null" (same normalization MaxwellParseSpec pins). */
  private def normalize(r: Row): Row = r.getStruct(0) match {
    case s if s != null && (0 until s.length).forall(s.isNullAt) => Row(null)
    case s => Row(s)
  }

  private def bothParses(lines: Seq[String], schema: StructType): (Seq[Row], Seq[Row]) = {
    import spark.implicits._
    val df = lines.toDF("value")
    val native = df.select(jsonParse(col("value"), schema).as("p")).collect().toSeq
    val builtin = df.select(from_json(col("value"), schema).as("p")).collect().toSeq
    (native.map(normalize), builtin.map(normalize))
  }

  test("from_json parity on well-formed page-log shapes: every record family of the five-way split") {
    val lines = Seq(
      // page record with displays (view/click family)
      """{"common":{"mid":"mid_1","uid":"1","vc":"v0","ch":"ch2","ar":"3","is_new":"1"},"page":{"page_id":"home","during_time":5300},"displays":[{"display_type":"promotion","item":"sku_7","item_type":"sku_id","pos_id":"1"},{"display_type":"query","item":"sku_8","item_type":"sku_id","pos_id":"2"}],"ts":1690000000000}""",
      // purchase record with actions
      """{"common":{"mid":"mid_2","uid":"2"},"page":{"page_id":"order","item":"sku_3","item_type":"sku_id"},"actions":[{"action_id":"cart_add","item":"sku_3","item_type":"sku_id","ts":1690000001000}],"ts":1690000000500}""",
      // app-launch (start) record — no page section at all
      """{"common":{"mid":"mid_3","uid":"3"},"start":{"entry":"icon","loading_time":742},"ts":1690000002000}""",
      // error record
      """{"common":{"mid":"mid_4"},"err":{"error_code":"301","msg":"err 4"},"ts":1690000003000}""",
      // empty sections and explicit nulls
      """{"common":{},"displays":[],"page":null,"ts":1690000004000}""",
      // unknown fields at every depth are skipped
      """{"common":{"mid":"m","os":"iOS 13","UNKNOWN":{"deep":[1,2]}},"page":{"page_id":"mine","source_type":"query"},"extra_top":[{"a":1}],"ts":1690000005000}""",
      // field order permuted, duplicate key last-wins
      """{"ts":1,"page":{"during_time":9,"page_id":"home"},"common":{"uid":"5","mid":"m5"},"ts":2}""")
    val (native, builtin) = bothParses(lines, LogStream.pageLogSchema)
    assert(native === builtin)
    assert(native.count(_.get(0) != null) === lines.size, "all well-formed rows must parse")
  }

  test("from_json parity on type mismatches: field-level nulls at every depth, the array-element asymmetry") {
    val lines = Seq(
      // scalar / array where a struct is expected -> null FIELD, rest kept
      """{"common":"oops","page":{"page_id":"p"},"ts":101}""",
      """{"common":[1,2],"page":{"page_id":"p"},"ts":102}""",
      // mismatch INSIDE a nested struct -> only that leaf nulled
      """{"page":{"page_id":"p","during_time":"NaN"},"ts":103}""",
      """{"page":{"page_id":"p","during_time":99999999999999999999},"ts":104}""",
      // wrong-TYPE array element -> the WHOLE array nulled, record kept
      """{"displays":[{"item":"a"},7,{"item":"b"}],"ts":105}""",
      // ... but a bad field INSIDE an element keeps the partial element
      """{"actions":[{"action_id":"x","ts":"bad"},{"action_id":"y","ts":9}],"ts":106}""",
      // scalar / object where an array is expected
      """{"displays":"nope","ts":107}""",
      """{"displays":{"item":"a"},"ts":108}""",
      // non-strings where strings are expected: literal text / raw JSON
      """{"common":{"mid":42,"uid":true},"ts":109}""",
      """{"common":{"mid":{"a":1},"uid":["x"]},"ts":110}""",
      // float / bool / quoted number where a long is expected: no coercion
      """{"ts":1.5,"common":{"mid":"m"}}""",
      """{"ts":true}""",
      """{"ts":"123"}""",
      // null array elements stay null elements
      """{"displays":[null,{"item":"a"}],"ts":114}""",
      // long-range boundaries pass through exactly
      """{"ts":-9223372036854775808,"page":{"during_time":9223372036854775807}}""")
    val (native, builtin) = bothParses(lines, LogStream.pageLogSchema)
    assert(native === builtin)
    // the mismatches are FIELD-level: the record survives wherever
    // ANY other field parsed ({"ts":true} and {"ts":"123"} have no
    // other field, so their all-null rows normalize to the null class)
    assert(native.count(_.get(0) != null) === lines.size - 2)
  }

  test("from_json parity on malformed input: the quarantine class") {
    val lines = Seq(
      "not json at all",
      """{"common":{"mid":"m","ts":111""", // truncated inside a nested struct
      """{"displays":[{"item":"a"}""", // truncated inside an array
      """[1,2,3]""", // non-object roots
      """"just a string"""",
      "7",
      "",
      """{"common":{"mid" "x"}}""") // bad syntax mid-object
    val (native, builtin) = bothParses(lines, LogStream.pageLogSchema)
    assert(native === builtin)
    assert(native.forall(_.get(0) == null), "every malformed line is quarantined")
  }

  test("from_json parity on invalid-encoding bytes: Jackson's UTF-32/16 auto-detect must quarantine, not poison-pill") {
    // Leading NUL bytes make Jackson auto-detect UTF-32/16; its decoder
    // then throws java.io.CharConversionException (an IOException, NOT
    // a JsonProcessingException). from_json quarantines that class
    // explicitly — one garbage Kafka record must never permanently
    // fail the stream.
    val lines = Seq(
      "\u0000\u0000\u0000{\u0000\u0011\u0000\u0000", // UTF-32BE '{' then invalid 0x110000
      "\u0000\u0000\u0000{", // UTF-32BE '{' then EOF
      "\u0000{\u0000}", // UTF-16BE "{}"
      "\u0000\u0000\u0000\u0000") // all NUL
    val (native, builtin) = bothParses(lines, LogStream.pageLogSchema)
    assert(native === builtin)
    assert(native.forall(_.get(0) == null), "every invalid-encoding line is quarantined")
    // the exact repro from the r15 advice (0xff bytes are not
    // expressible through a UTF-8 string column, so drive the parser
    // directly): 00 00 00 7b ff ff ff ff
    val raw = org.apache.spark.unsafe.types.UTF8String.fromBytes(
      Array(0x00, 0x00, 0x00, 0x7b, 0xff, 0xff, 0xff, 0xff).map(_.toByte))
    assert(new graft.functions.SchemaJsonParser(LogStream.pageLogSchema).parse(raw) == null)
    assert(new graft.functions.SchemaJsonParser(LogStream.maxwellSchema).parse(raw) == null)
  }

  test("from_json parity on float scalars landing in string fields: the double re-render") {
    // JacksonParser's StringType fallback re-renders non-string scalars
    // through a generator; floats go through double ({"mid":1.5e2} →
    // "150.0", {"uid":1.50} → "1.5") — getText would keep the source
    // spelling and silently diverge.
    val lines = Seq(
      """{"common":{"mid":1.5e2,"uid":1.50},"ts":1}""",
      """{"common":{"mid":0.1,"uid":-2.5E-3},"ts":2}""",
      """{"common":{"mid":1e0,"uid":123456789.0},"ts":3}""")
    val (native, builtin) = bothParses(lines, LogStream.pageLogSchema)
    assert(native === builtin)
    assert(native.head.getStruct(0).getStruct(0).getString(0) === "150.0")
  }

  test("end-to-end: the topic_log fixture parses identically through both paths") {
    val dir = TestSession.sf
    val raw = graft.operators.GmallDwd.logJson(spark, dir)
    def canon(df: DataFrame) = LogStream.clean(df).select(
      col("common.mid"), col("common.uid"), col("common.vc"), col("common.ch"),
      col("page.page_id"), col("start.entry"), col("start.loading_time"),
      to_json(col("displays")).as("d"), to_json(col("actions")).as("a"),
      col("err.error_code"), col("ts"))
    val native = canon(LogStream.parse(raw, LogStream.pageLogSchema))
    val builtin = canon(raw.select(col("value"),
      explode(array(from_json(col("value"), LogStream.pageLogSchema))).as("parsed")))
    assert(native.count() === builtin.count())
    assert(native.exceptAll(builtin).isEmpty)
    assert(builtin.exceptAll(native).isEmpty)
  }

  test("exactly ONE parse copy in the five-way split's optimized plans (alias-inlining tripwire)") {
    // Same failure mode MaxwellParseSpec pins for the envelope: drop
    // the Generate barrier and CollapseProject re-inlines the parse
    // into every field reference of every split branch.
    val raw = graft.operators.GmallDwd.logJson(spark, TestSession.sf)
    val split = LogStream.splitLog(LogStream.clean(
      LogStream.parse(raw, LogStream.pageLogSchema)))
    for ((branch, df) <- split) {
      val n = "graft_json_parse".r
        .findAllIn(df.queryExecution.optimizedPlan.toString.toLowerCase).size
      assert(n === 1, s"branch $branch: expected exactly 1 graft_json_parse, got $n")
    }
  }

  test("the page-log parse stays inside whole-stage codegen (from_json's fallback was the point)") {
    val df = spark.range(4)
      .select(concat(lit("""{"common":{"mid":"m"},"page":{"page_id":"p"},"ts":"""),
        col("id"), lit("}")).as("value"))
      .select(jsonParse(col("value"), LogStream.pageLogSchema).as("p"))
      .select(col("p.common.mid"), col("p.page.page_id"), col("p.ts"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("graft_json_parse")),
      s"graft_json_parse projection must be codegen'd; plan:\n$plan")
    assert(df.collect().map(_.getLong(2)).sorted === Array(0L, 1L, 2L, 3L))
    // the identical shape through from_json drops out of codegen —
    // the contrast that justifies the native expression on the
    // reference's highest-volume ingest
    val fallback = spark.range(4)
      .select(concat(lit("""{"ts":"""), col("id"), lit("}")).as("value"))
      .select(from_json(col("value"), LogStream.pageLogSchema).as("p"))
      .select(col("p.ts"))
    val fbPlan = fallback.queryExecution.executedPlan.toString
    assert(fbPlan.linesIterator.exists(l => l.contains("from_json") && !l.contains("*(")),
      s"expected from_json projection outside codegen; plan:\n$fbPlan")
  }

  test("an unsupported schema fails analysis with graft_json_parse's message") {
    import graft.functions.SchemaJson
    assert(SchemaJson.supports(LogStream.pageLogSchema))
    assert(SchemaJson.supports(LogStream.maxwellSchema))
    val unsupported = StructType(Seq(StructField("d", DoubleType)))
    assert(!SchemaJson.supports(unsupported))
    import spark.implicits._
    val e = intercept[org.apache.spark.sql.AnalysisException](
      LogStream.parse(Seq("""{"d":1.5}""").toDF("value"), unsupported))
    assert(e.getMessage.contains(
      "graft_json_parse requires a string argument and a supported schema"), e.getMessage)
  }
}
