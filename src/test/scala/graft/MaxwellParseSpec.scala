package graft

import graft.functions.GraftExpressions.jsonParse
import graft.streaming.LogStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Maxwell envelope (S3's ingest hot path) parses through the
  * native [[graft.functions.SchemaJsonParse]] over
  * `LogStream.maxwellSchema`, which exists for performance (freed from
  * `from_json`'s CodegenFallback + per-row Reader stack); its CONTRACT
  * is `from_json(value, maxwellSchema)` PERMISSIVE parity. These pin
  * that parity case by case — well-formed, partial, type-mismatched,
  * malformed — by running BOTH parsers over the same lines and
  * comparing rows, plus the end-to-end equivalence on the real CDC
  * envelope fixture, through both the Column API and the SQL name
  * `graft_maxwell_parse`. */
class MaxwellParseSpec extends AnyFunSuite {
  import TestSession.spark

  /** from_json PERMISSIVE nulls the WHOLE record on a field-type
    * mismatch; the all-null struct and the null struct are the same
    * dirty-quarantine class (LogStream.isDirty), so parity is "equal
    * after mapping all-null → null". */
  private def normalize(r: Row): Row = r.getStruct(0) match {
    case s if s != null && (0 until s.length).forall(s.isNullAt) => Row(null)
    case s => Row(s)
  }

  /** exceptAll needs map-free columns: compare on sorted-entry renderings. */
  private def canon(df: org.apache.spark.sql.DataFrame) = df.select(
    col("database"), col("table"), col("type"), col("ts"),
    to_json(map_from_entries(array_sort(map_entries(col("data"))))).as("d"),
    to_json(map_from_entries(array_sort(map_entries(col("old"))))).as("o"))

  private def bothParses(lines: Seq[String]): (Seq[Row], Seq[Row]) = {
    import spark.implicits._
    val df = lines.toDF("value")
    val native = df.select(jsonParse(col("value"), LogStream.maxwellSchema).as("p"))
      .collect().toSeq
    val builtin = df.select(from_json(col("value"), LogStream.maxwellSchema).as("p"))
      .collect().toSeq
    (native.map(normalize), builtin.map(normalize))
  }

  test("from_json parity on the envelope shapes: full, no-old, nulls, scalars, nested, unknown fields") {
    val lines = Seq(
      // the fixture's own shape
      """{"database":"gmall","table":"order_info","type":"insert","data":{"id":"1","total_amount":"12.34"},"old":{"order_status":"1001"},"ts":1690000000}""",
      // old omitted (Maxwell inserts)
      """{"database":"gmall","table":"cart_info","type":"insert","data":{"id":"7"},"ts":1}""",
      // explicit nulls
      """{"database":null,"table":"t","type":null,"data":null,"old":null,"ts":null}""",
      // non-string scalar map values -> literal text (JacksonParser StringType fallback)
      """{"table":"t","data":{"n":42,"f":1.5,"b":true,"z":null},"ts":2}""",
      // nested structure as a map value -> raw JSON text
      """{"table":"t","data":{"nested":{"a":[1,2]}},"ts":3}""",
      // scalars and a nested structure side by side in one map
      """{"table":"t","data":{"n":42,"f":1.5,"b":true,"z":null,"nested":{"a":[1,2]}},"ts":2}""",
      // unknown top-level fields skipped (incl. structured ones)
      """{"database":"g","xid":123,"commit":true,"position":{"file":"bin.1"},"table":"t","type":"update","data":{"id":"9"},"ts":4}""",
      // empty object -> all-null record
      """{}""",
      // field order permuted
      """{"ts":5,"old":{"k":"v"},"data":{"id":"2"},"type":"delete","table":"t2","database":"g"}""")
    val (native, builtin) = bothParses(lines)
    assert(native === builtin)
    // and the well-formed rows are NOT nulled (the parity is not vacuous)
    assert(native.count(_.get(0) != null) >= 6)
  }

  test("from_json parity on dirty input: malformed, truncated, wrong types, non-object roots") {
    val lines = Seq(
      "not json at all",
      """{"table":"t","ts":1""", // truncated
      """{"table":17,"ts":1""", // truncated after a non-string scalar
      """{"table":"t","ts":"not-a-number"}""", // LongType mismatch -> that FIELD nulled (partial results)
      """{"table":"t","data":"not-an-object","ts":1}""", // MapType mismatch, rest kept
      """{"table":"t","data":["a","b"],"ts":1}""", // array where object expected
      """[1,2,3]""", // non-object root
      """"just a string"""",
      "",
      """{"table":17,"ts":1}""", // numeric table -> text (NOT dirty)
      // 20-digit int: >64-bit coercion is a FIELD mismatch (ts nulled,
      // table kept), not a quarantined record
      """{"table":"t","ts":99999999999999999999}""")
    val (native, builtin) = bothParses(lines)
    assert(native === builtin)
    // malformed/non-object inputs are quarantined; type-mismatched
    // FIELDS survive as partial records (Spark partial-results parity)
    assert(native.count(_.get(0) == null) === 6)
  }

  test("end-to-end: the CDC envelope fixture parses identically through both paths") {
    val dir = TestSession.sf
    val raw = graft.operators.GmallDwdDb.envelopeJson(spark, dir)
    val native = graft.streaming.LogStream.maxwellEnvelope(raw).drop("pt")
    val builtin = LogStream.clean(
      raw.withColumn("parsed", from_json(col("value"), LogStream.maxwellSchema)))
    assert(native.count() === builtin.count())
    assert(canon(native).exceptAll(canon(builtin)).isEmpty)
    assert(canon(builtin).exceptAll(canon(native)).isEmpty)
  }

  test("the SQL name graft_maxwell_parse gives maxwellEnvelope's rows") {
    val raw = graft.operators.GmallDwdDb.envelopeJson(spark, TestSession.sf)
    raw.createOrReplaceTempView("maxwell_envelope_raw")
    val viaSql = spark.sql(
      """SELECT p.* FROM (SELECT graft_maxwell_parse(value) AS p FROM maxwell_envelope_raw)
        |WHERE NOT (p IS NULL OR (p.database IS NULL AND p.table IS NULL AND p.type IS NULL
        |  AND p.data IS NULL AND p.old IS NULL AND p.ts IS NULL))""".stripMargin)
    val envelope = LogStream.maxwellEnvelope(raw).drop("pt")
    assert(viaSql.schema === LogStream.maxwellSchema)
    val n = viaSql.count()
    assert(n > 0 && n === envelope.count())
    assert(canon(viaSql).exceptAll(canon(envelope)).isEmpty)
    assert(canon(envelope).exceptAll(canon(viaSql)).isEmpty)
  }

  test("exactly ONE parse copy in the envelope's optimized plan (alias-inlining tripwire)") {
    // Before LogStream.parse's Generate barrier, CollapseProject +
    // predicate pushdown substituted the parse into every downstream
    // reference: 208 copies in this very plan, each a full re-parse
    // per row — the single dominant cost of the envelope build. Any
    // refactor that drops the barrier (or adds a pre-barrier
    // projection that re-inlines) reintroduces the blowup silently;
    // this counts the copies so it fails loudly instead.
    val raw = graft.operators.GmallDwdDb.envelopeJson(spark, TestSession.sf)
    val env = graft.streaming.LogStream.maxwellEnvelope(raw)
    val n = "graft_json_parse".r
      .findAllIn(env.queryExecution.optimizedPlan.toString.toLowerCase).size
    assert(n === 1, s"expected exactly 1 graft_json_parse in the optimized plan, got $n")
  }

  test("the parse stays inside whole-stage codegen (from_json's fallback was the point)") {
    // a range source, not a local Seq — ConvertToLocalRelation would
    // constant-fold a literal projection before codegen even runs
    val df = spark.range(4)
      .select(concat(lit("""{"table":"t","data":{"id":""""), col("id"),
        lit(""""},"ts":"""), col("id"), lit("}")).as("value"))
      .select(jsonParse(col("value"), LogStream.maxwellSchema).as("p"))
      .select(col("p.table"), col("p.data")("id").as("id"), col("p.ts"))
    // "*(n)" prefixes a plan node fused into WholeStageCodegen span n
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("graft_json_parse")),
      s"graft_json_parse projection must be codegen'd; plan:\n$plan")
    assert(df.collect().map(_.getString(1)).sorted === Array("0", "1", "2", "3"))
    // the same shape through from_json falls OUT of codegen — the
    // contrast that justifies the native expression
    val fallback = spark.range(4)
      .select(concat(lit("""{"table":"t","ts":"""), col("id"), lit("}")).as("value"))
      .select(from_json(col("value"), LogStream.maxwellSchema).as("p"))
      .select(col("p.table"), col("p.ts"))
    val fbPlan = fallback.queryExecution.executedPlan.toString
    assert(fbPlan.linesIterator.exists(l => l.contains("from_json") && !l.contains("*(")),
      s"expected from_json projection outside codegen; plan:\n$fbPlan")
  }
}
