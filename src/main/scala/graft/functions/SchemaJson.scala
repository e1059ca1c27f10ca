package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Schema-driven native JSON parser behind [[SchemaJsonParse]], the
  * one parser for both reference ingest topics: `BaseLogApp.java:41-62`
  * parses EVERY `topic_log` record against the page-log shape (nested
  * structs, arrays of structs, longs), and the `topic_db` consumers
  * (`MyKafkaUtil.java:91-100`) parse every Maxwell envelope (string
  * maps, a long).
  *
  * Why not `from_json`: `JsonToStructs` is a `CodegenFallback`, so the
  * projection containing it (after CollapseProject, typically the
  * WHOLE parse-and-project stage) drops out of whole-stage codegen
  * into per-row interpreted eval, and its generic `JacksonParser`
  * allocates an InputStreamReader + StreamDecoder + CharsetDecoder +
  * read-constrained TextBuffer PER ROW (`CreateJacksonParser.utf8String`)
  * — measured as an allocation/GC storm that made the CDC envelope
  * build 10× slower than the scan it wraps. The schema is compiled
  * ONCE into a converter tree (per-struct name→index hashmaps); per
  * row this reads the UTF8String's bytes Jackson-native (no Reader, no
  * charset decode pass — JSON is already UTF-8) and allocates only the
  * output values.
  *
  * Semantics are `from_json(value, schema)` PERMISSIVE parity with
  * partial results (`spark.sql.json.enablePartialResults`, default on
  * since 3.4), pinned case-by-case for both ingest schemas (the page
  * log in PageLogParseSpec, the envelope in its own parse spec) by
  * running BOTH parsers over the same lines. The rules, as probed on Spark
  * 4.1.2 and encoded here:
  *
  *  - malformed / truncated / non-object root → null record (the P1
  *    dirty-quarantine class; `from_json` renders it as the all-null
  *    struct, same class under `LogStream.isDirty`);
  *  - a field-TYPE mismatch nulls JUST that field and keeps the
  *    record — at any nesting depth (`{"common":"oops"}` nulls
  *    `common`, `{"page":{"during_time":"NaN"}}` nulls only
  *    `page.during_time`, a >64-bit integer nulls only the long);
  *  - an array element of the WRONG TYPE nulls the whole array field
  *    (`[{...},7]` → null array), but a mismatched field INSIDE an
  *    element keeps the partial element — exactly `from_json`'s
  *    asymmetry; null elements stay null elements;
  *  - string fields absorb everything: scalars as literal text,
  *    nested structures as their raw JSON (JacksonParser's StringType
  *    fallback), null as null;
  *  - missing fields → null; unknown fields (any depth) → skipped;
  *    duplicate keys → last wins.
  *
  * Supported leaf types: string, long, map<string,string>; nested
  * structs and arrays compose freely ([[SchemaJson.supports]]).
  * That is the full type surface of the reference's ingest schemas;
  * [[SchemaJsonParse]] rejects any other schema at analysis time.
  */
object SchemaJson {
  private[functions] val factory = new JsonFactory() // thread-safe for createParser

  /** Record-level failure sentinel: cheaper than exceptions with
    * stack traces, never escapes [[SchemaJsonParser.parse]]. */
  private[functions] object Fail extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** Field-level mismatch sentinel: the value was fully consumed but
    * does not fit the schema type — the enclosing struct nulls the
    * field, an enclosing array nulls ITSELF (from_json parity). */
  private[functions] case object Mismatch

  /** True iff `dt` is within this parser's type surface. */
  def supports(dt: DataType): Boolean = dt match {
    case StringType | LongType => true
    case s: StructType => s.fields.forall(f => supports(f.dataType))
    case ArrayType(e, _) => supports(e)
    case MapType(StringType, StringType, _) => true
    case _ => false
  }
}

/** One compiled parser per schema; see [[SchemaJson]] for semantics.
  * Instances are built once on the driver (or lazily per executor for
  * interpreted eval) and shipped via codegen references — everything
  * here is Serializable and immutable after construction. */
final class SchemaJsonParser(schema: StructType) extends Serializable {
  import SchemaJson.{Fail, Mismatch}

  require(SchemaJson.supports(schema),
    s"unsupported schema for graft_json_parse: ${schema.sql}")

  /** Convert the value at the parser's CURRENT token. Returns the
    * Catalyst value, null for JSON null, or [[SchemaJson.Mismatch]]
    * for a type mismatch — in every case the value's tokens are fully
    * consumed. Malformation throws (Fail or Jackson's own). */
  private sealed trait Conv extends Serializable {
    def convert(p: JsonParser): AnyRef
  }

  private object StringConv extends Conv {
    def convert(p: JsonParser): AnyRef = p.currentToken() match {
      case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
      case JsonToken.VALUE_NULL => null
      case JsonToken.VALUE_NUMBER_INT |
           JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE =>
        UTF8String.fromString(p.getText) // scalar → its literal text
      case JsonToken.VALUE_NUMBER_FLOAT |
           JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
        // float scalars and structures go through a generator copy —
        // JacksonParser's StringType fallback re-renders floats via
        // double ({"uid":1.5e2} → "150.0", not "1.5e2"), so getText
        // would silently diverge from the pinned from_json parity
        val out = new java.io.ByteArrayOutputStream()
        val g = SchemaJson.factory.createGenerator(out)
        g.copyCurrentStructure(p)
        g.close()
        UTF8String.fromBytes(out.toByteArray)
      case _ => throw Fail
    }
  }

  private object LongConv extends Conv {
    def convert(p: JsonParser): AnyRef = p.currentToken() match {
      case JsonToken.VALUE_NUMBER_INT =>
        // >64-bit integers are a field mismatch, not a bad record
        try java.lang.Long.valueOf(p.getLongValue)
        catch { case _: com.fasterxml.jackson.core.exc.InputCoercionException => Mismatch }
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
        p.skipChildren(); Mismatch
      case _ => Mismatch // float / bool / quoted number: no coercion
    }
  }

  private object MapConv extends Conv {
    def convert(p: JsonParser): AnyRef = p.currentToken() match {
      case JsonToken.START_OBJECT =>
        val keys = new scala.collection.mutable.ArrayBuffer[AnyRef](16)
        val values = new scala.collection.mutable.ArrayBuffer[AnyRef](16)
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          keys += UTF8String.fromString(p.currentName())
          p.nextToken()
          values += StringConv.convert(p)
        }
        if (p.currentToken() != JsonToken.END_OBJECT) throw Fail
        new ArrayBasedMapData(
          new GenericArrayData(keys.toArray[AnyRef]),
          new GenericArrayData(values.toArray[AnyRef]))
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_ARRAY => p.skipChildren(); Mismatch
      case _ => Mismatch
    }
  }

  private final class StructConv(st: StructType) extends Conv {
    private val index = {
      val m = new java.util.HashMap[String, Integer](st.size * 2)
      st.fieldNames.zipWithIndex.foreach { case (n, i) => m.put(n, i) }
      m
    }
    private val convs: Array[Conv] = st.fields.map(f => convFor(f.dataType))

    def convert(p: JsonParser): AnyRef = p.currentToken() match {
      case JsonToken.START_OBJECT => convertFields(p)
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_ARRAY => p.skipChildren(); Mismatch
      case _ => Mismatch
    }

    /** The object's fields (START_OBJECT already consumed): unknown
      * names skipped, mismatched values nulled per field, duplicate
      * keys last-wins. Truncation inside the object makes Jackson's
      * nextToken throw, which is the record-level contract. */
    def convertFields(p: JsonParser): GenericInternalRow = {
      val arr = new Array[Any](convs.length)
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val idx = index.get(p.currentName())
        p.nextToken()
        if (idx == null) p.skipChildren()
        else {
          val v = convs(idx).convert(p)
          arr(idx) = if (v eq Mismatch) null else v
        }
      }
      if (p.currentToken() != JsonToken.END_OBJECT) throw Fail
      new GenericInternalRow(arr)
    }
  }

  private final class ArrayConv(elem: Conv) extends Conv {
    def convert(p: JsonParser): AnyRef = p.currentToken() match {
      case JsonToken.START_ARRAY =>
        val buf = new scala.collection.mutable.ArrayBuffer[AnyRef](8)
        var bad = false
        var t = p.nextToken()
        while (t != JsonToken.END_ARRAY) {
          if (bad) {
            // a wrong-type element nulls the WHOLE array (from_json
            // parity) — drain the remaining elements without building
            if (t == JsonToken.START_OBJECT || t == JsonToken.START_ARRAY)
              p.skipChildren()
          } else {
            val v = elem.convert(p)
            if (v eq Mismatch) bad = true else buf += v
          }
          t = p.nextToken()
        }
        if (bad) Mismatch else new GenericArrayData(buf.toArray[AnyRef])
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_OBJECT => p.skipChildren(); Mismatch
      case _ => Mismatch
    }
  }

  private def convFor(dt: DataType): Conv = dt match {
    case StringType => StringConv
    case LongType => LongConv
    case MapType(StringType, StringType, _) => MapConv
    case s: StructType => new StructConv(s)
    case ArrayType(e, _) => new ArrayConv(convFor(e))
    case other => throw new IllegalArgumentException(
      s"unsupported type for graft_json_parse: ${other.sql}")
  }

  private val root = new StructConv(schema)

  /** Parse one line; null on malformation (quarantine class). Called
    * from generated code — see [[SchemaJsonParse.doGenCode]]. */
  def parse(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    try {
      val p = SchemaJson.factory.createParser(bytes, 0, bytes.length)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return null
        root.convertFields(p)
      } finally p.close()
    } catch {
      // only malformation: the Fail sentinel, Jackson's parse errors,
      // and CharConversionException — Jackson's encoding auto-detect
      // treats leading NULs as UTF-32/16 and its decoder throws
      // CharConversionException (an IOException, NOT a
      // JsonProcessingException); Spark's JacksonParser quarantines it
      // explicitly, so PERMISSIVE parity requires catching it here or
      // one garbage record poison-pills the streaming query. A blanket
      // RuntimeException catch would turn genuine parser bugs into
      // silent dirty-data loss, so those still propagate.
      case SchemaJson.Fail => null
      case _: com.fasterxml.jackson.core.JsonProcessingException => null
      case _: java.io.CharConversionException => null
    }
  }
}
