package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A strict-subset JSON decoder for flat wire records: one line →
  * one struct of `StringType` / `LongType` fields, read straight from
  * the line's UTF-8 bytes — no Jackson parser, no per-row buffer
  * recycler, no token objects.
  *
  * It accepts only lines on which its result is provably `from_json`'s
  * (PERMISSIVE, default options) and answers SQL null for every other
  * line, so `coalesce(decode(v), from_json(v, schema))` is `from_json`
  * row for row. The subset:
  *  - a root object; JSON whitespace (space, tab, CR, LF) between
  *    tokens and nothing but whitespace after the closing brace;
  *  - keys and string values in double quotes, bytes 0x20–0x7E only,
  *    no backslash (so no escapes and no multi-byte characters);
  *  - a `LongType` field: an integer literal, optional minus sign, no
  *    leading zero, at most 18 digits (never overflows), no fraction or
  *    exponent;
  *  - a `StringType` field: a string literal (any other token falls
  *    back, whatever `from_json` makes of it);
  *  - any field: `null`;
  *  - unknown keys with a string, integer or `null` value, skipped (a
  *    nested or boolean value falls back);
  *  - each schema key at most once (a repeated one falls back).
  * Key matching is exact (case-sensitive), as `from_json`'s is. */
object WireJson {
  import org.apache.spark.sql.{GraftColumnBridge => B}

  /** The decoded struct (see [[WireJsonDecode]]), or null where the line
    * is outside the subset. */
  def wire_json(line: Column, schema: StructType): Column =
    B.column(WireJsonDecode(B.expression(line), schema))

  /** Decode `line` against the schema described by `names` (UTF-8 key
    * bytes) and `isLong` (per field: LongType, else StringType); null
    * when the line is outside the subset. */
  def decode(line: UTF8String, names: Array[Array[Byte]],
             isLong: Array[Boolean]): InternalRow =
    new Scan(line.getBaseObject, line.getBaseOffset, line.numBytes)
      .row(names, isLong)

  private final class Scan(base: AnyRef, off: Long, n: Int) {
    private var i = 0

    private def at(k: Int): Int = Platform.getByte(base, off + k)

    private def skipWs(): Unit = {
      var c = if (i < n) at(i) else -1
      while (c == ' ' || c == '\t' || c == '\n' || c == '\r') {
        i += 1
        c = if (i < n) at(i) else -1
      }
    }

    /** At a `"`: consume a subset string literal; its content is
      * `[start, i - 1)`. Returns the content start, or -1. */
    private def str(): Int = {
      if (i >= n || at(i) != '"') return -1
      i += 1
      val start = i
      while (i < n) {
        val c = at(i)
        if (c == '"') { i += 1; return start }
        if (c < 0x20 || c > 0x7e || c == '\\') return -1
        i += 1
      }
      -1
    }

    /** Consume a subset integer literal; Long.MinValue marks a refusal
      * (an accepted literal has at most 18 digits, so never reaches it). */
    private def int(): Long = {
      val neg = i < n && at(i) == '-'
      if (neg) i += 1
      val start = i
      var v = 0L
      var c = if (i < n) at(i) else -1
      while (c >= '0' && c <= '9') {
        v = v * 10 + (c - '0'); i += 1
        c = if (i < n) at(i) else -1
      }
      val digits = i - start
      if (digits == 0 || digits > 18 || (digits > 1 && at(start) == '0')) Long.MinValue
      else if (neg) -v else v
    }

    private def isNull: Boolean =
      i + 4 <= n && at(i) == 'n' && at(i + 1) == 'u' && at(i + 2) == 'l' && at(i + 3) == 'l'

    /** The schema field whose key is `[start, end)`, or -1. */
    private def field(names: Array[Array[Byte]], start: Int, end: Int): Int = {
      var f = 0
      while (f < names.length) {
        val k = names(f)
        if (k.length == end - start) {
          var j = 0
          while (j < k.length && k(j) == at(start + j)) j += 1
          if (j == k.length) return f
        }
        f += 1
      }
      -1
    }

    /** A fresh copy of bytes `[start, end)`: the line's buffer is reused
      * by the reader, and only the value's bytes are copied. */
    private def slice(start: Int, end: Int): UTF8String = {
      val b = new Array[Byte](end - start)
      Platform.copyMemory(base, off + start, b, Platform.BYTE_ARRAY_OFFSET, b.length)
      UTF8String.fromBytes(b)
    }

    def row(names: Array[Array[Byte]], isLong: Array[Boolean]): InternalRow = {
      val values = new Array[Any](names.length)
      var seen = 0L
      skipWs()
      if (i >= n || at(i) != '{') return null
      i += 1
      skipWs()
      if (i < n && at(i) == '}') i += 1
      else {
        var more = true
        while (more) {
          val ks = str()
          if (ks < 0) return null
          val f = field(names, ks, i - 1)
          if (f >= 0) {
            if ((seen & (1L << f)) != 0) return null
            seen |= 1L << f
          }
          skipWs()
          if (i >= n || at(i) != ':') return null
          i += 1
          skipWs()
          if (i >= n) return null
          val c = at(i)
          if (c == '"') {
            val vs = str()
            if (vs < 0 || (f >= 0 && isLong(f))) return null
            if (f >= 0) values(f) = slice(vs, i - 1)
          } else if (c == '-' || (c >= '0' && c <= '9')) {
            val v = int()
            if (v == Long.MinValue || (f >= 0 && !isLong(f))) return null
            if (f >= 0) values(f) = v
          } else if (isNull) i += 4
          else return null
          skipWs()
          if (i >= n) return null
          if (at(i) == ',') { i += 1; skipWs() }
          else if (at(i) == '}') { i += 1; more = false }
          else return null
        }
      }
      skipWs()
      if (i != n) null else new GenericInternalRow(values)
    }
  }
}

/** `wire_json(line, schema)`: [[WireJson.decode]] as an expression over
  * a string `line`. `schema` is flat, at most 64 fields, each
  * `StringType` or `LongType`. A null line decodes to null. Not
  * declared null-intolerant: a non-null line may decode to null too,
  * and the optimizer would otherwise rewrite `wire_json(v) IS NULL`
  * into `v IS NULL`. Interpreted: its only user sits beside
  * `from_json`, itself interpreted, so the operator is outside
  * whole-stage codegen either way, and generated code measured no
  * faster. */
case class WireJsonDecode(child: Expression, schema: StructType)
    extends UnaryExpression with CodegenFallback {
  require(schema.length <= 64 &&
    schema.forall(f => f.dataType == StringType || f.dataType == LongType),
    s"wire_json: flat StringType/LongType fields only, got $schema")

  override def prettyName: String = "wire_json"
  override def dataType: DataType = StructType(schema.map(_.copy(nullable = true)))
  override def nullable: Boolean = true

  @transient private lazy val names: Array[Array[Byte]] =
    schema.fieldNames.map(_.getBytes(UTF_8))
  @transient private lazy val isLong: Array[Boolean] =
    schema.fields.map(_.dataType == LongType)

  override protected def nullSafeEval(line: Any): Any =
    WireJson.decode(line.asInstanceOf[UTF8String], names, isLong)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
