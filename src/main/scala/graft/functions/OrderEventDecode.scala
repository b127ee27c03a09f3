package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level decode of the reference producer's order event
  * (`{"orderID":"…","customerID":N,"amount":N}`) into the struct
  * `from_json(value, orderEventSchema)` returns — the same fields, all
  * nullable — or null when the bytes fall outside a strict subset of
  * JSON. It is a fast path only: callers `coalesce` it with `from_json`,
  * which stays the one definition of the semantics (see
  * `StreamPipeline.decodeOrderBytes`).
  *
  * Accepted, and nothing else:
  *  - optional JSON whitespace (space, `\t`, `\n`, `\r`), one object,
  *    then only whitespace to the end;
  *  - keys exactly `orderID`, `customerID`, `amount` (no escapes), each
  *    at most once, in any order; a missing key reads as null;
  *  - `orderID` a string of printable ASCII (0x20–0x7E) without `"` or
  *    `\`, at most [[MaxIdBytes]] bytes;
  *  - `customerID` and `amount` integers matching
  *    `-?(0|[1-9][0-9]{0,17})`, which always fit a long.
  *
  * Everything else — a BOM, any non-ASCII byte, JSON `null`, nested
  * values, escapes, duplicate or unknown keys, leading zeros, 19+ digit
  * numbers, fractions, exponents, trailing bytes — returns null. Inside
  * the subset every byte is ASCII, so Spark's UTF-8 reader path sees the
  * same characters, and Jackson's tokens (one object, string and int
  * values within every default read constraint) give exactly these
  * values.
  *
  * Native `Expression` with `doGenCode`: one static call per row, like
  * [[DeflateSize]].
  */
case class OrderEventDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"decode_order_event requires a binary argument, got ${child.dataType.sql}")

  override def dataType: DataType = OrderEventDecode.Schema
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    OrderEventDecode.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.OrderEventDecode.decode($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): OrderEventDecode =
    copy(child = newChild)
}

object OrderEventDecode {

  /** `from_json`'s output type for the order event schema. */
  val Schema: StructType = StructType(Seq(
    StructField("orderID", StringType),
    StructField("customerID", LongType),
    StructField("amount", LongType)))

  /** Longest accepted `orderID`, far inside Jackson's string-length
    * limit; the reference producer sends 36-byte UUIDs. */
  val MaxIdBytes = 4096

  private val Keys: Array[Array[Byte]] = Schema.fieldNames.map(_.getBytes("US-ASCII"))

  /** The event, or null when `b` is outside the accepted subset. */
  def decode(b: Array[Byte]): InternalRow = {
    val n = b.length
    var i = skipWs(b, 0)
    if (i == n || b(i) != '{') return null
    i = skipWs(b, i + 1)
    val values = new Array[Any](3)
    var seen = 0
    if (i < n && b(i) == '}') i += 1
    else {
      var open = true
      while (open) {
        val k = key(b, i)
        if (k < 0 || (seen & (1 << k)) != 0) return null
        seen |= 1 << k
        i = skipWs(b, i + Keys(k).length + 2)
        if (i == n || b(i) != ':') return null
        i = skipWs(b, i + 1)
        val end = if (k == 0) stringEnd(b, i) else numberEnd(b, i)
        if (end < 0) return null
        values(k) =
          if (k == 0) UTF8String.fromBytes(b, i + 1, end - i - 2)
          else java.lang.Long.valueOf(parseLong(b, i, end))
        i = skipWs(b, end)
        if (i == n) return null
        if (b(i) == '}') { i += 1; open = false }
        else if (b(i) == ',') i = skipWs(b, i + 1)
        else return null
      }
    }
    if (skipWs(b, i) != n) null else new GenericInternalRow(values)
  }

  private def skipWs(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length && (b(i) == ' ' || b(i) == '\n' || b(i) == '\r' || b(i) == '\t')) i += 1
    i
  }

  /** Index of the quoted key at `i`, or -1. */
  private def key(b: Array[Byte], i: Int): Int = {
    var k = 0
    while (k < Keys.length) {
      val name = Keys(k)
      val close = i + name.length + 1
      if (close < b.length && b(i) == '"' && b(close) == '"' &&
        java.util.Arrays.equals(b, i + 1, close, name, 0, name.length)) return k
      k += 1
    }
    -1
  }

  /** End (exclusive) of the plain printable-ASCII string at `i`, or -1. */
  private def stringEnd(b: Array[Byte], i: Int): Int = {
    if (i == b.length || b(i) != '"') return -1
    val limit = math.min(b.length, i + MaxIdBytes + 2)
    var j = i + 1
    while (j < limit && b(j) >= 0x20 && b(j) <= 0x7e && b(j) != '"' && b(j) != '\\') j += 1
    if (j < limit && b(j) == '"') j + 1 else -1
  }

  /** End (exclusive) of `-?(0|[1-9][0-9]{0,17})` at `i`, or -1. A digit
    * right after it (leading zero, 19th digit) is left to the caller,
    * which accepts only whitespace, `,` or `}` there. */
  private def numberEnd(b: Array[Byte], i: Int): Int = {
    var j = if (i < b.length && b(i) == '-') i + 1 else i
    val first = j
    if (j < b.length && b(j) == '0') j += 1
    else while (j < b.length && j - first < 18 && b(j) >= '0' && b(j) <= '9') j += 1
    if (j == first) -1 else j
  }

  private def parseLong(b: Array[Byte], from: Int, end: Int): Long = {
    val neg = b(from) == '-'
    var i = if (neg) from + 1 else from
    var v = 0L
    while (i < end) { v = v * 10 + (b(i) - '0'); i += 1 }
    if (neg) -v else v
  }

  def decode_order_event(c: Column): Column =
    ColumnBridge.column(OrderEventDecode(ColumnBridge.expression(c)))
}
