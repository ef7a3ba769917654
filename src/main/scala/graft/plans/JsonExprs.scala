package graft.plans

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.io.IOContext
import com.fasterxml.jackson.core.json.UTF8StreamJsonParser
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Canonical JSON re-serialization — the exact analog of the
  * reference's protobuf re-serialize-before-hash
  * (Deduplicator.java:71-106): parse, recursively sort every object's
  * keys, serialize compactly. Two payloads that differ only in key
  * order / whitespace / number spelling become one canonical string;
  * nested objects are handled (a schema-based `from_json` to a flat
  * map would null them out and MERGE distinct payloads — the bug this
  * expression exists to avoid).
  *
  * An UNPARSEABLE input is returned verbatim: garbage stays distinct
  * garbage (collapsing all malformed payloads to one canonical form
  * would dedup-drop real messages). So is a blank one (empty or
  * whitespace only): it holds no JSON value, and mapping it to `null`
  * would give it the key of a literal `null` payload.
  *
  * The work is one streaming token pass of a [[CanonicalJson.Canonicalizer]],
  * one per expression instance and per generated class: each runs on one
  * thread and reuses its buffers from row to row.
  */
case class CanonicalJson(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  @transient private lazy val kernel = new CanonicalJson.Canonicalizer

  override def nullSafeEval(input: Any): Any = kernel.canonical(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = CanonicalJson.kernel(ctx)
    defineCodeGen(ctx, ev, c => s"$k.canonical($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CanonicalJson =
    copy(child = newChild)
}

/** murmur3_128(seed) over the [[CanonicalJson]] bytes of a string, fused:
  * the canonical form is hashed where the canonicalizer wrote it, and a
  * verbatim input where it lies. Equal to
  * `Murmur3_128(CanonicalJson(child).cast("binary"), seed)`.
  */
case class CanonicalHash128(child: Expression, seed: Int) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  @transient private lazy val kernel = new CanonicalJson.Canonicalizer

  override def nullSafeEval(input: Any): Any = kernel.hash128(input.asInstanceOf[UTF8String], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = CanonicalJson.kernel(ctx)
    defineCodeGen(ctx, ev, c => s"$k.hash128($c, $seed)")
  }

  override protected def withNewChildInternal(newChild: Expression): CanonicalHash128 =
    copy(child = newChild)
}

object CanonicalJson {

  /** Reads UTF-8 bytes as UTF-8 always: the stock factory's encoding
    * detection would read a payload that starts with a NUL byte as
    * UTF-16/32, where the decoded string the input stands for is
    * malformed JSON.
    */
  private final class Utf8Factory extends JsonFactory {
    enable(JsonParser.Feature.USE_FAST_DOUBLE_PARSER) // correctly rounded, as Double.parseDouble
    override protected def _createParser(data: Array[Byte], offset: Int, len: Int,
                                         ctxt: IOContext): JsonParser =
      new UTF8StreamJsonParser(ctxt, _parserFeatures, null, _objectCodec,
        _byteSymbolCanonicalizer.makeChildOrPlaceholder(_factoryFeatures), data, offset, offset + len, 0, false)
  }
  private val factory: JsonFactory = new Utf8Factory

  /** One token pass from a parser to the canonical bytes in `buf(0 until len)`:
    * every object's fields are written as they come, each as one
    * `"name":value` slice, and on the object's close the slices are put
    * in key order (UTF-16 order, as `String.compareTo`), keeping the
    * last value of a repeated key. Values are written as Jackson writes
    * them from a tree: integers in plain decimal, floats as
    * `Double.toString` (quoted when not finite), strings with `"`, `\`
    * and control characters escaped, encoded as `String.getBytes(UTF_8)`
    * does (a lone surrogate becomes `?`). Content after the first
    * value is not read. Not thread-safe: the buffers are reused.
    */
  final class Canonicalizer {
    private var buf = new Array[Byte](512)
    private var len = 0
    private var scratch = new Array[Byte](512)
    private var chars = new Array[Char](64)
    // fields of the open objects, innermost last
    private var names = new Array[String](64)
    private var starts = new Array[Int](64)
    private var ends = new Array[Int](64)
    private var nFields = 0
    // the fields of the object being sorted, in key order
    private var order = new Array[Int](64)
    // per open container: first field index (object) or -1 (array), and element count
    private var first = new Array[Int](16)
    private var count = new Array[Int](16)
    private var depth = 0

    /** The canonical form of `s`, or `s` itself when it has none. */
    def canonical(s: UTF8String): UTF8String =
      if (render(s)) UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len)) else s

    /** murmur3_128(seed) of the bytes of `canonical(s)`, read in place. */
    def hash128(s: UTF8String, seed: Int): Array[Byte] =
      if (render(s)) Murmur3x64_128.hashBytes(buf, 0, len, seed)
      else s.getBaseObject match {
        case a: Array[Byte] =>
          Murmur3x64_128.hashBytes(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes, seed)
        case _ => Murmur3x64_128.hashBytes(s.getBytes, seed)
      }

    /** Renders `s` into `buf`; false when `s` holds no JSON value or is
      * malformed, and is its own identity. Valid UTF-8 is parsed in place;
      * the string `s` decodes to is parsed when it is not, and when the
      * byte parser rejects it: that parser refuses a lone surrogate escape
      * in a field name, which the string parser reads.
      */
    private def render(s: UTF8String): Boolean = {
      def bytes: JsonParser = s.getBaseObject match {
        case a: Array[Byte] =>
          factory.createParser(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
        case _ => factory.createParser(s.getBytes)
      }
      (Utf8.valid(s) && attempt(bytes)) || attempt(factory.createParser(s.toString))
    }

    private def attempt(p: JsonParser): Boolean =
      try render(p)
      catch { case _: Exception => false }
      finally p.close()

    private def render(p: JsonParser): Boolean = {
      if (buf.length > MaxKept) { buf = new Array[Byte](512); scratch = new Array[Byte](512) }
      len = 0; nFields = 0; depth = 0
      var t = p.nextToken()
      if (t == null) return false
      while (true) {
        (t: @unchecked) match {
          case JsonToken.FIELD_NAME =>
            if (nFields > first(depth - 1)) { ends(nFields - 1) = len; put(',') }
            if (nFields == names.length) growFields()
            val name = p.currentName()
            names(nFields) = name; starts(nFields) = len; nFields += 1
            putString(name); put(':')
          case JsonToken.START_OBJECT => element(); put('{'); open(nFields)
          case JsonToken.START_ARRAY => element(); put('['); open(-1)
          case JsonToken.END_OBJECT =>
            depth -= 1
            val f = first(depth)
            if (nFields > f) { ends(nFields - 1) = len; sortFields(f) }
            nFields = f
            put('}')
          case JsonToken.END_ARRAY => depth -= 1; put(']')
          case JsonToken.VALUE_STRING =>
            element(); putChars(p.getTextCharacters, p.getTextOffset, p.getTextLength)
          case JsonToken.VALUE_NUMBER_INT =>
            element()
            val n = p.getTextLength
            val c = p.getTextCharacters
            val o = p.getTextOffset
            if (n == 2 && c(o) == '-' && c(o + 1) == '0') put('0') // -0 reads as the int 0
            else { reserve(n); var i = 0; while (i < n) { buf(len) = c(o + i).toByte; len += 1; i += 1 } }
          case JsonToken.VALUE_NUMBER_FLOAT =>
            element()
            val d = p.getDoubleValue
            val text = java.lang.Double.toString(d)
            if (java.lang.Double.isFinite(d)) putAscii(text)
            else { put('"'); putAscii(text); put('"') }
          case JsonToken.VALUE_TRUE => element(); putAscii("true")
          case JsonToken.VALUE_FALSE => element(); putAscii("false")
          case JsonToken.VALUE_NULL => element(); putAscii("null")
        }
        if (depth == 0) return true
        t = p.nextToken()
      }
      true
    }

    /** A value starts: in an array, after a comma unless it is the first. */
    private def element(): Unit =
      if (depth > 0 && first(depth - 1) < 0) {
        if (count(depth - 1) > 0) put(',')
        count(depth - 1) += 1
      }

    private def open(firstField: Int): Unit = {
      if (depth == first.length) {
        first = java.util.Arrays.copyOf(first, depth * 2)
        count = java.util.Arrays.copyOf(count, depth * 2)
      }
      first(depth) = firstField; count(depth) = 0; depth += 1
    }

    private def growFields(): Unit = {
      val n = names.length * 2
      names = java.util.Arrays.copyOf(names, n)
      starts = java.util.Arrays.copyOf(starts, n)
      ends = java.util.Arrays.copyOf(ends, n)
      order = java.util.Arrays.copyOf(order, n)
    }

    /** Puts the slices of fields `f until nFields` (they end at `len`) in
      * key order, the last of each repeated key kept.
      */
    private def sortFields(f: Int): Unit = {
      val k = keyOrder(f)
      if (k < 0) return
      val base = starts(f)
      val size = len - base
      if (scratch.length < size) scratch = new Array[Byte](math.max(size, scratch.length * 2))
      System.arraycopy(buf, base, scratch, 0, size)
      len = base
      var i = 0
      while (i < k) {
        if (i > 0) put(',')
        val j = f + order(i)
        val m = ends(j) - starts(j)
        System.arraycopy(scratch, starts(j) - base, buf, len, m)
        len += m
        i += 1
      }
    }

    /** Puts in `order(0 until k)` the fields (relative to `f`) to write, in
      * key order, the last of each repeated key, and returns `k`; -1 when
      * the fields already are in that order. An insertion sort: stable, so
      * the last field of a repeated key ends its run of equal names.
      */
    private def keyOrder(f: Int): Int = {
      val n = nFields - f
      var i = 1
      while (i < n && names(f + i - 1).compareTo(names(f + i)) < 0) i += 1
      if (i >= n) return -1
      i = 0
      while (i < n) {
        val name = names(f + i)
        var j = i
        while (j > 0 && names(f + order(j - 1)).compareTo(name) > 0) { order(j) = order(j - 1); j -= 1 }
        order(j) = i
        i += 1
      }
      var k = 0
      i = 0
      while (i < n) {
        if (i + 1 == n || names(f + order(i + 1)) != names(f + order(i))) { order(k) = order(i); k += 1 }
        i += 1
      }
      k
    }

    private def reserve(n: Int): Unit =
      if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(len + n, buf.length * 2))

    private def put(b: Char): Unit = { reserve(1); buf(len) = b.toByte; len += 1 }

    private def putAscii(s: String): Unit = {
      val n = s.length
      reserve(n)
      var i = 0
      while (i < n) { buf(len) = s.charAt(i).toByte; len += 1; i += 1 }
    }

    private def putString(s: String): Unit = {
      val n = s.length
      if (chars.length < n) chars = new Array[Char](math.max(n, chars.length * 2))
      s.getChars(0, n, chars, 0)
      putChars(chars, 0, n)
    }

    private def putChars(c: Array[Char], off: Int, n: Int): Unit = {
      reserve(6 * n + 2)
      buf(len) = '"'; len += 1
      var i = off
      val end = off + n
      while (i < end) {
        val ch = c(i)
        if (ch < 0x80) {
          if (ch >= 0x20 && ch != '"' && ch != '\\') { buf(len) = ch.toByte; len += 1 }
          else escape(ch)
        } else if (ch < 0x800) {
          buf(len) = (0xc0 | (ch >> 6)).toByte
          buf(len + 1) = (0x80 | (ch & 0x3f)).toByte
          len += 2
        } else if (!Character.isSurrogate(ch)) {
          buf(len) = (0xe0 | (ch >> 12)).toByte
          buf(len + 1) = (0x80 | ((ch >> 6) & 0x3f)).toByte
          buf(len + 2) = (0x80 | (ch & 0x3f)).toByte
          len += 3
        } else if (Character.isHighSurrogate(ch) && i + 1 < end && Character.isLowSurrogate(c(i + 1))) {
          val cp = Character.toCodePoint(ch, c(i + 1))
          buf(len) = (0xf0 | (cp >> 18)).toByte
          buf(len + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
          buf(len + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
          buf(len + 3) = (0x80 | (cp & 0x3f)).toByte
          len += 4
          i += 1
        } else { buf(len) = '?'; len += 1 }
        i += 1
      }
      buf(len) = '"'; len += 1
    }

    private def escape(ch: Char): Unit = {
      buf(len) = '\\'; len += 1
      ch match {
        case '"' | '\\' => buf(len) = ch.toByte; len += 1
        case '\b' => buf(len) = 'b'; len += 1
        case '\t' => buf(len) = 't'; len += 1
        case '\n' => buf(len) = 'n'; len += 1
        case '\f' => buf(len) = 'f'; len += 1
        case '\r' => buf(len) = 'r'; len += 1
        case _ =>
          buf(len) = 'u'; buf(len + 1) = '0'; buf(len + 2) = '0'
          buf(len + 3) = Hex(ch >> 4); buf(len + 4) = Hex(ch & 0xf)
          len += 5
      }
    }
  }

  /** Largest output buffer a canonicalizer keeps between rows. */
  private val MaxKept = 1 << 20

  private val Hex: Array[Byte] = "0123456789ABCDEF".getBytes("US-ASCII")

  /** A field of the generated class holding its own canonicalizer. */
  private[plans] def kernel(ctx: CodegenContext): String = {
    val cls = classOf[Canonicalizer].getName
    ctx.addMutableState(cls, "canonicalizer", v => s"$v = new $cls();")
  }

  def apply(c: Column): Column =
    GraftShim.column(CanonicalJson(GraftShim.expression(c)))
}

object CanonicalHash128 {
  def apply(c: Column, seed: Int): Column =
    GraftShim.column(CanonicalHash128(GraftShim.expression(c), seed))
}
