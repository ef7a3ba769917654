package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.unsafe.types.UTF8String

/** The tree rendering that `graft.plans.CanonicalJson` replaced, kept
  * only as the oracle of the differential spec: decode to a String,
  * `readTree`, copy the tree with every object's keys sorted,
  * `writeValueAsString`, encode to UTF-8. Unparseable input is returned
  * verbatim. It maps a blank input to `"null"` (Jackson's `readTree`
  * returns a MissingNode there, which writes as null); the streaming
  * kernel keeps blank input verbatim instead.
  */
object TreeCanonicalJson {
  private val mapper = new ObjectMapper()

  private def sortNode(n: JsonNode): JsonNode = n match {
    case o: ObjectNode =>
      val sorted = mapper.createObjectNode()
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = o.fieldNames()
      while (it.hasNext) names += it.next()
      names.sorted.foreach(f => sorted.set[JsonNode](f, sortNode(o.get(f))))
      sorted
    case a: ArrayNode =>
      val out = mapper.createArrayNode()
      a.forEach(e => out.add(sortNode(e)))
      out
    case other => other
  }

  def canonical(input: UTF8String): UTF8String =
    try {
      val node = mapper.readTree(input.toString)
      if (node == null) input
      else UTF8String.fromString(mapper.writeValueAsString(sortNode(node)))
    } catch {
      case _: Exception => input
    }

  /** True when `s` decodes to an empty or whitespace-only JSON text. */
  def blank(s: UTF8String): Boolean =
    s.toString.forall(c => c == ' ' || c == '\t' || c == '\n' || c == '\r')
}

/** Seeded generator of JSON-shaped payloads for the differential spec:
  * random documents (key order, whitespace, number spellings, nesting,
  * repeated keys, escapes, non-ASCII and surrogate text), then with some
  * probability a mutation (truncation, a stray or invalid UTF-8 byte,
  * trailing tokens, a byte-order mark or NUL prefix), plus fixed odd
  * inputs and HFP VP payloads in both of the generator's spellings.
  */
final class JsonFuzz(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  private val keys = IndexedSeq("a", "b", "c", "VP", "veh", "spd", "\u00e9", "\u65e5\u672c",
    "\\ud800", "\\udc00", "\\u0041", "a\\nb", "\ud83d\ude00", "\\ud83d\\ude00", "", "Z",
    "\ue000", "\\u0000", "\\\"q", "x/y", "\\/")
  private val numbers = IndexedSeq("0", "-0", "8.50", "8.5", "1E2", "1e2", "1e+2", "-0.0",
    "0.0", "1e999", "-1e999", "1e-999", "123456789012345678901234567890",
    "-9223372036854775808", "9223372036854775807", "9223372036854775808",
    "-9223372036854775809", "2147483647", "2147483648", "-2147483648", "-2147483649",
    "0.1", "1.0e+10", "3.14159265358979323846264338327950288", "4.9e-324", "2.4e-324",
    "1.7976931348623157e308", "1.7976931348623159e308", "60.171690", "24.941684",
    "0.00", "100", "1E-7", "1e7", "12345678.9", "0.001", "9007199254740993")
  private val stringPieces = IndexedSeq("x", "hello", " ", "\\n", "\\t", "\\b", "\\f", "\\r",
    "\\u0000", "\\u001f", "\\u007f", "\\\"", "\\\\", "\\/", "\\ud800", "\\udc00",
    "\\ud83d\\ude00", "\\ud83d", "\\u00e9", "\u00e9", "\u65e5", "\ud83d\ude00", "\u007f",
    "\uffff", "\u2028", "\\uD834\\uDD1E", "\\u00E9")
  private val spaces = IndexedSeq("", "", "", " ", "  ", "\n", "\t", "\r\n ")
  private val odd = IndexedSeq("", " ", "   ", "\n\t", "null", "true", "false", "42", "-0",
    "\"s\"", "01", "+1", ".5", "5.", "NaN", "Infinity", "[1,]", "{\"a\":1,}", "/*c*/{}",
    "{}", "[]", "{\"a\":{}}", "[[]]", "{\"a\":1}x", "{\"a\":1} {\"b\":2}", "42x", "42 x",
    "truex", "true]", "{\"a\":1}}", "[1]]", "'a'", "{a:1}", "{\"a\" 1}", "\u00e9",
    "{\"a\":\"\u0001\"}", "{\"a\":1e}", "{\"a\":-}", "1e999", "\"\\ud800\"",
    "[" * 1000 + "]" * 1000, "[" * 1001 + "]" * 1001,
    "{\"a\":" * 1000 + "1" + "}" * 1000, "{\"a\":" * 1001 + "1" + "}" * 1001)

  private def ws(): String = pick(spaces)

  private def value(depth: Int): String = rnd.nextInt(if (depth > 3) 4 else 7) match {
    case 0 => pick(numbers)
    case 1 => rnd.nextInt(4) match {
      case 0 => rnd.nextLong().toString
      case 1 => rnd.nextInt(1000).toString
      case 2 => java.lang.Double.toString(rnd.nextDouble() * math.pow(10, rnd.nextInt(40) - 20))
      case _ => s"${rnd.nextInt(100)}.${"0" * rnd.nextInt(3)}${rnd.nextInt(10000)}" +
        (if (rnd.nextBoolean()) s"e${rnd.nextInt(40) - 20}" else "")
    }
    case 2 => string()
    case 3 => pick(IndexedSeq("true", "false", "null"))
    case 4 | 5 =>
      (0 until rnd.nextInt(6)).map(_ => s"${ws()}\"${pick(keys)}\"${ws()}:${ws()}${value(depth + 1)}${ws()}")
        .mkString("{", ",", "}")
    case _ => (0 until rnd.nextInt(5)).map(_ => s"${ws()}${value(depth + 1)}${ws()}").mkString("[", ",", "]")
  }

  private def string(): String = (0 until rnd.nextInt(5)).map(_ => pick(stringPieces)).mkString("\"", "", "\"")

  /** An HFP VP payload; `variant` reverses the keys and adds whitespace. */
  def hfp(): String = {
    val veh = rnd.nextInt(2000)
    val fields = Seq(
      "\"desi\":\"550\"", "\"dir\":\"1\"", "\"oper\":22", s"\"veh\":$veh",
      s"\"tst\":\"2026-10-17T0${rnd.nextInt(10)}:12:34.${rnd.nextInt(1000)}Z\"",
      s"\"tsi\":${rnd.nextLong(1L << 40)}", s"\"spd\":${rnd.nextInt(4096) / 100.0}",
      s"\"hdg\":${rnd.nextInt(360)}", s"\"lat\":${60.1 + rnd.nextInt(65536) / 1e6}",
      s"\"long\":${24.9 + rnd.nextInt(65536) / 1e6}", "\"acc\":0.1",
      s"\"dl\":${rnd.nextInt(64) - 32}", s"\"odo\":${rnd.nextInt(100000)}", "\"drst\":0",
      "\"oday\":\"2026-10-17\"", s"\"jrn\":${veh % 900}", "\"line\":550", "\"start\":\"08:45\"")
    if (rnd.nextInt(8) == 0) fields.reverse.mkString("{ \"VP\" : { ", " , ", " } }")
    else fields.mkString("{\"VP\":{", ",", "}}")
  }

  /** The next payload's bytes. */
  def next(): Array[Byte] = {
    val text = rnd.nextInt(20) match {
      case 0 => pick(odd)
      case 1 | 2 => hfp()
      case _ => ws() + value(0) + ws()
    }
    val b = text.getBytes("UTF-8")
    if (b.isEmpty || rnd.nextInt(4) != 0) b
    else rnd.nextInt(6) match {
      case 0 => java.util.Arrays.copyOf(b, rnd.nextInt(b.length))
      case 1 => // a stray byte, often not valid UTF-8
        val i = rnd.nextInt(b.length + 1)
        Array.concat(b.take(i), Array(rnd.nextInt(256).toByte), b.drop(i))
      case 2 =>
        val c = b.clone(); c(rnd.nextInt(c.length)) = (0x80 + rnd.nextInt(128)).toByte; c
      case 3 => Array.concat(b, pick(IndexedSeq(" x", "}", "]", " 1", "{}", ",", "\u0000", " \"s\""))
        .getBytes("UTF-8"))
      case 4 => Array.concat(pick(IndexedSeq(Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte),
        Array[Byte](0), Array[Byte](0, 0), Array[Byte](0xfe.toByte, 0xff.toByte))), b)
      case _ => Array.concat(b, Array[Byte](0xed.toByte, 0xa0.toByte, 0x80.toByte))
    }
  }
}
