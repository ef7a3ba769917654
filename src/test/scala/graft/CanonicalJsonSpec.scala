package graft

import graft.plans.{CanonicalHash128, CanonicalJson, Murmur3_128, Murmur3x64_128}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Differential proof of the streaming canonicalizer: on every input it
  * writes the bytes the tree rendering it replaced wrote
  * ([[TreeCanonicalJson]], readTree + sorted copy + writeValueAsString),
  * and the fused hash is murmur3_128(42) of those bytes. The one
  * intended difference: a blank input passes through verbatim.
  */
class CanonicalJsonSpec extends SparkSpec {

  /** One canonicalizer for every input, as a task reuses it row after row. */
  private val kernel = new CanonicalJson.Canonicalizer

  /** `b` as a UTF8String on a larger array, at offset `off`. */
  private def at(b: Array[Byte], off: Int): UTF8String = {
    val arr = new Array[Byte](b.length + off + 3)
    System.arraycopy(b, 0, arr, off, b.length)
    UTF8String.fromBytes(arr, off, b.length)
  }

  private def check(b: Array[Byte], off: Int): Unit = {
    val s = at(b, off)
    val tree = TreeCanonicalJson.canonical(UTF8String.fromBytes(b))
    val want = if (TreeCanonicalJson.blank(s)) s else tree
    val got = kernel.canonical(s)
    assert(got === want, s"input ${new String(b, "UTF-8")}")
    assert(kernel.hash128(s, 42).toSeq === Murmur3x64_128.hashBytes(want.getBytes, 42).toSeq,
      s"input ${new String(b, "UTF-8")}")
  }

  test("the streaming canonicalizer writes the tree rendering's bytes on fuzzed payloads") {
    val fuzz = new JsonFuzz(1301)
    var canonicalized = 0
    for (i <- 0 until 100000) {
      val b = fuzz.next()
      check(b, i % 11)
      if (!java.util.Arrays.equals(kernel.canonical(UTF8String.fromBytes(b)).getBytes, b))
        canonicalized += 1
    }
    // most inputs are well-formed documents whose bytes do change
    assert(canonicalized > 60000)
  }

  test("the streaming canonicalizer writes the tree rendering's bytes on HFP payloads") {
    val fuzz = new JsonFuzz(1302)
    for (i <- 0 until 20000) check(fuzz.hfp().getBytes("UTF-8"), i % 5)
  }

  test("canonical spellings of numbers, keys, strings and odd inputs") {
    def canon(s: String): String = kernel.canonical(UTF8String.fromString(s)).toString
    assert(canon("""{"b":1,"a":[1E2,-0,8.50,-0.0,1e999,-1e999]}""") ===
      """{"a":[100.0,0,8.5,-0.0,"Infinity","-Infinity"],"b":1}""")
    assert(canon("123456789012345678901234567890") === "123456789012345678901234567890")
    assert(canon("""{"a":1,"b":{"y":[],"x":{}},"a":2}""") === """{"a":2,"b":{"x":{},"y":[]}}""")
    assert(canon("""{"a":1} trailing {"b":2}""") === """{"a":1}""")
    assert(canon("\"\\ud800\\ud83d\\ude00\\u0001\\n\\/\"") === "\"?\ud83d\ude00\\u0001\\n/\"")
    // UTF-16 order: a supplementary character sorts before U+E000
    assert(canon("{\"\ue000\":1,\"\ud83d\ude00\":2}") === "{\"\ud83d\ude00\":2,\"\ue000\":1}")
    // an escaped lone surrogate in a key sorts as U+D800 and is written as ?
    assert(canon("{\"\\ud800\":1,\"z\":2}") === "{\"z\":2,\"?\":1}")
    for (verbatim <- Seq("", "  ", "\n", "{broken", "01", "{\"a\":1,}", "42x"))
      assert(canon(verbatim) === verbatim)
    assert(canon(" null ") === "null")
  }

  test("off-heap input, codegen and interpreted expressions agree with the kernel") {
    import spark.implicits._
    val payloads = Seq("""{"VP":{"veh":7,"spd":3.50}}""", """{ "VP" : {"spd":3.5,"veh":7} }""",
      "", "{broken", "\"\\ud800\"")
    // off heap: parsed from a copy of the bytes
    for (p <- payloads) {
      val b = p.getBytes("UTF-8")
      val addr = Platform.allocateMemory(math.max(b.length, 1).toLong)
      try {
        Platform.copyMemory(b, Platform.BYTE_ARRAY_OFFSET, null, addr, b.length.toLong)
        check(b, 0)
        val off = UTF8String.fromAddress(null, addr, b.length)
        assert(kernel.canonical(off).getBytes.toSeq === kernel.canonical(at(b, 0)).getBytes.toSeq)
        assert(kernel.hash128(off, 42).toSeq === kernel.hash128(at(b, 0), 42).toSeq)
      } finally Platform.freeMemory(addr)
    }
    val df = (payloads.map(Option(_)) :+ None).toDF("payload")
    def run() = df.select(
        CanonicalJson(col("payload")).as("c"),
        hex(CanonicalHash128(col("payload"), 42)).as("fused"),
        hex(Murmur3_128(CanonicalJson(col("payload")).cast("binary"), 42)).as("composed"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)), Option(r.getString(2)))).toSeq
    val codegen = run()
    val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(codegen === interpreted)
    codegen.foreach { case (_, fused, composed) => assert(fused === composed) }
    assert(codegen(0)._2 === codegen(1)._2)
    assert(codegen.last === ((None, None, None)))
  }
}
