package graft

import graft.plans.{Murmur3x64_128, Murmur3_128}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Byte-parity proof for the murmur3_128(seed=42) content hash
  * (Deduplicator.java:27-28) — validated against the published
  * SMHasher verification protocol, which exercises every tail length
  * (0..15) and 256 distinct seeds, with no Guava on the classpath.
  */
class Murmur3Spec extends AnyFunSuite {

  test("SMHasher verification value for MurmurHash3_x64_128 (0x6384BA69)") {
    // hash keys [0, 1, .., i-1] for i = 0..255 with seed 256 - i,
    // concatenate the 256 16-byte digests, hash that with seed 0;
    // the first four output bytes, read little-endian, must equal the
    // value published in SMHasher's main.cpp for MurmurHash3_x64_128
    val digests = new Array[Byte](256 * 16)
    val key = new Array[Byte](256)
    for (i <- 0 until 256) {
      key(i) = i.toByte
      val d = Murmur3x64_128.hashBytes(java.util.Arrays.copyOf(key, i), 256 - i)
      System.arraycopy(d, 0, digests, i * 16, 16)
    }
    val fin = Murmur3x64_128.hashBytes(digests, 0)
    val verification =
      (fin(0) & 0xff) | ((fin(1) & 0xff) << 8) | ((fin(2) & 0xff) << 16) | ((fin(3) & 0xff) << 24)
    assert(verification === 0x6384ba69,
      f"got 0x$verification%08x, want 0x6384ba69")
  }

  test("structural anchors: empty input, block boundaries, seed sensitivity") {
    // len = 0, seed = 0: both lanes start at 0 and nothing mixes in
    assert(Murmur3x64_128.hashBytes(Array.emptyByteArray, 0).forall(_ == 0))
    // seed matters (the reference pins 42 for cross-store stability)
    val payload = "{\"VP\":{\"veh\":123}}".getBytes("UTF-8")
    assert(!java.util.Arrays.equals(
      Murmur3x64_128.hashBytes(payload, 42), Murmur3x64_128.hashBytes(payload, 0)))
    // digests differ across every tail-length class around the 16-byte
    // block boundary (15/16/17 bytes share a 15-byte prefix)
    val h = (n: Int) => Murmur3x64_128.hashBytes(Array.tabulate(n)(_.toByte), 42).toSeq
    assert(Set(h(15), h(16), h(17)).size === 3)
  }

  test("a slice at a non-zero offset hashes as its copy, for every tail length") {
    val data = Array.tabulate(64)(i => (i * 37 + 11).toByte)
    for (len <- 16 to 31; off <- Seq(1, 3, 8, 13)) { // tail lengths 0..15 after one block
      val slice = java.util.Arrays.copyOfRange(data, off, off + len)
      assert(Murmur3x64_128.hashBytes(data, off, len, 42).toSeq ===
        Murmur3x64_128.hashBytes(slice, 42).toSeq, s"off=$off len=$len")
    }
    for (len <- 0 to 15)
      assert(Murmur3x64_128.hashBytes(data, 5, len, 42).toSeq ===
        Murmur3x64_128.hashBytes(java.util.Arrays.copyOfRange(data, 5, 5 + len), 42).toSeq)
  }

  test("expression matches the kernel through codegen, SQL, and null paths") {
    val spark = TestSpark.spark
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val direct = Murmur3x64_128.hashBytes("hello graft".getBytes("UTF-8"), 42)

    // Column API through a real (codegen'd) projection
    val viaCol = Seq("hello graft").toDF("s")
      .select(Murmur3_128(col("s").cast("binary"), 42).as("h"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(viaCol, direct))

    // SQL surface, default seed = 42 and explicit seed agree
    val viaSql = spark.sql(
      "SELECT murmur3_128(CAST('hello graft' AS BINARY)) AS h1, " +
        "murmur3_128(CAST('hello graft' AS BINARY), 42) AS h2")
      .collect()(0)
    assert(java.util.Arrays.equals(viaSql.getAs[Array[Byte]](0), direct))
    assert(java.util.Arrays.equals(viaSql.getAs[Array[Byte]](1), direct))

    // null propagates (no NPE inside generated code)
    val nullRow = Seq(Option.empty[Array[Byte]]).toDF("b")
      .select(Murmur3_128(col("b"), 42).as("h")).collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("HfpSource.contentHash128 keys formatting variants identically") {
    val spark = TestSpark.spark
    import spark.implicits._
    // same logical payload, different key order/whitespace → same
    // stored hash; different content → different hash
    val df = Seq(
      (1L, """{"VP":{"veh":7,"spd":3.0}}"""),
      (2L, """{ "VP" : {"spd":3.0,"veh":7} }"""),
      (3L, """{"VP":{"veh":8,"spd":3.0}}""")).toDF("id", "payload")
    val hashed = df.select(col("id"),
        hex(graft.sources.HfpSource.contentHash128).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hashed(1L) === hashed(2L))
    assert(hashed(1L) !== hashed(3L))
  }
}
