package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.types._

/** MurmurHash3 x64_128 — the reference's content-hash function
  * (Deduplicator.java:27-28: `Hashing.murmur3_128(SEED)` with the
  * pinned `SEED = 42`, chosen so hashes can live in external storage,
  * "f.ex Redis"). An engine claiming parity must reproduce those hash
  * VALUES byte-for-byte, not just have an equivalent 128-bit hash —
  * so this is the published MurmurHash3 x64_128 algorithm (Austin
  * Appleby, public domain) with Guava's observable conventions:
  *
  *  - the int seed initializes both 64-bit lanes via Java widening
  *    (sign-extension; identical to the C reference's zero-extension
  *    for any non-negative seed, including the reference's 42);
  *  - the 16 output bytes are h1 then h2, little-endian each — what
  *    Guava's `HashCode.asBytes()` returns and what the C reference
  *    writes on a little-endian machine.
  *
  * Verified in Murmur3Spec against the SMHasher verification protocol
  * (hash keys [0,1,..,i-1] for i = 0..255 with seed 256−i, hash the
  * concatenated digests with seed 0; first 4 LE bytes must equal the
  * published 0x6384BA69) — a full-algorithm check covering every tail
  * length and seed path with no Guava dependency.
  */
object Murmur3x64_128 {

  private val C1 = 0x87c37b91114253d5L
  private val C2 = 0x4cf5ad432745937fL

  private def getLongLE(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) |
      ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 3) & 0xffL) << 24) |
      ((b(i + 4) & 0xffL) << 32) |
      ((b(i + 5) & 0xffL) << 40) |
      ((b(i + 6) & 0xffL) << 48) |
      ((b(i + 7) & 0xffL) << 56)

  private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  /** The two 64-bit lanes (h1, h2) of `data(off until off + len)`, read in place. */
  def hash(data: Array[Byte], off: Int, len: Int, seed: Int): (Long, Long) = {
    import java.lang.Long.rotateLeft
    var h1 = seed.toLong // Guava: `this.h1 = seed` on a long field
    var h2 = seed.toLong
    val nblocks = len >>> 4
    var i = 0
    while (i < nblocks) {
      val base = off + (i << 4)
      var k1 = getLongLE(data, base)
      var k2 = getLongLE(data, base + 8)
      k1 *= C1; k1 = rotateLeft(k1, 31); k1 *= C2; h1 ^= k1
      h1 = rotateLeft(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= C2; k2 = rotateLeft(k2, 33); k2 *= C1; h2 ^= k2
      h2 = rotateLeft(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      i += 1
    }
    val tail = off + (nblocks << 4)
    val rem = len & 15
    if (rem > 8) {
      var k2 = 0L
      var j = rem - 1
      while (j >= 8) { k2 ^= (data(tail + j) & 0xffL) << ((j - 8) << 3); j -= 1 }
      k2 *= C2; k2 = rotateLeft(k2, 33); k2 *= C1; h2 ^= k2
    }
    if (rem >= 1) {
      var k1 = 0L
      var j = math.min(rem, 8) - 1
      while (j >= 0) { k1 ^= (data(tail + j) & 0xffL) << (j << 3); j -= 1 }
      k1 *= C1; k1 = rotateLeft(k1, 31); k1 *= C2; h1 ^= k1
    }
    h1 ^= len.toLong; h2 ^= len.toLong
    h1 += h2; h2 += h1
    h1 = fmix64(h1); h2 = fmix64(h2)
    h1 += h2; h2 += h1
    (h1, h2)
  }

  /** The 16 digest bytes in Guava `asBytes()` order (h1 LE, h2 LE). */
  def hashBytes(data: Array[Byte], seed: Int): Array[Byte] =
    hashBytes(data, 0, data.length, seed)

  /** The 16 digest bytes of `data(off until off + len)`, read in place. */
  def hashBytes(data: Array[Byte], off: Int, len: Int, seed: Int): Array[Byte] = {
    val (h1, h2) = hash(data, off, len, seed)
    val out = new Array[Byte](16)
    var i = 0
    while (i < 8) { out(i) = (h1 >>> (i << 3)).toByte; i += 1 }
    while (i < 16) { out(i) = (h2 >>> ((i - 8) << 3)).toByte; i += 1 }
    out
  }
}

/** Catalyst expression: murmur3_128(binary [, seed=42]) → 16-byte
  * binary digest. The hot loop is a static JVM method; codegen emits
  * a direct call, so the expression stays inside whole-stage codegen
  * (no boxing, no interpreted fallback).
  */
case class Murmur3_128(child: Expression, seed: Int = 42)
    extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"murmur3_128 needs a binary input, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    Murmur3x64_128.hashBytes(input.asInstanceOf[Array[Byte]], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Murmur3x64_128.hashBytes($c, $seed)")

  override protected def withNewChildInternal(newChild: Expression): Murmur3_128 =
    copy(child = newChild)
}

object Murmur3_128 {
  /** Column-API entry point: digest of a binary column. */
  def apply(c: Column, seed: Int): Column =
    GraftShim.column(Murmur3_128(GraftShim.expression(c), seed))

  def apply(c: Column): Column = apply(c, 42)
}
