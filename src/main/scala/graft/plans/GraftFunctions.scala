package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, BitwiseAnd, BitwiseOr, Cast, Divide, Expression, Literal, Multiply, NullIf, ShiftLeft, ShiftRight, Size, Sqrt}
import org.apache.spark.sql.types.DoubleType

/** SQL-surface registration of graft's custom Catalyst kernels, so
  * `spark.sql("SELECT vec_dot(a, b) ...")` works alongside the
  * Column API:
  *
  *  - `vec_dot(a, b)`        — codegen'd double dot product
  *  - `vec_l2sq(a, b)`       — codegen'd exact int64 squared L2
  *                             distance (the fixed-point k-means
  *                             kernel)
  *  - `word_shingles(s, k)`  — distinct word k-shingles
  *  - `jaccard_sim(a, b)`    — exact set Jaccard of string arrays
  *  - `cosine_sim(a, b)`     — cosine similarity (VecDot-composed,
  *                             null on zero norm)
  *  - `containment_sim(a, b)` — |a∩b| / |a| directional containment
  *  - `murmur3_128(bin [, seed])` — the reference's pinned-seed
  *    content hash (seed defaults to 42, Deduplicator.java:27-28)
  *  - `block_hash(bin)` — 4×16-bit blockhash perceptual-fingerprint
  *    bands (the mm_phash kernel, SQL-driven)
  *  - `audio_fp(bin)` — 4×16-bit chromaprint-shaped audio
  *    fingerprint bands (the mm_audio_fp kernel, SQL-driven)
  *
  * One entry point: [[GraftFunctions.register]] installs them into a
  * running session as temp functions.
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> { args => VecDot(args(0), args(1)) },
    "vec_l2sq" -> { args => VecL2Sq(args(0), args(1)) },
    "vec_floor_scale" -> { args =>
      VecFloorScale(args(0), intArg(args(1), "vec_floor_scale scale")) },
    "word_shingles" -> { args => WordShingles(args(0), intArg(args(1), "word_shingles k")) },
    "jaccard_sim" -> { args => JaccardSim(args(0), args(1)) },
    // composed from codegen'd pieces — stays inside whole-stage
    // codegen like the kernels it builds on
    "cosine_sim" -> { args =>
      val dot = VecDot(args(0), args(1))
      val denom = Multiply(Sqrt(VecDot(args(0), args(0))),
        Sqrt(VecDot(args(1), args(1))))
      new Divide(dot, new NullIf(denom, Literal(0.0)))
    },
    "containment_sim" -> { args =>
      val inter = Cast(Size(ArrayIntersect(args(0), args(1))), DoubleType)
      val na = Cast(Size(args(0)), DoubleType)
      new Divide(inter, new NullIf(na, Literal(0.0)))
    },
    "murmur3_128" -> { args =>
      val seed = if (args.length > 1) intArg(args(1), "murmur3_128 seed") else 42
      Murmur3_128(args(0), seed)
    },
    "block_hash" -> { args => BlockHash(args(0)) },
    "audio_fp" -> { args => AudioFpExpr(args(0)) },
    // z_value(a, b[, bits]): keys are masked to [0, 2^bits) — see
    // zValueExpr's domain contract (out-of-range/negative keys alias
    // deterministically; pruning quality, not correctness, degrades)
    "z_value" -> { args =>
      val bits = if (args.length > 2) intArg(args(2), "z_value bits") else 21
      zValueExpr(args(0), args(1), bits)
    })

  /** Morton bit-interleave of two int64 keys as a pure
    * shift/and/or expression tree (codegen'd end-to-end) — shared by
    * the SQL `z_value` function and `GraftSink.zValue`'s Column API.
    *
    * Domain contract: keys are interleaved from their LOW `bits`
    * bits, masked explicitly to [0, 2^bits). A key outside that
    * range (wider, or negative — whose sign extension would
    * otherwise leak 1-bits through ShiftRight and mis-order the
    * curve) aliases DETERMINISTICALLY onto its masked value: scan
    * results stay correct (data filters still apply), only the
    * footer-stat pruning quality degrades for the aliased range, and
    * the masking keeps ordering consistent instead of sign-flipped.
    * Callers with wider domains should pre-scale (e.g. epoch-day
    * rather than epoch-ms) or raise `bits`.
    */
  def zValueExpr(a: Expression, b: Expression, bits: Int): Expression = {
    require(bits >= 1 && bits <= 31, "z_value bits per key must be in [1, 31]")
    val mask = (1L << bits) - 1
    def longE(e: Expression) =
      BitwiseAnd(Cast(e, org.apache.spark.sql.types.LongType), Literal(mask))
    (0 until bits).map { i =>
      val ab = ShiftLeft(BitwiseAnd(ShiftRight(longE(a), Literal(i)), Literal(1L)),
        Literal(2 * i + 1))
      val bb = ShiftLeft(BitwiseAnd(ShiftRight(longE(b), Literal(i)), Literal(1L)),
        Literal(2 * i))
      BitwiseOr(ab, bb): Expression
    }.reduce((x, y) => BitwiseOr(x, y))
  }

  /** Register on a live session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
