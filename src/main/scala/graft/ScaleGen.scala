package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for the sf1 / sf10 soaks (VERDICT r4 item #5;
  * the second decade is VERDICT r7 item #4).
  *
  * Replicates the driver's sf0.1 fact tables `factor`× into a
  * larger-SF-shaped directory, preserving each replica's INTERNAL
  * duplicate/cluster/session structure while keeping replicas
  * mutually dissimilar — so near-dup cluster COUNT scales linearly
  * (like real corpus growth) instead of cluster SIZE scaling (which
  * would turn every in-cluster quadratic into a fake 100× blowup):
  *
  *  - keys (`doc_id`, `vec_id`, `event_id`, `user_id`, `o_orderkey`,
  *    `l_orderkey`) get a per-replica offset → disjoint key spaces;
  *  - `documents.text` goes through a per-replica AFFINE bijection
  *    of the ASCII letters (i → a·i + b mod 26, a coprime to 26;
  *    replica r < 26 gets a = 1 — exactly the old Caesar rotation,
  *    so sf1 outputs are unchanged — and 312 distinct maps cover a
  *    factor-100 run where bare rotations would collide and create
  *    fake cross-replica exact duplicates), then every token gets a
  *    per-replica PREFIX TAG (r ≥ 1; 2 letters up to factor 676, 3
  *    beyond — uniform width per corpus so tags can't alias):
  *    intra-replica
  *    shingle/minhash/simhash relations are isomorphic to the
  *    original, and cross-replica vocabularies are disjoint BY
  *    CONSTRUCTION — the length-preserving letter maps alone
  *    pigeonhole short tokens into colliding images, which inflated
  *    the factor-100 exact-pair soaks (VERDICT r8); charclass stays
  *    letters-only, lengths grow by tagLen chars/token (n_chars
  *    recomputed);
  *  - `embeddings.embedding` is cyclically rotated by 7·r dims and,
  *    past each full 64-dim rotation cycle, composed with a per-cycle
  *    sign pattern (cycle 1 negates; cycles ≥ 2 use Hadamard rows —
  *    any two patterns differ in exactly half the dims) — all
  *    norm-preserving isometries (intra-replica cosine geometry
  *    identical), while a vector and its transform are
  *    near-orthogonal for the synthetic distribution — replicas do
  *    not cross-match in cosine/IVF space;
  *  - `events.ts` stays the raw int64 nanos the driver wrote (read
  *    with the same legacy conf Tables.events uses), so the scaled
  *    directory honors the TIMESTAMP(NANOS) reader contract.
  *
  * Dimension tables (region/nation/customer/supplier/part) are
  * copied unchanged — fact-side scaling only, documented in
  * BASELINE.md alongside the soak numbers.
  */
object ScaleGen {
  private val Off = 100000000L // per-replica key offset, > any sf0.1 key

  def main(args: Array[String]): Unit = {
    val inDir  = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    // the replica transforms must stay collision-free: documents get
    // per-replica token tags (2 letters below 676 replicas, 3 letters
    // to 26³ — disjoint vocabularies by construction even where the
    // 312 affine maps repeat), and embeddings get (rotation, sign-
    // pattern) pairs unique for r < 64·64 = 4096 (shift = 7r mod 64
    // cycles all 64 residues, the Hadamard-row pattern advances every
    // 64). Past 4096 a repeated isometry would plant fake
    // cross-replica exact duplicates, corrupting every near-dup/
    // semantic soak at that SF. Fail loudly instead of generating a
    // corrupted corpus.
    require(factor <= 4096,
      s"factor $factor exceeds the 4096 distinct embedding isometries " +
        "— extend the transform families before scaling further")
    val spark = Session.local(32)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def in(name: String): DataFrame = spark.read.parquet(s"$inDir/$name.parquet")
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // dims: copy unchanged
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(in(t), t, 1))

    def replicate(name: String, parts: Int)(remap: (DataFrame, Int) => DataFrame): Unit = {
      val base = in(name)
      val all = (0 until factor).map(r => remap(base, r)).reduce(_ unionAll _)
      write(all, name, parts)
    }

    val lower = "abcdefghijklmnopqrstuvwxyz"
    // affine letter bijection i → a·i + b (mod 26): a drawn from the
    // units of Z26, b = r mod 26; r < 26 gives a = 1 = the original
    // Caesar rotation (sf1 outputs unchanged), 12·26 = 312 distinct
    // maps cover factor-100 runs without cross-replica collisions
    val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def affine(r: Int): String = {
      val a = units((r / 26) % units.length)
      val b = r % 26
      (0 until 26).map(i => lower((a * i + b) % 26)).mkString
    }
    val factParts = math.max(1, factor / 10)

    replicate("orders", 8 * factParts) { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(Off * r))
    }
    replicate("lineitem", 16 * factParts) { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(Off * r))
    }
    replicate("events", 16 * factParts) { (df, r) =>
      df.withColumn("event_id", col("event_id") + lit(Off * r))
        .withColumn("user_id", col("user_id") + lit(Off * r))
    }
    // Per-replica TOKEN TAG (r ≥ 1): two lowercase letters prefixed
    // onto every token after the affine letter map. The affine
    // bijections keep replica vocabularies distinct as WHOLE maps,
    // but they are length-preserving permutations of a 26-symbol
    // alphabet, so SHORT tokens pigeonhole: every replica's 1-char
    // vocabulary is exactly {a..z}, 2-3-char vocabularies overlap
    // heavily, and at factor 100 the cross-replica shingle collisions
    // inflated the exact-pair soak families (docs_jaccard_pairs /
    // containment / venn measured GBs of candidate join bytes that a
    // real disjoint-vocabulary corpus would not produce — VERDICT r8).
    // A tagLen-letter tag makes replica vocabularies disjoint BY
    // CONSTRUCTION (different tags → different leading chars) while
    // token equality within a replica — and hence every shingle/
    // minhash/simhash/cooc relation — stays isomorphic to the
    // original. Costs: +tagLen chars per token (n_chars is recomputed to
    // stay consistent) and marker-token language ID goes flat — which
    // the bare rotations already did for every r not ≡ 0 (mod 26),
    // since "the" rotates off the marker list. Replica 0 remains the
    // untouched original corpus.
    // tag width is UNIFORM per corpus (2 letters cover 676 replicas,
    // 3 cover 26³) — mixed widths could alias ("ba"+"xtok" ==
    // "bax"+"tok"), so a factor past 676 widens EVERY replica's tag
    val tagLen = if (factor <= 676) 2 else 3
    def tag(r: Int): String =
      (tagLen - 1 to 0 by -1).map(i =>
        lower((r / math.pow(26, i).toInt) % 26)).mkString

    replicate("documents", 8 * factParts) { (df, r) =>
      val mapped = translate(col("text"),
        lower + lower.toUpperCase,
        affine(r) + affine(r).toUpperCase)
      val text =
        if (r == 0) mapped
        else concat_ws(" ",
          transform(split(mapped, " "), t => concat(lit(tag(r)), t)))
      df.withColumn("doc_id", col("doc_id") + lit(Off * r))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    replicate("embeddings", 8 * factParts) { (df, r) =>
      val shift = (7 * r) % 64
      val rotated =
        if (shift == 0) col("embedding")
        else concat(
          slice(col("embedding"), shift + 1, 64 - shift),
          slice(col("embedding"), 1, shift))
      // past one full rotation cycle, compose a per-cycle SIGN
      // pattern — a norm-preserving isometry keeping replica pairs
      // (r, r+64k) from being exact duplicates. Cycle 1 negates
      // (byte-identical to the corpus the round-8 soaks recorded);
      // cycles ≥ 2 use Hadamard rows signs(i) = (−1)^popcount(q & i):
      // any two distinct patterns (and the identity/negation) differ
      // in exactly half the dims, so same-rotation replicas land
      // near-orthogonal instead of near-duplicate
      val q = r / 64
      val iso =
        if (q == 0) rotated
        else if (q == 1) transform(rotated, x => -x)
        else {
          val signs = (0 until 64).map(i =>
            if (java.lang.Integer.bitCount(q & i) % 2 == 0) 1.0f else -1.0f)
          zip_with(rotated, typedlit(signs), (x, s) => x * s)
        }
      df.withColumn("vec_id", col("vec_id") + lit(Off * r))
        .withColumn("embedding", iso)
    }

    println(s"""{"scalegen":"$outDir","factor":$factor}""")
    spark.stop()
  }
}
