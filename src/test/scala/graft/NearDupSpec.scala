package graft

import graft.operators.{Ann, NearDup}
import graft.functions.{HashFunctions => H}
import org.apache.spark.sql.functions._

class NearDupSpec extends SparkSpec {

  test("minhash-LSH pairs are a subset of exact jaccard pairs, with high recall") {
    val exact = NearDup.jaccardPairs(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = NearDup.minhashLshPairs(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH produced non-verified pairs: ${lsh -- exact}")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.8, s"LSH recall $recall too low (32x4 bands @ j>=0.5)")
    }
  }

  test("simhash band join finds EXACTLY the hamming<=3 pairs (pigeonhole completeness)") {
    val fp = NearDup.simhashFingerprints(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, fa) <- fp; (b, fb) <- fp if a < b
      if java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (a, b)).toSet
    val banded = NearDup.simhashPairs(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === brute)
  }

  test("ann_lsh neighbors are real corpus vectors with sane recall vs brute force") {
    val bf = Ann.annBruteForce(spark, sf).select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.annLsh(spark, sf).select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // multi-probe 8-bit LSH: not exact, but must overlap ground truth
    val recall = (lsh & bf).size.toDouble / bf.size
    assert(recall >= 0.2, s"ANN-LSH recall@5 $recall vs brute force")
  }

  test("ann_ivf probes nprobe/clusters of the corpus with sane recall vs brute force") {
    val bf = Ann.annBruteForce(spark, sf).select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.annIvf(spark, sf).select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & bf).size.toDouble / bf.size
    assert(recall >= 0.2, s"IVF recall@5 $recall vs brute force")
  }

  test("dedupGroups equals an in-memory union-find over the jaccard pairs") {
    val pairs = NearDup.jaccardPairs(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val docs = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    // independent oracle: classic union-find
    val parent = scala.collection.mutable.Map(docs.map(d => d -> d): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = docs.map(d => d -> {
      // group id = min member = root under min-union
      find(d)
    }).toMap
    val got = NearDup.dedupGroups(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
    // the log-round star rendering is a drop-in: identical labeling
    val star = NearDup.starComponents(Tables.documents(spark, sf).select("doc_id"),
        NearDup.minhashLshPairs(spark, sf).select("a_id", "b_id"))._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === expect)
  }

  test("contamination flags exactly the train docs sharing an 8-gram with the bench split") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(s: String) = {
      val t = s.split(" ", -1)
      if (t.length < 8) Set.empty[String] else t.sliding(8).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_._1 < 50).map { case (id, t) => id -> grams(t) }
    val expect = docs.filter(_._1 >= 50).flatMap { case (id, t) =>
      val g = grams(t)
      val hits = bench.filter { case (_, bg) => g.exists(bg) }
      if (hits.isEmpty) None
      else Some(id -> (g.count(s => bench.values.exists(_ (s))).toLong, hits.size.toLong))
    }
    val got = NearDup.docsContamination(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expect)
  }

  test("fingerprint-overlap pairs share at least minOverlap winnowed fingerprints") {
    val fps = graft.operators.TextAnalysis.textFingerprint(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = NearDup.fingerprintOverlapPairs(spark, sf, minOverlap = 5, maxDf = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (a, b, n) =>
      val shared = fps(a) & fps(b)
      assert(shared.size >= 5, s"pair ($a,$b) claims $n shared but full overlap is ${shared.size}")
      // the df-capped count can only be ≤ the raw overlap
      assert(n <= shared.size)
    }
  }

  test("containment pairs: every jaccard pair implies containment both ways at j>=0.5... directional check") {
    // containment(A,B) >= jaccard(A,B) always; and for the planted
    // near-dups (j >= 0.5 pairs) at threshold 0.8, the emitted pairs
    // must be a superset-per-direction of high-jaccard pairs
    val cont = NearDup.containmentPairs(spark, sf, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.nonEmpty)
    cont.foreach { case (_, _, c) => assert(c >= 0.8 && c <= 1.0) }
    // symmetric high-jaccard pairs (j >= 0.9) appear in both directions
    val highJ = NearDup.jaccardPairs(spark, sf).filter(col("jaccard") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val contSet = cont.map(t => (t._1, t._2)).toSet
    highJ.foreach { case (a, b) =>
      assert(contSet.contains((a, b)) && contSet.contains((b, a)),
        s"high-jaccard pair ($a,$b) missing from containment output")
    }
  }

  test("winnowed fingerprints: deterministic, shift-invariant selection") {
    val a = H.winnowedFingerprints("the quick brown fox jumps over the lazy dog", 7, 4)
    val b = H.winnowedFingerprints("the quick brown fox jumps over the lazy dog", 7, 4)
    assert(a.sameElements(b))
    assert(a.nonEmpty && a.sorted.sameElements(a))
    // identical substring in a different context shares fingerprints
    val c = H.winnowedFingerprints("XXXX the quick brown fox jumps over the lazy dog YYYY", 7, 4)
    assert((a.toSet & c.toSet).nonEmpty)
    assert(H.winnowedFingerprints("short", 7, 4).isEmpty)
  }

  test("exact dedup groups all copies under one hash") {
    val n = Tables.documents(spark, sf).count()
    val d = NearDup.docsDedupExact(spark, sf)
    assert(d.agg(sum("n_copies")).collect()(0).getLong(0) === n)
  }
}
