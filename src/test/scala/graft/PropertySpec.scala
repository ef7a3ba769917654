package graft

import graft.functions.{HashFunctions => H, MinHashSigAgg}
import graft.streaming.DedupStream
import graft.streaming.DedupStream.Ev
import org.apache.spark.sql.functions._

/** Fixed-seed randomized properties for the sketch/dedup kernels. */
class PropertySpec extends SparkSpec {

  private val rnd = new scala.util.Random(42)

  private def randEvents(n: Int, keys: Int, spanMs: Long): Seq[Ev] =
    (0 until n).map { i =>
      Ev(i.toLong, new java.sql.Timestamp(1700000000000L + rnd.nextLong(spanMs)),
        rnd.nextInt(keys).toLong, "x", 1.0, "{}")
    }

  test("chainPrimes: primes within a key are always > ttl apart, and rerun is a fixpoint") {
    for (_ <- 1 to 25) {
      val ttl = 1000L + rnd.nextInt(5000)
      val evs = randEvents(200, 5, 60000L)
      evs.groupBy(DedupStream.contentKeyOf).values.foreach { g =>
        val (primes, _) = DedupStream.chainPrimes(g, ttl, None)
        val times = primes.map(_.ts.getTime)
        times.sliding(2).foreach {
          case Seq(a, b) => assert(b - a > ttl, s"primes $a,$b within ttl $ttl")
          case _ =>
        }
        // primes are already >ttl apart → dedup of primes = primes
        val (again, _) = DedupStream.chainPrimes(primes, ttl, None)
        assert(again.map(_.event_id) === primes.map(_.event_id))
      }
    }
  }

  test("correlate (batch plan) equals the brute-force interval join on random events, ties included") {
    import spark.implicits._
    for (_ <- 1 to 8) {
      val within = 1000L + rnd.nextInt(5000)
      val prim = randEvents(40, 4, 20000L)
      val sec = randEvents(40, 4, 20000L).map(e => e.copy(event_id = e.event_id + 1000))
      val got = DedupStream.correlate(prim.toDF(), sec.toDF(), withinMs = within)
        .select("a_event_id", "b_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = (for {
        a <- prim; b <- sec
        if a.user_id == b.user_id &&
          math.abs(b.ts.getTime - a.ts.getTime) <= within
      } yield (a.event_id, b.event_id)).toSet
      assert(got === expect)
    }
  }

  test("spaceSavingStep invariants: size <= k, counts bound truth, heavy items guaranteed") {
    for (_ <- 1 to 50) {
      val k = 2 + rnd.nextInt(6)
      val n = 100 + rnd.nextInt(400)
      // Zipf-ish item draw over a vocabulary larger than k
      val vocab = (0 until k * 4).map(i => s"w$i")
      val stream = (0 until n).map { _ =>
        vocab(math.min(rnd.nextInt(vocab.size), rnd.nextInt(vocab.size)))
      }
      val m = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
      stream.foreach(x => DedupStream.spaceSavingStep(m, x, k))
      val exact = stream.groupBy(identity).view.mapValues(_.length.toLong).toMap
      assert(m.size <= k)
      // every tracked item: true <= count, count - err <= true
      m.foreach { case (it, (c, e)) =>
        val t = exact.getOrElse(it, 0L)
        assert(c >= t && c - e <= t, s"item $it count $c err $e true $t (k=$k)")
      }
      // the guarantee: any item with true count > n/k must be tracked
      exact.foreach { case (it, t) =>
        if (t > n.toLong / k) assert(m.contains(it), s"heavy $it ($t > $n/$k) evicted")
      }
      // total counted mass is exactly the stream length (SpaceSaving
      // conserves increments: every arrival bumps exactly one counter)
      assert(m.values.map(_._1).sum === n.toLong)
    }
  }

  test("LruWalker invariants: size <= cap, prime iff absent or expired, " +
    "a duplicate keeps its write time, the arrival is the most recent entry") {
    // its own generator, so the shared one's draws for later tests stay put
    val r = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val cap = 1 + r.nextInt(6)
      val ttl = 1000L + r.nextInt(5000)
      val keys = cap * 3
      val w = new DedupStream.LruWalker(ttl, cap, Nil)
      var t = 1700000000000L
      // arrivals in ts order, the order the operator walks, ties included
      (1L to 100L + r.nextInt(400)).foreach { _ =>
        t += r.nextInt(500)
        val key = s"k${math.min(r.nextInt(keys), r.nextInt(keys))}"
        val before = w.entries.toMap.get(key)
        val prime = w.admit(key, t)
        val after = w.entries
        assert(prime === before.forall(p => t - p > ttl),
          s"$key at $t: prime=$prime with entry $before (ttl $ttl)")
        assert(after.size <= cap, s"${after.size} entries over cap $cap")
        if (prime) assert(after.last === ((key, t)))
        else assert(after.last === ((key, before.get)), s"duplicate $key moved its write time")
      }
    }
  }

  /** The access-clock LRU step the [[DedupStream.LruWalker]] replaced
    * (entries: content key → (primeTsMs, lastAccessSeq)), kept verbatim
    * as the walker's differential oracle.
    */
  private def lruDedupStep(m: scala.collection.mutable.HashMap[String, (Long, Long)],
                           key: String, tsMs: Long, ttlMs: Long, cap: Int, seq: Long): Boolean =
    m.get(key) match {
      case Some((p, _)) if tsMs - p <= ttlMs =>
        m(key) = (p, seq) // recency refresh only
        false
      case _ =>
        m(key) = (tsMs, seq)
        if (m.size > cap) {
          val expired = m.iterator
            .collect { case (k2, (p2, _)) if k2 != key && tsMs - p2 > ttlMs => k2 }
            .toSeq
          m --= expired
          while (m.size > cap) {
            val (lk, _) = m.minBy { case (_, (_, s)) => s }
            m.remove(lk)
          }
        }
        true
    }

  test("LruWalker agrees with the access-clock LRU step on every arrival, " +
    "across out-of-order timestamps and reloads from its entries") {
    val r = new scala.util.Random(11)
    for (_ <- 1 to 300) {
      val cap = 1 + r.nextInt(6)
      val ttl = 1000L + r.nextInt(5000)
      val keys = cap * 3
      val oracle = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
      var w = new DedupStream.LruWalker(ttl, cap, Nil)
      var t = 1700000000000L
      (1L to 100L + r.nextInt(400)).foreach { seq =>
        // a trigger boundary: the segment is stored as its entries and reloaded
        if (r.nextInt(8) == 0) w = new DedupStream.LruWalker(ttl, cap, w.entries)
        // mostly forward, with steps back past the ttl now and then
        t += (if (r.nextInt(10) == 0) -r.nextInt(2 * ttl.toInt) else r.nextInt(800) - 200)
        val key = s"k${math.min(r.nextInt(keys), r.nextInt(keys))}"
        val prime = w.admit(key, t)
        assert(prime === lruDedupStep(oracle, key, t, ttl, cap, seq),
          s"$key at $t (arrival $seq, cap $cap, ttl $ttl)")
        assert(w.entries === oracle.toSeq.sortBy(_._2._2).map { case (k, (p, _)) => (k, p) },
          s"entries after arrival $seq (cap $cap, ttl $ttl)")
      }
    }
  }

  test("cache segments: 300k content keys spread within 1.1x the mean over 32 segments") {
    val counts = new Array[Int](32)
    (0 until 300000).foreach { i =>
      val key = DedupStream.contentKeyOf(
        Ev(i.toLong, new java.sql.Timestamp(0L), i.toLong, "x", 1.0, "{}"))
      counts(DedupStream.segmentOf(key, 32)) += 1
    }
    val skew = counts.max / (300000.0 / 32)
    assert(skew <= 1.1, s"fullest segment holds ${counts.max} keys, ${skew}x the mean")
  }

  test("winnowedFingerprints: every fingerprint is a real window hash; count bounded") {
    for (_ <- 1 to 25) {
      val len = 10 + rnd.nextInt(200)
      val s = (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      val k = 5; val w = 3
      val fps = H.winnowedFingerprints(s, k, w)
      // recompute all window hashes naively
      val all = (0 to s.length - k).map { i =>
        s.substring(i, i + k).foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
      }.toSet
      assert(fps.toSet.subsetOf(all))
      assert(fps.length <= math.max(0, s.length - k + 1))
      assert(fps.sorted.sameElements(fps))
    }
  }

  test("overlap spans equal brute-force longest common token runs on random near-dups") {
    import graft.operators.NearDup
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val k = 8
    for (round <- 1 to 5) {
      // bench docs + trains built by splicing bench spans into noise,
      // so real shared runs exist at known-ish lengths
      val vocab = (0 until 30).map(i => s"w$i")
      def words(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
      val bench = (0L until 3L).map(i => i -> words(40 + rnd.nextInt(40)))
      val train = (50L until 56L).map { i =>
        val src = bench(rnd.nextInt(bench.size))._2
        val st = rnd.nextInt(math.max(1, src.length - 15))
        val span = src.slice(st, st + 10 + rnd.nextInt(10))
        i -> (words(10 + rnd.nextInt(10)) ++ span ++ words(10))
      }
      val all = bench ++ train
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(all.map { case (id, t) =>
          Row(id, t.mkString(" "), "en", "src0", t.mkString(" ").length.toLong) }),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType))))
      val dir = s"/tmp/graft_spans_prop_$round"
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = NearDup.docsOverlapSpans(spark, dir, benchBound = 50, k = k, minRun = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      // brute force: longest common contiguous token run per pair
      val expect = (for {
        (aId, aT) <- train; (bId, bT) <- bench
        best = (for {
          i <- aT.indices; j <- bT.indices
          if aT(i) == bT(j) && (i == 0 || j == 0 || aT(i - 1) != bT(j - 1))
        } yield Iterator.from(0)
          .takeWhile(d => i + d < aT.length && j + d < bT.length && aT(i + d) == bT(j + d))
          .size).foldLeft(0)(math.max)
        if best >= k + 2 // run of >=3 shingles == k+2 tokens
      } yield (aId, bId) -> best.toLong).toMap
      assert(got.keySet === expect.keySet, s"round $round pair set")
      got.foreach { case (pair, toks) => assert(toks === expect(pair), s"round $round $pair") }
    }
  }

  test("interval sweep peak equals brute force on random timelines") {
    import graft.operators.Relational
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val win = 1800000L
    for (round <- 1 to 5) {
      val base = 1700000000000L
      // ts written as NANOS-in-long — the wire shape Tables.events reads
      val rows = (0 until 300).map { i =>
        Row(i.toLong, (base + rnd.nextLong(4 * win)) * 1000000L,
          rnd.nextInt(3).toLong, s"t${rnd.nextInt(3)}", rnd.nextDouble() * 100, "{}")
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows),
        StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType))))
      val dir = s"/tmp/graft_sweep_prop_$round"
      df.write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = Relational.qIntervalOverlap(spark, dir, win).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val ev = rows.map(r => (r.getString(3), r.getLong(1) / 1000000L))
      val expect = ev.groupBy(_._1).map { case (et, rs) =>
        val ts = rs.map(_._2)
        val conc = ts.map(t => t -> ts.count(s => s > t - win && s <= t))
        val peak = conc.map(_._2).max
        et -> (peak.toLong, conc.filter(_._2 == peak).map(_._1).min)
      }
      assert(got === expect, s"round $round")
    }
  }

  test("minhash signature agreement estimates jaccard") {
    val agg = new MinHashSigAgg(128)
    def sig(tokens: Seq[String]): Array[Long] = {
      val buf = agg.zero
      tokens.foreach { t =>
        // same 64-bit input hashing as the operator (xxhash64 of the string)
        agg.reduce(buf, t.hashCode.toLong * 2654435761L) // any 64-bit spread works for the estimate property
      }
      buf
    }
    for (_ <- 1 to 10) {
      val base = (0 until 200).map(i => s"tok$i-${rnd.nextInt(1000000)}")
      val keep = rnd.nextInt(150) + 25
      val a = base
      val b = base.take(keep) ++ (0 until (200 - keep)).map(i => s"other$i-${rnd.nextInt(1000000)}")
      val trueJac = (a.toSet & b.toSet).size.toDouble / (a.toSet | b.toSet).size
      val sa = sig(a); val sb = sig(b)
      val est = sa.zip(sb).count { case (x, y) => x == y } / 128.0
      assert(math.abs(est - trueJac) < 0.2, s"est $est vs true $trueJac")
    }
  }

  test("CanonicalJson: idempotent, order-insensitive, injective on distinct content") {
    import spark.implicits._
    def randJson(depth: Int): String = {
      val n = 1 + rnd.nextInt(4)
      val fields = (0 until n).map { i =>
        val k = s"k${rnd.nextInt(6)}"
        val v =
          if (depth > 0 && rnd.nextBoolean()) randJson(depth - 1)
          else if (rnd.nextBoolean()) rnd.nextInt(100).toString
          else "\"s" + rnd.nextInt(100) + "\""
        s""""$k": $v"""
      }
      fields.mkString("{", ", ", "}")
    }
    val docs = (0 until 40).map(_ => randJson(2))
    val canon = (s: Seq[String]) => s.toDF("j")
      .select(graft.plans.CanonicalJson(col("j")).as("c"))
      .collect().map(_.getString(0)).toSeq
    val c1 = canon(docs)
    // idempotence: canonicalizing a canonical form is a no-op
    assert(canon(c1) === c1)
    // whitespace insensitivity
    val spaced = docs.map(_.replace(",", " ,  "))
    assert(canon(spaced) === c1)
  }

  test("block-pair cosine dedup equals the naive all-pairs filter (every block count)") {
    // brute force over the real table vs the partitioned operator
    val brute = {
      val e = Tables.embeddings(spark, sf)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      (for {
        (ia, va) <- e; (ib, vb) <- e if ia < ib
        dot = va.zip(vb).map { case (x, y) => x * y }.sum
        na = math.sqrt(va.map(x => x * x).sum); nb = math.sqrt(vb.map(x => x * x).sum)
        sim = dot / (na * nb) if sim >= 0.4
      } yield (ia, ib)).toSet
    }
    for (blocks <- Seq(1, 7, 32)) {
      val got = graft.operators.NearDup.embCosineDedup(spark, sf, blocks = blocks)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === brute, s"blocks=$blocks")
    }
  }

  test("bucketed range join equals the naive theta-join on random timelines") {
    import spark.implicits._
    for (_ <- 1 to 5) {
      val w = 500L + rnd.nextInt(2000)
      val left = (0 until 60).map(i => (i.toLong, rnd.nextLong(100000L)))
      val right = (0 until 200).map(_ => rnd.nextLong(100000L))
      val mkTs = (t: Long) => new java.sql.Timestamp(1700000000000L + t)
      val lDf = left.map { case (id, t) => (id, mkTs(t)) }.toDF("id", "ts")
      val rDf = right.map(t => Tuple1(mkTs(t))).toDF("ts")
      val got = graft.operators.RangeJoin.countInWindow(lDf, rDf, "id", w)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = left.map { case (id, t) =>
        id -> right.count(rt => rt >= t - w && rt <= t).toLong
      }.toMap
      assert(got === expect, s"window=$w")
    }
  }

  test("starComponents: log rounds on a chain, labels = min-reachable, matches union-find on random graphs") {
    import spark.implicits._
    // diameter-20 chain 0-1-…-20: min-label needs `diameter` rounds;
    // star alternation must flatten it in ≤ 2·log₂(n) + 2 rounds
    val n = 21
    val chain = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    val nodes = (0L until n.toLong).toDF("doc_id")
    val (labels, rounds) = graft.operators.NearDup.starComponents(nodes, chain)
    assert(labels.collect().forall(_.getLong(1) == 0L))
    val bound = 2 * (math.log(n) / math.log(2)).ceil.toInt + 2
    assert(rounds <= bound, s"chain of diameter ${n - 1} took $rounds rounds (> $bound)")
    assert(rounds < n - 1, "no better than min-label propagation")

    // random sparse graphs: labels must equal a sequential union-find
    for (trial <- 0 until 3) {
      val nn = 40
      val edges = (0 until 30).map(_ => (rnd.nextInt(nn).toLong, rnd.nextInt(nn).toLong))
      val uf = Array.tabulate(nn)(identity)
      def find(x: Int): Int = if (uf(x) == x) x else { uf(x) = find(uf(x)); uf(x) }
      edges.foreach { case (a, b) => uf(find(a.toInt)) = find(b.toInt) }
      val roots = (0 until nn).groupBy(find).values
        .flatMap(c => c.map(_.toLong -> c.min.toLong)).toMap
      val (got, _) = graft.operators.NearDup.starComponents(
        (0L until nn.toLong).toDF("doc_id"), edges.toDF("src", "dst"))
      val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotMap === roots, s"trial $trial")
    }
  }

  test("double-space single-pass replace IS greedy BPE merging on adversarial runs") {
    // the textBpeMerges re-segmentation claim, attacked directly at
    // the string level: tiny alphabets maximize back-to-back and
    // self-overlapping (l = r) occurrence runs — exactly where a
    // consuming scan over SINGLE-space separators goes wrong (it
    // merged six 'a's only twice; this test found that). With a
    // DOUBLE space between symbols each separator donates a boundary
    // space to both neighboring occurrences, so one consuming
    // non-overlapping pass takes every greedy match. Plain
    // String.replace has the same literal left-to-right consuming
    // semantics as Spark's and DuckDB's replace().
    def greedy(word: Vector[String], l: String, r: String): Vector[String] = {
      val b = Vector.newBuilder[String]; var i = 0
      while (i < word.length) {
        if (i + 1 < word.length && word(i) == l && word(i + 1) == r) { b += (l + r); i += 2 }
        else { b += word(i); i += 1 }
      }
      b.result()
    }
    val alphabets = Seq(Seq("a"), Seq("a", "b"), Seq("a", "b", "c"), Seq("ab", "a", "b"))
    for (trial <- 0 until 2000) {
      val alpha = alphabets(rnd.nextInt(alphabets.length))
      val word = Vector.fill(1 + rnd.nextInt(12))(alpha(rnd.nextInt(alpha.length)))
      val l = alpha(rnd.nextInt(alpha.length)); val r = alpha(rnd.nextInt(alpha.length))
      val spaced = word.mkString(" ", "  ", " ")
      val merged = spaced.replace(s" $l  $r ", s" $l$r ")
      val got = merged.trim.split("  ").toVector
      val expect = greedy(word, l, r)
      assert(got === expect,
        s"trial $trial: word=$word merge=($l,$r) got=$got expect=$expect")
    }
  }

  test("PPJoin+ filters are exact: jaccard/containment == brute force on random corpora, salted included") {
    import spark.implicits._
    // synthetic corpora with real overlap structure: a few templates,
    // each instantiated with word-level mutations, plus noise docs
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def randDoc(n: Int): Seq[String] = Seq.fill(n)(words(rnd.nextInt(words.length)))
    def mutate(base: Seq[String], edits: Int): Seq[String] =
      (0 until edits).foldLeft(base) { (d, _) =>
        d.updated(rnd.nextInt(d.length), words(rnd.nextInt(words.length)))
      }
    def shingles(toks: Seq[String]) =
      if (toks.length < 3) Set.empty[String] else toks.sliding(3).map(_.mkString(" ")).toSet

    for (trial <- 0 until 2) {
      val templates = Seq.fill(4)(randDoc(12 + rnd.nextInt(20)))
      val docs = (templates.zipWithIndex.flatMap { case (t, i) =>
        Seq.tabulate(3)(j => (i * 10L + j, mutate(t, rnd.nextInt(4)).mkString(" ")))
      } ++ Seq.tabulate(8)(i => (100L + i, randDoc(8 + rnd.nextInt(15)).mkString(" "))))
      val df = docs.toDF("doc_id", "text")
      val sets = docs.map { case (id, t) => id -> shingles(t.split(" ", -1).toSeq) }
        .filter(_._2.nonEmpty).toMap

      // fixed thresholds + randomized RATIONALS k/d (d ≤ 12): rational
      // t makes t·n / t·(na+nb) land on exact integers often, which is
      // precisely the boundary where a naively-rounded prune could get
      // one-too-tight (the ADVICE double-rounding concern) — drawing
      // them at random sweeps boundaries the fixed set never hits
      val randTs = Seq.fill(3) {
        val d = 3 + rnd.nextInt(10)
        val k = 1 + rnd.nextInt(d - 1)
        k.toDouble / d
      }
      for (t <- Seq(0.3, 0.5, 0.8) ++ randTs) {
        val gotJ = graft.operators.NearDup.jaccardPairsOn(df, t)
          .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val expJ = (for {
          (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
          j = sa.intersect(sb).size.toDouble / sa.union(sb).size
          if j >= t
        } yield (a, b)).toSet
        assert(gotJ === expJ, s"trial $trial jaccard t=$t")
      }
      for (t <- Seq(0.6, 0.8) ++ randTs.take(1); (hotDf, salts) <- Seq((1024, 16), (1, 4))) {
        // (hotDf=1, salts=4) forces EVERY index key through salting —
        // exactness must be unaffected
        val gotC = graft.operators.NearDup.containmentPairsOn(df, t, hotDf, salts)
          .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val expC = (for {
          (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a != b
          c = sa.intersect(sb).size.toDouble / sa.size
          if c >= t
        } yield (a, b)).toSet
        assert(gotC === expC, s"trial $trial containment t=$t hotDf=$hotDf")
      }
    }
  }

  test("PPJoin+ prunes admit pairs EXACTLY at the threshold (t·n an exact integer)") {
    import spark.implicits._
    // jaccard boundary: A,B with 3 shingles each sharing exactly 2 →
    // j = 2/(3+3-2) = 0.5 exactly, and t·(na+nb) = 0.5·6 = 3.0 is an
    // exact integer — the case where a naively-rounded ⌈t·n⌉ prefix or
    // α bound can come out one too tight and silently drop the pair
    val jdf = Seq(
      (1L, "a b c d e"), // shingles: abc bcd cde
      (2L, "a b c d f"), // shingles: abc bcd cdf → ∩=2, ∪=4
      (3L, "q r s t u")  // noise
    ).toDF("doc_id", "text")
    val gotJ = graft.operators.NearDup.jaccardPairsOn(jdf, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotJ === Set((1L, 2L)))

    // containment boundary: |A| = 5 shingles, 4 shared → c = 0.8
    // exactly, with t·|A| = 0.8·5 = 4.0 an exact integer
    val cdf = Seq(
      (1L, "a b c d e f g"), // shingles: abc bcd cde def efg (5)
      (2L, "a b c d e f x y z"), // shares abc bcd cde def → c(A in B) = 4/5
      (3L, "m n o p q")
    ).toDF("doc_id", "text")
    for ((hotDf, salts) <- Seq((1024, 16), (1, 4))) {
      val gotC = graft.operators.NearDup.containmentPairsOn(cdf, 0.8, hotDf, salts)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // (1,2) sits exactly at 0.8; the reverse is 4/7 < 0.8
      assert(gotC === Set((1L, 2L)), s"boundary containment wrong (hotDf=$hotDf)")
    }
  }

  test("GramAgg: partition-split merges equal the single-pass fold, any split") {
    val agg = new graft.functions.GramAgg(8)
    for (_ <- 1 to 20) {
      val rows = Seq.fill(30)(Array.fill(8)(rnd.nextInt(255).toLong - 127))
      val whole = rows.foldLeft(agg.zero)(agg.reduce)
      val cut = 1 + rnd.nextInt(28)
      val (l, r) = rows.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(merged.toSeq === whole.toSeq)
      // diagonal cells are sums of squares
      for (i <- 0 until 8) assert(whole(i * 8 + i) >= 0L)
      // symmetry is implicit: only j ≥ i cells populated
      for (i <- 0 until 8; j <- 0 until i) assert(whole(i * 8 + j) === 0L)
    }
  }

  test("MinHashSig: coefficients in range, signatures permutation-invariant and monotone under union") {
    import graft.functions.MinHashSig
    for (i <- 0 until MinHashSig.PERMS) {
      val (a, b) = MinHashSig.coeff(i)
      assert(a >= 1 && a < MinHashSig.P && b >= 0 && b < MinHashSig.P)
    }
    // the long-arithmetic Mersenne reduction equals BigInt exactly
    for (_ <- 1 to 500) {
      val a = (rnd.nextLong() >>> 3) % MinHashSig.P
      val h = (rnd.nextLong() >>> 3) % MinHashSig.P
      assert(MinHashSig.mulMod(a, h) ===
        ((BigInt(a) * h) mod BigInt(MinHashSig.P)).toLong)
    }
    assert(MinHashSig.mulMod(MinHashSig.P - 1, MinHashSig.P - 1) ===
      ((BigInt(MinHashSig.P - 1) * (MinHashSig.P - 1)) mod BigInt(MinHashSig.P)).toLong)
    def sig(hs: Seq[Long], i: Int): Long = {
      val (a, b) = MinHashSig.coeff(i)
      hs.map(h => ((BigInt(a) * h + b) mod BigInt(MinHashSig.P)).toLong).min
    }
    for (_ <- 1 to 20) {
      val hs = Seq.fill(50)(rnd.nextLong() >>> 4)
      val shuffled = rnd.shuffle(hs)
      val extra = hs ++ Seq.fill(10)(rnd.nextLong() >>> 4)
      for (i <- 0 until 4) {
        assert(sig(hs, i) === sig(shuffled, i)) // set function, not sequence
        assert(sig(extra, i) <= sig(hs, i))     // min is monotone under union
      }
    }
  }

  test("blockhash: exact dups collide, band flips bounded by touched blocks") {
    import graft.operators.Multimodal
    for (_ <- 1 to 20) {
      val n = 64 + rnd.nextInt(600)
      val base = Array.fill(n)(rnd.nextInt(256).toByte)
      assert(Multimodal.blockhash(base.clone()).toSeq === Multimodal.blockhash(base).toSeq)
      // perturb k consecutive bytes: at most the touched blocks plus
      // global-mean drift can flip — bits changed is ≤ 64 trivially,
      // but a single-block edit keeps the untouched-block sums equal
      val at = rnd.nextInt(n)
      val mut = base.clone(); mut(at) = (mut(at) + 97).toByte
      val (b1, b2) = (Multimodal.blockhash(base), Multimodal.blockhash(mut))
      val flips = (0 until 4).map(k => Integer.bitCount(b1(k) ^ b2(k))).sum
      assert(flips <= 64)
      assert(b2.forall(v => v >= 0 && v <= 0xFFFF))
    }
  }

  test("VecDot equals a naive sequential double fold, bit-exactly") {
    import spark.implicits._
    val data = (0 until 50).map { _ =>
      ((0 until 64).map(_ => rnd.nextFloat() * 2 - 1).toArray,
        (0 until 64).map(_ => rnd.nextFloat() * 2 - 1).toArray)
    }
    val df = data.toDF("a", "b")
      .select(graft.plans.VecDot(col("a"), col("b")).as("d"))
    val got = df.collect().map(_.getDouble(0))
    val expect = data.map { case (a, b) =>
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
    }
    got.zip(expect).foreach { case (g, e) => assert(g === e) }
  }

  test("asOf and asOfNearest equal brute force on random data (ties included)") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    for (trial <- 1 to 8) {
      // SMALL time range on purpose: equal timestamps (left-left,
      // left-right, right-right) occur constantly — the tie rules are
      // where a carry implementation silently diverges
      val nKeys = 1 + rnd.nextInt(4)
      val lefts = (0 until 40).map(i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(25).toLong, 1000L + i))
      val rights = (0 until 30).map(i =>
        (rnd.nextInt(nKeys + 1).toLong, rnd.nextInt(25).toLong, 2000L + i))
      val l = lefts.toDF("k", "t", "lid")
      val r = rights.toDF("k", "t", "rid")

      val gotAsOf = AsOfJoin.asOf(l, r, "k", "t", "lid", "rid").collect()
        .map(x => x.getLong(0) -> (if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
      lefts.foreach { case (k, t, lid) =>
        // brute force: right rows at-or-before t, latest time, max rid
        val cand = rights.filter(rr => rr._1 == k && rr._2 <= t)
        val exp = if (cand.isEmpty) -1L
          else cand.maxBy(rr => (rr._2, rr._3))._3
        assert(gotAsOf(lid) === exp, s"trial $trial asOf lid $lid")
      }

      val gotNear = AsOfJoin.asOfNearest(l, r, "k", "t", "lid", "rid").collect()
        .map(x => x.getLong(0) -> ((if (x.isNullAt(3)) -1L else x.getLong(3)),
          if (x.isNullAt(5)) "" else x.getString(5))).toMap
      lefts.foreach { case (k, t, lid) =>
        val before = rights.filter(rr => rr._1 == k && rr._2 <= t)
        val after = rights.filter(rr => rr._1 == k && rr._2 > t)
        val b = if (before.isEmpty) None else Some(before.maxBy(rr => (rr._2, rr._3)))
        val a = if (after.isEmpty) None else Some(after.minBy(rr => (rr._2, rr._3)))
        val exp = (b, a) match {
          case (None, None) => (-1L, "")
          case (Some(pb), None) => (pb._3, "before")
          case (None, Some(pa)) => (pa._3, "after")
          case (Some(pb), Some(pa)) =>
            if (t - pb._2 <= pa._2 - t) (pb._3, "before") else (pa._3, "after")
        }
        assert(gotNear(lid) === exp, s"trial $trial nearest lid $lid t=$t")
      }
    }
  }
}
