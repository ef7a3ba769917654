package graft

import graft.operators.{Ann, NearDup, TopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 invariants: the corpus-wide ExactSubstr dedup action
  * (Lee et al. 2022), and the bounded-heap top-k pre-pass in the ANN
  * serving legs (layout invariance + plan pins).
  */
class Round11Spec extends SparkSpec {

  private def docsOf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("substr dedup: a >=k-token span shared by three docs is removed from all three") {
    val shared = (1 to 10).map(i => s"dup$i").mkString(" ") // 10 tokens > k=8
    val docs = docsOf(
      1L -> s"alpha beta $shared gamma delta",
      2L -> s"one two three $shared four",
      3L -> s"$shared tail piece here now",
      4L -> "entirely unique text with no repeated spans at all")
    val out = NearDup.docsSubstrDedupOn(docs, k = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size === 4, "every doc must stay present")
    // the shared 10-token span is covered; unique flanks survive
    Seq(1L, 2L, 3L).foreach { id =>
      val r = out(id)
      assert(r.getAs[Long]("n_removed_tokens") === 10L,
        s"doc $id should lose exactly the 10 shared tokens")
      assert(r.getAs[Long]("n_removed_spans") === 1L)
    }
    val clean = out(4L)
    assert(clean.getAs[Long]("n_removed_tokens") === 0L)
    assert(clean.getAs[Long]("n_removed_spans") === 0L)
    assert(clean.getAs[Long]("kept_frac_e4") === 10000L)
  }

  test("substr dedup: intra-document repetition counts — both copies covered") {
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val docs = docsOf(1L -> s"$span middle filler words go here $span")
    val r = NearDup.docsSubstrDedupOn(docs, k = 8).head()
    // both occurrences of the 8-token span are duplicated shingles
    assert(r.getAs[Long]("n_removed_tokens") === 16L)
    assert(r.getAs[Long]("n_removed_spans") === 2L)
    assert(r.getAs[Long]("n_tokens") === 21L)
  }

  test("substr dedup: a fully-duplicated doc keeps the empty-string md5 witness") {
    val span = (1 to 9).map(i => s"z$i").mkString(" ")
    val docs = docsOf(1L -> span, 2L -> span)
    val out = NearDup.docsSubstrDedupOn(docs, k = 8).collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getAs[Long]("n_removed_tokens") === 9L)
      assert(r.getAs[String]("clean_md5") ===
        "d41d8cd98f00b204e9800998ecf8427e") // md5("")
      assert(r.getAs[Long]("kept_frac_e4") === 0L)
    }
  }

  test("substr dedup: docs shorter than k tokens pass through untouched") {
    val docs = docsOf(1L -> "short doc", 2L -> "short doc")
    val out = NearDup.docsSubstrDedupOn(docs, k = 8).collect()
    assert(out.length === 2)
    out.foreach(r => assert(r.getAs[Long]("n_removed_tokens") === 0L))
  }

  test("substr dedup structural invariants on the real corpus") {
    val docs = Tables.documents(spark, sf)
    val out = NearDup.docsSubstrDedupOn(docs, k = 8)
    val nDocs = docs.count()
    assert(out.count() === nDocs, "row-preserving: one output row per doc")
    val bad = out.filter(
      col("n_removed_tokens") > col("n_tokens") ||
      col("n_removed_spans") * 8 > col("n_removed_tokens") ||
      (col("n_removed_tokens") > 0 && col("n_removed_spans") === 0))
    assert(bad.isEmpty, "span arithmetic: each maximal removed run has >= k tokens")
    // untouched docs reconstruct byte-identically (md5(text) witness)
    val untouched = out.filter(col("n_removed_tokens") === 0)
      .join(docs.select(col("doc_id"), md5(col("text")).as("orig_md5")), "doc_id")
      .filter(col("clean_md5") =!= col("orig_md5"))
    assert(untouched.isEmpty, "zero-removal docs must reconstruct byte-identical text")
  }

  test("bounded-heap top-k pre-pass equals the full window on any partition layout") {
    import spark.implicits._
    // adversarial candidate stream: duplicate scores (tiebreak path),
    // groups with fewer than k candidates, and a null score
    val rnd = new scala.util.Random(11)
    val cand = (0L until 5000L).map { i =>
      (i % 7, i * 31 % 997, if (i == 4999L) null
       else java.lang.Double.valueOf((rnd.nextInt(50) - 25) / 10.0))
    } :+ ((8L, 1L, java.lang.Double.valueOf(0.5))) // sub-k group
    val base = cand.toDF("q_id", "n_id", "sim")
    // (group, rnk, id) of a (group, id, score) frame already carrying rnk
    def ranked(df: DataFrame): Set[(Any, Int, Long)] =
      df.filter(col("rnk") <= 5).select(df.columns(0), "rnk", df.columns(1)).collect()
        .map(r => (r.get(0), r.getInt(1), r.getLong(2))).toSet
    // the single full window over the non-null stream
    def rank(df: DataFrame): Set[(Any, Int, Long)] = {
      val Seq(g, id, s) = df.columns.toSeq
      ranked(df.withColumn("rnk",
        row_number().over(Window.partitionBy(g).orderBy(col(s).desc, col(id)))))
    }
    // every heap shape the kernel serves: (Long, ·, Double) serving
    // legs, (Long, ·, Long) ADC scores, (String, ·, Long) exactly-k sample
    val shapes = Seq(
      "double" -> base,
      "long" -> base.filter(col("sim").isNotNull)
        .select(col("q_id"), col("n_id"), (col("sim") * 10).cast("long").as("sim")),
      "string group" -> base.select(concat(lit("g"), col("q_id")).as("lang"),
        col("n_id").as("doc_id"), (col("sim") * 10).cast("long").as("s")))
    shapes.foreach { case (shape, df) =>
      val expect = rank(df.filter(col(df.columns(2)).isNotNull))
      assert(expect.nonEmpty)
      Seq(1, 3, 7).foreach { parts =>
        val out = TopK.perGroup(df.repartition(parts), 5)
        assert(out.columns.toSeq === df.columns.toSeq :+ "rnk")
        assert(ranked(out) === expect, s"$shape heap pre-pass diverged at $parts partitions")
      }
    }
  }

  test("bucketed hv table joins exchange-free through the a_id/b_id renames") {
    import graft.sinks.GraftSink
    import spark.implicits._
    // the phase1Banded shape: hv written bucketed on doc_id, then
    // consumed through column renames on both join legs — the scan's
    // hash distribution must survive the alias so only the candidate
    // slice is exchanged
    val hv = (0L until 200L).map(i => (i, Array(i.toInt, i.toInt + 1)))
      .toDF("doc_id", "hs")
    val table = "graft_round11_hv_spec"
    GraftSink.writeBucketed(hv, table, "doc_id", buckets = 4)
    try {
      val hvB = spark.table(table)
      val cand = (0L until 100L).map(i => (i, i + 50L)).toDF("a_id", "b_id")
      val joined = cand
        .join(hvB.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
        .join(hvB.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 2,
        s"hv legs must not re-exchange (cand legs only): $exchanges exchanges\n$plan")
      assert(joined.count() === 100L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("cooc-lift auto-gate is byte-identical to the historical plan below the doc gate") {
    import graft.operators.TextAnalysis
    val auto = TextAnalysis.docsCoocLift(spark, sf).collect().map(_.toSeq).toSet
    val plain = TextAnalysis.docsCoocLift(spark, sf, minDf = 0L, bands = 1)
      .collect().map(_.toSeq).toSet
    assert(auto.nonEmpty, "fixture produced no collocations — spec is vacuous")
    assert(auto === plain)
  }

  test("NB source classifier separates a cleanly-separable synthetic corpus") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // two sources with disjoint vocabularies -> resubstitution must
    // classify every doc correctly (the posteriors are one-sided)
    val docs = Seq(
      (1L, "wiki", "alpha beta gamma delta"),
      (2L, "wiki", "beta gamma alpha alpha"),
      (3L, "wiki", "delta delta gamma beta"),
      (4L, "web", "spam click buy now"),
      (5L, "web", "click spam spam buy"),
      (6L, "web", "now buy click spam")).toDF("doc_id", "source", "text")
    val cm = TextAnalysis.textNbSourcesOn(docs)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[String]("predicted")) ->
        r.getAs[Long]("n_docs")).toMap
    assert(cm === Map(("wiki", "wiki") -> 3L, ("web", "web") -> 3L),
      s"off-diagonal confusion on a separable corpus: $cm")
  }

  test("NB source classifier structural invariants on the real corpus") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val cm = TextAnalysis.textNbSources(spark, sf)
    val nDocs = docs.count()
    val total = cm.agg(sum("n_docs")).head().getLong(0)
    assert(total === nDocs, "every doc classified exactly once")
    val sources = docs.select("source").distinct().collect().map(_.getString(0)).toSet
    val bad = cm.filter(!col("predicted").isin(sources.toSeq: _*) ||
      col("mean_score_x1e6") < 0 || col("mean_score_x1e6") > 1000000)
    assert(bad.isEmpty, "predictions outside the source taxonomy or score range")
  }

  test("SoftDeDup weights: floor(1e6/k) arithmetic and group-size consistency") {
    import graft.operators.{NearDup, Sampling}
    val w = Sampling.docsSoftDedupWeights(spark, sf)
      .localCheckpoint() // consumed by four assertions below
    val docs = Tables.documents(spark, sf)
    assert(w.count() === docs.count(), "row-preserving: one weight per doc")
    val badArith = w.filter(
      col("weight_x1e6") =!= expr("1000000 div group_size") ||
      col("eff_tokens_x1e6") =!= expr("(n_tokens * 1000000) div group_size") ||
      (col("group_size") === 1 && col("weight_x1e6") =!= 1000000L))
    assert(badArith.isEmpty, "weight arithmetic must be the exact floor division")
    // cluster mass: k * floor(1e6/k) lands within one doc of 1e6
    val badMass = w.filter(
      col("group_size") * col("weight_x1e6") > 1000000L ||
      col("group_size") * (col("weight_x1e6") + 1) < 1000000L)
    assert(badMass.isEmpty, "per-cluster weight mass must bracket 1.0")
    // sizes agree with the dedupGroups closure this is built on
    val sizes = NearDup.dedupGroups(spark, sf)
      .groupBy("group_id").agg(count(lit(1)).as("gs"))
      .groupBy("gs").agg(count(lit(1)).as("n"))
    val wSizes = w.groupBy("group_size")
      .agg((count(lit(1)) / col("group_size")).cast("long").as("n"))
      .withColumnRenamed("group_size", "gs")
    assert(sizes.exceptAll(wSizes).isEmpty && wSizes.exceptAll(sizes).isEmpty,
      "group-size histogram must match the closure's")
  }

  test("two-phase range join: exact under heavy ts duplication and any subBuckets") {
    import graft.operators.RangeJoin
    import spark.implicits._
    // dense stream: 40 distinct timestamps, each duplicated 25x — the
    // distinct-collapse path; plus boundary-exact probes (w aligned
    // and misaligned to the fine-bucket grid)
    val rnd = new scala.util.Random(7)
    val base = 1700000000000L
    val rightTs = (0 until 40).flatMap { _ =>
      val t = base + rnd.nextInt(10000); Seq.fill(25)(t)
    }
    val leftTs = (0 until 30).map(i => i.toLong -> (base + rnd.nextInt(10000)))
    val lDf = leftTs.map { case (id, t) => (id, new java.sql.Timestamp(t)) }.toDF("id", "ts")
    val rDf = rightTs.map(t => Tuple1(new java.sql.Timestamp(t))).toDF("ts")
    for (w <- Seq(5L, 160L, 1000L, 4096L); sb <- Seq(1, 3, 16, 64)) {
      val got = RangeJoin.countInWindow(lDf, rDf, "id", w, subBuckets = sb)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = leftTs.map { case (id, t) =>
        id -> rightTs.count(rt => rt >= t - w && rt <= t).toLong
      }.toMap
      assert(got === expect, s"window=$w subBuckets=$sb")
    }
  }

  test("unigram drift: exact quantized L1 on a hand-computed fixture; zero for a lone source") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // single source: p_ts == p_t for every term -> identical
    // quantized masses -> l1 exactly 0
    val lone = Seq(("a", "x y x z"), ("a", "y x")).toDF("source", "text")
    val loneRow = TextAnalysis.textUnigramDriftOn(lone).collect()
    assert(loneRow.length === 1)
    assert(loneRow.head.getAs[Long]("l1_x1e9") === 0L)
    assert(loneRow.head.getAs[Long]("vocab_frac_e4") === 10000L)
    // two sources, hand-checkable: a = {x:2, y:1}, b = {y:1, z:2};
    // corpus = {x:2, y:2, z:2}, N=6, N_a=N_b=3
    val docs = Seq(("a", "x x y"), ("b", "y z z")).toDF("source", "text")
    val out = TextAnalysis.textUnigramDriftOn(docs)
      .collect().map(r => r.getString(0) -> r).toMap
    val B = 1000000000L
    def q(c: Long, n: Long) = c * B / n
    val mt = Map("x" -> q(2, 6), "y" -> q(2, 6), "z" -> q(2, 6))
    val mTotal = mt.values.sum
    // a: present {x: q(2,3), y: q(1,3)}; absent z contributes m_t(z)
    val l1a = (q(2, 3) - mt("x")).abs + (q(1, 3) - mt("y")).abs +
      (mTotal - mt("x") - mt("y"))
    val l1b = (q(1, 3) - mt("y")).abs + (q(2, 3) - mt("z")).abs +
      (mTotal - mt("y") - mt("z"))
    assert(out("a").getAs[Long]("n_tokens") === 3L)
    assert(out("a").getAs[Long]("vocab_size") === 2L)
    assert(out("a").getAs[Long]("vocab_frac_e4") === 6666L)
    assert(out("a").getAs[Long]("l1_x1e9") === l1a)
    assert(out("b").getAs[Long]("l1_x1e9") === l1b)
  }

  test("audio fingerprint kernel: proportional blocks, exact delta bits") {
    import graft.operators.Multimodal
    // empty payload: every block empty -> 0 > 0 never holds
    assert(Multimodal.audioFpBands(Array.emptyByteArray).toSeq === Seq(0, 0, 0, 0))
    // constant payload: equal mean energies everywhere -> no bit set
    assert(Multimodal.audioFpBands(Array.fill(650)(100.toByte)).toSeq === Seq(0, 0, 0, 0))
    // strictly rising |sample| across blocks -> every bit set (all
    // 65 blocks non-empty at n = 650, mean energy strictly rises)
    val rising = Array.tabulate(650)(i => (128 + 1 + i / 10).toByte)
    assert(Multimodal.audioFpBands(rising).toSeq === Seq(0xFFFF, 0xFFFF, 0xFFFF, 0xFFFF))
    // reference recompute: independent big-decimal mean comparison
    val rnd = new scala.util.Random(11)
    val payload = Array.fill(333)(rnd.nextInt(256).toByte)
    val n = payload.length
    val ref = new Array[Int](4)
    val stats = (0 until 65).map { b =>
      val from = b * n / 65; val until = (b + 1) * n / 65
      val e = payload.slice(from, until).map { x =>
        val s = (x & 0xFF) - 128; s.toLong * s }.sum
      (e, until - from)
    }
    (0 until 64).foreach { bit =>
      val (e0, l0) = stats(bit); val (e1, l1) = stats(bit + 1)
      if (BigInt(e1) * l0 > BigInt(e0) * l1) ref(bit / 16) |= 1 << (bit % 16)
    }
    assert(Multimodal.audioFpBands(payload).toSeq === ref.toSeq)
  }

  test("audio dup groups equal brute-force all-pairs union-find (pigeonhole + collapse)") {
    import graft.operators.Multimodal
    import spark.implicits._
    // same planted clique shape as the phash collapse spec: exact
    // copies + light variants + unrelated singletons
    val base = (0 until 8).map(i =>
      s"the quick brown fox ${"pattern " * 20} jumps over dog number $i")
    val rows = (0L until 64L).map { id =>
      val b = (id % 8).toInt
      val txt =
        if (id < 32) base(b)
        else if (id < 48) base(b) + "!"
        else s"completely unrelated content nr $id " + ("x" * (id.toInt % 37))
      (id, txt)
    }
    val docs = rows.toDF("doc_id", "text")
    val collapsed = Multimodal.audioDupGroupsOf(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: union-find over BRUTE-FORCE all-pairs Hamming <= 3
    // (stronger than the banded set: pins pigeonhole completeness
    // AND the distinct-fingerprint collapse at once)
    val fps = rows.map { case (id, txt) =>
      id -> Multimodal.audioFpBands(txt.getBytes("UTF-8")) }
    val parent = scala.collection.mutable.Map((0L until 64L).map(d => d -> d): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    for ((a, fa) <- fps; (b, fb) <- fps if a < b) {
      val d = (0 until 4).map(k => Integer.bitCount(fa(k) ^ fb(k))).sum
      if (d <= 3) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val ref = (0L until 64L).map(d => d -> find(d)).toMap
    assert(collapsed === ref)
    // sanity on the planted structure: exact copies co-group, and at
    // least one variant joined its base's group through a near edge
    assert(collapsed(0L) === collapsed(8L))
    assert(collapsed.values.toSet.size < 64)
  }

  test("audio_fp expression matches the kernel and the SQL surface") {
    import graft.operators.Multimodal
    import spark.implicits._
    val docs = Seq((1L, "some audio-ish payload content here"),
      (2L, "another distinct payload with different energies"))
      .toDF("doc_id", "text")
    val viaExpr = docs.select(col("doc_id"),
      graft.plans.AudioFpExpr(col("text").cast("binary")).as("bs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val expect = Seq(1L, 2L).map { id =>
      val txt = if (id == 1L) "some audio-ish payload content here"
                else "another distinct payload with different energies"
      id -> Multimodal.audioFpBands(txt.getBytes("UTF-8")).toSeq
    }.toMap
    assert(viaExpr === expect)
    graft.plans.GraftFunctions.register(spark)
    docs.createOrReplaceTempView("audio_fp_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, audio_fp(cast(text AS binary)) AS bs FROM audio_fp_docs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(viaSql === expect)
  }

  test("ANN serving legs plan the heap pre-pass before the per-query window") {
    // the per-q_id window alone funnels the full scored scan into
    // nQueries tasks; the MapPartitions fold must sit in every plan
    Seq(
      "ann_bruteforce" -> Ann.annBruteForce(spark, sf),
      "ann_lsh" -> Ann.annLsh(spark, sf),
      "ann_ivf" -> Ann.annIvf(spark, sf),
      "emb_adc" -> Ann.embAdc(spark, sf),
      "emb_rq_adc" -> Ann.embRqAdc(spark, sf),
      "emb_ivf_adc" -> Ann.embIvfAdc(spark, sf)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("MapPartitions"),
        s"$name lost its bounded-heap pre-pass (no MapPartitions in plan)")
    }
  }
}
