package graft

import graft.streaming.{AnomalyStream, DedupStream}
import graft.streaming.DedupStream.Ev
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, map, timestamp_millis}
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {

  private val rocksDbStore = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  // annotate feeding windowedStats chains two stateful operators
  private val noCorrectnessCheck =
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false"

  private def ev(id: Long, tMs: Long, user: Long = 1L, props: String = "{}") =
    Ev(id, new java.sql.Timestamp(tMs), user, "x", 1.0, props)

  test("streaming ttl-chain dedup across micro-batches matches batch chain replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val ttl = 60000L
    val batch1 = Seq(ev(1, base), ev(2, base + 1000), ev(10, base, user = 2))
    val batch2 = Seq(ev(3, base + 30000), // dup of 1 (within ttl)
      ev(4, base + 70000), // prime (anchor base, 70s > ttl)
      ev(11, base + 5000, user = 2)) // dup of 10
    val input = MemoryStream[Ev]
    val out = DedupStream.dedupTtlChain(input.toDS(), ttl)
    val q = out.writeStream.format("memory").queryName("ttl_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val got = spark.table("ttl_out").collect().map(_.getLong(0)).toSet
      // per-key replay (chainPrimes is per-key; apply per group)
      val expectIds = (batch1 ++ batch2).groupBy(DedupStream.contentKeyOf)
        .values.flatMap(g => DedupStream.chainPrimes(g, ttl, None)._1.map(_.event_id)).toSet
      assert(got === expectIds)
      assert(got === Set(1L, 4L, 10L))
    } finally q.stop()
  }

  test("a '|' inside event_type or props cannot make two distinct events one content key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    // joined with bare '|', both would read 1|x|1.0|2.0|{}
    val a = Ev(1, new java.sql.Timestamp(base), 1L, "x|1.0", 2.0, "{}")
    val b = Ev(2, new java.sql.Timestamp(base + 1000), 1L, "x", 1.0, "2.0|{}")
    assert(DedupStream.contentKeyOf(a) !== DedupStream.contentKeyOf(b))
    val input = MemoryStream[Ev]
    val q = DedupStream.dedupTtlChain(input.toDS(), 60000L).writeStream.format("memory")
      .queryName("content_key_out").outputMode(OutputMode.Append).start()
    try {
      input.addData(a, b); q.processAllAvailable()
      val got = spark.table("content_key_out").collect().map(_.getLong(0)).toSet
      // batch dedup keys on the columns themselves
      val batch = graft.operators.Dedup.firstSeen(Seq(a, b).toDF())
        .select("event_id").as[Long].collect().toSet
      assert(got === batch)
      assert(got === Set(1L, 2L))
    } finally q.stop()
  }

  test("space-saving heavy hitters: exact when distinct items fit, bounded overestimate " +
    "under eviction (RocksDB store)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withConf(rocksDbStore) {
      // regime 1 — k larger than distinct items per shard: the sketch
      // IS the exact count, across uneven micro-batches
      val words = Seq("a", "b", "a", "c", "a", "b", "d", "a", "c", "e")
      val in1 = MemoryStream[String]
      val q1 = DedupStream.heavyHitters(in1.toDS(), k = 16, shards = 2)
        .toDF().writeStream.format("memory").queryName("hh_exact")
        .outputMode(OutputMode.Append).start()
      try {
        in1.addData(words.take(3): _*); q1.processAllAvailable()
        in1.addData(words.drop(3): _*); q1.processAllAvailable()
        val rows = spark.table("hh_exact").collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
        // current summary = max-gen rows per shard
        val latest = rows.groupBy(_._1).values.flatMap { rs =>
          val g = rs.map(_._2).max; rs.filter(_._2 == g)
        }
        val got = latest.map(r => r._3 -> (r._4, r._5)).toMap
        val exact = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
        assert(got === exact.map { case (w, c) => w -> (c, 0L) })
      } finally q1.stop()

      // regime 2 — k=2, forced evictions: the true heaviest item is
      // guaranteed present, every count overestimates by at most err
      val skew = Seq.fill(30)("hot") ++ Seq("x1", "x2", "x3", "x4") ++ Seq.fill(10)("hot")
      val in2 = MemoryStream[String]
      val q2 = DedupStream.heavyHitters(in2.toDS(), k = 2, shards = 1)
        .toDF().writeStream.format("memory").queryName("hh_skew")
        .outputMode(OutputMode.Append).start()
      try {
        in2.addData(skew: _*); q2.processAllAvailable()
        val rows = spark.table("hh_skew").collect()
          .map(r => (r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
        val g = rows.map(_._1).max
        val latest = rows.filter(_._1 == g).map(r => r._2 -> (r._3, r._4)).toMap
        assert(latest.size === 2)
        val exact = skew.groupBy(identity).view.mapValues(_.length.toLong).toMap
        val (hotCount, hotErr) = latest("hot") // guaranteed: 40 > N/k
        assert(hotCount >= exact("hot") && hotCount - hotErr <= exact("hot"))
        latest.foreach { case (it, (c, e)) =>
          val t = exact.getOrElse(it, 0L)
          assert(c >= t && c - e <= t, s"$it count $c err $e true $t")
        }
      } finally q2.stop()
    }
  }

  test("transformWithState keep-latest compaction equals batch keep-newest " +
    "across uneven splits (RocksDB store)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def e(id: Long, tMs: Long, user: Long, typ: String, v: Double) =
      Ev(id, new java.sql.Timestamp(tMs), user, typ, v, "{}")
    val evs = Seq(
      e(1, base, 1, "a", 1.0), e(2, base + 5000, 1, "a", 2.0),
      e(3, base + 1000, 1, "b", 3.0),
      e(4, base + 2000, 2, "a", 4.0), e(5, base + 2000, 2, "a", 5.0), // ts tie → id 5
      e(6, base + 9000, 2, "a", 6.0))
    // a far-future fence advances the watermark past every key's
    // flush horizon so all timers fire; its own key stays unflushed
    val fence = e(999, base + 86400000L, 99, "zz", 0.0)
    // batch keep-newest (qCompactLatest's rule: max by (ts, event_id))
    val expect = evs.groupBy(x => (x.user_id, x.event_type)).map { case (k, g) =>
      val m = g.maxBy(x => (x.ts.getTime, x.event_id))
      (k._1, k._2, m.event_id, m.ts.getTime, m.value)
    }.toSet
    withConf(rocksDbStore) {
      // max is commutative, so the emitted set must be identical for
      // ANY micro-batch split of the same input
      for (cut <- Seq(2, 4)) {
        val input = MemoryStream[Ev]
        val q = DedupStream.compactLatest(input.toDS(), flushMs = 60000L)
          .toDF().writeStream.format("memory").queryName(s"cl_$cut")
          .outputMode(OutputMode.Append).start()
        try {
          input.addData(evs.take(cut): _*); q.processAllAvailable()
          input.addData(evs.drop(cut): _*); q.processAllAvailable()
          input.addData(fence); q.processAllAvailable()
          val got = spark.table(s"cl_$cut").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
          assert(got.length === got.toSet.size, "duplicate compaction rows")
          assert(got.toSet === expect, s"split at $cut")
        } finally q.stop()
      }
    }
  }

  test("streaming simhash candidates across micro-batches equal the batch pair join") {
    import graft.operators.NearDup
    import graft.streaming.NearDupStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fps = NearDup.simhashFingerprints(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val (b1, b2) = fps.splitAt(fps.length / 2)
    val input = MemoryStream[(Long, Long)]
    val out = NearDupStream.simhashCandidates(
      input.toDF().toDF("doc_id", "simhash"))
    val q = out.writeStream.format("memory").queryName("simhash_cand")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("simhash_cand").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expect = NearDup.simhashPairs(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expect)
    } finally q.stop()
  }

  test("streaming minhash-LSH candidates equal the batch bucket join") {
    import graft.operators.NearDup
    import graft.streaming.NearDupStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusSigs = NearDup.minhashSignatures(NearDup.shingledDocs(Tables.documents(spark, sf)))
    val sigs = corpusSigs.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    val (b1, b2) = sigs.splitAt(sigs.length / 2)
    val input = MemoryStream[(Long, Seq[Long])]
    val out = NearDupStream.minhashCandidates(input.toDF().toDF("doc_id", "sig"))
    val q = out.writeStream.format("memory").queryName("minhash_cand")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("minhash_cand").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val bands = NearDup.minhashBandKeys(corpusSigs)
      val expect = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expect && expect.nonEmpty)
    } finally q.stop()
  }

  test("simhash and minhash-LSH candidate streams restart from their checkpoint after any " +
    "trigger with the uninterrupted run's pairs, on both state stores") {
    import graft.operators.NearDup
    import graft.sinks.GraftSink
    import graft.streaming.NearDupStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def thirds[T](xs: Seq[T]): Seq[Seq[T]] = xs.grouped((xs.size + 2) / 3).toSeq
    val fps = thirds(NearDup.simhashFingerprints(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
    val sigs = thirds(NearDup.minhashSignatures(NearDup.shingledDocs(Tables.documents(spark, sf)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq)
    // the triggers through a checkpointed file sink; the query stops
    // after trigger `stopAfter`, the next trigger's rows arrive while it
    // is down, and it restarts on the same checkpoint
    def run[T: Encoder](triggers: Seq[Seq[T]], op: DataFrame => DataFrame,
        stopAfter: Int): Set[Row] = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_cand_restart_").toString
      val input = MemoryStream[T]
      def start() = GraftSink.startFileSink(op(input.toDF()), s"$tmp/out", s"$tmp/ckpt")
      try {
        var q = start()
        try triggers.zipWithIndex.foreach { case (rows, t) =>
          input.addData(rows: _*)
          if (t == stopAfter) q = start()
          q.processAllAvailable()
          if (t + 1 == stopAfter) q.stop()
        } finally q.stop()
        spark.read.parquet(s"$tmp/out").collect().toSet
      } finally TestSpark.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
    def check[T: Encoder](name: String, triggers: Seq[Seq[T]], op: DataFrame => DataFrame): Unit =
      for ((store, confs) <- Seq("default" -> Seq.empty, "RocksDB" -> Seq(rocksDbStore)))
        withConf(confs: _*) {
          val uninterrupted = run(triggers, op, stopAfter = triggers.size)
          assert(uninterrupted.nonEmpty, s"$name, $store store")
          (1 until triggers.size).foreach { i =>
            assert(run(triggers, op, stopAfter = i) === uninterrupted,
              s"$name, $store store, stopped after trigger $i")
          }
        }
    assert(fps.size === 3 && sigs.size === 3)
    check("simhashCandidates", fps,
      df => NearDupStream.simhashCandidates(df.toDF("doc_id", "simhash")).toDF())
    check("minhashCandidates", sigs,
      df => NearDupStream.minhashCandidates(df.toDF("doc_id", "sig")).toDF())
  }

  test("multi-topic merge then dedup equals the batch union replay across uneven splits " +
    "(topicsPattern analog)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val ttl = 60000L
    // two "topics" carrying overlapping content — the redundant-feed
    // deployment: ev3 repeats ev1's content cross-topic, ev5/ev6
    // repeat within-ttl
    val topicAEvents = Seq(ev(1, base), ev(2, base + 1000, user = 2), ev(5, base + 4000))
    val topicBEvents = Seq(ev(3, base), ev(4, base + 2000, user = 3), ev(6, base + 3000, user = 2))
    val inputA = MemoryStream[Ev]
    val inputB = MemoryStream[Ev]
    val merged = DedupStream.mergeTopics(Seq(inputA.toDS(), inputB.toDS()))
    val out = DedupStream.dedupTtlChain(merged, ttl)
    val q = out.writeStream.format("memory").queryName("multi_topic_out")
      .outputMode(OutputMode.Append).start()
    try {
      // uneven micro-batch split: 1 row, then the other 5 across topics
      inputA.addData(topicAEvents.head); q.processAllAvailable()
      inputA.addData(topicAEvents.tail: _*)
      inputB.addData(topicBEvents: _*)
      q.processAllAvailable()
      val got = spark.table("multi_topic_out").collect().map(_.getLong(0)).toSet
      // batch replay over the UNION — the dedup_multi_topic semantics
      val all = topicAEvents ++ topicBEvents
      val expectIds = all.groupBy(DedupStream.contentKeyOf)
        .values.flatMap(g => DedupStream.chainPrimes(g, ttl, None)._1.map(_.event_id)).toSet
      assert(got === expectIds)
      // and against the batch operator itself (ttl covers the span,
      // so chain dedup == global first-wins here)
      val batchFirst = graft.operators.Dedup.firstSeen(all.toDF())
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(got === batchFirst)
      assert(got === Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("a merged feed trailing the other by more than the ttl: ttl chain, bounded cache " +
    "and annotate each equal the replay of the same trigger split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val ttl = 60000L
    // (feed, rows) per trigger. Feed 0 runs 30 min of event time ahead,
    // so trigger 3's rows from feed 1 pass the late-row filter (the
    // previous trigger's watermark) yet sit more than the ttl below the
    // current one: their anchors expire before they are stored
    val triggers: Seq[(Int, Seq[Ev])] = Seq(
      0 -> Seq(ev(1, base), ev(2, base + 1000, user = 2)),
      0 -> Seq(ev(3, base + 1800000, user = 3)),
      1 -> Seq(ev(4, base + 10000), // dup of 1 against an expired anchor
        ev(5, base + 20000, user = 4), // new key, expired on arrival
        ev(6, base + 90000, user = 2)), // 2's anchor is past the ttl: prime
      0 -> Seq(ev(7, base + 1805000, user = 3)), // dup of 3
      1 -> Seq(ev(8, base + 1500000), ev(9, base + 1500500))) // 1 readmitted, then its dup
    // a continuously fed stream never idles, so no empty trigger runs
    // between two adds to advance the watermark on its own
    def run(name: String)(op: Dataset[Ev] => Dataset[_]): Array[Row] = {
      val feeds = Seq(MemoryStream[Ev], MemoryStream[Ev])
      val q = op(DedupStream.mergeTopics(feeds.map(_.toDS()))).writeStream
        .format("memory").queryName(name).outputMode(OutputMode.Append).start()
      try {
        triggers.foreach { case (f, rows) =>
          feeds(f).addData(rows: _*); q.processAllAvailable()
        }
        spark.table(name).collect()
      } finally q.stop()
    }
    withConf("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      // chainPrimes replay, per trigger, anchors carried across triggers
      val anchors = scala.collection.mutable.Map.empty[String, Long]
      val primes = triggers.flatMap { case (_, rows) =>
        rows.groupBy(DedupStream.contentKeyOf).toSeq.flatMap { case (k, g) =>
          val (out, a) = DedupStream.chainPrimes(g, ttl, anchors.get(k))
          a.foreach(anchors(k) = _)
          out
        }
      }
      val chain = run("trail_chain")(DedupStream.dedupTtlChain(_, ttl))
        .map(_.getLong(0)).toSet
      assert(chain === primes.map(_.event_id).toSet)
      assert(chain === Set(1L, 2L, 3L, 5L, 6L, 8L))

      // slot replay at maxEntries = 1: every key shares the one slot
      var slot = Option.empty[(String, Long)]
      val slotPrimes = triggers.flatMap { case (_, rows) =>
        rows.sortBy(e => (e.ts.getTime, e.event_id)).filter { e =>
          val (k, t) = (DedupStream.contentKeyOf(e), e.ts.getTime)
          val dup = slot.exists { case (sk, p) => sk == k && t - p <= ttl }
          if (!dup) slot = Some((k, t))
          !dup
        }.map(_.event_id)
      }.toSet
      val bounded = run("trail_bounded")(DedupStream.dedupBounded(_, ttl, maxEntries = 1))
        .map(_.getLong(0)).toSet
      assert(bounded === slotPrimes)
      assert(bounded === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))

      // annotate: a duplicate's delay runs from its key's latest prime
      val expectAnn = triggers.flatMap(_._2).map { e =>
        val t = e.ts.getTime
        if (primes.exists(_.event_id == e.event_id)) (e.event_id, false, 0L)
        else (e.event_id, true, t - primes.filter(p => DedupStream.contentKeyOf(p) ==
          DedupStream.contentKeyOf(e) && p.ts.getTime <= t).map(_.ts.getTime).max)
      }.sortBy(_._1)
      val ann = run("trail_annotate")(DedupStream.annotate(_, ttl))
        .map(r => (r.getLong(0), r.getBoolean(2), r.getLong(3))).sortBy(_._1).toSeq
      assert(ann === expectAnn)
      assert(ann.filter(_._2) === Seq((4L, true, 10000L), (7L, true, 5000L), (9L, true, 500L)))
    }
  }

  test("stream-stream interval correlate equals the batch interval join across uneven splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    // primary: page-view-ish events; secondary: conversion-ish events.
    // within=60s matches: (1,101) lag 10s; (3,103) lag 5s. Non-matches:
    // 2↔102 same user but 170s apart; 3↔101 110s apart.
    val prim = Seq(ev(1, base, user = 1), ev(2, base + 30000, user = 2),
      ev(3, base + 120000, user = 1))
    val sec = Seq(ev(101, base + 10000, user = 1), ev(102, base + 200000, user = 2),
      ev(103, base + 125000, user = 1))
    val inA = MemoryStream[Ev]
    val inB = MemoryStream[Ev]
    val out = DedupStream.correlate(inA.toDF(), inB.toDF(), withinMs = 60000L)
    val q = out.writeStream.format("memory").queryName("corr_out")
      .outputMode(OutputMode.Append).start()
    try {
      // uneven splits: primary trickles in ahead of its matches
      inA.addData(prim.head); q.processAllAvailable()
      inB.addData(sec.take(2): _*); q.processAllAvailable()
      inA.addData(prim.tail: _*); inB.addData(sec.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("corr_out")
        .select("a_event_id", "b_event_id", "lag_ms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // batch replay through the SAME operator (watermarks are no-ops
      // on batch inputs — one code path, two execution modes)
      val expect = DedupStream.correlate(prim.toDF(), sec.toDF(), withinMs = 60000L)
        .select("a_event_id", "b_event_id", "lag_ms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expect)
      assert(got === Set((1L, 101L, 10000L), (3L, 103L, 5000L)))
    } finally q.stop()
  }

  test("correlate drops late arrivals once the watermark passes their match window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val inA = MemoryStream[Ev]
    val inB = MemoryStream[Ev]
    val out = DedupStream.correlate(inA.toDF(), inB.toDF(), withinMs = 60000L,
      watermark = "10 seconds")
    val q = out.writeStream.format("memory").queryName("corr_late_out")
      .outputMode(OutputMode.Append).start()
    try {
      inA.addData(ev(1, base, user = 1))
      inB.addData(ev(101, base + 1000, user = 1))
      q.processAllAvailable()
      // push the watermark ~10 minutes past base on BOTH streams
      inA.addData(ev(98, base + 600000, user = 9))
      inB.addData(ev(198, base + 600000, user = 8))
      q.processAllAvailable()
      // a late pair at base+2s/base+3s — both sides far below the
      // watermark: state for their window is gone and the inputs are
      // dropped, so the pair must NOT emit
      inA.addData(ev(2, base + 2000, user = 1))
      inB.addData(ev(102, base + 3000, user = 1))
      q.processAllAvailable()
      val got = spark.table("corr_late_out")
        .select("a_event_id", "b_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 101L)))
    } finally q.stop()
  }

  test("stream-stream leftOuter correlate emits unmatched primaries after the match window " +
    "expires") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val inA = MemoryStream[Ev]
    val inB = MemoryStream[Ev]
    val out = DedupStream.correlate(inA.toDF(), inB.toDF(), withinMs = 60000L,
      watermark = "10 seconds", joinType = "leftOuter")
    val q = out.writeStream.format("memory").queryName("corr_outer_out")
      .outputMode(OutputMode.Append).start()
    try {
      inA.addData(ev(1, base, user = 1), ev(2, base + 30000, user = 2))
      inB.addData(ev(101, base + 10000, user = 1))
      q.processAllAvailable()
      // sentinels on BOTH streams advance the global watermark past
      // ev2's match window (a_ts + within + delay); a further batch
      // lets the state-cleanup pass emit the null-padded row
      inA.addData(ev(98, base + 300000, user = 9))
      inB.addData(ev(198, base + 300000, user = 8))
      q.processAllAvailable()
      inA.addData(ev(99, base + 310000, user = 9))
      inB.addData(ev(199, base + 310000, user = 8))
      q.processAllAvailable()
      val rows = spark.table("corr_outer_out")
        .filter(col("a_event_id") < 90)
        .select("a_event_id", "b_event_id", "lag_ms").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      // matched primary joins normally; unmatched primary 2 emits ONCE
      // with null secondary columns and null lag
      assert(rows === Set((1L, Some(101L), Some(10000L)), (2L, None, None)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val input = MemoryStream[Ev]
    val out = DedupStream.dedupWithinWatermark(input.toDF(), "10 minutes")
    val q = out.writeStream.format("memory").queryName("wm_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, base), ev(2, base + 1000))
      q.processAllAvailable()
      // same content arrives again in a later micro-batch
      input.addData(ev(3, base + 2000), ev(4, base + 3000, props = "{\"k\":1}"))
      q.processAllAvailable()
      val got = spark.table("wm_out").select("event_id").collect().map(_.getLong(0)).toSet
      // 1,2,3 share content (user 1, x, 1.0, {}) → only the first survives; 4 differs
      assert(got === Set(1L, 4L))
    } finally q.stop()
  }

  test("stream-static dedup drops history dups, then dedups within the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    // static history manifest: content key (user 9, x, 1.0, {}) already ingested
    val history = Seq(ev(100, base - 999999, user = 9)).toDF()
    val input = MemoryStream[Ev]
    val out = DedupStream.dedupAgainstHistory(input.toDF(), history)
    val q = out.writeStream.format("memory").queryName("hist_out")
      .outputMode(OutputMode.Append).start()
    try {
      // 20 collides with history → dropped; 21 is novel; 22 dups 21 in-stream
      input.addData(ev(20, base, user = 9), ev(21, base + 1000, user = 5))
      q.processAllAvailable()
      input.addData(ev(22, base + 2000, user = 5), ev(23, base + 3000, user = 6))
      q.processAllAvailable()
      val got = spark.table("hist_out").select("event_id").collect().map(_.getLong(0)).toSet
      assert(got === Set(21L, 23L))
    } finally q.stop()
  }

  test("bloom-prefiltered stream-static dedup matches the plain variant") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val history = Seq(ev(100, base - 999999, user = 9)).toDF()
    val input = MemoryStream[Ev]
    val out = DedupStream.dedupAgainstHistoryBloom(input.toDF(), history)
    val q = out.writeStream.format("memory").queryName("bloom_hist_out")
      .outputMode(OutputMode.Append).start()
    try {
      // same scenario as the plain dedupAgainstHistory test: 20
      // collides with history, 21 novel, 22 dups 21 in-stream
      input.addData(ev(20, base, user = 9), ev(21, base + 1000, user = 5))
      q.processAllAvailable()
      input.addData(ev(22, base + 2000, user = 5), ev(23, base + 3000, user = 6))
      q.processAllAvailable()
      val got = spark.table("bloom_hist_out")
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(got === Set(21L, 23L))
    } finally q.stop()
  }

  test("bloom stream-static dedup with empty history keeps in-stream dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val history = Seq.empty[Ev].toDF()
    val input = MemoryStream[Ev]
    val out = DedupStream.dedupAgainstHistoryBloom(input.toDF(), history)
    val q = out.writeStream.format("memory").queryName("bloom_empty_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, base), ev(2, base + 1000))
      q.processAllAvailable()
      val got = spark.table("bloom_empty_out")
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(got === Set(1L)) // 1 and 2 share content; no history drop
    } finally q.stop()
  }

  test("IT parity: payload-only identity forwards the FIRST message with its key+eventTime " +
    "(ITDeduplicatorTest.testDummyDuplicatesWithoutSchema, ITDeduplicatorTest.java:26-56)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the reference scenario: payload n is sent n+1 times with a
    // DIFFERENT key per copy and drifting timestamps — identity is
    // the payload alone, and the forwarded message must be the first
    // copy VERBATIM (its key and event time pass through untouched)
    val base = 1700000000000L
    val copies = for {
      n <- 0 until 10
      times <- 0 to n
    } yield (s"testme$n", base + n * 100 + times, s"jabadabaduu$times", times)
    val input = MemoryStream[(String, Long, String, Int)]
    val out = input.toDF().toDF("payload", "ts_ms", "key", "copy")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("payload"))
    val q = out.writeStream.format("memory").queryName("it_dummy_out")
      .outputMode(OutputMode.Append).start()
    try {
      // micro-batch k carries every payload's k-th copy, so the first
      // copy of each payload arrives strictly before its duplicates
      // (the sequential-send order of the reference pipeline)
      (0 until 10).foreach { k =>
        val batch = copies.filter(_._4 == k)
        if (batch.nonEmpty) { input.addData(batch: _*); q.processAllAvailable() }
      }
      val got = spark.table("it_dummy_out")
        .select("payload", "ts_ms", "key").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      // exactly the times==0 copies, metadata intact
      val expect = copies.filter(_._4 == 0)
        .map(c => (c._1, c._2, c._3)).toSet
      assert(got === expect)
      assert(got.forall(_._3 == "jabadabaduu0"))
    } finally q.stop()
  }

  test("IT parity: topic+payload identity with properties passthrough " +
    "(ITDeduplicatorTest.testDuplicatesWithRawMqttSchema, ITDeduplicatorTest.java:64-113)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the reference scenario: raw-MQTT messages are identical iff
    // topic AND payload match (same payload under two topics is two
    // distinct messages); all copies share one timestamp; the
    // forwarded message carries its properties verbatim
    val base = 1700000000000L
    val msgs = Seq(
      // (id, topic, payload) — ids 1,2 duplicate; 3 same payload new
      // topic (survives); 4,5,6 triplicate; 7 same topic new payload
      (1L, "/hfp/v1/journey/bus/0012", """{"VP":{"veh":12,"spd":3.5}}"""),
      (2L, "/hfp/v1/journey/bus/0012", """{"VP":{"veh":12,"spd":3.5}}"""),
      (3L, "/hfp/v1/journey/tram/0012", """{"VP":{"veh":12,"spd":3.5}}"""),
      (4L, "/hfp/v1/journey/bus/0034", """{"VP":{"veh":34,"spd":0.0}}"""),
      (5L, "/hfp/v1/journey/bus/0034", """{"VP":{"veh":34,"spd":0.0}}"""),
      (6L, "/hfp/v1/journey/bus/0034", """{"VP":{"veh":34,"spd":0.0}}"""),
      (7L, "/hfp/v1/journey/bus/0034", """{"VP":{"veh":34,"spd":7.1}}"""))
    val input = MemoryStream[(Long, String, String)]
    val out = input.toDF().toDF("id", "topic", "payload")
      .withColumn("ts", timestamp_millis(lit(base))) // one shared ts, as the reference test
      .withColumn("props", map(
        lit("schema_version"), lit("1"),
        lit("protobuf_schema"), lit("MqttRawMessage"),
        lit("foo"), lit("bar")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("topic", "payload"))
    val q = out.writeStream.format("memory").queryName("it_mqtt_out")
      .outputMode(OutputMode.Append).start()
    try {
      val (b1, b2) = msgs.splitAt(4)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val rows = spark.table("it_mqtt_out")
        .selectExpr("id", "topic", "payload", "props['foo']", "props['schema_version']")
        .collect()
      // 7 in, 4 unique (topic, payload) identities out — the 5000 →
      // 4956 shape of the reference corpus, and first-copy ids win
      assert(rows.map(_.getLong(0)).toSet === Set(1L, 3L, 4L, 7L))
      // properties forwarded verbatim on every surviving message
      assert(rows.forall(r => r.getString(3) == "bar" && r.getString(4) == "1"))
    } finally q.stop()
  }

  test("multi-schema content keys drive a streaming dedup (parsePayload dispatch, streaming)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val keyed = graft.sources.HfpSource.withContentKey(
      input.toDF().toDF("id", "schema", "payload"))
    val out = keyed.dropDuplicates("content_key").select("id")
    val q = out.writeStream.format("memory").queryName("ms_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, "hfp", """{"VP":{"veh":7,"spd":3.0}}"""))
      q.processAllAvailable()
      // same logical payload, later micro-batch, different formatting
      // → canonical key dedups it; unknown schema keeps raw identity
      input.addData(
        (2L, "hfp", """{ "VP" : {"spd":3.0,"veh":7} }"""),
        (3L, "unknown", """{"VP":{"veh":7,"spd":3.0}}"""),
        (4L, "unknown", """{ "VP" : {"spd":3.0,"veh":7} }"""))
      q.processAllAvailable()
      val got = spark.table("ms_out").collect().map(_.getLong(0)).toSet
      assert(got === Set(1L, 3L, 4L))
    } finally q.stop()
  }

  test("windowedStats aggregates annotated stream per minute (Analytics.calcStats shape)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L - (1700000000000L % 60000L) // minute-aligned
    // chained stateful ops (see windowedStats scaladoc)
    withConf(noCorrectnessCheck) {
      val input = MemoryStream[Ev]
      val stats = DedupStream.windowedStats(DedupStream.annotate(input.toDS(), ttlMs = 600000L))
      val q = stats.writeStream.format("memory").queryName("stats_out")
        .outputMode(OutputMode.Append).start()
      try {
        // minute 0: prime + 2 dups (ratio 2.0 → high-dup alert,
        // Analytics.java:50); minute 1: lone prime (ratio 0 < 0.97 →
        // feed-down alert, Analytics.java:56)
        input.addData(ev(1, base), ev(2, base + 9000), ev(5, base + 18000),
          ev(3, base + 60000, user = 9))
        q.processAllAvailable()
        // advance watermark far enough to close both windows
        input.addData(ev(99, base + 3600000, user = 99))
        q.processAllAvailable()
        val rows = spark.table("stats_out")
          .selectExpr("window.start", "primes", "duplicates", "avg_delay_ms",
            "dup_ratio", "alert_high_dup", "alert_feed_down")
          .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
            Option(r.get(3)).map(_.asInstanceOf[Double]),
            r.getDouble(4), r.getBoolean(5), r.getBoolean(6)))
          .sortBy(_._1).toList
        assert(rows.take(2) === List(
          (base, 1L, 2L, Some(13500.0), 2.0, true, false),
          (base + 60000, 1L, 0L, None, 0.0, false, true)))
      } finally q.stop()
    }
  }

  /** The most cache entries any committed trigger of a [[DedupStream.dedupBounded]]
    * query held, read back from the state store of its checkpoint: one
    * state row is a whole cache segment, so the row count alone does
    * not see the entry bound.
    */
  private def maxCacheEntries(ckpt: String, q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    (0L to q.lastProgress.batchId).map { b =>
      spark.read.format("statestore").option("batchId", b).load(ckpt)
        .selectExpr("coalesce(sum(size(value.groupState.entries)), 0)")
        .head().getLong(0)
    }.max

  test("dedupBounded caps state at maxEntries under key churn and readmits evicted content") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bounded_")
    val input = MemoryStream[Ev]
    val out = DedupStream.dedupBounded(input.toDS(), ttlMs = 600000L, maxEntries = 1)
    val q = out.writeStream.format("memory").queryName("bounded_out")
      .option("checkpointLocation", ckpt.toString)
      .outputMode(OutputMode.Append).start()
    try {
      // one slot total (maximumSize analog at its smallest): k1 prime,
      // k1 dup, k2 claims the slot (evicts k1), k1 re-admitted as prime
      input.addData(ev(1, base), ev(2, base + 1000),
        ev(3, base + 2000, user = 2), ev(4, base + 3000))
      q.processAllAvailable()
      // churn more distinct keys in a second micro-batch
      input.addData(ev(5, base + 4000, user = 3), ev(6, base + 5000, user = 4))
      q.processAllAvailable()
      val got = spark.table("bounded_out").collect().map(_.getLong(0)).toSet
      assert(got === Set(1L, 3L, 4L, 5L, 6L))
      val maxState = maxCacheEntries(ckpt.toString, q)
      assert(maxState > 0 && maxState <= 1,
        s"state exceeded the maxEntries bound: $maxState entries")
    } finally { q.stop(); TestSpark.deleteRecursively(ckpt) }
  }

  test("dedupBounded: least-recently-accessed eviction, readmit after evict, " +
    "state bound, replay equality (default and RocksDB store)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    for ((store, confs) <- Seq("default" -> Seq.empty, "rocksdb" -> Seq(rocksDbStore)))
      withConf(confs: _*) {
        // one segment (shards=1), capacity 2 — the smallest cache where
        // LRU order is observable: A=user1, B=user2, C=user3
        val batch1 = Seq(
          ev(1, base),             // A prime
          ev(2, base + 1000, user = 2), // B prime
          ev(3, base + 2000),      // A dup — refreshes A's RECENCY
          ev(4, base + 3000, user = 3)) // C prime: full → evicts B (LRU), NOT A
        val batch2 = Seq(
          ev(5, base + 4000),      // A dup still (proves A survived the evict) + recency
          ev(6, base + 5000, user = 2)) // B readmitted as prime (was evicted); evicts C (A refreshed by e5)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_lru_")
        val input = MemoryStream[Ev]
        val out = DedupStream.dedupBounded(input.toDS(),
          ttlMs = 600000L, maxEntries = 2, shards = 1)
        val q = out.writeStream.format("memory").queryName(s"lru_out_$store")
          .option("checkpointLocation", ckpt.toString)
          .outputMode(OutputMode.Append).start()
        try {
          input.addData(batch1: _*); q.processAllAvailable()
          input.addData(batch2: _*); q.processAllAvailable()
          val got = spark.table(s"lru_out_$store").collect().map(_.getLong(0)).toSet
          // the shared-walker in-memory replay over the same arrival order
          // — the spec and the operator drive ONE LruWalker
          val w = new DedupStream.LruWalker(600000L, 2, Nil)
          val expect = (batch1 ++ batch2).sortBy(e => (e.ts.getTime, e.event_id))
            .filter(e => w.admit(DedupStream.contentKeyOf(e), e.ts.getTime))
            .map(_.event_id).toSet
          assert(got === expect, store)
          // the hand-computed truth: a hash-slot cache could not
          // produce this set (B evicted by RECENCY, A kept through it)
          assert(got === Set(1L, 2L, 4L, 6L), store)
          val maxState = maxCacheEntries(ckpt.toString, q)
          assert(maxState > 0 && maxState <= 2,
            s"$store: state exceeded the maxEntries bound: $maxState entries")
        } finally { q.stop(); TestSpark.deleteRecursively(ckpt) }

        // ample capacity (never evicts): the LRU cache ≡ the exact
        // ttl-chain semantics per content key
        val mixed = Seq(ev(10, base), ev(11, base + 1000),
          ev(12, base + 30000), ev(13, base + 700000),
          ev(14, base + 2000, user = 2), ev(15, base + 3000, user = 2))
        val in2 = MemoryStream[Ev]
        val q2 = DedupStream.dedupBounded(in2.toDS(),
            ttlMs = 60000L, maxEntries = 64, shards = 2)
          .writeStream.format("memory").queryName(s"lru_ample_$store")
          .outputMode(OutputMode.Append).start()
        try {
          in2.addData(mixed.take(3): _*); q2.processAllAvailable()
          in2.addData(mixed.drop(3): _*); q2.processAllAvailable()
          val got2 = spark.table(s"lru_ample_$store").collect().map(_.getLong(0)).toSet
          val expect2 = mixed.groupBy(DedupStream.contentKeyOf).values
            .flatMap(g => DedupStream.chainPrimes(
              g.sortBy(e => (e.ts.getTime, e.event_id)), 60000L, None)._1.map(_.event_id))
            .toSet
          assert(got2 === expect2, store)
        } finally q2.stop()
      }
  }

  test("streaming session windows merge within gap and close on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val input = MemoryStream[Ev]
    val sessions = DedupStream.sessionStats(input.toDS(), gap = "30 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10 min apart (one session), then one 2h
      // later (new session); user 2: a single event
      input.addData(ev(1, base), ev(2, base + 600000),
        ev(3, base + 7200000), ev(4, base + 1000, user = 2))
      q.processAllAvailable()
      // push the watermark past everything so all sessions close
      input.addData(ev(99, base + 36000000, user = 99))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select("user_id", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
      assert(rows(1L) === List(1L, 2L)) // one 2-event session + one 1-event session
      assert(rows(2L) === List(1L))
    } finally q.stop()
  }

  test("streaming windowed analytics counts primes/dups with delays") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val input = MemoryStream[Ev]
    val annotated = DedupStream.annotate(input.toDS(), ttlMs = 600000L)
    val q = annotated.writeStream.format("memory").queryName("ann_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, base), ev(2, base + 5000), ev(3, base + 8000, user = 3))
      q.processAllAvailable()
      val rows = spark.table("ann_out").collect()
        .map(r => (r.getLong(0), r.getBoolean(2), r.getLong(3))).sortBy(_._1)
      assert(rows === Array((1L, false, 0L), (2L, true, 5000L), (3L, false, 0L)))
    } finally q.stop()
  }

  /** Two event types in event-time order: 5 stable values per type,
    * then a spike (prefix-inclusive 2σ needs ≥5 prior points: m
    * stable + spike flags iff m > 4), then a post-spike stable value
    * (σ now inflated → not flagged).
    */
  private val anomalyEvents: Seq[Ev] = {
    val base = 1700000000000L
    def evv(id: Long, tMs: Long, v: Double, typ: String) =
      Ev(id, new java.sql.Timestamp(tMs), 1L, typ, v, "{}")
    Seq(
      evv(1, base, 10.0, "a"), evv(2, base + 1000, 10.2, "a"),
      evv(20, base + 1500, 5.0, "b"), evv(3, base + 2000, 9.9, "a"),
      evv(21, base + 2500, 5.1, "b"), evv(4, base + 3000, 10.1, "a"),
      evv(22, base + 3500, 4.9, "b"), evv(5, base + 4000, 10.0, "a"),
      evv(23, base + 4500, 5.0, "b"), evv(24, base + 5000, 5.2, "b"),
      evv(6, base + 6000, 300.0, "a"), evv(25, base + 6500, 400.0, "b"),
      evv(7, base + 7000, 10.0, "a"))
  }

  /** The prefix-stats replay of `events` through the shared kernel,
    * whole stream per type.
    */
  private def anomalyReplay(events: Seq[Ev]): Seq[AnomalyStream.AnomalyFlag] =
    events.groupBy(_.event_type).values.flatMap { g =>
      AnomalyStream.foldSlice(g, AnomalyStream.TypeStats(0L, 0L, 0L))._1
    }.toSeq.sortBy(_.event_id)

  test("streaming anomaly flags equal the prefix-stats replay across splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = anomalyEvents
    // two different time-respecting splits must give identical output
    val outputs = Seq(Seq(all), Seq(all.take(7), all.drop(7))).map { splits =>
      val input = MemoryStream[Ev]
      val q = AnomalyStream.anomalyStream(input.toDS()).writeStream
        .format("memory").queryName(s"anom_out_${splits.size}")
        .outputMode(OutputMode.Append).start()
      try {
        splits.foreach { s => input.addData(s: _*); q.processAllAvailable() }
        spark.table(s"anom_out_${splits.size}").collect()
          .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getBoolean(4))))
          .sortBy(_._1)
      } finally q.stop()
    }
    assert(outputs.head === outputs.last)
    // exact prefix replay via the shared kernel, whole stream per type
    val expect = anomalyReplay(all)
      .map(f => (f.event_id, (f.cents, f.n_so_far, f.is_outlier)))
    assert(outputs.head.toSeq === expect)
    // the spike events are flagged; stable and post-spike ones aren't
    val flags = outputs.head.toMap.view.mapValues(_._3).toMap
    assert(flags(6L) && flags(25L) && !flags(2L) && !flags(24L) && !flags(7L))
  }

  test("streaming gopher gate across micro-batches equals the batch rule audit") {
    import graft.operators.TextAnalysis
    import graft.streaming.CleanStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // three uneven splits: the gate is stateless, so split placement
    // must not matter
    val (b1, rest) = docs.splitAt(docs.length / 3)
    val (b2, b3) = rest.splitAt(1)
    val input = MemoryStream[(Long, String)]
    val out = TextAnalysis.docsGopherRulesOn(input.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("gopher_gate")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      input.addData(b3.toSeq: _*); q.processAllAvailable()
      val got = spark.table("gopher_gate").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_words"), r.getAs[Boolean]("pass"))).toMap
      val expect = TextAnalysis.docsGopherRules(spark, sf).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_words"), r.getAs[Boolean]("pass"))).toMap
      assert(got === expect)
      // and the keep reduction is exactly the pass subset
      assert(CleanStream.gopherKeep(
        graft.Tables.documents(spark, sf).select("doc_id", "text")).count() ===
        expect.values.count(_._2))
    } finally q.stop()
  }

  test("streaming ingest pipeline (gate then dedup) equals the batch composition") {
    import graft.operators.TextAnalysis
    import graft.streaming.CleanStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // arrival follows doc_id (the ingest contract) across 3 splits
    val (b1, rest) = docs.splitAt(docs.length / 2)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val input = MemoryStream[(Long, String)]
    val out = CleanStream.ingestPipeline(input.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("ingest_pipe")
      .outputMode(OutputMode.Append).start()
    try {
      Seq(b1, b2, b3).foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
      val got = spark.table("ingest_pipe").collect()
        .map(_.getAs[Long]("doc_id")).sorted.toSeq
      // batch replay: gate pass ∧ first (min doc_id) per content hash
      val gated = TextAnalysis.docsGopherRules(spark, sf).collect()
        .filter(_.getAs[Boolean]("pass")).map(_.getAs[Long]("doc_id")).toSet
      val byHash = docs.filter(d => gated(d._1))
        .groupBy(_._2).values.map(_.map(_._1).min).toSeq.sorted
      assert(got === byHash)
    } finally q.stop()
  }

  test("ingest pipeline dedup runs unchanged on the RocksDB state store") {
    // the disk-backed store is the 100 TB state answer (dedup-key
    // state larger than executor heap spills to local RocksDB instead
    // of OOMing the HDFS-backed in-memory map); output must be
    // provider-invariant
    import graft.streaming.CleanStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    withConf(rocksDbStore) {
      val input = MemoryStream[(Long, String)]
      val q = CleanStream.ingestPipeline(input.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("rocksdb_pipe")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(b1.toSeq: _*); q.processAllAvailable()
        input.addData(b2.toSeq: _*); q.processAllAvailable()
        val got = spark.table("rocksdb_pipe").collect()
          .map(_.getAs[Long]("doc_id")).sorted.toSeq
        val gated = graft.operators.TextAnalysis.docsGopherRules(spark, sf)
          .collect().filter(_.getAs[Boolean]("pass"))
          .map(_.getAs[Long]("doc_id")).toSet
        val expect = docs.filter(d => gated(d._1))
          .groupBy(_._2).values.map(_.map(_._1).min).toSeq.sorted
        assert(got === expect)
      } finally q.stop()
    }
  }

  test("alert sink leg: date-partitioned parquet alerts survive a restart exactly-once, " +
    "flagged from recovered dedup state") {
    import graft.sinks.GraftSink
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L - (1700000000000L % 60000L) // minute-aligned
    withConf(noCorrectnessCheck) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_alerts_").toString
      val outPath = s"$tmp/alerts"; val ckpt = s"$tmp/ckpt"
      val input = MemoryStream[Ev]
      def freshQuery() = GraftSink.startDatePartitionedSink(
        DedupStream.alerts(DedupStream.windowedStats(
          DedupStream.annotate(input.toDS(), ttlMs = 3600000L))),
        outPath, ckpt, tsCol = "window_start")
      val q1 = freshQuery()
      try {
        // minute 0: 1 prime + 2 dups (ratio 2.0 → high-dup); minute 1:
        // lone prime (ratio 0 → feed-down); minute 20: watermark
        // advancer (its own lone-prime window alerts feed-down later)
        input.addData(ev(1, base), ev(2, base + 9000), ev(5, base + 18000),
          ev(3, base + 60000, user = 9), ev(20, base + 1200000, user = 99))
        q1.processAllAvailable()
        q1.stop() // forced shutdown after minutes 0-1 were committed
        // arrivals while down: minute 21 repeats minute-0 CONTENT — the
        // restarted query can only flag these as duplicates (ratio 2.0
        // high-dup, not 0.5 feed-down) if the anchor state survived in
        // the checkpoint; plus a far-future advancer to flush all
        input.addData(ev(30, base + 1260000), ev(31, base + 1269000),
          ev(32, base + 1278000, user = 77), ev(99, base + 7200000, user = 55))
        val q2 = freshQuery()
        try q2.processAllAvailable() finally q2.stop()
        val got = spark.read.parquet(outPath)
          .select("window_start", "primes", "duplicates", "alert_high_dup", "alert_feed_down")
          .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
            r.getBoolean(3), r.getBoolean(4))).sortBy(_._1).toSeq
        // exactly-once: the pre-kill windows appear exactly once
        assert(got.map(_._1).distinct.size === got.size, "restart duplicated alert output")
        assert(got === Seq(
          (base, 1L, 2L, true, false),
          (base + 60000, 1L, 0L, false, true),
          (base + 1200000, 1L, 0L, false, true),
          (base + 1260000, 1L, 2L, true, false)))
        // the sink really is date-partitioned (downstream prunes on dir)
        val dirs = new java.io.File(outPath).listFiles().map(_.getName).filter(_.startsWith("p_date="))
        assert(dirs.nonEmpty, s"no p_date partition dirs under $outPath")
      } finally TestSpark.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
  }

  test("ingest pipeline resumes from its checkpoint: recovered dedup state, exactly-once file output") {
    import graft.operators.TextAnalysis
    import graft.streaming.CleanStream
    import graft.sinks.GraftSink
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_restart_").toString
    val outPath = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (b1, b2) = docs.splitAt(docs.length / 2)
    // duplicate CONTENT re-arriving after the restart under new ids:
    // dropping it requires the dedup state store to survive the kill
    val redelivered = b1.take(5).map { case (id, t) => (id + 1000000L, t) }
    val input = MemoryStream[(Long, String)]
    def freshQuery() = GraftSink.startFileSink(
      CleanStream.ingestPipeline(input.toDF().toDF("doc_id", "text")),
      outPath, ckpt)
    val q1 = freshQuery()
    input.addData(b1.toSeq: _*); q1.processAllAvailable()
    q1.stop() // forced shutdown mid-stream
    // arrivals continue while the query is down; the restarted query
    // must pick them up from the checkpointed source offsets
    input.addData((b2 ++ redelivered).toSeq: _*)
    val q2 = freshQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outPath).collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    // exactly-once: the restart must not re-emit batch-1 output
    assert(got.distinct.size === got.size, "restart duplicated sink output")
    // batch replay over the FULL arrival sequence (original + late
    // duplicates): gate pass, then first (min doc_id) per content
    // hash — the redelivered copies must lose to their originals
    val gatedTexts = TextAnalysis.docsGopherRules(spark, sf).collect()
      .filter(_.getAs[Boolean]("pass")).map(_.getAs[Long]("doc_id")).toSet
    val all = docs ++ redelivered
    val expect = all
      .filter(d => gatedTexts(if (d._1 >= 1000000L) d._1 - 1000000L else d._1))
      .groupBy(_._2).values.map(_.map(_._1).min).toSeq.sorted
    assert(got === expect)
  }

  /** `triggers` through `op` into a checkpointed file sink; returns the
    * committed rows, sorted. The query stops after trigger `stopAfter`,
    * the next trigger's rows arrive while it is down, and it restarts
    * on the same checkpoint.
    */
  private def restartRun[T: Encoder](triggers: Seq[Seq[T]], stopAfter: Int)
      (op: Dataset[T] => DataFrame): Seq[Row] = {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_restart_").toString
    val input = MemoryStream[T]
    def start() =
      graft.sinks.GraftSink.startFileSink(op(input.toDS()), s"$tmp/out", s"$tmp/ckpt")
    try {
      var q = start()
      try triggers.zipWithIndex.foreach { case (rows, t) =>
        input.addData(rows: _*)
        if (t == stopAfter) q = start()
        q.processAllAvailable()
        if (t + 1 == stopAfter) q.stop()
      } finally q.stop()
      spark.read.parquet(s"$tmp/out").collect().toSeq.sortBy(_.toString)
    } finally TestSpark.deleteRecursively(java.nio.file.Paths.get(tmp))
  }

  test("ttl chain and bounded cache restart from their checkpoint after any trigger " +
    "with the uninterrupted run's output, on both state stores") {
    import spark.implicits._
    val base = 1700000000000L
    val ttl = 60000L
    val triggers = Seq(
      Seq(ev(1, base), ev(2, base + 1000, user = 2)),
      Seq(ev(3, base + 2000, user = 3)),
      Seq(ev(4, base + 10000, user = 3), // dup of 3, whose prime came before the stop
        ev(5, base + 20000)), // chain: dup of 1; one slot: evicts 3's key
      Seq(ev(6, base + 30000), // dup of 5 in the slot, of 1 in the chain
        ev(8, base + 40000, user = 3), // chain: dup of 3; one slot: evicted, readmitted
        ev(7, base + 90000, user = 2))) // 2's anchor is past the ttl: prime
    def run(op: Dataset[Ev] => Dataset[Ev], stopAfter: Int): Seq[Long] =
      restartRun(triggers, stopAfter)(op(_).toDF()).map(_.getAs[Long]("event_id")).sorted
    // two entries, one segment: the LruWalker replay of the triggers
    // in (ts, event_id) order. 3 evicts 1 (least recently accessed), 5
    // evicts 2, and 7 finds the entries of 5 and 3 expired
    val lru = new DedupStream.LruWalker(ttl, 2, Nil)
    val lruPrimes = triggers.flatMap(_.sortBy(e => (e.ts.getTime, e.event_id)))
      .filter(e => lru.admit(DedupStream.contentKeyOf(e), e.ts.getTime))
      .map(_.event_id).sorted
    assert(lruPrimes === Seq(1L, 2L, 3L, 5L, 7L))
    val ops = Seq[(String, Dataset[Ev] => Dataset[Ev], Seq[Long])](
      ("dedupTtlChain", DedupStream.dedupTtlChain(_, ttl), Seq(1L, 2L, 3L, 7L)),
      ("dedupBounded", DedupStream.dedupBounded(_, ttl, maxEntries = 1),
        Seq(1L, 2L, 3L, 5L, 7L, 8L)),
      ("dedupBounded(2 entries)", DedupStream.dedupBounded(_, ttl, maxEntries = 2, shards = 1),
        lruPrimes))
    for ((store, confs) <- Seq("default" -> Seq.empty, "RocksDB" -> Seq(rocksDbStore)))
      withConf(confs: _*) {
        ops.foreach { case (name, op, expect) =>
          val uninterrupted = run(op, stopAfter = triggers.size)
          assert(uninterrupted === expect, s"$name, $store store")
          (1 until triggers.size).foreach { i =>
            assert(run(op, stopAfter = i) === uninterrupted,
              s"$name, $store store, stopped after trigger $i")
          }
        }
      }
  }

  test("anomaly stream restarts from its checkpoint after any trigger with the " +
    "uninterrupted run's flags, on both state stores") {
    import spark.implicits._
    val all = anomalyEvents
    // time-respecting triggers; the spikes arrive in the last one
    val triggers = Seq(all.take(3), all.slice(3, 7), all.slice(7, 10), all.drop(10))
    val expect = anomalyReplay(all).map(f =>
      Row(f.event_id, f.event_type, f.cents, f.n_so_far, f.is_outlier)).sortBy(_.toString)
    assert(expect.count(_.getBoolean(4)) === 2, "no spike flagged: the spec would be vacuous")
    def run(stopAfter: Int): Seq[Row] =
      restartRun(triggers, stopAfter)(AnomalyStream.anomalyStream(_).toDF())
    for ((store, confs) <- Seq("default" -> Seq.empty, "RocksDB" -> Seq(rocksDbStore)))
      withConf(confs: _*) {
        val uninterrupted = run(stopAfter = triggers.size)
        assert(uninterrupted === expect, s"$store store")
        (1 until triggers.size).foreach { i =>
          assert(run(stopAfter = i) === uninterrupted, s"$store store, stopped after trigger $i")
        }
      }
  }

  test("heavy hitters and keep-latest compaction restart from their checkpoint after " +
    "any trigger with the uninterrupted run's output (RocksDB store)") {
    import spark.implicits._
    // heavy hitters, two counters per shard: later triggers evict
    val (k, shards) = (2, 2)
    val words = Seq(Seq("a", "b", "a", "c"), Seq("d", "a", "e"), Seq("b", "b", "f"),
      Seq("g", "a", "c", "c"))
    // replay: each trigger folds a touched shard's rows in arrival
    // order and emits that shard's whole summary at its next gen
    val counters = Array.fill(shards)(scala.collection.mutable.HashMap.empty[String, (Long, Long)])
    val gens = Array.fill(shards)(0L)
    val hitters = words.flatMap { rows =>
      rows.groupBy(w => math.floorMod(w.hashCode, shards)).toSeq.flatMap { case (sh, ws) =>
        ws.foreach(DedupStream.spaceSavingStep(counters(sh), _, k))
        gens(sh) += 1
        counters(sh).toSeq.map { case (it, (c, e)) => Row(sh, gens(sh), it, c, e) }
      }
    }.sortBy(_.toString)
    assert(hitters.exists(_.getLong(4) > 0), "no eviction: the spec would be vacuous")

    // keep-latest, 60 s flush horizon, 10 s watermark delay
    val base = 1700000000000L
    def e(id: Long, tMs: Long, user: Long, typ: String) =
      Ev(id, new java.sql.Timestamp(base + tMs), user, typ, id.toDouble, "{}")
    val events = Seq(
      Seq(e(1, 0, 1, "a"), e(2, 1000, 1, "b"), e(3, 2000, 2, "a")),
      Seq(e(4, 5000, 1, "a"), e(5, 3000, 2, "a")), // both supersede
      Seq(e(6, 72000, 3, "a")), // watermark 62 s: flushes (1, b)
      Seq(e(7, 64000, 2, "a"), e(9, 76000, 3, "a")), // watermark 66 s: flushes (1, a)
      // reopens (1, b); the far-future fence flushes every other key
      Seq(e(8, 90000, 1, "b"), e(999, 86400000L, 99, "zz")))
    val compacted = Seq((1L, "b", 2L, 1000L), (1L, "a", 4L, 5000L), (2L, "a", 7L, 64000L),
      (3L, "a", 9L, 76000L), (1L, "b", 8L, 90000L))
      .map { case (u, t, id, ms) => Row(u, t, id, base + ms, id.toDouble) }.sortBy(_.toString)

    withConf(rocksDbStore) {
      def check[T: Encoder](name: String, triggers: Seq[Seq[T]], expect: Seq[Row])
          (op: Dataset[T] => DataFrame): Unit = {
        val uninterrupted = restartRun(triggers, stopAfter = triggers.size)(op)
        assert(uninterrupted === expect, name)
        (1 until triggers.size).foreach { i =>
          assert(restartRun(triggers, stopAfter = i)(op) === uninterrupted,
            s"$name, stopped after trigger $i")
        }
      }
      check("heavyHitters", words, hitters)(DedupStream.heavyHitters(_, k, shards).toDF())
      check("compactLatest", events, compacted)(
        DedupStream.compactLatest(_, flushMs = 60000L, watermark = "10 seconds").toDF())
    }
  }
}
