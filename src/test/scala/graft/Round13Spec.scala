package graft

import org.apache.spark.sql.functions._

/** Round-13 invariants: manifest maintenance for the incremental
  * near-dup loop (append ≡ rebuild), the label-propagation
  * convergence monitor, and multi-entry beam seeding.
  */
class Round13Spec extends SparkSpec {

  test("manifest append ≡ full rebuild: batch₂ vs history ∪ batch₁") {
    import graft.operators.NearDup
    // three disjoint corpus slices: h (history), b1 (first accepted
    // batch), b2 (the batch under test)
    val docs = Tables.documents(spark, sf)
    val sliced = NearDup.shingledDocs(docs).localCheckpoint()
    val h = sliced.filter(pmod(col("doc_id"), lit(5L)).isin(2L, 3L, 4L))
    val b1 = sliced.filter(pmod(col("doc_id"), lit(5L)) === 1L)
    val b2 = sliced.filter(pmod(col("doc_id"), lit(5L)) === 0L)
    val tMaint = "graft_r13_manifest_maint"
    val tRebuild = "graft_r13_manifest_rebuild"
    try {
      // production N+1 loop: write history once, APPEND b1's keys
      NearDup.writeBandManifest(spark, NearDup.bandManifestKeys(h), tMaint)
      NearDup.writeBandManifest(spark, NearDup.bandManifestKeys(b1), tMaint,
        append = true)
      // the from-scratch control: one manifest over history ∪ b1
      NearDup.writeBandManifest(spark,
        NearDup.bandManifestKeys(h.unionByName(b1)), tRebuild)
      val maint = NearDup.neardupAgainstManifest(b2, spark.table(tMaint), sliced)
        .localCheckpoint()
      val rebuild = NearDup.neardupAgainstManifest(b2, spark.table(tRebuild), sliced)
      assert(maint.exceptAll(rebuild).isEmpty && rebuild.exceptAll(maint).isEmpty,
        "appended manifest must probe identically to a full rebuild")
      assert(maint.count() > 0,
        "fixture produced no cross-slice near-dups — spec is vacuous")
      // and the appended keys really are IN the manifest (b1 docs
      // must be probe-able as history for b2)
      assert(maint.select("hist_id")
        .filter(pmod(col("hist_id"), lit(5L)) === 1L).count() > 0,
        "no pair hit the appended batch's keys — append-path untested")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tMaint")
      spark.sql(s"DROP TABLE IF EXISTS $tRebuild")
    }
  }

  test("streaming manifest loop: two micro-batches equal the batch N+1 replay " +
    "and the tables grow by exactly the accepted batches") {
    import graft.operators.NearDup
    import graft.streaming.NearDupStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val h = docs.filter(pmod(col("doc_id"), lit(5L)).isin(2L, 3L, 4L))
    val b1 = docs.filter(pmod(col("doc_id"), lit(5L)) === 1L)
      .as[(Long, String)].collect().toSeq
    val b2 = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .as[(Long, String)].collect().toSeq
    val tM = "graft_r13_loop_manifest"; val tC = "graft_r13_loop_corpus"
    val tCtl = "graft_r13_loop_ctl" // batch-replay control manifests
    val tmp = java.nio.file.Files.createTempDirectory("graft_r13_loop")
    val pairsDir = s"$tmp/pairs"; val ckpt = s"$tmp/ckpt"
    try {
      NearDupStream.seedManifestTables(h, tM, tC)
      val m0 = spark.table(tM).count(); val c0 = spark.table(tC).count()
      val input = MemoryStream[(Long, String)]
      val q = NearDupStream.startManifestLoop(
        input.toDF().toDF("doc_id", "text"), tM, tC, pairsDir, ckpt)
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$pairsDir/batch=0", s"$pairsDir/batch=1")
        .select("doc_id", "hist_id", "jaccard").localCheckpoint()
      // batch-seam replay: probe(b1, h) then probe(b2, h ∪ b1)
      val hs = NearDup.shingledDocs(h).localCheckpoint()
      val b1s = NearDup.shingledDocs(b1.toDF("doc_id", "text")).localCheckpoint()
      val b2s = NearDup.shingledDocs(b2.toDF("doc_id", "text")).localCheckpoint()
      NearDup.writeBandManifest(spark, NearDup.bandManifestKeys(hs), tCtl)
      val e1 = NearDup.neardupAgainstManifest(b1s, spark.table(tCtl),
        b1s.unionByName(hs)).localCheckpoint()
      NearDup.writeBandManifest(spark, NearDup.bandManifestKeys(b1s), tCtl,
        append = true)
      val e2 = NearDup.neardupAgainstManifest(b2s, spark.table(tCtl),
        b2s.unionByName(hs).unionByName(b1s)).localCheckpoint()
      val expect = e1.unionByName(e2)
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
        "streamed pair set must equal the batch N+1 replay")
      assert(got.count() > 0, "fixture produced no pairs — spec is vacuous")
      // batch₂ really probed batch₁'s appended keys (not just seeded
      // history) — the N+1 loop's defining property
      assert(got.filter(pmod(col("hist_id"), lit(5L)) === 1L).count() > 0,
        "no batch2-vs-batch1 pair — the append path went untested")
      // write-back really happened: manifest grew by b1+b2's band keys,
      // corpus by b1+b2's docs. The appends ran on foreachBatch's
      // cloned session — refresh THIS session's cached file listing
      spark.catalog.refreshTable(tM); spark.catalog.refreshTable(tC)
      val keysAdded = NearDup.bandManifestKeys(b1s).count() +
        NearDup.bandManifestKeys(b2s).count()
      assert(spark.table(tM).count() === m0 + keysAdded)
      assert(spark.table(tC).count() === c0 + b1.size + b2.size)
    } finally {
      Seq(tM, tC, tCtl).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      TestSpark.deleteRecursively(tmp)
    }
  }

  test("label-prop convergence monitor: hand-computed rounds on the tiny fixture") {
    import graft.operators.Ann
    import spark.implicits._
    // same fixture as Round12Spec's propagation test: seeds 2,3 at
    // round 0; nodes 1,4 labeled in round 1; node 5 never labeled
    val edges = Seq((1L, 2L), (1L, 3L), (4L, 2L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(
      (1L, None: Option[Long]), (2L, Some(7L)), (3L, Some(9L)),
      (4L, None: Option[Long]), (5L, None: Option[Long])).toDF("vec_id", "label")
    val out = Ann.labelPropConvergence(Ann.labelPropOn(edges, seeds, rounds = 2))
      .collect().map(r => r.getAs[Long]("round") ->
        (r.getAs[Long]("n_new"), r.getAs[Long]("frac_e6"))).toMap
    assert(out === Map(
      -1L -> (1L, 200000L),  // node 5: never labeled
      0L -> (2L, 400000L),   // the seed set
      1L -> (2L, 400000L)))  // nodes 1 and 4; round 2 converged (absent)
  }

  test("labelPropUntilConverged stops at the fixpoint and equals every longer unroll") {
    import graft.operators.Ann
    import spark.implicits._
    // chain 1→2→3→4 with the only seed label at 4: labels walk one
    // hop per round (3 @ r1, 2 @ r2, 1 @ r3), round 4 is empty
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq((1L, None: Option[Long]), (2L, None: Option[Long]),
      (3L, None: Option[Long]), (4L, Some(7L))).toDF("vec_id", "label")
    val (traj, rounds) = Ann.labelPropUntilConverged(edges, seeds, maxRounds = 10)
    assert(rounds === 3, "chain of length 3 must converge in exactly 3 rounds")
    val fixed = Ann.labelPropOn(edges, seeds, rounds = 7)
    assert(traj.exceptAll(fixed).isEmpty && fixed.exceptAll(traj).isEmpty,
      "converged trajectory must equal any longer fixed unroll")
    // maxRounds is a hard bound: capped run equals the same-length unroll
    val (capped, ran) = Ann.labelPropUntilConverged(edges, seeds, maxRounds = 2)
    assert(ran === 2)
    val fixed2 = Ann.labelPropOn(edges, seeds, rounds = 2)
    assert(capped.exceptAll(fixed2).isEmpty && fixed2.exceptAll(capped).isEmpty)
  }

  test("convergence monitor totals the trajectory exactly") {
    import graft.operators.Ann
    val traj = Ann.embKnnLabelProp(spark, sf).localCheckpoint()
    val mon = Ann.labelPropConvergence(traj).localCheckpoint()
    assert(mon.agg(sum("n_new")).head.getLong(0) === traj.count(),
      "per-round counts must partition the node set")
    assert(mon.filter(col("frac_e6") < 0 || col("frac_e6") > 1000000).isEmpty)
  }

  test("multi-entry beam: nprobe past the cell count is a no-op (seed roster saturates)") {
    import graft.operators.Ann
    // with 16 trained cells, nprobe=16 probes every cell — any larger
    // nprobe must produce the identical search output
    val a = Ann.annGraphSearch(spark, sf, nprobe = 16).localCheckpoint()
    val b = Ann.annGraphSearch(spark, sf, nprobe = 100)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "nprobe ≥ K must saturate the seed set")
    assert(a.count() > 0)
  }

  test("multi-entry beam output shape: ≤ k ranked rows per query, dense ranks") {
    import graft.operators.Ann
    val out = Ann.annGraphSearch(spark, sf).localCheckpoint()
    val byQ = out.groupBy("q_id").agg(count(lit(1)).as("n"),
      max("rnk").as("mx"), min("rnk").as("mn"))
    assert(byQ.filter(col("n") > 5 || col("mx") =!= col("n") || col("mn") =!= 1).isEmpty,
      "each query must emit a dense 1..n ≤ k rank list")
  }
}
