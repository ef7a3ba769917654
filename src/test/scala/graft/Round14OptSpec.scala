package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{VectorFunctions => V}

/** Round-14 OPTIMIZATION equivalences: the driver-frontier renderings
  * that replaced per-round plan bookkeeping this round are pinned
  * row-for-row against the retained unrolled originals, on the real
  * corpus AND on the edge shapes (zero vectors → null sims, empty
  * seeds, dangling edges, rounds past the fixed point).
  */
class Round14OptSpec extends SparkSpec {

  /** The pre-round-14 fully-plan-side rendering of
    * [[graft.operators.Ann.beamSearchOn]] — every round a window +
    * edge join + dedup aggregate over lazy checkpoints. Kept as the
    * equality anchor the driver-frontier tests below pin against:
    * identical output rows for every (k, beam, rounds, entries) shape.
    */
  private def beamSearchOnUnrolled(rawEdges: DataFrame, rawNodes: DataFrame,
                                  q: DataFrame, k: Int, beam: Int,
                                  rounds: Int,
                                  entries: Option[DataFrame] = None): DataFrame = {
    val edges = rawEdges.localCheckpoint(eager = false)
    val nodes = rawNodes.localCheckpoint(eager = false)
    val entry = nodes.agg(min("vec_id").as("vec_id"))
    val sim = V.cosineWithNorms(V.dot(col("q_emb"), col("embedding")), col("q_n2"), col("n2"))
    def scoreKeys(keys: DataFrame): DataFrame =
      keys.join(nodes, "vec_id").join(broadcast(q), "q_id")
        .select(col("q_id"), col("vec_id"), sim.as("sim"))
    val wB = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    val seedKeys = entries match {
      case Some(e) => e.select(col("q_id"), col("vec_id"))
      case None => q.select("q_id").crossJoin(broadcast(entry))
    }
    var visited = scoreKeys(seedKeys)
      .localCheckpoint(eager = false)
    for (_ <- 1 to rounds) {
      val beamDf = visited.withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= beam).select("q_id", "vec_id")
      // round-13: the former distinct() + left_anti(visited) prune
      // before scoring is folded into ONE dedup aggregate after the
      // union — scoring is a deterministic function of (q_id,
      // vec_id), so every duplicate (in-round or vs visited) carries
      // the IDENTICAL sim and max() reproduces the single-scored
      // value exactly; the re-scored keys are bounded (≤ Q·beam·k a
      // round). Two bounded-frame exchanges per round become one.
      val newKeys = beamDf.join(edges, col("vec_id") === col("src"))
        .select(col("q_id"), col("dst").as("vec_id"))
      visited = visited.unionByName(scoreKeys(newKeys))
        .groupBy("q_id", "vec_id").agg(max("sim").as("sim"))
        .localCheckpoint(eager = false)
    }
    visited.filter(col("q_id") =!= col("vec_id"))
      .withColumn("rnk", row_number().over(wB))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("vec_id").as("n_id"), round(col("sim"), 6).as("sim"))
  }

  private def nodesOf(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"), V.normSq(col("embedding")).as("n2"))

  private def qOf(nodes: DataFrame, n: Int): DataFrame =
    nodes.filter(col("vec_id") < n)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"))

  private def assertSameRows(a: DataFrame, b: DataFrame, tag: String): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ===
      b.schema.map(f => (f.name, f.dataType)), s"$tag schema diverged")
    val d1 = a.exceptAll(b)
    val d2 = b.exceptAll(a)
    assert(d1.isEmpty && d2.isEmpty,
      s"$tag rows diverged: +${d1.take(5).mkString(";")} -${d2.take(5).mkString(";")}")
  }

  test("beamSearchOn driver-frontier ≡ unrolled on the corpus (chain edges, single + multi entry)") {
    val e = Tables.embeddings(spark, sf)
    val nodes = nodesOf(e)
    // deterministic sparse graph over the real embeddings: ring + skip
    val ids = nodes.select(col("vec_id"))
    val edges = ids.select(col("vec_id").as("src"), (col("vec_id") + 1).as("dst"))
      .union(ids.select(col("vec_id").as("src"), (col("vec_id") + 7).as("dst")))
      .union(ids.select(col("vec_id").as("src"), (col("vec_id") - 3).as("dst")))
    val q = qOf(nodes, 6)
    for ((k, beam, rounds) <- Seq((5, 4, 3), (3, 2, 1), (5, 4, 6))) {
      assertSameRows(
        graft.operators.Ann.beamSearchOn(edges, nodes, q, k, beam, rounds),
        beamSearchOnUnrolled(edges, nodes, q, k, beam, rounds),
        s"beam single-entry k=$k beam=$beam rounds=$rounds")
    }
    // multi-entry seeds: every query starts from two fixed nodes
    val seeds = q.select(col("q_id")).crossJoin(
      ids.filter(col("vec_id") % 41 === 0).select(col("vec_id"))).distinct()
    assertSameRows(
      graft.operators.Ann.beamSearchOn(edges, nodes, q, 5, 3, 3, Some(seeds)),
      beamSearchOnUnrolled(edges, nodes, q, 5, 3, 3, Some(seeds)),
      "beam multi-entry")
  }

  test("beamSearchOn edge shapes: zero vectors (null sim), dangling edges, empty seeds") {
    import spark.implicits._
    val raw = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.2f)), (4L, Array(0.5f, 0.5f)), (5L, Array(0.1f, -0.9f)))
      .toDF("vec_id", "embedding")
    val nodes = nodesOf(raw)
    val q = qOf(nodes, 2)
    // dangling dst 99 (not a node), zero-vector node 2 in every path
    val edges = Seq((0L, 2L), (2L, 3L), (0L, 99L), (1L, 2L), (3L, 4L), (4L, 5L),
      (5L, 0L)).toDF("src", "dst")
    for ((k, beam, rounds) <- Seq((3, 2, 4), (2, 1, 8))) {
      assertSameRows(
        graft.operators.Ann.beamSearchOn(edges, nodes, q, k, beam, rounds),
        beamSearchOnUnrolled(edges, nodes, q, k, beam, rounds),
        s"edge-shape k=$k beam=$beam rounds=$rounds")
    }
    // empty seed frame → empty result on both sides
    val emptySeeds = Seq.empty[(Long, Long)].toDF("q_id", "vec_id")
    assertSameRows(
      graft.operators.Ann.beamSearchOn(edges, nodes, q, 3, 2, 2, Some(emptySeeds)),
      beamSearchOnUnrolled(edges, nodes, q, 3, 2, 2, Some(emptySeeds)),
      "empty seeds")
  }

  test("beamSearchOn reaches its fixed point past a dangling edge: extra rounds schedule no jobs") {
    import spark.implicits._
    val raw = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val nodes = nodesOf(raw)
    val q = qOf(nodes, 2)
    // dangling dst 99; the first round reaches every node, so the
    // second finds no untried key and the frontier is exhausted
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 99L), (1L, 0L), (2L, 0L)).toDF("src", "dst")
    val jobs = Seq(2, 6).map(r =>
      jobsScheduledBy(graft.operators.Ann.beamSearchOn(edges, nodes, q, 2, 4, r)))
    assert(jobs.head > 0 && jobs(1) === jobs.head,
      s"rounds = 2 scheduled ${jobs.head} jobs, rounds = 6 ${jobs(1)}")
    assertSameRows(
      graft.operators.Ann.beamSearchOn(edges, nodes, q, 2, 4, 6),
      beamSearchOnUnrolled(edges, nodes, q, 2, 4, 6),
      "dangling edge past the fixed point")
  }
}
