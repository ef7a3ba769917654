package graft.operators

import graft.Tables
import graft.functions.{VectorFunctions => V}
import graft.plans.VecL2Sq
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the embeddings table (SURVEY.md §2.5).
  *
  * `annBruteForce` is the exact correctness baseline: broadcast the
  * (small) query set against the full corpus — a map-only pass plus
  * one shuffle for the per-query top-k. `annLsh` is the 100 TB path:
  * random-hyperplane signatures bucket the corpus so each query only
  * scans its bucket (plus probing neighbors), trading bounded recall
  * for a ~2^bits reduction in scanned rows.
  */
object Ann {

  /** Embedding dimensionality and the default LSH geometry — shared
    * with the DuckDB oracle generator (SparkEntry inlines the exact
    * plane components into the ann_lsh oracle SQL, so oracle and
    * operator always hash the same hyperplanes).
    */
  val DIM = 64
  val LSH_BITS = 8
  val LSH_TABLES = 4

  /** Exact cosine top-k for queries (vec_id < nQueries), self-matches
    * excluded. Query side is broadcast — no corpus shuffle before the
    * top-k; [[TopK.perGroup]] picks k with a vec_id tiebreak.
    *
    * The plan IS a BroadcastNestedLoopJoin — deliberately: exact
    * scoring has no equi key, and the broadcast side is the k-row
    * QUERY set (bounded), so this is a map-only corpus scan. The
    * scale-killer variant is broadcasting a full data side
    * (cf. the old emb_cosine_dedup plan); broadcasting the bounded
    * query set is the textbook shape for an exact baseline.
    */
  def annBruteForce(spark: SparkSession, dir: String,
                    nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), V.normSq(col("embedding")).as("n2"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    exactTopK(q, e, k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("sim"), 6).as("sim"))
  }

  /** Exact cosine top-k of a bounded query set (q_id, q_emb, q_n2),
    * broadcast against a node frame (vec_id, embedding, n2) with
    * self-matches excluded: the (q_id, n_id, sim) candidates through
    * [[TopK.perGroup]], so the scored scan never funnels into one sort
    * task per query.
    */
  private def exactTopK(q: DataFrame, nodes: DataFrame, k: Int): DataFrame = {
    val sim = V.cosineWithNorms(V.dot(col("q_emb"), col("embedding")), col("q_n2"), col("n2"))
    TopK.perGroup(broadcast(q).join(nodes, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), sim.as("sim")), k)
  }

  /** Per-query recall@k of an approximate top-k against the exact one:
    * exact ⟕ approx on (q_id, n_id), one count per query — n_match
    * exact neighbours the approximate side also returned, recall =
    * n_match / k. Shared by every ANN recall monitor.
    */
  private def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.select(col("q_id"), col("n_id"))
      .join(approx.select(col("q_id"), col("n_id")).withColumn("m", lit(1)),
        Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(count(col("m")).as("n_match"),
        round(count(col("m")).cast("double") / k, 4).as("recall"))

  /** Per-label embedding centroids as (label, dim, c) skinny rows —
    * the class-prototype aggregate a labeled-embedding pipeline needs
    * (nearest-prototype classification, per-class drift monitoring).
    * posexplode → one map-combinable avg per (label, dim): a single
    * shuffle of n·dim narrow rows, no driver collect (contrast the
    * IVF Lloyd pass, where K·dim is a driver constant by design).
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(round(avg(col("v").cast("double")), 6).as("c"))

  /** Recall@k of the IVF path against the exact top-k — the quality
    * monitor an ANN serving pipeline keeps running (approximate
    * indexes silently degrade as data drifts; recall against a
    * sampled exact scan is the standard guard). Left join on
    * (q_id, n_id), one count per query; both sides are the existing
    * operators, unchanged.
    */
  def annRecall(spark: SparkSession, dir: String,
                nQueries: Int = 10, k: Int = 5): DataFrame =
    recallAtK(annBruteForce(spark, dir, nQueries, k), annIvf(spark, dir), k)

  /** Recall@k of the LSH path against the exact top-k — the same
    * monitor as [[annRecall]] for the other approximate index. A
    * serving deployment tracks BOTH curves: LSH recall moves with
    * table/probe counts, IVF recall with nprobe — regressions point
    * at different knobs.
    */
  def annRecallLsh(spark: SparkSession, dir: String,
                   nQueries: Int = 10, k: Int = 5): DataFrame =
    recallAtK(annBruteForce(spark, dir, nQueries, k), annLsh(spark, dir), k)

  /** Symmetric int8 scalar quantization of the embedding column —
    * the storage/bandwidth step before any large-scale ANN serve
    * (4 B float → 1 B int per dim): per-vector scale = max|x|/127,
    * q_i = ⌊x_i/scale + 0.5⌋ (explicit half-up — engine `round`
    * half-rule differences can't bite), plus the quality numbers a
    * pipeline monitors: exact integer q_sum (hash-stable checksum of
    * the quantized codes) and the L2 reconstruction error. Map-only
    * per-row array work, no shuffle; all arithmetic in double with a
    * fixed left-to-right fold so the DuckDB oracle replays it
    * exactly (sqrt is IEEE-correctly-rounded, safe cross-engine; the
    * error term uses d*d, not libm pow). Zero vectors quantize to
    * zeros (scale 0 guard — ANSI-safe).
    */
  def embQuantize(spark: SparkSession, dir: String): DataFrame = {
    val e = transform(col("embedding"), x => x.cast("double"))
    val scale = aggregate(col("e"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0
    val qv = when(col("scale") === 0.0, transform(col("e"), _ => lit(0L)))
      .otherwise(transform(col("e"), x => floor(x / col("scale") + 0.5).cast("long")))
    val err2 = aggregate(
      zip_with(col("e"), col("qv"), (x, q) => {
        val d = x - q.cast("double") * col("scale")
        d * d
      }),
      lit(0.0), (a, x) => a + x)
    Tables.embeddings(spark, dir)
      .withColumn("e", e)
      .withColumn("scale", scale)
      .withColumn("qv", qv)
      .select(col("vec_id"),
        round(col("scale"), 6).as("q_scale"),
        aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
        round(sqrt(err2), 6).as("l2_err"))
  }

  /** Corpus gram matrix over the int8-quantized embeddings — the
    * covariance/PCA-prep reduction a whitening or dimension-reduction
    * pass needs: G[i][j] = Σ over vectors of q_i·q_j (upper triangle,
    * j ≥ i). Quantization is exactly [[embQuantize]]'s (scale =
    * max|x|/127, half-up rounding), so the gram cells are exact
    * int64 sums — bit-replayable by any engine regardless of
    * partition/merge order, unlike a float gram.
    *
    * Shape: one [[graft.functions.GramAgg]] pass (map-combinable
    * 32 KiB buffer per partition, no row inflation — the naive
    * posexplode² plan materializes n·d² product rows), then a
    * posexplode of the single d² result array back to (i, j, gram)
    * rows. The d² array is a bounded global summary (64×64), so the
    * final single-group merge is #partitions · 32 KiB — driver-scale
    * constants, same posture as the IVF centroid collects.
    */
  def embGram(spark: SparkSession, dir: String): DataFrame = {
    val e = transform(col("embedding"), x => x.cast("double"))
    val scale = aggregate(col("e"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0
    val qv = when(col("scale") === 0.0, transform(col("e"), _ => lit(0L)))
      .otherwise(transform(col("e"), x => floor(x / col("scale") + 0.5).cast("long")))
    val gram = udaf(new graft.functions.GramAgg(DIM), graft.functions.MinHashSigAgg.enc)
    Tables.embeddings(spark, dir)
      .withColumn("e", e)
      .withColumn("scale", scale)
      .select(qv.as("qv"))
      .agg(gram(col("qv")).as("g"))
      .select(posexplode(col("g")).as(Seq("pos", "gram")))
      .select(
        expr("CAST(pos div 64 AS INT)").as("i"),
        pmod(col("pos"), lit(DIM)).cast("int").as("j"),
        col("gram"))
      .filter(col("j") >= col("i"))
  }

  /** Deterministic pseudo-random hyperplanes: component h of plane p
    * is a fixed rational derived from murmur-style integer mixing —
    * reproducible across runs with no RNG state.
    */
  private[graft] def planeComponent(p: Int, h: Int): Double = {
    var x = p.toLong * 2654435761L + h.toLong * 40503L + 42L
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    // map to (-1, 1)
    (x & 0xFFFFFFL).toDouble / 0x800000L.toDouble - 1.0
  }

  /** Random-hyperplane LSH ANN, multi-table multi-probe: `tables`
    * independent `bits`-bit sign signatures bucket the corpus; each
    * query probes its bucket plus every single-bit flip in every
    * table, unions candidates, and exact cosine reranks the
    * survivors. Scanned fraction ≈ tables·(bits+1)/2^bits of the
    * corpus instead of 100% — the brute-force baseline is
    * [[annBruteForce]]; recall/cost tunes via (tables, bits).
    */
  /** t-th table's `bits`-bit sign signature of `emb` under the shared
    * data-independent hyperplane family ([[planeComponent]]) — one
    * codegen'd VecDot per plane, no shuffle.
    */
  private def sigCol(t: Int, emb: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { p =>
      val plane = (0 until DIM).map(h => planeComponent(t * bits + p, h))
      val proj = graft.plans.VecDot(emb, typedlit(plane))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  def annLsh(spark: SparkSession, dir: String, nQueries: Int = 10,
             k: Int = 5, bits: Int = LSH_BITS, tables: Int = LSH_TABLES): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), V.normSq(col("embedding")).as("n2"))
    val e = base.select(col("vec_id"), col("embedding"), col("n2"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), sigCol(t, col("embedding"), bits).as("sig"))): _*)).as("ts"))
      .select(col("vec_id"), col("embedding"), col("n2"),
        col("ts.t").as("t"), col("ts.sig").as("sig"))
    // probes: each table's own bucket + every single-bit flip
    val flips = array((lit(0L) +: (0 until bits).map(b => lit(1L << b))): _*)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"), col("t"), explode(flips).as("flip"), col("sig"))
      .select(col("q_id"), col("q_emb"), col("q_n2"), col("t").as("qt"),
        col("sig").bitwiseXOR(col("flip")).as("probe_sig"))
    val sim = V.cosineWithNorms(V.dot(col("q_emb"), col("embedding")), col("q_n2"), col("n2"))
    val cand = broadcast(q).join(e,
        col("qt") === col("t") && col("probe_sig") === col("sig") &&
          col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), sim.as("sim"))
      .distinct() // a pair colliding in several tables scores once
    TopK.perGroup(cand, k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("sim"), 6).as("sim"))
  }

  /** IVF (inverted-file) ANN: K deterministic centroids (the vectors
    * with the K smallest vec_ids seed Lloyd; `iters` refinement
    * rounds as DataFrame aggregates), every vector assigned to its
    * nearest centroid (inverted lists = a cluster column), queries
    * scan only their `nprobe` nearest clusters' lists. The centroid
    * pass is a groupBy average — one small shuffle per iteration; the
    * query pass joins on cluster id, scanning ~nprobe/K of the
    * corpus. Deterministic end-to-end (no RNG).
    */
  /** Argmin over centroids of squared distance == argmax of
    * (dot - ||c||²/2) for fixed vector norm.
    */
  private def nearestCentroid(cs: Seq[(Int, Array[Double])]): org.apache.spark.sql.Column = {
    // greatest() requires ≥ 2 args — a 1-centroid quantizer assigns
    // everything to it (ADVICE round-13; same guard as rqModel)
    if (cs.isEmpty) throw new IllegalArgumentException(
      "quantizer training produced no centroids")
    if (cs.size == 1) return lit(cs.head._1)
    val scored = cs.map { case (cid, c) =>
      val score = graft.plans.VecDot(col("embedding"), typedlit(c.toSeq)) -
        lit(c.map(x => x * x).sum / 2.0)
      struct(score.as("s"), lit(cid).as("cid"))
    }
    greatest(scored: _*).getField("cid")
  }

  /** Above this K, quantizer assignment switches from the K-literal
    * expression rendering (greatest/sort_array over K inlined
    * structs — fastest at small K, but the plan stops codegen-ing
    * and eventually compiling past a few hundred centroids) to the
    * FOLDED rendering ([[centFold]] + a per-row HOF over the
    * broadcast centroid array — the emb_kmeans_train shape, linear
    * at any K). A test seam: the equality spec forces both paths
    * over the same K through [[withLiteralKMax]]. @volatile so a
    * mid-test mutation is at least visible across threads; the
    * try/finally scoping in the helper assumes suites run the seam
    * single-threaded (ScalaTest's default here) — concurrent queries
    * during the window would read the overridden value.
    */
  @volatile private[graft] var literalKMax = 64

  /** Scoped override of [[literalKMax]] — restores the previous value
    * on every exit path so a failing spec body cannot leak the
    * override into later suites.
    */
  private[graft] def withLiteralKMax[A](v: Int)(body: => A): A = {
    val prev = literalKMax
    literalKMax = v
    try body finally literalKMax = prev
  }

  /** The K-row centroid table folded to ONE row (`cs`: array of
    * (cid, cvec, h) structs, cid-sorted) — driver constants shipped
    * as broadcast DATA instead of plan literals. `h` = ‖c‖²/2 summed
    * on the driver exactly like the literal path's `lit(...)`, so
    * scores are bit-identical across renderings.
    */
  private def centFold(spark: SparkSession, cents: Seq[(Int, Array[Double])]): DataFrame =
    spark.createDataFrame(cents.map { case (cid, c) =>
        (cid, c.toSeq, c.map(x => x * x).sum / 2.0) })
      .toDF("cid", "cvec", "h")
      .agg(sort_array(collect_list(struct(col("cid"), col("cvec"), col("h")))).as("cs"))

  /** Per-row scored-centroid array over the folded `cs` column:
    * struct(s = ⟨x, c⟩ − ‖c‖²/2, cid) per centroid, via the
    * codegen'd [[graft.plans.VecDot]] kernel (one flat eval per
    * element inside the HOF — the VecL2Sq precedent). (s, cid)
    * struct comparisons give the same argmax/top-n tie semantics as
    * the literal greatest/sort_array rendering.
    */
  private def scoredFoldArr: org.apache.spark.sql.Column =
    transform(col("cs"), cc => struct(
      (graft.plans.VecDot(col("embedding"), cc.getField("cvec")) - cc.getField("h")).as("s"),
      cc.getField("cid").as("cid")))

  /** Trained IVF coarse quantizer: centroids as a local
    * Seq[(cid, Array[Double])] — K·dim doubles, driver constants —
    * refined with `iters` Lloyd iterations executed as Spark
    * aggregates. Shared by [[annIvf]] and [[embIvfAdc]].
    */
  private def ivfCentroids(e: DataFrame, clusters: Int, iters: Int): Seq[(Int, Array[Double])] =
    ivfCentroidsOn(e, e, clusters, iters)

  /** [[ivfCentroids]] with the seed frame and the Lloyd-refinement
    * frame split: seeds always come from `seedFrom` (vec_id <
    * clusters — the full corpus, so a sampled run still gets all K
    * seeds), while the per-iteration assignment/means statistics run
    * over `refineOn`. With `refineOn` a bounded sample this caps the
    * TRAINING cost at sample·K regardless of corpus size — the
    * standard web-scale quantizer recipe (train on a sample, assign
    * the full corpus), used by [[embSemanticPairsRouted]].
    */
  private def ivfCentroidsOn(seedFrom: DataFrame, refineOn: DataFrame,
                             clusters: Int, iters: Int): Seq[(Int, Array[Double])] = {
    var cents: Seq[(Int, Array[Double])] = seedFrom.filter(col("vec_id") < clusters)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt,
        r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq.sortBy(_._1)
    for (_ <- 0 until iters) {
      val e = refineOn
      val assigned =
        if (cents.size <= literalKMax) e.withColumn("cid", nearestCentroid(cents))
        else e.crossJoin(broadcast(centFold(e.sparkSession, cents)))
          .withColumn("cid", array_max(scoredFoldArr).getField("cid"))
          .drop("cs")
      // means are ROUNDED to 4 decimals: a distributed avg's partial-
      // sum merge order varies with partitioning (and any external
      // recomputation sums in yet another order), so unrounded
      // centroids would make near-tie cluster assignments flip by an
      // ulp across runs/engines — rounding pins the refined centroids
      // to engine-independent values (CLAUDE.md float-aggregate rule)
      val means = assigned.groupBy("cid")
        .agg(array((0 until 64).map(i =>
          round(avg(element_at(col("embedding"), i + 1).cast("double")), 4)): _*).as("c"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
      // keep any centroid that lost all members unchanged
      val kept = cents.toMap ++ means.toMap
      cents = kept.toSeq.sortBy(_._1)
    }
    cents
  }

  def annIvf(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
             clusters: Int = 16, nprobe: Int = 4, iters: Int = 1): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), V.normSq(col("embedding")).as("n2"))
    val cents = ivfCentroids(e, clusters, iters)
    val assigned = e.withColumn("cid", nearestCentroid(cents))
    // per-query probe list: nprobe nearest centroids (computed the
    // same declarative way — a tiny cross of queries x centroids;
    // the resulting BroadcastNestedLoopJoin broadcasts the K-row
    // centroid table, i.e. the bounded side — a map-only pass)
    val centDf = spark.createDataFrame(cents.map { case (cid, c) => (cid, c) })
      .toDF("cid", "cvec")
    val qProbes = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
      .crossJoin(broadcast(centDf))
      .withColumn("score", graft.plans.VecDot(col("q_emb"), col("cvec")) -
        graft.plans.VecDot(col("cvec"), col("cvec")) / 2.0)
      .withColumn("crnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("cid"))))
      .filter(col("crnk") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("q_n2"), col("cid"))
    val sim2 = V.cosineWithNorms(V.dot(col("q_emb"), col("embedding")), col("q_n2"), col("n2"))
    val cand = broadcast(qProbes).join(assigned, Seq("cid"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), sim2.as("sim"))
    TopK.perGroup(cand, k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("sim"), 6).as("sim"))
  }

  /** CLUSTER-BALANCED deterministic sample — the semantic-DIVERSITY
    * curation pass (the selection-side sibling of SemDeDup's
    * removal side): assign every vector to its coarse cell under the
    * shared trained quantizer ([[ivfCentroids]] — the annIvf model
    * the oracle replays), then keep AT MOST `perCluster` vectors per
    * cell, chosen by the engine's shared identity hash ((hash32,
    * vec_id) ascending — rerun/layout-stable, replayable by any
    * engine). Over-represented semantic regions are capped, sparse
    * regions pass through whole — the cluster-proportional
    * flattening a training-mix pipeline applies before token
    * budgeting (the [[graft.operators.Sampling.docsMixSample]]
    * family, keyed by LEARNED clusters instead of source labels).
    *
    * Scale shape: assignment is one map-only pass over the corpus
    * (K-literal scored structs, or the folded broadcast array past
    * [[literalKMax]] — no shuffle); selection is the two-phase
    * fixed-size shape: [[TopK.perGroup]] on the NEGATED hash reduces
    * each partition to ≤ perCluster rows per cell BEFORE the exact
    * per-cell window ranks the partitions·perCluster survivors, so K
    * cells never serialize the corpus through K sort tasks. At 100
    * TB: train the quantizer on a sample ([[ivfCentroidsOn]]), assign
    * map-only, cap per cell — linear.
    */
  def embClusterSample(spark: SparkSession, dir: String, clusters: Int = 16,
                       iters: Int = 1, perCluster: Int = 16): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = ivfCentroids(e, clusters, iters)
    val assigned = e.withColumn("cid", nearestCentroid(cents))
      .select(col("cid").cast("long").as("cid"), col("vec_id"),
        (-Sampling.hash32(col("vec_id"))).as("s"))
    TopK.perGroup(assigned, perCluster)
      .select(col("vec_id"), col("cid"), col("rnk").cast("long").as("rnk"))
  }

  /** Per-DIMENSION embedding statistics — mean, second moment, exact
    * min/max for each of the 64 coordinates. This is the whitening /
    * centering pre-pass of every embedding pipeline (mean-center
    * before cosine, detect dead or saturated dimensions before
    * quantization — [[embQuantize]] consumes exactly these ranges).
    * Same shape as [[labelCentroids]]: posexplode to (dim, v) narrow
    * rows, one map-combinable aggregate keyed by 64 uniform keys —
    * no collect, no skew. Means/moments are rounded (partial-sum
    * merge order varies with partitioning — CLAUDE.md float rule);
    * min/max are order-insensitive and pass through exact.
    */
  def embDimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast("double").as("v"))
      .groupBy("dim")
      .agg(
        round(avg(col("v")), 6).as("mean"),
        round(avg(col("v") * col("v")), 6).as("m2"),
        min(col("v")).as("vmin"),
        max(col("v")).as("vmax"))

  /** Per-label centroid DRIFT between two corpus snapshots — the
    * monitor an embedding pipeline runs between ingest batches: if a
    * label's centroid moves, the upstream encoder or the data mix
    * changed, and every ANN index / dedup threshold tuned on the old
    * geometry silently degrades. Snapshots here are the even/odd
    * vec_id halves (a stand-in for batch N vs N+1 — the plan shape
    * is identical for any snapshot predicate).
    *
    * Numeric contract: per-(label, snapshot, dim) centroids are
    * pinned to exact ×10⁴ integers (one rounded float aggregate, the
    * same pin [[annIvf]] uses for its Lloyd means); everything
    * derived — dot, squared norms, squared L2 drift — is then exact
    * int64 arithmetic, order-free under any partitioning. The
    * displayed cosine divides/sqrt's those exact integers: identical
    * IEEE inputs, identical result on any engine. Shape: one narrow
    * posexplode + map-combinable avg (keyed by labels×2×64), one
    * 64-row-per-label pivot aggregate, one per-label reduce — no
    * joins wider than the centroid table.
    */
  def embDrift(spark: SparkSession, dir: String): DataFrame = {
    val cdim = Tables.embeddings(spark, dir)
      .select(col("label"), pmod(col("vec_id"), lit(2L)).as("snap"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "snap", "dim")
      .agg(round(avg(col("v").cast("double")) * 10000).cast("long").as("c4"),
        count(lit(1)).as("n"))
    val piv = cdim.groupBy("label", "dim")
      .agg(sum(when(col("snap") === 0, col("c4"))).as("c0"),
        sum(when(col("snap") === 1, col("c4"))).as("c1"),
        max(when(col("snap") === 0, col("n"))).as("n0"),
        max(when(col("snap") === 1, col("n"))).as("n1"))
    piv.groupBy("label")
      .agg(max("n0").as("n_a"), max("n1").as("n_b"),
        sum(col("c0") * col("c1")).as("dot"),
        sum(col("c0") * col("c0")).as("na2"),
        sum(col("c1") * col("c1")).as("nb2"),
        sum((col("c0") - col("c1")) * (col("c0") - col("c1"))).as("l2_x1e8"))
      .select(col("label"), col("n_a"), col("n_b"), col("l2_x1e8"),
        round(col("dot").cast("double") /
          nullif(sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")), lit(0.0)), 6)
          .as("cos_sim"))
  }

  /** Whitening transform applied per vector — the normalization leg
    * that consumes [[embDimStats]]: every coordinate mean-centered
    * and scaled by its dimension's inverse stddev, the standard
    * pre-pass before cosine/PCA on anisotropic embeddings. The
    * per-dim (mean, stddev) constants are PINNED to 4 decimals (two
    * rounded float aggregates — the only order-sensitive step); the
    * per-element transform is then pure deterministic IEEE arithmetic
    * on identical inputs, and the emitted profile (sum/min/max of the
    * ×10⁴-floored whitened coordinates) is exact integers.
    *
    * Shape: one narrow posexplode + map-combinable stats aggregate
    * (64 keys), stats broadcast back onto the posexploded stream,
    * one regroup per vec_id — no collect, one data-sized shuffle.
    */
  def embWhiten(spark: SparkSession, dir: String): DataFrame = {
    val narrow = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"), col("v").cast("double").as("v"))
    val stats = narrow.groupBy("dim")
      .agg(round(avg("v"), 4).as("m4"), round(stddev_pop(col("v")), 4).as("sd4"))
    narrow.join(broadcast(stats), "dim")
      .select(col("vec_id"),
        floor((col("v") - col("m4")) / nullif(col("sd4"), lit(0.0)) * 10000)
          .cast("long").as("wi"))
      .groupBy("vec_id")
      .agg(sum("wi").as("w_sum_x1e4"),
        min("wi").as("w_min_x1e4"),
        max("wi").as("w_max_x1e4"))
  }

  /** Product-quantization code assignment — the memory-compression
    * leg of the ANN family (IVF prunes the scan, LSH buckets it, PQ
    * shrinks the vectors: 64 floats → 8 nibbles, the standard
    * billion-scale serving layout). The 64-dim space splits into
    * M = 8 subspaces of 8 dims; each gets K = 16 codewords —
    * deterministic Lloyd exactly like [[annIvf]] (vectors 0..15 seed
    * the codebooks, one refinement with means ROUNDED to 4 decimals
    * so near-tie assignments can't flip by a merge-order ulp, empty
    * clusters keep their seed) — and every vector's per-subspace
    * nearest codeword packs into one exact int64
    * (Σ cid_m · 16^m).
    *
    * Like IVF's K·64 driver-constant centroids, the M·K = 128-row
    * codebook is a COLLECTED bounded model constant (round-13: the
    * DataFrame-side training re-inlined the seed/means lineage into
    * every consumer plan — emb_rq_adc reached 184 Exchanges — and
    * shuffled n·M scored rows per assignment). Assignment is a
    * broadcast join on m + a per-row argmax fold over the 16
    * codewords (the scoredFoldArr rendering — struct comparison
    * keeps the max_by (score, cid) tie semantics) — map-only, no
    * shuffle. Two Lloyd passes = two such folds + one rounded-mean
    * aggregate over 128 keys. Everything after the scan is bounded
    * by n·M narrow rows.
    */
  val PQ_M = 8
  val PQ_K = 16
  private val PQ_SUB = DIM / PQ_M

  /** (vec_id, m, s): every vector split into its M subvectors. */
  private def pqSub(spark: SparkSession, dir: String): DataFrame = {
    val embD = transform(col("embedding"), x => x.cast("double"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), explode(array((0 until PQ_M).map(m =>
        struct(lit(m).as("m"),
          slice(embD, m * PQ_SUB + 1, PQ_SUB).as("s"))): _*)).as("ms"))
      .select(col("vec_id"), col("ms.m").as("m"), col("ms.s").as("s"))
  }

  /** Trained codebook (m, cid, c) + per-vector assignments
    * (vec_id, m, cid) — the shared PQ model both [[embPq]] (code
    * packing) and [[embAdc]] (ADC search) consume.
    */
  private def pqModel(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val sub = pqSub(spark, dir)
    // seed codewords COLLECTED as bounded model constants (M·K = 128
    // rows of PQ_SUB doubles — the annIvf/ivfCentroids recipe).
    // Round-13 optimization: the previous DataFrame-side training
    // re-inlined the whole seed/means lineage into every consumer
    // plan (emb_rq_adc reached 184 Exchanges) and shuffled n·M
    // scored rows per assignment; with the codebook a driver
    // constant, assignment is one broadcast join + a per-row argmax
    // fold — map-only, no shuffle, no plan-tree duplication.
    val seeds: Seq[(Int, Int, Array[Double])] =
      sub.filter(col("vec_id") < PQ_K)
        .select(col("m"), col("vec_id").cast("int").as("cid"), col("s"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .toSeq.sortBy(t => (t._1, t._2))
    // per-m centroid fold (the centFold rendering): cs = cid-sorted
    // array of (cid, cvec, h) with h = ‖c‖²/2 summed on the driver
    // exactly like the executor's VecDot(c, c)/2 (same left-to-right
    // order), so scores are bit-identical to the former join path
    def folded(cb: Seq[(Int, Int, Array[Double])]): DataFrame =
      spark.createDataFrame(cb.map { case (m, cid, c) =>
          (m, cid, c.toSeq, c.map(x => x * x).sum / 2.0) })
        .toDF("m", "cid", "cvec", "h")
        .groupBy("m")
        .agg(sort_array(collect_list(struct(col("cid"), col("cvec"), col("h")))).as("cs"))
    // nearest codeword per (vec_id, m): argmax of dot − ‖c‖²/2 with
    // the (score, cid) lexicographic tie-break (ties take the larger
    // cid — annIvf's greatest(struct) convention, here as the
    // scoredFoldArr array_max fold; struct comparison ≡ max_by)
    def assign(cb: Seq[(Int, Int, Array[Double])]): DataFrame =
      sub.join(broadcast(folded(cb)), "m")
        .withColumn("cid", array_max(transform(col("cs"), cc => struct(
          (graft.plans.VecDot(col("s"), cc.getField("cvec")) - cc.getField("h")).as("s"),
          cc.getField("cid").as("cid")))).getField("cid"))
        .select(col("vec_id"), col("m"), col("cid"), col("s"))

    // one refinement: means ROUNDED to 4 decimals (merge-order pin),
    // empty clusters keep their seed — collected like the seeds
    val means = assign(seeds)
      .groupBy("m", "cid")
      .agg(array((0 until PQ_SUB).map(i =>
        round(avg(element_at(col("s"), i + 1)), 4)): _*).as("mc"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    val cents1 = seeds.map { case (m, cid, c) =>
      (m, cid, means.getOrElse((m, cid), c)) }
    val codebook = spark.createDataFrame(
        cents1.map { case (m, cid, c) => (m, cid, c.toSeq) })
      .toDF("m", "cid", "c")
    (codebook, assign(cents1).select(col("vec_id"), col("m"), col("cid")))
  }

  def embPq(spark: SparkSession, dir: String): DataFrame =
    pqModel(spark, dir)._2
      .groupBy("vec_id")
      .agg(sum(expr("shiftleft(cast(cid as bigint), cast(4 * m as int))")).as("pq_code"))

  /** PQ asymmetric-distance search (ADC) — the serving-side leg of
    * the PQ pipeline: queries stay full-precision, the database is
    * only its codes, and each query scores a vector as
    * Σ_m ⟨q_m, codeword(code_m)⟩ via a per-query LOOKUP TABLE of
    * nQ·M·K partial scores (the classic ADC trick — the expensive
    * float dot products happen nQ·M·K times against the CODEBOOK,
    * never against the data; the data-side scan is a table lookup
    * per nibble).
    *
    * Plan shape: the LUT (bounded query set × 128-row codebook) is
    * computed once and BROADCAST into an equi-join on (m, cid)
    * against the n·M code rows — map-side only — then one
    * map-combinable sum per (q_id, vec_id) and a per-query top-k
    * window over score-filtered candidates. Partial scores are
    * FLOORED to ×10⁴ integers before the sum: the codebook is pinned
    * (4-decimal means), each partial is one deterministic dot, and
    * integer summation is order-free — so the ranking can't flip
    * with partition layout, and any engine replays it exactly.
    */
  def embAdc(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 5): DataFrame = {
    val (codebook, codes) = pqModel(spark, dir)
    val queries = pqSub(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("m"), col("s").as("qs"))
    val lut = queries.join(codebook, "m")
      .select(col("q_id"), col("m"), col("cid"),
        floor(graft.plans.VecDot(col("qs"), col("c")) * 10000).cast("long").as("partial"))
    val scored = codes.join(broadcast(lut), Seq("m", "cid"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum("partial").as("adc_score"))
    TopK.perGroup(scored, k)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("vec_id").as("n_id"), col("adc_score"))
  }

  /** Per-subspace PQ quantization distortion — the codebook-quality
    * monitor next to [[embPq]]/[[embAdc]]: for every vector's
    * assigned codeword, the squared reconstruction error
    * ‖s − c‖², reduced per subspace to count / total / mean. A
    * subspace whose distortion dominates is where PQ recall dies
    * first (retrain that codebook, or give the subspace more bits).
    * Per-row error is a fixed 8-element fold over the PINNED
    * (4-decimal) codebook — deterministic IEEE — FLOORED to ×10⁶
    * integers, so the per-m reduction is exact integer arithmetic
    * with an exact floor mean. One broadcast join (128-row model),
    * one 8-key map-combinable aggregate.
    */
  def embPqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val (codebook, codes) = pqModel(spark, dir)
    val err2 = aggregate(
      zip_with(col("s"), col("c"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, x) => a + x)
    pqSub(spark, dir)
      .join(codes, Seq("vec_id", "m"))
      .join(broadcast(codebook), Seq("m", "cid"))
      .select(col("m"), floor(err2 * 1000000).cast("long").as("d6"))
      .groupBy("m")
      .agg(count(lit(1)).as("n_vectors"),
        sum("d6").as("total_dist_x1e6"),
        expr("sum(d6) div count(1)").as("mean_dist_x1e6"))
  }

  /** Residual quantization (2-stage additive coding — the OTHER
    * billion-scale compression family next to PQ: Chen et al.,
    * "Approximate Nearest Neighbor Search by Residual Vector
    * Quantization", 2010; the additive-codebook layout modern
    * serving stacks build on): stage 1 quantizes the FULL vector
    * with a K-codeword coarse codebook, stage 2 quantizes the
    * RESIDUAL x − c₁ with a second codebook, so the code
    * (cid1, cid2) reconstructs as c₁ + c₂ — error falls with every
    * stage instead of with subspace count. Training is the engine's
    * deterministic Lloyd recipe ([[annIvf]] / pqModel: first K
    * vectors — for stage 2, their residuals — seed, one refinement
    * with means ROUNDED to 4 decimals, empty clusters keep their
    * seed, assignment ties take the larger cid via
    * `max_by(cid, struct(score, cid))`).
    *
    * Plan shape (round-13): each assign is the K-literal argmax
    * projection over the COLLECTED ≤K-row codebook (the annIvf
    * adjudication/tie semantics, map-only — no crossJoin, no
    * re-aggregation shuffle); the residual subtraction is one
    * zip_with against a literal codeword lookup (no join — cid1
    * rides the frame as a plain column). `err_x1e4` =
    * floor(10⁴·‖x−c₁−c₂‖²) is a fixed-order per-row fold of
    * deterministic doubles, so it replays exactly on any engine.
    */
  val RQ_K = 16

  /** Trained RQ model: (stage-1 codebook, stage-2 codebook, per-vector
    * frame with vec_id/cid1/residual r — join [[embRq]]'s consumers
    * here so code assignment and search share one training).
    */
  private def rqModel(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("x"))

    // Round-13 optimization: both codebooks are COLLECTED bounded
    // model constants (K = 16 rows of 64 doubles each — the
    // annIvf/ivfCentroids recipe). The previous DataFrame-side
    // training embedded the stage-1 seed/means lineage inside the
    // stage-2 frames and re-inlined it at every broadcast use —
    // emb_rq_adc's plan reached 184 Exchanges / 2615 lines — and
    // every assignment paid a crossJoin + n-row re-aggregation
    // shuffle. Assignment is now the K-literal argmax projection
    // (nearestCentroid's greatest(struct) rendering, identical
    // (score, cid) tie semantics, h = ‖c‖²/2 summed on the driver in
    // the same left-to-right order as the executor's VecDot(c, c)/2
    // — the centFold bit-identity argument), so the per-vector code
    // path is map-only: no shuffle, no plan-tree duplication.
    // greatest() requires ≥ 2 args (ADVICE round-13): a degenerate
    // corpus with a single seed codeword assigns everything to it —
    // the same graceful shape the former crossJoin+max_by path had.
    def nearest(v: org.apache.spark.sql.Column,
                cs: Seq[(Long, Array[Double])]): org.apache.spark.sql.Column =
      if (cs.isEmpty) throw new IllegalArgumentException(
        "RQ training needs at least one seed vector (vec_id < RQ_K)")
      else if (cs.size == 1) lit(cs.head._1)
      else greatest(cs.map { case (cid, c) =>
        struct((graft.plans.VecDot(v, typedlit(c.toSeq)) -
          lit(c.map(x => x * x).sum / 2.0)).as("s"), lit(cid).as("cid"))
      }: _*).getField("cid")

    // one deterministic-Lloyd round: seed (vec_id < K, collected) →
    // assign → means ROUNDED to 4 decimals (merge-order pin) →
    // empty clusters keep their seed; returns the refined codebook
    def train(vecs: DataFrame, vcol: String): Seq[(Long, Array[Double])] = {
      val seeds = vecs.filter(col("vec_id") < RQ_K)
        .select(col("vec_id"), col(vcol)).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq.sortBy(_._1)
      val means = vecs.withColumn("cid", nearest(col(vcol), seeds))
        .groupBy("cid")
        .agg(array((0 until DIM).map(i =>
          round(avg(element_at(col(vcol), i + 1)), 4)): _*).as("mc"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
      seeds.map { case (cid, c) => (cid, means.getOrElse(cid, c)) }
    }

    val c1 = train(e, "x")
    // residual r = x − c₁(cid1): literal map lookup (same doubles the
    // former broadcast join attached), keeping the frame map-only
    val c1Map = typedlit(c1.map { case (cid, c) => cid -> c.toSeq }.toMap)
    val resid = e.withColumn("cid1", nearest(col("x"), c1))
      .select(col("vec_id"), col("cid1"),
        zip_with(col("x"), element_at(c1Map, col("cid1")), (p, q) => p - q).as("r"))
    val c2 = train(resid, "r")
    val b1 = resid.withColumn("cid", nearest(col("r"), c2))
    def cbDf(cs: Seq[(Long, Array[Double])]): DataFrame =
      spark.createDataFrame(cs.map { case (cid, c) => (cid, c.toSeq) })
        .toDF("cid", "c")
    (cbDf(c1), cbDf(c2), b1)
  }

  def embRq(spark: SparkSession, dir: String): DataFrame = {
    val (_, c2, b1) = rqModel(spark, dir)
    val err2 = aggregate(
      zip_with(col("r"), col("c"), (p, q) => (p - q) * (p - q)),
      lit(0.0), (a, v) => a + v)
    b1.join(broadcast(c2), "cid")
      .select(col("vec_id"), col("cid1"), col("cid").as("cid2"),
        floor(err2 * 10000).cast("long").as("err_x1e4"))
  }

  /** RQ asymmetric search — the serving leg of [[embRq]], the
    * additive counterpart of [[embAdc]]: a query scores a database
    * vector from its CODE alone as ⟨q, c₁(code)⟩ + ⟨q, c₂(code)⟩
    * (inner product against the additive reconstruction — linearity
    * means the two stages' lookup tables just ADD). Per query the
    * LUTs are 2·K partial dots against the codebooks; the data-side
    * scan is two lookups and one integer add per vector — full
    * precision vectors are never touched at query time.
    *
    * Plan shape: both LUTs (nQ·K rows each, partials FLOORED to ×10⁴
    * integers — the [[embAdc]] determinism recipe) BROADCAST into
    * equi-joins on cid1 / (q_id, cid2) against the n-row code frame;
    * no per-vector float math, no window until the per-query top-k
    * over the scored candidates.
    */
  def embRqAdc(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 5): DataFrame = {
    val (c1, c2, b1) = rqModel(spark, dir)
    val codes = b1.select(col("vec_id"), col("cid1"), col("cid").as("cid2"))
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("q"))
    def lut(cb: DataFrame, cidName: String) = queries.crossJoin(broadcast(cb))
      .select(col("q_id"), col("cid").as(cidName),
        floor(graft.plans.VecDot(col("q"), col("c")) * 10000).cast("long").as(s"p_$cidName"))
    val scored = codes
      .join(broadcast(lut(c1, "cid1")), Seq("cid1"))
      .join(broadcast(lut(c2, "cid2")), Seq("q_id", "cid2"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (col("p_cid1") + col("p_cid2")).as("rq_score"))
    TopK.perGroup(scored, k)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("vec_id").as("n_id"), col("rq_score"))
  }

  /** IVF + ADC composed search — the standard billion-scale serving
    * stack (FAISS's IVFPQ layout): the IVF coarse quantizer prunes
    * the scan to `nprobe` of `clusters` inverted lists, and within
    * the probed lists vectors are scored from their PQ CODES via the
    * per-query lookup table — full-precision data is never touched
    * at query time. [[annIvf]] proves the pruning leg alone (exact
    * rerank), [[embAdc]] the compression leg alone (whole-corpus code
    * scan); this is their composition, the thing a serving deployment
    * actually runs.
    *
    * Plan shape: the probe list (nQueries·nprobe rows) and the LUT
    * (nQueries·M·K rows) are both bounded broadcasts; the data-side
    * work is one broadcast-join of the assignment column against the
    * probe list (pruning to ~nprobe/clusters of the corpus), one
    * equi-join to the code rows, one map-combinable integer sum and
    * a per-query top-k. Scored candidates ≈ n·nQueries·nprobe/
    * clusters — the scan fraction IS the knob. Same floored ×10⁴
    * integer partials as [[embAdc]]: the composition stays exactly
    * replayable.
    */
  def embIvfAdc(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 5,
                clusters: Int = 16, nprobe: Int = 4): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = ivfCentroids(e, clusters, iters = 1)
    val assigned = e.withColumn("ivf_cid", nearestCentroid(cents))
      .select(col("vec_id"), col("ivf_cid"))
    val (codebook, codes) = pqModel(spark, dir)
    // per-query probe list: nprobe nearest coarse centroids — the
    // K-row centroid table is the broadcast side of the bounded cross
    val centDf = spark.createDataFrame(cents.map { case (cid, c) => (cid, c) })
      .toDF("ivf_cid", "cvec")
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding"))
      .crossJoin(broadcast(centDf))
      .withColumn("score", graft.plans.VecDot(col("embedding"), col("cvec")) -
        graft.plans.VecDot(col("cvec"), col("cvec")) / 2.0)
      .withColumn("crnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("ivf_cid"))))
      .filter(col("crnk") <= nprobe)
      .select(col("q_id"), col("ivf_cid"))
    val lut = pqSub(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("m"), col("s").as("qs"))
      .join(codebook, "m")
      .select(col("q_id"), col("m"), col("cid"),
        floor(graft.plans.VecDot(col("qs"), col("c")) * 10000).cast("long").as("partial"))
    val cand = assigned.join(broadcast(probes), "ivf_cid")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"))
    val scored = cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("q_id", "m", "cid"))
      .groupBy("q_id", "vec_id")
      .agg(sum("partial").as("adc_score"))
    TopK.perGroup(scored, k)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("vec_id").as("n_id"), col("adc_score"))
  }

  /** The deterministic graph-family node sample: the ~`rate` fraction
    * of vectors under the engine's shared identity hash, with norms —
    * the one frame every graph build/search/recall leg reads.
    */
  private def knnSampleFrame(spark: SparkSession, dir: String,
                             rate: Double): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(Sampling.hash32(col("vec_id")) < Sampling.rateThreshold(rate))
      .select(col("vec_id"), col("embedding"), V.normSq(col("embedding")).as("n2"))

  /** Deterministic FIXED-SIZE query sample over a graph node frame:
    * the `nQ` nodes with the smallest (identity-hash, vec_id) key —
    * nested under the SAME hash as the node sample, so the query set
    * is rerun/layout-stable, independent of data size (a fixed Q
    * bounds the recall CI AND the monitor's cost at any corpus
    * scale), and replayable by any engine (ORDER BY u, vec_id
    * LIMIT nQ). One TakeOrdered over the sampled frame — linear scan,
    * Q-bounded result, never a full sort.
    */
  private def knnQuerySample(sampled: DataFrame, nQ: Int): DataFrame =
    sampled.select(col("vec_id"), Sampling.hash32(col("vec_id")).as("u"))
      .orderBy("u", "vec_id").limit(nQ)
      .select(col("vec_id").as("q_id"))

  /** blocks = 0 → ceil(rate·n/4000) (floor 16), so per-task sim work
    * stays ≤ ~16M at any corpus size. Round-13: n comes from the
    * parquet FOOTERS ([[Tables.parquetRowCount]] — driver metadata,
    * no job), and the sampled size is estimated as rate·n instead of
    * counted: the grid only partitions the pair work and output is
    * grid-invariant (spec-pinned), so the ≤ O(√n) sampling deviation
    * from the exact count moves nothing but task sizing. This
    * retires the carried plan-build count-job nit — blocks=0 plan
    * construction is now side-effect-free on the cluster. A
    * production caller that knows its sample size can still pass
    * `blocks` explicitly.
    */
  private def knnBlocksFor(spark: SparkSession, dir: String,
                           rate: Double, blocks: Int): Int =
    if (blocks > 0) blocks
    else {
      val n = Tables.parquetRowCount(spark, dir, "embeddings")
      math.max(16L, (math.ceil(rate * n).toLong + 3999L) / 4000L).toInt
    }

  /** Exact k-NN graph over a deterministic node sample — the
    * neighborhood structure a clustering / semantic-dedup /
    * graph-propagation pass consumes (and the calibration set an
    * ANN index is tuned against). Nodes are the ~`rate` fraction of
    * vectors selected by the engine's shared identity hash
    * ([[Sampling.hash32]] — rerun- and layout-stable, replayable by
    * any engine); edges are each node's top-k cosine neighbors among
    * the sampled set.
    *
    * Shape: the sampled set self-joins via the REPLICATED block
    * scheme (the BlockMatrix-multiply decomposition): every vector
    * lands in one of `blocks` hash blocks, side a is replicated once
    * per PARTNER block as (blk, bj) and side b as (bi, blk), and the
    * two streams equi-join on the COMPOSITE (bi, bj) key — blocks²
    * distinct keys, so join parallelism scales with the block grid,
    * never with a block-id's 16-value cardinality. (The round-9
    * sf100 soak caught the previous rendering — a broadcast
    * blocks×blocks pair table with each data side joining on its
    * single block-id column — collapsing to ≤`blocks` shuffle tasks
    * the moment the sampled side outgrew the 10 MB auto-broadcast
    * threshold: ONE straggler task held 35+ CPU-minutes at a 200k
    * sample. Shuffle cost of the replicated form is 2·n·blocks rows —
    * linear in n for a FIXED block count; under the derived grid
    * (blocks ≈ n/4000) it is n²/2000 rows, still a vanishing fraction
    * of the (rate·n)²/2 sim work the join performs.) `blocks` = 0
    * derives ceil(sampled/4000) (floor 16) from a metadata count, so
    * per-task sim work stays ≤ ~16M regardless of corpus size. The
    * FULL ordered matrix is generated (i ≠ j, both directions) but
    * NEVER sorted whole: edges are [[TopK.perGroup]] per source node,
    * whose per-partition heaps reduce the candidate stream to ≤ k rows
    * per node and partition before the exact window — the round-8
    * sf10 movement net measured the window-only rendering spilling
    * 4.9 GB into its sort at a 20k-node sample; the heap pass spills
    * nothing at any sample size. Total work is (rate·n)²/2 sims
    * regardless of the grid; at corpus scale rate tunes the graph
    * build to the budget, and the exact graph over the sample is the
    * standard recall baseline for an ANN-built graph over the full
    * set. The block grid only partitions that work — output is
    * grid-invariant (spec-pinned).
    */
  def embKnnGraph(spark: SparkSession, dir: String, k: Int = 3,
                  rate: Double = 0.1, blocks: Int = 0): DataFrame = {
    val sampled = knnSampleFrame(spark, dir, rate)
    val nBlocks = knnBlocksFor(spark, dir, rate, blocks)
    // blk and the partner array are BOTH LongType so the composite
    // (bi, bj) join keys match without implicit casts on either side
    val e = sampled.withColumn("blk", pmod(col("vec_id"), lit(nBlocks.toLong)))
    val partners = typedlit((0 until nBlocks).map(_.toLong).toArray)
    val aRep = e.withColumn("bj", explode(partners))
      .select(col("vec_id"), col("embedding"), col("n2"),
        col("blk").as("bi"), col("bj"))
    val bRep = e.withColumn("bi", explode(partners))
      .select(col("vec_id"), col("embedding"), col("n2"),
        col("bi"), col("blk").as("bj"))
    val sim = V.cosineWithNorms(
      V.dot(col("a.embedding"), col("b.embedding")), col("a.n2"), col("b.n2"))
    val cand = aRep.as("a")
      .join(bRep.as("b"), Seq("bi", "bj"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("n_id"), sim.as("sim"))
    topKEdges(cand, k)
  }

  /** Edge selection shared by the exact ([[embKnnGraph]]) and
    * cell-routed ([[embKnnGraphCells]]) graph builds: [[TopK.perGroup]]
    * per source node over the (vec_id, n_id, sim) candidate stream. A
    * zero-norm vector has no defined cosine (nullif guard → null sim),
    * so the kernel's null drop leaves it no edges in either direction.
    */
  private def topKEdges(cand: DataFrame, k: Int): DataFrame =
    TopK.perGroup(cand, k)
      .select(col("vec_id"), col("rnk"), col("n_id"), round(col("sim"), 6).as("sim"))

  /** CELL-ROUTED k-NN graph build — the subquadratic twin of
    * [[embKnnGraph]] (the round-9 verdict's one structural ANN hole).
    * The exact build scores every sampled pair: (rate·n)²/2 sims —
    * 589.8 s at sf100 and the only graph-family leg without a shipped
    * scale path. This build reuses the semantic-dedup machinery
    * (SemDeDup applied to graph construction): nodes are assigned to
    * their top-`nprobe` IVF cells through the ROUTED two-level
    * quantizer ([[semanticAssignmentsRoutedFull]] — n·2√(gprobe·K)
    * scores, the sf100-measured assignment path), candidates are
    * IN-CELL pairs only (Σ_k n_k² ≈ n·targetClusterSize — LINEAR in n
    * under auto-K), each candidate is exact-cosine scored in-join,
    * and the edge selection is the shared bounded-heap top-k. Both
    * pair directions emerge from the same cell join (vec_id ≠ n_id,
    * no `<` cut) because the graph's top-k is per SOURCE node; under
    * multi-assign a pair sharing several cells is deduped before the
    * heap (a duplicate candidate row could otherwise occupy two heap
    * slots and evict a true neighbor).
    *
    * Approximation contract (spec-pinned): edges ⊆ the sampled node
    * set with exact sims; recall vs [[embKnnGraph]] is MONOTONE in
    * `nprobe` (the (vec_id, cid) assignment set with nprobe+1 is a
    * superset — same sorted-slice — so each node's candidate set only
    * grows, and a true top-k neighbor present in the candidate set
    * always makes the approximate top-k); at nprobe = K (every cell
    * probed, gprobe ≥ G) candidates are ALL pairs and the build
    * EQUALS the exact graph. `trainSampleTarget` caps the Lloyd
    * refinement frame as in [[embSemanticPairsRouted]].
    */
  def embKnnGraphCells(spark: SparkSession, dir: String, k: Int = 3,
                       rate: Double = 0.1, clusters: Int = 0, iters: Int = 1,
                       nprobe: Int = 2, gprobe: Int = 2,
                       trainSampleTarget: Long = 0L): DataFrame =
    cellEdgesOn(knnCellsAssign(spark, dir, rate, clusters, iters,
      nprobe, gprobe, trainSampleTarget), k)

  /** The routed (vec_id, cid, embedding, n2) assignment frame behind
    * [[embKnnGraphCells]], factored out (round-13) so the sampled
    * navigation monitor can reuse ONE assignment pass for edges,
    * per-cell entry points, and per-query probed cells instead of
    * re-running the quantizer per consumer.
    */
  private def knnCellsAssign(spark: SparkSession, dir: String,
                             rate: Double, clusters: Int, iters: Int,
                             nprobe: Int, gprobe: Int,
                             trainSampleTarget: Long): DataFrame = {
    val sampled = knnSampleFrame(spark, dir, rate)
    val n = sampled.count()
    val kCells = if (clusters > 0) clusters else clustersFor(n)
    val trainE =
      if (trainSampleTarget <= 0L || n <= trainSampleTarget) sampled
      else sampled.filter(pmod(xxhash64(col("vec_id")),
        lit(math.max(1L, n / trainSampleTarget))) === 0)
    // seeds come from the FULL corpus (vec_id < K — the ivfCentroidsOn
    // convention; the hash-sampled node set usually lacks those ids),
    // refinement runs over the sampled/training frame
    val cents = ivfCentroidsOn(semanticFrame(spark, dir), trainE, kCells, iters)
    semanticAssignmentsRoutedFull(sampled, cents,
      math.min(nprobe, cents.size), gprobe)
  }

  /** In-cell top-k edge selection over a routed assignment frame —
    * the candidate join + bounded-heap tail of [[embKnnGraphCells]].
    */
  private def cellEdgesOn(a: DataFrame, k: Int): DataFrame = {
    val sim = V.cosineWithNorms(
      V.dot(col("a.embedding"), col("b.embedding")), col("a.n2"), col("b.n2"))
    val cand = a.as("a")
      .join(a.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("n_id"), sim.as("sim"))
      .distinct()
    topKEdges(cand, k)
  }

  /** recall of the cell-routed graph build vs the exact build over
    * the same sample — one corpus-level row (n_exact, n_hit, recall),
    * the build-side sibling of [[annRecallGraph]]'s navigation
    * recall. Exact edges are the truth set; an approximate edge
    * counts iff the exact graph has the same (vec_id, n_id).
    */
  def embKnnGraphRecall(spark: SparkSession, dir: String, k: Int = 3,
                        rate: Double = 0.1, clusters: Int = 0, iters: Int = 1,
                        nprobe: Int = 2, gprobe: Int = 2,
                        trainSampleTarget: Long = 0L): DataFrame =
    edgeRecall(embKnnGraph(spark, dir, k, rate),
      embKnnGraphCells(spark, dir, k, rate, clusters, iters,
        nprobe, gprobe, trainSampleTarget))

  /** The build monitors' one corpus-level row: exact (vec_id, n_id)
    * edges ⟕ approximate ones — n_exact edges, n_hit of them also in
    * the approximate graph, recall = n_hit / n_exact.
    */
  private def edgeRecall(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("vec_id"), col("n_id"))
      .join(approx.select(col("vec_id"), col("n_id")).withColumn("hit", lit(1)),
        Seq("vec_id", "n_id"), "left")
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"),
        round(count(col("hit")).cast("double") / count(lit(1)).cast("double"), 4)
          .as("recall"))

  /** SAMPLED-QUERY build-recall monitor — the LINEAR rendering of
    * [[embKnnGraphRecall]] (round-12, retiring the last by-contract
    * sf100 wall): recall@k is a mean of per-query indicators, so a
    * deterministic hash-sample of `nQ` query nodes bounds the CI
    * without touching the other (rate·n − Q) exact neighborhoods —
    * the standard ANN-benchmark methodology. The exact side computes
    * top-k for ONLY the Q query nodes (Q·(rate·n) dots — linear at
    * fixed Q, vs the full build's (rate·n)²/2 that made the full
    * monitor cost ×13 the build it audits); the approx side is the
    * already-linear cell-routed build restricted to the same nodes.
    * Per-query exact top-k is independent of the other queries, so
    * this EQUALS [[embKnnGraphRecall]]'s join restricted to the
    * sampled queries (spec-pinned: nQ ≥ sample size reproduces the
    * full monitor's row exactly). Same one-row output shape.
    */
  def embKnnGraphRecallSampled(spark: SparkSession, dir: String, k: Int = 3,
                               rate: Double = 0.1, nQ: Int = 32,
                               clusters: Int = 0, iters: Int = 1,
                               nprobe: Int = 2, gprobe: Int = 2,
                               trainSampleTarget: Long = 0L): DataFrame = {
    val nodes = knnSampleFrame(spark, dir, rate)
    val qs = knnQuerySample(nodes, nQ)
    val q = nodes.join(broadcast(qs), col("vec_id") === col("q_id"))
      .select(col("q_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    val exact = exactTopK(q, nodes, k).select(col("q_id").as("vec_id"), col("n_id"))
    val approx = embKnnGraphCells(spark, dir, k, rate, clusters, iters,
        nprobe, gprobe, trainSampleTarget)
      .join(broadcast(qs), col("vec_id") === col("q_id"))
    edgeRecall(exact, approx)
  }

  /** Bounded-beam greedy search over the [[embKnnGraph]] edge set —
    * the SERVING leg of the graph-ANN family (HNSW/NSG-style
    * navigation, flattened to a fixed number of expansion rounds so
    * the whole search is ONE lazy Catalyst plan — the
    * emb_init_farthest chaining shape). Per round: the current
    * top-`beam` visited nodes per query expand through the edge
    * frame (equi-join on the edge's source axis), unseen neighbors
    * are exact-cosine scored against the query (broadcast query set,
    * map-only), and the union re-ranks. After `rounds` rounds the
    * answer is the top-k of everything visited (self excluded).
    *
    * Deterministic end-to-end: the entry point is the sample's
    * minimum vec_id (1-row broadcast), every rank orders by
    * (sim DESC, vec_id), and the visited set is exact keys — no RNG,
    * so the DuckDB oracle replays the full unrolled trajectory.
    *
    * Scale shape: visited stays ≤ 1 + rounds·beam·graphK rows PER
    * QUERY (bounded constants), every expansion is an equi-join on
    * the graph's partitioned vec_id axis, every rank is a window
    * over the per-query bounded visited set — with millions of
    * queries everything co-partitions on q_id; nothing is ever
    * corpus × queries. Each round's union is lazy-localCheckpointed
    * (file-wide twice-consumed convention: the beam, the anti-join
    * and the union all read it).
    */
  def annGraphSearch(spark: SparkSession, dir: String, nQueries: Int = 10,
                     k: Int = 5, beam: Int = 4, rounds: Int = 3, graphK: Int = 3,
                     rate: Double = 0.1, blocks: Int = 0,
                     clusters: Int = 16, iters: Int = 1,
                     nprobe: Int = 2): DataFrame = {
    // derive the block grid ONCE here (one count job) and hand the
    // concrete value down — blocks=0 inside embKnnGraph would rerun
    // the sampled count at every graph (re)construction in a caller's
    // lineage (ADVICE round-9)
    val nBlocks = knnBlocksFor(spark, dir, rate, blocks)
    val edges = embKnnGraph(spark, dir, graphK, rate, nBlocks)
      .select(col("vec_id").as("src"), col("n_id").as("dst"))
    val nodes = knnSampleFrame(spark, dir, rate)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        V.normSq(col("embedding")).as("q_n2"))
    // MULTI-ENTRY seeding (round-13): one global min-vec_id entry
    // throttles recall at scale and hotspots the entry node's cell —
    // each query instead seeds from the entry node of its top-nprobe
    // coarse cells under the shared annIvf-trained flat quantizer.
    // At nprobe >= clusters every cell is probed, so the seed set is
    // the full per-cell entry roster and further nprobe is a no-op
    // (spec-pinned equality).
    val cents = ivfCentroids(semanticFrame(spark, dir), clusters, iters)
    beamSearchOn(edges, nodes, q, k, beam, rounds,
      Some(beamEntriesFlat(nodes, q, cents, nprobe)))
  }

  /** Per-query beam seed set under a TRAINED flat quantizer: every
    * sampled node is argmax-assigned to its cell (score DESC, cid
    * DESC — the [[embClusterSample]] assignment convention), each
    * cell's ENTRY is its minimum member vec_id, and a query seeds
    * from the entries of its top-`nprobe` cells (score DESC, cid ASC
    * — the [[annIvf]] probe-rank convention). Deterministic and
    * engine-replayable end-to-end. A probed cell with no sampled
    * member contributes no seed (possible only at tiny n; the seed
    * set is never empty while nprobe ≥ 1 and the sample is nonempty,
    * since every nonempty cell has an entry and queries rank ALL
    * cells). Cost: K-row broadcast against nodes (map-only) + a
    * K-row aggregate — bounded, no quadratic term.
    */
  private def beamEntriesFlat(nodes: DataFrame, q: DataFrame,
                              cents: Seq[(Int, Array[Double])],
                              nprobe: Int): DataFrame = {
    val entries = nodes.withColumn("cid", nearestCentroid(cents))
      .groupBy("cid").agg(min("vec_id").as("vec_id"))
    val centDf = q.sparkSession
      .createDataFrame(cents.map { case (cid, c) => (cid, c) })
      .toDF("cid", "cvec")
    val qProbes = q.select(col("q_id"), col("q_emb"))
      .crossJoin(broadcast(centDf))
      .withColumn("score", graft.plans.VecDot(col("q_emb"), col("cvec")) -
        graft.plans.VecDot(col("cvec"), col("cvec")) / 2.0)
      .withColumn("crnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("cid"))))
      .filter(col("crnk") <= math.min(nprobe, cents.size))
      .select(col("q_id"), col("cid"))
    qProbes.join(broadcast(entries), "cid")
      .select(col("q_id"), col("vec_id")).distinct()
  }

  /** The bounded-beam navigation loop over a CALLER-SUPPLIED (src,
    * dst) edge frame, (vec_id, embedding, n2) node frame, and (q_id,
    * q_emb, q_n2) query frame — the seam that lets the same serving
    * leg navigate the exact build ([[annGraphSearch]]) or the
    * cell-routed one ([[annRecallGraphSampled]]'s linear monitor).
    * Semantics and determinism contract are [[annGraphSearch]]'s
    * scaladoc verbatim.
    *
    * `entries` (round-13): optional per-query (q_id, vec_id) seed
    * frame — the multi-entry navigation start
    * ([[beamEntriesFlat]] / the routed assignment's probed cells).
    * None keeps the original single global min-vec_id entry.
    *
    * DRIVER-FRONTIER rendering (round-14, guide §2.4/§5): the beam
    * state is BOUNDED by construction (≤ Q·beam·degree new keys a
    * round, Q the fixed query sample), so the per-round window /
    * anti-join / dedup-aggregate bookkeeping that cost 6–10
    * scheduled jobs and 2 bounded exchanges a round in the unrolled
    * plan (kept in test sources as Round14OptSpec's equality anchor)
    * moves to the driver: each round is exactly TWO map-only jobs —
    * (1) neighbor expansion, a broadcast semi-join of the ≤ Q·beam
    * frontier against the edge frame, and (2) scoring, a broadcast
    * join of the fresh (q_id, vec_id, q_emb, q_n2) keys against the
    * node frame evaluating the IDENTICAL cosine expression on
    * executors (all float→double math stays in the same Catalyst
    * kernels — the driver only sorts/dedups exact doubles it
    * collected, with Spark's own NULLS-LAST / NaN-greatest /
    * -0.0 = 0.0 comparison semantics). Rounds after the frontier
    * stops producing unseen keys are skipped — a fixed point: the
    * unrolled rendering would rescore identical keys into identical
    * max() values, changing nothing (spec-pinned); a key already
    * tried counts as seen even when it scored nothing (a dangling
    * edge). At 100 TB each round is rounds × two linear scans with
    * NO exchange, and the driver holds only the tried key set — the
    * bounded-collect frontier pattern.
    */
  private[graft] def beamSearchOn(rawEdges: DataFrame, rawNodes: DataFrame,
                                  q: DataFrame, k: Int, beam: Int,
                                  rounds: Int,
                                  entries: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val spark = rawNodes.sparkSession
    val edges = rawEdges.localCheckpoint(eager = false)
    val nodes = rawNodes.localCheckpoint(eager = false)
    // Spark's DoubleType total order (SQLOrderingUtil): -0.0 == 0.0,
    // NaN greatest; sim DESC with NULLS LAST, vec_id ASC tiebreak —
    // the exact orderBy(sim.desc, vec_id) the unrolled window used.
    def cmpDescSim(a: java.lang.Double, b: java.lang.Double): Int =
      if (a == null && b == null) 0
      else if (a == null) 1
      else if (b == null) -1
      else -org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(a.doubleValue(), b.doubleValue())
    val entryOrd = new Ordering[(Long, java.lang.Double)] {
      def compare(x: (Long, java.lang.Double), y: (Long, java.lang.Double)): Int = {
        val c = cmpDescSim(x._2, y._2)
        if (c != 0) c else java.lang.Long.compare(x._1, y._1)
      }
    }
    // bounded collect: the fixed query sample (id, embedding, ‖q‖²)
    val qRows = q.select(col("q_id"), col("q_emb"), col("q_n2")).collect()
    val qMap: Map[Long, Row] = qRows.iterator.map(r => r.getLong(0) -> r).toMap
    val keySchema = StructType(Seq(
      StructField("q_id", LongType), StructField("vec_id", LongType),
      StructField("q_emb", ArrayType(FloatType)), StructField("q_n2", DoubleType)))
    val simCol = V.cosineWithNorms(
      V.dot(col("q_emb"), col("embedding")), col("q_n2"), col("n2"))
    // job (2): score fresh keys on executors — broadcast keys, scan nodes
    def score(keys: Seq[(Long, Long)]): Array[Row] =
      if (keys.isEmpty) Array.empty
      else {
        val litRows = keys.iterator.collect { case (qid, vid) if qMap.contains(qid) =>
          val qr = qMap(qid); Row(qid, vid, qr.get(1), qr.get(2))
        }.toSeq
        spark.createDataFrame(litRows.asJava, keySchema)
          .hint("broadcast").join(nodes, "vec_id")
          .select(col("q_id"), col("vec_id"), simCol.as("sim"))
          .collect()
      }
    // job (1): neighbors of the distinct frontier — broadcast srcs, scan edges
    def expand(srcs: Seq[Long]): Map[Long, Array[Long]] =
      if (srcs.isEmpty) Map.empty
      else {
        val sdf = spark.createDataFrame(
          srcs.map(Row(_)).asJava, StructType(Seq(StructField("src", LongType))))
        edges.join(sdf.hint("broadcast"), "src")
          .select(col("src"), col("dst")).collect()
          .groupMap(_.getLong(0))(_.getLong(1))
      }
    val seedKeys: Seq[(Long, Long)] = entries match {
      case Some(e) => e.select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      case None =>
        val m = nodes.agg(min("vec_id").as("vec_id")).collect()(0)
        if (m.isNullAt(0)) Seq.empty
        else qRows.map(r => (r.getLong(0), m.getLong(0))).toSeq
    }
    val visited = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.HashMap[Long, java.lang.Double]]
    def merge(scored: Array[Row]): Unit = scored.foreach { r =>
      // duplicates carry the identical sim (deterministic function of
      // the key) — max() merge ≡ keep-first
      visited.getOrElseUpdate(r.getLong(0), scala.collection.mutable.HashMap.empty)
        .getOrElseUpdate(r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2))
    }
    // every (q_id, vec_id) ever sent to scoring: a dangling dst (an
    // edge into no node) scores nothing, so visited alone would offer
    // it as fresh every round and the fixed point would never hold
    val attempted = scala.collection.mutable.HashSet.empty[(Long, Long)]
    def tryKeys(keys: Seq[(Long, Long)]): Unit = { attempted ++= keys; merge(score(keys)) }
    tryKeys(seedKeys.distinct)
    var fixedPoint = false
    for (_ <- 1 to rounds if !fixedPoint) {
      val beamKeys: Seq[(Long, Long)] = visited.iterator.flatMap { case (qid, m) =>
        m.toSeq.sorted(entryOrd).iterator.take(beam).map(e => (qid, e._1))
      }.toSeq
      val nbr = expand(beamKeys.map(_._2).distinct)
      val fresh = beamKeys.iterator.flatMap { case (qid, src) =>
        nbr.getOrElse(src, Array.empty[Long]).iterator
          .map(dst => (qid, dst)).filterNot(attempted)
      }.toSeq.distinct
      if (fresh.isEmpty) fixedPoint = true // untried-key-free round ⇒ no
      // future round can change visited (beam is a function of it)
      else tryKeys(fresh)
    }
    val outSchema = StructType(Seq(
      StructField("q_id", LongType), StructField("rnk", LongType),
      StructField("n_id", LongType), StructField("sim", DoubleType)))
    val outRows = visited.toSeq.sortBy(_._1).flatMap { case (qid, m) =>
      m.toSeq.filter(_._1 != qid).sorted(entryOrd).take(k).zipWithIndex
        .map { case ((vid, s), i) => Row(qid, (i + 1).toLong, vid, s) }
    }
    spark.createDataFrame(outRows.asJava, outSchema)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("sim"), 6).as("sim"))
  }

  /** recall@k of the graph-beam search vs the exact top-k over the
    * SAME candidate universe (the graph's sampled node set, self
    * excluded) — the fourth recall curve next to IVF/LSH/ADC: this
    * one moves with beam width and expansion rounds, isolating
    * NAVIGATION loss from the sampling loss the graph build already
    * chose. Exact side is the bounded-broadcast query scan over the
    * sampled nodes.
    */
  def annRecallGraph(spark: SparkSession, dir: String, nQueries: Int = 10,
                     k: Int = 5, beam: Int = 4, rounds: Int = 3, graphK: Int = 3,
                     rate: Double = 0.1, blocks: Int = 0): DataFrame = {
    // one count job for the whole recall plan (see annGraphSearch)
    val nBlocks = knnBlocksFor(spark, dir, rate, blocks)
    val approx = annGraphSearch(spark, dir, nQueries, k, beam, rounds, graphK, rate, nBlocks)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        V.normSq(col("embedding")).as("q_n2"))
    recallAtK(exactTopK(q, knnSampleFrame(spark, dir, rate), k), approx, k)
  }

  /** SAMPLED-QUERY navigation-recall monitor — the LINEAR rendering
    * of [[annRecallGraph]] (round-12): the full monitor's wall was
    * never the queries (already bounded) but the EXACT graph build
    * the beam navigates — (rate·n)²/2 sims, ×48/decade, a monitor
    * costing ×13 the routed build it should be auditing. Here the
    * beam navigates the CELL-ROUTED build ([[embKnnGraphCells]] —
    * the designated 100 TB graph path, linear under auto-K), queries
    * are a deterministic hash-sample of `nQ` GRAPH NODES (the
    * [[knnQuerySample]] fixed-size key — CI-bounding, scale-free),
    * and the exact side is per-query top-k over the sampled universe
    * (Q·(rate·n) dots — linear at fixed Q). This is the production
    * monitor shape: navigation loss measured ON the graph a 100 TB
    * run actually serves, at a cost proportional to one corpus scan.
    * Same per-query (q_id, n_match, recall) output shape as the full
    * monitor, which stays as the small-sf equality anchor. The beam
    * is seeded from the entry node of every cell a query probed; the
    * single global min-vec_id seeding it replaced is measured against
    * it in BASELINE.md round-13 (multi-entry beam seeding A/B).
    */
  def annRecallGraphSampled(spark: SparkSession, dir: String, nQ: Int = 32,
                            k: Int = 5, beam: Int = 4, rounds: Int = 3,
                            graphK: Int = 3, rate: Double = 0.1,
                            clusters: Int = 0, iters: Int = 1,
                            nprobe: Int = 2, gprobe: Int = 2,
                            trainSampleTarget: Long = 0L): DataFrame = {
    val nodes = knnSampleFrame(spark, dir, rate)
    val qs = knnQuerySample(nodes, nQ)
    val q = nodes.join(broadcast(qs), col("vec_id") === col("q_id"))
      .select(col("q_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    // ONE routed assignment pass feeds the edge build, the per-cell
    // entry roster, and each query's probed-cell list (round-13
    // multi-entry seeding: a query's beam starts from the entry node
    // of every cell its routed assignment probed — the quantizer the
    // graph itself was built with, so seeds land inside the query's
    // own candidate neighborhoods)
    val a = knnCellsAssign(spark, dir, rate, clusters, iters,
        nprobe, gprobe, trainSampleTarget)
      .localCheckpoint(eager = false)
    val edges = cellEdgesOn(a, graphK)
      .select(col("vec_id").as("src"), col("n_id").as("dst"))
    val entries = a.groupBy("cid").agg(min("vec_id").as("vec_id"))
    val seeds = a.join(broadcast(qs), col("vec_id") === col("q_id"))
      .select(col("q_id"), col("cid"))
      .join(broadcast(entries), "cid")
      .select(col("q_id"), col("vec_id")).distinct()
    val approx = beamSearchOn(edges, nodes, q, k, beam, rounds, Some(seeds))
    recallAtK(exactTopK(q, nodes, k), approx, k)
  }

  /** Matryoshka-truncation recall: top-k retrieval quality when only
    * the first `dims` of 64 dimensions are used (cosine over the
    * prefix) vs the full-dimension exact top-k — the evaluation an
    * MRL-style deployment runs before serving truncated vectors (4×
    * less memory/bandwidth; this table says what it costs in
    * recall). Both sides are the bounded-broadcast exact scan; the
    * truncated side just slices before the dot.
    */
  def annRecallMrl(spark: SparkSession, dir: String, dims: Int = 16,
                   nQueries: Int = 10, k: Int = 5): DataFrame = {
    val trunc = slice(col("embedding"), 1, dims)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), trunc.as("embedding"), V.normSq(trunc).as("n2"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("n2").as("q_n2"))
    recallAtK(annBruteForce(spark, dir, nQueries, k), exactTopK(q, e, k), k)
  }

  /** Top-2 centroid ROUTER with confidence margin — the assignment
    * table a mixture-of-experts / IVF build step materializes: each
    * vector's best and runner-up coarse cell under the shared
    * trained quantizer ([[ivfCentroids]], same one-Lloyd-pass model
    * the IVF oracles replay) plus the ×10⁴-floored score margin
    * between them. Low margin = routing-unstable vector (the ones a
    * re-balance or multi-assign policy should look at first). Pure
    * map work: K score structs per row, sorted in-expression —
    * Catalyst's subexpression elimination computes the array once
    * per row.
    */
  def embRouter(spark: SparkSession, dir: String,
                clusters: Int = 16, iters: Int = 1): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = ivfCentroids(e, clusters, iters)
    val scored = cents.map { case (cid, c) =>
      struct(
        (graft.plans.VecDot(col("embedding"), typedlit(c.toSeq)) -
          lit(c.map(x => x * x).sum / 2.0)).as("s"),
        lit(cid).as("cid"))
    }
    val arr = sort_array(array(scored: _*), asc = false)
    e.select(col("vec_id"),
      element_at(arr, 1).getField("cid").cast("long").as("cid1"),
      element_at(arr, 2).getField("cid").cast("long").as("cid2"),
      // the raw margin is a difference of sequential double dot
      // products: pin it to 4 decimals BEFORE scaling so a 1-ulp
      // cross-engine drift can't flip the integer (margins are >= 0
      // under the desc sort, so half-up == half-away rounding)
      round(round(element_at(arr, 1).getField("s") -
        element_at(arr, 2).getField("s"), 4) * 10000, 0)
        .cast("long").as("margin_e4"))
  }

  /** Recall@k of the PQ-ADC ranking against the exact top-k — the
    * third recall curve next to [[annRecall]] (IVF) and
    * [[annRecallLsh]]: ADC recall moves with codebook quality
    * ([[embPqDistortion]] says WHICH subspace), the others with
    * probe budgets. Same left-join composition, both sides existing
    * operators.
    */
  def annRecallAdc(spark: SparkSession, dir: String,
                   nQueries: Int = 5, k: Int = 5): DataFrame =
    recallAtK(annBruteForce(spark, dir, nQueries, k), embAdc(spark, dir, nQueries, k), k)

  /** (vec_id, t, sig): every vector's bucket in every LSH table —
    * the map-only signature pass [[annLsh]] builds its index from,
    * exposed for index maintenance and balance monitoring.
    */
  def lshSignatures(spark: SparkSession, dir: String,
                    bits: Int = LSH_BITS, tables: Int = LSH_TABLES): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), sigCol(t, col("embedding"), bits).as("sig"))): _*)).as("ts"))
      .select(col("vec_id"), col("ts.t").as("t"), col("ts.sig").as("sig"))

  /** SemDeDup-style semantic dedup groups — the SCALE path for
    * [[NearDup.embDedupGroups]]'s exact Ω(n²) contract (Abbas et
    * al., "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", 2023): every vector is assigned to the
    * shared trained IVF coarse quantizer ([[ivfCentroids]] — the
    * same one-Lloyd-pass model all the IVF oracles replay),
    * candidate pairs are generated ONLY within a cluster (a plain
    * cid equi-join — never all-pairs), exact-cosine verified, and
    * grouped with [[NearDup.starComponents]].
    *
    * Scale shape: compare work drops from n²/2 to Σ_k n_k²/2 — ×K
    * for balanced clusters — and K grows with the corpus
    * (`clusters = 0` derives K = [[clustersFor]](n), pinning mean
    * cluster size so compare/shuffle mass stays LINEAR in n; SemDeDup
    * runs K in the tens of thousands at web scale), so each
    * cluster's candidate block stays executor-sized while the
    * equi-join spreads clusters across the shuffle; a hot cluster is
    * AQE's skew-join case, and the standard remedies (larger K,
    * per-cluster sub-blocking as in [[NearDup.embCosineDedup]])
    * compose. The price is recall at the cluster boundary: a pair
    * split across coarse cells is never compared. Measured against
    * the exact edge set in OperatorSpec on the sf0.001 testdata
    * (threshold 0.4, K=16): nprobe=1 recovers 15/66 edges (0.23) —
    * this corpus is isotropic, so threshold-0.4 "near-dups" sit at
    * the sim-distribution tail and straddle cells far more than the
    * ~0.99-sim copies SemDeDup targets — and nprobe=2 multi-assign
    * ([[embSemanticPairs]]) lifts it to 44/66 (0.67). On a real
    * near-dup corpus the same quantizer concentrates ~1.0-sim copies
    * into one cell and recall approaches 1; the spec pins the
    * refinement invariant (semantic groups always sit INSIDE exact
    * groups) and the lever's direction, not a corpus-specific recall
    * constant.
    */
  def embSemanticGroups(spark: SparkSession, dir: String,
                        threshold: Double = 0.4, clusters: Int = 0,
                        iters: Int = 1, maxRounds: Int = 30): DataFrame = {
    val pairs = embSemanticPairs(spark, dir, threshold, clusters, iters)
      .select("a_id", "b_id")
    val nodes = Tables.embeddings(spark, dir).select(col("vec_id"))
    NearDup.starComponents(nodes, pairs, maxRounds)._1
  }

  /** SemDeDup's own scale contract as code: the cluster count GROWS
    * with the corpus so the mean cluster size n/K stays pinned at
    * `targetClusterSize` and the in-cluster compare mass Σ_k n_k²
    * ≈ n·targetClusterSize stays LINEAR in n (the round-7 movement
    * net measured the fixed-K=16 rendering's shuffle bytes growing
    * 82× for 10× data — exactly the Σn_k² blowup this removes).
    * Floor of 16 keeps every small-corpus quantizer identical to the
    * historical fixed-K oracles; 125 pins K=16 on the 2000-vector
    * sf0.1 corpus and K=160 at its 10× soak — the measured-linearity
    * point. `clusters = 0` on the query entrypoints means "derive via
    * this" (one metadata-only count at plan-build, next to the Lloyd
    * seed collect that already runs there).
    */
  def clustersFor(n: Long, targetClusterSize: Long = 125): Int =
    math.max(16L, (n + targetClusterSize - 1) / targetClusterSize).toInt

  /** The in-cluster verified edge set behind [[embSemanticGroups]],
    * exposed for recall audits against the exact
    * [[NearDup.embCosineDedup]] pairs. `nprobe` is the multi-assign
    * recall lever: each vector is replicated to its nprobe nearest
    * coarse cells before the pair join (candidates distinct-ed, so a
    * pair sharing several cells is verified once) — recall rises at
    * the cost of ×nprobe index size and candidate volume, exactly
    * the IVF probe/recall trade [[annRecall]] monitors on the search
    * side.
    */
  /** The coarse-cell assignment behind [[embSemanticPairs]] —
    * top-nprobe cells per vector, the embRouter struct-sort shape,
    * map-only (ties break to the larger cid, matching the oracle's
    * score DESC, cid DESC order). Past [[literalKMax]] the same
    * sort/slice runs over the FOLDED broadcast centroid array instead
    * of K inlined literal structs (identical scores and tie semantics
    * — equality spec-pinned), which is what lets auto-K grow with the
    * corpus without hitting the plan-literal wall.
    *
    * Rows CARRY the vector payload (vec_id, cid, embedding, n2): the
    * assignment is map-only over the norm frame, so the payload rides
    * for free — and the pair join verifies IN-JOIN on the
    * cid-shuffled sides, so the shuffle volume is n·nprobe·(dim
    * payload), linear in the corpus, instead of Σn_k² candidate rows
    * re-fetching their embeddings through id-keyed joins (the
    * round-8 sf10 movement net measured that shape at 2.7 GB where
    * this one moves ~0.1 GB).
    */
  private[graft] def semanticAssignmentsFull(e: DataFrame, k: Int,
                                             iters: Int, nprobe: Int): DataFrame =
    assignTopN(e, ivfCentroids(e, k, iters), nprobe)

  /** Top-`nprobe` cell assignment of a (vec_id, embedding, n2) frame
    * under a GIVEN trained centroid model (map-only: K-constant
    * broadcast, no corpus self-join) — factored out of
    * [[semanticAssignmentsFull]] (round-13) so the incremental path
    * can assign a batch under FROZEN history-trained centroids.
    * Ties score DESC, cid DESC — the sort_array struct order every
    * oracle replays.
    */
  private def assignTopN(e: DataFrame, cents: Seq[(Int, Array[Double])],
                         nprobe: Int): DataFrame = {
    if (cents.size <= literalKMax) {
      val scored = cents.map { case (cid, c) =>
        struct(
          (graft.plans.VecDot(col("embedding"), typedlit(c.toSeq)) -
            lit(c.map(x => x * x).sum / 2.0)).as("s"),
          lit(cid).as("cid"))
      }
      e.select(col("vec_id"), col("embedding"), col("n2"),
          explode(slice(sort_array(array(scored: _*), asc = false), 1, nprobe)).as("sc"))
        .select(col("vec_id"), col("sc.cid").as("cid"), col("embedding"), col("n2"))
    } else e.crossJoin(broadcast(centFold(e.sparkSession, cents)))
      .select(col("vec_id"), col("embedding"), col("n2"),
        explode(slice(sort_array(scoredFoldArr, asc = false), 1, nprobe)).as("sc"))
      .select(col("vec_id"), col("sc.cid").as("cid"), col("embedding"), col("n2"))
  }

  /** Driver-side grouping of the K trained centroids into `groups`
    * routing groups for the two-level assignment: a deterministic
    * mini-Lloyd over the K centroid VECTORS (seeds = first `groups`
    * centroids by cid, 3 refinement passes, squared-Euclidean
    * assignment, ties to the lower gid, empty groups dropped). K is
    * a bounded model constant (the same K-row scale class as the
    * [[centFold]] broadcast), so this is driver arithmetic on the
    * model, not a data-side collect. Group means are EXACT
    * scaled-integer arithmetic: members are 4-decimal cell centroids,
    * so each coordinate is recovered as an exact ×10⁴ integer, summed
    * as Long and divided truncating — float summation order can't
    * move a mean by an ulp (4-decimal inputs put the true mean ON a
    * rounding half constantly, where round(avg(..), 4) flips with
    * plan/partitioning — measured in DuckDB itself), which is what
    * lets the oracle replay the routed assignment exactly.
    */
  private def centroidGroups(cents: Seq[(Int, Array[Double])], groups: Int)
      : Seq[(Int, Array[Double], Seq[(Int, Array[Double])])] = {
    val g = math.min(math.max(1, groups), cents.size)
    var gcents: IndexedSeq[Array[Double]] = cents.take(g).map(_._2).toIndexedSeq
    def assign(): Map[Int, Seq[(Int, Array[Double])]] =
      cents.groupBy { case (_, c) =>
        var best = 0; var bestD = Double.MaxValue
        var gi = 0
        while (gi < gcents.length) {
          val gv = gcents(gi)
          var s = 0.0; var i = 0
          while (i < c.length) { val d = c(i) - gv(i); s += d * d; i += 1 }
          if (s < bestD) { bestD = s; best = gi }
          gi += 1
        }
        best
      }
    for (_ <- 0 until 3) {
      val byG = assign()
      gcents = gcents.indices.map { gi =>
        byG.get(gi) match {
          case Some(ms) =>
            // c.length throughout (same as the distance loop) so a
            // wrong-length centroid fails loudly instead of silently
            // truncating the mean
            val acc = new Array[Long](ms.head._2.length)
            ms.foreach { case (_, c) =>
              require(c.length == acc.length,
                s"centroid dim ${c.length} != ${acc.length}")
              // cells are 4-decimal doubles: ×10⁴ sits within ~1e-9
              // of an integer, so round() recovers it exactly
              var i = 0
              while (i < c.length) { acc(i) += math.round(c(i) * 10000.0); i += 1 } }
            // truncating Long division == DuckDB's BIGINT `//`
            acc.map(s => (s / ms.size) / 10000.0)
          case None => gcents(gi)
        }
      }
    }
    val byG = assign()
    gcents.indices.map(gi => (gi, gcents(gi), byG.getOrElse(gi, Nil)))
      .filter(_._3.nonEmpty)
  }

  /** The grouped centroid model folded to ONE broadcast row (`gs`:
    * gid-sorted array of (gid, gvec, gh, ms) structs, each `ms` the
    * group's member cells as (cid, cvec, h) — `h` and `gh` summed on
    * the driver exactly like [[centFold]], so member scores stay
    * bit-identical to the flat rendering's).
    */
  private def groupFold(spark: SparkSession,
      gs: Seq[(Int, Array[Double], Seq[(Int, Array[Double])])]): DataFrame =
    spark.createDataFrame(gs.map { case (gid, gv, ms) =>
        (gid, gv.toSeq, gv.map(x => x * x).sum / 2.0,
          ms.map { case (cid, c) => (cid, c.toSeq, c.map(x => x * x).sum / 2.0) })
      })
      .toDF("gid", "gvec", "gh", "ms")
      .select(col("gid"), col("gvec"), col("gh"),
        transform(col("ms"), m => struct(
          m.getField("_1").as("cid"), m.getField("_2").as("cvec"),
          m.getField("_3").as("h"))).as("ms"))
      .agg(sort_array(collect_list(
        struct(col("gid"), col("gvec"), col("gh"), col("ms")))).as("gs"))

  /** TWO-LEVEL (routed) rendering of the quantizer assignment — the
    * decade past [[semanticAssignmentsFull]]'s flat scan. Auto-K
    * keeps the COMPARE mass linear (K ∝ n pins mean cluster size),
    * but the flat assignment scores all K cells per vector: n·K =
    * n²/targetClusterSize multiplies — measured fine through the
    * sf10 soaks, hours at sf100 (BASELINE round-9). Routing scores
    * the G ≈ √K group centers first, keeps the top `gprobe` groups,
    * and scores only their member cells: n·(G + gprobe·K/G) ≈
    * 2n·√(gprobe·K) multiplies — ~42× fewer at K = 16 000. The same
    * construction composes recursively (group the groups) for a
    * further decade — the FAISS IMI / coarse-HNSW shape.
    *
    * EXACTNESS: member scores and (s, cid) tie semantics are
    * bit-identical to the flat rendering, so with `gprobe` ≥ G the
    * candidate set is ALL cells and the assignment EQUALS the flat
    * one exactly (spec-pinned). At gprobe < G a vector whose true
    * argmax cell lives outside its top-gprobe groups mis-routes to
    * its best probed cell — the probed-set indicator is monotone in
    * gprobe, so agreement with flat only grows with gprobe
    * (spec-pinned). Downstream safety: ANY assignment only shapes
    * candidate generation; verified pairs are exact-cosine checked,
    * so the semantic-⊆-exact refinement invariant holds regardless.
    *
    * Every HOF stage is materialized as its own projected column
    * (`topg`, `cand`) before the next lambda references it, so no
    * sort/slice is re-evaluated per array element (the
    * plans/TextExprs re-evaluation rule).
    */
  private[graft] def semanticAssignmentsRoutedFull(e: DataFrame,
      cents: Seq[(Int, Array[Double])], nprobe: Int, gprobe: Int): DataFrame = {
    val g = math.ceil(math.sqrt(cents.size.toDouble)).toInt
    val gs = centroidGroups(cents, g)
    val folded = groupFold(e.sparkSession, gs)
    e.crossJoin(broadcast(folded))
      .withColumn("topg", transform(
        slice(sort_array(transform(col("gs"), gg => struct(
          (graft.plans.VecDot(col("embedding"), gg.getField("gvec")) -
            gg.getField("gh")).as("s"),
          gg.getField("gid").as("gid"))), asc = false),
          1, math.min(gprobe, gs.size)),
        x => x.getField("gid")))
      .withColumn("cand", flatten(transform(
        filter(col("gs"), gg => array_contains(col("topg"), gg.getField("gid"))),
        gg => gg.getField("ms"))))
      .select(col("vec_id"), col("embedding"), col("n2"),
        explode(slice(sort_array(transform(col("cand"), cc => struct(
          (graft.plans.VecDot(col("embedding"), cc.getField("cvec")) -
            cc.getField("h")).as("s"),
          cc.getField("cid").as("cid"))), asc = false), 1, nprobe)).as("sc"))
      .select(col("vec_id"), col("sc.cid").as("cid"), col("embedding"), col("n2"))
  }

  /** [[embSemanticPairs]] with the ROUTED assignment and (optionally)
    * sample-trained centroids — the past-sf10 rendering of semantic
    * dedup (lib seam; the contract query keeps the flat shape its
    * oracles replay). `trainSampleTarget` > 0 caps the Lloyd
    * refinement frame at ~that many rows via a deterministic
    * xxhash64(vec_id) stride filter (seeds still come from the full
    * corpus, so all K seed cells exist); 0 trains on the full corpus
    * — with gprobe ≥ G that configuration is output-identical to
    * [[embSemanticPairs]] (the equality spec's configuration).
    */
  def embSemanticPairsRouted(spark: SparkSession, dir: String,
      threshold: Double = 0.4, clusters: Int = 0, iters: Int = 1,
      nprobe: Int = 1, gprobe: Int = 2,
      trainSampleTarget: Long = 0L): DataFrame = {
    val e = semanticFrame(spark, dir)
    // round-13: footer-metadata count (exact — same K, no scan job)
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val k = if (clusters > 0) clusters else clustersFor(n)
    val trainE =
      if (trainSampleTarget <= 0L || n <= trainSampleTarget) e
      else e.filter(pmod(xxhash64(col("vec_id")),
        lit(math.max(1L, n / trainSampleTarget))) === 0)
    val cents = ivfCentroidsOn(e, trainE, k, iters)
    val a = semanticAssignmentsRoutedFull(e, cents, nprobe, gprobe)
    val sim = V.cosineWithNorms(
      V.dot(col("a.embedding"), col("b.embedding")), col("a.n2"), col("b.n2"))
    a.as("a")
      .join(a.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"), sim.as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
      .distinct()
  }

  /** Test seam: the trained flat-Lloyd centroid model over the
    * corpus's semantic frame — lets the routed-assignment spec score
    * agreement against [[semanticAssignmentsFull]] on the SAME model.
    */
  private[graft] def trainedCentroidsForTest(spark: SparkSession, dir: String,
                                             k: Int): Seq[(Int, Array[Double])] =
    ivfCentroids(semanticFrame(spark, dir), k, iters = 1)

  /** The sampled-norm embedding frame the semantic-dedup family
    * reads (vec_id, embedding, n2). */
  private[graft] def semanticFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), V.normSq(col("embedding")).as("n2"))

  def embSemanticPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.4, clusters: Int = 0,
                       iters: Int = 1, nprobe: Int = 1): DataFrame = {
    val e = semanticFrame(spark, dir)
    val k = if (clusters > 0) clusters
            else clustersFor(Tables.parquetRowCount(spark, dir, "embeddings"))
    // in-join verification: both sides of the cid equi-join carry
    // their vector payload (map-only assignment), so the candidate
    // pairs exist only inside the join's output stream and are
    // reduced by the sim threshold BEFORE anything is shuffled — the
    // shuffle moves n·nprobe payload rows, never Σn_k² pair rows
    // re-fetching embeddings (the shape the sf10 movement net caught
    // at 2.7 GB; this one moves ~0.1 GB at the same scale). A pair
    // sharing several cells under multi-assign verifies once per
    // shared cell and dedups in the final (tiny) distinct.
    val a = semanticAssignmentsFull(e, k, iters, nprobe)
    val sim = V.cosineWithNorms(
      V.dot(col("a.embedding"), col("b.embedding")), col("a.n2"), col("b.n2"))
    a.as("a")
      .join(a.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"), sim.as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
      .distinct()
  }

  /** Embedding-side INCREMENTAL semantic dedup — the batch-vs-history
    * rendering that completes the incremental detector symmetry
    * (exact hashes: docs_dedup_incremental; minhash bands:
    * docs_neardup_incremental; cosine/semantic: THIS). The persisted
    * index is the HISTORY-trained flat quantizer (seeds AND Lloyd
    * refinement read history only — the index exists before the
    * batch, so ingesting a batch never perturbs it) plus history's
    * argmax cell assignment; a new batch (doc-family split
    * convention: vec_id ≡ 0 mod 5) is assigned under the FROZEN
    * centroids (map-only K-row broadcast), probes its top-`nprobe`
    * cells' HISTORY members only (batch×history candidate orientation
    * — never history×history re-pairing, never batch self-pairs),
    * and exact-cosine verifies in-join before anything shuffles.
    * Per-batch work at scale: O(batch·K) assignment multiplies +
    * Σ(batch-cell × history-cell) verifies — history is never
    * re-trained, re-assigned, or re-paired; a production loop holds
    * (centroids, history assignment) as its persisted index and
    * appends the accepted batch's assignment rows, the
    * [[graft.operators.NearDup.writeBandManifest]] maintenance shape
    * with (cid, vec_id, embedding, n2) rows instead of band keys.
    * `nprobe` is the recall lever (multi-assigning the BATCH side
    * only — candidates stay batch×history); nprobe ≥ effective K
    * probes every cell, so the pair set saturates at the full
    * threshold-filtered batch×history bipartite graph.
    */
  def embSemanticIncremental(spark: SparkSession, dir: String,
                             threshold: Double = 0.4, clusters: Int = 16,
                             iters: Int = 1, nprobe: Int = 1): DataFrame = {
    val e = semanticFrame(spark, dir)
    val isBatch = pmod(col("vec_id"), lit(5L)) === 0
    val hist = e.filter(!isBatch)
    val cents = ivfCentroidsOn(hist, hist, clusters, iters)
    val aH = assignTopN(hist, cents, 1)
    val aB = assignTopN(e.filter(isBatch), cents, math.min(nprobe, cents.size))
    val sim = V.cosineWithNorms(
      V.dot(col("b.embedding"), col("h.embedding")), col("b.n2"), col("h.n2"))
    aB.as("b").join(aH.as("h"), col("b.cid") === col("h.cid"))
      .select(col("b.vec_id").as("vec_id"), col("h.vec_id").as("hist_id"),
        sim.as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("vec_id"), col("hist_id"), round(col("sim"), 6).as("sim"))
      .distinct()
  }

  /** Per-table LSH bucket-balance monitor: occupied buckets, vector
    * count, largest bucket, and max/mean skew ×10⁴ — the health
    * check that tells you when a table's hyperplanes stopped
    * spreading the corpus (skew → candidate blowup in [[annLsh]]'s
    * probe join, the same pathology hot shingles cause in the text
    * path). Two map-combinable aggregates; reduce side is
    * tables × 2^bits rows max.
    */
  def embLshBalance(spark: SparkSession, dir: String,
                    bits: Int = LSH_BITS, tables: Int = LSH_TABLES): DataFrame =
    lshSignatures(spark, dir, bits, tables)
      .groupBy("t", "sig").agg(count(lit(1)).as("n"))
      .groupBy(col("t").cast("long").as("t"))
      .agg(count(lit(1)).as("n_buckets"), sum("n").as("n_vecs"), max("n").as("max_bucket"))
      .select(col("t"), col("n_buckets"), col("n_vecs"), col("max_bucket"),
        expr("(max_bucket * n_buckets * 10000) div n_vecs").as("skew_x1e4"))

  /** Distributed exact-integer k-means TRAINER (fixed-point Lloyd).
    *
    * [[ivfCentroids]] trains the serving quantizer but must collect
    * the K·64 means to the driver after EVERY iteration and pin them
    * to 4 decimals to stay engine-stable. This trainer removes both
    * compromises: vectors are quantized to an integer grid
    * (floor(1e3·x) — float→double is exact, so both engines see the
    * same longs), centroids live on the SAME grid via floored-mean
    * updates, and the whole `iters`-round loop builds ONE lazy
    * Catalyst plan — nothing is collected until the caller acts.
    * Every distance, comparison, and update is int64 arithmetic
    * (|diff| ≤ ~2·10³ ⇒ Σ₆₄ diff² ≤ ~3·10⁸), so the full training
    * trajectory replays bit-exactly in any engine — no rounding
    * pins, no ulp ties.
    *
    * Per iteration: the k-row centroid table folds into ONE row
    * (collect_list — bounded, k entries), broadcasts, and the
    * assignment is a PURE PROJECTION: per vector,
    * `array_min(transform(cs, …))` over the k (dist, cid) structs —
    * identical tie semantics to min(struct(dist, cid)), but with no
    * k·n row fan-out, no per-vector aggregate, and no sort (the
    * naive crossJoin+groupBy(vec_id) rendering SortAggregated k·n
    * rows per round — measured 2.3× this plan's cost). The update
    * is 64 map-combinable column sums per cluster — the ONLY
    * shuffle per round carries k rows. Clusters that lose every
    * member are dropped (deterministically, in both engines).
    *
    * Seeds are the k lowest vec_ids — same convention as
    * [[ivfCentroids]]. Output: one row per surviving (cid, dim)
    * with the trained grid coordinate and the cluster size.
    */
  /** The fixed-point Lloyd training loop behind [[embKmeansTrain]]
    * and [[embClusterQuality]]: returns the LAST assignment
    * (vec_id, cid, xs) and the centroids updated FROM it
    * (cid, n, ms) — both lazy, one plan.
    */
  private def kmeansModel(spark: SparkSession, dir: String,
                          k: Int, iters: Int): (DataFrame, DataFrame) = {
    // sq (per-row Σv² — the quality monitor's Σ‖x‖² input) is
    // computed HERE, in the projection that already carries the
    // grid-quantize HOF: a higher-order function inside the
    // 66-function centroid aggregate would knock that whole corpus
    // aggregate out of whole-stage codegen (measured 2.2× the
    // trainer); as a plain column it's a codegen'd partial_sum.
    // Σv² itself is the VecL2Sq kernel against the zero vector.
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        graft.plans.VecFloorScale(col("embedding"), 1000).as("xs"))
      .withColumn("sq", VecL2Sq(col("xs"), array_repeat(lit(0L), 64)))
    // (cid, n, ms): n only carried for the final report
    var cents: DataFrame = x.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), lit(0L).as("n"), col("xs").as("ms"))
    var lastAssigned: DataFrame = null
    for (_ <- 0 until iters) {
      val one = cents.agg(collect_list(struct(col("cid"), col("ms"))).as("cs"))
      // per-row argmin over the k entries: the lambda body is the
      // flat VecL2Sq kernel (one eval call per centroid), not a
      // nested aggregate/zip_with walk
      val assigned = x.crossJoin(broadcast(one))
        .select(col("vec_id"),
          array_min(transform(col("cs"),
            o => struct(
              VecL2Sq(col("xs"), o.getField("ms")).as("dist"),
              o.getField("cid").as("cid"))))
            .getField("cid").as("cid"),
          col("xs"), col("sq"))
      lastAssigned = assigned
      // floored mean per dim: numerator is made exactly divisible
      // (positive-mod correction), so truncating `div` IS floor —
      // identical to the oracle's `//` on the same longs.
      // sum_sq (Σ‖x‖² over members) rides the SAME map-combinable
      // aggregate so the quality monitor can recover the exact
      // intra-cluster mass Σ‖x−m‖² = sum_sq − 2⟨m,sums⟩ + n·‖m‖²
      // from the k-row table alone — no second pass over members.
      cents = assigned.groupBy("cid")
        .agg(count(lit(1)).as("n"),
          array((0 until 64).map(i => sum(element_at(col("xs"), i + 1))): _*).as("sums"),
          sum(col("sq")).as("sum_sq"))
        .select(col("cid"), col("n"), col("sums"), col("sum_sq"),
          expr("transform(sums, s -> (s - ((s % n + n) % n)) div n)").as("ms"))
    }
    (lastAssigned, cents)
  }

  def embKmeansTrain(spark: SparkSession, dir: String,
                     k: Int = 8, iters: Int = 2): DataFrame =
    kmeansModel(spark, dir, k, iters)._2
      .select(col("cid"), col("n"), posexplode(col("ms")).as(Seq("pos", "m")))
      .select(col("cid"), (col("pos") + 1).cast("long").as("dim"), col("m"), col("n"))

  /** Clustering-quality MONITOR over the trained model — the
    * kmeans leg of the monitor family (recall monitors for the
    * index structures, distortion for PQ, drift for centroids,
    * THIS for the trainer): per cluster, the exact intra-cluster
    * squared-distance mass to the updated centroid, the squared
    * separation to the nearest other centroid, and the
    * Dunn-style ratio floor(1e4·n·min_sep / intra) — separation
    * per unit of mean intra spread, exact integers throughout
    * (NULL for a zero-spread cluster). Cohesion uses the LAST
    * assignment against the centroids updated from it, matching
    * the trainer's own fixed point — recovered WITHOUT re-reading
    * the members: the trainer's update aggregate carries Σx (per
    * dim) and Σ‖x‖² per cluster, and over integer vectors
    * Σ‖x−m‖² = Σ‖x‖² − 2⟨m,Σx⟩ + n·‖m‖² exactly. The whole
    * monitor is therefore k-row arithmetic + the k² separation
    * cross on top of ONE execution of the Lloyd chain — it costs
    * the trainer, not a multiple of it (was ~2.8× when cohesion
    * re-joined the member assignment).
    */
  def embClusterQuality(spark: SparkSession, dir: String,
                        k: Int = 8, iters: Int = 2): DataFrame = {
    val cents = kmeansModel(spark, dir, k, iters)._2
    // SINGLE-consumer shape: the k-row centroid table folds into one
    // bounded row (k entries × ~1.6 KiB), and both cohesion and the
    // k² separation cross are array arithmetic on that row — so the
    // Lloyd chain is consumed exactly once per action (a shared
    // subtree would race its own recomputation across the consumers'
    // concurrent tasks), needs no checkpoint, and plan construction
    // stays side-effect free.
    val one = cents.agg(collect_list(struct(
      col("cid"), col("n"), col("sums"), col("sum_sq"), col("ms"))).as("cs"))
    one.select(explode(col("cs")).as("c"), col("cs"))
      .select(col("c.cid").as("cid"), col("c.n").as("n"),
        (col("c.sum_sq")
          - lit(2L) * expr(
              "aggregate(zip_with(c.ms, c.sums, (m, s) -> m * s), CAST(0 AS BIGINT), (a, v) -> a + v)")
          + col("c.n") * expr(
              "aggregate(c.ms, CAST(0 AS BIGINT), (a, m) -> a + m * m)")).as("intra_sum"),
        expr("""array_min(transform(filter(cs, o -> o.cid != c.cid),
               |o -> aggregate(zip_with(o.ms, c.ms, (a, b) -> (a - b) * (a - b)),
               |               CAST(0 AS BIGINT), (x, v) -> x + v)))""".stripMargin)
          .as("min_sep"))
      .filter(col("min_sep").isNotNull)
      .select(col("cid"), col("n"), col("intra_sum"), col("min_sep"),
        expr("CASE WHEN intra_sum <= 0 THEN NULL ELSE (10000 * n * min_sep) div intra_sum END")
          .as("dunn_e4"))
  }

  /** FARTHEST-POINT initialization (greedy k-center / the
    * deterministic cousin of k-means++ seeding) — the INIT leg of
    * the trainer family: start from the smallest vec_id, then k−1
    * rounds of "add the vector maximizing its min distance to the
    * chosen set" (ties → smallest vec_id). Spread-out seeds are
    * what makes [[embKmeansTrain]]'s lowest-ids convention worth
    * replacing at scale — degenerate seeds cost Lloyd iterations,
    * and each Lloyd iteration is a corpus pass.
    *
    * Shape: the chosen set folds to ONE collected row per round
    * (bounded, ≤ k entries) and broadcasts; per-row min-distance is
    * the flat [[graft.plans.VecL2Sq]] kernel inside an array_min;
    * the round's winner is a 1-row TakeOrdered — the whole k-round
    * selection is ONE lazy plan with no driver collect (the
    * text_bpe_merges chaining pattern). Exact int64 grid distances
    * replay bit-for-bit. Round r's plan embeds rounds 1..r−1, so
    * scans grow O(k²) in the lazy rendering — fine at the contract's
    * k=4.
    */
  def embInitFarthest(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    require(k >= 1, s"embInitFarthest needs k >= 1, got $k")
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), graft.plans.VecFloorScale(col("embedding"), 1000).as("xs"))
    var chosen: DataFrame = x.orderBy(col("vec_id")).limit(1)
      .select(lit(1L).as("rnk"), col("vec_id"), lit(0L).as("min_dist"), col("xs"))
    for (r <- 2 to k) {
      val one = chosen.agg(collect_list(struct(col("vec_id").as("cid"), col("xs"))).as("cs"))
      val next = x.crossJoin(broadcast(one))
        .select(col("vec_id"), col("xs"),
          array_min(transform(col("cs"),
            o => VecL2Sq(col("xs"), o.getField("xs")))).as("min_dist"))
        .orderBy(col("min_dist").desc, col("vec_id"))
        .limit(1)
        .select(lit(r.toLong).as("rnk"), col("vec_id"), col("min_dist"), col("xs"))
      chosen = chosen.union(next)
    }
    chosen.select("rnk", "vec_id", "min_dist")
  }

  /** Semi-supervised LABEL PROPAGATION over the kNN graph — the
    * classifier-bootstrapping pass a curation pipeline runs when
    * labels are scarce (a small seed set of quality/domain labels
    * spread over the embedding neighborhood graph — the graph-based
    * sibling of the [[graft.operators.TextAnalysis.textNbSources]]
    * NB classifier, reaching docs whose TEXT features are
    * uninformative but whose neighbors are labeled). Seeds are the
    * deterministic 20% split (vec_id % 5 == 0 — the
    * dedupIncremental arrival-date stand-in) carrying the corpus
    * label column; each round, every still-unlabeled node takes the
    * MAJORITY label among its k out-neighbors' current labels (ties
    * → smallest label; no labeled neighbor → stays unlabeled this
    * round), labeled nodes are clamped. All-integer, no RNG — the
    * full trajectory replays in SQL.
    *
    * Scale shape: the edge frame is built once (exact build by
    * contract — the [[embGraphRank]] convention; a scale run feeds
    * [[labelPropOn]] the cell-routed edges) and checkpointed; each
    * round is one equi-join on the partitioned dst axis + one
    * map-combinable (src, label) count + a per-src window over ≤
    * k·|labels| candidate rows (bounded per node, never a global
    * funnel). State is one (vec_id, label, round) row per node.
    */
  def embKnnLabelProp(spark: SparkSession, dir: String, k: Int = 3,
                      rate: Double = 0.1, rounds: Int = 2): DataFrame = {
    val edges = embKnnGraph(spark, dir, k, rate)
      .select(col("vec_id").as("src"), col("n_id").as("dst"))
    val seeds = Tables.embeddings(spark, dir)
      .filter(Sampling.hash32(col("vec_id")) < Sampling.rateThreshold(rate))
      .select(col("vec_id"),
        when(pmod(col("vec_id"), lit(5L)) === 0, col("label").cast("long")).as("label"))
    labelPropOn(edges, seeds, rounds)
  }

  /** The propagation loop over CALLER-SUPPLIED (src, dst) edges and
    * (vec_id, label) seed frames (label null = unlabeled) — the
    * quadratic-escape seam: feed it [[embKnnGraphCells]] edges and
    * the loop costs O(edges) per round at any corpus size.
    */
  def labelPropOn(rawEdges: DataFrame, rawSeeds: DataFrame,
                  rounds: Int = 2): DataFrame = {
    val edges = rawEdges.localCheckpoint(eager = false)
    var cur = labelPropInit(rawSeeds)
    for (r <- 1 to rounds)
      cur = labelPropRound(edges, cur, r).localCheckpoint(eager = false)
    cur
  }

  /** Trajectory frame at round 0: seeds carry labeled_round 0. */
  private def labelPropInit(rawSeeds: DataFrame): DataFrame =
    rawSeeds
      .select(col("vec_id"), col("label"),
        when(col("label").isNotNull, lit(0L)).as("labeled_round"))
      .localCheckpoint(eager = false)

  /** ONE majority-vote round — the step both the fixed-round
    * unrolled rendering ([[labelPropOn]]) and the early-stop driver
    * ([[labelPropUntilConverged]]) execute, so the two cannot drift:
    * each still-unlabeled node takes the majority label of its
    * labeled out-neighbors (count DESC, label ASC ties; labeled
    * nodes clamped), newly labeled nodes stamped with round `r`.
    */
  private def labelPropRound(edges: DataFrame, cur: DataFrame,
                             r: Int): DataFrame = {
    val votes = edges
      .join(cur.select(col("vec_id").as("dst"), col("label").as("nl")), "dst")
      .filter(col("nl").isNotNull)
      .groupBy("src", "nl").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("src").orderBy(col("c").desc, col("nl"))
    val winner = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("src"), col("nl").as("wl"))
    cur.join(winner, cur("vec_id") === winner("src"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("wl")).as("label"),
        coalesce(col("labeled_round"),
          when(col("wl").isNotNull, lit(r.toLong))).as("labeled_round"))
  }

  /** Label propagation iterated UNTIL CONVERGED — the production
    * driver the convergence monitor's stopping signal exists for
    * (round-13): one [[labelPropRound]] per iteration, each
    * materialized by an eager localCheckpoint whose `observe` metric
    * reads its newly-labeled total (one action per round, no
    * separate monitor pass), stopping at the first round that labels
    * nothing new or at `maxRounds` (the runaway bound for a graph
    * whose frontier never drains — e.g. long label-free chains).
    * Returns (trajectory, roundsRun) where roundsRun is the last
    * PRODUCTIVE round; the trajectory is bit-identical to
    * `labelPropOn(edges, seeds, rounds = R)` for EVERY R ≥ roundsRun
    * (an empty round is a fixpoint: no vote set changes afterwards),
    * so downstream consumers — [[labelPropConvergence]] included —
    * cannot tell the early stop happened. Cost: the unrolled
    * rendering's per-round join + aggregate, minus every round past
    * convergence; at 100 TB the saved rounds are corpus-sized joins,
    * bought for one ≤ maxRounds driver loop of cached-plan counts.
    */
  def labelPropUntilConverged(rawEdges: DataFrame, rawSeeds: DataFrame,
                              maxRounds: Int = 10): (DataFrame, Int) = {
    val edges = rawEdges.localCheckpoint(eager = false)
    var cur = labelPropInit(rawSeeds)
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      // round-14: the newly-labeled count rides the round's own
      // materialization as an `observe` metric (one action per
      // round); the old rendering paid a separate filter+isEmpty
      // scan, which on the converged round read the whole frame
      // anyway (no row matches, no short-circuit).
      val obs = org.apache.spark.sql.Observation()
      val next = labelPropRound(edges, cur, r + 1)
        .observe(obs, count(when(col("labeled_round") === (r + 1).toLong, 1))
          .as("n_new"))
        .localCheckpoint()
      if (obs.get.apply("n_new").asInstanceOf[Long] == 0L)
        converged = true
      else { r += 1; cur = next }
    }
    (cur, r)
  }

  /** CONVERGENCE monitor over a [[labelPropOn]] trajectory — the
    * loop's stopping signal at scale (round-12 verdict #7): how many
    * nodes were newly labeled in each round, and what fraction of
    * the node set that is. A production run watches n_new collapse
    * toward 0 and stops iterating (or flags a graph whose frontier
    * never drains). Consumes the propagation OUTPUT frame (vec_id,
    * label, labeled_round), so it costs one map-combinable aggregate
    * on top of whichever trajectory — exact contract feed or the
    * routed scale feed — already ran; `round` −1 collects the
    * never-labeled remainder (seeds are round 0). frac_e6 is the
    * exact ×10⁶-floored share of all nodes — integer end-to-end, so
    * any engine reproduces it bit-for-bit. The aggregate has ≤
    * rounds + 2 groups; the unpartitioned total window runs over
    * those few rows, never the corpus.
    */
  def labelPropConvergence(trajectory: DataFrame): DataFrame =
    trajectory
      .groupBy(coalesce(col("labeled_round"), lit(-1L)).as("round"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("frac_e6",
        expr("(n_new * 1000000) div (sum(n_new) over ())"))

  /** Integer PageRank over the kNN graph — 2 power iterations of the
    * canonical iterative equi-join + aggregate shape (the plan every
    * distributed graph-centrality job runs; connected components
    * covered the min-label family, this covers mass propagation).
    * The centrality signal a curation pass reads off the semantic
    * graph: high-mass nodes sit in dense neighborhoods (cluster
    * cores / heavily-duplicated content), low-mass nodes are
    * periphery.
    *
    * Numeric contract: masses start at 10⁶; each round every node
    * emits floor(mass/k) along its k out-edges and collects
    * 150000 + floor(85·Σincoming/100) — the damped-PageRank update
    * in pure int64 (floors shed mass; rank ORDER is the signal, and
    * both engines shed identically). Out-degree is exactly k for
    * every sampled node by the kNN construction, so there are no
    * dangling nodes.
    *
    * Scale shape: the edge set is checkpointed once (the block-pair
    * cosine join must not re-execute per iteration); each iteration
    * is one equi-join + one map-combinable groupBy on dst. Mass
    * stays O(nodes); nothing driver-side. The edge set and the
    * out-degree table are `localCheckpoint(eager = false)`, which
    * under AQE still runs each child's shuffle stages at the call:
    * building this plan runs the kNN join and the degree aggregate.
    */
  def embGraphRank(spark: SparkSession, dir: String,
                   k: Int = 3, iters: Int = 2): DataFrame =
    embGraphRankOn(
      embKnnGraph(spark, dir, k)
        .select(col("vec_id").as("src"), col("n_id").as("dst")),
      k, iters)

  /** The rank loop over a CALLER-SUPPLIED (src, dst) edge frame —
    * the seam that takes the rank family off the quadratic curve:
    * the contract query feeds it the exact build (above), a scale
    * run feeds it [[embKnnGraphCells]] (cell-bounded candidates,
    * Σnₖ² work) and pays the routed build + O(edges) iterations
    * instead of (rate·n)². Rank on the routed build at exhaustive
    * probes is IDENTICAL to the contract output (spec), because the
    * builds are identical there. At working probes one approximation
    * remains on top of build recall: the node set matches the exact
    * build's only while every sampled node finds ≥ 1 in-cell
    * candidate — a node whose nprobe cells hold no other sampled
    * node emits no edges and drops out of the rank frame (auto-K
    * makes empty-neighborhood cells rare at scale, but an explicit
    * low `clusters` at small n can produce them). The round-10
    * mass-shedding distortion is GONE (round-12): each node divides
    * by its ACTUAL out-degree (one map-combinable aggregate over the
    * already-materialized edge frame), so a sub-k routed node
    * redistributes its full floored mass instead of shedding the
    * missing edges' share. On the exact feed out-degree ≡ k by the
    * kNN construction, so the contract output is provably unchanged.
    * Measured: the routed-feed rank loop in BASELINE.md round-12.
    */
  def embGraphRankOn(rawEdges: DataFrame, k: Int = 3, iters: Int = 2): DataFrame = {
    val edges = rawEdges.localCheckpoint(eager = false)
    // exact out-degree per node: nodes = distinct src, so od >= 1 by
    // construction (no dangling division); node-sized, consumed every
    // iteration -> detached once
    val deg = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("od"))
      .localCheckpoint(eager = false)
    val nodes = deg.select("v")
    var mass = nodes.withColumn("mass", lit(1000000L))
    for (_ <- 0 until iters) {
      val share = mass.join(deg, "v")
        .select(col("v").as("sv"), expr("mass div od").as("c"))
      val in = edges.join(share, col("src") === col("sv"))
        .select(col("dst"), col("c"))
        .groupBy("dst").agg(sum("c").as("sc"))
      mass = nodes.join(in, col("v") === col("dst"), "left_outer")
        .select(col("v"),
          (lit(150000L) + expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) div 100")).as("mass"))
    }
    val inDeg = edges.groupBy("dst").agg(count(lit(1)).as("in_deg"))
    mass.join(inDeg, col("v") === col("dst"), "left_outer")
      .select(col("v").as("vec_id"), col("mass"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
