package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling (SURVEY.md §2.4 adjunct) — the
  * subsetting pass a training pipeline runs to rebalance sources and
  * languages. Selection must be a pure function of a stable row
  * identity, never an RNG: reruns, retries, and different partition
  * layouts have to pick the SAME rows (Bernoulli `sample()` does not
  * survive a re-shuffle), and the decision must be auditable later.
  *
  * A row is selected iff the top 32 bits of md5(doc_id) fall below
  * rate · 2³². Thresholds are precomputed to exact integer literals
  * Scala-side, so the Spark plan and any re-implementation (the
  * DuckDB oracle included) compare the same integers — no
  * float-cast-rounding edge between engines. Map-only, no shuffle.
  */
object Sampling {

  /** 32-bit uniform hash of the doc id: first 8 hex digits of
    * md5(decimal string), parsed as an unsigned int. Shared with the
    * other deterministic-sampling operators (embKnnGraph's node
    * sample) so every sampling decision in the engine replays from
    * the same identity hash.
    */
  private[graft] def hash32(id: Column): Column =
    conv(substring(md5(id.cast("string").cast("binary")), 1, 8), 16, 10).cast("long")

  /** Exact integer threshold for a sampling rate. */
  def rateThreshold(rate: Double): Long = (rate * 4294967296L).toLong

  /** Driver-side replica of [[hash32]] (same md5-top-32-bit value)
    * for tests and audit tooling.
    */
  def hash32Of(id: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16)
  }

  /** Per-language stratified sampling decision for every document:
    * (doc_id, lang, is_sampled). `rates` maps languages to rates;
    * everything else gets `defaultRate`. Expected sample size per
    * stratum = rate · |stratum| (hash uniformity), deterministic
    * across runs and cluster layouts.
    */
  def docsSampleStratified(spark: SparkSession, dir: String,
                           rates: Seq[(String, Double)] = Seq("en" -> 0.5, "zh" -> 0.3),
                           defaultRate: Double = 0.2): DataFrame = {
    val threshold = rates.foldRight(lit(rateThreshold(defaultRate))) {
      case ((lang, r), els) => when(col("lang") === lang, lit(rateThreshold(r))).otherwise(els)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (hash32(col("doc_id")) < threshold).as("is_sampled"))
  }

  /** Sequence-packing plan (the pretraining concat-and-chunk pass):
    * per language, documents are laid end-to-end in doc_id order and
    * cut into fixed `budget`-token packs; each doc reports the pack
    * it STARTS in, its token offset there, and whether it spills
    * over the pack boundary (the row a loader uses to place/split
    * the sequence). All integer arithmetic over one running-sum
    * window per stratum — deterministic on any engine, no float.
    *
    * Scale: the cumulative window is one shuffle on (lang) with an
    * ordered in-partition scan. A whole-corpus stratum outgrows one
    * partition's sort at extreme scale; production splits the order
    * key into (lang, shard) with per-shard budgets — same plan
    * shape, bounded partitions.
    */
  def docsPack(spark: SparkSession, dir: String, budget: Int = 256): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum_tok", sum("n_tok").over(w))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        expr(s"(cum_tok - n_tok) div $budget").as("pack_id"),
        pmod(col("cum_tok") - col("n_tok"), lit(budget.toLong)).as("pack_offset"),
        (expr(s"(cum_tok - n_tok) div $budget") =!=
          expr(s"(cum_tok - 1) div $budget")).as("spills_over"))
  }

  /** The SHARDED rendering of [[docsPack]] — its scaladoc's scale
    * note as code: the order key splits from (lang) to (lang,
    * shard), where shard is the deterministic identity-hash
    * round-robin of [[docsShardPlan]], and each (lang, shard) packs
    * independently under the same budget. A whole-corpus stratum no
    * longer lands in one window partition — partitions are
    * 1/`shards` of a stratum, the knob a 100 TB run turns up until
    * each in-partition sort fits an executor. Pack ids are LOCAL to
    * (lang, shard) — exactly how a sharded loader consumes them (one
    * pack stream per output shard); the trade is documented, not
    * hidden: cross-shard pack boundaries don't exist, so per-shard
    * tail packs may run short (bounded by shards·budget tokens of
    * slack per lang). Deterministic on any layout (pure function of
    * doc_id), replayed in full by the oracle.
    */
  def docsPackSharded(spark: SparkSession, dir: String, budget: Int = 256,
                      shards: Int = 4): DataFrame = {
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        pmod(hash32(col("doc_id")), lit(shards.toLong)).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("cum_tok", sum("n_tok").over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tok"),
        expr(s"(cum_tok - n_tok) div $budget").as("pack_id"),
        pmod(col("cum_tok") - col("n_tok"), lit(budget.toLong)).as("pack_offset"),
        (expr(s"(cum_tok - n_tok) div $budget") =!=
          expr(s"(cum_tok - 1) div $budget")).as("spills_over"))
  }

  /** Output-shard planning — the publishing pass that splits a
    * finished corpus into S shards and PROVES the split is balanced:
    * deterministic hash round-robin (the same md5-derived identity
    * hash as [[docsSampleStratified]] — rerun-stable, no RNG) with
    * per-shard document and token accounting plus each shard's
    * token-mass deviation from the uniform share in exact ×10⁴
    * integer floors. Hash sharding is THE 100 TB answer here: an
    * LPT/greedy bin-pack needs a global sequential walk (a
    * single-partition sort at any scale), while the law of large
    * numbers bounds hash imbalance at millions of docs per shard —
    * this operator emits the evidence for that claim. One
    * map-combinable aggregate on S keys; nothing shuffles but the
    * S-row summary.
    */
  def docsShardPlan(spark: SparkSession, dir: String, shards: Int = 16): DataFrame = {
    val perShard = Tables.documents(spark, dir)
      .select(pmod(hash32(col("doc_id")), lit(shards.toLong)).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("shard_tokens"))
    val total = perShard.agg(sum("shard_tokens").as("total_tokens"))
    perShard.crossJoin(broadcast(total))
      .select(col("shard"), col("n_docs"), col("shard_tokens"),
        // deviation of this shard's mass from the uniform 1/S share,
        // in exact x10^4 floors: floor(1e4 * tokens * S / total)
        expr(s"(shard_tokens * $shards * 10000) div total_tokens").as("share_x1e4"))
  }

  /** Target-mixture sampling plan — the data-mixing pass that turns
    * "train on sources in ratio w₁:w₂:…" into a concrete, auditable
    * per-source sample. Source `srcN` gets weight N+1 (a stand-in
    * for an externally supplied weights table — the plan shape is
    * identical); the largest total T respecting the mixture without
    * upsampling is min over sources of ⌊n_s·W / w_s⌋ (W = Σw), each
    * source's planned keep count is k_s = ⌊T·w_s / W⌋, and a doc
    * survives iff hash32(doc_id)·n_s < k_s·2³² — the same
    * deterministic hash identity as [[docsSampleStratified]], with
    * the rate comparison CROSS-MULTIPLIED in DECIMAL(38,0) so there
    * is no division (and no float) anywhere: exact at any corpus
    * size, rerun- and partition-layout-stable.
    *
    * Shape: one map-combinable count by source, two single-row
    * aggregates (W, T — broadcast scalars), one broadcast join of
    * the #sources-row plan back onto the corpus, one count. The only
    * full-corpus work is the scan; everything keyed is
    * #sources-bounded. (The per-source caps n_s·W use long
    * arithmetic — overflow-safe until n_s·W exceeds 2⁶³, i.e.
    * corpus counts past ~4·10¹⁶ docs; the keep comparison itself is
    * decimal-exact.)
    */
  def docsMixSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        (substring(col("source"), 4, 18).cast("long") + 1L).as("w_num"))
    val counts = docs.groupBy("source", "w_num").agg(count(lit(1)).as("n_docs"))
    val wden = counts.agg(sum("w_num").as("w_den"))
    val caps = counts.crossJoin(broadcast(wden))
      .withColumn("cap", expr("(n_docs * w_den) div w_num"))
    val t = caps.agg(min("cap").as("t"))
    val plan = caps.crossJoin(broadcast(t))
      .withColumn("planned_keep", expr("(t * w_num) div w_den"))
      .select(col("source"), col("w_num"), col("n_docs"), col("planned_keep"))
    val kept = docs
      .withColumn("u", hash32(col("doc_id")))
      .join(broadcast(plan.select(col("source"), col("n_docs"), col("planned_keep"))), "source")
      .filter(col("u").cast("decimal(38,0)") * col("n_docs") <
        col("planned_keep").cast("decimal(38,0)") * lit(4294967296L))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    plan.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("w_num"),
        col("planned_keep"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** TOKEN-WEIGHTED mixture plan — [[docsMixSample]] with the ratio
    * target on TOKEN MASS instead of document count (the unit a
    * training mixture is actually specified in: "20% code tokens",
    * not "20% code documents" — doc-count mixing over-weights
    * short-doc sources). Same exact arithmetic: the largest total
    * token budget T respecting w₁:w₂:… without upsampling is
    * min over sources of ⌊tok_s·W / w_s⌋, each source's planned
    * token mass ⌊T·w_s/W⌋, and a doc survives iff
    * hash32(doc_id)·tok_s < planned_s·2³² — uniform per-doc keep
    * probability planned/tok_s, so kept token mass is unbiased for
    * the plan (reported exactly, per source, for the audit). The
    * keep comparison cross-multiplies in DECIMAL(38,0): tok_s can
    * reach 10¹³ at corpus scale, where long u·tok_s overflows.
    * Same shape as the doc-count variant: per-source aggregates,
    * two scalar broadcasts, one broadcast plan join, one count.
    */
  def docsMixTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        (substring(col("source"), 4, 18).cast("long") + 1L).as("w_num"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val counts = docs.groupBy("source", "w_num")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_toks"))
    val wden = counts.agg(sum("w_num").as("w_den"))
    val caps = counts.crossJoin(broadcast(wden))
      .withColumn("cap", expr("(n_toks * w_den) div w_num"))
    val t = caps.agg(min("cap").as("t"))
    val plan = caps.crossJoin(broadcast(t))
      .withColumn("planned_tokens", expr("(t * w_num) div w_den"))
      .select(col("source"), col("w_num"), col("n_docs"), col("n_toks"),
        col("planned_tokens"))
    val kept = docs
      .withColumn("u", hash32(col("doc_id")))
      .join(broadcast(plan.select(col("source"), col("n_toks"), col("planned_tokens"))),
        "source")
      .filter(col("u").cast("decimal(38,0)") * col("n_toks") <
        col("planned_tokens").cast("decimal(38,0)") * lit(4294967296L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept_docs"), sum("n_tok").as("kept_tokens"))
    plan.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_toks"), col("w_num"),
        col("planned_tokens"),
        coalesce(col("n_kept_docs"), lit(0L)).as("n_kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  /** TEMPERATURE-flattened mixture plan (τ = 0.5) — the multilingual
    * training recipe (mBERT/XLM-R style): per-source sampling mass
    * ∝ tokens^τ instead of the raw token share, so low-resource
    * sources are up-weighted and the head source stops dominating.
    * Weights are w_s = ⌊√tokens_s⌋ — floor of a correctly-rounded
    * IEEE sqrt of an exact (< 2⁵²) integer, engine-identical — and
    * the token budget B = ⌊T/2⌋ distributes as
    * planned_s = min(tokens_s, ⌊B·w_s/Σw⌋): the min caps each source
    * at its own mass (no upsampling; a capped source's unused budget
    * is NOT redistributed — one-pass plan, documented). The keep
    * rule is [[docsMixTokens]]'s exact DECIMAL cross-multiplied
    * hash-threshold, so the kept token mass is unbiased for the
    * plan. Same shape: per-source aggregates, two scalar broadcasts,
    * one broadcast plan join, one count.
    */
  def docsMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val counts = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_toks"))
      .withColumn("w_sqrt", expr("CAST(floor(sqrt(CAST(n_toks AS DOUBLE))) AS BIGINT)"))
    val tot = counts.agg(sum("w_sqrt").as("w_den"),
      expr("sum(n_toks) div 2").as("budget"))
    val plan = counts.crossJoin(broadcast(tot))
      .withColumn("planned_tokens",
        least(col("n_toks"), expr("(budget * w_sqrt) div w_den")))
      .select(col("source"), col("n_docs"), col("n_toks"), col("w_sqrt"),
        col("planned_tokens"))
    val kept = docs
      .withColumn("u", hash32(col("doc_id")))
      .join(broadcast(plan.select(col("source"), col("n_toks"), col("planned_tokens"))),
        "source")
      .filter(col("u").cast("decimal(38,0)") * col("n_toks") <
        col("planned_tokens").cast("decimal(38,0)") * lit(4294967296L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept_docs"), sum("n_tok").as("kept_tokens"))
    plan.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_toks"), col("w_sqrt"),
        col("planned_tokens"),
        coalesce(col("n_kept_docs"), lit(0L)).as("n_kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  /** EXACTLY-k-per-stratum deterministic sample (eval-set / probe-set
    * construction, where "about k" isn't acceptable): rank each
    * language's docs on (identity hash, doc_id) — a uniform, stable,
    * unique order — and keep the first k. Rerun-, retry-, and
    * layout-invariant like every sampler here (pure function of
    * doc_id). The per-stratum window sort is the audit rendering; at
    * corpus scale the same contract runs as two-phase top-k (local
    * per-partition heaps, then a k·#partitions merge — the
    * [[docsShardPlan]] note's pattern) without changing the result.
    */
  def docsSampleFixed(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), hash32(col("doc_id")).as("h"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("lang"), col("rnk"))
  }

  /** TWO-PHASE exactly-k sample — the 100 TB execution of
    * [[docsSampleFixed]]'s contract, result-identical by
    * construction. The single-pass rendering shuffles every row to
    * its stratum and sorts each stratum's FULL membership inside one
    * window partition; at corpus scale that per-stratum sort is the
    * bottleneck (and a whole-corpus stratum is a single-partition
    * sort). Here phase 1 keeps a bounded top-k heap PER (stratum,
    * input partition) — k·|strata| tuples of task state, no shuffle,
    * corpus touched exactly once at scan speed — and phase 2 ranks
    * only the ≤ k·|strata|·#partitions survivors (the window sort
    * runs on that reduced set, never the corpus).
    *
    * Equality argument: the global top-k of a stratum is contained
    * in the union of per-partition top-k's (any globally-selected
    * row is in its own partition's top-k), and rows ABOVE a selected
    * row in the (h, doc_id) order also all survive phase 1 — so the
    * phase-2 rank of every kept row equals its global rank. The
    * order key is unique (doc_id dedups ties), so ranks are
    * deterministic. Both phases are [[TopK.perGroup]] — the shared
    * per-partition heap fold (`mapPartitions` with constant memory,
    * not a window over the corpus) — scoring each doc by the NEGATED
    * hash, so score DESC, doc_id ASC is exactly (h, doc_id) ascending.
    */
  def docsSampleFixed2Phase(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    docsSampleFixed2PhaseOn(Tables.documents(spark, dir), k)

  /** [[docsSampleFixed2Phase]] over any (doc_id, lang, …) frame —
    * the seam the layout-invariance spec drives with adversarial
    * repartitionings (the result must not depend on which rows share
    * an input partition).
    */
  def docsSampleFixed2PhaseOn(documents: DataFrame, k: Int = 20): DataFrame =
    TopK.perGroup(documents.select(col("lang"), col("doc_id"),
        (-hash32(col("doc_id"))).as("neg_h")), k)
      .select(col("doc_id"), col("lang"), col("rnk").cast("long").as("rnk"))

  /** DSIR-style hashed n-gram importance scores (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score every document by how strongly its hashed
    * word-bigram features lean toward a TARGET domain (here the
    * `targetLang` slice of the corpus itself) versus the raw corpus —
    * the selection signal DSIR resamples by. The paper's per-feature
    * log-ratio log p_t(b)/p_r(b) is rendered as the exact integer
    * affinity `(10⁶·(c_t(b)+1)) div (c_r(b)+1)` (add-1 smoothed;
    * target ⊆ raw so it lives in (0, 10⁶]) and the per-doc score is
    * the floor MEAN affinity over the doc's feature occurrences — the
    * [[TextAnalysis.textBigramLm]] integer-mean precedent, dropping
    * the doc-constant global normalizer a ranking doesn't need and
    * the cross-engine float log a hash-compare can't tolerate.
    *
    * Shape at 100 TB: features are map-side (tokenize → bigram →
    * [[hash32]] mod numBuckets); ONE map-combinable aggregate
    * produces BOTH count tables (c_r unconditioned, c_t via
    * conditional sum) keyed by the ≤numBuckets-row bucket axis. The
    * bucket table is DETACHED (lazy localCheckpoint) and — being
    * bounded by numBuckets regardless of corpus size, the point of
    * hashed features in the paper — BROADCAST-hash-joins onto the
    * corpus-sized feature stream: the join moves no corpus data at
    * all, so Zipf-hot buckets cost nothing (no shuffle to skew), and
    * the only shuffle in the plan is the final per-doc reduce.
    */
  def docsDsirWeights(spark: SparkSession, dir: String, numBuckets: Int = 4096,
                      targetLang: String = "en"): DataFrame = {
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"))
      // round-13: bigram features via the imperative TokenShingles
      // kernel, k = 2 (space-joined adjacent pairs; < 2 tokens ->
      // empty array, subsuming the former size filter under explode)
      .select(col("doc_id"), col("lang"), explode(
        graft.plans.TokenShingles(col("t"), 2)).as("f"))
      .select(col("doc_id"), col("lang"),
        pmod(hash32(col("f")), lit(numBuckets.toLong)).as("bucket"))
    val counts = feats.groupBy("bucket")
      .agg(count(lit(1)).as("c_r"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("c_t"))
      .localCheckpoint(eager = false)
    feats.join(counts, Seq("bucket"))
      .select(col("doc_id"), col("lang"),
        expr("(1000000 * (c_t + 1)) div (c_r + 1)").as("a"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_features"),
        expr("sum(a) div count(1)").as("dsir_score_x1e6"))
  }

  /** The DSIR RESAMPLING action on [[docsDsirWeights]] — the paper's
    * importance-resample step rendered as weight-proportional
    * Bernoulli selection with the engine's deterministic-sampling
    * identity hash: doc i is kept iff
    * `hash32(doc_id)/2³² < nTarget · wᵢ / W` (inclusion probability
    * ∝ its importance weight, expected sample size ≈ nTarget, heavy
    * docs with nTarget·wᵢ ≥ W always kept). The paper's Gumbel
    * top-k needs per-row float logs a cross-engine hash compare
    * cannot tolerate; weight-proportional Bernoulli keeps DSIR's
    * selection pressure AND replays bit-identically: the comparison
    * CROSS-MULTIPLIES in DECIMAL(38,0) (`u·W < 2³²·nTarget·wᵢ` — the
    * [[docsMixSample]] rule; W = Σwᵢ can pass int64·2³² at corpus
    * scale, decimal cannot overflow it at 38 digits). W is a 1-row
    * broadcast; everything else is map-side on the weights frame, so
    * the selection adds no shuffle beyond the scorer's own.
    */
  def docsDsirSample(spark: SparkSession, dir: String, nTarget: Int = 100,
                     numBuckets: Int = 4096, targetLang: String = "en"): DataFrame = {
    val w = docsDsirWeights(spark, dir, numBuckets, targetLang)
      .localCheckpoint(eager = false) // two consumers: W total + filter
    val total = w.agg(sum("dsir_score_x1e6").as("w_total"))
    w.crossJoin(broadcast(total))
      .filter(hash32(col("doc_id")).cast("decimal(38,0)") * col("w_total") <
        col("dsir_score_x1e6").cast("decimal(38,0)") * lit(4294967296L) * nTarget)
      .select(col("doc_id"), col("lang"), col("dsir_score_x1e6"))
  }

  /** SoftDeDup reweighting ("SoftDedup: an Efficient Data Reweighting
    * Method for Speeding Up Language Model Pre-training", ACL 2024):
    * instead of DROPPING near-duplicates (the [[NearDup.dedupKeep]]
    * action), keep every document and DOWN-WEIGHT it by its duplicate
    * multiplicity, so a cluster of k near-identical documents
    * contributes one document's worth of gradient mass in expectation.
    * Weight = floor(10⁶/k) where k is the document's
    * [[NearDup.dedupGroups]] cluster size (singletons keep exactly
    * 10⁶ = weight 1.0); the effective token budget per doc is the
    * same floor division applied to its whitespace token count — the
    * number a sampler or loss-scaler actually consumes. Exact integer
    * arithmetic end-to-end, so the weights replay bit-identically.
    *
    * Shape at 100 TB: the pair seam + O(log n)-round closure is the
    * measured [[NearDup.dedupGroups]] path (banded LSH candidates,
    * never all-pairs); on top of it this adds one group-keyed
    * map-combinable size aggregate and two doc-keyed equi-joins
    * (sizes are group-count-sized, token counts map-side) — linear.
    */
  def docsSoftDedupWeights(spark: SparkSession, dir: String,
                           threshold: Double = 0.5): DataFrame = {
    val groups = NearDup.dedupGroups(spark, dir, threshold)
      .localCheckpoint(eager = false) // two consumers: sizes + join-back
    val sizes = groups.groupBy("group_id").agg(count(lit(1)).as("group_size"))
    val nTok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
    groups.join(sizes, "group_id")
      .join(nTok, "doc_id")
      .select(col("doc_id"), col("group_size"),
        expr("1000000 div group_size").as("weight_x1e6"),
        col("n_tokens"),
        expr("(n_tokens * 1000000) div group_size").as("eff_tokens_x1e6"))
  }
}
