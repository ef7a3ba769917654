package graft.operators

import graft.Tables
import graft.functions.{HashFunctions => H, TextFunctions => T, VectorFunctions => V}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family over the documents/embeddings tables
  * (SURVEY.md §2.4) — the reference's exact-hash dedup
  * (Deduplicator.java:46-52) generalized to the near-dup sketches a
  * training-data pipeline needs.
  *
  * Scale posture: exact dedup and MinHash both reduce to
  * groupBy(hash-ish key) — one map-combinable shuffle. Candidate
  * generation (LSH bands / SimHash bands) replaces the O(n²) pair
  * space with bucket-local joins; exact verification runs only on
  * candidates.
  */
object NearDup {

  val SHINGLE_K = 3
  val MINHASH_PERMS = 128
  val LSH_BANDS = 32 // 32 bands x 4 rows: P(catch | j=0.5) ≈ 0.87, j=0.7 ≈ 0.9996

  /** Exact text dedup by md5 content hash, min doc_id kept —
    * hash-groupBy, the canonical exact-dedup shape.
    */
  def docsDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup on NORMALIZED text — the near-exact pass every
    * training pipeline runs before expensive sketching: lowercase,
    * strip non-alphanumerics, collapse whitespace, then hash-groupBy
    * like [[docsDedupExact]]. `n_raw_variants` counts distinct raw
    * spellings merged into each normalized identity (the rows plain
    * exact dedup would have missed). Same single map-combinable
    * shuffle; normalization is per-row codegen'd regex work.
    */
  def docsDedupNormalized(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), md5(norm.cast("binary")).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct(col("text")).as("n_raw_variants"))
  }

  /** Benchmark DECONTAMINATION: flag training documents sharing any
    * long word n-gram (default 8 — the common decontamination window)
    * with a benchmark/eval set, reporting how many distinct n-grams
    * and how many benchmark documents each training doc collides
    * with. Here the benchmark set is doc_id < benchBound (a
    * deterministic split of the corpus); in production it is a second
    * table with the same shape.
    *
    * Scale shape: inverted-index equi-join on the n-gram, keyed by
    * the 16-byte md5 of the shingle instead of the raw 8-word STRING
    * (round-12: the round-11 sf100 soak measured probe bytes
    * ×16.5/decade with ~55-byte shingle strings dominating the
    * 9.8 GB — the fixed-width key cuts the probe-side exchange ~3.5×
    * and the per-doc distinct-aggregate state with it). md5 identity
    * is this module's established exactness convention
    * ([[docsDedupExact]] keys whole documents on it), so
    * countDistinct over keys equals countDistinct over shingles and
    * the string-replay DuckDB oracle is unchanged. The benchmark
    * side is the SMALL side by construction (eval suites are tiny
    * next to training corpora) so Catalyst broadcasts it and the
    * training side streams map-only — no df cap needed, the fan-out
    * is bounded by the benchmark set's size.
    */
  def docsContamination(spark: SparkSession, dir: String,
                        benchBound: Long = 50, k: Int = 8): DataFrame = {
    val ex = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(T.wordShingles(col("text"), k)).as("s"))
      .select(col("doc_id"), unhex(md5(col("s"))).as("h"))
    val bench = ex.filter(col("doc_id") < benchBound)
      .select(col("h"), col("doc_id").as("bench_id"))
    ex.filter(col("doc_id") >= benchBound)
      .join(bench, "h")
      .groupBy("doc_id")
      .agg(countDistinct(col("h")).as("n_shared_ngrams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Span-level train/bench overlap — the decontamination pass that
    * finds not just "how many n-grams leak" ([[docsContamination]])
    * but the LONGEST CONTIGUOUS leaked span per (train, bench) pair:
    * the quantity published decontamination rules threshold on
    * (e.g. "drop any training doc sharing a ≥ N-token span with an
    * eval set"). A shared span of s consecutive k-shingles = s+k−1
    * contiguous shared tokens.
    *
    * Method: POSITIONAL k-shingles on both sides; every shared
    * shingle is a hit (pos_a, pos_b); hits on one DIAGONAL
    * (pos_a − pos_b constant) with consecutive pos_a form a run —
    * the classic dot-plot diagonal-run rendering of local exact
    * matching. Within a (train, bench, diag) group pos_a is unique
    * (diag + pos_a determines pos_b), so a lag-gap flag + running
    * sum segments runs exactly.
    *
    * Shape at scale: the bench side is a bounded eval corpus —
    * BROADCAST — so hit generation is map-only over the train scan;
    * hits (not corpora) shuffle once on (train, bench, diag) for the
    * run windows, and everything after is bounded by hit count. Hot
    * boilerplate shingles inflate hits linearly (df_bench ≤ bench
    * size), never quadratically. Emitted pairs need a run of ≥
    * `minRun` shingles; ties on longest run break to the smallest
    * (a_start, b_start).
    */
  def docsOverlapSpans(spark: SparkSession, dir: String,
                       benchBound: Long = 50, k: Int = 8, minRun: Int = 3): DataFrame = {
    val ps = Tables.documents(spark, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("t"))
      // round-13: positional shingling via the imperative
      // [[graft.plans.TokenShingles]] kernel (< k tokens -> empty
      // array, subsuming the former size filter under posexplode)
      .select(col("doc_id"), posexplode(
        graft.plans.TokenShingles(col("t"), k)).as(Seq("pos", "s")))
    val bench = ps.filter(col("doc_id") < benchBound)
      .select(col("doc_id").as("bench_id"), col("pos").as("pos_b"), col("s"))
    val hits = ps.filter(col("doc_id") >= benchBound)
      .join(broadcast(bench), "s")
      .select(col("doc_id"), col("bench_id"),
        col("pos").cast("long").as("pos_a"), col("pos_b").cast("long").as("pos_b"),
        (col("pos") - col("pos_b")).cast("long").as("diag"))
    val wd = Window.partitionBy("doc_id", "bench_id", "diag").orderBy("pos_a")
    val runs = hits
      .withColumn("nr", when(lag("pos_a", 1).over(wd).isNull
        .or(lag("pos_a", 1).over(wd) =!= col("pos_a") - 1), 1L).otherwise(0L))
      .withColumn("run_id", sum("nr").over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "bench_id", "diag", "run_id")
      .agg(count(lit(1)).as("run_len"),
        min("pos_a").as("a_start"), min("pos_b").as("b_start"))
    val wp = Window.partitionBy("doc_id", "bench_id")
      .orderBy(col("run_len").desc, col("a_start"), col("b_start"))
    runs.withColumn("rn", row_number().over(wp))
      .filter(col("rn") === 1 && col("run_len") >= minRun)
      .select(col("doc_id"), col("bench_id"), col("run_len").as("longest_run"),
        (col("run_len") + (k - 1)).as("longest_tokens"),
        col("a_start"), col("b_start"))
  }

  /** Span-level duplicate LOCALIZATION inside the corpus — for every
    * near-duplicate pair (the exact-jaccard edge set), the longest
    * contiguous shared token span and where it sits in both
    * documents. [[docsOverlapSpans]] answers "what leaked into the
    * eval set"; this answers "WHAT exactly do these two training
    * docs share" — the evidence a partial-dedup pass (cut the span,
    * keep the rest) or a manual audit reads, where a bare jaccard
    * score says only "similar".
    *
    * Same dot-plot diagonal-run method as the decontamination pass
    * (positional k-shingles, hits grouped by pos_a − pos_b, lag-gap
    * run segmentation), but the pair set gates hit generation: the
    * corpus joins ITSELF only through the near-dup edges, so the
    * fan-out is |pairs| × per-doc shingles — never corpus², and at
    * 100 TB it inherits whatever candidate bound the pair generator
    * (PPJoin / LSH) already enforces. Equi-joins only: shingles
    * shuffle once on doc_id (a-side) and once on (doc_id, shingle)
    * (b-side).
    */
  def docsDupSpans(spark: SparkSession, dir: String, threshold: Double = 0.5,
                   k: Int = 5, minRun: Int = 2): DataFrame = {
    // pairs feed three consumers (two id-prune broadcasts + the hit
    // join) — checkpoint so the PPJoin candidate join runs once
    // (measured eager ≈ lazy here; lazy is the file convention)
    val pairs = jaccardPairs(spark, dir, threshold)
      .select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = false)
    val ps = Tables.documents(spark, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("t"))
      // round-13: positional shingling via the imperative
      // [[graft.plans.TokenShingles]] kernel (< k tokens -> empty
      // array, subsuming the former size filter under posexplode)
      .select(col("doc_id"), posexplode(
        graft.plans.TokenShingles(col("t"), k)).as(Seq("pos", "s")))
    // broadcast SEMI-prune each shingle side to the docs that
    // actually appear in a pair BEFORE any shuffle: near-dup docs
    // are a vanishing fraction of a deduped-at-scale corpus, so
    // without this the (b_id, shingle) exchange would carry every
    // document's positional shingles
    val aSide = ps.join(broadcast(pairs.select(col("a_id").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("a_id"), col("pos").cast("long").as("pos_a"), col("s"))
    val bSide = ps.join(broadcast(pairs.select(col("b_id").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("b_id"), col("pos").cast("long").as("pos_b"), col("s"))
    val hits = pairs.join(aSide, "a_id").join(bSide, Seq("b_id", "s"))
      .select(col("a_id"), col("b_id"), col("pos_a"), col("pos_b"),
        (col("pos_a") - col("pos_b")).as("diag"))
    val wd = Window.partitionBy("a_id", "b_id", "diag").orderBy("pos_a")
    val runs = hits
      .withColumn("nr", when(lag("pos_a", 1).over(wd).isNull
        .or(lag("pos_a", 1).over(wd) =!= col("pos_a") - 1), 1L).otherwise(0L))
      .withColumn("run_id", sum("nr").over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("a_id", "b_id", "diag", "run_id")
      .agg(count(lit(1)).as("run_len"),
        min("pos_a").as("a_start"), min("pos_b").as("b_start"))
    val wp = Window.partitionBy("a_id", "b_id")
      .orderBy(col("run_len").desc, col("a_start"), col("b_start"))
    runs.withColumn("rn", row_number().over(wp))
      .filter(col("rn") === 1 && col("run_len") >= minRun)
      .select(col("a_id"), col("b_id"), col("run_len").as("longest_run"),
        (col("run_len") + (k - 1)).as("longest_tokens"),
        col("a_start"), col("b_start"))
  }

  /** Detector-coverage Venn — the evaluation table a dedup-pipeline
    * owner reads before picking detectors: every document flagged by
    * (a) exact hash, (b) 3-shingle Jaccard ≥ 0.5, (c) simhash
    * Hamming ≤ 3, reduced to the 2³-cell count table. The off-
    * diagonal cells are the argument for running more than one
    * detector (exact misses paraphrases, jaccard misses short docs,
    * simhash misses low-overlap containment); the all-zeros cell is
    * the clean-corpus denominator. Three existing candidate
    * pipelines feed three semi-join flags; one ≤8-key count. The
    * query computes its own jaccard and simhash pair sets, each
    * materialized once, on two driver threads.
    */
  def docsDetectorVenn(spark: SparkSession, dir: String,
                       threshold: Double = 0.5, maxHamming: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val exact = docs.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("n", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("n") > 1).select(col("doc_id")).distinct()
      .withColumn("f_exact", lit(true))
    def endpoints(pairs: DataFrame, a: String, b: String) =
      pairs.select(col(a).as("doc_id")).union(pairs.select(col(b).as("doc_id")))
        .distinct()
    // Each detector's pair frame is materialized ONCE: `endpoints`
    // consumes the frame in BOTH union branches, and Catalyst plans
    // the branches as separate physical subtrees (self-join expression
    // ids defeat ReuseExchange), so without the checkpoint the whole
    // candidate join runs twice — measured at sf10 as 22.4 GB shuffle
    // for this query vs 12.0 GB for docs_jaccard_pairs alone. The
    // eager localCheckpoint pins one RDD instance, halving the
    // dominant jaccard join.
    // round-13 (guide §2.6 — overlap independent jobs): the two
    // detector pair sets are INDEPENDENT eager materializations, so
    // they run on two driver threads and the wall is max(jaccard,
    // simhash) instead of the sum; Spark's scheduler interleaves the
    // two job DAGs and the tail of one back-fills the other's idle
    // cores.
    val (jacFrame, simFrame) = {
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      import scala.util.Try
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val jf = Future(
          jaccardPairs(spark, dir, threshold).select("a_id", "b_id").localCheckpoint())
        val sf = Future(
          simhashPairs(spark, dir, maxHamming).select("a_id", "b_id").localCheckpoint())
        // round-14 (ADVICE): settle BOTH futures before rethrowing
        // either failure — an early rethrow on one leg left the other
        // leg's in-flight Spark jobs running past the exception.
        val jTry = Try(Await.result(jf, Duration.Inf))
        val sTry = Try(Await.result(sf, Duration.Inf))
        (jTry.get, sTry.get)
      } finally pool.shutdown() // even when a fatal error escapes the Trys
    }
    val jac = endpoints(jacFrame, "a_id", "b_id")
      .withColumn("f_jaccard", lit(true))
    val sim = endpoints(simFrame, "a_id", "b_id")
      .withColumn("f_simhash", lit(true))
    docs.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(jac, Seq("doc_id"), "left")
      .join(sim, Seq("doc_id"), "left")
      .select(
        coalesce(col("f_exact"), lit(false)).as("f_exact"),
        coalesce(col("f_jaccard"), lit(false)).as("f_jaccard"),
        coalesce(col("f_simhash"), lit(false)).as("f_simhash"))
      .groupBy("f_exact", "f_jaccard", "f_simhash")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Documents with their distinct word-3-shingle sets. The
    * repartition spreads per-doc shingling/hashing across cores —
    * the test tables arrive as one parquet file (one input split),
    * and at scale it guards against few-large-files skew ahead of
    * the CPU-heavy sketch work.
    */
  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledDocs(Tables.documents(spark, dir))

  private[graft] def shingledDocs(documents: DataFrame): DataFrame =
    documents
      .repartition(col("doc_id"))
      .select(col("doc_id"), T.wordShingles(col("text"), SHINGLE_K).as("shingles"))
      .filter(size(col("shingles")) > 0)
      // NOTE: consumed 3-4x downstream (inverted index, verify a/b).
      // Measured: persist() does NOT pay off here — WordShingles is a
      // single cheap pass, and InMemoryRelation's columnar write+read
      // of string arrays costs as much as recomputing from the
      // (OS-cached) parquet. At corpus scale, checkpoint the shingle
      // table to storage once instead.

  /** Exact n-gram Jaccard near-dup pairs (≥ threshold) via PREFIX
    * FILTERING (SSJoin/PPJoin family): under a global shingle order
    * (document frequency asc, then shingle), two sets with
    * J ≥ t must share a shingle within their first
    * n − ⌈t·n⌉ + 1 shingles. Only prefixes are exploded into the
    * inverted-index join — rare shingles first, so hot-shingle pair
    * blowup (Σ df² over frequent shingles) never happens; candidates
    * are then verified with exact Jaccard on the full sets. Output is
    * identical to the brute-force join.
    */
  /** (doc_id, h): every shingle occurrence as a 64-bit hash. The
    * candidate machinery runs entirely on hashes — the global prefix
    * order becomes (df, hash), a consistent total order (any one
    * preserves prefix-filter completeness), and the inverted-index
    * join keys are 8-byte longs instead of shingle strings (narrower
    * shuffle, cheaper hash join). A hash collision can only ADD a
    * candidate pair, never drop one; the exact string-set verify
    * discards false positives.
    */
  private def hashedShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))

  /** ⌈x⌉ computed so double rounding can never land ABOVE the true
    * rational ceiling. `t·n` for rational t (0.3, 0.8, …) carries
    * ~1 ulp of error; when the true product is an exact integer k the
    * double can come out k + ε and plain `ceil` returns k + 1 — a
    * prefix one element too short / an overlap bound one too tight,
    * i.e. a completeness hole the exact verify never gets to repair.
    * Subtracting 1e-6 before the ceil makes the result ≤ the true
    * ceiling whenever the accumulated error is below 1e-6 (holds for
    * x < 2^52·1e-6 ≈ 4.5e9 — far past any per-doc shingle count);
    * when the true product is within 1e-6 above an integer the bound
    * relaxes by one, admitting a few extra candidates that the exact
    * verify filters. Never-tighter is the invariant that matters.
    */
  private def ceilSafe(x: Column): Column = ceil(x - lit(1e-6))

  /** Per doc, its shingle hashes sorted by the global prefix-filter
    * order (df asc, then hash) with document frequencies attached:
    * (doc_id, arr[(d, hh)]). One df aggregate + one per-doc sort —
    * the shared substrate for every prefix/positional filter below.
    */
  private def orderedShingles(ex: DataFrame): DataFrame = {
    val dfreq = ex.groupBy("h").agg(count(lit(1)).as("df"))
    ex.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df").as("d"), col("h").as("hh")))).as("arr"))
  }

  /** Per doc, the first n − ⌈t·n⌉ + 1 shingle hashes in global
    * (df asc, hash) order — the prefix-filter candidate probes.
    * Probes with df = 1 are dropped AFTER the prefix is cut: a
    * shingle in exactly one document cannot be shared, so it can't
    * produce a candidate — but it still occupies its prefix position
    * (the completeness proof fixes the prefix as the first L elements
    * of the full ordered set). On Zipf-shaped real corpora the df=1
    * tail dominates the df-ascending prefix, so this prunes most of
    * the inverted-index join input for free.
    */
  private def prefixProbes(ex: DataFrame, threshold: Double): DataFrame = {
    val n = size(col("arr"))
    val prefixLen = (n.cast("double") - ceilSafe(lit(threshold) * n.cast("double")) + 1).cast("int")
    orderedShingles(ex).select(col("doc_id"),
        explode(slice(col("arr"), lit(1), prefixLen)).as("e"))
      .filter(col("e.d") >= 2)
      .select(col("doc_id"), col("e.hh").as("h"))
  }

  /** Candidate generation: positional prefix self-join. Both sides
    * are prefix-cut (J ≥ t puts the FIRST common shingle inside both
    * prefixes: common elements sort ≥ it, so its 0-based position in
    * A satisfies i ≤ n_a − p_a, and i ≥ ⌈t·n_a⌉ forces p_a into the
    * prefix — symmetrically for B), and the size + positional bounds
    * run INSIDE the join (PPJoin+), per occurrence pair, before any
    * candidate row is shuffled:
    *
    *  - overlap bound: b = 1 + min(n_a−p_a−1, n_b−p_b−1) is an upper
    *    bound on |A∩B| (every common shingle sorts ≥ the first one),
    *    and b ≤ min(n_a, n_b), so requiring b/(n_a+n_b−b) ≥ t — the
    *    SAME double-division predicate the exact verify applies to
    *    the true overlap — subsumes both the size prune
    *    (t·n_a ≤ n_b ≤ n_a/t) and the PPJoin+ positional α-bound.
    *    Because correctly-rounded division is monotone and the true
    *    overlap o ≤ b (with exact integer denominators n_a+n_b−x),
    *    o passing verify implies b passes here: the in-join prune is
    *    provably never tighter than the verify filter, closing the
    *    ⌈·⌉-rounding boundary hole a separately-computed α had.
    *
    * Hot shingles sort LAST in the df-asc prefix order, so prefixes
    * are rare-shingle-dominated and the self-join's per-key fan-out
    * is df_prefix(h)², with df_prefix ≪ df — no salting needed on
    * the symmetric join (cf. containmentPairs, whose B side indexes
    * every occurrence and does get salted).
    */
  def jaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.5,
                   verifyBands: Int = 0): DataFrame =
    jaccardPairsOn(Tables.documents(spark, dir), threshold, verifyBands)

  /** [[jaccardPairs]] over any (doc_id, text) frame — the seam the
    * randomized property tests drive with synthetic corpora.
    * `verifyBands`: 0 = auto ([[verifyBandsFor]] — unbanded below the
    * corpus gate, derived from candidate volume ÷ scratch budget
    * above it), N ≥ 1 = exactly N phase-1 bands.
    */
  def jaccardPairsOn(documents: DataFrame, threshold: Double,
                     verifyBands: Int = 0): DataFrame = {
    val vb = verifyBandsFor(documents, verifyBands)
    val docs = shingledDocs(documents)
    val ord = orderedShingles(hashedShingles(docs))
    val n = size(col("arr"))
    val prefixLen = (n.cast("double") - ceilSafe(lit(threshold) * n.cast("double")) + 1).cast("int")
    val probes = ord
      .select(col("doc_id"), n.as("n"),
        posexplode(slice(col("arr"), lit(1), prefixLen)).as(Seq("p", "e")))
      .filter(col("e.d") >= 2)
      .select(col("doc_id"), col("n"), col("p"), col("e.hh").as("h"))
      // both sides of the self-join consume this frame, but one side
      // feeds a BroadcastExchange so Spark cannot reuse the exchange
      // subtree — without materialization the df-join + per-doc sort
      // run TWICE. Measured at sf0.1: ~0.9 s saved. Under AQE the
      // df-join and sort stages run at this call (plan construction),
      // not at the first action.
      .localCheckpoint(eager = false)
    // upper bound on |A∩B| at the first common prefix position; the
    // join prune applies the verify predicate TO THE BOUND (see
    // scaladoc) so it can never over-prune a verifiable pair
    val bound = lit(1) + least(col("a.n") - col("a.p") - 1, col("b.n") - col("b.p") - 1)
    val cand = probes.as("a").join(probes.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          bound.cast("double") / (col("a.n") + col("b.n") - bound).cast("double")
            >= lit(threshold))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    verifiedJaccard(cand, docs, threshold, vb)
  }

  /** Directional containment near-dup pairs: |A∩B| / |A| ≥ t — flags
    * a document whose shingle set is (mostly) contained in another's,
    * the subset-duplication case symmetric Jaccard misses (a chunk
    * embedded in a much larger doc has low Jaccard but containment
    * ≈ 1; training corpora are full of quote/aggregate pages).
    *
    * Prefix filter, containment variant: if |A∩B|/|A| ≥ t, one of
    * A's first n_a − ⌈t·n_a⌉ + 1 shingles (global df-asc order) must
    * hit B — the directional predicate gives no PREFIX to cut on the
    * B side, so A-prefixes probe B's full inverted index. What keeps
    * that join from blowing up on a Zipf-hot shingle is that every
    * remaining prune lives INSIDE the join, applied per occurrence
    * pair before any shuffle write of candidates (PPJoin/PPJoin+
    * family, all exactness-preserving):
    *
    *  - SIZE + POSITION (PPJoin+ suffix bound): for a probe at
    *    0-based position p_a of A's ordered set matching B at
    *    position p_b, every common shingle sorts ≥ the FIRST common
    *    one, so |A∩B| ≤ b = 1 + min(n_a−p_a−1, n_b−p_b−1) ≤ n_b.
    *    The prune requires b/n_a ≥ t — the SAME double-division
    *    predicate the exact verify applies to the true intersection.
    *    Monotone correctly-rounded division + o ≤ b make it provably
    *    never tighter than verify (no ⌈t·n_a⌉ rounding edge), and
    *    b ≤ n_b means it subsumes the |B| ≥ t·|A| size prune.
    *    Complete at the first common position; later common positions
    *    that fail it are redundant duplicates of the same candidate
    *    pair. This is the hot-key killer: a frequent shingle sorts
    *    LAST (df asc), so its B-side occurrences have n_b−p_b−1 ≈ 0
    *    and survive only for a_docs small enough that B's tail alone
    *    could still contain them.
    *  - SALT: occurrences of a shingle with df > hotDf are spread
    *    over `salts` shards by hash(b_id); the matching A-probe
    *    explodes to all shards. Pair multiplicity is unchanged (each
    *    (A,B) pair meets on exactly the B-side shard), but a hot
    *    key's fan-out lands on `salts` parallel reducer keys instead
    *    of one straggler/OOM task.
    *
    * Residual worst case: Σ_h df_prefix(h) · df(h) occurrence pairs
    * enter the join filters, each shrunk to the positional survivors
    * before the candidate distinct; per reducer key the fan-out is
    * df_prefix(h) · min(df(h), ⌈df(h)/salts⌉ for hot h). Exact
    * verify (array_intersect on the string sets) runs on candidates
    * only.
    */
  def containmentPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.8,
                       hotDf: Int = 1024, salts: Int = 16,
                       verifyBands: Int = 0): DataFrame =
    containmentPairsOn(Tables.documents(spark, dir), threshold, hotDf, salts,
      verifyBands)

  /** [[containmentPairs]] over any (doc_id, text) frame; hotDf/salts
    * exposed so tests can force EVERY key down the salted path.
    * `verifyBands` as in [[jaccardPairsOn]].
    */
  def containmentPairsOn(documents: DataFrame, threshold: Double,
                         hotDf: Int = 1024, salts: Int = 16,
                         verifyBands: Int = 0): DataFrame = {
    val vb = verifyBandsFor(documents, verifyBands)
    val docs = shingledDocs(documents)
    // probe and index sides BOTH derive from the ordered arrays; the
    // A side feeds a BroadcastExchange, so without materialization
    // the df-join + per-doc sort run twice (no exchange reuse across
    // a broadcast boundary). localCheckpoint computes it once; under
    // AQE its shuffle stages run at this call, not at the first action.
    val ord = orderedShingles(hashedShingles(docs)).localCheckpoint(eager = false)
    val n = size(col("arr"))
    val prefixLen = (n.cast("double") - ceilSafe(lit(threshold) * n.cast("double")) + 1).cast("int")
    // A side: prefix positions only; df=1 probes can't be shared
    val aProbes = ord
      .select(col("doc_id").as("a_id"), n.as("na"),
        posexplode(slice(col("arr"), lit(1), prefixLen)).as(Seq("pa", "e")))
      .filter(col("e.d") >= 2)
      .select(col("a_id"), col("na"), col("pa"), col("e.hh").as("ha"),
        explode(when(col("e.d") > hotDf, sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))).as("salt_a"))
    // B side: FULL positional inverted index, hot keys salted by b_id
    val bIndex = ord
      .select(col("doc_id").as("b_id"), n.as("nb"),
        posexplode(col("arr")).as(Seq("pb", "e")))
      .select(col("b_id"), col("nb"), col("pb"), col("e.hh").as("hb"),
        when(col("e.d") > hotDf, pmod(xxhash64(col("b_id")), lit(salts.toLong)).cast("int"))
          .otherwise(lit(0)).as("salt_b"))
    // |A∩B| upper bound at this occurrence pair; prune with the
    // verify predicate applied to the bound (b/n_a ≥ t, same double
    // division as the verify step) — never tighter than verify, and
    // b ≤ n_b subsumes the separate |B| size check
    val bound = lit(1) + least(col("na") - col("pa") - 1, col("nb") - col("pb") - 1)
    val cand = aProbes.join(bIndex,
        col("ha") === col("hb") && col("salt_a") === col("salt_b") &&
          col("a_id") =!= col("b_id") &&
          bound.cast("double") / col("na").cast("double") >= lit(threshold))
      .select(col("a_id"), col("b_id"))
      .distinct()
    // two-phase verify, same rationale and soundness argument as
    // verifiedJaccard: multiset hash overlap / TRUE |A| upper-bounds
    // the string containment, so phase 1 never drops a true pair;
    // phase 2 is the unchanged exact string verify on the
    // output-sized survivors
    val hv = hashedVerifySets(docs)
    val o = graft.plans.SortedOverlapCount(col("ha"), col("hb")).cast("double")
    // banded exactly like verifiedJaccard's phase 1; phase 2 runs once
    // over the unioned, output-sized survivors
    val phase1 = phase1Banded(cand, hv, vb) { (c, hvS) =>
      c.join(hvS.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
        .join(hvS.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
        .filter(o / size(col("ha")).cast("double") >= lit(threshold))
        .select(col("a_id"), col("b_id"))
    }
    val withSets = phase1
      .join(docs.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
    val cont = size(array_intersect(col("sa"), col("sb"))).cast("double") /
      size(col("sa")).cast("double")
    withSets.filter(cont >= threshold)
      .select(col("a_id"), col("b_id"), round(cont, 4).as("containment"))
  }

  /** Scratch budget in bytes that ONE phase-1 verify band may push
    * through its exchange — the knob that turns "how much shuffle
    * scratch does this box/executor fleet have" into a band count.
    * Default 12 GB ≈ a fifth of this box's ~62 GB scratch, leaving
    * headroom for the hv re-exchange and async-cleanup lag;
    * SPARK_GRAFT_VERIFY_BAND_BYTES overrides for soaks/clusters.
    */
  private def verifyBandBudget: Long =
    sys.env.get("SPARK_GRAFT_VERIFY_BAND_BYTES")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .filter(_ > 0L).getOrElse(12L << 30)

  /** Docs-count gate below which the auto path NEVER bands (the plan
    * stays byte-identical to the unbanded rendering — no candidate
    * checkpoint, no count job). 1M docs ≈ the 2×-sf10 point; every
    * contract SF (5k/50k/500k docs) and the sf10 soak stay unbanded,
    * matching their round-9 measured-fine footprints.
    *
    * Round-13: the gate reads the optimizer's sizeInBytes statistic
    * (driver-only parquet footer/listing metadata) instead of running
    * a count() JOB at plan-construction — every jaccard/containment
    * consumer paid that job per query. 1M docs of this generator's
    * documents parquet ≈ 117 MB, so the 100 MB byte gate trips at the
    * same decade as the old row gate; every contract SF (≤ 500k docs
    * ≈ 58 MB) and the sf10 soak stay below it (plan byte-identical),
    * sf100 stays above it (auto-banding still engages). Execution
    * knob only: band count never changes results (equality
    * spec-pinned at bands ∈ {1, 4}).
    *
    * CALIBRATION CAVEATS (ADVICE round-13): sizeInBytes is on-disk
    * COMPRESSED bytes for parquet scans but an uncompressed row-size
    * estimate for in-memory frames (a LocalRelation/synthetic seam
    * caller can trip the gate an order of magnitude earlier per row),
    * and the parquet figure is codec-dependent — the documented sf100
    * flow switches to zstd, which shifts the gate decade vs the lz4
    * 117 MB/1M-doc calibration above. Both shifts are execution-only
    * (banding never changes results); read an unexpected banding flip
    * in a soak as this, not as a regression, and pass an explicit
    * bands count for synthetic-frame callers that need pinned plans.
    */
  private val BAND_GATE_BYTES = 100L << 20

  /** Band count for a phase-1 verify over `raw` documents:
    * `requested` ≥ 1 wins, then the gate (small corpus → 1), else
    * −1 = "derive from the candidate count" (resolved inside
    * [[phase1Banded]] where the candidates are materialized anyway).
    */
  private[operators] def verifyBandsFor(raw: DataFrame, requested: Int): Int =
    if (requested >= 1) requested
    else if (raw.queryExecution.optimizedPlan.stats.sizeInBytes
        < BAND_GATE_BYTES) 1
    else -1

  /** Phase-1 verify, SCRATCH-BOUNDED: the candidate set is split into
    * `bands` disjoint pair-hash bands and `phase1` runs once per band
    * SEQUENTIALLY (each band's survivors are eagerly materialized —
    * that is what forces one job per band — and a forced GC between
    * bands lets the ContextCleaner reclaim the finished band's
    * shuffle files, the Bench per-query-GC rule applied INSIDE one
    * query). Peak on-disk shuffle is one band's exchange (~total/S)
    * plus the hv side, instead of the whole family's ~60 GB at sf100
    * that ENOSPC'd this box (BASELINE round-9 Batch B). The bands
    * partition the candidate set exactly (pmod of a pair hash), so
    * the unioned survivors equal the unbanded phase-1 output row-for-
    * row (equality spec at bands ∈ {1,4}); on a cluster the same
    * knob caps per-executor scratch per stage.
    *
    * bands = −1 derives S: candidates are checkpointed (computed
    * once), counted, and S = ceil(count·(32 + 4·mean|hs|) /
    * [[verifyBandBudget]]) clamped to [1, 32] — candidate volume ÷
    * scratch budget, the round-9 verdict's formula.
    *
    * The hv side is paid ONCE, not ∝S (round-11, killing the
    * round-10 band wall): when banding engages, the hash-payload
    * frame is written as a doc_id-BUCKETED sorted parquet table
    * ([[graft.sinks.GraftSink.writeBucketed]] — bucket count = the
    * session's shuffle partitions, so the scan reports the exact
    * hash distribution + sort the verify join needs) and every band
    * joins against that scan: per band only the candidate slice
    * (~1/S) is exchanged, where round-10 re-exchanged AND re-sorted
    * the full hv multiset S times (the deliberate trade BASELINE
    * round-10 recorded — now removed). The table is dropped after
    * the bands union; below the gate (s == 1) nothing is written and
    * the plan stays byte-identical to the unbanded rendering.
    */
  private def phase1Banded(cand: DataFrame, hv: DataFrame, bands: Int)
                          (phase1: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    if (bands == 1) return phase1(cand, hv)
    val c = cand.localCheckpoint() // candidate join runs ONCE
    val s =
      if (bands > 1) bands
      else {
        val nCand = c.count()
        val meanSh = hv.agg(avg(size(col("hs")))).head().getDouble(0)
        val est = nCand * (32L + 4L * math.ceil(meanSh).toLong)
        math.min(32L, math.max(1L,
          (est + verifyBandBudget - 1) / verifyBandBudget)).toInt
      }
    if (s == 1) return phase1(c, hv)
    val spark = hv.sparkSession
    val table = s"graft_hv_band_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    graft.sinks.GraftSink.writeBucketed(hv, table, "doc_id",
      buckets = spark.sessionState.conf.numShufflePartitions)
    try {
      val hvB = spark.table(table)
      val parts = (0 until s).map { b =>
        val slice = c.filter(
          pmod(xxhash64(col("a_id"), col("b_id")), lit(s.toLong)) === b)
        val out = phase1(slice, hvB).localCheckpoint() // eager: band job runs NOW
        System.gc() // reclaim the finished band's shuffle files
        out
      }
      parts.reduce(_ unionByName _)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  /** Per-doc sorted 32-bit shingle-hash payloads for phase-1 verify —
    * ~4 B/shingle instead of a ~30 B string. Materialized once (lazy
    * localCheckpoint): both verify join sides consume it, and one
    * side feeds a broadcast at small sf so exchange reuse can't
    * deduplicate the compute.
    */
  private def hashedVerifySets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.plans.ShingleHashes(col("shingles")).as("hs"))
      .localCheckpoint(eager = false)

  /** Exact-Jaccard verification of candidate (a_id, b_id) pairs in
    * TWO PHASES. The one-phase shape (join candidates straight to the
    * full shingle STRING arrays) is broadcast-cheap at small sf but
    * flips to a SortMergeJoin once the docs side outgrows the
    * broadcast threshold — and then every candidate row drags a ~1 KB
    * string-array payload through the b-side exchange. Measured at
    * sf10 (500k docs, 12.5M candidates surviving the positional
    * bound for 25.6k true pairs): 12-15 GB shuffle + 12 GB spill,
    * ×292 bytes/decade — the scale-killer the round-8 verdict flagged
    * on this family.
    *
    * Phase 1 joins candidates to SORTED 32-BIT HASH payloads
    * ([[graft.plans.ShingleHashes]], ~7× narrower) and prunes on the
    * multiset-overlap similarity bound ([[graft.plans
    * .SortedOverlapCount]]): overlap_hash ≥ overlap_string with TRUE
    * set sizes, so the pruned similarity upper-bounds the exact one
    * and no true pair is lost. Phase 2 re-runs the EXACT string-set
    * verify (unchanged semantics, same oracle) on the survivors —
    * output-sized (hash false-throughs are birthday-rare), so its
    * payload joins stay broadcast-sized at any corpus scale.
    */
  private def verifiedJaccard(cand: DataFrame, docs: DataFrame,
                              threshold: Double, bands: Int = 1): DataFrame = {
    val jac = graft.plans.JaccardSim(col("sa"), col("sb"))
    verifiedJaccardSets(cand, docs, threshold, bands)
      .select(col("a_id"), col("b_id"), round(jac, 4).as("jaccard"))
  }

  /** [[verifiedJaccard]] with the verified pairs' shingle sets KEPT
    * on the output row (a_id, b_id, sa, sb) — the round-14 seam the
    * estimator family consumes: phase 2 has already joined both
    * string shingle arrays to compute the exact verify, so a consumer
    * needing per-pair set arithmetic (intersection/union sizes) reads
    * them here instead of re-instantiating the shingle lineage twice
    * for a third and fourth corpus re-shingle + two wide-array joins.
    */
  private def verifiedJaccardSets(cand: DataFrame, docs: DataFrame,
                                  threshold: Double, bands: Int = 1): DataFrame = {
    val hv = hashedVerifySets(docs)
    val o = graft.plans.SortedOverlapCount(col("ha"), col("hb")).cast("double")
    // phase 1 is banded ([[phase1Banded]]); phase 2 runs ONCE over the
    // unioned survivors — output-sized, so its string-payload joins
    // never stress scratch and the corpus is re-shingled only twice
    // regardless of the band count
    val phase1 = phase1Banded(cand, hv, bands) { (c, hvS) =>
      c.join(hvS.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
        .join(hvS.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
        // denominator ≥ max(|A|,|B|) ≥ 1: shingledDocs drops empty sets
        .filter(o / (size(col("ha")) + size(col("hb")) - o).cast("double")
          >= lit(threshold))
        .select(col("a_id"), col("b_id"))
    }
    val withSets = phase1
      .join(docs.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
    val jac = graft.plans.JaccardSim(col("sa"), col("sb"))
    withSets.filter(jac >= threshold)
  }

  /** MinHash signatures: each shingle hashed once (xxhash64), then a
    * single custom Aggregator (MinHashSigAgg) folds all 128
    * universal-hash permutation minima per doc in one pass — one
    * map-combinable shuffle on doc_id carrying one 128-long array
    * per doc. Deterministic (fixed splitmix constants): signatures
    * stay stable across runs and cluster layouts.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sigAgg = udaf(new graft.functions.MinHashSigAgg(MINHASH_PERMS))
    docs.select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(sigAgg(col("h")).as("sig"))
  }

  /** Cross-engine-VERIFIABLE MinHash signatures: the mod-p family of
    * [[graft.functions.MinHashSig]] (p = 2⁶¹−1, h = first 60 bits of
    * md5(shingle)), so an external engine replays every signature
    * bit-for-bit with 128-bit integers — closing the gap that the
    * production 64-bit wrapping family
    * ([[graft.functions.MinHashSigAgg]], used by [[minhashLshPairs]])
    * can only be verified indirectly via exact Jaccard. Shape: one
    * shingle explode, one [[graft.functions.ModPSigAgg]] pass
    * (map-combinable 16-wide buffer, Mersenne mulMod in pure long
    * arithmetic — proven equal to the BigInt/HUGEINT computation in
    * PropertySpec), one shuffle on doc_id. This operator is the
    * audit/interchange path (signatures any engine can recompute);
    * the wrapping family stays for in-engine LSH throughput.
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.MinHashSig
    val sigs = (0 until MinHashSig.PERMS).map(i =>
      col("sig").getItem(i).as(f"sig_$i%02d"))
    modPSignatures(spark, dir).select(col("doc_id") +: sigs: _*)
  }

  /** The mod-p signature pass of [[minhashSignatures]] with the
    * 128-wide signature kept as ONE array column — the form the
    * estimate/monitor operators consume (per-pair component matching
    * wants zip_with over arrays, not 128 column comparisons).
    */
  def modPSignatures(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(T.wordShingles(col("text"), 3)).as("sh"))
    // 60-bit md5 prefix: positive in any signed-64 engine, < p
    val h = conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long")
    // one Aggregator pass (Mersenne mulMod in long arithmetic —
    // measured ~4 s → ~1 s at sf0.1 vs 16 DECIMAL(38,0) agg columns;
    // bit-identical to the HUGEINT oracle, proven by the BigInt
    // property replay)
    val sigAgg = udaf(new graft.functions.ModPSigAgg)
    sh.select(col("doc_id"), h.as("h"))
      .groupBy("doc_id")
      .agg(sigAgg(col("h")).as("sig"))
  }

  /** MinHash estimation-quality monitor: for every verified near-dup
    * pair, the signature-estimated Jaccard next to the exact one —
    * the drift check a minhash-based dedup pipeline keeps running
    * (the recall of banding is only as good as the estimator; a
    * corpus whose estimate diverges from exact needs more
    * permutations or a different shingle size — ann_recall's role,
    * for the dedup path). All outputs are exact integers: matched
    * signature components of the verifiable mod-p family
    * (E[matches/PERMS] = J), intersection and union sizes, and both
    * ratios as ×10⁴ integer floors — no float compare anywhere.
    *
    * Shape: the [[verifiedJaccardSets]] pair set (the LSH
    * candidates' verified pairs, each arriving with both shingle
    * arrays) + two joins onto one lazily checkpointed signature
    * table; per-pair work is one array intersect and one PERMS-wide
    * zip on verified pairs only.
    */
  def minhashEstimate(spark: SparkSession, dir: String,
                      threshold: Double = 0.5): DataFrame = {
    import graft.functions.MinHashSig
    // round-14 (guide §2.4): the pair set arrives WITH both shingle
    // arrays already attached (the [[verifiedJaccardSets]] seam —
    // phase 2 joined them to verify), so the two re-joins onto a
    // freshly re-shingled corpus are gone: two fewer wide-array
    // exchanges and two fewer corpus re-shingles per estimate plan.
    // The signature frame is consumed by BOTH pair sides — one lazy
    // checkpoint of the narrow (doc_id, 16-long sig) frame replaces
    // a second shingle-explode + aggregate lineage.
    val docs = shingled(spark, dir)
    val vb = verifyBandsFor(Tables.documents(spark, dir), 0)
    val cand = minhashLshCandidates(docs)
    val pairs = verifiedJaccardSets(cand, docs, threshold, vb)
    val sigs = modPSignatures(spark, dir).localCheckpoint(eager = false)
    pairs
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni",
        size(col("sa")).cast("long") + size(col("sb")).cast("long") - col("inter"))
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("siga")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sigb")), "b_id")
      .withColumn("sig_matches",
        size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
          b => b)).cast("long"))
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"), col("sig_matches"),
        expr("(10000 * inter) div uni").as("jacc_e4"),
        expr(s"(10000 * sig_matches) div ${MinHashSig.PERMS}").as("est_e4"))
  }

  /** Shingle document-frequency profile — the inverted-index shape
    * audit BEHIND this module's design decisions: the prefix filter
    * orders by df asc precisely because the df distribution is
    * long-tailed, and [[containmentPairsOn]]'s hot-key salting
    * threshold (df > 1024) is a bet this table verifies. Power-of-
    * two df buckets (the [[Relational.qSkewProfile]] rendering) with
    * shingle counts, posting mass, and the hottest shingle per
    * bucket. Two map-combinable aggregates; reduce ≤ 64 rows.
    */
  def docsDfProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(T.wordShingles(col("text"), SHINGLE_K)).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
      .groupBy(length(bin(col("df"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("n_postings"),
        max("df").as("max_df"))

  /** MinHash ESTIMATOR CALIBRATION: bucket candidate pairs by their
    * estimated similarity (deciles of est_e4) and report the exact
    * Jaccard distribution inside each bucket — the curve that tells
    * you whether sig_matches/PERMS is biased before you trust it as
    * a dedup threshold at corpus scale (where exact verification of
    * every pair is unaffordable and the estimator IS the decision).
    * Pure composition over [[minhashEstimate]]: one tiny aggregate
    * onto ≤ 10 bucket rows, all-integer (×10⁴ floors).
    */
  def minhashCalibration(spark: SparkSession, dir: String,
                         threshold: Double = 0.5): DataFrame =
    minhashEstimate(spark, dir, threshold)
      .groupBy(expr("est_e4 div 1000").as("est_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jacc_e4) div count(1)").as("mean_jacc_e4"),
        min("jacc_e4").as("min_jacc_e4"),
        max("jacc_e4").as("max_jacc_e4"))

  /** MinHash + LSH near-dup pairs: band the 128-wide signature into
    * 32 x 4, bucket-join per band, then verify candidates with exact
    * shingle Jaccard (≥ threshold). Verified output ⊆ jaccardPairs,
    * missing only pairs all 32 bands miss (P ≈ 0.13 at j=0.5, → 0 as
    * j→1).
    */
  def minhashLshPairs(spark: SparkSession, dir: String, threshold: Double = 0.5,
                      verifyBands: Int = 0): DataFrame = {
    val vb = verifyBandsFor(Tables.documents(spark, dir), verifyBands)
    val docs = shingled(spark, dir)
    verifiedJaccard(minhashLshCandidates(docs), docs, threshold, vb)
  }

  /** The LSH band-bucket candidate self-join of [[minhashLshPairs]],
    * over a caller-supplied shingled frame — shared with the
    * estimator family so one plan derives candidates once.
    */
  private def minhashLshCandidates(docs: DataFrame): DataFrame = {
    val bands = minhashBandKeys(minhashSignatures(docs))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** The (doc_id, band, bh) LSH bucket keys of a (doc_id, sig)
    * frame — band b's key hashes that band's `rowsPerBand` signature
    * components. A STATELESS projection, so it applies unchanged to
    * a streaming frame: the batch bucket self-join and the streaming
    * bucket state (`NearDupStream.minhashCandidates`) key on
    * byte-identical buckets by construction.
    */
  def minhashBandKeys(sig: DataFrame): DataFrame = {
    val rowsPerBand = MINHASH_PERMS / LSH_BANDS
    sig.select(col("doc_id"),
      explode(array((0 until LSH_BANDS).map { b =>
        struct(lit(b).as("band"),
          xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => element_at(col("sig"), i + 1)): _*).as("bh"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** 64-bit SimHash per doc: 64 signed bit-sums over md5-derived
    * token hashes (token frequency weights fall out of summation),
    * sign → bit. One custom Aggregator folds all 64 sums per input
    * row (SimHashAgg) — one shuffle on doc_id carrying a 64-int
    * buffer. MD5-based token hashing keeps the fingerprint
    * recomputable by any engine (the DuckDB oracle rebuilds identical
    * fingerprints from raw text).
    */
  def simhashFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val simAgg = udaf(new graft.functions.SimHashAgg)
    Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
      .groupBy("doc_id")
      .agg(simAgg(col("tok")).as("simhash"))
  }

  /** Manku-style permute-and-split blocks for Hamming-≤3 search: the
    * 64-bit fingerprint splits into 6 blocks (11,11,11,11,10,10 bits);
    * ≤3 flipped bits corrupt ≤3 blocks, so every pair at d ≤ 3 agrees
    * on ≥3 blocks — and therefore on at least one of the C(6,3) = 20
    * 3-block combinations. Each combo's concatenated key is 31-33
    * bits: ~2³¹⁺ buckets per table, so in-bucket fan-out stays bounded
    * at corpus scale (the round-1 4×16-bit scheme capped at 2¹⁶
    * buckets/band and went quadratic in-bucket at billions of docs).
    */
  private val SIMHASH_BLOCK_BITS = Seq(11, 11, 11, 11, 10, 10)
  private val SIMHASH_BLOCK_OFFSETS = SIMHASH_BLOCK_BITS.scanLeft(0)(_ + _).init
  private val SIMHASH_COMBOS: Seq[Seq[Int]] = (0 until 6).combinations(3).map(_.toSeq).toSeq

  private def simhashComboKey(fp: Column, combo: Seq[Int]): Column =
    combo.map { b =>
      shiftrightunsigned(fp, SIMHASH_BLOCK_OFFSETS(b))
        .bitwiseAND(lit((1L << SIMHASH_BLOCK_BITS(b)) - 1))
    }.reduce((acc, v) => shiftleft(acc, 11) + v) // 11 ≥ every block width

  /** The 20 Manku combo (band, block) rows for a fingerprint column,
    * as an explodable array — shared by the batch pair join and the
    * streaming bucket state (streaming.NearDupStream).
    */
  private[graft] def simhashBandArray(fp: Column): Column =
    array(SIMHASH_COMBOS.zipWithIndex.map { case (combo, i) =>
      struct(lit(i).as("band"), simhashComboKey(fp, combo).as("block"))
    }: _*)

  /** SimHash near-dup pairs with Hamming distance ≤ 3: 20 combo
    * tables (Manku permute-and-split, see [[simhashComboKey]]), exact
    * Hamming verify on bucket-mates. COMPLETE for d ≤ 3 — identical
    * output to the brute-force all-pairs filter.
    */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val fp = simhashFingerprints(spark, dir)
    val bands = fp.select(col("doc_id"), col("simhash"),
      explode(simhashBandArray(col("simhash"))).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.block").as("block"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Winnowed-fingerprint overlap near-dup pairs (MOSS-style): two
    * docs are near-dups when they share ≥ minOverlap winnowed
    * rolling-hash fingerprints (TextAnalysis.textFingerprint's
    * kernel). Catches CONTAINMENT (a doc embedding a chunk of
    * another) that Jaccard misses — the standard complement to
    * set-similarity dedup in a training pipeline.
    *
    * Scale shape: inverted index on fingerprint, equi-join, count per
    * pair. Fingerprints present in > maxDf docs are dropped before
    * pairing — ubiquitous 7-grams carry no signal and their pair
    * fan-out is df², so the cap bounds the join blowup exactly like
    * jaccardPairs' prefix filter (document-frequency pruning).
    */
  def fingerprintOverlapPairs(spark: SparkSession, dir: String,
                              minOverlap: Int = 5, maxDf: Int = 20): DataFrame = {
    val fp = TextAnalysis.textFingerprint(spark, dir)
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("fp")
    val g = fp.join(rare, "fp")
    g.as("a").join(g.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** Connected-component dedup GROUPS: collapse near-dup pairs into
    * clusters and tag every document with its group id (= the
    * smallest doc_id reachable through near-dup edges; singletons are
    * their own group). This is the step that turns pairwise dedup
    * output into an actionable keep/drop decision (keep group_id ==
    * doc_id, drop the rest).
    *
    * Edges are the MinHash-LSH near-dup pairs, computed by this
    * query itself — at corpus scale that is the only viable pair
    * source (exact Jaccard is the small-scale baseline), and every
    * emitted edge is exact-verified, so the component structure is
    * built on true ≥-threshold pairs either way.
    *
    * Iterative min-label propagation (the standard Pregel-style
    * rendering): each round, every node takes the min of its own and
    * its neighbors' labels, so rounds needed = component DIAMETER —
    * small for dense near-dup clusters, but a CHAIN of sequentially
    * similar versions has diameter = length. maxIters is a safety
    * bound, and blowing it THROWS rather than silently returning
    * half-propagated labels (a wrong group id downstream means
    * keeping multiple "canonical" docs from one duplicate cluster);
    * raise maxIters — or run [[starComponents]] over the same pairs
    * (large-star/small-star alternation, O(log n) rounds, same
    * labeling, NearDupSpec pins it) — for corpora with long version
    * chains. Min-label stays the default: near-dup clusters are
    * usually dense (diameter 2-3), where its round count is lower
    * and each round is cheaper.
    * Each round is one equi-join + one map-combinable min-aggregate;
    * `localCheckpoint` truncates lineage so round N doesn't re-run
    * rounds 1..N-1 (at production scale, use reliable checkpointing
    * to storage instead). The convergence probe is an aggregate (any
    * label changed), not a collect.
    */
  def dedupGroups(spark: SparkSession, dir: String, threshold: Double = 0.5,
                  maxIters: Int = 20): DataFrame = {
    // Materialize the pair source ONCE before the symmetric union:
    // both union branches consume `pairs`, and without the checkpoint
    // the LSH candidate join + verify executes once per branch (the
    // same double-evaluation docsDetectorVenn documents).
    val pairs = minhashLshPairs(spark, dir, threshold).select("a_id", "b_id")
      .localCheckpoint()
    val edges = pairs
      .union(pairs.select(col("b_id"), col("a_id")))
      .toDF("src", "dst")
      .localCheckpoint()
    // Round-13: iterate ONLY over edge-ENDPOINT nodes. An isolated
    // node's min-label fixed point is itself (no in-edges, its label
    // never changes and influences nobody — the src and dst sets are
    // equal under the symmetric union), so carrying the corpus-sized
    // frame through every round shuffled n rows per round for ≤
    // 2·|pairs| rows of signal. Endpoints iterate; the corpus joins
    // back ONCE at the end with coalesce(label, doc_id) — output
    // row-for-row identical (the starComponents join-back shape).
    var labels = edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("label", col("doc_id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // round-14 (guide §2.4/§5 — one action per round): the old
      // convergence probe was a next ⋈ labels join (two exchanges +
      // its own job) AFTER each round. The previous label now rides
      // the round's own aggregate — `labels` carries exactly one row
      // per doc_id (groupBy invariant, key set constant: viaEdges
      // dsts ⊆ the endpoint set labels started as), so
      // max(label WHERE own) IS the previous label, and the
      // changed-row count rides the checkpoint materialization as an
      // `observe` metric: one scheduled action per round, no
      // convergence join, no second scan.
      val obs = org.apache.spark.sql.Observation()
      val viaEdges = edges.join(labels, edges("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("label"), lit(false).as("own"))
      val next = labels.withColumn("own", lit(true))
        .unionByName(viaEdges)
        .groupBy("doc_id").agg(min("label").as("label"),
          max(when(col("own"), col("label"))).as("prev"))
        .observe(obs, count(when(not(col("label") <=> col("prev")), 1)).as("changed"))
        .localCheckpoint()
      converged = obs.get.apply("changed").asInstanceOf[Long] == 0L
      labels = next.select("doc_id", "label")
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedupGroups did not converge within $maxIters rounds — a dedup " +
          "component has diameter > maxIters; raise maxIters")
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("group_id"))
  }

  /** The ACTIONABLE dedup decision: per dedup group, keep the
    * highest-quality member (quality_score from TextAnalysis, ties
    * broken by smallest doc_id) and mark the rest for dropping — the
    * step a training-data pipeline actually executes after grouping.
    * Quality ranking uses the ROUNDED score (4 decimals, the
    * textQuality contract) so the argmax is stable across engines
    * and partitionings. One join (groups ⋈ quality, both keyed by
    * doc_id) + one window over group_id.
    */
  def dedupKeep(spark: SparkSession, dir: String,
                threshold: Double = 0.5): DataFrame = {
    val groups = dedupGroups(spark, dir, threshold)
    val quality = TextAnalysis.textQuality(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id").orderBy(col("quality_score").desc, col("doc_id"))
    groups.join(quality, "doc_id")
      .withColumn("keep_id", first("doc_id").over(w))
      .select(col("doc_id"), col("group_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("is_keep"))
  }

  /** Connected components by LARGE-STAR / SMALL-STAR alternation
    * (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): edges are kept canonical (u > v); large-star points
    * every neighbor LARGER than a node at that node's minimum
    * neighborhood label, small-star points every smaller neighbor
    * (and the node) at the minimum — each pass is one groupBy(min) +
    * one equi-join, exactly the min-label round shape, but the
    * component flattens geometrically, so rounds grow with log n, not
    * with component diameter. The fixed point is the canonical star:
    * every non-minimum node holds exactly the edge (node,
    * component-min), which IS the (doc_id, group_id) labeling.
    *
    * Returns (labels for every node — singletons label themselves,
    * rounds executed). Non-convergence within maxRounds throws, like
    * [[dedupGroups]] — never silently half-merged groups. Each
    * round's edge set is truncated with an eager `localCheckpoint`.
    */
  def starComponents(nodes: DataFrame, pairs: DataFrame,
                     maxRounds: Int = 30): (DataFrame, Int) = {
    import org.apache.spark.sql.Observation
    // round-14 (guide §2.4/§5 — one action per round): the per-round
    // count and an order-independent XOR fingerprint of the edge set
    // ride the checkpoint materialization as an `observe` metric, so
    // a round is exactly ONE scheduled action (the checkpoint) —
    // the separate count() job is gone. The fingerprint is a pure
    // NEGATIVE filter for the convergence probe: sets equal ⇒
    // (count, xor) equal, so the left_anti set-equality CONFIRM only
    // runs when both match — i.e. once, at the true fixed point
    // (spurious count-equal rounds no longer pay a join). Equality is
    // still PROVEN by the anti probe, never by the hash.
    def truncate(df: DataFrame): (DataFrame, Long, Long) = {
      val obs = Observation()
      val out = df.observe(obs, count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("fp"))
        .localCheckpoint()
      val m = obs.get
      (out, m("n").asInstanceOf[Long], m("fp").asInstanceOf[Long])
    }
    val Seq(srcCol, dstCol) = pairs.columns.toSeq.take(2)
    var (edges, prevCount, prevFp) = truncate(pairs
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var rounds = 0
    var done = prevCount == 0L
    while (!done && rounds < maxRounds) {
      // large-star: node's full neighborhood (both directions).
      // round-14: the neighborhood minimum is a WINDOW over the same
      // hash(node) partitioning the old groupBy+join pair needed —
      // one exchange of adj instead of two plus a join (guide §2.4:
      // two operations keyed the same way share one exchange). Row
      // multiset is identical: mins was unique per node, so the 1:1
      // join-back ≡ the window projection.
      val adj = edges.select(col("u").as("node"), col("v").as("nbr"))
        .union(edges.select(col("v").as("node"), col("u").as("nbr")))
      val large = adj
        .withColumn("mn", min("nbr").over(Window.partitionBy("node")))
        .filter(col("nbr") > col("node"))
        .select(col("nbr").as("u"), least(col("mn"), col("node")).as("v"))
      // small-star: canonical edges already point large→small; same
      // window fold (min over u). The per-u (u, mn) star branch is
      // emitted PER ROW instead of per key — the trailing distinct
      // collapses the duplicates, so the set is unchanged and the
      // groupBy+join pair becomes one window over one exchange.
      val withSmin = large
        .withColumn("mn", min("v").over(Window.partitionBy("u")))
      val (small, smallCount, smallFp) = truncate(withSmin
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .union(withSmin.select(col("u"), col("mn").as("v")))
        .distinct()) // truncate per-round lineage
      done = smallCount == prevCount && smallFp == prevFp &&
        small.join(edges, Seq("u", "v"), "left_anti").isEmpty
      prevCount = smallCount
      prevFp = smallFp
      edges = small
      rounds += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"starComponents did not converge within $maxRounds rounds")
    val nodeCol = nodes.columns.head
    val labels = nodes
      .join(edges.select(col("u").as(nodeCol), col("v").as("group_id")),
        Seq(nodeCol), "left")
      .select(col(nodeCol), coalesce(col("group_id"), col(nodeCol)).as("group_id"))
    (labels, rounds)
  }

  /** Connected components over the SIMHASH near-dup graph — the
    * grouping pass for the fingerprint dedup path, exactly as
    * [[dedupGroups]] groups the minhash path: edges are
    * [[simhashPairs]] (Hamming ≤ maxHamming — banding-complete, so
    * the edge set equals brute force), components via
    * [[starComponents]] (O(log n) rounds — simhash clusters chain
    * through near-identical revisions more than jaccard clusters
    * do, so the diameter-proof rendering is the right default here).
    * group_id = min doc_id reachable; singletons label themselves.
    */
  def docsSimhashGroups(spark: SparkSession, dir: String,
                        maxHamming: Int = 3, maxRounds: Int = 30): DataFrame = {
    val pairs = simhashPairs(spark, dir, maxHamming).select("a_id", "b_id")
    val nodes = Tables.documents(spark, dir).select(col("doc_id"))
    starComponents(nodes, pairs, maxRounds)._1
  }

  /** Connected components over the EMBEDDING near-dup graph — the
    * grouping pass for the semantic-dedup path, completing the
    * detector→groups symmetry (jaccard → [[dedupGroups]], simhash →
    * [[docsSimhashGroups]], phash → [[Multimodal.phashGroups]],
    * cosine → here): edges are [[embCosineDedup]] pairs (≥
    * threshold), components via [[starComponents]], group_id = min
    * vec_id reachable; singletons label themselves.
    */
  def embDedupGroups(spark: SparkSession, dir: String, threshold: Double = 0.4,
                     maxRounds: Int = 30): DataFrame = {
    val pairs = embCosineDedup(spark, dir, threshold).select("a_id", "b_id")
    val nodes = Tables.embeddings(spark, dir).select(col("vec_id"))
    starComponents(nodes, pairs, maxRounds)._1
  }

  /** Duplicate-group SIZE distribution — the histogram a dedup run
    * reports (how much of the corpus sits in 2-copy vs 100-copy
    * clusters decides whether near-dup removal is worth its cost;
    * cluster-size skew is also the scale hazard every grouping
    * operator here documents, so the pipeline should SEE it). Two
    * map-combinable aggregates over [[dedupGroups]]' output: group →
    * size, size → (count, docs); singleton groups are reported too
    * (group_size = 1 row) — they are the denominator of any dup-rate
    * claim.
    */
  def docsGroupSizes(spark: SparkSession, dir: String,
                     threshold: Double = 0.5): DataFrame =
    dedupGroups(spark, dir, threshold)
      .groupBy("group_id").agg(count(lit(1)).as("group_size"))
      .groupBy("group_size").agg(
        count(lit(1)).as("n_groups"),
        sum("group_size").as("n_docs"))

  /** Embedding-cosine near-dup pairs (sim ≥ threshold), EXACT, via
    * block-pair partitioning.
    *
    * Why not LSH candidates + verify: the test corpus (and any
    * isotropic embedding set) has no high-sim cluster — the max pair
    * sim here is ~0.5 with a smooth tail through every candidate
    * threshold — so no sketch has a recall cliff to hide behind, and
    * an exact-output contract rules candidate pruning out. An exact
    * cosine threshold join over isotropic dense vectors is
    * intrinsically Ω(n²) compares; what CAN scale is the memory and
    * distribution shape, which the previous BroadcastNestedLoopJoin
    * (`a.vec_id < b.vec_id`) got wrong — it ships one full side to
    * every executor.
    *
    * Block-pair shape: vectors hash into B blocks; the B·(B+1)/2
    * unordered block pairs are a tiny broadcast relation; two
    * equi-joins (a.blk = pair.bi, b.blk = pair.bj) land each block
    * pair's cross product on one task. Per-task memory = 2 blocks
    * (B scales with corpus so a block stays executor-sized), total
    * work spread over B(B+1)/2 independent tasks, no full-side
    * broadcast, no nested-loop join in the plan. For corpora that DO
    * have near-dup structure, the subquadratic approximate path is
    * Ann.annLsh / Ann.annIvf.
    *
    * Diagonal pairs (bi = bj) are deduped by vec_id order; off-
    * diagonal pairs appear exactly once and are emitted as
    * (least, greatest).
    */
  def embCosineDedup(spark: SparkSession, dir: String, threshold: Double = 0.4,
                     blocks: Int = 32): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), V.normSq(col("embedding")).as("n2"),
        pmod(col("vec_id"), lit(blocks)).as("blk"))
    val blockPairs = broadcast(spark.createDataFrame(
      for { i <- 0 until blocks; j <- i until blocks } yield (i, j))
      .toDF("bi", "bj"))
    val sim = V.cosineWithNorms(
      V.dot(col("a.embedding"), col("b.embedding")), col("a.n2"), col("b.n2"))
    blockPairs
      .join(e.as("a"), col("a.blk") === col("bi"))
      .join(e.as("b"), col("b.blk") === col("bj"))
      .filter(col("bi") < col("bj") || col("a.vec_id") < col("b.vec_id"))
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("a_id"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("b_id"),
        sim.as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
  }

  /** Corpus DEDUP-RATE analytics — the reference's Analytics
    * contract (prime count, duplicate count, duplicate/prime ratio;
    * Analytics.java:47-79) applied to the documents corpus as one
    * batch summary row: total docs, unique contents (primes),
    * duplicate rows, multi-copy group count, largest group, and the
    * dup/prime ratio a pipeline alerts on (the docs analog of
    * `dedup_stats`' per-window ratio + alert flags). Two aggregate
    * levels, both map-combinable; the hash groupBy is the same
    * skew-free 128-bit key as [[docsDedupExact]].
    */
  def docsDedupStats(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("n"))
    g.agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_multi_groups"),
        max(col("n")).as("max_copies"))
      .select(
        col("n_docs"), col("n_unique"),
        (col("n_docs") - col("n_unique")).as("n_dupes"),
        col("n_multi_groups"), col("max_copies"),
        round((col("n_docs") - col("n_unique")).cast("double") /
          nullif(col("n_unique").cast("double"), lit(0.0)), 6).as("dup_ratio"))
  }

  /** INCREMENTAL ingest dedup: a new batch of documents checked
    * against the already-ingested corpus — the shape every rolling
    * crawl pipeline runs (history is petabytes, the daily batch is
    * not; re-deduplicating the union from scratch would rescan all
    * of history). Per batch doc: is it a dup of history, a dup of an
    * earlier doc in the same batch, and therefore should it be
    * ingested (first-wins, mirroring the reference's prime/duplicate
    * contract, Deduplicator.java:43-59, applied across two corpora).
    *
    * Scale shape: history collapses to DISTINCT content hashes (a
    * map-combinable aggregate that in production is a pre-maintained
    * hash manifest, read not recomputed); the batch left-joins that
    * manifest on the 128-bit hash (uniform key — skew-free) and
    * ranks within itself by one window over the same hash. No
    * history×batch row join ever materializes.
    *
    * The 20% batch split (doc_id % 5 == 0) is a deterministic stand-
    * in for the arrival date a real pipeline would partition by.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    // both splits consume the same hashed frame, and the history side
    // feeds a BroadcastExchange — Spark won't reuse the subtree across
    // a broadcast boundary (see jaccardPairs' prefix index), so
    // materialize the narrow (id, hash) frame once instead of
    // re-scanning + re-hashing the corpus per branch
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .localCheckpoint(eager = false)
    val history = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("content_hash")).distinct()
      .withColumn("in_history", lit(true))
    val batch = d.filter(pmod(col("doc_id"), lit(5)) === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy("doc_id")
    batch.join(history, Seq("content_hash"), "left")
      .withColumn("rn", row_number().over(w))
      .select(
        col("doc_id"), col("content_hash"),
        coalesce(col("in_history"), lit(false)).as("dup_of_history"),
        (col("rn") > 1).as("dup_in_batch"),
        (col("in_history").isNull && col("rn") === 1).as("ingest"))
  }

  /** INCREMENTAL ingest NEAR-dup — [[dedupIncremental]]'s production
    * shape lifted from exact content hashes to MinHash near-dups
    * (round-12, the one genuinely missing production dedup shape):
    * a new batch of documents probes an LSH band-key MANIFEST of the
    * already-ingested corpus, so snapshot N+1 is near-dup-checked
    * against history WITHOUT re-pairing history — the reference's
    * stored-hash deployment (Deduplicator.java:27 — dedup state
    * persisted between runs) applied to near-duplicates. Output: one
    * row per verified (batch doc, history doc) near-dup pair with its
    * exact Jaccard.
    *
    * Shape: [[neardupAgainstManifest]] with history's (doc_id, band,
    * bh) keys ([[bandManifestKeys]]) as the manifest frame — the one
    * probe [[graft.streaming.NearDupStream.startManifestLoop]] also
    * runs, there over its persisted table's scan. The batch (small by
    * construction) sketches only itself and equi-joins the manifest
    * on `bh`; candidates — bounded by banding, never batch×history —
    * are verified with the family's shared exact-Jaccard two-phase
    * seam ([[verifiedJaccard]]). Building the query writes nothing
    * and creates no table.
    *
    * Recall contract = [[minhashLshPairs]]'s (a pair is missed only
    * if all 32 bands miss). The 20% batch split (doc_id % 5 == 0)
    * mirrors [[dedupIncremental]]'s deterministic arrival-date
    * stand-in.
    */
  def neardupIncremental(spark: SparkSession, dir: String,
                         threshold: Double = 0.5,
                         verifyBands: Int = 0): DataFrame = {
    val vb = verifyBandsFor(Tables.documents(spark, dir), verifyBands)
    // narrow shingle frame shared by both sketch sides and the verify
    // payloads (the dedupIncremental materialize-once rule)
    val docs = shingled(spark, dir).localCheckpoint(eager = false)
    val isBatch = pmod(col("doc_id"), lit(5L)) === 0
    neardupAgainstManifest(docs.filter(isBatch),
      bandManifestKeys(docs.filter(!isBatch)), docs, threshold, vb)
  }

  /** The MANIFEST PAYLOAD for a shingled corpus slice — one (doc_id,
    * band, bh) row per (document, LSH band), the exact key frame
    * [[minhashLshPairs]] buckets on. Lazy: nothing executes until a
    * write or probe consumes it.
    */
  def bandManifestKeys(shingledDocs: DataFrame): DataFrame =
    minhashBandKeys(minhashSignatures(shingledDocs))

  /** Create (`append = false`) or MAINTAIN (`append = true`) a
    * persisted bh-bucketed band-key manifest — the stored state of
    * the streaming N+1 loop
    * ([[graft.streaming.NearDupStream.startManifestLoop]]): after a
    * batch is near-dup-checked and ACCEPTED, its band keys are
    * APPENDED (one bounded bucketed write, batch-sized), so the next
    * batch probes history ∪ batch without a full-history rebuild.
    * Equivalence is structural: the manifest is a plain row set
    * keyed on bh, and bucketed append preserves the layout contract
    * ([[graft.sinks.GraftSink.appendBucketed]]), so probe(manifest₀
    * ++ append(keys(b₁)), b₂) ≡ probe(rebuild(h ∪ b₁), b₂) — the
    * two-batch equality Round13Spec pins. The bucket count is the
    * session's shuffle-partition count, the same on create and on
    * every append.
    */
  def writeBandManifest(spark: SparkSession, keys: DataFrame,
                        table: String, append: Boolean = false): Unit = {
    val b = spark.sessionState.conf.numShufflePartitions
    if (append) graft.sinks.GraftSink.appendBucketed(keys, table, "bh", b)
    else graft.sinks.GraftSink.writeBucketed(keys, table, "bh", b)
  }

  /** Banding-bounded candidate pairs of a shingled batch against a
    * (doc_id, band, bh) manifest frame — [[bandManifestKeys]] of
    * history, or the scan of a [[writeBandManifest]] table:
    * equi-join on the single key `bh`, the band-equality residual as
    * a post-filter, distinct-ed. Lazy.
    */
  def manifestCandidates(batchShingled: DataFrame,
                         manifest: DataFrame): DataFrame = {
    val m = manifest
      .select(col("doc_id").as("b_id"), col("band").as("h_band"), col("bh"))
    bandManifestKeys(batchShingled)
      .join(m, "bh")
      .filter(col("band") === col("h_band"))
      .select(col("doc_id").as("a_id"), col("b_id"))
      .distinct()
  }

  /** Verified near-dup pairs of a shingled batch against a band-key
    * manifest frame — the one probe behind [[neardupIncremental]]
    * (history's keys as a frame) and the streaming loop (its
    * persisted table's scan). `verifyDocs` supplies shingle payloads
    * for every candidate id (batch ∪ history). Fully lazy.
    */
  def neardupAgainstManifest(batchShingled: DataFrame, manifest: DataFrame,
                             verifyDocs: DataFrame,
                             threshold: Double = 0.5,
                             verifyBands: Int = 1): DataFrame =
    verifiedJaccard(manifestCandidates(batchShingled, manifest),
        verifyDocs, threshold, verifyBands)
      .select(col("a_id").as("doc_id"), col("b_id").as("hist_id"), col("jaccard"))

  /** Corpus-wide EXACT-SUBSTRING dedup — the Lee et al. 2022
    * "ExactSubstr" ACTION: remove every token span of length ≥ `k`
    * that occurs more than once ANYWHERE in the corpus (including a
    * second time inside the same document), pair-independent. This is
    * the canonical published LLM-pretraining dedup action the
    * pair-gated family ([[docsDupSpans]]) cannot express: a span
    * shared by 40 documents is removed from all 40 without ever
    * enumerating the 780 pairs.
    *
    * Equivalence to the suffix-array formulation: a token is inside
    * some duplicated span of length ≥ k  ⇔  it is covered by at least
    * one duplicated k-shingle (any duplicated span of length L ≥ k
    * contains L−k+1 duplicated k-shingles tiling it; conversely a
    * duplicated k-shingle IS a duplicated span of length k). So
    * corpus-wide shingle occurrence counts + a trailing-k window max
    * reproduce the paper's removal set exactly, in three linear
    * passes instead of a suffix array.
    *
    * Per doc: token count, removed-token count, maximal removed-run
    * count (lag-gap segmentation on the covered flag), md5 of the
    * kept tokens re-joined in order (the oracle-checkable content
    * witness — byte-identical to the original when nothing matched),
    * and the ×10⁴ kept fraction. Docs where everything is removed
    * stay present with the md5 of the empty string — a pipeline needs
    * the zero-yield rows for its accounting.
    *
    * Scale shape: positional k-shingles ≈ one row per corpus token;
    * the occurrence count is one map-combinable groupBy on the md5'd
    * shingle (128-bit uniform key — skew-free); the >1 side is
    * DETACHED (lazy localCheckpoint) so AQE may skew-split the
    * join-back on Zipf-hot boilerplate shingles (see
    * [[graft.operators.TextAnalysis.docsLineDedup]]); marked
    * positions flow back through a LEFT-SEMI (never multiplying
    * rows); the covered flag is a bounded ROWS window per doc. Every
    * exchange is O(corpus tokens) — linear by construction.
    */
  def docsSubstrDedup(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    docsSubstrDedupOn(Tables.documents(spark, dir), k)

  /** [[docsSubstrDedup]] over any (doc_id, text) frame — duplication
    * is judged against THAT frame's spans (a pipeline that gates
    * first dedups against its working set).
    */
  def docsSubstrDedupOn(documents: DataFrame, k: Int = 8): DataFrame = {
    // tokens feed both the shingle index and the reconstruction —
    // materialize the narrow frame once (the dedupIncremental pattern)
    val toks = documents
      .select(col("doc_id"), T.tokens(col("text")).as("t"))
      .localCheckpoint(eager = false)
    // round-13: positional shingling via the imperative
    // [[graft.plans.TokenShingles]] kernel (< k tokens -> empty
    // array, subsuming the former size filter under posexplode)
    val sh = toks
      .select(col("doc_id"), posexplode(
        graft.plans.TokenShingles(col("t"), k)).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos").as("i"), md5(col("s")).as("h"))
    val dup = sh.groupBy("h").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1L).select("h")
      .localCheckpoint(eager = false) // skew-split eligibility
    val marked = sh.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"), col("i"), lit(1).as("f"))
    val tok = toks.select(col("doc_id"), posexplode(col("t")).as(Seq("i", "token")))
    val wk = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(-(k - 1).toLong, Window.currentRow)
    val wo = Window.partitionBy("doc_id").orderBy("i")
    val cov = tok.join(marked, Seq("doc_id", "i"), "left")
      .withColumn("cov", coalesce(max("f").over(wk), lit(0)))
      .withColumn("span_start", when(col("cov") === 1 &&
        coalesce(lag("cov", 1).over(wo), lit(0)) === 0, 1L).otherwise(0L))
    cov.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cov").cast("long")).as("n_removed_tokens"),
        sum(col("span_start")).as("n_removed_spans"),
        md5(array_join(transform(array_sort(collect_list(
          when(col("cov") === 0, struct(col("i"), col("token"))))),
          x => x.getField("token")), " ")).as("clean_md5"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed_tokens"),
        col("n_removed_spans"), col("clean_md5"),
        expr("((n_tokens - n_removed_tokens) * 10000) div n_tokens").as("kept_frac_e4"))
  }
}
