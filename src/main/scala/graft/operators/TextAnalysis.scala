package graft.operators

import graft.Tables
import graft.functions.{HashFunctions => H, TextFunctions => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis over documents (SURVEY.md §2.6): token counting,
  * quality scoring, language ID, rolling-hash fingerprints. Pure
  * map-side column work — no shuffle except final presentation order,
  * so these run at scan speed on 100 TB.
  */
object TextAnalysis {

  /** Whitespace + BPE-ish regex token counts, and a chars/4 BPE
    * budget estimate.
    */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(T.tokens(col("text"))).cast("long").as("n_ws_tokens"),
        T.regexTokenCount(col("text")).cast("long").as("n_re_tokens"),
        ceil(length(col("text")).cast("double") / 4.0).cast("long").as("est_bpe_tokens"))

  /** Quality features + a deterministic rational score in [0,1]:
    * length saturation x (1 - punct ratio) x (1 - stopword damp).
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val nToks = size(T.tokens(col("text"))).cast("double")
    val punctRatio = T.punctCount(col("text")).cast("double") /
      nullif(length(col("text")).cast("double"), lit(0.0))
    val stopRatio = T.stopwordCount(col("text")).cast("double") / nullif(nToks, lit(0.0))
    val score = least(nToks / 100.0, lit(1.0)) * (lit(1.0) - punctRatio) *
      (lit(1.0) - lit(0.5) * stopRatio)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nToks.cast("long").as("n_tokens"),
        round(punctRatio, 4).as("punct_ratio"),
        round(stopRatio, 4).as("stop_ratio"),
        round(T.meanWordLen(col("text")), 4).as("mean_word_len"),
        round(score, 4).as("quality_score"))
  }

  /** Stopword-profile language ID: marker-word counts per language,
    * CJK codepoints trump, deterministic tie order en>de>es>fr.
    */
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val scores = T.langMarkers.map { case (l, ms) => l -> T.markerScore(col("text"), ms) }
    val Seq(en, de, es, fr) = scores.map(_._2)
    val pred = when(T.cjkCount(col("text")) > 0, "zh")
      .when(en >= greatest(de, es, fr), "en")
      .when(de >= greatest(es, fr), "de")
      .when(es >= fr, "es")
      .otherwise("fr")
    Tables.documents(spark, dir)
      .select(col("doc_id"), pred.as("lang_pred"),
        (pred === col("lang")).as("matches_label"))
  }

  /** N-gram novelty profile — what fraction of a document's distinct
    * bigrams are FIRST INTRODUCED by it (the corpus-order owner = min
    * doc_id over the bigram's occurrences; here ingestion order).
    * The memorization/curriculum signal a data-mixing pass reads:
    * late documents with near-zero novelty are recombinations of
    * earlier text — prime near-dup suspects even when no single pair
    * crosses a similarity threshold. All counts exact; the ratio is
    * a ×10⁴ integer floor.
    *
    * Shape: one distinct (doc, bigram) projection feeds BOTH a
    * map-combinable min-owner aggregate per bigram and the join
    * probe; everything is keyed on the bigram — two key-partitioned
    * shuffles, no per-key state. The owner side is DETACHED (lazy
    * localCheckpoint) so AQE's skew split stays eligible on the
    * Zipf-hot bigrams (see [[docsChunkDedup]]'s shape note).
    */
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val db = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(T.wordShingles(col("text"), 2)).as("b"))
    val owner = db.groupBy("b").agg(min("doc_id").as("owner"))
      .localCheckpoint(eager = false)
    db.join(owner, "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
        expr("(n_novel * 10000) div n_bigrams").as("novelty_x1e4"))
  }

  /** Language-ID confusion matrix — the classifier-audit report for
    * [[textLangId]] against the stored label: one cell per
    * (label, predicted) pair with count and the per-LABEL recall
    * share in exact ×10⁴ floors. This is the evaluation table any
    * heuristic gate ships with (is 'fr' being eaten by 'es'? which
    * label's recall pays for a marker-list change?). Shape: the
    * prediction is map-side expression work on the scan; one
    * map-combinable count on ≤ |langs|² keys; the per-label total
    * joins back on the label key (|langs| rows, broadcast).
    */
  def docsLangConfusion(spark: SparkSession, dir: String): DataFrame = {
    val scores = T.langMarkers.map { case (l, ms) => l -> T.markerScore(col("text"), ms) }
    val Seq(en, de, es, fr) = scores.map(_._2)
    val pred = when(T.cjkCount(col("text")) > 0, "zh")
      .when(en >= greatest(de, es, fr), "en")
      .when(de >= greatest(es, fr), "de")
      .when(es >= fr, "es")
      .otherwise("fr")
    val cells = Tables.documents(spark, dir)
      .select(col("lang"), pred.as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("lang").agg(sum("n").as("n_label"))
    cells.join(broadcast(totals), "lang")
      .select(col("lang"), col("lang_pred"), col("n"),
        expr("(n * 10000) div n_label").as("recall_x1e4"))
  }

  /** Top-3 characteristic terms per doc by tf·(N/df) rarity weight.
    * Same ranking family as tf-idf but ln-free on purpose: libm log
    * is not bit-identical across engines, while tf·N/df is exact
    * integer arithmetic in double — the oracle ranks identically.
    * Two map-combinable aggregates (term frequency per doc, document
    * frequency per term) + a tf⋈df join + one window. The df side is
    * NOT broadcast-hinted: vocabulary grows with the corpus (at 100 TB
    * it far exceeds any broadcast limit), so the join is declared
    * plain and AQE still picks broadcast when df happens to be small;
    * when it shuffles instead, the df side is DETACHED (lazy
    * localCheckpoint) so AQE's skew split stays eligible on Zipf-hot
    * terms (see [[docsChunkDedup]]'s shape note — a fused df
    * aggregate under the join silently disables the split).
    */
  def textTfidf(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // footer-metadata count (round-13) — N is a plan literal; the
    // exact same number count() returned, without a scan job
    val nDocs = graft.Tables.parquetRowCount(spark, dir, "documents")
    val terms = docs
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("term"))
    // `terms` feeds BOTH aggregates below, so the corpus is tokenized
    // twice. Measured at sf0.1 (3 runs, warm): recompute 0.66-1.18 s
    // vs persist(MEMORY_AND_DISK) 0.79-1.44 s — the columnar cache
    // write+read of exploded (doc_id, term) rows costs more than
    // re-running one codegen'd tokenize pass over OS-cached parquet,
    // same result as the shingle measurement (NearDup.shingled). At
    // corpus scale, checkpoint `terms` to storage ONCE and read it
    // for both aggregates instead — don't executor-cache it.
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = terms.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      .localCheckpoint(eager = false) // skew-split eligibility, see docsChunkDedup
    val weight = col("tf").cast("double") * lit(nDocs.toDouble) / col("df").cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("weight").desc, col("term"))
    tf.join(df, "term")
      .withColumn("weight", weight)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("term"), round(col("weight"), 4).as("weight"))
  }

  /** Corpus-level top-k word n-grams by document frequency — the
    * corpus-statistics pass a training pipeline runs to find
    * boilerplate/templates (an n-gram appearing in many documents is
    * a dedup/cleaning signal). Distinct-per-doc shingling (the
    * WordShingles kernel), then one map-combinable count and a
    * single-pass TakeOrderedAndProject top-k with a deterministic
    * (df DESC, ngram) tiebreak — no global sort.
    */
  def textNgramTopk(spark: SparkSession, dir: String,
                    n: Int = 2, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(T.wordShingles(col("text"), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("ngram"))
      .limit(k)

  /** Fixed-size overlapping character chunks — the chunking pass a
    * training/RAG pipeline runs before tokenization: chunk i covers
    * [i·stride, i·stride + size) with stride = size − overlap, so
    * consecutive chunks share `overlap` chars and every char is
    * covered. Chunk count is exact integer arithmetic
    * (⌈(len − overlap)/stride⌉, min 1), so the oracle replays it with
    * no float in sight. Map-only: sequence + posexplode + substring,
    * no shuffle — scan-speed at any corpus size.
    */
  /** Intra-document repetition: fraction of a doc's word k-shingles
    * that are repeats (1 − distinct/total) — the Gopher-family
    * quality gate that catches looping/templated text. Map-only:
    * both counts come from the same tokenize pass; exact integer
    * counts, ratio rounded at the contract edge. Docs too short for
    * one shingle report null ratio (nothing to repeat).
    */
  def textRepetition(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val nTotal = greatest(size(T.tokens(col("text"))) - (k - 1), lit(0)).cast("long")
    val nDistinct = size(T.wordShingles(col("text"), k)).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        nTotal.as("n_shingles"),
        nDistinct.as("n_distinct"),
        round(lit(1.0) - nDistinct.cast("double") /
          nullif(nTotal.cast("double"), lit(0.0)), 4).as("rep_ratio"))
  }

  /** Per-document BOILERPLATE coverage: how many of a doc's distinct
    * bigrams sit in the corpus-wide top-k bigram list
    * ([[textNgramTopk]] — deterministic (df DESC, ngram) cut, so the
    * top set is engine-independent). High coverage = template/
    * boilerplate page. The top-k side is k rows → broadcast; the doc
    * side is one explode; one map-combinable count per doc; docs with
    * no top bigram keep a 0 count via the left join.
    */
  def textBoilerplate(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val top = textNgramTopk(spark, dir, 2, topK).select(col("ngram"))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), T.wordShingles(col("text"), 2).as("bigrams"))
    val hits = base
      .select(col("doc_id"), explode(col("bigrams")).as("ngram"))
      .join(broadcast(top), Seq("ngram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_top_ngrams"))
    base.select(col("doc_id"), size(col("bigrams")).cast("long").as("n_bigrams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(col("n_top_ngrams"), lit(0L)).as("n_top_ngrams"),
        round(coalesce(col("n_top_ngrams"), lit(0L)).cast("double") /
          nullif(col("n_bigrams").cast("double"), lit(0.0)), 4).as("boiler_ratio"))
  }

  def docsChunk(spark: SparkSession, dir: String,
                size: Int = 200, overlap: Int = 50): DataFrame =
    chunk(Tables.documents(spark, dir), size, overlap)

  /** [[docsChunk]] over any frame with (doc_id, text) columns. */
  def chunk(docs: DataFrame, size: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val stride = size - overlap
    val len = length(col("text"))
    // integer ceil((len − overlap) / stride) via floor division,
    // clamped to ≥ 1: any document shorter than one stride (empty
    // included) still emits exactly one (possibly short) chunk
    val nChunks = greatest(
      floor((len - lit(overlap) + lit(stride - 1)).cast("double") / stride).cast("long"),
      lit(1L))
    docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        substring(col("text"), (col("chunk_idx") * stride + 1).cast("int"), lit(size))
          .as("chunk_text"))
      .withColumn("n_chars", length(col("chunk_text")).cast("long"))
  }

  /** Chunk-level partial-duplication rate — the granularity between
    * whole-doc dedup (misses embedded boilerplate) and n-gram
    * near-dup (pair-wise, expensive): chunk every document exactly
    * as the RAG/packing pass does ([[chunk]] — same size/overlap),
    * hash each chunk, and report per doc how much of it also exists
    * ELSEWHERE in the corpus (chunks whose hash has df > 1 outside
    * self-overlap… rendered simply: df counted over DISTINCT docs
    * per hash). High shared-share docs are recombinations/mirrors —
    * exactly what chunk-level dedup (the common production middle
    * ground) would drop. Exact integers; ×10⁴ floor share.
    *
    * Shape: chunking is map-side; one map-combinable distinct-doc df
    * per chunk hash; one equi-join back on the hash (Zipf-hot hashes
    * ARE the boilerplate); one per-doc reduce. The df side is
    * DETACHED (lazy localCheckpoint) before the join: left fused
    * under the join, the aggregate makes AQE's skew split
    * structurally ineligible — OptimizeSkewedJoin only matches
    * bare-shuffle join children (measured: the skew-mitigation A/B,
    * BASELINE.md round-7) — so the hot-hash partitions would
    * straggle unmitigated; detached, both children are fresh
    * exchanges and the split fires. The detach costs one |distinct-hash|-table
    * materialization + re-exchange, orders below the corpus-sized
    * left side it protects.
    */
  def docsChunkDedup(spark: SparkSession, dir: String,
                     size: Int = 200, overlap: Int = 50): DataFrame = {
    val chunks = chunk(Tables.documents(spark, dir), size, overlap)
      .select(col("doc_id"), md5(col("chunk_text")).as("h"))
    val df = chunks.distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs_with"))
      .localCheckpoint(eager = false)
    chunks.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs_with") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared"),
        expr("(n_shared * 10000) div n_chunks").as("shared_x1e4"))
  }

  /** Fixed-span pseudo-line segmentation: consecutive `lineTokens`
    * token runs joined back to text — the line axis for the
    * line-level dedup rules. Production corpora split on '\n' (one
    * `split` swap, same downstream plan); the synthetic documents
    * table is delimiter-free, so a fixed token span stands in as the
    * line boundary and exercises identical semantics. Map-only.
    *
    * The zero-token case is explicitly guarded: Spark's
    * `sequence(0, -1)` infers a DESCENDING step and would produce two
    * phantom lines where DuckDB's `range(0, 0)` is empty — currently
    * unreachable (split() always returns ≥1 token) but pinned to the
    * empty array on both engines so a future tokenizer that filters
    * empty tokens cannot diverge.
    */
  private[operators] def docsLines(spark: SparkSession, dir: String,
                                   lineTokens: Int = 10): DataFrame =
    docsLinesOn(Tables.documents(spark, dir), lineTokens)

  /** [[docsLines]] over any (doc_id, text) frame — the seam pipeline
    * compositions drive with a pre-gated subset.
    */
  private[operators] def docsLinesOn(documents: DataFrame,
                                     lineTokens: Int): DataFrame =
    documents
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""case when size(toks) = 0 then array()
           |     else transform(sequence(0, (size(toks) + ${lineTokens - 1}) div $lineTokens - 1),
           |                    j -> array_join(slice(toks, j * $lineTokens + 1, $lineTokens), ' '))
           |end""".stripMargin))
        .as(Seq("line_idx", "line")))

  /** LINE-LEVEL duplicate audit (C4 §4.1 / Gopher repetition rules —
    * the standard cleaning signal between whole-doc dedup and
    * pair-wise near-dup): per document, how many of its lines occur
    * more than once in the CORPUS, and the ×10⁴ duplicate-line
    * fraction. Boilerplate headers/footers/navigation are exactly
    * the lines this flags; whole-doc hashes miss them and pair-wise
    * near-dup is far more expensive. Shape is [[docsChunkDedup]] at
    * line granularity: explode lines → one map-combinable count per
    * line hash → equi-join back → per-doc reduce. The line-df side
    * is DETACHED (lazy localCheckpoint) so AQE's skew split is
    * eligible on the Zipf-hot line hashes — see [[docsChunkDedup]]'s
    * shape note for why the fused aggregate would otherwise disable
    * it.
    */
  def docsLineDedup(spark: SparkSession, dir: String,
                    lineTokens: Int = 10): DataFrame = {
    val lines = docsLines(spark, dir, lineTokens)
      .select(col("doc_id"), md5(col("line")).as("h"))
    val df = lines.groupBy("h").agg(count(lit(1)).as("n_occ"))
      .localCheckpoint(eager = false)
    lines.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_lines"))
      .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
        expr("(n_dup_lines * 10000) div n_lines").as("dup_frac_e4"))
  }

  /** The ACTION leg of the line family (C4 §4.1 executes exactly
    * this): drop every line occurring more than `maxOcc` times in
    * the corpus and account for what survives — per doc, the kept
    * line and token counts plus the ×10⁴ kept-line fraction (the
    * boilerplate-stripping yield a cleaning run reports).
    * [[docsLineDedup]] audits, this decides; same explode →
    * hash-count → join-back shape, one extra conditional aggregate.
    */
  def docsLineStrip(spark: SparkSession, dir: String,
                    lineTokens: Int = 10, maxOcc: Int = 2): DataFrame = {
    val lines = docsLines(spark, dir, lineTokens)
      .select(col("doc_id"), col("line"), md5(col("line")).as("h"))
    val occ = lines.groupBy("h").agg(count(lit(1)).as("n_occ"))
      .localCheckpoint(eager = false) // skew-split eligibility, see docsChunkDedup
    lines.join(occ, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("n_occ") <= maxOcc, 1L).otherwise(0L)).as("n_kept_lines"),
        sum(when(col("n_occ") <= maxOcc,
          size(split(col("line"), " ")).cast("long")).otherwise(0L)).as("n_kept_tokens"))
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"), col("n_kept_tokens"),
        expr("(n_kept_lines * 10000) div n_lines").as("kept_frac_e4"))
  }

  /** The MATERIALIZED strip action — [[docsLineStrip]] accounts,
    * this EMITS the cleaned document: kept lines (corpus occurrence
    * ≤ `maxOcc`) re-joined per doc in original line order, so the
    * C4 composition (gate → strip → dedup → pack) can run end-to-end
    * on actual cleaned text rather than bookkeeping. When nothing is
    * stripped the reconstruction IS the original token sequence
    * (lines are token spans joined by the token separator), so
    * downstream detectors see byte-identical content for untouched
    * docs. Output: kept-line count, cleaned char length, and the md5
    * of the cleaned text (the oracle-checkable content witness; the
    * text itself is the `clean_text` column on the lib seam
    * [[docsLineStripTextFull]]).
    *
    * Shape: the same explode → hash-count → join-back as the audit,
    * then ONE per-doc reconstruction aggregate. The collect_list is
    * bounded by lines-per-doc (= the document itself — re-emitting
    * the doc is the operator's contract, same state as any per-doc
    * rewrite); docs with ZERO surviving lines are absent, exactly
    * like a cleaning pass dropping an all-boilerplate page.
    */
  def docsLineStripTextFull(spark: SparkSession, dir: String,
                            lineTokens: Int = 10, maxOcc: Int = 2): DataFrame =
    docsLineStripTextFullOn(Tables.documents(spark, dir), lineTokens, maxOcc)

  /** [[docsLineStripTextFull]] over any (doc_id, text) frame — line
    * occurrence counts are computed over THAT frame (a pipeline that
    * gates first strips against its working set's line profile).
    */
  def docsLineStripTextFullOn(documents: DataFrame,
                              lineTokens: Int = 10, maxOcc: Int = 2): DataFrame = {
    val lines = docsLinesOn(documents, lineTokens)
      .select(col("doc_id"), col("line_idx"), col("line"), md5(col("line")).as("h"))
    val occ = lines.groupBy("h").agg(count(lit(1)).as("n_occ"))
      .localCheckpoint(eager = false) // skew-split eligibility, see docsChunkDedup
    lines.join(occ, "h")
      .filter(col("n_occ") <= maxOcc)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept_lines"),
        array_join(
          transform(array_sort(collect_list(struct(col("line_idx"), col("line")))),
            x => x.getField("line")), " ").as("clean_text"))
  }

  /** The oracled projection of [[docsLineStripTextFull]] (md5 content
    * witness instead of the raw text column).
    */
  def docsLineStripText(spark: SparkSession, dir: String,
                        lineTokens: Int = 10, maxOcc: Int = 2): DataFrame =
    docsLineStripTextFull(spark, dir, lineTokens, maxOcc)
      .select(col("doc_id"), col("n_kept_lines"),
        length(col("clean_text")).cast("long").as("clean_chars"),
        md5(col("clean_text")).as("clean_md5"))

  /** The corpus-side rendering of [[docsLineDedup]]: the top
    * duplicated lines themselves (occurrence count + distinct docs
    * containing them) — the report a cleaning pass reads to decide
    * which boilerplate to strip globally. One map-combinable count
    * keyed by the line, TakeOrdered head with a deterministic
    * (count DESC, line) tie-break — never a global sort of the line
    * table.
    */
  def docsLineTopDup(spark: SparkSession, dir: String,
                     lineTokens: Int = 10, k: Int = 20): DataFrame =
    docsLines(spark, dir, lineTokens)
      .groupBy("line")
      .agg(count(lit(1)).as("n_occ"), count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occ") > 1)
      .orderBy(col("n_occ").desc, col("line"))
      .limit(k)

  /** [[docsQualityFilter]] extended with the line-dedup rule (the
    * Gopher duplicate-line-fraction gate): flag_dup_lines fires when
    * more than 30% of a doc's lines are corpus-duplicated
    * (cross-multiplied 10·dup > 3·lines — no float edge), and the
    * keep verdict requires it clear. Follows the
    * [[docsQualityFilterPii]] variant pattern: the base gate's
    * contract is unchanged, the extended gate is its own oracled
    * query.
    */
  def docsQualityFilterLines(spark: SparkSession, dir: String,
                             minTokens: Int = 5, maxTokens: Int = 80,
                             maxPunct: Double = 0.1,
                             lineTokens: Int = 10): DataFrame = {
    val dup = docsLineDedup(spark, dir, lineTokens)
      .select(col("doc_id"),
        (col("n_dup_lines") * 10 > col("n_lines") * 3).as("flag_dup_lines"))
    docsQualityFilter(spark, dir, minTokens, maxTokens, maxPunct)
      .join(dup, "doc_id")
      .withColumn("keep", col("keep") && !col("flag_dup_lines"))
  }

  /** The composite QUALITY GATE — the decision operator a cleaning
    * pipeline actually executes over the per-doc signals: length
    * bounds, punctuation ratio, intra-doc repetition, boilerplate
    * coverage, each as its own flag plus the final keep verdict
    * (keep = no flag fired). Ratio thresholds that feed a DISCRETE
    * decision are phrased as exact integer cross-multiplications
    * (5·distinct < 4·shingles instead of rep_ratio > 0.2) so no
    * float rounding can flip a verdict between engines; the
    * punctuation compare divides the same two integers on both
    * sides, which IEEE quotients identically. One map-only pass
    * plus the broadcast boilerplate join.
    */
  def docsQualityFilter(spark: SparkSession, dir: String,
                        minTokens: Int = 5, maxTokens: Int = 80,
                        maxPunct: Double = 0.1): DataFrame = {
    val nToks = size(T.tokens(col("text"))).cast("long")
    val punctRatio = T.punctCount(col("text")).cast("double") /
      nullif(length(col("text")).cast("double"), lit(0.0))
    val nShingles = greatest(size(T.tokens(col("text"))) - 2, lit(0)).cast("long")
    val nDistinct = size(T.wordShingles(col("text"), 3)).cast("long")
    val base = Tables.documents(spark, dir).select(
      col("doc_id"),
      (nToks < minTokens).as("flag_short"),
      (nToks > maxTokens).as("flag_long"),
      coalesce(punctRatio > maxPunct, lit(false)).as("flag_punct"),
      // rep_ratio > 0.2  ⟺  distinct/total < 0.8  ⟺  5·distinct < 4·total
      (nDistinct * 5 < nShingles * 4).as("flag_repetitive"))
    val boiler = textBoilerplate(spark, dir).select(col("doc_id"),
      // boiler_ratio > 0.4  ⟺  5·hits > 2·bigrams
      (col("n_top_ngrams") * 5 > col("n_bigrams") * 2).as("flag_boilerplate"))
    base.join(boiler, "doc_id")
      .withColumn("keep",
        !col("flag_short") && !col("flag_long") && !col("flag_punct") &&
          !col("flag_repetitive") && !col("flag_boilerplate"))
  }

  /** Winnowed rolling-hash fingerprints (k=7 chars, window 4),
    * exploded to (doc_id, fp) rows — the join-able shape for
    * fingerprint-overlap dedup at scale. Typed flatMap: map-only,
    * shuffle-free (see HashFunctions.winnowedFingerprints for why
    * this is not a Column expression).
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        H.winnowedFingerprints(text, 7, 4).map(fp => (id, fp))
      }
      .toDF("doc_id", "fp")
  }

  /** Corpus VOCABULARY profile: total token count, vocabulary size,
    * hapax-legomena count, and the type/token ratio — the one-row
    * summary a tokenizer-training / corpus-health pass reads first
    * (a collapsing vocabulary or a spiking hapax share is the
    * standard symptom of boilerplate floods and encoding rot).
    * Two-level aggregate, both levels map-combinable: word-frequency
    * shuffle keyed by the word (Zipf-skewed, but partial aggregation
    * collapses each partition's hot words to one row pre-shuffle),
    * then a single global reduce of 3 counters. Integer outputs
    * except the ratio, which divides two exact integers (IEEE-exact)
    * and rounds.
    */
  def vocabStats(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .select(explode(T.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    freq.agg(
        sum(col("f")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("n_tokens"), col("vocab_size"), col("n_hapax"),
        round(col("vocab_size").cast("double") /
          nullif(col("n_tokens").cast("double"), lit(0.0)), 6)
          .as("type_token_ratio"))
  }

  /** Per-doc token-rarity profile: every token occurrence joined to
    * the corpus document-frequency table, reduced to exact integer
    * sums — low mean df marks vocabulary-heavy documents (the
    * diversity/quality signal a training mix weighs alongside
    * [[textQuality]]). The mean is emitted ×10⁴ as an integer FLOOR
    * division of two exact integers (engine-portable — no float
    * ratio, no round() half-rule). Shape: one tokenize pass feeding
    * tf-weighted occurrences, one map-combinable df aggregate, an
    * un-hinted term join (vocabulary outgrows broadcast at corpus
    * scale — AQE decides, as in textTfidf), one final groupBy.
    */
  def textRarity(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("term"))
    val df = terms.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      .localCheckpoint(eager = false) // skew-split eligibility, see docsChunkDedup
    terms.join(df, "term")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("df")).as("sum_df"),
        min(col("df")).as("min_df"))
      .select(col("doc_id"), col("n_tokens"), col("sum_df"), col("min_df"),
        expr("(10000 * sum_df) div n_tokens").as("mean_df_e4"))
  }

  /** Corpus top-k adjacent character pairs inside words — the first
    * merge-candidate table of a BPE tokenizer-induction pass (the
    * highest-count pair is the first merge; rerunning after each
    * merge is the full algorithm, this is its dominant reduction).
    * Map side: tokenize, explode, slide a 2-char window over each
    * word (words shorter than 2 chars contribute nothing); reduce:
    * one map-combinable count + single-pass TakeOrderedAndProject
    * with a (count DESC, pair ASC) deterministic tiebreak — the
    * text_ngram_topk shape at character granularity. Counts are
    * occurrence totals (not per-doc distinct): BPE merges rank by
    * raw frequency.
    */
  def textBpePairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(T.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      // sequence(1, length-1) is safe under the length ≥ 2 filter
      // (Spark's sequence RUNS DESCENDING when start > stop — an
      // unguarded length-1 word would yield [1, 0], not empty)
      .select(explode(expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** Top adjacent symbol pair of a spaced-symbol word frame —
    * shared by the trainer and the apply pass (symbols are joined
    * by a DOUBLE space — see [[bpeReplaceExpr]]).
    */
  private def bpePairTop(words: DataFrame): DataFrame =
    // round-13: one imperative pass per word ([[graft.plans
    // .BpeAdjacentPairs]] — trim/split/pair semantics replicated
    // exactly) instead of split + transform(sequence)/element_at
    // struct-boxing, which dominated the per-round pair-count jobs
    words.select(explode(graft.plans.BpeAdjacentPairs(col("w"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l"), col("r"))
      .limit(1)

  /** EXACT greedy left-to-right re-segmentation as ONE plain
    * `replace` pass. Words are rendered with a DOUBLE space between
    * symbols and a single space pad at each end; the merge pattern
    * " l␣␣r " consumes one space on each side, so every internal
    * separator donates its second space to the neighboring
    * occurrence — a consuming non-overlapping scan can therefore
    * take EVERY greedy match, including back-to-back and
    * self-overlapping (l = r) runs. (The single-space rendering's
    * two-pass replace is NOT greedy on such runs — e.g. six 'a's
    * merge (a,a) only twice instead of three times; the randomized
    * PropertySpec case pins the double-space pass against a greedy
    * reference on exactly those inputs.) Plain `replace` behaves
    * identically in Spark and DuckDB — no regex, no lookarounds.
    */
  private val bpeReplaceExpr: String =
    "replace(w, concat(' ', l, '  ', r, ' '), concat(' ', l, r, ' '))"

  /** BPE MERGE-LOOP trainer — the iterative tokenizer-induction pass
    * [[textBpePairs]] is round zero of: count adjacent symbol pairs
    * over the corpus, adopt the highest-count pair as a merge
    * (deterministic (count DESC, left, right) tie-break), re-segment
    * every word, repeat. Output: one row per adopted merge
    * (rnd, l, r, merged, n). Like emb_kmeans_train's Lloyd loop, the
    * whole multi-round trajectory is ONE lazy Catalyst plan — each
    * round's winner is a 1-row TakeOrdered broadcast onto the word
    * frame, no per-round driver collect, no mutable state.
    *
    * Words are carried as DOUBLE-space-separated symbol strings
    * padded with a boundary space (symbols never contain spaces, so
    * " l␣␣r " matches exactly whole-symbol adjacency), and
    * re-segmentation is ONE plain `replace` pass that IS greedy
    * left-to-right BPE merging — see [[bpeReplaceExpr]] for why the
    * double separator makes a consuming scan exact (and why the
    * single-space rendering isn't). It replays engine-identically
    * because plain `replace` has the same consuming non-overlapping
    * semantics everywhere (no regex, no lookarounds — RE2 oracles
    * can't do lookbehind).
    *
    * Scale shape: each round is one map-combinable pair count + a
    * single-row TakeOrdered + a broadcast map-only rewrite — rounds
    * compose without shuffling words (the only shuffles are the
    * bounded pair-count aggregates). The corpus is re-derived per
    * round (3 scans for 2 rounds — fine at the contract's rounds=2).
    */
  def textBpeMerges(spark: SparkSession, dir: String, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"textBpeMerges needs rounds >= 1, got $rounds")
    def pairTop(words: DataFrame): DataFrame = bpePairTop(words)
    // spaced-symbol rendering " h e l l o ": one regex pass per word
    // (each char -> "char space", then the leading pad) — NOT a
    // per-character interpreted lambda (transform(sequence(...))
    // cost ~60% of this query's wall-clock). The oracle builds the
    // identical string via its RE2-safe char-list join.
    // deliberately NOT checkpointed: the three consumers re-derive
    // the spaced words from the scan (measured within 4% of a
    // localCheckpoint locally), and at corpus scale storing a
    // 2×-corpus word frame loses to two extra columnar re-scans
    var words = Tables.documents(spark, dir)
      .select(explode(T.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .select(graft.plans.BpeSpacedSymbols(col("w")).as("w"))
    var out: DataFrame = null
    for (rnd <- 1 to rounds) {
      val top = pairTop(words)
      val row = top.select(lit(rnd.toLong).as("rnd"), col("l"), col("r"),
        concat(col("l"), col("r")).as("merged"), col("n"))
      out = if (out == null) row else out.union(row)
      if (rnd < rounds) {
        words = words.crossJoin(broadcast(top))
          .select(expr(bpeReplaceExpr).as("w"))
      }
    }
    out
  }

  /** BPE APPLY — the consumer leg of the tokenizer family
    * ([[textBpeMerges]] trains, this tokenizes with the result):
    * re-learn the merge sequence in the same lazy plan, apply EVERY
    * merge to every word (doc identity carried through), and report
    * per document the word count, character count (merge-invariant),
    * post-merge BPE token count, and the ×10⁴ tokens-per-char
    * compression floor — the number a tokenizer-budget decision
    * actually reads (chars never change under merges, so the ratio
    * isolates what the learned vocabulary buys). Same plan shape as
    * the trainer plus one map-only per-doc aggregate.
    */
  def textBpeApply(spark: SparkSession, dir: String, rounds: Int = 2): DataFrame = {
    var words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .select(col("doc_id"), graft.plans.BpeSpacedSymbols(col("w")).as("w"))
    for (_ <- 1 to rounds) {
      val top = bpePairTop(words)
      words = words.crossJoin(broadcast(top))
        .select(col("doc_id"), expr(bpeReplaceExpr).as("w"))
    }
    words.groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(expr("length(replace(w, ' ', ''))")).as("n_chars"),
        sum(graft.plans.BpeSymbolCount(col("w"))).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"),
        col("n_chars").cast("long").as("n_chars"),
        col("n_bpe_tokens").cast("long").as("n_bpe_tokens"),
        expr("(10000 * n_bpe_tokens) div nullif(n_chars, 0)").as("compression_e4"))
  }

  /** Feature-hashing term frequencies (the HashingTF transform): each
    * token occurrence is bucketed by the engine's shared identity
    * hash ([[Sampling.hash32]] — md5-derived, replayable by any
    * engine) mod `numBuckets`, yielding the fixed-width sparse
    * vector (doc_id, bucket, tf) a downstream model consumes without
    * a vocabulary pass. No vocabulary state is the point: the
    * transform is stateless map-side work plus ONE map-combinable
    * count on (doc_id, bucket) — no df table, no join, so it
    * pipelines at scan speed at 100 TB where a dictionary-based
    * vectorizer needs a global vocabulary build first. Output rows
    * per doc are bounded by min(n_tokens, numBuckets); tf is an exact
    * integer.
    */
  def textHashingTf(spark: SparkSession, dir: String, numBuckets: Int = 64): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("term"))
      .select(col("doc_id"), pmod(Sampling.hash32(col("term")), lit(numBuckets.toLong)).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("tf"))

  /** Bigram language-model fluency score — the n-gram-LM quality
    * signal a pretraining filter computes per document: for each
    * in-doc bigram (w₁, w₂), the corpus continuation ratio
    * c(w₁w₂)/c(w₁·) (count of the bigram over the count of w₁ as a
    * bigram PREFIX — both from the corpus itself), and per doc the
    * MEAN of those ratios. Machine-generated or shuffled text scores
    * low (its bigrams rarely continue the way the corpus does);
    * natural prose scores high. Every ratio is FLOOR(10⁶·c₂/c₁) —
    * exact integer division — and the doc mean is again a floor of
    * two exact integers, so the score replays bit-identically on any
    * engine.
    *
    * Shape at 100 TB: one map-combinable bigram count (the LM), one
    * re-aggregate of that (already-reduced) table for prefix counts,
    * then the doc-bigram stream equi-joins the LM on its natural key
    * and reduces per doc — the joins are key-partitioned shuffle
    * joins whose right sides are DISTINCT-bigram-sized. Both LM
    * tables are DETACHED (lazy localCheckpoint) before the joins:
    * the hot keys (stop-word bigrams, Zipf) sit on the corpus-sized
    * LEFT side, and AQE's skew split only fires when the join's
    * children are bare shuffle stages — fused LM aggregates would
    * silently disable it ([[docsChunkDedup]]'s shape note; measured
    * in the skew-mitigation A/B, BASELINE.md round-7). The detach
    * also materializes cBg ONCE for its two consumers (the doc join
    * and the prefix re-aggregate). Docs under 2 tokens have no bigrams and are
    * absent by construction.
    */
  def textBigramLm(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("t"))
      // round-13: imperative bigram kernel (< 2 tokens -> empty
      // array, subsuming the former size filter under explode)
      .select(col("doc_id"), explode(
        graft.plans.TokenBigrams(col("t"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cBg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .localCheckpoint(eager = false)
    val cPre = cBg.groupBy("w1").agg(sum("c2").as("c1"))
      .localCheckpoint(eager = false)
    bg.join(cBg, Seq("w1", "w2"))
      .join(cPre, Seq("w1"))
      .select(col("doc_id"), expr("(c2 * 1000000) div c1").as("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(term) div count(1)").as("lm_score_x1e6"))
  }

  /** CCNet-style LM gate (Wenzek et al., "CCNet: Extracting High
    * Quality Monolingual Datasets from Web Crawl Data", LREC 2020):
    * bucket every document head / middle / tail by the corpus
    * distribution of its own [[textBigramLm]] fluency score — the
    * pretraining step that keeps head+middle and drops (or
    * down-samples) the tail. Cut points are the exact discrete
    * terciles (SQL percentile_disc semantics: smallest score whose
    * cumulative count reaches p·total) computed WITHOUT a
    * buffer-all-values percentile aggregate: the score axis is
    * integral and bounded ([0, 10⁶]), so the cuts come from a
    * map-combinable score histogram plus a running sum over the
    * ≤10⁶-row distinct-score axis — mergeable at 100 TB where an
    * exact single-group percentile_disc is a single-reducer
    * ObjectAggregate over every doc. The un-partitioned window rides
    * that BOUNDED axis only (the [[textZipf]] /
    * qRunningDistinct precedent), never the corpus; the histogram
    * total and the 2-value cut row land on the classify side as
    * broadcast 1-row cross joins. `3·cum ≥ k·total` is exact integer
    * arithmetic, so the buckets replay bit-identically on any
    * engine. The scorer is detached (lazy localCheckpoint) because
    * it has two consumers (histogram chain + classify) and is the
    * expensive leg; the ≤10⁶-row histogram is recomputed from the
    * materialized scores per consumer, one cheap doc-level pass
    * each. Docs with <2 tokens have no bigrams and are absent,
    * inheriting the scorer's contract. Ties at a cut follow
    * percentile_disc: every doc AT the cut value lands in the lower
    * bucket.
    */
  def textLmGate(spark: SparkSession, dir: String): DataFrame = {
    val lm = textBigramLm(spark, dir)
      .select(col("doc_id"), col("lm_score_x1e6"))
      .localCheckpoint(eager = false)
    val hist = lm.groupBy("lm_score_x1e6").agg(count(lit(1)).as("n"))
    val total = hist.agg(sum("n").as("total"))
    val cuts = hist
      .withColumn("cum", sum("n").over(Window.orderBy("lm_score_x1e6")))
      .crossJoin(broadcast(total))
      .agg(
        min(when(col("cum") * 3 >= col("total"), col("lm_score_x1e6"))).as("c_tail"),
        min(when(col("cum") * 3 >= col("total") * 2, col("lm_score_x1e6"))).as("c_mid"))
    lm.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("lm_score_x1e6"),
        when(col("lm_score_x1e6") <= col("c_tail"), lit("tail"))
          .when(col("lm_score_x1e6") <= col("c_mid"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }

  /** Corpus Zipf profile: the top-k token frequency table with rank
    * and cumulative share — the curve a corpus-health check eyeballs
    * (a healthy natural-language crawl tracks rank·freq ≈ const;
    * boilerplate-heavy or deduplicate-worthy corpora bulge at the
    * head). One map-combinable token count, one single-pass top-k
    * (TakeOrderedAndProject on count DESC, token ASC), then rank and
    * cumulative arithmetic over the k surviving rows only. The share
    * divides two exact integers (one correctly-rounded IEEE op per
    * row) and rounds for presentation.
    */
  def textZipf(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(T.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("total"))
    val top = counts.orderBy(col("n").desc, col("term")).limit(k)
    // un-partitioned window is safe here: it runs AFTER the limit,
    // over exactly k rows
    val w = Window.orderBy(col("n").desc, col("term"))
    top.withColumn("rank", row_number().over(w))
      .withColumn("cum_n", sum("n").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank").cast("long").as("rank"), col("term"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("share"),
        round(col("cum_n").cast("double") / col("total"), 6).as("cum_share"))
  }

  /** Per-language document-length quantile profile — the length
    * distribution table every corpus card ships (and the input to
    * truncation/packing budget decisions). Quantiles are EXACT
    * DISCRETE order statistics, all-integer: rank each lang's docs on
    * (n_chars, doc_id) — a unique total order, so the element AT rank
    * ⌈q·n/100⌉ is well-defined on any engine — and pick p10/p50/p90
    * with a conditional max. No percentile interpolation, no floats.
    *
    * Scale: one shuffle on lang for the window sort. Per-lang
    * timelines are corpus-sized, so at 100 TB this exact rendering is
    * the AUDIT path; the streaming-friendly scale path is the sketch
    * family ([[Relational.qSketchProfile]]'s percentile_approx) —
    * same contract, bounded state.
    */
  def docsLengthProfile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    val ranked = Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")).cast("long"))
    ranked.groupBy("lang")
      .agg(max("n").as("n_docs"),
        min("n_chars").as("len_min"),
        max("n_chars").as("len_max"),
        max(when(col("rn") === expr("(n * 10 + 99) div 100"), col("n_chars"))).as("p10"),
        max(when(col("rn") === expr("(n * 50 + 99) div 100"), col("n_chars"))).as("p50"),
        max(when(col("rn") === expr("(n * 90 + 99) div 100"), col("n_chars"))).as("p90"))
  }

  /** Token-length histogram per language — the width distribution a
    * tokenizer-training pass profiles first (subword vocab sizing,
    * truncation budgets, and a cheap language sanity check: length
    * distributions differ per script). Pure map-side explode + one
    * map-combinable count on the tiny (lang × length) key space;
    * `n_distinct` adds the type-level view next to the token-level
    * one. All-integer, single shuffle, reduce side bounded by
    * langs × max word length.
    */
  def textLenHist(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), explode(T.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), length(col("tok")).cast("long").as("tok_len"))
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("tok")).as("n_distinct"))

  /** Directional skip-gram co-occurrence with EXACT integer lift —
    * collocation mining (the word2vec/PMI window statistic) with no
    * transcendental in sight: lift = N·c(a,b) / (c(a)·c(b)) reported
    * as a ×10⁴ integer floor, PMI's log deferred to the consumer.
    * Window pairs (a precedes b within 3) come from a bounded ×3
    * `sequence` explode joined back on the (doc_id, position)
    * EQUI-key — no positional range self-join. c(a,b) ≥ 5 bounds the
    * output to genuinely collocated pairs.
    *
    * Scale: the pair count and both marginal joins shuffle on token
    * keys; hot tokens skew the marginal join — the marginal is
    * detached (see [[coocParts]]) so AQE's skew-join split can fire
    * on it (BASELINE.md round-7: the split beat a ×8 salted
    * rendering, whose wall grew 9.7× for 10× data). Integer
    * ranges: c·N·10⁴ ≤ 10¹⁸ holds to ~10⁹-token corpora per count
    * cell; past that, widen to decimal128.
    *
    * The aggregate's true cost driver is the DISTINCT pair-space
    * cardinality: the count rows are already hash-keyed 8-byte pairs
    * (one long per (a,b)), but when per-task distinct pairs outgrow
    * the partial-agg hash map the map side falls back to
    * sort-aggregation and spills (the round-9 sf100 soak measured
    * 11 GB of exactly this on a 1000-disjoint-vocabulary synthetic
    * corpus — a real shared-vocabulary corpus grows distinct pairs
    * sublinearly). Past that regime two levers compose with this plan
    * (both CODE now, round-10):
    *
    *  - `minDf`: tokens whose corpus count is below the floor are
    *    dropped from the PAIR stream (marginals, total and the lift
    *    formula see the full corpus). The prune is a map-only bloom
    *    probe — one sketch over the (already-materialized) marginal,
    *    no extra token-stream shuffle. PROVABLY output-identical for
    *    minDf ≤ ⌈minC/3⌉ = 2 (a token occurrence pairs with ≤ 3
    *    followers per direction, so c(a,b) ≤ 3·min(c(a), c(b)): a
    *    token with c < 2 cannot reach c_ab ≥ 5 — and bloom false
    *    positives only KEEP extra tokens, never drop); larger floors
    *    are an explicit subset lever (output ⊆ the unfiltered run,
    *    spec-pinned both ways). On a Zipf corpus the hapax tail is
    *    ~half the vocabulary and most of the DISTINCT pair space.
    *  - `bands`: the pair aggregate is sharded into S sequential
    *    jobs by pmod(ha, S) — the follower stream is pre-filtered
    *    per band, so each job's positional join input and distinct
    *    pair space is ~1/S, keeping the partial-agg hash map
    *    resident (no sort-fallback spill) and the per-job shuffle
    *    scratch at ~1/S. Survivors (c_ab ≥ 5) are eagerly
    *    materialized per band with a GC between bands (the
    *    [[NearDup]] phase-1 banding discipline); the b-side token
    *    frame is re-exchanged per band — the wall trade that buys
    *    the bounded footprint. Bands partition the pair space by
    *    its ha axis, so the union equals the unbanded aggregate
    *    row-for-row (equality spec).
    *
    * Defaults (−1) resolve explicit arg > AUTO-GATE: below
    * [[COOC_GATE_DOCS]] documents the plan is byte-identical to the
    * historical contract plan (minDf 0, 1 band); past the gate the provably-exact minDf=2
    * prune engages and bands derive from the document count (~1 band
    * per 1.25M docs, clamped to [2, 32] — the round-10 sf100 soak's
    * 0-spill operating point at 5M docs was 4). One metadata-only
    * count at plan-build, the [[NearDup.verifyBandsFor]] discipline —
    * the contract plan stops spilling at sf100 with NO env knobs.
    */
  private val COOC_GATE_DOCS = 1000000L

  def docsCoocLift(spark: SparkSession, dir: String, minDf: Long = -1L,
                   bands: Int = -1): DataFrame = {
    // round-13: the document count comes from the parquet FOOTERS
    // (driver-only metadata, exact — no count job at plan-build);
    // gate and band formula are unchanged
    lazy val nDocs = graft.Tables.parquetRowCount(spark, dir, "documents")
    val mdf = if (minDf >= 0L) minDf
      else if (nDocs < COOC_GATE_DOCS) 0L else 2L
    val bnd = if (bands >= 1) bands
      else if (nDocs < COOC_GATE_DOCS) 1
      else math.min(32L, math.max(2L, (nDocs + 1249999L) / 1250000L)).toInt
    val (pairs, marg, total) = coocParts(spark, dir, mdf, bnd)
    pairs
      .join(marg.select(col("ht").as("ha"), col("tok").as("a"), col("c").as("c_a")), "ha")
      .join(marg.select(col("ht").as("hb"), col("tok").as("b"), col("c").as("c_b")), "hb")
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        expr("(c_ab * n_total * 10000) div (c_a * c_b)").as("lift_x1e4"))
  }

  /** (window pairs ≥ 5 keyed by token HASHES, token marginals with
    * their hashes, 1-row total) — the inputs of [[docsCoocLift]].
    *
    * The positional join and the pair-count aggregate run entirely on
    * 8-byte xxhash64 token keys, not strings: the distinct skip-gram
    * pair space grows superlinearly with vocabulary (at the sf10 soak
    * the two-string (a, b) agg rows overflowed map-side partial-agg
    * hash tables into sort fallback — 818 MB spill), while fixed
    * 16-byte (ha, hb) keys keep the hash-agg resident and the join
    * shuffle narrow. Token strings are recovered through the marginal
    * joins the lift needs anyway — zero extra joins. Exactness is
    * GUARDED, not assumed: distinct tokens colliding on xxhash64
    * would merge counts and duplicate join rows, so the marginal
    * build asserts hash-injectivity over the vocabulary (one cheap
    * aggregate on the materialized marginal — vocabularies are tiny
    * next to pair spaces) and THROWS rather than silently mis-count;
    * at 2⁶⁴ a real vocabulary never trips it (birthday bound ~10⁻⁷
    * at 10⁸ types), and a corpus that does needs a wider key, not a
    * silent merge.
    */
  private def coocParts(spark: SparkSession, dir: String,
                        minDf: Long, bands: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(T.tokens(col("text"))).as(Seq("i", "tok")))
    val toksH = toks.select(col("doc_id"), col("i"), xxhash64(col("tok")).as("ht"))
    // marg is consumed twice (both directional joins) and sits under
    // Zipf-hot join keys: the detach materializes it once AND keeps
    // AQE's skew split eligible (see docsChunkDedup's shape note;
    // BASELINE.md round-7: eligible AQE beat salting)
    val marg = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .withColumn("ht", xxhash64(col("tok")))
      .localCheckpoint()
    // injectivity guard + (when the minDf lever is on) the kept-type
    // count that sizes the bloom — one pass over the k-row marginal
    val inj = marg.agg(count(lit(1)).as("n"),
      count_distinct(col("ht")).as("nh"),
      sum(when(col("c") >= minDf, 1L).otherwise(0L)).as("n_kept")).head()
    if (inj.getLong(0) != inj.getLong(1))
      throw new IllegalStateException(
        s"xxhash64 collision over the token vocabulary (${inj.getLong(0)} " +
          s"types, ${inj.getLong(1)} distinct hashes) — hashed cooc keys " +
          "would merge distinct pairs; widen the key")
    // minDf prune: a bloom sketch over the KEPT types probes the pair
    // stream map-only (16 bits/key ≈ sub-% fpp; FPs only keep extra
    // tokens, preserving the ≤⌈minC/3⌉ exactness bound) — no
    // token-stream shuffle is added
    val toksP =
      if (minDf <= 0L) toksH
      else {
        val sketch = BloomDedup.buildSketch(marg.filter(col("c") >= minDf),
          col("ht"), numBits = math.max(1L << 20, 16L * inj.getLong(2)))
        if (sketch == null) toksH.filter(lit(false))
        else toksH.filter(BloomDedup.mightContain(sketch, col("ht")))
      }
    val followers = toksP
      .withColumn("d", explode(sequence(lit(1), lit(3))))
      .select(col("doc_id"), (col("i") + col("d")).as("j"), col("ht").as("ha"))
    val bSide = toksP.select(col("doc_id"), col("i").as("j"), col("ht").as("hb"))
    def pairAgg(f: DataFrame): DataFrame = f
      .join(bSide, Seq("doc_id", "j"))
      .groupBy("ha", "hb").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    val pairs =
      if (bands <= 1) pairAgg(followers)
      else (0 until bands).map { b =>
        val out = pairAgg(followers
          .filter(pmod(col("ha"), lit(bands.toLong)) === b))
          .localCheckpoint() // eager: the band's job runs NOW
        System.gc() // reclaim the finished band's shuffle files
        out
      }.reduce(_ unionByName _)
    val total = toks.agg(count(lit(1)).as("n_total"))
    (pairs, marg, total)
  }

  /** Language-ID CONFIDENCE margin — the router-confidence view of
    * [[textLangId]] (same theme as `Ann.embRouter`'s top-2 margin):
    * per doc, all four marker scores, the winner, and top-minus-
    * runner-up. Low-margin docs are where the heuristic gate
    * misroutes first — route THOSE to the expensive classifier, not
    * the whole corpus (the cascade pattern). Pure map work, exact
    * integers.
    */
  def textLangIdMargin(spark: SparkSession, dir: String): DataFrame = {
    val scores = T.langMarkers.map { case (_, ms) => T.markerScore(col("text"), ms).cast("long") }
    val Seq(en, de, es, fr) = scores
    val pred = when(T.cjkCount(col("text")) > 0, "zh")
      .when(en >= greatest(de, es, fr), "en")
      .when(de >= greatest(es, fr), "de")
      .when(es >= fr, "es")
      .otherwise("fr")
    val arr = sort_array(array(en, de, es, fr), asc = false)
    Tables.documents(spark, dir)
      .select(col("doc_id"), pred.as("lang_pred"),
        en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"),
        (element_at(arr, 1) - element_at(arr, 2)).as("margin"),
        (T.cjkCount(col("text")) > 0).as("is_cjk"))
  }

  /** Per-doc character-class composition (alpha / digit / space /
    * other) — the byte-level charset audit under every encoding or
    * quality gate (mojibake and binary-spill show up as `n_other`
    * spikes before any tokenizer runs). Pure map-side counting via
    * strip-and-diff lengths (regexp classes portable across
    * engines); `n_other` is the exact remainder so the four classes
    * partition `n_chars`.
    */
  def textCharClass(spark: SparkSession, dir: String): DataFrame = {
    def stripped(re: String) =
      length(col("text")) - length(regexp_replace(col("text"), re, ""))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      stripped("[A-Za-z]").cast("long").as("n_alpha"),
      stripped("[0-9]").cast("long").as("n_digit"),
      stripped(" ").cast("long").as("n_space"))
      .withColumn("n_other",
        col("n_chars") - col("n_alpha") - col("n_digit") - col("n_space"))
  }

  /** Email / phone / IPv4 patterns kept to the regex subset that
    * Java (Spark) and RE2 (DuckDB) match identically: character
    * classes, bounded repeats, `\b` — no backrefs or lookaround.
    */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhoneRe = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  val PiiIpv4Re  = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val BlocklistRe = "\\b(spark|vector|stream)\\b"

  /** Deterministic contact-style augmentation planted on every third
    * document: the synthetic corpus carries no natural PII, so the
    * scrub regexes would otherwise count only zeros. Derived purely
    * from doc_id; the oracle replays the identical construction, so
    * the regexes are exercised against positive AND zero-hit rows.
    */
  private def piiAugmented: org.apache.spark.sql.Column =
    when(col("doc_id") % 3 === 0,
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 200).cast("string"),
        lit(".0."), ((col("doc_id") * 7) % 250).cast("string")))
      .otherwise(col("text"))

  /** C4-style PII / blocklist scrub audit: regex redaction counts
    * (email, phone, IPv4) plus blocklist-term hits per document, and
    * the exact post-redaction length (each match class replaced by a
    * fixed tag, applied email -> phone -> IPv4 — the patterns cannot
    * overlap each other's matches, but a fixed order keeps both
    * engines byte-identical). All counters exact integers. Pure
    * map-side column work: runs at scan speed on 100 TB, no shuffle.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val aug = piiAugmented
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(aug, PiiEmailRe, "<EMAIL>"),
        PiiPhoneRe, "<PHONE>"),
      PiiIpv4Re, "<IP>")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      regexp_count(aug, lit(PiiEmailRe)).cast("long").as("n_email"),
      regexp_count(aug, lit(PiiPhoneRe)).cast("long").as("n_phone"),
      regexp_count(aug, lit(PiiIpv4Re)).cast("long").as("n_ipv4"),
      regexp_count(col("text"), lit(BlocklistRe)).cast("long").as("n_blocklist"),
      length(aug).cast("long").as("len_raw"),
      length(scrubbed).cast("long").as("len_scrubbed"))
  }

  /** docsQualityFilter's optional PII gate (default off, oracles
    * unchanged): when enabled, documents whose RAW text matches any
    * scrub pattern are flagged and excluded from `keep` — the
    * blocking stage a C4-style cleaning pipeline runs between the
    * heuristic gates and dedup.
    */
  def docsQualityFilterPii(spark: SparkSession, dir: String,
                           minTokens: Int = 5, maxTokens: Int = 80,
                           maxPunct: Double = 0.1): DataFrame = {
    val hasPii =
      regexp_count(col("text"), lit(PiiEmailRe)) +
        regexp_count(col("text"), lit(PiiPhoneRe)) +
        regexp_count(col("text"), lit(PiiIpv4Re)) > 0
    val pii = Tables.documents(spark, dir)
      .select(col("doc_id"), hasPii.as("flag_pii"))
    docsQualityFilter(spark, dir, minTokens, maxTokens, maxPunct)
      .join(pii, "doc_id")
      .withColumn("keep", col("keep") && !col("flag_pii"))
  }

  /** Vocabulary COVERAGE CURVE — what fraction of the corpus token
    * mass a top-k word vocabulary covers, at each candidate k. The
    * audit behind tokenizer/vocab-size choices (and the OOV-rate
    * estimate for a fixed word list: 1 − share). Exact integers
    * end-to-end: counts are longs, shares are floor(1e4·cov/total).
    *
    * Scale shape: word counting is ONE map-combinable groupBy pass,
    * lazy-checkpointed (vocab-sized — orders of magnitude below the
    * corpus) so its two consumers (the 1-row total and the
    * top-max(k) head) share it instead of re-scanning the corpus;
    * the head cut is a TakeOrderedAndProject (distributed heap,
    * never a global sort of the vocabulary); the per-k coverage is
    * one aggregate over (bounded head × |ks|) rows via a broadcast
    * k-list join — no per-k union branches. Mirrors [[textZipf]]'s
    * bounded-head posture.
    */
  def textVocabCoverage(spark: SparkSession, dir: String,
                        ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    val w = Tables.documents(spark, dir)
      .select(explode(T.tokens(col("text"))).as("w"))
    val f = w.groupBy("w").agg(count(lit(1)).as("f"))
      .localCheckpoint(eager = false)
    val total = f.agg(sum("f").as("total_tokens"))
    val ranked = f.orderBy(col("f").desc, col("w")).limit(ks.max)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("f").desc, col("w"))))
    val kdf = spark.createDataFrame(ks.map(k => Tuple1(k.toLong))).toDF("k")
    ranked.crossJoin(broadcast(kdf))
      .filter(col("rnk") <= col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_vocab"), sum("f").as("coverage_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("share_e4", expr("(10000 * coverage_tokens) div total_tokens"))
  }

  /** Gopher-style quality RULE AUDIT (Rae et al. 2021, §A1.1 — the
    * published heuristic battery most large-corpus cleaning passes
    * start from), re-expressed as exact integer predicates so every
    * rule replays bit-identically in the oracle:
    *
    *  - word count within [minWords, maxWords]
    *  - mean word length within [3, 5] chars, as the integer
    *    cross-multiplication 3·n ≤ Σlen ≤ 5·n (no float division)
    *  - symbol-to-word ratio ('#' / '...') ≤ 1/10: 10·sym ≤ n
    *  - ≥ 80% of words contain an alphabetic char: 5·alpha ≥ 4·n
    *  - at least 2 DISTINCT stopwords present (array_intersect size)
    *
    * Map-only over the documents scan (no shuffle, no join); every
    * output is a long counter or a boolean derived from longs. The
    * complement of [[docsQualityFilter]]: that op GATES on composite
    * signals, this one reports the per-rule evidence a corpus audit
    * wants before choosing thresholds.
    */
  def docsGopherRules(spark: SparkSession, dir: String,
                      minWords: Int = 25, maxWords: Int = 80): DataFrame =
    docsGopherRulesOn(Tables.documents(spark, dir), minWords, maxWords)

  /** [[docsGopherRules]] over any (doc_id, text) frame. Every signal
    * is a stateless per-row projection, so this applies unchanged to
    * a STREAMING frame (see graft.streaming.CleanStream) with
    * batch ≡ stream output guaranteed by construction.
    */
  def docsGopherRulesOn(documents: DataFrame,
                        minWords: Int = 25, maxWords: Int = 80,
                        keep: Seq[String] = Nil): DataFrame = {
    val toks = T.tokens(col("text"))
    val nWords = size(toks).cast("long")
    val sumLen = expr(
      "aggregate(transform(split(text, ' '), t -> CAST(length(t) AS BIGINT)), CAST(0 AS BIGINT), (a, v) -> a + v)")
    val nSymbol = regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long")
    val nAlphaWords = expr("CAST(size(filter(split(text, ' '), t -> t rlike '[A-Za-z]')) AS BIGINT)")
    val nStopDistinct = size(array_intersect(toks,
      typedlit(T.stopwords))).cast("long")
    documents.select(
      Seq(col("doc_id")) ++ keep.map(col) ++ Seq(
        nWords.as("n_words"),
        sumLen.as("sum_word_len"),
        nSymbol.as("n_symbol"),
        nAlphaWords.as("n_alpha_words"),
        nStopDistinct.as("n_stop_distinct")): _*)
      .withColumn("flag_words", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("flag_mwl",
        col("sum_word_len") >= col("n_words") * 3 && col("sum_word_len") <= col("n_words") * 5)
      .withColumn("flag_symbol", col("n_symbol") * 10 <= col("n_words"))
      .withColumn("flag_alpha", col("n_alpha_words") * 5 >= col("n_words") * 4)
      .withColumn("flag_stop", col("n_stop_distinct") >= 2)
      .withColumn("pass", col("flag_words") && col("flag_mwl") &&
        col("flag_symbol") && col("flag_alpha") && col("flag_stop"))
  }

  /** Naive-Bayes-style SOURCE classifier + resubstitution confusion
    * matrix — the lightweight bag-of-words classifier a pipeline
    * trains on its own metadata to audit provenance labels (and the
    * same shape as the CCNet/GPT-3 quality classifiers, with `source`
    * standing in for the curated-vs-crawl label). Kept in the exact
    * integer arithmetic the oracle gate demands: instead of summed
    * float log-likelihoods (cross-engine `ln` is not bit-stable), the
    * per-token signal is the Laplace-smoothed CLASS POSTERIOR
    * floor(10⁶·(c_ts+1)/(c_t+S)) — an exact integer division — and
    * the per-(doc, source) score is the floor MEAN over the doc's
    * token occurrences (the [[textBigramLm]] /
    * [[Sampling.docsDsirWeights]] integer-mean precedent; a mean of
    * per-token posteriors ranks classes like summed log-odds does for
    * the bounded vocabularies here, and replays bit-identically).
    * Prediction = argmax score, ties to the lexicographically
    * smallest source; trained and scored on the SAME corpus by
    * design (a resubstitution audit, not a held-out benchmark).
    *
    * Shape at 100 TB: the token×source count is ONE map-combinable
    * aggregate; its re-aggregate (c_t) and the dense term×source
    * posterior grid stay DISTINCT-VOCABULARY-sized (×S, the bounded
    * source taxonomy). Scoring folds the grid to ONE source-ordered
    * posterior ARRAY per term (the round-11 fix: the exploded ×S
    * scoring join put 5·10⁹ rows and 17.2 GB of sort spill through
    * the (doc, source) aggregate at sf100), joins the deduplicated
    * (doc, term, tf) frame once, and reduces per doc with S
    * codegen'd sum columns — S-wide rows exist only AFTER the
    * aggregate. The folded grid is detached (lazy localCheckpoint)
    * so the corpus-sized term frame joins a bare shuffle stage —
    * AQE's skew split stays armed for Zipf-hot terms (the
    * [[textBigramLm]] rule). Long arithmetic headroom: (c_ts+1)·10⁶
    * overflows int64 only past ~9·10¹² occurrences of one term in
    * one source.
    */
  def textNbSources(spark: SparkSession, dir: String): DataFrame =
    textNbSourcesOn(Tables.documents(spark, dir))

  /** [[textNbSources]] over any (doc_id, source, text) frame — the
    * synthetic-fixture seam.
    */
  def textNbSourcesOn(documents: DataFrame): DataFrame = {
    // source is external input (ANSI-guard rule): a null source would
    // NPE the driver-side taxonomy collect below — excluded up front,
    // so the classifier is defined over the labeled subset only
    val docs = documents.select(col("doc_id"), col("source"), col("text"))
      .filter(col("source").isNotNull)
    val tok = docs.select(col("doc_id"), col("source"),
      explode(T.tokens(col("text"))).as("term"))
    // one pass for both count tables; two consumers -> detach
    val cts = tok.groupBy("term", "source").agg(count(lit(1)).as("c_ts"))
      .localCheckpoint(eager = false)
    val ct = cts.groupBy("term").agg(sum("c_ts").as("c_t"))
    val srcs = docs.select("source").distinct()
    val nS = srcs.agg(count(lit(1)).as("n_sources"))
    val grid = ct.crossJoin(broadcast(srcs))
      .join(cts, Seq("term", "source"), "left")
      .na.fill(0L, Seq("c_ts"))
      .crossJoin(broadcast(nS))
      .select(col("term"), col("source"),
        expr("((c_ts + 1) * 1000000) div (c_t + n_sources)").as("p"))
    // Scoring WITHOUT the ×S row amplification (the round-11 sf100
    // widen measured the exploded rendering — token stream × S grid
    // rows → 5·10⁹ rows into the (doc, source) aggregate — at
    // 17.2 GB of sort spill): fold the S posteriors into ONE
    // source-ordered array row per term, join the (doc, term, tf)
    // frame once, and reduce per doc with S codegen'd sum columns —
    // S-wide rows only ever exist AFTER the aggregate (the stack to
    // (doc, source) rows is n_docs×S). Score arithmetic is
    // bit-identical: ⌊Σ_t tf·p_ts / Σ_t tf⌋ = ⌊Σ_occurrences p /
    // n_occurrences⌋. The source taxonomy is collected driver-side
    // to name the sum columns — the bounded K-row model-constant
    // pattern (Ann centroid collects), NOT a corpus collect.
    val srcList = srcs.orderBy("source")
      .collect().map(_.getString(0))
    val gridArr = grid.groupBy("term")
      .agg(expr("transform(array_sort(collect_list(struct(source, p))), x -> x.p)").as("ps"))
      .localCheckpoint(eager = false) // bare shuffle side for the hot term join
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val sumCols = srcList.indices.map(i =>
      sum(expr(s"ps[$i] * tf")).as(s"_s$i")) :+ sum("tf").as("_n")
    val perDoc = tf.join(gridArr, "term")
      .groupBy("doc_id")
      .agg(sumCols.head, sumCols.tail: _*)
    // Spark SQL string literals escape with BACKSLASH (the lexer does
    // not un-double ''): escape \ first, then ' — a source name
    // containing either now round-trips instead of mislabeling rows
    val stackArgs = srcList.zipWithIndex
      .map { case (s, i) =>
        s"'${s.replace("\\", "\\\\").replace("'", "\\'")}', _s$i" }
      .mkString(", ")
    val scores = perDoc
      .select(col("doc_id"),
        expr(s"stack(${srcList.length}, $stackArgs)").as(Seq("source", "_sum")),
        col("_n"))
      .select(col("doc_id"), col("source"),
        expr("_sum div _n").as("score_x1e6"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_x1e6").desc, col("source"))
    val pred = scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("source").as("predicted"), col("score_x1e6"))
    docs.select("doc_id", "source").join(pred, "doc_id")
      .groupBy("source", "predicted")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(score_x1e6) div count(1)").as("mean_score_x1e6"))
  }

  /** Per-source unigram-distribution DRIFT vs the whole corpus — the
    * mix monitor a pipeline runs between snapshots/sources to catch
    * composition shift before it reaches training: for each source,
    * the L1 distance Σ_t |p_ts − p_t| between the source's unigram
    * distribution and the corpus distribution (total variation =
    * L1/2), plus token mass and vocabulary coverage.
    *
    * Exact-integer rendering for the oracle gate: probabilities are
    * QUANTIZED to 10⁻⁹ as m_ts = ⌊10⁹·c_ts/N_s⌋ and
    * m_t = ⌊10⁹·c_t/N⌋ (exact int64 divisions — c_ts·10⁹ fits while
    * N ≲ 9·10⁹ tokens; a 100 TB corpus drops to 10⁶ quantization or
    * DECIMAL, same plan), and `l1_x1e9 = Σ|m_ts − m_t|` is then an
    * exact integer any engine replays bit-for-bit. Terms ABSENT from
    * a source contribute m_t each without being enumerated:
    * Σ_absent m_t = M_total − Σ_present m_t, so the sum needs only
    * the present (term, source) grid. Quantization error is bounded
    * by vocab·10⁻⁹ per side — noise for a drift monitor.
    *
    * Shape at 100 TB: one map-combinable (term, source) count (the
    * [[textNbSourcesOn]] grid), its term re-aggregate, two broadcast
    * summaries (S rows, 1 row), one vocab×S-bounded equi-join on
    * term. The count frame is detached (lazy localCheckpoint) so the
    * Zipf-hot term join sees a bare shuffle stage — AQE skew split
    * stays armed (the [[textBigramLm]] rule).
    */
  def textUnigramDrift(spark: SparkSession, dir: String): DataFrame =
    textUnigramDriftOn(Tables.documents(spark, dir))

  /** [[textUnigramDrift]] over any (source, text) frame — the
    * synthetic-fixture seam.
    */
  def textUnigramDriftOn(documents: DataFrame): DataFrame = {
    val tok = documents.select(col("source"),
      explode(split(col("text"), " ")).as("term"))
    // one pass for all count tables; three consumers -> detach
    val cts = tok.groupBy("term", "source").agg(count(lit(1)).as("c_ts"))
      .localCheckpoint(eager = false)
    val ct = cts.groupBy("term").agg(sum("c_ts").as("c_t"))
      .localCheckpoint(eager = false) // feeds tot, mTotal and the grid join
    val ns = cts.groupBy("source")
      .agg(sum("c_ts").as("n_s"), count(lit(1)).as("vocab_s"))
    val tot = ct.agg(sum("c_t").as("n_total"),
      count(lit(1)).as("vocab_total"))
    val mTotal = ct.crossJoin(broadcast(tot))
      .select(expr("(c_t * 1000000000) div n_total").as("m_t"))
      .agg(sum("m_t").as("m_total"))
    val grid = cts.join(ct, "term")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_s"), col("vocab_s"), col("vocab_total"),
        expr("(c_ts * 1000000000) div n_s").as("m_ts"),
        expr("(c_t * 1000000000) div n_total").as("m_t"))
    grid.groupBy("source")
      .agg(first("n_s").as("n_tokens"),
        first("vocab_s").as("vocab_size"),
        expr("(first(vocab_s) * 10000) div first(vocab_total)").as("vocab_frac_e4"),
        sum(expr("abs(m_ts - m_t)")).as("_l1_present"),
        sum("m_t").as("_cov_m"))
      .crossJoin(broadcast(mTotal))
      .select(col("source"), col("n_tokens"), col("vocab_size"),
        col("vocab_frac_e4"),
        (col("_l1_present") + (col("m_total") - col("_cov_m"))).as("l1_x1e9"))
  }
}
