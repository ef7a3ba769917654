package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.TextAnalysis

/** Streaming corpus CLEANING — the quality/PII gate family applied
  * on arrival instead of in a batch sweep. Every constituent signal
  * (token counts, rule predicates, regex counters) is a stateless
  * per-row projection, so these transforms apply to a streaming
  * (doc_id, text) frame unchanged and the output is equal to the
  * batch operator's row-for-row REGARDLESS of micro-batch splits —
  * there is no state to drift, no watermark to tune. That is the
  * Spark-first rendering of a streaming ingest gate: declare the
  * same plan over `readStream`, let the micro-batch engine schedule
  * it (StreamingSpec pins stream ≡ batch across splits).
  *
  * Ordering note: downstream dedup (the stateful stage) composes
  * AFTER this gate — gating first shrinks the stateful stage's
  * input, the same reason batch pipelines run quality before dedup
  * (operators.Pipeline).
  */
object CleanStream {

  /** [[TextAnalysis.docsGopherRulesOn]] over a streaming frame (the
    * gate itself: per-rule evidence columns plus the conjunctive
    * `pass` flag, per arriving document) reduced to the keep decision
    * — the shape an ingest pipeline chains into a streaming dedup
    * stage.
    */
  def gopherKeep(docs: DataFrame,
                 minWords: Int = 25, maxWords: Int = 80): DataFrame =
    TextAnalysis.docsGopherRulesOn(docs, minWords, maxWords)
      .filter(org.apache.spark.sql.functions.col("pass"))
      .select("doc_id", "n_words")

  /** The full streaming INGEST PIPELINE: quality gate, then exact
    * content dedup — the composition `operators.Pipeline` runs in
    * batch, lifted to arrival order. The gate is stateless
    * (stream ≡ batch above); the dedup stage is the stateful
    * `dropDuplicates` on the content hash. Its first-arrival-wins
    * semantics equal the batch min-doc_id keeper ONLY under the
    * strict ingest contract: arrival order follows doc_id ACROSS
    * micro-batches, and rows sharing a content hash never race
    * within one micro-batch across multiple input partitions —
    * within a batch, streaming `dropDuplicates` keeps an arbitrary
    * first row per shuffle partition, so a multi-partition source
    * delivering equal-hash rows in the same batch may keep a
    * non-minimal doc_id (the StreamingSpec equality case holds
    * because MemoryStream feeds a single input partition).
    * Deployments that cannot guarantee the contract should treat
    * the kept representative as arbitrary-but-stable, exactly like
    * the reference's cache (whichever consumer thread hits the
    * cache first wins). Gate-before-dedup shrinks the stateful
    * stage's input and therefore its state store — the same
    * ordering argument as the batch pipeline's.
    *
    * State note: unbounded key space ⇒ production pairs this with a
    * watermark TTL ([[DedupStream.dedupWithinWatermark]]) or the
    * bounded cache ([[DedupStream.dedupBounded]]); this composition
    * keeps the pure first-wins contract for parity with batch.
    */
  def ingestPipeline(docs: DataFrame,
                     minWords: Int = 25, maxWords: Int = 80): DataFrame = {
    import org.apache.spark.sql.functions.{col, md5}
    val withHash = docs.select(col("doc_id"), col("text"),
      md5(col("text").cast("binary")).as("content_hash"))
    TextAnalysis.docsGopherRulesOn(withHash, minWords, maxWords,
      keep = Seq("content_hash"))
      .filter(col("pass"))
      .select(col("doc_id"), col("n_words"), col("content_hash"))
      .dropDuplicates("content_hash")
  }
}
