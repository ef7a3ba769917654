package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end cleaning-pipeline composition — the three passes every
  * training-data build chains, in ONE declarative plan so Catalyst
  * sees (and prunes/pushes through) the whole thing:
  *
  *   quality gate ([[TextAnalysis.docsQualityFilter]] keep verdict)
  *     → exact dedup (md5 content groups, min-doc_id survivor —
  *       first-wins, the reference's prime contract)
  *     → sequence packing ([[Sampling.docsPack]] running-sum cut).
  *
  * The value of composing operators as DataFrames instead of
  * materializing between passes: the dedup window only shuffles docs
  * that SURVIVED the gate, and packing only scans dedup survivors —
  * each stage's selectivity multiplies down the data the next stage
  * moves, with no intermediate storage round-trip. All decision
  * arithmetic is the underlying operators' (integer cross-multiplied
  * flags, exact hash groups, integer running sums), so the whole
  * pipeline stays engine-replayable end to end.
  */
object Pipeline {

  def docsPipeline(spark: SparkSession, dir: String, budget: Int = 256): DataFrame = {
    val keep = TextAnalysis.docsQualityFilter(spark, dir)
      .filter(col("keep")).select("doc_id")
    val kept = Tables.documents(spark, dir)
      .join(keep, "doc_id")
      .select(col("doc_id"), col("lang"), md5(col("text")).as("content_hash"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val dw = Window.partitionBy("content_hash").orderBy("doc_id")
    val survivors = kept
      .withColumn("rn", row_number().over(dw))
      .filter(col("rn") === 1)
    val pw = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivors
      .withColumn("cum_tok", sum("n_tok").over(pw))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        expr(s"(cum_tok - n_tok) div $budget").as("pack_id"),
        pmod(col("cum_tok") - col("n_tok"), lit(budget.toLong)).as("pack_offset"))
  }

  /** The C4 composition ON ACTUAL CLEANED TEXT — [[docsPipeline]]
    * with the line-strip ACTION inserted between gate and dedup
    * (C4 §4.1 executes exactly this order):
    *
    *   quality gate → STRIP (drop corpus-duplicated lines, re-join
    *   the survivors per doc) → exact dedup ON THE CLEANED TEXT →
    *   sequence packing on CLEANED token counts.
    *
    * Stripping before dedup is what makes the stage order matter:
    * two mirrors that differ only in their (stripped) boilerplate
    * now hash identically and collapse, which the raw-text pipeline
    * provably misses. Line occurrence counts are computed over the
    * GATED working set (each stage's selectivity shrinks what the
    * next stage shuffles — the pipeline's composition principle);
    * docs whose every line is boilerplate vanish entirely, exactly
    * like a cleaning run dropping an all-template page. Still ONE
    * plan: gate semi-join → line explode/count/join-back →
    * per-doc reconstruction → dedup window on the cleaned hash →
    * per-lang packing window. The emitted clean_chars pins the
    * reconstruction content through the oracle replay.
    */
  def docsPipelineStrip(spark: SparkSession, dir: String, budget: Int = 256,
                        lineTokens: Int = 10, maxOcc: Int = 2): DataFrame = {
    // round-14: `gated` has two consumers (the strip input and the
    // lang join-back), so the whole quality-gate lineage doubled in
    // the physical plan. The checkpointed frame is the doc_id KEEP
    // SET only — the gated text frame itself stays unmaterialized
    // (each consumer re-reads the columnar scan; the mmDetectorVenn
    // wide-frame rule), but the gate now runs once. Under AQE the
    // gate's shuffle stages run at this call, not at the first action.
    val keep = TextAnalysis.docsQualityFilter(spark, dir)
      .filter(col("keep")).select("doc_id")
      .localCheckpoint(eager = false)
    val gated = Tables.documents(spark, dir)
      .join(keep, "doc_id")
      .select(col("doc_id"), col("lang"), col("text"))
    val cleaned = TextAnalysis.docsLineStripTextFullOn(
        gated.select("doc_id", "text"), lineTokens, maxOcc)
      .join(gated.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"),
        md5(col("clean_text")).as("content_hash"),
        length(col("clean_text")).cast("long").as("clean_chars"),
        size(split(col("clean_text"), " ")).cast("long").as("n_tok"))
    val dw = Window.partitionBy("content_hash").orderBy("doc_id")
    val survivors = cleaned
      .withColumn("rn", row_number().over(dw))
      .filter(col("rn") === 1)
    val pw = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivors
      .withColumn("cum_tok", sum("n_tok").over(pw))
      .select(col("doc_id"), col("lang"), col("clean_chars"), col("n_tok"),
        expr(s"(cum_tok - n_tok) div $budget").as("pack_id"),
        pmod(col("cum_tok") - col("n_tok"), lit(budget.toLong)).as("pack_offset"))
  }

  /** Per-source YIELD report through the same gate + dedup chain —
    * the accounting artifact every pipeline run ships: docs/tokens
    * in, docs surviving the quality gate, docs/tokens surviving
    * dedup, and the exact ×10⁴ token-yield floor. A source whose
    * yield collapses is the first thing a corpus owner investigates
    * (crawler regression? boilerplate flood? mirror site?). All
    * counts exact; three map-combinable per-source aggregates joined
    * on the |sources|-key — nothing wider than the corpus scan
    * itself moves twice.
    */
  def docsYieldReport(spark: SparkSession, dir: String): DataFrame = {
    // round-14 (guide §2.4 — Catalyst plans self-referenced subtrees
    // as separate physical copies): the three NARROW intermediates
    // each had 2-3 consumers, so the corpus was tokenized three times
    // for `src`, the whole quality-gate lineage (boilerplate top-k
    // included) ran twice under `kept`, and the plan carried 26
    // parquet scans / 38 exchanges. localCheckpoint(eager = false)
    // pins one instance of each — (doc_id, source, n_tok), (doc_id),
    // and (doc_id, ch) rows only, never document text (the
    // mmDetectorVenn wide-frame rule). Under AQE `keep` and `kept`
    // run their children's shuffle stages (the quality gate, the
    // join) at this call; `src` has no exchange and stays lazy.
    val src = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .localCheckpoint(eager = false)
    val keep = TextAnalysis.docsQualityFilter(spark, dir)
      .filter(col("keep")).select("doc_id")
      .localCheckpoint(eager = false)
    val kept = Tables.documents(spark, dir)
      .join(keep, "doc_id")
      .select(col("doc_id"), md5(col("text")).as("ch"))
      .localCheckpoint(eager = false)
    val sv = kept
      .withColumn("rn", row_number().over(Window.partitionBy("ch").orderBy("doc_id")))
      .filter(col("rn") === 1).select("doc_id")
    val tin = src.groupBy("source")
      .agg(count(lit(1)).as("docs_in"), sum("n_tok").as("tokens_in"))
    val tk = kept.join(src, "doc_id").groupBy("source")
      .agg(count(lit(1)).as("docs_kept"))
    val tout = sv.join(src, "doc_id").groupBy("source")
      .agg(count(lit(1)).as("docs_out"), sum("n_tok").as("tokens_out"))
    tin.join(tk, Seq("source"), "left").join(tout, Seq("source"), "left")
      .select(col("source"), col("docs_in"), col("tokens_in"),
        coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        coalesce(col("docs_out"), lit(0L)).as("docs_out"),
        coalesce(col("tokens_out"), lit(0L)).as("tokens_out"),
        expr("(coalesce(tokens_out, 0) * 10000) div tokens_in").as("token_yield_x1e4"))
  }
}
