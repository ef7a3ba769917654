package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JSONL document source — the interchange format LLM data pipelines
  * actually ship (one JSON object per line: Common Crawl derivatives,
  * RedPajama/Dolma-style corpora), on the [[DocumentSource]] contract.
  *
  * Scale notes: line-delimited JSON splits at newlines, so files
  * parallelize across executors without coordination (multiline JSON
  * does NOT — one file = one task); compressed inputs should be
  * zstd/bzip2 (splittable-friendly blocks) or many-file gzip, never
  * one giant .gz.
  */
object JsonlSource extends DocumentSource {

  /** Batch read: a corrupt line lands in [[CorruptCol]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).options(permissive).json(path)

  /** Streaming read over a directory (file-arrival stream) — the
    * JSONL drop-folder ingest; same schema and corrupt capture.
    */
  def readStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(schema).options(permissive).json(path)

  /** Write a contract-shaped frame as JSONL shards. */
  def write(df: DataFrame, path: String, shards: Int = 0): Unit = {
    val out = if (shards > 0) df.repartition(shards) else df
    out.write.mode("overwrite").json(path)
  }
}
