package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CSV/TSV document source — the other interchange format corpora
  * actually arrive in (metadata dumps, crawl indexes, labeling
  * exports), on the [[DocumentSource]] contract.
  *
  * CSV-specific scale notes baked in: `multiLine` stays OFF (a
  * multi-line CSV file cannot split across executors — one file
  * becomes one task; quoted newlines belong in JSONL, not CSV at
  * scale), and the header row is declared, not sniffed.
  */
object CsvSource extends DocumentSource {

  private def options(sep: String): Map[String, String] =
    permissive ++ Map("header" -> "true", "sep" -> sep)

  /** Batch read: a row that fails to parse against the schema lands
    * in [[CorruptCol]].
    */
  def read(spark: SparkSession, path: String, sep: String = ","): DataFrame =
    spark.read.schema(schema).options(options(sep)).csv(path)

  /** Streaming read over a drop folder (file-arrival stream). */
  def readStream(spark: SparkSession, path: String, sep: String = ","): DataFrame =
    spark.readStream.schema(schema).options(options(sep)).csv(path)

  /** Write a contract-shaped frame as headered CSV shards. */
  def write(df: DataFrame, path: String, sep: String = ",", shards: Int = 0): Unit = {
    val out = if (shards > 0) df.repartition(shards) else df
    out.write.mode("overwrite").option("header", "true").option("sep", sep).csv(path)
  }
}
