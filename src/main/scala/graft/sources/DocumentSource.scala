package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `documents` contract shared by the corpus sources
  * ([[JsonlSource]], [[CsvSource]]), so the whole dedup/quality/
  * packing surface runs unchanged on either ingest. Every reader
  * takes an EXPLICIT schema (never inference: at 100 TB that is a
  * full extra pass before the real one) and parses PERMISSIVE with
  * corrupt-record capture, so one mangled record quarantines instead
  * of failing a 1000-executor job. Only the format options and the
  * writers differ between the sources.
  */
trait DocumentSource {

  final val CorruptCol = "_corrupt"

  /** documents-contract schema + the corrupt-record capture column. */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField(CorruptCol, StringType)))

  /** Reader options of the corrupt capture: well-formed records carry
    * null [[CorruptCol]]; a record that fails to parse against the
    * schema carries its raw text there, with null data columns.
    */
  protected val permissive: Map[String, String] =
    Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)

  /** The clean rows, contract-shaped (corrupt column dropped). */
  def clean(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNull && col("doc_id").isNotNull)
      .drop(CorruptCol)

  /** The quarantine rows: raw corrupt records for repair/audit, from a
    * PRE-PERSISTED parse. Spark refuses to answer a query that
    * references ONLY the corrupt column of a raw scan
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN — it would have to re-parse
    * pruned rows), so the caller must hold `df` cached while this
    * result is consumed; [[withCorrupt]] brackets that lifecycle so
    * nothing stays pinned in executor memory afterwards.
    */
  def corrupt(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNotNull).select(col(CorruptCol).as("raw_line"))

  /** Cache-owning bracket over [[corrupt]]: persist the parse, run
    * `use` on the quarantine rows, always unpersist. The only path
    * that caches on the caller's behalf — and it cannot leak.
    */
  def withCorrupt[A](df: DataFrame)(use: DataFrame => A): A = {
    df.cache()
    try use(corrupt(df)) finally df.unpersist()
  }
}
