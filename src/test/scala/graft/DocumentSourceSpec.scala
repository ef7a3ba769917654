package graft

import graft.operators.TextAnalysis
import graft.sources.{CsvSource, DocumentSource, JsonlSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One row of the document-source table: a format's reader and writer
  * plus its on-disk rendering of the same good and corrupt records.
  */
case class DocFormat(
    name: String,
    source: DocumentSource,
    read: (SparkSession, String) => DataFrame,
    readStream: (SparkSession, String) => DataFrame,
    write: (DataFrame, String, Int) => Unit,
    shardSuffix: String,
    header: Seq[String],
    goodRecords: Seq[String],
    corruptWhat: String,
    corruptRecords: Seq[String])

object DocFormat {
  val csv: DocFormat = DocFormat("csv", CsvSource,
    CsvSource.read(_, _), CsvSource.readStream(_, _),
    (df, out, shards) => CsvSource.write(df, out, shards = shards), ".csv",
    header = Seq("doc_id,text,lang,source,n_chars"),
    goodRecords = Seq(
      """1,hello world,en,web,11""",
      """2,bonjour,fr,web,7""",
      """3,third,en,book,5"""),
    corruptWhat = "schema violations", // a non-numeric id
    corruptRecords = Seq("""not_a_number,oops,en,web,4"""))

  val jsonl: DocFormat = DocFormat("jsonl", JsonlSource,
    JsonlSource.read, JsonlSource.readStream, JsonlSource.write, ".json",
    header = Nil,
    goodRecords = Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web", "n_chars": 11}""",
      """{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "web", "n_chars": 7}""",
      """{"doc_id": 3, "text": "third", "lang": "en", "source": "book", "n_chars": 5}"""),
    corruptWhat = "corrupt lines",
    corruptRecords = Seq(
      """{"doc_id": 4, "text": "unterminated""",
      """not json at all"""))
}

/** The `documents`-contract sources: every assertion below runs once
  * per format, one concrete suite per row of [[DocFormat]].
  */
abstract class DocumentSourceSpec(f: DocFormat) extends SparkSpec {

  private def withTempDir[T](body: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(s"${f.name}_src")
    try body(dir.toFile) finally TestSpark.deleteRecursively(dir)
  }

  private def drop(dir: java.io.File, records: Seq[String]): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir.getAbsolutePath, s"part0.${f.name}"),
      (f.header ++ records).mkString("\n").getBytes("UTF-8"))

  test(s"${f.name} read splits clean rows from quarantined ${f.corruptWhat}") {
    withTempDir { dir =>
      drop(dir, scala.util.Random.shuffle(f.goodRecords ++ f.corruptRecords))
      val raw = f.read(spark, dir.getAbsolutePath)
      val clean = f.source.clean(raw).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .sortBy(_._1)
      assert(clean === Array(
        (1L, "hello world", "en", "web", 11L),
        (2L, "bonjour", "fr", "web", 7L),
        (3L, "third", "en", "book", 5L)))
      // every corrupt input record lands in quarantine verbatim
      val bad = f.source.withCorrupt(raw)(_.collect()).map(_.getString(0)).sorted
      assert(bad === f.corruptRecords.sorted.toArray.toSeq)
    }
  }

  test(s"${f.name} write/read roundtrips the documents contract table") {
    withTempDir { dir =>
      val docs = Tables.documents(spark, sf)
      val out = dir.getAbsolutePath + "/docs"
      f.write(docs, out, 4)
      val back = f.source.clean(f.read(spark, out))
      assert(back.count() === docs.count())
      // content identical row-for-row (join on doc_id, all columns equal)
      val mismatched = back.as("b").join(docs.as("d"), "doc_id")
        .filter(col("b.text") =!= col("d.text") || col("b.lang") =!= col("d.lang") ||
          col("b.source") =!= col("d.source") || col("b.n_chars") =!= col("d.n_chars"))
        .count()
      assert(mismatched === 0L)
      // quotes/escapes must round-trip multilingual text intact
      val a = docs.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      val b = back.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      assert(a === b)
      assert(new java.io.File(out).listFiles().count(_.getName.endsWith(f.shardSuffix)) === 4)
    }
  }

  test(s"${f.name} streaming ingest feeds the cleaning gate") {
    withTempDir { dir =>
      drop(dir, f.goodRecords ++ f.corruptRecords)
      val stream = f.source.clean(f.readStream(spark, dir.getAbsolutePath))
        .select("doc_id", "text")
      val gated = TextAnalysis.docsGopherRulesOn(stream)
      val q = gated.writeStream.format("memory").queryName(s"${f.name}_gate")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table(s"${f.name}_gate").collect()
        assert(got.map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(1L, 2L, 3L))
        // short planted docs fail the word-count rule, proving the
        // gate actually evaluated (not just passed rows through)
        assert(got.forall(!_.getAs[Boolean]("pass")))
      } finally q.stop()
    }
  }
}

class CsvSourceSpec extends DocumentSourceSpec(DocFormat.csv)

class JsonlSourceSpec extends DocumentSourceSpec(DocFormat.jsonl)
