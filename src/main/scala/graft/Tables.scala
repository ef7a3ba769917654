package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each reader is a plain parquet scan: schema pruning and filter
  * pushdown happen in Catalyst from whatever the downstream query
  * selects — do NOT pre-select columns here, or cache, so every
  * operator composes with full pushdown at 100 TB scale.
  */
object Tables {
  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some data
    * drops (Spark's reader rejects it without the legacy long-nanos
    * conf) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) in others
    * (read as TIMESTAMP_NTZ). Normalize both to a session-local
    * microsecond TIMESTAMP: the sessions pin UTC, so the NTZ cast is
    * a pure reinterpretation and both shapes yield identical values.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** Exact row count of a parquet table from its file FOOTERS —
    * driver-only metadata, no Spark job (round-13). Model parameters
    * derived from a full-table count (clustersFor's auto-K) must be
    * EXACT to keep query results identical; parquet footers store
    * exact per-row-group counts, so this equals `count()` without
    * scheduling a scan job at plan-construction time. The footer
    * read is the same per-file metadata Spark's own scan planning
    * opens; at cluster scale it is one driver-side listing, not a
    * cluster pass over the data.
    */
  def parquetRowCount(spark: SparkSession, dir: String, name: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(conf)
    def files(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val st = fs.getFileStatus(p)
      val n = st.getPath.getName
      // hidden ('_'/'.') names are skipped for DIRECTORIES too (ADVICE
      // round-13): Spark's file index prunes hidden dirs at every
      // level, so a _temporary remnant under the table root must not
      // count — this value is a plan literal (IDF N, auto-K) and has
      // to equal count() exactly. The root itself (documents.parquet)
      // is exempt: only children can be metadata remnants.
      if ((n.startsWith("_") || n.startsWith(".")) && p != root) Seq.empty
      else if (st.isDirectory) fs.listStatus(p).toSeq.flatMap(s => files(s.getPath))
      else Seq(st.getPath)
    }
    files(root).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }
}
