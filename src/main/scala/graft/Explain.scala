package graft

/** Plan inspection main: `runMain graft.Explain [query ...]` prints
  * explain("formatted") per query so pushdown (PushedFilters),
  * pruning (ReadSchema), broadcast joins, and WholeStageCodegen spans
  * can be audited against the scale posture in SURVEY.md §5.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
