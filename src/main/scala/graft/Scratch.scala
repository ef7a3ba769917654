package graft

/** Dev scratchpad main — also the driver-contract smoke check:
  * prints ENTRY-ROWS=<n> for SparkEntry.entry.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY-ROWS=$n")
    spark.stop()
  }
}
