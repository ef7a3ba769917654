package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is built: `local[cores]`,
  * shuffle partitions = cores, UTC session time zone, UI off, WARN
  * logging. Callers pass only the confs that differ; a pair in
  * `extraConf` overrides the default of the same key.
  */
object Session {
  def local(cores: Int, extraConf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
