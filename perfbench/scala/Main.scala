package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Benchmark entry point, one workload per JVM.
  *
  * Arguments: `<workload> <seed> <seconds> <trace 0|1> <work dir>
  * <benchmark dir> [record]`. The run writes `<work dir>/result.json`, a
  * single JSON object with the end-to-end metrics, the per-layer
  * metrics (trace runs), the operation counts and the validity
  * checks; trace runs also write `<work dir>/spans.json`.
  */
object Main {
  /** Process start, the origin of `setup_s`. */
  val processStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    val invalid = mutable.ArrayBuffer.empty[String]
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, benchDir) = args.take(6)
    val record = args.drop(6).headOption.contains("record")
    val cpus = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(traceS == "1")
    val spark = session(cpus, workDir)
    val res = new Result
    try workload match {
      case "hfp_live" => new HfpStream(spark, cpus, seedS.toLong, secondsS.toInt, tracer, res, workDir).live()
      case "hfp_backlog" => new HfpStream(spark, cpus, seedS.toLong, secondsS.toInt, tracer, res, workDir).backlog()
      case "batch_queries" => new BatchQueries(spark, benchDir, tracer, res, workDir, record).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    write(s"$workDir/result.json", json(res))
    if (tracer.enabled) write(s"$workDir/spans.json", tracer.json)
  }

  def session(cpus: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.cleaner.periodicGC.interval", "2min")
      // keep Spark's own job and query history short, so heap_mb
      // measures graft's state rather than run-length bookkeeping
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      // the execution knob Bench sets for typed aggregates (CLAUDE.md)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** JVM heap in use after a full GC, in MB: the least of three
    * samples, so a background task's transient copy does not count.
    */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this JVM has used, all threads, in ms. */
  def cpuMs(): Double = osBean.getProcessCpuTime / 1e6

  /** The `q`-quantile (nearest rank) of `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def write(path: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (text + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def obj(m: collection.Map[String, String]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def json(r: Result): String = obj(mutable.LinkedHashMap(
    "attempted" -> r.attempted.toString,
    "failed" -> r.failed.toString,
    "invalid" -> r.invalid.map(str).mkString("[", ",", "]"),
    "metrics" -> obj(r.metrics.map { case (k, v) => k -> num(v) }),
    "layers" -> obj(r.layers.map { case (k, v) => k -> num(v) }),
    "info" -> obj(r.info.map { case (k, v) => k -> str(v) })))
}
