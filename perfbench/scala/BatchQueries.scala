package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** One cold pass over a fixed set of `SparkEntry.queries` after a
  * global warm-up (table scans plus one query outside the set), as in
  * `graft.Bench`. Each output's fingerprint is observed during its
  * execution and compared with the value recorded from the seed code.
  */
final class BatchQueries(spark: SparkSession, benchDir: String, tracer: Tracer,
                         res: Main.Result, workDir: String, record: Boolean) {
  import BatchQueries._

  private val dataDir = s"$benchDir/data/sf0.1"
  private val fingerprintFile = s"$benchDir/expected/fingerprints.txt"

  private val tasks = new TaskMeter
  private val phases = new PhaseMeter
  if (tracer.enabled) {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(phases)
  }

  private val roots = scala.collection.mutable.HashMap.empty[String, Int]

  def run(): Unit = {
    // presentation sorts read materialized blocks, as in Bench
    spark.conf.set("graft.present.detach", "true")
    val readers: Seq[(SparkSession, String) => DataFrame] =
      Seq(Tables.events, Tables.documents, Tables.embeddings)
    readers.foreach(_(spark, dataDir).write.format("noop").mode("overwrite").save())
    SparkEntry.queries(WarmQuery)(spark, dataDir).write.format("noop").mode("overwrite").save()
    val winStart = Tracer.nowMs()
    res.metrics("setup_s") = (winStart - Main.processStartMs) / 1e3

    val expected = Fingerprints.load(fingerprintFile)
    val runs = groups(all = record).flatMap { case (group, names) =>
      names.map { name =>
        System.gc() // bounds shuffle-file garbage, outside the timed region
        val cpu0 = Main.cpuMs()
        val t0 = Tracer.nowMs()
        val root = tracer.add(-1, name, "query", t0, t0)
        val fp = new Observation(name)
        var df: DataFrame = null
        val build = try {
          val buildMs = tracer.timed(root, name, "SparkEntry.build") {
            df = SparkEntry.queries(name)(spark, dataDir)
          }
          tracer.timed(root, name, "execute")(fingerprinted(df, fp).write.format("noop").mode("overwrite").save())
          Some(buildMs)
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          None
        }
        val t1 = Tracer.nowMs()
        val cpu = Main.cpuMs() - cpu0
        tracer.close(root, t1)
        roots(name) = root
        val got = if (build.isEmpty) "failed" else {
          val m = fp.get
          s"${m("n")}:${Option(m("h")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString).getOrElse("0")}"
        }
        System.err.println(f"[perfbench] $name ${(t1 - t0) / 1e3}%.3f s $got")
        Run(name, group, t0, build, t1, got, cpu)
      }
    }
    val walls = runs.map(_.wallS)
    res.metrics("ops_per_s") = runs.size / walls.sum
    res.metrics("cpu_ms_per_op") = runs.map(_.cpuMs).sum / runs.size
    res.metrics("latency_ms_p50") = Main.p50(walls) * 1e3
    res.metrics("latency_ms_p90") = Main.quantile(walls, 0.9) * 1e3
    res.info("query_s_total") = f"${walls.sum}%.3f"
    res.info("query_s") = runs.map(r => f"${r.name}=${r.wallS}%.3f").mkString(",")
    res.layers("jvm.heap_mb") = Main.heapMb()
    res.metrics("heap_mb") = res.layers("jvm.heap_mb")

    res.attempted = runs.size
    val wrong = runs.filter(r => !expected.get(r.name).contains(r.fingerprint))
    res.failed = wrong.size
    wrong.foreach { r =>
      System.err.println(s"[perfbench] ${r.name}: fingerprint ${r.fingerprint}, expected ${expected.getOrElse(r.name, "none")}")
    }
    if (record) {
      Fingerprints.save(s"$workDir/fingerprints.txt", runs.map(r => r.name -> r.fingerprint))
      val out = s"$workDir/outputs"
      runs.map(_.name).foreach(n => SparkEntry.queries(n)(spark, dataDir).write.mode("overwrite").parquet(s"$out/$n"))
      val sql = runs.map(_.name).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
      Main.write(s"$out/oracle_sql.json", sql.map { case (n, q) =>
        "\"" + n + "\":\"" + q.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"; case c => c.toString
        } + "\""
      }.mkString("{", ",", "}"))
    }
    if (tracer.enabled) layers(runs)
  }

  /** `df` observed for its fingerprint: the row count plus an
    * order-independent hash of the rows, columns taken in name order.
    * Floating values are rounded so summation order cannot change it.
    * The observation rides on the timed execution; its per-row hash is
    * small next to the query.
    */
  private def fingerprinted(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    df.observe(obs, count(lit(1)).as("n"), sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h"))
  }

  private def layers(runs: Seq[Run]): Unit = {
    // wait for the asynchronous listener bus to drain
    var last = -1L
    while ({ val n = tasks.eventCount + phases.eventCount; val changed = n != last; last = n; changed })
      Thread.sleep(200)
    // jobs and planning phases hang under the build or execute span
    // that encloses them (ms timestamps, hence the 1 ms slack)
    val spans = tracer.all
    runs.foreach { case Run(name, _, t0, _, t1, _, _) =>
      val root = roots(name)
      val kids = spans.filter(_.parent == root)
      def parentOf(a: Double, b: Double): Int =
        kids.find(k => a >= k.startMs - 1 && b <= k.endMs + 1).map(_.id).getOrElse(root)
      tasks.jobs.filter { case (a, b) => a >= t0 - 1 && b <= t1 + 1 }.foreach { case (a, b) =>
        tracer.add(parentOf(a, b), name, "job", a.toDouble, b.toDouble)
      }
      phases.phases.filter { case (_, a, b) => a >= t0 - 1 && b <= t1 + 1 }.foreach { case (p, a, b) =>
        tracer.add(parentOf(a, b), name, s"driver.$p", a.toDouble, b.toDouble)
      }
    }
    for ((group, sel) <- Seq("reference" -> Set("reference"), "neardup" -> Set("neardup"),
                             "total" -> Set("reference", "neardup"))) {
      val rs = runs.filter(r => sel.contains(r.group))
      val sums = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      def addAll(prefix: Map[String, String], m: Map[String, Double]): Unit =
        m.foreach { case (k, v) => prefix.get(k).foreach(p => sums(s"$p.$k") = sums.getOrElse(s"$p.$k", 0.0) + v) }
      var wall, covered = 0.0
      rs.foreach { case Run(_, _, t0, build, t1, _, _) =>
        sums("SparkEntry.build_ms") = sums.getOrElse("SparkEntry.build_ms", 0.0) + build.getOrElse(0.0)
        addAll(PhaseLayer, phases.window(t0.toLong, t1.toLong + 1))
        addAll(TaskLayer, tasks.window(t0.toLong, t1.toLong + 1))
        wall += t1 - t0
        covered += tasks.jobCoverMs(t0.toLong, t1.toLong + 1)
      }
      sums("driver.gap_share") = if (wall > 0) 1 - covered / wall else 0.0
      sums.foreach { case (k, v) => res.layers(if (group == "total") k else s"$k.$group") = v }
    }
  }
}

object BatchQueries {
  /** One timed query: wall interval in ms, build time if it succeeded. */
  final case class Run(name: String, group: String, t0: Double, buildMs: Option[Double], t1: Double,
                       fingerprint: String, cpuMs: Double) {
    def wallS: Double = (t1 - t0) / 1e3
  }

  val Reference: Seq[String] = Seq("dedup_first", "dedup_passthrough", "dedup_stats",
    "dedup_ttl_bucket", "dedup_ttl_chain", "dedup_multi_topic", "parse_props_json",
    "parse_topic", "q_sessionize", "q_rolling_dau", "q_anomaly", "q_compact_latest")
  val NearDup: Seq[String] = Seq("docs_minhash_lsh", "docs_minhash_est", "docs_dedup_groups",
    "docs_simhash_groups", "docs_neardup_incremental", "docs_dup_spans", "docs_detector_venn",
    "text_bpe_apply", "emb_dedup_groups", "ann_graph_search")
  /** The near-dup queries of the timed pass: the driver-bound manifest
    * loop and the TextExprs kernels. Each near-dup query takes ~5 s on
    * 4 cores, so the whole group would not fit the run budget; record
    * mode still covers all of them.
    */
  val NearDupTimed: Seq[String] = Seq("docs_neardup_incremental", "text_bpe_apply")
  def groups(all: Boolean): Seq[(String, Seq[String])] =
    Seq("reference" -> Reference, "neardup" -> (if (all) NearDup else NearDupTimed))
  /** Warm-up query outside the measured set (reads `events`). */
  val WarmQuery = "q_topk"

  private val PhaseLayer = Map("analysis_ms" -> "driver", "optimization_ms" -> "driver",
    "planning_ms" -> "driver", "exchanges" -> "driver")
  private val TaskLayer = Map("jobs" -> "driver", "stages" -> "driver", "tasks" -> "operators",
    "task_s" -> "operators", "task_cpu_s" -> "operators", "gc_s" -> "operators",
    "shuffle_write_mb" -> "operators", "shuffle_read_mb" -> "operators",
    "spill_mb" -> "operators", "input_mb" -> "operators")
}

/** The recorded fingerprints: one `name fingerprint` line per query. */
object Fingerprints {
  def load(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(n, fp) = l.split("\\s+", 2); n -> fp }.toMap
      finally src.close()
    }
  }

  def save(path: String, fps: Seq[(String, String)]): Unit =
    Main.write(path, fps.map { case (n, fp) => s"$n $fp" }.mkString("\n"))
}
