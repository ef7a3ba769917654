package perfbench

import graft.sources.HfpSource
import graft.streaming.DedupStream
import graft.streaming.DedupStream.Ev
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import scala.collection.mutable.ArrayBuffer

/** The two HFP dedup stream workloads over one pipeline:
  * two redundant topic streams → `DedupStream.mergeTopics` →
  * `HfpSource.parseLines` → `HfpSource.contentHash128` →
  * `DedupStream.dedupTtlChain` (4 h TTL) → a sink that forwards the
  * primes' ids to the oracle.
  *
  * Both workloads first drain more than one TTL of event time in
  * large triggers, so the state store is at its steady size (each
  * trigger evicts about as many anchors as it inserts) and the JIT
  * is warm before the measured window opens.
  */
final class HfpStream(spark: SparkSession, cpus: Int, seed: Long, seconds: Int,
                      tracer: Tracer, res: Main.Result, workDir: String) {
  import HfpStream._
  import Main.{p50, quantile}
  import spark.implicits._

  private val gen = new HfpGen(seed, Vehicles)
  private val feedA = MemoryStream[String](spark, math.max(1, cpus / 2))(Encoders.STRING)
  private val feedB = MemoryStream[String](spark, math.max(1, cpus - cpus / 2))(Encoders.STRING)
  private val tasks = new TaskMeter
  // per feed: (end offset after the add, sequence numbers of its lines)
  private val chunksA, chunksB = ArrayBuffer.empty[(Long, Array[Long])]
  private val sinkSpans = ArrayBuffer.empty[(Long, Double, Double)]
  @volatile private var sinkFailure: Option[Throwable] = None
  private var query: StreamingQuery = _

  // keep every trigger's progress: the oracle and the latencies read them all
  spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
  if (tracer.enabled) spark.sparkContext.addSparkListener(tasks)

  /** Parsed feed lines keyed by their canonical content hash. */
  private def keyed(lines: DataFrame): Dataset[Ev] =
    HfpSource.parseLines(lines).select(
      unix_millis(col("recv_ts")).as("event_id"), col("recv_ts").as("ts"),
      lit(0L).as("user_id"), lit("vp").as("event_type"), lit(0.0).as("value"),
      hex(HfpSource.contentHash128).as("props")).as[Ev]

  private def start(): StreamingQuery = {
    log("stream start")
    val lines = DedupStream.mergeTopics(Seq(feedA.toDF().toDF("line"), feedB.toDF().toDF("line")))
    val primes = DedupStream.dedupTtlChain(keyed(lines), TtlMs).select(col("event_id")).as[Long]
    val sink: (Dataset[Long], Long) => Unit = (ds, batchId) => {
      val t0 = Tracer.nowMs()
      try gen.observePrimes(ds.collect())
      catch { case e: Throwable => sinkFailure = Some(e); throw e }
      if (tracer.enabled) sinkSpans.synchronized(sinkSpans += ((batchId, t0, Tracer.nowMs())))
    }
    query = primes.writeStream.foreachBatch(sink)
      .option("checkpointLocation", s"$workDir/checkpoint").start()
    query
  }

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(Tracer.nowMs() - Main.processStartMs) / 1e3}%.1f s: $msg")

  private def offset(o: AnyRef): Long = o.toString.toLong

  /** Adds a chunk to both feeds and logs it for the oracle. */
  private def add(c: Chunk): Unit = chunksA.synchronized {
    chunksA += ((offset(feedA.addData(c.a.toSeq)), c.aSeq))
    chunksB += ((offset(feedB.addData(c.b.toSeq)), c.bSeq))
  }

  /** Drains more than one TTL (plus the watermark delay) of event
    * time: a small first trigger takes the JIT and codegen warm-up,
    * backlog-sized ones fill the state store.
    */
  private def prefill(q: StreamingQuery): Unit = {
    var n = PrefillWarmLines
    while (gen.generated < PrefillLines) {
      add(gen.next(n))
      q.processAllAvailable()
      n = math.min(BacklogTrigger.toLong, PrefillLines - gen.generated).toInt
    }
    log(s"prefilled ${gen.generated} lines")
  }

  private def progresses: Seq[StreamingQueryProgress] = query.recentProgress.toSeq.sortBy(_.batchId)

  /** Every trigger with the sequence numbers of the lines it consumed,
    * from each feed's end offset in the trigger's progress.
    */
  private def triggerLines(ps: Seq[StreamingQueryProgress]): Seq[(StreamingQueryProgress, Array[Long])] = {
    val descA = feedA.toString
    val descB = feedB.toString
    val next = Array(0, 0)
    ps.map { p =>
      val seqs = Seq(descA -> chunksA, descB -> chunksB).zipWithIndex.flatMap { case ((desc, chunks), f) =>
        val src = p.sources.find(_.description == desc)
          .getOrElse(throw new IllegalStateException(s"no progress for source $desc"))
        val upTo = Option(src.endOffset).map(_.toLong).getOrElse(-1L)
        val out = ArrayBuffer.empty[Long]
        while (next(f) < chunks.size && chunks(next(f))._1 <= upTo) {
          out ++= chunks(next(f))._2
          next(f) += 1
        }
        out
      }
      (p, seqs.toArray)
    }
  }

  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def endMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")

  private def stateRowsAt(t: Double): Double =
    progresses.filter(endMs(_) <= t).lastOption
      .flatMap(_.stateOperators.headOption).map(_.numRowsTotal.toDouble).getOrElse(0.0)

  /** Stops the stream after it has consumed everything, then scores
    * the sink's primes against the generator's oracle. Heap is
    * measured before this, at the end of the window, while the state
    * store is loaded.
    */
  private def finish(q: StreamingQuery, attemptedTriggers: Long): Unit = {
    q.processAllAvailable()
    q.stop()
    val (expected, missing, extra) = gen.verdict(triggerLines(progresses).iterator.map(_._2))
    val failedTriggers = if (sinkFailure.isDefined || q.exception.isDefined) 1 else 0
    res.attempted = expected + attemptedTriggers
    res.failed = missing + extra + failedTriggers
    res.info("primes_expected") = expected.toString
    res.info("primes_missing") = missing.toString
    res.info("primes_extra") = extra.toString
    res.info("lines") = gen.generated.toString
  }

  def backlog(): Unit = {
    val q = start()
    prefill(q)
    val winStart = Tracer.nowMs()
    res.metrics("setup_s") = (winStart - Main.processStartMs) / 1e3
    val walls = ArrayBuffer.empty[(Double, Double)]
    var lines = 0L
    var cpu = 0.0
    while (Tracer.nowMs() - winStart < seconds * 1000.0 || walls.size < MinBacklogTriggers) {
      val c = gen.next(BacklogTrigger) // generated before the clock starts
      val cpu0 = Main.cpuMs()
      val t0 = Tracer.nowMs()
      add(c)
      q.processAllAvailable()
      walls += ((t0, Tracer.nowMs()))
      cpu += Main.cpuMs() - cpu0
      lines += c.size
    }
    val winEnd = Tracer.nowMs()
    res.layers("jvm.heap_mb") = Main.heapMb()
    res.metrics("heap_mb") = res.layers("jvm.heap_mb")
    val ms = walls.map { case (a, b) => b - a }.toSeq
    res.metrics("ops_per_s") = lines / (ms.sum / 1e3)
    res.metrics("cpu_ms_per_op") = cpu / lines
    res.metrics("latency_ms_p50") = p50(ms)
    res.metrics("latency_ms_p90") = quantile(ms, 0.9)
    res.info("triggers") = walls.size.toString
    res.info("lines_per_trigger") = BacklogTrigger.toString
    checkState(winStart, winEnd)
    if (tracer.enabled) {
      // outside = our add-data → processAllAvailable wall minus the
      // triggerExecution of the triggers that ran inside it
      val ps = progresses
      val outside = walls.map { case (a, b) =>
        (b - a) - ps.filter(p => startMs(p) >= a - 1 && endMs(p) <= b + 1).map(dur(_, "triggerExecution")).sum
      }.toSeq
      streamLayers(winStart, winEnd, outside, lateP99 = 0.0, triggers = walls.size)
      layerScans(BacklogTrigger, triggers = 4)
    }
    finish(q, walls.size)
  }

  def live(): Unit = {
    val q = start()
    prefill(q)
    val seq0 = gen.generated
    val late = ArrayBuffer.empty[Double]
    val tStart = Tracer.nowMs() + 20
    def sched(seq: Long): Double = tStart + (seq - seq0) * 1000.0 / Rate
    @volatile var stop = false
    val pacer = new Thread(() => {
      var sent = 0L
      while (!stop) {
        val now = Tracer.nowMs()
        val due = ((now - tStart) * Rate / 1000.0).toLong
        if (due > sent) {
          late += now - sched(seq0 + sent)
          add(gen.next((due - sent).toInt))
          sent = due
        }
        Thread.sleep(2)
      }
    }, "perfbench-pacer")
    pacer.setDaemon(true)
    pacer.start()
    val winStart = tStart + LiveWarmupS * 1000.0
    val winEnd = winStart + seconds * 1000.0
    def sleepUntil(t: Double): Unit =
      while (Tracer.nowMs() < t) Thread.sleep(math.max(1L, (t - Tracer.nowMs()).toLong))
    sleepUntil(winStart)
    val cpu0 = Main.cpuMs()
    sleepUntil(winEnd)
    val cpu = Main.cpuMs() - cpu0
    stop = true
    pacer.join()
    q.processAllAvailable()
    res.layers("jvm.heap_mb") = Main.heapMb()
    res.metrics("heap_mb") = res.layers("jvm.heap_mb")
    res.metrics("setup_s") = (winStart - Main.processStartMs) / 1e3

    // per-line latency: end of the consuming trigger minus the line's
    // scheduled creation time, over lines created inside the window
    val ps = progresses
    val lat = ArrayBuffer.empty[Double]
    var consumedAtStart, consumedAtEnd = 0L
    triggerLines(ps).foreach { case (p, seqs) =>
      val end = endMs(p)
      seqs.foreach { seq =>
        if (seq >= seq0) {
          val t = sched(seq)
          if (t >= winStart && t < winEnd) lat += end - t
          if (end <= winStart) consumedAtStart += 1
          if (end <= winEnd) consumedAtEnd += 1
        }
      }
    }
    val backlogStart = (winStart - tStart) * Rate / 1000.0 - consumedAtStart
    val backlogEnd = (winEnd - tStart) * Rate / 1000.0 - consumedAtEnd
    val windowTriggers = ps.filter(p => startMs(p) >= winStart && startMs(p) < winEnd && p.numInputRows > 0)
    res.metrics("ops_per_s") = lat.size / (seconds.toDouble)
    res.metrics("cpu_ms_per_op") = cpu / math.max(1, lat.size)
    res.metrics("latency_ms_p50") = p50(lat.toSeq)
    res.metrics("latency_ms_p90") = quantile(lat.toSeq, 0.9)
    val lateP99 = quantile(late.toSeq, 0.99)
    res.info("triggers") = windowTriggers.size.toString
    res.info("backlog_start_lines") = f"$backlogStart%.0f"
    res.info("backlog_end_lines") = f"$backlogEnd%.0f"
    res.info("gen_late_ms_p99") = f"$lateP99%.2f"
    if (lateP99 > MaxLateMs) res.invalid += f"generator fell behind: late p99 $lateP99%.1f ms"
    if (backlogEnd > backlogStart + Rate) res.invalid += f"backlog grew: $backlogStart%.0f -> $backlogEnd%.0f lines"
    if (lat.size < seconds * Rate * 0.9) res.invalid += s"only ${lat.size} window lines consumed"
    checkState(winStart, winEnd)
    if (tracer.enabled) {
      // outside = the gap from one trigger's start to the next minus
      // the first one's triggerExecution
      val starts = ps.map(startMs(_).toDouble)
      val outside = ps.indices.dropRight(1)
        .filter(i => starts(i) >= winStart && starts(i) < winEnd)
        .map(i => starts(i + 1) - starts(i) - dur(ps(i), "triggerExecution"))
      streamLayers(winStart, winEnd, outside, lateP99, windowTriggers.size)
      layerScans(p50(windowTriggers.map(_.numInputRows.toDouble)).toInt.max(1), triggers = 12)
    }
    finish(q, windowTriggers.size)
  }

  private def checkState(winStart: Double, winEnd: Double): Unit = {
    val s0 = stateRowsAt(winStart)
    val s1 = stateRowsAt(winEnd)
    res.info("state_rows_start") = f"$s0%.0f"
    res.info("state_rows_end") = f"$s1%.0f"
    if (s0 <= 0 || math.abs(s1 - s0) / s0 > MaxStateDrift)
      res.invalid += f"state not level: $s0%.0f -> $s1%.0f rows"
  }

  /** Per-layer numbers of the measured window, from the progress
    * events and the task listener; records one span tree per trigger.
    */
  private def streamLayers(winStart: Double, winEnd: Double, outside: Seq[Double],
                           lateP99: Double, triggers: Int): Unit = {
    val ps = progresses.filter(p => startMs(p) >= winStart && startMs(p) < winEnd)
    val data = ps.filter(_.numInputRows > 0)
    def phase(k: String) = p50(data.map(dur(_, k)))
    val so = data.flatMap(_.stateOperators.headOption)
    val L = res.layers
    L("streaming.triggers") = data.size
    L("streaming.rows_per_trigger_p50") = p50(data.map(_.numInputRows.toDouble))
    L("streaming.add_batch_ms_p50") = phase("addBatch")
    L("streaming.planning_ms_p50") = phase("queryPlanning")
    L("streaming.wal_ms_p50") = phase("walCommit")
    L("streaming.commit_ms_p50") = phase("commitOffsets")
    L("streaming.latest_offset_ms_p50") = phase("latestOffset")
    L("streaming.outside_ms_p50") = p50(outside)
    L("streaming.state_rows") = so.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    L("streaming.state_mb") = so.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0)
    L("streaming.state_commit_ms_p50") = p50(so.map(_.commitTimeMs.toDouble))
    L("streaming.state_update_ms_p50") = p50(so.map(_.allUpdatesTimeMs.toDouble))
    L("streaming.state_evict_ms_p50") = p50(so.map(_.allRemovalsTimeMs.toDouble))
    L("streaming.evicted_per_trigger") =
      ps.flatMap(_.stateOperators.headOption).map(_.numRowsRemoved).sum.toDouble / math.max(1, triggers)
    L("gen.late_ms_p99") = lateP99
    val w = tasks.window(winStart.toLong, winEnd.toLong)
    L("streaming.shuffle_mb_per_trigger") = w("shuffle_write_mb") / math.max(1, triggers)
    w.foreach { case (k, v) =>
      val layer = if (k == "jobs" || k == "stages") "driver" else "operators"
      L(s"$layer.$k") = v
    }
    // spans: trigger → its durationMs phases laid out in execution
    // order; inside addBatch, the sink's collect, which executes the
    // micro-batch's plan
    val sinks = sinkSpans.synchronized(sinkSpans.toList).map(s => s._1 -> s).toMap
    ps.foreach { p =>
      val g = s"trigger-${p.batchId}"
      val t0 = startMs(p).toDouble
      val root = tracer.add(-1, g, "trigger", t0, endMs(p))
      var t = t0
      Seq("latestOffset" -> "streaming.latest_offset", "walCommit" -> "streaming.wal",
        "queryPlanning" -> "streaming.planning", "addBatch" -> "streaming.add_batch",
        "commitOffsets" -> "streaming.commit").foreach { case (k, name) =>
        val d = dur(p, k)
        val id = tracer.add(root, g, name, t, t + d)
        if (k == "addBatch") sinks.get(p.batchId).foreach { case (_, a, b) =>
          tracer.add(id, g, "streaming.execute", a, b)
        }
        t += d
      }
    }
  }

  /** Layer microbenchmarks over this run's own lines, outside the
    * measured window: the parse scan, the parse + hash scan, the
    * chain walk in the JVM, and the state operator alone.
    */
  private def layerScans(triggerRows: Int, triggers: Int): Unit = {
    val scanGen = new HfpGen(seed, Vehicles)
    val c = scanGen.next(ScanLines)
    val lines = spark.createDataset((c.a ++ c.b).toSeq)(Encoders.STRING).toDF("line")
      .repartition(cpus).localCheckpoint(eager = true)
    val n = lines.count().toDouble
    def scan(name: String, df: => DataFrame): Double = p50((0 until 3).map { i =>
      tracer.timed(-1, s"scan-$name-$i", name)(df.write.format("noop").mode("overwrite").save())
    })
    val parseMs = scan("sources.parse", HfpSource.parseLines(lines))
    val hashMs = scan("plans.hash", HfpSource.parseLines(lines).withColumn("hash", HfpSource.contentHash128))
    res.layers("sources.parse_rows_per_s") = n / (parseMs / 1e3)
    res.layers("plans.hash_us_per_row") = (hashMs - parseMs) * 1e3 / n

    val evs = keyed(lines).collect().toSeq.sortBy(_.event_id)
    val byKey = evs.groupBy(_.props).values.toSeq
    val chainMs = p50((0 until 3).map { i =>
      tracer.timed(-1, s"chain-$i", "streaming.chain")(
        byKey.foreach(DedupStream.chainPrimes(_, TtlMs, None)))
    })
    res.layers("streaming.chain_rows_per_s") = evs.size / (chainMs / 1e3)

    // dedupTtlChain alone over pre-keyed rows, in this run's trigger size
    val input = MemoryStream[Ev](spark, cpus)
    val q = DedupStream.dedupTtlChain(input.toDS(), TtlMs).writeStream.format("noop")
      .option("checkpointLocation", s"$workDir/checkpoint-state").start()
    try {
      val batches = evs.grouped(triggerRows).take(triggers + 1).toSeq
      input.addData(batches.head) // first trigger pays the plan + JIT warm-up
      q.processAllAvailable()
      var rows = 0L
      val ms = batches.tail.zipWithIndex.map { case (b, i) =>
        rows += b.size
        tracer.timed(-1, s"state-$i", "streaming.state") {
          input.addData(b)
          q.processAllAvailable()
        }
      }
      res.layers("streaming.state_rows_per_s") = rows / (ms.sum / 1e3)
    } finally q.stop()
  }
}

object HfpStream {
  val TtlMs: Long = 4L * 3600 * 1000
  val Vehicles = 2000
  /** Offered load of the paced feed: 2,000 vehicles × 1 Hz × 2 feeds. */
  val Rate = 4000.0
  val BacklogTrigger = 50000
  val MinBacklogTriggers = 5
  /** Lines spanning TTL + watermark delay of event time, with margin. */
  val PrefillLines: Long = ((TtlMs + 600000L) / HfpGen.MsPerLine * 1.1).toLong
  val PrefillWarmLines = 4000
  val LiveWarmupS = 3
  val MaxLateMs = 50.0
  val MaxStateDrift = 0.1
  val ScanLines = 200000
}
