package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch dedup family re-expressing the reference semantics
  * (reference: Deduplicator.java:43-59 — murmur3 content hash, cache
  * of hash → first-seen ts, first occurrence forwarded, later ones
  * dropped; Analytics.java:47-79 — per-interval prime/duplicate/
  * ratio/delay stats).
  *
  * Spark-first shape: "the cache" is not a data structure — it is a
  * `row_number()` over a hash-partitioned window on the message
  * content. One shuffle on the content key, no driver state, no skew
  * (content keys are near-unique), linear at 100 TB. The streaming
  * equivalent with true incremental state lives in
  * [[graft.streaming.DedupStream]].
  *
  * A message's content identity in the `events` table is
  * (user_id, event_type, value, props): ts/event_id are arrival
  * metadata, exactly like Pulsar publish metadata vs payload.
  */
object Dedup {

  val contentCols: Seq[String] = Seq("user_id", "event_type", "value", "props")

  private def contentKey: Seq[Column] = contentCols.map(col)

  /** Arrival order within a content group: reference processes in
    * message order; (ts, event_id) is the deterministic batch analog.
    */
  private def arrival = Window.partitionBy(contentKey: _*).orderBy(col("ts"), col("event_id"))

  /** First-seen-wins exact dedup: the batch analog of
    * Deduplicator.handleMessage's cache-miss path.
    */
  def firstSeen(events: DataFrame): DataFrame =
    events
      .withColumn("_rn", row_number().over(arrival))
      .filter(col("_rn") === 1)
      .drop("_rn")

  def dedupFirst(spark: SparkSession, dir: String): DataFrame =
    firstSeen(Tables.events(spark, dir))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Primes with their duplicate count — passthrough of the full
    * original row (reference forwards key/eventTime/properties
    * untouched, Deduplicator.java:117-129) plus the copy count.
    */
  def dedupPassthrough(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("_rn", row_number().over(arrival))
      .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(contentKey: _*)))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"), col("n_copies"))

  /** Analytics.calcStats as a windowed batch aggregate: per 1-minute
    * arrival window — primes, duplicates, duplicate/prime ratio, and
    * the mean delay (ms) between a duplicate and its prime
    * (elapsedSinceHit, Deduplicator.java:56). Map-side combinable:
    * after the window pass, the aggregate is plain sums/counts.
    *
    * Alert flags mirror Analytics.calcStats (Analytics.java:50-61):
    * `alert_high_dup` when ratio > 1.0 (more duplicates than primes —
    * hashing or feed anomaly), ELSE `alert_feed_down` when ratio <
    * threshold (one of the redundant feeds likely down; reference
    * default `duplicateRatioThreshold = 0.97`, environment.conf).
    * Null ratio (no primes in the window) → null flags.
    */
  def dedupStats(spark: SparkSession, dir: String,
                 alertThreshold: Double = 0.97): DataFrame = {
    val firstTs = Window.partitionBy(contentKey: _*)
    Tables.events(spark, dir)
      .withColumn("_rn", row_number().over(arrival))
      .withColumn("_first_ts", min("ts").over(firstTs))
      .groupBy(date_trunc("minute", col("ts")).as("window_start"))
      .agg(
        sum(when(col("_rn") === 1, 1).otherwise(0)).cast("long").as("primes"),
        sum(when(col("_rn") > 1, 1).otherwise(0)).cast("long").as("duplicates"),
        round(sum(when(col("_rn") > 1, 1).otherwise(0)).cast("double") /
          nullif(sum(when(col("_rn") === 1, 1).otherwise(0)), lit(0)), 4).as("dup_ratio"),
        round(avg(when(col("_rn") > 1,
          unix_millis(col("ts")) - unix_millis(col("_first_ts")))), 2).as("avg_delay_ms"))
      .withColumn("alert_high_dup", col("dup_ratio") > 1.0)
      .withColumn("alert_feed_down",
        !(col("dup_ratio") > 1.0) && col("dup_ratio") < alertThreshold)
  }

  /** TTL-scoped dedup, bucketed: first-wins within tumbling windows of
    * ttl length (cacheTTL analog, environment.conf `cacheTTL = 4
    * hours`; 10 min here to exercise the data's 30-day span). Bucketed
    * TTL is the scalable batch rendering — the exact prime-anchored
    * chain (a duplicate refreshes nothing; a prime older than TTL
    * readmits) is inherently sequential per key: [[dedupTtlChain]] in
    * batch, [[graft.streaming.DedupStream.dedupTtlChain]] on a stream.
    */
  def dedupTtlBucket(spark: SparkSession, dir: String, ttlMinutes: Int = 10): DataFrame = {
    val w = Window.partitionBy(contentKey :+ col("_bucket"): _*)
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("_bucket",
        floor(unix_millis(col("ts")) / lit(ttlMinutes * 60L * 1000L)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select("event_id")
  }

  /** Exact reference TTL-chain dedup in batch form: per content key,
    * walk arrivals in order; an event is a duplicate iff the last
    * PRIME is within ttl (duplicates never refresh the anchor —
    * cache.put only on miss, Deduplicator.java:51); an expired anchor
    * readmits. Inherently sequential per key, but NOT per-key-
    * materializing: one hash shuffle on the dedup key, a spillable
    * sortWithinPartitions on (key, ts ms, event_id), then a
    * constant-memory mapPartitions walk that resets the shared
    * [[graft.streaming.DedupStream.ChainWalker]] kernel at each key
    * change. A flatMapGroups rendering would buffer a whole key group
    * in executor memory (`it.toSeq`) — one hot key at corpus scale =
    * OOM; here per-task memory is O(1) beyond the external sorter.
    *
    * The walk orders by MILLISECOND timestamps (Timestamp.getTime,
    * like the reference's System.currentTimeMillis cache), so the
    * sort key is unix_millis(ts), not the raw µs timestamp — events
    * equal at ms resolution must tie-break on event_id even if their
    * µs values differ.
    *
    * `keyOf` defaults to the full content key (reference semantics);
    * the driver-contract query passes the coarser (user_id,
    * event_type) key because exact-content duplicates in the test
    * data are a single pair — chains keyed that way would never
    * exercise the anchor logic, while the coarse key yields real
    * multi-event chains the DuckDB recursive-CTE oracle replays.
    */
  def dedupTtlChain(spark: SparkSession, dir: String, ttlMinutes: Int = 10,
                    keyOf: graft.streaming.DedupStream.Ev => String =
                      graft.streaming.DedupStream.contentKeyOf): DataFrame = {
    import spark.implicits._
    import graft.streaming.DedupStream
    val ttlMs = ttlMinutes * 60L * 1000L
    Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[DedupStream.Ev]
      .map(e => (keyOf(e), e))
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), unix_millis(col("_2.ts")), col("_2.event_id"))
      .mapPartitions { it =>
        var curKey: String = null
        var walker: DedupStream.ChainWalker = null
        it.flatMap { case (k, e) =>
          if (k != curKey) {
            curKey = k
            walker = new DedupStream.ChainWalker(ttlMs, None)
          }
          if (walker.admit(e.ts.getTime)) Iterator.single(e.event_id)
          else Iterator.empty
        }
      }
      .toDF("event_id")
  }

  /** Multi-topic merge then dedup (environment.conf multipleTopics):
    * two overlapping "topics" union-all'd into one logical stream,
    * then global first-wins dedup. The union is free (no shuffle);
    * dedup costs the same single content-key shuffle.
    */
  def dedupMultiTopic(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val topicA = ev.filter(col("user_id") < 100)
    val topicB = ev.filter(col("user_id") >= 50)
    firstSeen(topicA.unionAll(topicB))
      .select("event_id")
  }
}
