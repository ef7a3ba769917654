package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming dedup — the direct analog of the reference
  * service (Deduplicator.java): a Pulsar consumer/producer pair with
  * an in-memory hash→first-seen-ts cache becomes readStream →
  * stateful dedup → writeStream with per-key state and watermark-
  * bounded cleanup (the cacheTTL, environment.conf).
  *
  * Operators by state shape:
  *  - Spark-managed: [[dedupWithinWatermark]], [[dedupAgainstHistory]]
  *    (+ Bloom) on `dropDuplicatesWithinWatermark` (first-seen-wins
  *    within the watermark, the production default); [[sessionStats]],
  *    [[windowedStats]], [[correlate]] on watermarked aggs and joins.
  *  - One value per key through [[walkKeyed]] (flatMapGroupsWithState,
  *    event-time timeout): [[dedupTtlChain]] and [[annotate]] keep a
  *    [[PrimeAnchor]] per content key — the exact reference chain: a
  *    duplicate is an event whose key saw a PRIME within ttl;
  *    duplicates do NOT refresh the anchor (cache.put only on miss,
  *    Deduplicator.java:51); a prime older than ttl readmits. State is
  *    bounded by keys per ttl window, not total keys. [[dedupBounded]]
  *    keeps one [[LruShard]] per cache segment — the reference's
  *    size-bounded Guava cache: one access-ordered map per segment,
  *    walked by [[LruWalker]], evicting its least-recently-accessed
  *    head, on either state store.
  *  - Typed handles on transformWithState: [[heavyHitters]] (MapState
  *    per shard), [[compactLatest]] (ValueState + event-time timer per
  *    key).
  */
object DedupStream {

  /** One event message (events-table schema; `events.ts` must already
    * be a µs timestamp — Tables.events handles the nanos parquet).
    */
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double, props: String)

  /** Dedup state: the anchor prime's event-time millis. */
  case class PrimeAnchor(primeTsMs: Long)

  /** The content key as one string, injective on the content columns:
    * `event_type` is length-prefixed, so a `|` inside it cannot shift
    * a field boundary (user_id and value never contain one, and props
    * runs to the end).
    */
  def contentKeyOf(e: Ev): String = {
    val typeLen = if (e.event_type == null) -1 else e.event_type.length
    s"${e.user_id}|$typeLen:${e.event_type}|${e.value}|${e.props}"
  }

  /** THE definition of the reference cache semantics
    * (Deduplicator.handleMessage, Deduplicator.java:43-59), as a
    * constant-size mutable walker over one key's events in (ts ms,
    * event_id) order: `admit` returns true for a prime (no anchor, or
    * anchor older than ttl — which readmits) and false for a
    * duplicate; duplicates never refresh the anchor (cache.put only
    * happens on the miss path, Deduplicator.java:51). Every rendering
    * — batch mapPartitions walk, streaming flatMapGroupsWithState,
    * test oracles — drives this one object, so their semantics cannot
    * drift.
    */
  final class ChainWalker(ttlMs: Long, initialAnchorMs: Option[Long]) {
    private var a: Option[Long] = initialAnchorMs
    def admit(tsMs: Long): Boolean = a match {
      case Some(p) if tsMs - p <= ttlMs => false // duplicate: anchor NOT refreshed
      case _ => a = Some(tsMs); true
    }
    def anchorMs: Option[Long] = a
  }

  /** Walk a content-key group in any order, continuing from an
    * optional anchor: sort it by (ts ms, event_id), emit primes, drop
    * duplicates. Returns (emitted primes, final anchor). Seq-based, for
    * the replay oracles; [[dedupTtlChain]] and the batch operator drive
    * a bare [[ChainWalker]] over input that is already sorted.
    */
  def chainPrimes(events: Seq[Ev], ttlMs: Long,
                  anchor: Option[Long]): (Seq[Ev], Option[Long]) = {
    val w = new ChainWalker(ttlMs, anchor)
    val out = events.sortBy(e => (e.ts.getTime, e.event_id))
      .filter(e => w.admit(e.ts.getTime))
    (out, w.anchorMs)
  }

  /** Keeps `s` until its event-time timeout `expiresMs`. When that is
    * already below the watermark — a row that passed the late-row
    * filter met an anchor the watermark has outrun, as when one merged
    * feed trails another by more than the ttl — the state is removed
    * instead: Spark rejects a timeout earlier than the watermark, and
    * removing is exact, because every later row that reaches this key
    * has ts ≥ the watermark > `expiresMs`, so the anchor can no longer
    * suppress anything.
    */
  private def keepUntil[S](state: GroupState[S], s: S, expiresMs: Long): Unit =
    if (expiresMs < state.getCurrentWatermarkMs()) state.remove()
    else {
      state.update(s)
      state.setTimeoutTimestamp(expiresMs)
    }

  /** The one per-key state protocol of the flatMapGroupsWithState
    * operators: watermark `ts`, group by `key`, and hand `walk` each
    * key's micro-batch slice (bounded by the trigger interval, not the
    * corpus) sorted by (ts ms, event_id), with the stored state.
    * `walk` returns the rows to emit and the state to keep with its
    * event-time expiry, stored through [[keepUntil]]; a key whose
    * timeout fires with no new rows is removed.
    */
  private def walkKeyed[K: Encoder, S: Encoder, O: Encoder](
      events: Dataset[Ev], watermark: String, key: Ev => K)(
      walk: (Seq[Ev], Option[S]) => (Seq[O], Option[(S, Long)])): Dataset[O] =
    events
      .withWatermark("ts", watermark)
      .groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: K, batch: Iterator[Ev], state: GroupState[S]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (out, next) =
              walk(batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)), state.getOption)
            next.foreach { case (s, expiresMs) => keepUntil(state, s, expiresMs) }
            out.iterator
          }
      }

  /** Multi-topic MERGE ahead of dedup — the streaming rendering of
    * the reference's `multipleTopics` / `topicsPattern` consumer
    * (environment.conf:7-10; a Pulsar connector surfaces the merged
    * stream directly via its `topicsPattern` option, see
    * [[graft.sources.HfpSource.parseLines]]): N per-topic streams unioned BY
    * NAME into ONE logical stream. A streaming union is free — no
    * shuffle, no state of its own — and the downstream stateful dedup
    * keys on CONTENT, so cross-topic duplicates (the redundant-feed
    * deployment the reference exists for) collapse exactly like
    * same-topic ones; StreamingSpec pins merged-stream dedup ≡ the
    * batch union's first-wins replay across uneven micro-batch
    * splits. unionByName so per-topic projection order can't
    * silently misalign columns.
    */
  def mergeTopics[T](topics: Seq[Dataset[T]]): Dataset[T] = {
    require(topics.nonEmpty, "mergeTopics needs at least one topic stream")
    topics.reduce(_.unionByName(_))
  }

  /** Streaming first-seen-wins dedup on the content key with
    * watermark-bounded state (built-in operator).
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(graft.operators.Dedup.contentCols)

  /** Streaming dedup against a STATIC history manifest (the
    * streaming twin of `NearDup.dedupIncremental`, and the "f.ex
    * Redis"-backed externally-stored-hash deployment the reference's
    * comment anticipates, Deduplicator.java:27): rows whose content
    * key appears in the pre-ingested corpus manifest are dropped by
    * a stream-static LEFT ANTI join (re-planned per micro-batch, so
    * the static side's pushdown/broadcast is chosen per batch — no
    * streaming state grows with history size), then first-seen-wins
    * WITHIN the stream via watermark-bounded dropDuplicates. History
    * stays queryable storage (a parquet manifest), not state-store
    * entries — the only state is the in-stream dedup window.
    *
    * `historyKeys` must carry the content-key columns
    * ([[graft.operators.Dedup.contentCols]]-shaped, e.g. a distinct
    * projection of the already-ingested corpus). Duplicate manifest
    * rows are harmless — LEFT ANTI matches existence, so no
    * per-micro-batch distinct is run over the (large) static side.
    */
  def dedupAgainstHistory(events: DataFrame, historyKeys: DataFrame,
                          watermark: String = "10 minutes"): DataFrame = {
    val keyCols = graft.operators.Dedup.contentCols
    events
      .withWatermark("ts", watermark)
      .join(historyKeys.select(keyCols.map(col): _*), keyCols, "left_anti")
      .dropDuplicatesWithinWatermark(keyCols)
  }

  /** [[dedupAgainstHistory]] with a Bloom prefilter — same result,
    * different data movement: the history manifest is sketched ONCE
    * at stream start (a bounded bit array, not per-batch state), and
    * every micro-batch splits on `might_contain`: definite-new rows
    * (the overwhelming majority when the stream is mostly novel)
    * bypass the anti-join entirely, only possible-dups probe the
    * manifest. False positives just take the slow path — the split ∪
    * is exhaustive, so output equals the plain variant row-for-row.
    * This is the streaming twin of [[graft.operators.BloomDedup]] and
    * the closest analog of the reference's "store hashes f.ex in
    * Redis" fast-membership deployment note (Deduplicator.java:27) —
    * the sketch answers "possibly seen?" without a store round-trip.
    *
    * The sketch is built when the query is DEFINED; a long-running
    * stream whose manifest grows should rebuild it on redeploy (the
    * prefilter only needs to be a superset of history at build time
    * to stay exact, since newer history rows are still caught by the
    * in-stream dropDuplicates state).
    */
  def dedupAgainstHistoryBloom(events: DataFrame, historyKeys: DataFrame,
                               watermark: String = "10 minutes"): DataFrame = {
    val keyCols = graft.operators.Dedup.contentCols
    val keyHash = xxhash64(keyCols.map(col): _*)
    val sketch = graft.operators.BloomDedup.buildSketch(
      historyKeys.select(keyCols.map(col): _*), keyHash)
    val wm = events.withWatermark("ts", watermark)
    val deduped =
      if (sketch == null) wm // empty history: nothing to anti-join
      else {
        val maybeSeen = graft.operators.BloomDedup.mightContain(sketch, keyHash)
        // unionByName: the USING anti-join fronts the key columns,
        // so a positional union would misalign the branches
        wm.filter(!maybeSeen).unionByName(
          wm.filter(maybeSeen)
            .join(historyKeys.select(keyCols.map(col): _*), keyCols, "left_anti"))
      }
    deduped.dropDuplicatesWithinWatermark(keyCols)
  }

  /** Streaming exact-chain TTL dedup (reference cache semantics).
    * State per content key = the anchor prime's ts, evicted once the
    * watermark passes anchor + ttl. Runs unchanged on the default and
    * the RocksDB state store.
    */
  def dedupTtlChain(events: Dataset[Ev], ttlMs: Long,
                    watermark: String = "10 minutes"): Dataset[Ev] = {
    import events.sparkSession.implicits._
    walkKeyed[String, PrimeAnchor, Ev](events, watermark, contentKeyOf) { (batch, st) =>
      val w = new ChainWalker(ttlMs, st.map(_.primeTsMs))
      val primes = batch.filter(e => w.admit(e.ts.getTime))
      (primes, w.anchorMs.map(p => (PrimeAnchor(p), p + ttlMs)))
    }
  }

  /** One heavy-hitter summary row: `count` overestimates the item's
    * true count by at most `err` (SpaceSaving guarantee); `gen` is
    * the shard's micro-batch generation — consumers read the max-gen
    * rows per shard for the current summary.
    */
  case class HitterRow(shard: Int, gen: Long, item: String, count: Long, err: Long)

  /** One SpaceSaving arrival against counter map `m` (item →
    * (count, err)): tracked items increment; an untracked item fills
    * a free slot or evicts the (count, item)-lexicographic minimum
    * and inherits its count as the error bound. `onEvict` lets the
    * stateful caller mirror the removal into its store. Shared by the
    * processor and the PropertySpec invariant replay — the algorithm
    * cannot drift from its test.
    */
  def spaceSavingStep(m: scala.collection.mutable.HashMap[String, (Long, Long)],
                      x: String, k: Int, onEvict: String => Unit = _ => ()): Unit =
    m.get(x) match {
      case Some((c, e)) => m(x) = (c + 1, e)
      case None if m.size < k => m(x) = (1L, 0L)
      case None =>
        val (mi, (mc, _)) = m.minBy { case (it, (c, _)) => (c, it) }
        m.remove(mi); onEvict(mi)
        m(x) = (mc + 1, mc)
    }

  /** SpaceSaving heavy hitters (Metwally, Agrawal, El Abbadi,
    * "Efficient Computation of Frequent and Top-k Elements in Data
    * Streams", ICDT 2005) as a `StatefulProcessor` with MapState —
    * the bounded-state answer when per-item exact streaming counts
    * can't fit anywhere (URLs, content keys, n-grams at 100 TB/day):
    * each shard tracks exactly k counters; an untracked arrival
    * evicts the MINIMUM counter and inherits its count as its error
    * bound, so any item with true count > N_shard/k is GUARANTEED
    * present and every reported count overestimates truth by at most
    * `err`. State = k entries × `shards` groups, a constant, while
    * the exact groupBy's state is unbounded key cardinality.
    *
    * Sharding by a deterministic item hash means each item lives in
    * exactly ONE shard, so per-item counts never split and the
    * global summary is just the union of shard summaries (per-shard
    * ε applies). Eviction ties break (count, item) lexicographic —
    * deterministic replay. Arrival-order dependence is intrinsic to
    * SpaceSaving; the spec pins the single-partition in-order
    * contract (the CleanStream precedent) and the order-free
    * guarantees separately.
    */
  final class SpaceSavingProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Int, (Int, String), HitterRow] {
    @transient private var counters:
      org.apache.spark.sql.streaming.MapState[String, (Long, Long)] = _
    @transient private var gen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val E = org.apache.spark.sql.Encoders
      counters = getHandle.getMapState("ss", E.STRING,
        E.tuple(E.scalaLong, E.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      gen = getHandle.getValueState("gen", E.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(shard: Int, rows: Iterator[(Int, String)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[HitterRow] = {
      // k is small: load the shard's counters once, fold the batch in
      // memory, write back once — not one store round-trip per row
      val m = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
      counters.iterator().foreach { case (it, cv) => m(it) = cv }
      rows.foreach { case (_, x) =>
        spaceSavingStep(m, x, k, evicted => counters.removeKey(evicted))
      }
      m.foreach { case (it, cv) => counters.updateValue(it, cv) }
      val g = (if (gen.exists()) gen.get() else 0L) + 1
      gen.update(g)
      m.toSeq.sortBy(_._1).iterator
        .map { case (it, (c, e)) => HitterRow(shard, g, it, c, e) }
    }
  }

  /** Streaming top-item tracking over `items` with k counters per
    * shard (state bounded by k·shards regardless of item
    * cardinality). Each micro-batch emits every touched shard's full
    * current summary at a new `gen`; read the max-gen rows per shard.
    */
  def heavyHitters(items: Dataset[String], k: Int = 16,
                   shards: Int = 32): Dataset[HitterRow] = {
    import items.sparkSession.implicits._
    items
      .map(s => (math.floorMod(s.hashCode, shards), s))
      .groupByKey(_._1)
      .transformWithState(new SpaceSavingProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append)
  }

  /** One compacted CDC/upsert row: the key's LATEST event by
    * (ts, event_id) at flush time — the streaming twin of
    * `Relational.qCompactLatest`'s batch keep-newest.
    */
  case class CompactRow(user_id: Long, event_type: String,
                        last_event_id: Long, last_ms: Long, last_value: Double)

  /** Keep-LATEST compaction per (user_id, event_type) on
    * `transformWithState`: ValueState holds the running max by
    * (ts ms, event_id) — max is COMMUTATIVE, so the result is
    * micro-batch-split- and arrival-order-independent (stronger than
    * the TTL chain's in-order contract) — and an event-time TIMER at
    * latest_ts + flushMs emits the compacted row once the key has
    * been quiet past the horizon, then clears state. A superseded
    * timer (newer event arrived after it was registered) is deleted
    * on update, and the expiry-time guard in `handleExpiredTimer`
    * ignores one that fires anyway. A key
    * updated again AFTER its flush opens a new compaction epoch and
    * will emit a second row — CDC upsert semantics downstream.
    * State: one (long, long, double) per live key, watermark-bounded.
    */
  final class CompactLatestProcessor(flushMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[(Long, String), Ev, CompactRow] {
    @transient private var latest:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Double)] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val E = org.apache.spark.sql.Encoders
      latest = getHandle.getValueState("latest",
        E.tuple(E.scalaLong, E.scalaLong, E.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: (Long, String), rows: Iterator[Ev],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[CompactRow] = {
      val cur = if (latest.exists()) Some(latest.get()) else None
      val best = (cur.iterator ++ rows.map(e => (e.ts.getTime, e.event_id, e.value)))
        .maxBy(t => (t._1, t._2))
      if (!cur.contains(best)) {
        // drop the superseded timer so each key holds exactly ONE
        // live timer (the expiry guard would discard it anyway, but
        // a high-churn key would otherwise accumulate one dead timer
        // per update in the state store)
        cur.foreach { c =>
          if (c._1 != best._1) getHandle.deleteTimer(c._1 + flushMs)
        }
        latest.update(best)
      }
      getHandle.registerTimer(best._1 + flushMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: (Long, String),
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[CompactRow] = {
      // emit only if the CURRENT latest's horizon expired — a newer
      // event re-registered its own later timer
      if (latest.exists() && latest.get()._1 + flushMs <= expired.getExpiryTimeInMs) {
        val (ts, id, v) = latest.get()
        latest.clear()
        Iterator.single(CompactRow(key._1, key._2, id, ts, v))
      } else Iterator.empty
    }
  }

  /** Streaming keep-latest compaction (the CDC mirror of the dedup
    * family's first-wins): one compacted row per (user_id,
    * event_type) once the key is quiet for `flushMs` of event time.
    * Stream ≡ batch: over a closed input whose watermark passes every
    * timer, the emitted set equals qCompactLatest's batch keep-newest
    * (spec-pinned across uneven splits on RocksDB).
    */
  def compactLatest(events: Dataset[Ev], flushMs: Long = 600000L,
                    watermark: String = "10 minutes"): Dataset[CompactRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new CompactLatestProcessor(flushMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append)
  }

  /** One segment of the size-bounded cache: its entries (content key
    * → primeTsMs), least recently accessed first.
    */
  case class LruShard(entries: Seq[(String, Long)])

  /** A content key's cache segment out of `segments`. */
  private[graft] def segmentOf(contentKey: String, segments: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(contentKey), segments)

  /** THE definition of Guava `maximumSize` + `expireAfterWrite` cache
    * semantics (Deduplicator.java:37-40), as a walker over one cache
    * segment's arrivals, resumed from its stored entries. One
    * access-ordered map (content key → primeTsMs) keeps the segment in
    * Guava's access-queue order, least recently accessed at the head.
    * `admit` returns true for a prime:
    *  - present within ttl → DUPLICATE; the read refreshes RECENCY
    *    (getIfPresent moves the entry in the access queue) but never
    *    the write time (expireAfterWrite; cache.put only on miss,
    *    Deduplicator.java:51);
    *  - present but older than ttl → expired-on-read: re-admitted
    *    as a PRIME (new write time);
    *  - absent → PRIME, inserted; over `cap`, expired entries are
    *    dropped first (Guava's maintenance sweep), then the head is
    *    evicted. `oldest` bounds the primes from below, so a sweep
    *    that could drop nothing is skipped, for any arrival order.
    * [[dedupBounded]] and the specs' replays drive this one object, so
    * the operator cannot drift from its test.
    */
  final class LruWalker(ttlMs: Long, cap: Int, initialEntries: Seq[(String, Long)]) {
    import scala.jdk.CollectionConverters._
    private val m = new java.util.LinkedHashMap[String, java.lang.Long](16, 0.75f, true)
    private var oldest = Long.MaxValue
    initialEntries.foreach { case (k, p) => m.put(k, p); oldest = math.min(oldest, p) }

    def admit(key: String, tsMs: Long): Boolean = {
      val p = m.get(key)
      if (p != null && tsMs - p <= ttlMs) false // duplicate: write time NOT refreshed
      else {
        m.put(key, tsMs)
        oldest = math.min(oldest, tsMs)
        if (m.size > cap) {
          if (tsMs - oldest > ttlMs) {
            oldest = tsMs
            val it = m.entrySet.iterator
            while (it.hasNext) {
              val en = it.next()
              val p2 = en.getValue.longValue
              if (en.getKey != key && tsMs - p2 > ttlMs) it.remove()
              else oldest = math.min(oldest, p2)
            }
          }
          val lru = m.keySet.iterator
          while (m.size > cap) { lru.next(); lru.remove() }
        }
        true
      }
    }

    /** Content key → primeTsMs, least recently accessed first. */
    def entries: Seq[(String, Long)] =
      m.asScala.iterator.map { case (k, p) => (k, p.longValue) }.toVector
  }

  /** SIZE-BOUNDED streaming TTL dedup — the reference cache's
    * `maximumSize(250000)` on top of its TTL (Deduplicator.java:37-40),
    * with Guava's eviction: a full segment forgets its
    * least-recently-accessed entry, and evicted content re-arriving is
    * re-admitted as a prime. Guava's LocalCache is segmented
    * (maximumSize is divided across concurrencyLevel segments, each
    * with its own access queue), so the shape here is the reference
    * cache's own: content keys hash into `shards` segments (the
    * concurrencyLevel analog), each one [[walkKeyed]] state value
    * ([[LruShard]], its access-ordered entries) with capacity
    * ceil(maxEntries / shards), every micro-batch slice walked by an
    * [[LruWalker]] in (ts ms, event_id) order. Like Guava, a skewed
    * segment can evict before the global count reaches maxEntries,
    * never after. The shard count is clamped to maxEntries, so state
    * holds at most maxEntries entries rounded up to a multiple of the
    * segment count, at any key churn.
    *
    * A segment expires at its newest prime + ttl: once the watermark
    * passes that, every entry is expired for every later row, so
    * removing the segment is exact. Runs unchanged on the default
    * and the RocksDB state store. Each segment's walk serializes, so
    * size `shards` ≈ state parallelism.
    */
  def dedupBounded(events: Dataset[Ev], ttlMs: Long, maxEntries: Int,
                   shards: Int = 32,
                   watermark: String = "10 minutes"): Dataset[Ev] = {
    require(maxEntries >= 1 && shards >= 1, "dedupBounded needs maxEntries, shards >= 1")
    import events.sparkSession.implicits._
    val segments = math.min(shards, maxEntries)
    val cap = (maxEntries + segments - 1) / segments
    walkKeyed[Int, LruShard, Ev](events, watermark,
        e => segmentOf(contentKeyOf(e), segments)) { (batch, prior) =>
      val w = new LruWalker(ttlMs, cap, prior.fold(Seq.empty[(String, Long)])(_.entries))
      val out = batch.filter(e => w.admit(contentKeyOf(e), e.ts.getTime))
      val kept = w.entries
      (out, kept.map(_._2).maxOption.map(p => (LruShard(kept), p + ttlMs)))
    }
  }

  /** One event annotated by the chain walk: whether it is a duplicate
    * and, if so, its delay behind the anchor prime.
    */
  case class Annotated(event_id: Long, ts: java.sql.Timestamp,
                       is_dup: Boolean, delay_ms: Long)

  /** Every event of the stream tagged by the [[dedupTtlChain]] walk
    * (same key, same [[PrimeAnchor]] state) instead of filtered — the
    * input of [[windowedStats]].
    */
  def annotate(events: Dataset[Ev], ttlMs: Long,
               watermark: String = "10 minutes"): Dataset[Annotated] = {
    import events.sparkSession.implicits._
    walkKeyed[String, PrimeAnchor, Annotated](events, watermark, contentKeyOf) { (batch, st) =>
      val w = new ChainWalker(ttlMs, st.map(_.primeTsMs))
      val out = batch.map { e =>
        val t = e.ts.getTime
        val prior = w.anchorMs // read before admit: the delay's anchor
        if (w.admit(t)) Annotated(e.event_id, e.ts, is_dup = false, 0L)
        else Annotated(e.event_id, e.ts, is_dup = true, t - prior.get)
      }
      (out, w.anchorMs.map(p => (PrimeAnchor(p), p + ttlMs)))
    }
  }

  /** Streaming sessionization — the streaming analog of the batch
    * gaps-and-islands q_sessionize: the built-in `session_window`
    * merges events per user into gap-bounded sessions incrementally
    * (state = open sessions only; the watermark closes and emits
    * them, bounding state like the dedup TTL bounds the cache).
    */
  def sessionStats(events: Dataset[Ev], gap: String = "30 minutes",
                   watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        round(sum("value"), 2).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Streaming dedup analytics (Analytics.java:47-79): per 1-minute
    * event-time window — primes, duplicates, ratio, mean dup delay —
    * over [[annotate]]'s output, with a plain watermarked groupBy.
    *
    * NOTE: chaining annotate's flatMapGroupsWithState with this
    * windowed aggregate is a multi-stateful-operator pipeline; Spark
    * blocks it by default (global-watermark late-row risk). Run with
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=
    * false` and keep the watermark ≥ the annotate ttl so annotated
    * rows can't be late for the window state.
    *
    * NOTE — error-path analytics flush (Deduplicator.java:63-66): on
    * a handler exception the reference fires `calcStats()` BEFORE
    * rethrowing so in-memory counters aren't lost with the crash.
    * graft needs no explicit flush for the COUNTS: this state lives
    * in the checkpointed state store, so a failed query resumes from
    * the last committed micro-batch with nothing lost — stronger than
    * the reference's best-effort flush. The analog of the reference's
    * "report at death" side channel is a
    * `StreamingQueryListener.onQueryTerminated` registered via
    * `spark.streams.addListener`, which receives the terminal event
    * (with the exception) after the final progress and is the place
    * to emit last-progress counters to an external monitor.
    */
  def windowedStats(annotated: Dataset[Annotated],
                    alertThreshold: Double = 0.97): DataFrame =
    annotated
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(
        sum(when(!col("is_dup"), 1).otherwise(0)).cast("long").as("primes"),
        sum(when(col("is_dup"), 1).otherwise(0)).cast("long").as("duplicates"),
        avg(when(col("is_dup"), col("delay_ms"))).as("avg_delay_ms"))
      // Analytics.java:50-61 alert semantics: high-dup when ratio >
      // 1.0, ELSE feed-down when below the configured threshold
      // (duplicateRatioThreshold = 0.97, environment.conf)
      .withColumn("dup_ratio",
        col("duplicates").cast("double") / nullif(col("primes"), lit(0)))
      .withColumn("alert_high_dup", col("dup_ratio") > 1.0)
      .withColumn("alert_feed_down",
        !(col("dup_ratio") > 1.0) && col("dup_ratio") < alertThreshold)

  /** The durable ALERT side-channel — the reference reports alerts by
    * LOGGING them (Analytics.java:50-61, log.error on high-dup /
    * feed-down); the Spark rendering makes the side-channel a
    * first-class, queryable artifact: finalized stat windows that
    * fired either alert flag, flattened (window struct → start/end
    * columns) for a columnar sink. Compose with
    * [[graft.sinks.GraftSink.startDatePartitionedSink]] for the
    * durable leg: date-partitioned parquet, checkpointed, exactly-
    * once across restarts (StreamingSpec pins the kill-and-resume
    * case — including that a post-restart duplicate burst is flagged
    * from the RECOVERED dedup state). Alert-only filtering keeps the
    * sink tiny: quiet windows produce no files. Windows whose ratio
    * is undefined (zero primes ⇒ null ratio) fire neither flag and
    * are absent, like the reference's division guard.
    */
  def alerts(stats: DataFrame): DataFrame =
    stats
      .filter(col("alert_high_dup") || col("alert_feed_down"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("primes"), col("duplicates"), col("dup_ratio"),
        col("alert_high_dup"), col("alert_feed_down"))

  /** Stream-STREAM event-time interval join — the cross-feed
    * correlation the reference's multi-topic deployment implies but
    * never computes (it only unions feeds; environment.conf:7-10):
    * pair each primary event with every secondary event of the SAME
    * user whose timestamp lands within ±`withinMs`. Both sides are
    * watermarked and the join condition bounds event time in BOTH
    * directions, so Spark's symmetric hash join can evict buffered
    * rows once the watermark passes `ts + withinMs` — state is sized
    * by rows-per-(watermark + within) horizon per key, never by
    * stream history. The state store is partitioned by the join key
    * (user_id), so a 1000-executor deployment shards it like any
    * keyed shuffle; `joinType = "leftOuter"` additionally emits
    * unmatched primaries (null secondary columns) AFTER their match
    * window expires — the "page with no conversion" rendering —
    * at the same bounded state cost. Batch inputs run the identical
    * plan as a plain interval join (watermarks are no-ops in batch),
    * which is exactly how the spec pins stream ≡ batch.
    *
    * `lag_ms` is b_ts − a_ts in exact integer milliseconds (null for
    * the unmatched leftOuter rows, like the ANSI null-propagating
    * subtraction it is).
    */
  def correlate(primary: DataFrame, secondary: DataFrame,
                withinMs: Long = 60000L,
                watermark: String = "10 minutes",
                joinType: String = "inner"): DataFrame = {
    val a = primary
      .select(col("event_id").as("a_event_id"), col("user_id"),
        col("ts").as("a_ts"))
      .withWatermark("a_ts", watermark)
    val b = secondary
      .select(col("event_id").as("b_event_id"),
        col("user_id").as("b_user_id"), col("ts").as("b_ts"))
      .withWatermark("b_ts", watermark)
    a.join(b,
        col("user_id") === col("b_user_id") &&
          col("b_ts") >= expr(s"a_ts - INTERVAL $withinMs MILLISECOND") &&
          col("b_ts") <= expr(s"a_ts + INTERVAL $withinMs MILLISECOND"),
        joinType)
      .select(col("a_event_id"), col("user_id"), col("a_ts"),
        col("b_event_id"), col("b_ts"),
        (unix_millis(col("b_ts")) - unix_millis(col("a_ts"))).as("lag_ms"))
  }
}
