package graft.streaming

import graft.operators.NearDup
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate candidate detection — the ingest-time
  * analog of the batch simhash family (NearDup.simhashPairs): every
  * arriving document's fingerprint is banded into the same 20 Manku
  * combo buckets, and a stateful operator keyed by (band, block)
  * emits a candidate pair the moment a new arrival lands in a bucket
  * with a previously seen fingerprint. This is the shape an ingest
  * dedup service runs so near-dups are flagged ON ARRIVAL instead of
  * in a nightly batch join — the same move the reference makes for
  * exact dups (its TTL cache keyed by content hash,
  * Deduplicator.java:46-52), lifted to near-duplicates.
  *
  * Semantics: with an unbounded bucket cap the emitted pair set
  * (after a downstream distinct over the 20 bands) EQUALS the batch
  * simhashPairs output on the same fingerprints, independent of how
  * the stream is split into micro-batches — every pair shares some
  * bucket, and whichever member arrives second sees the first in
  * state (intra-batch arrivals see earlier rows of the same group
  * iterator). `maxBucket` bounds per-bucket state at scale (31-33-bit
  * bucket keys keep natural occupancy tiny; a hot bucket is
  * degenerate near-dup mass, where dropping candidates loses nothing
  * a dedup pass cares about). Production eviction (TTL on bucket
  * entries, mirroring dedupBounded's size bound) composes via
  * GroupStateTimeout without changing the shape.
  */
object NearDupStream {

  /** One banded arrival: which bucket, plus the full fingerprint for
    * the exact Hamming verify against bucket-mates.
    */
  case class BandedDoc(band: Int, block: Long, doc_id: Long, simhash: Long)

  /** An emitted candidate: a_id < b_id, exact Hamming distance. May
    * repeat across bands — distinct() downstream (the batch join
    * pays the same distinct).
    */
  case class CandidatePair(a_id: Long, b_id: Long, hamming: Long)

  /** Members already seen in one bucket (capped). */
  case class Bucket[M](members: List[M])

  /** One banded minhash arrival (band, bucket hash, doc). */
  case class BandedSig(band: Int, bh: Long, doc_id: Long)

  /** An emitted LSH candidate (a_id < b_id). Unverified by design:
    * like the batch path, exact-Jaccard verification needs the
    * shingle sets and composes downstream; may repeat across bands —
    * distinct() downstream, exactly like the batch bucket join.
    */
  case class LshCandidate(a_id: Long, b_id: Long)

  /** The one capped-bucket walk of both candidate streams: group
    * `rows` by bucket `key`; each arrival is paired by `pair` against
    * the bucket's members — earlier micro-batches from state, earlier
    * rows of this batch from the group iterator — and then joins them
    * as `member` while the bucket holds fewer than `maxBucket`.
    */
  private def bucketPairs[R, K: Encoder, M, O: Encoder](rows: Dataset[R], key: R => K,
      maxBucket: Int)(member: R => M)(pair: (M, R) => Option[O])(
      implicit bucketEnc: Encoder[Bucket[M]]): Dataset[O] =
    rows
      .groupByKey(key)
      .flatMapGroupsWithState[Bucket[M], O](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: K, batch: Iterator[R], state: GroupState[Bucket[M]]) =>
          var members = state.getOption.fold(List.empty[M])(_.members)
          val out = Seq.newBuilder[O]
          batch.foreach { r =>
            members.foreach(m => out ++= pair(m, r))
            if (members.size < maxBucket) members = member(r) :: members
          }
          state.update(Bucket(members))
          out.result().iterator
      }

  /** Streaming MinHash-LSH candidate pairs over a (doc_id, sig)
    * stream — the minhash twin of [[simhashCandidates]], completing
    * the on-arrival near-dup symmetry (simhash buckets / minhash
    * bands). Banding is [[NearDup.minhashBandKeys]] — the SAME
    * stateless projection the batch join keys on — so with an
    * unbounded cap the emitted set (after distinct) EQUALS the batch
    * candidate set on the same signatures, micro-batch-split-
    * independent (whichever member of a bucket-sharing pair arrives
    * second sees the first in state; intra-batch arrivals see
    * earlier rows of the same group iterator). State per bucket is
    * doc ids only (the signature itself stays upstream — the
    * verify step needs shingles, not signatures, so carrying 128
    * longs per member would buy nothing); `maxBucket` bounds it at
    * scale, where a hot bucket is degenerate near-dup mass.
    */
  def minhashCandidates(docs: DataFrame,
                        maxBucket: Int = 64): Dataset[LshCandidate] = {
    import docs.sparkSession.implicits._
    val banded = NearDup.minhashBandKeys(docs)
      .select(col("band"), col("bh"), col("doc_id"))
      .as[BandedSig]
    bucketPairs(banded, (r: BandedSig) => (r.band, r.bh), maxBucket)(_.doc_id) { (id, r) =>
      Option.when(id != r.doc_id)(LshCandidate(math.min(id, r.doc_id), math.max(id, r.doc_id)))
    }
  }

  /** Streaming candidate pairs over a (doc_id, simhash) stream. */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 3,
                        maxBucket: Int = 64): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    val banded = docs
      .select(col("doc_id"), col("simhash"),
        explode(NearDup.simhashBandArray(col("simhash"))).as("bb"))
      .select(col("bb.band").as("band"), col("bb.block").as("block"),
        col("doc_id"), col("simhash"))
      .as[BandedDoc]
    bucketPairs(banded, (r: BandedDoc) => (r.band, r.block), maxBucket)(
        r => (r.doc_id, r.simhash)) { case ((id, fp), r) =>
      val h = java.lang.Long.bitCount(fp ^ r.simhash).toLong
      Option.when(id != r.doc_id && h <= maxHamming)(
        CandidatePair(math.min(id, r.doc_id), math.max(id, r.doc_id), h))
    }
  }

  /** The streaming PRODUCTION N+1 near-dup ingest loop — the
    * round-13 composition of the manifest seams
    * ([[NearDup.writeBandManifest]] / [[NearDup.neardupAgainstManifest]])
    * into one running pipeline: each micro-batch of raw documents is
    * shingled, probed against the PERSISTED bh-bucketed band-key
    * manifest (banding-bounded candidates, batch×history oriented
    * like the batch contract — in-batch pairs are a separate bounded
    * [[minhashCandidates]]/minhashLshPairs pass if wanted;
    * exact-Jaccard verify payloads come from the batch frame ∪ the
    * persisted shingle corpus), the verified
    * pairs land under `pairsDir/batch=<id>`, and the batch's own
    * band keys + shingle payloads are APPENDED so batch N+1 probes
    * history ∪ batch N. History is never re-sketched or re-paired —
    * per-batch work is O(batch) sketches + banding-bounded verifies
    * at ANY history size, which is what makes this the 100 TB
    * rolling-ingest shape. The probe is the one
    * [[NearDup.neardupIncremental]] runs, given the table's scan as
    * its manifest frame; the table is persisted because the manifest
    * outlives every batch.
    *
    * Failure/replay semantics (foreachBatch is at-least-once): the
    * pair output is IDEMPOTENT (overwrite of the batch's own
    * subdirectory), and a replayed manifest/corpus append only
    * duplicates rows whose candidates the probe's `distinct()`
    * collapses and whose verify is unchanged — wasted bytes, never
    * wrong pairs. A deployment that must not pay the bytes fences
    * the append on `batchId` (a committed-batch marker table); the
    * correctness story here deliberately does not depend on it.
    *
    * `docs` is a STREAMING (doc_id, text) frame; both tables must
    * exist before the first batch (create them from ingested history
    * via [[NearDup.writeBandManifest]] append=false + a bucketed
    * shingle write — [[seedManifestTables]]). Probes and appends both
    * run on foreachBatch's session, so batch N+1 always sees batch
    * N's keys; a DIFFERENT session reading the tables concurrently
    * refreshes its cached file listing first
    * (`spark.catalog.refreshTable`).
    */
  def startManifestLoop(docs: DataFrame, manifestTable: String,
                        corpusTable: String, pairsDir: String,
                        checkpoint: String, threshold: Double = 0.5,
                        verifyBands: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // shingle ONCE; the frame feeds probe + verify + two appends
        val b = NearDup.shingledDocs(batch).localCheckpoint()
        val verify = b.unionByName(spark.table(corpusTable))
        NearDup.neardupAgainstManifest(b, spark.table(manifestTable), verify,
            threshold, verifyBands)
          .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
        NearDup.writeBandManifest(spark, NearDup.bandManifestKeys(b),
          manifestTable, append = true)
        graft.sinks.GraftSink.appendBucketed(b, corpusTable, "doc_id",
          spark.sessionState.conf.numShufflePartitions)
        ()
      }
      .start()

  /** Seed the manifest-loop tables from ingested HISTORY: the
    * band-key manifest (bh-bucketed) and the shingle corpus
    * (doc_id-bucketed) the loop appends to. One-time setup; the
    * bucket counts pin the layout every append must match.
    */
  def seedManifestTables(history: DataFrame, manifestTable: String,
                         corpusTable: String): Unit = {
    val spark = history.sparkSession
    val h = NearDup.shingledDocs(history).localCheckpoint(eager = false)
    NearDup.writeBandManifest(spark, NearDup.bandManifestKeys(h), manifestTable)
    graft.sinks.GraftSink.writeBucketed(h, corpusTable, "doc_id",
      spark.sessionState.conf.numShufflePartitions)
  }
}
