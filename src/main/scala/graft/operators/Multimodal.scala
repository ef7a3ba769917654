package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.7): media payloads as
  * opaque binary columns with typed metadata. The decode step is a
  * deterministic stub (image/audio codecs are intentionally absent
  * here); everything Spark-side — schema, batching, partitioning —
  * is real.
  */
object Multimodal {

  /** Binary payload + metadata columns, all codegen'd built-ins:
    * byte length, sha256 content address, hex magic prefix. This is
    * the ingest shape for any media table: derive the cheap typed
    * metadata once, scan-side, so downstream filters prune on
    * metadata without touching payload bytes.
    */
  def mmMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("text").cast("binary").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("sha256"),
        // first 4 CHARS re-encoded (not first 4 payload bytes): keeps
        // the value well-defined for multibyte-leading documents and
        // byte-identical with the oracle's substring(text,1,4)::BLOB
        lower(hex(substring(col("text"), 1, 4).cast("binary"))).as("magic"))

  /** One media row: payload + metadata. */
  case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** Extracted features from a "decoded" payload. */
  case class MediaFeatures(doc_id: Long, n_bytes: Int, checksum: Long,
                           width: Int, height: Int)

  /** Deterministic stand-in for a real media decoder (the real one
    * would wrap an image/audio codec over the same byte-array
    * batches; libs are absent in this environment by design).
    * The checksum is a polynomial rolling hash over the payload bytes
    * mod 1e9+7 — kept overflow-free on purpose so an external oracle
    * (DuckDB) can replay it with plain checked integer arithmetic.
    */
  private[operators] def stubDecode(payload: Array[Byte]): (Int, Int, Long) = {
    val P = 1000000007L
    var cksum = 0L
    var i = 0
    while (i < payload.length) { cksum = (cksum * 31 + (payload(i) & 0xFF)) % P; i += 1 }
    val w = 16 + (cksum % 1024).toInt
    val h = 16 + (cksum / 1024 % 1024).toInt
    (w, h, cksum)
  }

  /** Batched decode/feature-extract over binary columns via typed
    * mapPartitions: the per-partition iterator is where a real
    * decoder would amortize codec init across a whole batch — the
    * Spark-side shape (encoders, partition batching, no driver
    * collect) is the point.
    */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // codec/session init would happen here, once per partition
      rows.map { r =>
        val (w, h, cksum) = stubDecode(r.payload)
        MediaFeatures(r.doc_id, r.payload.length, cksum, w, h)
      }
    }
  }

  /** Decoded media with resize-target dimensions. */
  case class ResizedMedia(doc_id: Long, width: Int, height: Int,
                          out_w: Int, out_h: Int, scale_pct: Int)

  /** Aspect-preserving fit-into-box resize planning — the standard
    * preprocessing step before a vision encoder (largest side ≤ box,
    * aspect ratio kept, never upscaled). Pure integer arithmetic on
    * the decoded dimensions so any engine reproduces it bit-exactly;
    * a real implementation hands (out_w, out_h) to the codec's
    * scaler over the same batched iterator as [[decodeFeatures]].
    */
  def resizePlan(decoded: Dataset[MediaFeatures], box: Int = 256): Dataset[ResizedMedia] = {
    import decoded.sparkSession.implicits._
    decoded.map { f =>
      val longest = math.max(f.width, f.height)
      if (longest <= box)
        ResizedMedia(f.doc_id, f.width, f.height, f.width, f.height, 100)
      else {
        // floor integer scaling; minimum 1px guards degenerate strips
        val outW = math.max(1, (f.width.toLong * box / longest).toInt)
        val outH = math.max(1, (f.height.toLong * box / longest).toInt)
        ResizedMedia(f.doc_id, f.width, f.height, outW, outH,
          (box.toLong * 100 / longest).toInt)
      }
    }
  }

  /** One audio frame's energy features. */
  case class FrameEnergy(doc_id: Long, frame_idx: Int, n_samples: Int,
                         energy: Long, peak: Int)

  /** Per-frame signal energy over PCM-style bytes — the
    * audio-pipeline analog of [[frameSample]]: payload bytes read as
    * unsigned 8-bit samples centered at 128, framed at `frameBytes`,
    * each frame reduced to Σ sample² (the energy a VAD/silence
    * filter thresholds on) and the peak amplitude. All integer
    * arithmetic, so any engine replays it exactly; a real
    * implementation swaps the byte decode for the audio codec over
    * the same typed flatMap.
    */
  def frameEnergy(media: Dataset[MediaRow], frameBytes: Int = 64): Dataset[FrameEnergy] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      r.payload.grouped(frameBytes).zipWithIndex.map { case (frame, i) =>
        var e = 0L
        var p = 0
        frame.foreach { b =>
          val s = (b & 0xFF) - 128
          e += s.toLong * s
          if (math.abs(s) > p) p = math.abs(s)
        }
        FrameEnergy(r.doc_id, i, frame.length, e, p)
      }
    }
  }

  /** One resampled audio row: stream sizes + exact content checks. */
  case class ResampledAudio(doc_id: Long, n_in: Int, n_out: Int,
                            checksum: Long, energy: Long)

  /** Integer audio resampling (rate conversion by nearest-input
    * index): payload bytes read as 8-bit PCM at `inRate`, output
    * stream at `outRate` picks input sample floor(j·inRate/outRate)
    * for output position j — the index map a real resampler follows
    * before interpolating (the interpolation kernel itself would
    * replace the byte pick inside the same loop; codecs are absent
    * here by design, per [[stubDecode]]). n_out = ceil(n·out/in), so
    * every picked index is provably in range. Reduced per doc to the
    * output length, a rolling-hash checksum over the PICKED samples
    * (order-sensitive — proves the index map, not just the sample
    * multiset) and the centered energy sum. All integer arithmetic;
    * map-only over the same typed batch shape as [[decodeFeatures]].
    */
  def audioResample(media: Dataset[MediaRow],
                    inRate: Int = 441, outRate: Int = 160): Dataset[ResampledAudio] = {
    import media.sparkSession.implicits._
    val P = 1000000007L
    media.map { r =>
      val n = r.payload.length
      val nOut = ((n.toLong * outRate + inRate - 1) / inRate).toInt
      var cksum = 0L
      var energy = 0L
      var j = 0
      while (j < nOut) {
        val b = r.payload((j.toLong * inRate / outRate).toInt) & 0xFF
        cksum = (cksum * 31 + b) % P
        val s = b - 128
        energy += s.toLong * s
        j += 1
      }
      ResampledAudio(r.doc_id, n, nOut, cksum, energy)
    }
  }

  /** Driver-contract wrapper over the documents-as-media corpus. */
  def mmAudioResample(spark: SparkSession, dir: String): DataFrame =
    audioResample(mediaFromDocuments(spark, dir)).toDF()

  /** Scene-cut detection over per-frame energies — the shot-boundary
    * pass a video pipeline runs before sampling representative
    * frames: a cut is a frame whose energy moved by more than 50%
    * of the previous frame's (cross-multiplied integers — no float
    * ratio: |e−prev|·2 > prev also fires on prev = 0 → any energy).
    * One lag window per doc over the map-only [[frameEnergy]] rows;
    * frame 0 is never a cut (no predecessor). Any engine replays the
    * decision exactly.
    */
  def sceneCuts(media: Dataset[MediaRow], frameBytes: Int = 64): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    frameEnergy(media, frameBytes).toDF()
      .withColumn("prev_energy", lag("energy", 1).over(w))
      .select(col("doc_id"), col("frame_idx"), col("energy"), col("prev_energy"),
        (col("prev_energy").isNotNull &&
          abs(col("energy") - col("prev_energy")) * 2 > col("prev_energy"))
          .as("is_cut"))
  }

  /** Driver-contract wrapper over the documents-as-media corpus. */
  def mmSceneCuts(spark: SparkSession, dir: String): DataFrame =
    sceneCuts(mediaFromDocuments(spark, dir))

  /** One planned tile: grid coordinates + clipped pixel box. */
  case class Tile(doc_id: Long, tile_x: Int, tile_y: Int,
                  x0: Int, y0: Int, w: Int, h: Int)

  /** Tile-grid planning over decoded dimensions — the patching pass a
    * vision pipeline runs before a patch-based encoder (fixed tile
    * size, edge tiles clipped, row-major order). Pure integer
    * arithmetic from the decoded (width, height), flatMap per row —
    * map-only, replayable by any engine. A real implementation hands
    * each (x0, y0, w, h) crop box to the codec over the same batched
    * iterator as [[decodeFeatures]].
    */
  def tilePlan(decoded: Dataset[MediaFeatures], tile: Int = 64): Dataset[Tile] = {
    import decoded.sparkSession.implicits._
    decoded.flatMap { f =>
      val nx = (f.width + tile - 1) / tile
      val ny = (f.height + tile - 1) / tile
      for {
        ty <- 0 until ny
        tx <- 0 until nx
      } yield Tile(f.doc_id, tx, ty, tx * tile, ty * tile,
        math.min(tile, f.width - tx * tile), math.min(tile, f.height - ty * tile))
    }
  }

  /** One sampled frame's features. */
  case class FrameFeature(doc_id: Long, frame_idx: Int, n_bytes: Int, checksum: Long)

  /** Deterministic frame sampling over binary payloads — the
    * video-pipeline shape: the payload splits into fixed `frameBytes`
    * frames and every `stride`-th frame (0, stride, 2·stride, …) is
    * "decoded" (the same mod-p checksum stub standing in for a codec;
    * see [[stubDecode]]). Typed flatMap keeps it map-only and
    * batch-shaped: a real decoder initializes once per partition and
    * seeks per sampled frame, never materializing unsampled frames —
    * output is skinny (doc, frame) rows, not payload copies.
    */
  def frameSample(media: Dataset[MediaRow], frameBytes: Int = 256,
                  stride: Int = 4): Dataset[FrameFeature] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val n = r.payload.length
      val nFrames = (n + frameBytes - 1) / frameBytes
      (0 until nFrames by stride).iterator.map { fi =>
        val from = fi * frameBytes
        val until = math.min(n, from + frameBytes)
        val frame = java.util.Arrays.copyOfRange(r.payload, from, until)
        val (_, _, ck) = stubDecode(frame)
        FrameFeature(r.doc_id, fi, until - from, ck)
      }
    }
  }

  /** A 64-bit blockhash fingerprint, carried as 4×16-bit band values
    * (never one 64-bit word: the bands are the LSH join keys, and
    * 16-bit ints can't overflow in any engine's arithmetic).
    */
  case class PHash(doc_id: Long, n_bytes: Int, b0: Int, b1: Int, b2: Int, b3: Int)

  /** Blockhash-style perceptual fingerprint over payload bytes: the
    * payload splits into 64 contiguous blocks (integer boundaries
    * b·n/64), bit b = 1 iff block b's byte mean exceeds the global
    * mean — compared cross-multiplied (sum_b·n > total·len_b) so the
    * decision is exact integer arithmetic, replayable bit-for-bit by
    * an external engine. A real image pipeline computes the same
    * structure over decoded luma blocks; the byte stand-in keeps the
    * Spark-side shape (map-only typed kernel, banded output) real.
    */
  private[graft] def blockhash(payload: Array[Byte]): Array[Int] = {
    val n = payload.length
    val sums = new Array[Long](64)
    val lens = new Array[Int](64)
    var b = 0
    while (b < 64) {
      val from = (b.toLong * n / 64).toInt
      val until = ((b + 1).toLong * n / 64).toInt
      var s = 0L
      var i = from
      while (i < until) { s += payload(i) & 0xFF; i += 1 }
      sums(b) = s
      lens(b) = until - from
      b += 1
    }
    var total = 0L
    b = 0
    while (b < 64) { total += sums(b); b += 1 }
    val bands = new Array[Int](4)
    var bit = 0
    while (bit < 64) {
      // block mean > global mean without division: both sides fit
      // int64 (≤ 255·n², n ≤ ~10⁵ payloads here; chunk larger media)
      if (lens(bit) > 0 && sums(bit) * n > total * lens(bit))
        bands(bit / 16) |= 1 << (bit % 16)
      bit += 1
    }
    bands
  }

  /** Driver-contract wrapper: fingerprints over the documents-as-
    * media corpus, via the codegen'd `block_hash` expression
    * ([[graft.plans.BlockHash]] — same kernel as the typed [[phash]],
    * but staying inside whole-stage codegen with no encoder
    * round-trip).
    */
  def mmPhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("int").as("n_bytes"),
        graft.plans.BlockHash(col("payload")).as("bs"))
      .select(col("doc_id"), col("n_bytes"),
        col("bs").getItem(0).as("b0"), col("bs").getItem(1).as("b1"),
        col("bs").getItem(2).as("b2"), col("bs").getItem(3).as("b3"))

  /** Per-payload perceptual hash rows — map-only. */
  def phash(media: Dataset[MediaRow]): Dataset[PHash] = {
    import media.sparkSession.implicits._
    media.map { r =>
      val bs = blockhash(r.payload)
      PHash(r.doc_id, r.payload.length, bs(0), bs(1), bs(2), bs(3))
    }
  }

  /** Near-duplicate image pairs by banded Hamming join: fingerprints
    * sharing any 16-bit band become candidates (equi-join — by
    * pigeonhole, complete for Hamming distance ≤ 3 with 4 bands),
    * then the exact distance Σ bit_count(band_a XOR band_b) keeps
    * pairs ≤ `maxDist`. Same candidate-generation contract as the
    * SimHash operator: candidates are bucket-bounded, never
    * enumerated all-pairs. Band-key collisions are birthday-bounded
    * (n²/2¹⁶ per band on near-uniform fingerprints); a skewed corpus
    * (many blank images → one hot fingerprint) should dedup exact
    * copies first — exact dups pair at distance 0 anyway.
    */
  def phashPairs(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    phashPairsOf(Tables.documents(spark, dir), maxDist)

  /** [[phashPairs]] over any (doc_id, text) frame — the seam the
    * planted-variant detector Venn drives.
    */
  def phashPairsOf(documents: DataFrame, maxDist: Int): DataFrame = {
    // deliberately NOT localCheckpointed: the fingerprint pass is a
    // map-only scan (BlockHash over the text bytes), so each join
    // side recomputes it for the cost of one more columnar scan —
    // whereas materializing the n-row fingerprint frame as
    // deserialized localCheckpoint blocks re-inflates whole
    // partitions into object arrays on every consumer read (the
    // sf100 soak OOM'd an 80 g heap in MemoryStore.putIterator doing
    // exactly that at 5 M rows). Checkpoint sharing is for frames
    // that are EXPENSIVE to recompute and SMALL to hold (verified
    // pair sets); cheap-to-recompute bulk frames should stream.
    val p = documents
      .select(col("doc_id"),
        graft.plans.BlockHash(col("text").cast("binary")).as("bs"))
    val ex = p.select(col("doc_id"), col("bs"),
      posexplode(col("bs")).as(Seq("band", "v")))
    val a = ex.select(col("doc_id").as("doc_id_a"), col("bs").as("bs_a"),
      col("band"), col("v"))
    val b = ex.select(col("doc_id").as("doc_id_b"), col("bs").as("bs_b"),
      col("band"), col("v"))
    val hamming = (0 until 4)
      .map(k => expr(s"bit_count(bs_a[$k] ^ bs_b[$k])"))
      .reduce(_ + _)
    a.join(b, Seq("band", "v"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxDist)
      .select(col("doc_id_a"), col("doc_id_b"), col("hamming"))
      .distinct()
  }

  /** Connected components over the perceptual-hash near-dup graph —
    * the image-dedup grouping pass, completing the detector → groups
    * symmetry (jaccard → dedupGroups, simhash → docsSimhashGroups,
    * phash → here): edges are [[phashPairs]] semantics (banded,
    * pigeonhole-complete for d ≤ 3), components via
    * NearDup.starComponents (log-round stars — image dup clusters
    * chain through resize/re-encode generations). group_id = min
    * doc_id reachable.
    *
    * COLLAPSED rendering (round 10): docs are first canonicalized by
    * EXACT fingerprint — docs sharing `bs` are distance-0 duplicates,
    * and d(a, ·) ≡ d(b, ·) whenever bs_a = bs_b, so connectivity
    * through any member is connectivity through the class
    * representative (min doc_id of the fingerprint). The banded join
    * + star components run over DISTINCT fingerprints only, and every
    * doc inherits its fingerprint's component label. Result-identical
    * to components over the per-doc pair set (the DuckDB oracle still
    * replays that definition; group labels are unchanged because the
    * min doc_id of a component equals the min over its reps — each
    * rep IS its class minimum). The per-doc pair set is what this
    * removes: a dup-heavy corpus (the exact situation a dedup pass
    * exists for) makes it Σ m_fp² — the round-10 sf100 soak measured
    * 500k docs → 265k distinct fingerprints with 6.25M distance-0
    * pairs at sf10 already, and the 80 g heap OOM'd enumerating the
    * sf100 expansion inside the components checkpoint. Collapse
    * first, THEN band: candidates and state scale with distinct
    * fingerprints, never with duplicate multiplicity.
    */
  def phashGroups(spark: SparkSession, dir: String,
                  maxDist: Int = 3, maxRounds: Int = 30): DataFrame =
    phashGroupsOf(Tables.documents(spark, dir), maxDist, maxRounds)

  /** [[phashGroups]] over any (doc_id, text) frame — the seam the
    * collapse-equality spec drives with a planted-duplicate corpus.
    */
  def phashGroupsOf(documents: DataFrame,
                    maxDist: Int = 3, maxRounds: Int = 30): DataFrame =
    bandedFpGroups(
      documents.select(col("doc_id"),
        graft.plans.BlockHash(col("text").cast("binary")).as("bs")),
      maxDist, maxRounds)

  /** The ACTIONABLE media dedup decision — [[phashGroups]] reduced
    * to keep/drop, completing the detector→groups→keep symmetry
    * with the text path ([[NearDup.dedupKeep]]): per perceptual
    * group, keep the LARGEST payload (the keep-highest-resolution
    * heuristic media dedup uses — text docs rank by quality score,
    * media by fidelity proxy), ties to the smallest doc_id. One join
    * (groups ⋈ sizes) + one window over group_id. n_bytes is the
    * TRUE UTF-8 octet length of the payload — the same definition
    * [[mmAudioFp]] exposes, so one doc never reports two different
    * n_bytes within the fingerprint family (round-11 ADVICE).
    */
  def phashKeep(spark: SparkSession, dir: String,
                maxDist: Int = 3, maxRounds: Int = 30): DataFrame = {
    val groups = phashGroups(spark, dir, maxDist, maxRounds)
    val sizes = Tables.documents(spark, dir)
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id").orderBy(col("n_bytes").desc, col("doc_id"))
    groups.join(sizes, "doc_id")
      .withColumn("keep_id", first("doc_id").over(w))
      .select(col("doc_id"), col("group_id"), col("n_bytes"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("is_keep"))
  }

  /** documents → MediaRow dataset (text bytes as stand-in payloads). */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }

  /** VAD-style ACTIVE-SEGMENT extraction over the per-frame
    * energies — the silence/voice segmentation an audio pipeline
    * runs before transcription or sampling: a frame is ACTIVE when
    * its per-sample energy clears the floor (default 2048 — between
    * the corpus median ≈1980 and p75 ≈2100, so segmentation actually
    * discriminates; energy > n_samples·floor, exact integers), and
    * consecutive active frames form one segment
    * (the same lag-gap + running-sum islands rendering as the span
    * detectors). Per segment: start frame, length, total energy,
    * peak amplitude. One window + one groupBy over the map-only
    * [[frameEnergy]] rows; any engine replays it exactly.
    */
  def audioSegments(media: Dataset[MediaRow], frameBytes: Int = 64,
                    floorPerSample: Long = 2048L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    frameEnergy(media, frameBytes).toDF()
      .filter(col("energy") > col("n_samples").cast("long") * floorPerSample)
      .withColumn("nr", when(lag("frame_idx", 1).over(w).isNull
        .or(lag("frame_idx", 1).over(w) =!= col("frame_idx") - 1), 1L).otherwise(0L))
      .withColumn("seg_id", sum("nr").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("doc_id", "seg_id")
      .agg(min("frame_idx").as("start_frame"), count(lit(1)).as("n_frames"),
        sum("energy").as("total_energy"), max("peak").cast("long").as("max_peak"))
  }

  /** Driver-contract wrapper over the documents-as-media corpus. */
  def mmAudioSegments(spark: SparkSession, dir: String): DataFrame =
    audioSegments(mediaFromDocuments(spark, dir))

  /** The planted-variant media corpus: the documents plus (a) a
    * byte-IDENTICAL copy of every 10th item (re-upload of the same
    * file) and (b) a one-char "re-encode" of every (10k+5)th item
    * (last char replaced with 'x' — for single-byte scripts the
    * payload length is unchanged, so only the final block sums move
    * and the perceptual distance stays tiny; multibyte tails shift
    * every boundary, modeling a heavier re-encode). Deterministic
    * doc_id-derived planting — the same convention as piiScrub's
    * planted contacts: the corpus itself carries no binary dups, so
    * the detectors need positive rows to prove anything.
    */
  def plantedMedia(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // 1e11 offsets keep planted ids collision-free up to ~sf10000
    // corpora (real doc_ids stay far below 10^11)
    d.unionAll(d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id") + 100000000000L, col("text")))
      .unionAll(d.filter(col("doc_id") % 10 === 5)
        .select(col("doc_id") + 200000000000L,
          expr("concat(substr(text, 1, length(text) - 1), 'x')").as("text")))
  }

  /** Detector-coverage Venn for BINARY payloads — the multimodal
    * rendering of NearDup.docsDetectorVenn over the planted-variant
    * corpus: every item flagged by (a) exact content hash
    * (byte-identical copies) and (b) perceptual-hash grouping
    * (re-encodes land in a >1-size phash component), reduced to the
    * 2×2 cell table. The (exact=false, phash=true) cell is the
    * argument for running a perceptual detector at all;
    * (true, false) would mean the banding missed byte-identical
    * payloads (structurally impossible at distance 0 — the spec
    * pins that cell to zero).
    */
  def mmDetectorVenn(spark: SparkSession, dir: String,
                     maxDist: Int = 3, maxRounds: Int = 30): DataFrame = {
    // NOT localCheckpointed: plantedMedia is a map-only union of
    // document scans — each consumer re-reads it for the cost of a
    // columnar scan, whereas checkpointing the 1.3n-row text frame
    // held whole deserialized partitions resident (~84 GB at sf100)
    // AND fed the per-doc pair join below. Both legs stream.
    val media = plantedMedia(spark, dir)
    val d = media.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    // round-14 (guide §2.6 — overlap independent jobs, the
    // docsDetectorVenn treatment): the exact-hash leg is independent
    // of the phash star rounds, so it materializes on a second driver
    // thread (a NARROW (doc_id, bool) checkpoint — the wide text
    // frame stays unmaterialized per the note above) while the
    // grouping rounds run on this one; wall = max, not sum. Both
    // sides settle before either failure is rethrown, so an error on
    // one leg never leaks the other's running jobs past the exit.
    val (exact, pg) = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      import scala.util.Try
      val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val ef = Future(d.join(
          d.groupBy("h").agg(count(lit(1)).as("c")), "h")
          .select(col("doc_id"), (col("c") > 1).as("f_exact"))
          .localCheckpoint())
        // the COLLAPSED components path (phashGroupsOf): the planted
        // corpus is dup-heavy by construction, so per-doc pair
        // enumeration is Σ m_fp² — the sf100 solo wrote ~60 GB of pair
        // exchange into ENOSPC before this leg switched to
        // distinct-fingerprint components (result-identical, spec-pinned)
        val pgTry = Try(phashGroupsOf(media, maxDist, maxRounds))
        val exTry = Try(Await.result(ef, Duration.Inf))
        (exTry.get, pgTry.get)
      } finally pool.shutdown() // even when a fatal error escapes the Trys
    }
    val phash = pg.join(
      pg.groupBy("group_id").agg(count(lit(1)).as("gsz")), "group_id")
      .select(col("doc_id"), (col("gsz") > 1).as("f_phash"))
    exact.join(phash, "doc_id")
      .groupBy("f_exact", "f_phash")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Chromaprint-shaped AUDIO fingerprint kernel: 64 sign-of-delta
    * bits over 65 proportional block energies. The payload splits at
    * boundaries ⌊b·n/65⌋ (the [[blockhash]] scheme — PROPORTIONAL
    * blocks, so every byte contributes and short clips never leave a
    * zero-energy tail that would funnel the whole corpus into one
    * hot all-zero band bucket), block energy = Σ(centered sample)²,
    * and bit b = 1 iff block b+1's MEAN energy exceeds block b's —
    * compared cross-multiplied (e₊·len > e·len₊) so the decision is
    * exact integer arithmetic, replayable bit-for-bit. Real audio
    * pipelines compute the same rising-energy feature over
    * spectrogram bands (Chromaprint/AcoustID); the byte stand-in
    * keeps the Spark-side shape real per [[stubDecode]]. Carried as
    * 4×16-bit bands — the LSH join keys, pigeonhole-complete for
    * Hamming ≤ 3. Overflow bound: e·len ≤ 128²·n² needs n ≲ 2³²·65;
    * chunk larger media (same caveat as [[blockhash]]).
    */
  private[graft] def audioFpBands(payload: Array[Byte]): Array[Int] = {
    val n = payload.length
    val e = new Array[Long](65)
    val len = new Array[Int](65)
    var b = 0
    while (b < 65) {
      val from = (b.toLong * n / 65).toInt
      val until = ((b + 1).toLong * n / 65).toInt
      var s = 0L
      var i = from
      while (i < until) {
        val v = (payload(i) & 0xFF) - 128
        s += v.toLong * v
        i += 1
      }
      e(b) = s
      len(b) = until - from
      b += 1
    }
    val bands = new Array[Int](4)
    var bit = 0
    while (bit < 64) {
      if (e(bit + 1) * len(bit) > e(bit) * len(bit + 1))
        bands(bit / 16) |= 1 << (bit % 16)
      bit += 1
    }
    bands
  }

  /** Driver-contract wrapper: audio fingerprints over the documents-
    * as-media corpus via the codegen'd `audio_fp` expression
    * ([[graft.plans.AudioFpExpr]]) — map-only, the audio analog of
    * [[mmPhash]].
    */
  def mmAudioFp(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("int").as("n_bytes"),
        graft.plans.AudioFpExpr(col("payload")).as("bs"))
      .select(col("doc_id"), col("n_bytes"),
        col("bs").getItem(0).as("b0"), col("bs").getItem(1).as("b1"),
        col("bs").getItem(2).as("b2"), col("bs").getItem(3).as("b3"))

  /** Connected components over a banded 64-bit fingerprint frame
    * `(doc_id, bs: array<int>[4])` — the COLLAPSED rendering shared
    * by the image ([[phashGroupsOf]]) and audio
    * ([[audioDupGroupsOf]]) dedup paths: docs are canonicalized by
    * exact fingerprint first (d(a,·) ≡ d(b,·) whenever bs_a = bs_b,
    * so connectivity through any member is connectivity through the
    * class min-doc_id representative), the banded Hamming join +
    * star components run over DISTINCT fingerprints only, and every
    * doc inherits its class label. Result-identical to components
    * over the per-doc pair set; candidates and state scale with
    * distinct fingerprints, never duplicate multiplicity (the
    * round-10 sf100 lesson — see [[phashGroups]]).
    */
  private[graft] def bandedFpGroups(fp: DataFrame, maxDist: Int,
                                    maxRounds: Int): DataFrame = {
    // one node per distinct fingerprint, labeled by its min doc_id
    val rep = fp.groupBy("bs").agg(min("doc_id").as("doc_id"))
      .localCheckpoint(eager = false) // consumed by join sides + expansion
    val ex = rep.select(col("doc_id"), col("bs"),
      posexplode(col("bs")).as(Seq("band", "v")))
    val a = ex.select(col("doc_id").as("doc_id_a"), col("bs").as("bs_a"),
      col("band"), col("v"))
    val b = ex.select(col("doc_id").as("doc_id_b"), col("bs").as("bs_b"),
      col("band"), col("v"))
    val hamming = (0 until 4)
      .map(k => expr(s"bit_count(bs_a[$k] ^ bs_b[$k])"))
      .reduce(_ + _)
    val repPairs = a.join(b, Seq("band", "v"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .filter(hamming <= maxDist)
      .select(col("doc_id_a"), col("doc_id_b"))
      .distinct()
    val (repGroups, _) = graft.operators.NearDup.starComponents(
      rep.select("doc_id"), repPairs, maxRounds)
    // expand: every doc inherits its fingerprint class's label
    fp.join(rep.withColumnRenamed("doc_id", "rep_id"), "bs")
      .join(repGroups.withColumnRenamed("doc_id", "rep_id"), "rep_id")
      .select(col("doc_id"), col("group_id"))
  }

  /** Audio near-dup grouping — [[phashGroups]] for the audio
    * fingerprint: edges are banded-Hamming ≤ `maxDist` over
    * [[audioFpBands]], components via the shared collapsed path
    * ([[bandedFpGroups]]). group_id = min doc_id reachable.
    */
  def audioDupGroupsOf(documents: DataFrame,
                       maxDist: Int = 3, maxRounds: Int = 30): DataFrame =
    bandedFpGroups(
      documents.select(col("doc_id"),
        graft.plans.AudioFpExpr(col("text").cast("binary")).as("bs")),
      maxDist, maxRounds)

  /** Driver-contract wrapper over the documents-as-media corpus. */
  def mmAudioDupGroups(spark: SparkSession, dir: String,
                       maxDist: Int = 3, maxRounds: Int = 30): DataFrame =
    audioDupGroupsOf(Tables.documents(spark, dir), maxDist, maxRounds)

  /** The ACTIONABLE audio dedup decision — [[mmAudioDupGroups]]
    * reduced to keep/drop exactly like [[phashKeep]]: per group keep
    * the LARGEST payload (highest-fidelity proxy), ties to the
    * smallest doc_id. One join + one window over group_id. n_bytes
    * is the true UTF-8 octet length — consistent with [[mmAudioFp]]
    * (round-11 ADVICE).
    */
  def mmAudioDupKeep(spark: SparkSession, dir: String,
                     maxDist: Int = 3, maxRounds: Int = 30): DataFrame = {
    val groups = mmAudioDupGroups(spark, dir, maxDist, maxRounds)
    val sizes = Tables.documents(spark, dir)
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id").orderBy(col("n_bytes").desc, col("doc_id"))
    groups.join(sizes, "doc_id")
      .withColumn("keep_id", first("doc_id").over(w))
      .select(col("doc_id"), col("group_id"), col("n_bytes"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("is_keep"))
  }
}
