package perfbench

import java.util.{BitSet, SplittableRandom}

/** Deterministic HFP feed generator plus the stream oracle.
  *
  * Traffic shape: `vehicles` vehicles each emit one VP message per
  * tick; feed A carries every message, feed B the same messages with
  * `LossB` of them lost. Within a tick the copies of both feeds arrive
  * in a seeded random order, so either feed's copy may come first.
  * About 1 in 8 feed-B copies differ from feed A's bytes (key order,
  * whitespace) but are equal after canonicalization. About 0.1% of
  * lines are malformed: blank, truncated JSON, or a short topic.
  *
  * Every line gets a global sequence number `seq`; its receive
  * timestamp is `BaseMs + seq * MsPerLine`, so event time is
  * compressed (one wall second of the paced feed covers
  * `rate * MsPerLine` ms of event time) and the line is identified by
  * its receive millis, which the pipeline forwards as `event_id`.
  *
  * Oracle: the expected primes are the first-arriving copy of each
  * logical message — the copy in the earliest trigger, and within one
  * trigger the earliest receive time (the two feeds are separate
  * streams, so a trigger may take one feed's lines before the
  * other's) — plus every truncated-JSON line: malformed JSON passes
  * through `CanonicalJson` verbatim and keeps its own identity. Blank
  * and short-topic lines are dropped by `HfpSource.parseLines` and are
  * never primes.
  */
final class HfpGen(seed: Long, vehicles: Int) {
  import HfpGen._

  private val rng = new SplittableRandom(seed)
  // logical message of every generated line (Dropped: never a prime)
  private var messages = new Array[Long](1 << 16)
  private val forwarded = new BitSet()
  private var nextSeq = 0L
  private var tick = 0L
  // lines of the current tick not yet handed out: (feed, line body, message)
  private var pending: Array[(Int, String, Long)] = Array.empty
  private var pendingPos = 0
  private var badIds = 0L
  private var malformedSerial = 0L

  def generated: Long = synchronized(nextSeq)

  /** The next `n` lines, split by feed. */
  def next(n: Int): Chunk = synchronized {
    val a = Array.newBuilder[String]
    val b = Array.newBuilder[String]
    val aSeq = Array.newBuilder[Long]
    val bSeq = Array.newBuilder[Long]
    var i = 0
    while (i < n) {
      if (pendingPos >= pending.length) refill()
      val (feed, body, msg) = pending(pendingPos)
      pendingPos += 1
      val seq = nextSeq
      nextSeq += 1
      if (seq >= messages.length) messages = java.util.Arrays.copyOf(messages, messages.length * 2)
      messages(seq.toInt) = msg
      val line = if (body.isEmpty) "" else s"${isoMs(BaseMs + seq * MsPerLine)} $body"
      if (feed == 0) { a += line; aSeq += seq } else { b += line; bSeq += seq }
      i += 1
    }
    Chunk(a.result(), b.result(), aSeq.result(), bSeq.result())
  }

  /** Builds one tick: both feeds' copies in a seeded arrival order,
    * with malformed lines mixed in.
    */
  private def refill(): Unit = {
    val tst = isoMs(BaseMs + tick * TickMs)
    val copies = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Boolean)] // (vehicle, feed, variant)
    var v = 0
    while (v < vehicles) {
      copies += ((v, 0, false))
      if (rng.nextDouble() >= LossB) copies += ((v, 1, rng.nextInt(8) == 0))
      v += 1
    }
    var i = copies.length - 1
    while (i > 0) { // Fisher-Yates: seeded arrival order
      val j = rng.nextInt(i + 1)
      val t = copies(i); copies(i) = copies(j); copies(j) = t
      i -= 1
    }
    val out = Array.newBuilder[(Int, String, Long)]
    copies.foreach { case (veh, feed, variant) =>
      if (rng.nextInt(1000) == 0) out += malformed(veh)
      out += ((feed, s"${topic(veh)} ${payload(veh, tst, variant)}", tick * vehicles + veh))
    }
    pending = out.result()
    pendingPos = 0
    tick += 1
  }

  private def malformed(veh: Int): (Int, String, Long) = {
    val feed = rng.nextInt(2)
    rng.nextInt(3) match {
      case 0 => (feed, "", Dropped)
      case 1 => // a run-unique serial keeps every truncated body distinct
        malformedSerial += 1
        (feed, s"${topic(veh)} {\"VP\":{\"desi\":\"550\",\"veh\":$veh,\"tsi\":$malformedSerial,\"spd\":",
          -malformedSerial)
      case _ => (feed, s"/hfp/v2/journey/ongoing {\"VP\":{\"veh\":$veh}}", Dropped)
    }
  }
  private def topic(veh: Int): String =
    f"/hfp/v2/journey/ongoing/vp/bus/0022/$veh%05d/1550/1/Kamppi/08:45/1020105/5/60;24/19/83/74"

  /** The VP payload of vehicle `veh` at the current tick; `variant`
    * reorders keys and adds whitespace without changing the content.
    */
  private def payload(veh: Int, tst: String, variant: Boolean): String = {
    val h = mix(tick * 100003L + veh)
    val fields = Seq(
      "\"desi\":\"550\"", "\"dir\":\"1\"", "\"oper\":22", s"\"veh\":$veh",
      s"\"tst\":\"$tst\"", s"\"tsi\":${tick * 100000L + veh}",
      s"\"spd\":${(h & 0xfff) / 100.0}", s"\"hdg\":${(h >>> 12) % 360}",
      s"\"lat\":${60.1 + ((h >>> 21) & 0xffff) / 1e6}",
      s"\"long\":${24.9 + ((h >>> 37) & 0xffff) / 1e6}",
      "\"acc\":0.1", s"\"dl\":${((h >>> 53) & 0x3f) - 32}", s"\"odo\":${tick * 7 + veh}",
      "\"drst\":0", "\"oday\":\"2026-10-17\"", s"\"jrn\":${veh % 900}",
      "\"line\":550", "\"start\":\"08:45\"")
    if (variant) fields.reverse.mkString("{ \"VP\" : { ", " , ", " } }")
    else fields.mkString("{\"VP\":{", ",", "}}")
  }

  /** Records the primes the sink forwarded (their `event_id`s). */
  def observePrimes(ids: Array[Long]): Unit = synchronized {
    ids.foreach { id =>
      val off = id - BaseMs
      val seq = off / MsPerLine
      if (off < 0 || off % MsPerLine != 0 || seq >= nextSeq || forwarded.get(seq.toInt)) badIds += 1
      else forwarded.set(seq.toInt)
    }
  }

  /** Scores the forwarded primes against the lines' consumption
    * order: `triggers` lists, per trigger in execution order, the
    * sequence numbers it consumed. Returns (expected primes, missing,
    * extra).
    */
  def verdict(triggers: Iterator[Array[Long]]): (Long, Long, Long) = synchronized {
    val expected = new BitSet()
    val seenMsg = new java.util.HashSet[java.lang.Long]()
    triggers.foreach { seqs =>
      java.util.Arrays.sort(seqs)
      seqs.foreach { seq =>
        val m = messages(seq.toInt)
        if (m != Dropped && seenMsg.add(m)) expected.set(seq.toInt)
      }
    }
    val missing = expected.clone().asInstanceOf[BitSet]
    missing.andNot(forwarded)
    val extra = forwarded.clone().asInstanceOf[BitSet]
    extra.andNot(expected)
    (expected.cardinality().toLong, missing.cardinality().toLong, extra.cardinality() + badIds)
  }
}


/** Generated lines of both feeds with their sequence numbers. */
final case class Chunk(a: Array[String], b: Array[String], aSeq: Array[Long], bSeq: Array[Long]) {
  def size: Int = a.length + b.length
}

object HfpGen {
  val BaseMs: Long = 1792216800000L // 2026-10-17T06:00:00Z
  /** Event-time ms between consecutive lines. */
  val MsPerLine: Long = 240L
  /** Event-time ms between ticks (kept apart from line spacing). */
  val TickMs: Long = 1000L
  val LossB: Double = 0.03
  /** Message id of lines the parser drops. */
  val Dropped: Long = Long.MinValue

  private val isoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)
  def isoMs(ms: Long): String = isoFmt.format(java.time.Instant.ofEpochMilli(ms))

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
