package graft

import graft.operators.Dedup
import graft.streaming.DedupStream
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("firstSeen keeps exactly one row per content key, the earliest") {
    val ev = Tables.events(spark, sf)
    val deduped = Dedup.firstSeen(ev)
    val nKeys = ev.select(Dedup.contentCols.map(col): _*).distinct().count()
    assert(deduped.count() === nKeys)
    // survivor of each group is the min (ts, event_id)
    val viaMin = ev.groupBy(Dedup.contentCols.map(col): _*)
      .agg(min(struct(col("ts"), col("event_id"))).as("m"))
      .select(col("m.event_id"))
    val a = deduped.select("event_id").collect().map(_.getLong(0)).toSet
    val b = viaMin.collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("firstSeen is idempotent") {
    val once = Dedup.firstSeen(Tables.events(spark, sf))
    assert(Dedup.firstSeen(once).count() === once.count())
  }

  test("multi-topic merge dedup equals plain dedup (overlap collapses)") {
    val plain = Dedup.dedupFirst(spark, sf).select("event_id")
      .collect().map(_.getLong(0)).toSet
    val multi = Dedup.dedupMultiTopic(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(multi === plain)
  }

  test("ttl chain matches an independent naive replay") {
    // independent oracle: group in memory, replay the cache semantics
    // (put-on-miss only, expire-after-write) literally
    val rows = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect()
    val ttlMs = 10L * 60 * 1000
    val expect = rows
      .map(r => (s"${r.getLong(2)}|${r.getString(3)}|${r.getDouble(4)}|${r.getString(5)}",
        r.getTimestamp(1).getTime, r.getLong(0)))
      .groupBy(_._1).values.flatMap { g =>
        var anchor = Long.MinValue
        g.sortBy(t => (t._2, t._3)).flatMap { case (_, ts, id) =>
          if (anchor != Long.MinValue && ts - anchor <= ttlMs) None
          else { anchor = ts; Some(id) }
        }
      }.toSet
    val got = Dedup.dedupTtlChain(spark, sf).collect().map(_.getLong(0)).toSet
    assert(got === expect)
  }

  test("canonicalJson collapses key-reordered props (re-serialize analog)") {
    import spark.implicits._
    val df = Seq("""{"a":1,"b":2}""", """{ "b":2, "a":1 }""", """{"a":1,"b":3}""")
      .toDF("props")
    val c = df.select(graft.plans.CanonicalJson(col("props")).as("c"))
      .collect().map(_.getString(0))
    assert(c(0) === c(1), "key order / whitespace must not change identity")
    assert(c(0) !== c(2), "different values must stay distinct")
  }

  test("canonicalJson: nested objects sort recursively; garbage stays distinct") {
    import spark.implicits._
    val df = Seq(
      """{"z":{"b":2,"a":1},"a":"x"}""",
      """{"a":"x","z":{"a":1,"b":2}}""", // same content, reordered at both levels
      """{"z":{"b":9,"a":1},"a":"x"}""", // nested value differs → distinct
      "not json at all",
      "also { not json").toDF("props")
    val c = df.select(graft.plans.CanonicalJson(col("props")).as("c"))
      .collect().map(_.getString(0))
    assert(c(0) === c(1), "nested key order must not change identity")
    assert(c(0) !== c(2), "nested values must stay distinct")
    assert(c(3) === "not json at all" && c(4) === "also { not json",
      "unparseable input passes through verbatim, never merged")
  }

  test("chainPrimes: duplicate does not refresh the anchor; expiry readmits") {
    def ev(id: Long, tMs: Long) =
      DedupStream.Ev(id, new java.sql.Timestamp(tMs), 1L, "x", 1.0, "{}")
    val ttl = 100L
    // t=0 prime; t=90 dup (within ttl); t=150 prime (anchor still 0,
    // 150-0 > ttl — the t=90 dup must NOT have extended it)
    val (out, anchor) = DedupStream.chainPrimes(
      Seq(ev(1, 0), ev(2, 90), ev(3, 150)), ttl, None)
    assert(out.map(_.event_id) === Seq(1L, 3L))
    assert(anchor === Some(150L))
  }
}
