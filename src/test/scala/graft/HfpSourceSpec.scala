package graft

import graft.sources.HfpSource
import org.apache.spark.sql.functions._

class HfpSourceSpec extends SparkSpec {

  // sample lines in the public HFP v1 wire format (same shape as the
  // reference's integration corpus: recv-ts, MQTT topic, VP json)
  private val sample = Seq(
    """2018-10-09T04:32:52.549043+0000 /hfp/v1/deadrun/ongoing/train/0090/06313 {"VP":{"desi":null,"dir":null,"oper":null,"veh":6313,"tst":"2018-10-09T04:32:52Z","tsi":1539059572,"spd":0.00,"hdg":189,"lat":60.171690,"long":24.941684,"acc":-0.09,"dl":0,"odo":null,"drst":null,"oday":null,"jrn":null,"line":null,"start":null}}""",
    """2018-10-09T04:32:52.549698+0000 /hfp/v1/journey/ongoing/bus/0018/00640/1057/1/Munkkiniemi/07:32/1471139/3/60;25/20/38/71 {"VP":{"desi":"57","dir":"1","oper":18,"veh":640,"tst":"2018-10-09T04:32:52Z","tsi":1539059572,"spd":8.53,"hdg":314,"lat":60.237024,"long":25.081113,"acc":0.74,"dl":-48,"odo":136,"drst":0,"oday":"2018-10-09","jrn":71,"line":74,"start":"07:32"}}""",
    // exact duplicate payload of line 2, delivered later (other feed)
    """2018-10-09T04:32:52.900000+0000 /hfp/v1/journey/ongoing/bus/0018/00640/1057/1/Munkkiniemi/07:32/1471139/3/60;25/20/38/71 {"VP":{"desi":"57","dir":"1","oper":18,"veh":640,"tst":"2018-10-09T04:32:52Z","tsi":1539059572,"spd":8.53,"hdg":314,"lat":60.237024,"long":25.081113,"acc":0.74,"dl":-48,"odo":136,"drst":0,"oday":"2018-10-09","jrn":71,"line":74,"start":"07:32"}}""")

  test("parses topic path and VP payload into typed columns") {
    import spark.implicits._
    val df = HfpSource.parseLines(sample.toDF("line"))
    val rows = df.collect()
    assert(rows.length === 3)
    val r0 = df.filter(col("journey_type") === "deadrun").collect()(0)
    assert(r0.getAs[String]("transport_mode") === "train")
    assert(r0.getAs[Long]("operator_id") === 90L)
    assert(r0.getAs[Long]("vehicle_number") === 6313L)
    assert(r0.getAs[Long]("veh") === 6313L)
    assert(r0.isNullAt(r0.fieldIndex("desi")))
    val r1 = df.filter(col("journey_type") === "journey").collect()(0)
    assert(r1.getAs[String]("desi") === "57")
    assert(math.abs(r1.getAs[Double]("lat") - 60.237024) < 1e-9)
    assert(r1.getAs[Double]("spd") === 8.53)
  }

  test("wire garbage is dropped or nulled, never a crash (ANSI mode)") {
    import spark.implicits._
    val garbage = Seq(
      "", // blank line
      "only-one-token",
      "2018-10-09T04:32:52Z /short/topic {}", // topic < 8 segments
      // non-numeric operator/vehicle + unparseable timestamps
      """not-a-ts /hfp/v1/journey/ongoing/bus/XX/YY/extra {"VP":{"tst":"garbage"}}""",
      sample.head)
    val df = HfpSource.parseLines(garbage.toDF("line"))
    val rows = df.collect() // must not throw
    assert(rows.length === 2) // bad-topic + empty lines dropped
    val bad = df.filter(col("transport_mode") === "bus").collect()(0)
    assert(bad.isNullAt(bad.fieldIndex("operator_id")))
    assert(bad.isNullAt(bad.fieldIndex("recv_ts")))
    assert(bad.isNullAt(bad.fieldIndex("tst")))
  }

  test("payload content key dedups the duplicated feed line") {
    import spark.implicits._
    val df = HfpSource.parseLines(sample.toDF("line"))
    assert(df.count() === 3)
    assert(df.select(col("payload")).distinct().count() === 2)
  }

  test("canonical content key collapses key-reordered JSON payloads (re-serialize analog)") {
    import spark.implicits._
    val a = """2018-10-09T04:32:52.549043+0000 /hfp/v1/journey/ongoing/bus/0018/00640/x {"VP":{"desi":"57","dir":"1","veh":640,"spd":8.53}}"""
    val b = """2018-10-09T04:32:53.000000+0000 /hfp/v1/journey/ongoing/bus/0018/00640/x {"VP":{"veh":640,  "spd":8.53,"desi":"57","dir":"1"}}"""
    val df = HfpSource.parseLines(Seq(a, b).toDF("line"))
    // raw payload strings differ (key order + whitespace)...
    assert(df.select(col("payload")).distinct().count() === 2)
    // ...but the canonical re-serialized key collapses them to one prime
    assert(df.select(HfpSource.canonicalContentKey).distinct().count() === 1)
    // two DIFFERENT malformed payloads must NOT share a canonical key
    val garbage = Seq(
      """2018-10-09T04:32:52Z /hfp/v1/journey/ongoing/bus/0018/00640/x {broken-one""",
      """2018-10-09T04:32:53Z /hfp/v1/journey/ongoing/bus/0018/00640/x {other-broken""")
    val g = HfpSource.parseLines(garbage.toDF("line"))
    assert(g.select(HfpSource.canonicalContentKey).distinct().count() === 2)
  }

  test("blank payloads keep their own keys, distinct from a literal null payload") {
    import spark.implicits._
    val topic = "/hfp/v1/journey/ongoing/bus/0018/00640/x"
    val payloads = Seq("", "  ", "null")
    val df = HfpSource.parseLines(payloads.map(p => s"2018-10-09T04:32:52Z $topic $p").toDF("line"))
    val rows = df.select(col("payload"), HfpSource.canonicalContentKey.as("key"),
      hex(HfpSource.contentHash128).as("h")).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq === payloads.sorted)
    // a blank payload holds no JSON value and passes through verbatim
    rows.foreach(r => assert(r.getString(1) === r.getString(0)))
    assert(rows.map(_.getString(1)).distinct.length === 3)
    assert(rows.map(_.getString(2)).distinct.length === 3)
  }

  /** `parseLines` as it was written with `split(line, ' ', 3)` and
    * `size(split(topic, "/")) >= 8`: the oracle of the byte cut.
    */
  private def splitParseLines(lines: org.apache.spark.sql.DataFrame) = {
    val parts = split(col("line"), " ", 3)
    def t(i: Int) = element_at(split(col("topic"), "/"), i)
    lines
      .filter(size(split(col("line"), " ", 3)) >= 3)
      .select(
        expr("try_to_timestamp(element_at(split(line, ' ', 3), 1))").as("recv_ts"),
        element_at(parts, 2).as("topic"),
        element_at(parts, 3).as("payload"))
      .filter(size(split(col("topic"), "/")) >= 8)
      .withColumn("vp", from_json(col("payload"), HfpSource.payloadSchema).getField("VP"))
      .select(
        col("recv_ts"), t(3).as("version"), t(4).as("journey_type"), t(5).as("temporal_type"),
        t(6).as("transport_mode"), t(7).try_cast("long").as("operator_id"),
        t(8).try_cast("long").as("vehicle_number"),
        col("vp.desi").as("desi"), col("vp.dir").as("dir"), col("vp.oper").as("oper"),
        col("vp.veh").as("veh"), expr("try_to_timestamp(vp.tst)").as("tst"),
        col("vp.tsi").as("tsi"), col("vp.spd").as("spd"), col("vp.hdg").as("hdg"),
        col("vp.lat").as("lat"), col("vp.long").as("lon"), col("vp.acc").as("acc"),
        col("vp.dl").as("dl"), col("vp.odo").as("odo"), col("vp.drst").as("drst"),
        col("vp.oday").as("oday"), col("vp.jrn").as("jrn"), col("vp.line").as("line"),
        col("vp.start").as("start"), col("payload"))
  }

  test("the byte cut parses every line as split(line, ' ', 3) did") {
    import spark.implicits._
    val ts = "2018-10-09T04:32:52Z"
    val t8 = "/hfp/v1/journey/ongoing/bus/0018/00640"
    val vp = """{"VP":{"desi":"57","veh":640,"spd":8.53,"tst":"2018-10-09T04:32:52Z"}}"""
    val text = Seq(
      "", // empty line
      s"$ts $t8", // one space
      s" $t8 $vp", // leading space: empty receive time
      s"$ts  $t8 $vp", // double space: empty topic
      s"$ts $t8  $vp", // double space: the payload starts with one
      s"$ts\t$t8 $vp", // a tab is no separator
      s"$ts $t8 ${vp.replace(",", ", ")}",
      s"$ts $t8/K\u00e4mppi/\u65e5\u672c $vp", // multi-byte UTF-8 in the topic
      s"$ts $t8 " + "{\"VP\":{\"desi\":\"\u00e4\u65e5\ud83d\ude00\",\"veh\":1}}", // and in the payload
      s"$ts /hfp/v1/journey/ongoing/bus/0018 $vp", // exactly 7 segments
      s"$ts $t8 $vp", // exactly 8 segments
      s"$ts /hfp/v1/journey/ongoing/bus/0018/ $vp", // 8 with an empty last one
      s"$ts $t8 ")
    val invalid = Seq( // invalid UTF-8 in the topic and in the payload
      Array.concat(s"$ts $t8/".getBytes("UTF-8"), Array(0xff.toByte, 0xc0.toByte), s" $vp".getBytes("UTF-8")),
      Array.concat((s"$ts $t8 " + "{\"VP\":{\"desi\":\"").getBytes("UTF-8"),
        Array(0xed.toByte, 0xa0.toByte, 0x80.toByte), "\"}}".getBytes("UTF-8")))
    val lines = text.toDF("line").union(invalid.toDF("b").select(col("b").cast("string").as("line")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).toSeq
    val cut = rows(HfpSource.parseLines(lines))
    assert(cut === rows(splitParseLines(lines)))
    assert(cut.length === 10)
  }

  test("multi-schema dispatch: two schemas through one dedup, unknown schema passes raw") {
    import spark.implicits._
    // one logical stream, three wire schemas (Deduplicator.parsePayload
    // analog): recognized schemas canonicalize before dedup, unknown
    // schemas keep their raw bytes as identity
    val feed = Seq(
      // hfp: same content, different key order/whitespace → one prime
      (1L, "hfp", """{"VP":{"veh":640,"spd":8.53}}"""),
      (2L, "hfp", """{ "VP" : {"spd":8.53,"veh":640} }"""),
      // mqtt-raw: same content, different formatting → one prime
      (3L, "mqtt-raw", """{"topic":"/t","payload":"x"}"""),
      (4L, "mqtt-raw", """{"payload":"x","topic":"/t"}"""),
      // UNKNOWN schema (incl. the reference's passenger-count, whose
      // parser observably falls back to raw): byte-identical dedups,
      // formatting variants do NOT
      (5L, "passenger-count", """{"count":9,"veh":1}"""),
      (6L, "passenger-count", """{"veh":1,"count":9}"""),
      (7L, null, """{"VP":{"veh":640,"spd":8.53}}"""),
      // unparseable payload under a recognized schema: verbatim bytes
      (8L, "hfp", """{broken-one"""),
      (9L, "hfp", """{broken-two""")).toDF("id", "schema", "payload")
    val keyed = graft.sources.HfpSource.withContentKey(feed)
    val survivors = keyed
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("content_key").orderBy("id")))
      .filter(col("rn") === 1)
      .select("id").as[Long].collect().toSet
    // 1+2 collapse, 3+4 collapse; 5,6 distinct (raw bytes differ);
    // 7 distinct from 1 only because its schema is untagged — its raw
    // bytes EQUAL payload 1's, and raw id-1 bytes were canonicalized
    // away, so both survive; 8,9 distinct garbage
    assert(survivors === Set(1L, 3L, 5L, 6L, 7L, 8L, 9L))
  }

  test("batch + streaming reads go through the FeedSource seam unchanged") {
    // memory lines and a text file (what the file stream reads) take the
    // one parseLines path and parse to the same rows
    import spark.implicits._
    val viaMemory = HfpSource.parseLines(sample.toDF("line")).collect()
    assert(viaMemory.length === 3)
    val dir = java.nio.file.Files.createTempDirectory("hfp_seam").toFile
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir.getAbsolutePath, "feed.txt"),
        sample.mkString("\n").getBytes("UTF-8"))
      val viaFile = HfpSource.parseLines(
        spark.read.text(dir.getAbsolutePath).withColumnRenamed("value", "line")).collect()
      assert(viaFile.map(_.toString).sorted === viaMemory.map(_.toString).sorted)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("streaming feed: files -> parse -> dedup, end to end") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hfp_feed").toFile
    try {
      val out = DedupHelper.run(spark, dir.getAbsolutePath, sample)
      // 3 messages, one duplicate payload → 2 survivors
      assert(out === 2)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}

/** Drives the streaming path: write feed files, run the file-source
  * stream through payload dedup into a memory sink.
  */
object DedupHelper {
  def run(spark: org.apache.spark.sql.SparkSession, dir: String,
          lines: Seq[String]): Long = {
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "batch1.txt"),
      lines.mkString("\n").getBytes("UTF-8"))
    val parsed = HfpSource.readFeedStream(spark, dir)
      .withColumn("ts", coalesce(col("tst"), col("recv_ts")))
    val deduped = parsed
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("payload")
    val q = deduped.writeStream.format("memory").queryName("hfp_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.table("hfp_out").count()
    } finally q.stop()
  }
}
