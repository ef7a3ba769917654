package graft.sources

import graft.plans.{ByteCount, CanonicalHash128, SpaceCut}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HFP message parsing — the reference's wire format
  * (hfp-5000.txt: `<recv_iso_ts> <mqtt_topic> <json_payload>` where
  * the topic is `/hfp/v1/<journey_type>/<temporal_type>/
  * <transport_mode>/<operator_id>/<vehicle_number>[/...]` and the
  * payload is `{"VP": {desi dir oper veh tst tsi spd hdg lat long
  * acc dl odo drst oday jrn line start}}`).
  *
  * All parsing is codegen'd: one byte scan for the first two spaces
  * cuts a line into its three parts ([[graft.plans.SpaceCut]]; payload
  * JSON contains spaces, so the cut stops at the second), a count of
  * `/` bytes keeps topics of at least 8 segments, one split of the
  * topic gives its fields, and from_json with an explicit schema reads
  * the payload (schema-on-read, no sampling pass — mandatory at
  * 100 TB where schema inference would scan everything twice).
  */
object HfpSource {

  /** VP (vehicle position) payload schema, per the public HFP v1 format. */
  val vpSchema: StructType = StructType(Seq(
    StructField("desi", StringType), StructField("dir", StringType),
    StructField("oper", LongType), StructField("veh", LongType),
    StructField("tst", StringType), StructField("tsi", LongType),
    StructField("spd", DoubleType), StructField("hdg", LongType),
    StructField("lat", DoubleType), StructField("long", DoubleType),
    StructField("acc", DoubleType), StructField("dl", LongType),
    StructField("odo", DoubleType), StructField("drst", LongType),
    StructField("oday", StringType), StructField("jrn", LongType),
    StructField("line", LongType), StructField("start", StringType)))

  val payloadSchema: StructType = StructType(Seq(StructField("VP", vpSchema)))

  /** Parse a DataFrame with a single `line` string column of raw HFP
    * feed lines into typed columns. Defensive against wire garbage —
    * Spark 4's ANSI mode makes element_at/cast/to_timestamp THROW, so
    * a single blank or truncated line would otherwise kill the batch
    * job or permanently fail the streaming query (which re-reads the
    * same file on restart). Malformed lines are dropped; malformed
    * numeric/timestamp fields go null via try_* variants.
    *
    * This is the ingest seam, batch or streaming: everything
    * downstream (dedup, analytics) sees only the parsed frame, never
    * the bus. [[readFeedStream]] feeds it text files; the reference's
    * Pulsar consumer (Main.java:17-24, `environment.conf` pulsar
    * block) maps onto it 1:1 with the public StreamNative
    * `pulsar-spark` connector, which this offline build does not ship:
    * {{{
    * spark.readStream.format("pulsar")
    *   .option("service.url", serviceUrl)          // pulsar://host:6650
    *   .option("topicsPattern", topicsPattern)     // multi-topic merge
    *   .load()
    *   .selectExpr("CAST(value AS STRING) AS line")
    * }}}
    * (same for batch `spark.read`). The reference's `multipleTopics`
    * merge is the connector's `topics`/`topicsPattern` option; its
    * producer side is `writeStream.format("pulsar")` on the deduped
    * frame.
    */
  def parseLines(lines: DataFrame): DataFrame = {
    def part(i: Int): Column = SpaceCut(col("line"), i)
    def t(i: Int): Column = element_at(split(col("topic"), "/"), i)
    lines
      .filter(SpaceCut.cuts(col("line")))
      .select(
        try_to_timestamp(part(1)).as("recv_ts"),
        part(2).as("topic"),
        part(3).as("payload"))
      .filter(ByteCount(col("topic"), '/') >= 7)
      .withColumn("vp", from_json(col("payload"), payloadSchema).getField("VP"))
      .select(
        col("recv_ts"),
        t(3).as("version"),
        t(4).as("journey_type"),
        t(5).as("temporal_type"),
        t(6).as("transport_mode"),
        t(7).try_cast("long").as("operator_id"),
        t(8).try_cast("long").as("vehicle_number"),
        col("vp.desi").as("desi"), col("vp.dir").as("dir"),
        col("vp.oper").as("oper"), col("vp.veh").as("veh"),
        expr("try_to_timestamp(vp.tst)").as("tst"), col("vp.tsi").as("tsi"),
        col("vp.spd").as("spd"), col("vp.hdg").as("hdg"),
        col("vp.lat").as("lat"), col("vp.long").as("lon"),
        col("vp.acc").as("acc"), col("vp.dl").as("dl"),
        col("vp.odo").as("odo"), col("vp.drst").as("drst"),
        col("vp.oday").as("oday"), col("vp.jrn").as("jrn"),
        col("vp.line").as("line"), col("vp.start").as("start"),
        col("payload"))
  }

  /** CANONICAL content identity: the payload re-serialized with
    * recursively sorted keys ([[graft.plans.CanonicalJson]]) — the
    * direct analog of the reference's protobuf
    * re-serialize-before-hash (Deduplicator.java:71-106, "the rawHash
    * differs in the order of bytes"). Two wire payloads that differ
    * only in JSON key order, whitespace, or numeric spelling ("8.50"
    * vs "8.5") canonicalize to one string, so delivery-side
    * formatting variance cannot defeat dedup; a MALFORMED payload
    * passes through verbatim and keeps its own identity (a
    * schema-projected re-serialization would collapse all garbage —
    * and any schema-external field — into one key and silently drop
    * real messages as duplicates).
    */
  def canonicalContentKey: Column = graft.plans.CanonicalJson(col("payload"))

  /** The reference's EXACT stored hash value: murmur3_128 with the
    * pinned seed 42 over the canonical payload bytes
    * (Deduplicator.java:27-28, 46 — the static seed exists precisely
    * so hashes can be shared with external storage). Byte-for-byte
    * Guava-compatible ([[graft.plans.Murmur3x64_128]]), so a graft
    * pipeline and the reference service can dedup against the SAME
    * external hash store. One fused kernel: the canonical bytes are
    * hashed where the canonicalizer wrote them.
    */
  def contentHash128: Column = CanonicalHash128(col("payload"), 42)

  /** Schema tags whose payloads are canonicalized — the analog of the
    * reference's payload dispatch (Deduplicator.parsePayload,
    * Deduplicator.java:71-106): a message carries a schema tag; a
    * RECOGNIZED schema is canonicalized (protobuf re-serialize there,
    * sorted-key JSON re-serialize here) so byte-order variance can't
    * defeat dedup, and everything else — unknown schema, missing tag,
    * unparseable payload — passes through VERBATIM, exactly
    * `mappedData.orElse(sourceData)`. (The reference's schema filter
    * also admits PassengerCount but its parser throws for it, so
    * PassengerCount messages observably fall back to raw bytes too —
    * modeled here by simply not listing it.)
    */
  val canonicalTags: Seq[String] = Seq("mqtt-raw", "hfp")

  /** Schema-dispatched canonical content: one CASE WHEN over the schema
    * tag, per-row map work (no shuffle, codegen'd children). A null tag
    * fails the IN test and passes through like an unknown one. The
    * CanonicalJson kernel already passes malformed input through
    * verbatim, so the parse-failure fallback needs no extra branch.
    */
  def canonicalPayload(schema: Column, payload: Column): Column =
    when(schema.isin(canonicalTags: _*), graft.plans.CanonicalJson(payload))
      .otherwise(payload)

  /** Multi-schema feed frame → same frame plus the dedup content key
    * (`content_key`): one logical stream, several wire schemas, one
    * dedup — the reference's exact topology.
    */
  def withContentKey(df: DataFrame, schemaCol: String = "schema",
                     payloadCol: String = "payload"): DataFrame =
    df.withColumn("content_key", canonicalPayload(col(schemaCol), col(payloadCol)))

  /** Streaming read of an HFP text feed directory — the file-source
    * analog of the reference's Pulsar consumer (new files = new
    * messages; downstream dedup/analytics are identical).
    */
  def readFeedStream(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    parseLines(spark.readStream.text(path).withColumnRenamed("value", "line"))
}
