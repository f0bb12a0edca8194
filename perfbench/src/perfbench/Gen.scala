package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The seeded, single-threaded input generator. Everything the program
  * sees comes from here: Debezium-JSON and Avro engagement envelopes,
  * the content dimension's change stream, and the events table of the
  * batch_ops workload. The same seed gives byte-identical inputs.
  */
object Gen {

  val EventTypes: Array[String] = Array("play", "pause", "finish", "click")
  val Devices: Array[String] = Array("ios", "android", "web", "desktop")
  val ContentTypes: Array[String] = Array("podcast", "video", "newsletter")

  /** 2024-01-01T00:00:00Z. Event time advances 200 ms per sequence
    * number, so a backlog of 60k events spans over three hours of
    * event time and the hourly rollup closes windows; each event is
    * then pulled back by up to 20 s of disorder (inside the 30 s
    * watermark, so no valid event is late). */
  val BaseMicros = 1704067200000000L
  val StepMicros = 200000L
  val DisorderMicros = 20000000L

  /** Per mille of envelopes that are malformed JSON / truncated Avro,
    * and of envelopes that carry no id. Both are dropped by the unwrap. */
  val MalformedPerMille = 4
  val IdlessPerMille = 4

  final case class Event(id: Long, contentId: String, userId: String,
      eventType: String, tsMicros: Long, durationMs: Long, device: String,
      session: Int, kind: Int) {
    def valid: Boolean = kind == 0
  }
  val Valid = 0
  val Malformed = 1
  val Idless = 2

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  def fmtTs(micros: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt, ZoneOffset.UTC).format(tsFmt)

  /** Engagement events with ids from `firstId` on; `content` picks a
    * content id from the generator's random stream. */
  final class Events(seed: Long, firstId: Long, content: SplittableRandom => String) {
    private val rnd = new SplittableRandom(seed)
    private var seq = firstId

    def next(): Event = {
      val id = seq
      seq += 1
      val k = rnd.nextInt(1000)
      val kind = if (k < MalformedPerMille) Malformed
        else if (k < MalformedPerMille + IdlessPerMille) Idless else Valid
      val et = EventTypes(rnd.nextInt(EventTypes.length))
      val dur = if (et == "click") -1L else 1000L + rnd.nextLong(3000000L)
      Event(id, content(rnd), "user-" + rnd.nextInt(1000), et,
        BaseMicros + id * StepMicros - rnd.nextLong(DisorderMicros + 1), dur,
        Devices(rnd.nextInt(Devices.length)), rnd.nextInt(97), kind)
    }

    def take(n: Int): Array[Event] = Array.fill(n)(next())
  }

  /** Uniform picks over the reference's 15-row catalogue. */
  def uniform15(r: SplittableRandom): String = "content-" + r.nextInt(15)

  /** Zipf(1.0) picks over an `n`-row catalogue (ranks shuffled by the
    * seed), with `unknownPerMille` ids that no catalogue row carries. */
  def zipf(seed: Long, n: Int, unknownPerMille: Int): SplittableRandom => String = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / (i + 1); cdf(i) = acc; i += 1 }
    val perm = Array.range(0, n)
    val pr = new SplittableRandom(seed ^ 0x5eedL)
    i = n - 1
    while (i > 0) {
      val j = pr.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    r => {
      if (r.nextInt(1000) < unknownPerMille) "content-u" + r.nextInt(n)
      else {
        val x = r.nextDouble() * acc
        var idx = java.util.Arrays.binarySearch(cdf, x)
        if (idx < 0) idx = -idx - 1
        "content-" + perm(math.min(idx, n - 1))
      }
    }
  }

  /** Debezium envelope JSON, the shape the connector emits. */
  def json(e: Event): String = {
    val sb = new java.lang.StringBuilder(320)
    sb.append("{\"payload\":{\"after\":{")
    if (e.kind == Malformed) return sb.append("\"id\":\"").append(e.id).append("\",\"content_").toString
    if (e.kind != Idless) sb.append("\"id\":\"").append(e.id).append("\",")
    sb.append("\"content_id\":\"").append(e.contentId)
      .append("\",\"user_id\":\"").append(e.userId)
      .append("\",\"event_type\":\"").append(e.eventType)
      .append("\",\"event_ts\":\"").append(fmtTs(e.tsMicros)).append('"')
    if (e.durationMs >= 0) sb.append(",\"duration_ms\":").append(e.durationMs)
    sb.append(",\"device\":\"").append(e.device)
      .append("\",\"raw_payload\":\"{\\\"session_id\\\":\\\"sess-").append(e.session)
      .append("\\\"}\"},\"op\":\"c\",\"ts_ms\":").append(e.tsMicros / 1000L).append("}}")
    sb.toString
  }

  def writeJsonFile(f: File, events: Array[Event]): Unit = {
    val sb = new java.lang.StringBuilder(events.length * 300)
    events.foreach(e => sb.append(json(e)).append('\n'))
    Files.write(f.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Avro binary records on the engagement_event contract; a malformed
    * record is a valid one cut to its first two bytes. */
  final class AvroEncoder {
    private val schema = graft.cdc.AvroWire.schema
    private val writer = new GenericDatumWriter[GenericRecord](schema)
    private val out = new ByteArrayOutputStream(512)
    private var enc = EncoderFactory.get().binaryEncoder(out, null)

    def apply(e: Event): Array[Byte] = {
      val r = new GenericData.Record(schema)
      r.put("event_id", if (e.kind == Idless) null else java.lang.Long.valueOf(e.id))
      r.put("content_id", e.contentId)
      r.put("user_id", e.userId)
      r.put("event_type", e.eventType)
      r.put("event_ts", fmtTs(e.tsMicros))
      r.put("duration_ms", if (e.durationMs >= 0) java.lang.Long.valueOf(e.durationMs) else null)
      r.put("device", e.device)
      r.put("engagement_score", null)
      r.put("raw_payload", s"""{"session_id":"sess-${e.session}"}""")
      r.put("processed_ts", null)
      out.reset()
      enc = EncoderFactory.get().binaryEncoder(out, enc)
      writer.write(r, enc)
      enc.flush()
      val b = out.toByteArray
      if (e.kind == Malformed) b.take(2) else b
    }
  }

  /** Change rows in the shape `Envelope.unwrapContent` produces, which is
    * what `ContentDim.applyBatch` consumes. */
  val changeSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("slug", StringType),
    StructField("title", StringType), StructField("content_type", StringType),
    StructField("length_seconds", IntegerType), StructField("publish_ts", StringType),
    StructField("is_delete", BooleanType, nullable = false),
    StructField("change_seq", LongType, nullable = false)))

  /** The content catalogue and its change stream: `seedRows()` upserts
    * the initial catalogue, then each `round()` is ~1% of it as upserts
    * (re-typed or re-timed rows and a few new ids) and deletes. */
  final class Catalogue(seed: Long, val size: Int) {
    private val rnd = new SplittableRandom(seed ^ 0xd1dL)
    private var seq = 1L
    private var nextNew = size

    private def upsert(id: String): Row = {
      seq += 1
      Row(id, "slug-" + id, "Title " + id, ContentTypes(rnd.nextInt(ContentTypes.length)),
        180 + rnd.nextInt(5221), "2024-01-01T00:00:00.000000", false, seq)
    }
    private def delete(id: String): Row = {
      seq += 1
      Row(id, null, null, null, null, null, true, seq)
    }

    def seedRows(): Seq[Row] = (0 until size).map(i => upsert("content-" + i))

    def round(): Seq[Row] = (0 until size / 100).map { _ =>
      val k = rnd.nextInt(100)
      if (k < 70) upsert("content-" + rnd.nextInt(size))
      else if (k < 90) delete("content-" + rnd.nextInt(size))
      else { nextNew += 1; upsert("content-" + nextNew) }
    }
  }

  def changes(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), changeSchema)

  // ---- batch tables for the batch_ops workload --------------------------

  private val EventKinds = Array("click", "view", "signup", "purchase", "error")

  /** The events table in the shape of the repository's TPC-style test
    * tables (TESTDATA.md), with `events` rows over 30 days. Timestamps are written as
    * TIMESTAMP_NTZ, one of the encodings graft.Tables reads. */
  def writeEventsTable(spark: SparkSession, dir: String, seed: Long, events: Int): Unit = {
    val r = new SplittableRandom(seed ^ 0xba7cL)
    val span = 30L * 86400L * 1000000L
    val evRows = (0 until events).map { i =>
      Row(i.toLong,
        LocalDateTime.ofEpochSecond(0, 0, ZoneOffset.UTC)
          .plusNanos(((BaseMicros + i * (span / events) + r.nextLong(60000000L)) * 1000L)),
        r.nextInt(1500).toLong, EventKinds(r.nextInt(EventKinds.length)),
        math.round(-math.log(1.0 - r.nextDouble()) * 5000.0) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(evRows, 1), StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
      .write.parquet(s"$dir/events.parquet")

  }
}
