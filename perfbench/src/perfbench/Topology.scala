package perfbench

import java.io.File
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.sinks.Warehouse
import graft.streaming.Pipeline

/** One live instance of the StreamingDemo topology over a watched
  * directory of Debezium-JSON spool files: the warehouse query
  * (`Pipeline.enrichedSink` → `Warehouse.appendOnce`), the hourly
  * rollup, the minute top-k and the event-type counters, all started
  * together. Everything here observes the program from outside: the
  * foreachBatch wrapper times `appendOnce`, the rest comes from
  * `StreamingQueryProgress` and the queries' checkpoint source logs.
  *
  * `drainFiles = Some(n)` drains what the directory holds with
  * `Trigger.AvailableNow`, n files per batch. `None` runs the
  * StreamingDemo's triggers: the warehouse query every 5 s, the others
  * as soon as new files arrive.
  */
final class Topology(spark: SparkSession, val dir: String, val inDir: String,
    val dimPath: String, val tag: String, drainFiles: Option[Int]) {

  val whPath = s"$dir/warehouse"
  private def ckpt(q: String) = s"$dir/ckpt-$q"
  val appendMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  private def raw: DataFrame = {
    val r = spark.readStream.format("text")
    drainFiles.foreach(n => r.option("maxFilesPerTrigger", n.toLong))
    r.load(inDir)
  }

  private val trigger = if (drainFiles.isDefined) Trigger.AvailableNow() else Trigger.ProcessingTime(0L)
  private val whTrigger = if (drainFiles.isDefined) trigger else Trigger.ProcessingTime(Topology.WhIntervalMs)

  val roles: Seq[String] = Seq("wh", "rollup", "topk", "counters")
  private val rollupName = s"rollup_$tag"
  private val countersName = s"counters_$tag"

  val queries: Map[String, StreamingQuery] = {
    val wh = Pipeline.enrichedSink(raw, dimPath, ckpt("wh")) { (df, id) =>
      appendMs.add(Util.timeMs(Warehouse.appendOnce(df, whPath, id)))
    }.trigger(whTrigger).start()
    val enriched = Pipeline.enrichedStream(spark, raw, dimPath)
    val rollup = Pipeline.hourlyRollup(enriched).writeStream
      .format("memory").queryName(rollupName)
      .option("checkpointLocation", ckpt("rollup"))
      .outputMode(OutputMode.Append).trigger(trigger).start()
    val topk = Pipeline.minuteTopKSink(enriched, 3, ckpt("topk")) { top =>
      top.write.format("noop").mode("overwrite").save()
    }.trigger(trigger).start()
    val counters = Pipeline.eventTypeCounters(enriched).writeStream
      .format("memory").queryName(countersName)
      .option("checkpointLocation", ckpt("counters"))
      .outputMode(OutputMode.Update).trigger(trigger).start()
    Map("wh" -> wh, "rollup" -> rollup, "topk" -> topk, "counters" -> counters)
  }

  def awaitAll(): Unit = roles.foreach(r => queries(r).awaitTermination())
  def processAll(): Unit = roles.foreach(r => queries(r).processAllAvailable())
  def stop(): Unit = roles.foreach(r => queries(r).stop())
  /** Throw if any query of the set failed. */
  def check(): Unit = {
    val ex = roles.flatMap(r => queries(r).exception.map(e => s"$r: ${e.getMessage}"))
    if (ex.nonEmpty) throw new IllegalStateException(ex.mkString("; "))
  }

  def progress(role: String): Seq[StreamingQueryProgress] =
    queries(role).recentProgress.toSeq

  /** Data batches of a query: (source log offsets it consumed, end ms).
    * A micro-batch consumes source offsets (start, end]; no-data batches
    * of the stateful queries consume none, so micro-batch ids and source
    * offsets drift apart. */
  private def batchEnds(role: String): Seq[(Long, Long, Long)] = {
    def off(o: String): Long = Option(o).flatMap(LogOffset.findFirstMatchIn(_))
      .map(_.group(1).toLong).getOrElse(-1L)
    progress(role).filter(_.numInputRows > 0).map { p =>
      (off(p.sources.head.startOffset), off(p.sources.head.endOffset), endMs(p))
    }
  }
  private val LogOffset = "\"logOffset\":(\\d+)".r
  private def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
  private def endMs(p: StreamingQueryProgress): Long =
    startMs(p) + p.durationMs.get("triggerExecution").longValue

  /** (first data batch's trigger start, last data batch's commit) over
    * every query of the set, in epoch ms. */
  def span(): (Long, Long) = {
    val ps = roles.flatMap(r => progress(r).filter(_.numInputRows > 0))
    (ps.map(startMs).min, ps.map(endMs).max)
  }

  /** file name → source log offset, from the query's checkpoint. */
  private def fileOffsets(role: String): Map[String, Long] = {
    val PathRe = "\"path\":\"([^\"]+)\"".r
    val IdRe = "\"batchId\":(\\d+)".r
    val logDir = new File(s"${ckpt(role)}/sources/0")
    Option(logDir.listFiles).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toList finally src.close()
      }
      .filter(_.startsWith("{")).flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line); b <- IdRe.findFirstMatchIn(line))
          yield new File(p.group(1)).getName -> b.group(1).toLong
      }.toMap
  }

  /** file name → the time every query had committed the batch holding
    * it; files some query has not committed yet are absent. */
  def freshAt(): Map[String, Long] = {
    val perRole = roles.map { r =>
      val ends = batchEnds(r)
      fileOffsets(r).flatMap { case (f, o) =>
        ends.find { case (s, e, _) => s < o && o <= e }.map(f -> _._3)
      }
    }
    perRole.head.keys.filter(f => perRole.forall(_.contains(f)))
      .map(f => f -> perRole.map(_(f)).max).toMap
  }

  /** Per-layer numbers from progress and the foreachBatch wrapper. */
  def layerMetrics(res: Result, wireRows: Long): Unit = {
    val all = roles.flatMap(r => progress(r).filter(_.numInputRows > 0).map(r -> _))
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    roles.foreach { r =>
      val ps = all.collect { case (`r`, p) => dur(p, "addBatch") }
      if (ps.nonEmpty) res.layer(s"streaming.$r.add_batch_ms_p50") = Util.median(ps)
      val trig = all.collect { case (`r`, p) => dur(p, "triggerExecution") }
      if (trig.nonEmpty) res.info(s"streaming.$r.trigger_ms_p50") = Util.median(trig)
    }
    val over = all.map { case (_, p) => dur(p, "triggerExecution") - dur(p, "addBatch") }
    if (over.nonEmpty) res.layer("streaming.overhead_ms_p50") = Util.median(over)
    res.layer("streaming.batches") = all.size.toDouble
    val lastState = roles.flatMap(r => progress(r).lastOption.toSeq.flatMap(_.stateOperators))
    res.layer("streaming.state_rows") = lastState.map(_.numRowsTotal.toDouble).sum
    res.layer("streaming.state_mem_bytes") = lastState.map(_.memoryUsedBytes.toDouble).sum
    res.layer("streaming.rows_dropped_by_watermark") = all.flatMap(_._2.stateOperators)
      .map(_.numRowsDroppedByWatermark.toDouble).sum
    if (wireRows > 0)
      res.layer("cdc.decode_passes") = all.map(_._2.numInputRows.toDouble).sum / wireRows
    val ap = appendMs.asScala.toSeq
    if (ap.nonEmpty) res.layer("sinks.append_ms_p50") = Util.median(ap)
  }

  /** The live workload's correctness gates over everything fed in,
    * plus the layer numbers read off the landed table. */
  def gates(res: Result, fed: Seq[Gen.Event], name: String, rollup: Boolean = true): Unit = {
    import spark.implicits._
    val valid = fed.filter(_.valid)
    val landed = Warehouse.read(spark, whPath).cache()
    val ids = landed.select(col("event_id")).as[Long].collect()
    val expected = valid.map(_.id).toSet
    res.gate(s"$name.warehouse_exactly_once",
      ids.length == expected.size && ids.toSet == expected,
      s"landed ${ids.length} rows (${ids.toSet.size} distinct), expected ${expected.size}")
    val wireRows = progress("wh").map(_.numInputRows).sum
    val dropped = wireRows - ids.length
    res.layer("cdc.rows_dropped") = dropped.toDouble
    res.gate(s"$name.rows_dropped_equals_injected", dropped == fed.size - valid.size,
      s"dropped $dropped, injected ${fed.size - valid.size}")

    val want = valid.groupBy(_.eventType).map { case (k, v) => k -> v.size.toLong }
    val got = spark.sql(s"SELECT event_type, max(count) FROM $countersName GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    res.gate(s"$name.counters_equal_batch", got == want, s"stream $got vs batch $want")

    // no valid event is behind the watermark (disorder < delay), so the
    // on-time events are exactly the landed ones
    if (rollup) {
      val wm = progress("rollup").lastOption
        .flatMap(p => Option(p.eventTime.get("watermark")))
        .map(w => Instant.parse(w).toEpochMilli * 1000L).getOrElse(0L)
      val closed = (df: DataFrame) =>
        df.filter(unix_micros(col("hour_ts")) + lit(3600L * 1000000L) <= lit(wm))
          .select(col("hour_ts"), col("content_type"), col("event_type"), col("cnt"), col("score_sum"))
      val streamed = closed(spark.table(rollupName))
      val batch = closed(Pipeline.hourlyRollup(landed.drop("processed_ts", "event_month")))
      val nStreamed = streamed.count()
      res.gate(s"$name.rollup_equals_batch", nStreamed > 0 &&
        streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        s"$nStreamed streamed closed-window rows vs batch ${batch.count()}")
      res.info(s"$name.rollup_closed_rows") = nStreamed.toDouble
    }

    res.layer("enrich.unmatched_ratio") =
      landed.filter(col("content_type").isNull).count().toDouble / math.max(ids.length, 1)
    val commits = appendMs.size
    if (commits > 0)
      res.layer("sinks.files_per_commit") =
        graft.sinks.SnapshotStore.listFiles(spark, whPath).size.toDouble / commits
    if (ids.nonEmpty)
      res.layer("sinks.bytes_per_event") = Util.dirBytes(new File(whPath)).toDouble / ids.length
    res.layer("dim.snapshot_files") = graft.sinks.SnapshotStore.listFiles(spark, dimPath).size
    landed.unpersist()
  }
}

object Topology {
  /** The StreamingDemo's warehouse trigger interval. */
  val WhIntervalMs = 5000L
}
