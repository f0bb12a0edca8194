package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}

import graft.cdc.Envelope
import graft.dim.ContentDim
import graft.enrich.Enrich
import graft.queries.Queries
import graft.sinks.{SnapshotStore, SummingStore, Warehouse}
import graft.sources.Sources

final case class Ctx(spark: SparkSession, work: String, seed: Long, seconds: Int,
    trace: Boolean) {
  def dir(name: String): String = { val d = s"$work/$name"; new File(d).mkdirs(); d }
}

/** The workloads. Each sets up (several times, the last set-up's
  * inputs are used), warms up, measures, then checks its outputs
  * outside the timed window. `ctx.seconds` sets the measured work: the
  * feed's length on live, the round count on churn and the pass count
  * on batch_ops. The counts are fixed by it, never by a clock, so every
  * run of a workload measures the same work. */
object Workloads {

  /** Set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3

  /** Set up SetupReps times; returns the last inputs and the median ms. */
  private def setupReps[A](ctx: Ctx, res: Result)(f: Int => A): (A, Double) = {
    val runs = (0 until SetupReps).map(i => Util.timed(f(i)))
    res.info("setup_ms") = Util.median(runs.map(_._2))
    (runs.last._1, Util.median(runs.map(_._2)))
  }

  private def seedDim(spark: SparkSession, path: String, rows: Seq[Row]): Unit =
    ContentDim.applyBatch(spark, path, Gen.changes(spark, rows))

  private def catalogue15: Seq[Row] = (0 until 15).map { i =>
    Row(s"content-$i", s"slug-content-$i", s"Title content-$i",
      Gen.ContentTypes(i % 3), 300 + 60 * i, "2024-01-01T00:00:00.000000", false, 1L)
  }

  private def spool(dir: String, events: Array[Gen.Event], perFile: Int, prefix: String): Seq[(File, Array[Gen.Event])] =
    events.grouped(perFile).zipWithIndex.map { case (evs, i) =>
      val f = new File(dir, f"$prefix-$i%05d.json")
      Gen.writeJsonFile(f, evs)
      f -> evs
    }.toSeq

  /** Freshness samples of one measured file set: (latency ms, valid
    * events) per file, given each file's due time. */
  private def freshness(fresh: Map[String, Long], files: Seq[(File, Array[Gen.Event], Long)]): Seq[(Double, Long)] =
    files.map { case (f, evs, due) =>
      ((fresh(f.getName) - due).toDouble, evs.count(_.valid).toLong)
    }

  // ---- live ---------------------------------------------------------------

  /** Drain phase: a 200k-event backlog drained in two batches of 100k,
    * so that per-row work (the JSON decode in each of the four queries,
    * enrich, the warehouse write) outweighs each batch's fixed cost. */
  val DrainFiles = 20
  val DrainPerFile = 10000
  val DrainMaxFilesPerTrigger = 10

  /** Feed rates: lo, the compared one, is the reference's configured
    * 200k events/min (the BASELINE floor); hi is recorded for the
    * capacity verdict only. */
  val RateLo = 3333
  val RateHi = 15000
  val TickMs = 250L
  /** Ticks fed on schedule before the measured ones, so that measuring
    * starts from settled batches. */
  val RampTicks = 12

  /** The live topology: a cold warm-up drain, then a closed-loop drain of
    * a backlog (events_per_s), then an open-loop feed at `rate`
    * (latency_*), each through a fresh query set. */
  def live(ctx: Ctx, res: Result, rate: Int): Double = {
    val spark = ctx.spark
    val perFile = rate * TickMs.toInt / 1000
    // whole warehouse trigger periods, so that every run's files sit at
    // the same spread of offsets from the warehouse trigger
    val period = (Topology.WhIntervalMs / TickMs).toInt
    val ticks = math.max(1, ctx.seconds * 1000 / Topology.WhIntervalMs.toInt) * period
    val ((warmDir, backlogDir, watch, dimPath, backlog, sched), setupMs) = setupReps(ctx, res) { i =>
      val warm = ctx.dir(s"warm-$i")
      spool(warm, new Gen.Events(ctx.seed + 1, 1L, Gen.uniform15).take(DrainPerFile),
        DrainPerFile, "warm")
      val in = ctx.dir(s"backlog-$i")
      val backlog = spool(in, new Gen.Events(ctx.seed, 1L, Gen.uniform15)
        .take(DrainFiles * DrainPerFile), DrainPerFile, "backlog")
      val stage = ctx.dir(s"stage-$i")
      val sched = spool(stage, new Gen.Events(ctx.seed + 2, 1L, Gen.uniform15)
        .take((RampTicks + ticks) * perFile), perFile, "tick")
      val dim = s"${ctx.work}/dim-$i"
      seedDim(spark, dim, catalogue15)
      (warm, in, ctx.dir(s"watch-$i"), dim, backlog, sched)
    }
    val warmMs = Util.timeMs(new Topology(spark, ctx.dir("warmup"), warmDir, dimPath, "warm",
      Some(1)).awaitAll())

    // the generator: one thread moving each pre-written file into the
    // watched directory at its due time, whatever the queries are doing
    def move(f: File): Unit = Files.move(f.toPath, new File(watch, f.getName).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    var t0 = 0L
    def due(i: Int) = t0 + i * TickMs
    val moved = new Array[Long](sched.size)
    val gen = new Thread(() => sched.indices.foreach { i =>
      val wait = due(i) - Util.nowMs
      if (wait > 0) Thread.sleep(wait)
      move(sched(i)._1)
      moved(i) = Util.nowMs
    }, "perfbench-generator")

    var drained: Topology = null
    var fed: Topology = null
    Trace.engine(ctx, res) {
      res.attempt("drain") {
        drained = new Topology(spark, ctx.dir("drain"), backlogDir, dimPath, "d",
          Some(DrainMaxFilesPerTrigger))
        drained.awaitAll()
        drained.check()
      }
      // the drain's garbage is collected before the feed, not during it
      System.gc()
      res.attempt("feed") {
        fed = new Topology(spark, ctx.dir("feed"), watch, dimPath, "f", None)
        t0 = Util.nowMs + 100
        gen.start()
        gen.join()
        fed.processAll()
        fed.check()
      }
    }
    if (drained == null || fed == null) return setupMs + warmMs

    // capacity: the drain's events over the span from its first trigger
    // to its last commit, which leaves out starting the queries
    val backlogEvents = backlog.flatMap(_._2)
    val (drainStart, drainEnd) = drained.span()
    res.e2e("events_per_s") = backlogEvents.count(_.valid) * 1000.0 / (drainEnd - drainStart)
    res.info("drain_ms") = (drainEnd - drainStart).toDouble
    val drainLat = freshness(drained.freshAt(), backlog.map { case (f, e) => (f, e, drainStart) })
    res.info("drain_p50_ms") = Util.weightedPct(drainLat, 0.5)
    res.info("drain_p90_ms") = Util.weightedPct(drainLat, 0.9)

    val fresh = fed.freshAt()
    fed.stop()
    val end = due(sched.size)
    val measured = sched.zipWithIndex.drop(RampTicks).map { case ((f, e), i) => (f, e, due(i)) }
    res.attempted += measured.size
    val lat = freshness(fresh, measured)
    res.e2e("latency_p50_ms") = Util.weightedPct(lat, 0.5)
    res.info("latency_p90_ms") = Util.weightedPct(lat, 0.9)
    res.info("latency_samples") = measured.map(_._2.count(_.valid)).sum
    // files due but not yet fresh, sampled at every measured tick; the
    // backlog saw-tooths with the batch cycle, so growth is judged on the
    // mean of each half of the feed, not on two instants
    def backlogAt(t: Long) = sched.indices.count(i => due(i) <= t && fresh(sched(i)._1.getName) > t)
    val samples = (RampTicks until sched.size).map(i => backlogAt(due(i)).toDouble)
    val (firstHalf, secondHalf) = samples.splitAt(samples.size / 2)
    val (early, late) = (firstHalf.sum / firstHalf.size, secondHalf.sum / secondHalf.size)
    res.layer("gen.late_max_ms") = sched.indices.map(i => (moved(i) - due(i)).toDouble).max
    res.layer("gen.backlog_files_end") = backlogAt(end)
    res.info("backlog_files_mean_first_half") = early
    res.info("backlog_files_mean_second_half") = late
    res.info("fresh_limit_met") =
      if (res.info("latency_p90_ms") <= 10000 && late <= early * 1.25 + 2) 1 else 0

    res.info("gates_ms") = Util.timeMs {
      // the feed's gates cover the rollup; the drain's skip it for time
      drained.gates(res, backlogEvents, "drain", rollup = false)
      fed.gates(res, sched.flatMap(_._2), "feed")
    }
    fed.layerMetrics(res, sched.map(_._2.length.toLong).sum)
    if (ctx.trace)
      Trace.prefixCuts(ctx, res, () => spark.read.text(backlogDir), Envelope.unwrapEngagement,
        ContentDim.snapshot(spark, dimPath), backlogEvents.size.toLong, "cdc.unwrap_ms_per_mev")
    setupMs + warmMs
  }

  // ---- churn --------------------------------------------------------------

  /** Timed rounds after the untimed round 0: one per 2 s of
    * `--seconds`, at least three. */
  def churnRounds(ctx: Ctx): Int = math.max(3, ctx.seconds / 2)

  val ChurnCatalogue = 100000
  val ChurnSlice = 5000
  val ChurnUnknownPerMille = 30

  private val mvKeys = Seq("hour_ts", "content_type", "event_type")
  private val mvAdds = Seq("cnt", "score_sum")
  private def hourlyPart(delta: DataFrame): DataFrame =
    delta.groupBy(date_trunc("hour", col("event_ts")).as("hour_ts"),
        col("content_type"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("engagement_score").cast("decimal(28,2)")).as("score_sum"))

  def churn(ctx: Ctx, res: Result): Double = {
    val spark = ctx.spark
    val rounds = churnRounds(ctx)
    val ((dimPath, slicesPath, seedRows, changes, slices), setupMs) = setupReps(ctx, res) { i =>
      val cat = new Gen.Catalogue(ctx.seed, ChurnCatalogue)
      val seedRows = cat.seedRows()
      val changes = (0 to rounds).map(_ => cat.round())
      val gen = new Gen.Events(ctx.seed, 1L, Gen.zipf(ctx.seed, ChurnCatalogue, ChurnUnknownPerMille))
      val enc = new Gen.AvroEncoder
      val slices = (0 to rounds).map(_ => gen.take(ChurnSlice))
      val rows = slices.zipWithIndex.flatMap { case (s, r) => s.map(e => Row(r, enc(e))) }
      val path = s"${ctx.work}/slices-$i"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
        StructField("round", IntegerType), StructField("value", BinaryType))))
        .write.partitionBy("round").parquet(path)
      val dim = s"${ctx.work}/dim-$i"
      seedDim(spark, dim, seedRows)
      (dim, path, seedRows, changes, slices)
    }
    val wh = s"${ctx.work}/churn-wh"
    val mv = s"${ctx.work}/churn-mv"
    val mvCk = s"${ctx.work}/churn-mv.ck"
    val slice = (r: Int) => spark.read.parquet(slicesPath).filter(col("round") === r).select(col("value"))

    val applyMs, appendMs, readMs, maintainMs, mvReadMs, roundMs = mutable.ArrayBuffer[Double]()
    var landed = 0L
    def round(r: Int): Unit = {
      applyMs += Util.timeMs(ContentDim.applyBatch(spark, dimPath, Gen.changes(spark, changes(r))))
      val dim = ContentDim.snapshot(spark, dimPath)
      appendMs += Util.timeMs(Warehouse.appendOnce(
        Enrich.enrich(Sources.avroEngagement(slice(r)), dim), wh, r.toLong))
      readMs += Util.timeMs {
        Warehouse.read(spark, wh).groupBy(col("content_type"))
          .agg(count(lit(1)), sum(col("engagement_score"))).collect()
      }
      maintainMs += Util.timeMs(SummingStore.maintain(spark, wh, mvCk, mv)(hourlyPart))
      mvReadMs += Util.timeMs(SummingStore.read(spark, mv, mvKeys, mvAdds).get.collect())
      landed += slices(r).count(_.valid)
    }
    val warmMs = Util.timeMs(round(0))
    Seq(applyMs, appendMs, readMs, maintainMs, mvReadMs).foreach(_.clear())
    landed = 0L
    Trace.engine(ctx, res)((1 to rounds).foreach { r =>
      res.attempt(s"churn round $r")(roundMs += Util.timeMs(round(r)))
    })
    res.info("rounds") = rounds
    res.info("latency_samples") = roundMs.size
    if (roundMs.nonEmpty) {
      res.e2e("events_per_s") = landed * 1000.0 / roundMs.sum
      res.e2e("latency_p50_ms") = Util.median(roundMs.toSeq)
      res.info("latency_p90_ms") = Util.pct(roundMs.toSeq, 0.9)
      res.layer("dim.apply_ms_p50") = Util.median(applyMs.toSeq)
      res.layer("sinks.append_ms_p50") = Util.median(appendMs.toSeq)
      res.layer("sinks.read_ms_p50") = Util.median(readMs.toSeq)
      res.layer("sinks.mv_maintain_ms_p50") = Util.median(maintainMs.toSeq)
      res.layer("sinks.mv_read_ms_p50") = Util.median(mvReadMs.toSeq)
    }
    // the checks below read the landed warehouse once
    val landedDf = Warehouse.read(spark, wh).cache()
    val landedRows = landedDf.count()
    res.layer("dim.snapshot_files") = SnapshotStore.listFiles(spark, dimPath).size
    res.layer("enrich.unmatched_ratio") =
      landedDf.filter(col("content_type").isNull).count().toDouble / math.max(landedRows, 1L)
    val fed = (0 to rounds).flatMap(slices(_))
    res.layer("cdc.rows_dropped") = (fed.size - landedRows).toDouble
    res.layer("sinks.files_per_commit") = SnapshotStore.listFiles(spark, wh).size.toDouble / (rounds + 1)
    res.layer("sinks.bytes_per_event") = Util.dirBytes(new File(wh)).toDouble / math.max(landedRows, 1L)

    // the landed warehouse equals each slice enriched against the dim
    // state folded from every change up to its round
    val cols = Seq("event_id", "user_id", "content_id", "event_type", "platform",
      "duration_ms", "event_ts", "raw_payload", "content_type", "length_seconds",
      "engagement_seconds", "engagement_pct", "engagement_score").map(col)
    val expected = (0 to rounds).map { k =>
      val dimK = ContentDim.latestState(Gen.changes(spark, seedRows ++ (0 to k).flatMap(changes(_))))
      Enrich.enrich(Sources.avroEngagement(slice(k)), dimK).select(cols: _*)
    }.reduce(_ union _).cache()
    val got = landedDf.select(cols: _*)
    res.gate("warehouse_equals_batch_recompute",
      got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      s"landed $landedRows rows vs recomputed ${expected.count()}")
    res.gate("rows_dropped_equals_injected",
      res.layer("cdc.rows_dropped").toLong == fed.count(!_.valid),
      s"dropped ${res.layer("cdc.rows_dropped")}, injected ${fed.count(!_.valid)}")
    val mvTotal = SummingStore.read(spark, mv, mvKeys, mvAdds).get.agg(sum(col("cnt"))).head.getLong(0)
    res.gate("mv_counts_equal_warehouse", mvTotal == landedRows, s"mv $mvTotal vs warehouse $landedRows")
    expected.unpersist()
    landedDf.unpersist()

    if (ctx.trace) {
      val all = () => spark.read.parquet(slicesPath).select(col("value"))
      Trace.prefixCuts(ctx, res, all, Sources.avroEngagement, ContentDim.snapshot(spark, dimPath),
        slices.map(_.length.toLong).sum, "cdc.avro_decode_ms_per_mev")
    }
    setupMs + warmMs
  }

  // ---- batch_ops ----------------------------------------------------------

  /** The CDC batch twin, the snapshot store's keyed merge, and the two
    * bucketed prefix-sum sites that do not share one exchange yet. All
    * read the events table. */
  val OpsQueries: Seq[String] = Seq("q_cdc_enrich_e2e", "q_snapshot_merge",
    "q_weighted_quantile", "q_rank_corr")
  val OpsEvents = 20000
  /** Timed passes over the list: one per 3 s of `--seconds`, at least
    * three; each query reports its median, so that one slow pass (the
    * first, still warming) does not set it. */
  def opsPasses(ctx: Ctx): Int = math.max(3, ctx.seconds / 3)

  def batchOps(ctx: Ctx, res: Result): Double = {
    val spark = ctx.spark
    val (sf, setupMs) = setupReps(ctx, res) { i =>
      val d = s"${ctx.work}/sf-$i"
      Gen.writeEventsTable(spark, d, ctx.seed, OpsEvents)
      d
    }
    def run(q: String) = Queries.runners(q)(spark, sf)
    // the untimed warm-up pass writes each result for the oracle check
    val outDir = ctx.dir("ops-out")
    def noop(q: String) = run(q).write.format("noop").mode("overwrite").save()
    val warmMs = Util.timeMs(OpsQueries.foreach { q =>
      res.attempt(s"$q (oracle dump)")(run(q).coalesce(1).write.parquet(s"$outDir/$q"))
    })
    val oracle = OpsQueries.map(q => s"${Util.jsonStr(q)}:${Util.jsonStr(Queries.oracles(q))}")
      .mkString("{", ",", "}")
    Files.writeString(new File(outDir, "oracle_sql.json").toPath, oracle)
    val times = OpsQueries.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    val passes = opsPasses(ctx)
    Trace.engine(ctx, res)((1 to passes).foreach { _ =>
      OpsQueries.foreach(q => res.attempt(q)(times(q) += Util.timeMs(noop(q))))
    })
    res.info("passes") = passes
    res.info("latency_samples") = OpsQueries.size
    val med = OpsQueries.map(q => q -> Util.median(times(q).toSeq)).toMap
    OpsQueries.foreach(q => res.layer(s"ops.${q}_s") = med(q) / 1000.0)
    val rows = OpsQueries.size * spark.read.parquet(s"$sf/events.parquet").count()
    res.e2e("events_per_s") = rows * 1000.0 / med.values.sum
    res.e2e("latency_p50_ms") = Util.median(med.values.toSeq)
    res.info("latency_p90_ms") = Util.pct(med.values.toSeq, 0.9)
    res.info("ops_s") = med.values.sum / 1000.0
    setupMs + warmMs
  }
}
