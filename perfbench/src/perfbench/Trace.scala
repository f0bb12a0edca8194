package perfbench

import org.apache.spark.sql.DataFrame

import graft.enrich.Enrich
import graft.sinks.Warehouse

/** The traced pass's extra measurements, all taken from outside the
  * program: prefix cuts over the workload's own spooled input, and the
  * engine counters of graft.ScaleMetrics. */
object Trace {

  val CutReps = 3

  /** Time read → +decode → +Enrich.enrich (noop sink) → +appendOnce over
    * the same input and record each stage's marginal ms per million
    * wire events. `decodeMetric` names the decode stage's metric. */
  def prefixCuts(ctx: Ctx, res: Result, read: () => DataFrame,
      decode: DataFrame => DataFrame, dim: DataFrame, wireEvents: Long,
      decodeMetric: String): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    var n = 0
    def append(df: DataFrame): Unit = {
      n += 1
      Warehouse.appendOnce(df, s"${ctx.work}/cut-wh-$n", 0L)
    }
    val stages: Seq[() => Unit] = Seq(
      () => noop(read()),
      () => noop(decode(read())),
      () => noop(Enrich.enrich(decode(read()), dim)),
      () => append(Enrich.enrich(decode(read()), dim)))
    val ms = stages.map { s =>
      s() // warm the plan
      Util.median(Seq.fill(CutReps)(Util.timeMs(s())))
    }
    val mev = wireEvents / 1e6
    res.info("cut.read_ms") = ms(0)
    res.layer(decodeMetric) = (ms(1) - ms(0)) / mev
    res.layer("enrich.ms_per_mev") = (ms(2) - ms(1)) / mev
    res.layer("sinks.append_ms_per_mev") = (ms(3) - ms(2)) / mev
  }

  /** Run the measured window under graft.ScaleMetrics and record the
    * engine counters; GC time is recorded either way. */
  def engine[A](ctx: Ctx, res: Result)(f: => A): A = {
    val gc0 = Util.gcMs
    val out =
      if (!ctx.trace) f
      else {
        val (r, m) = graft.ScaleMetrics.measure(ctx.spark)(f)
        res.layer("spark.shuffle_write_bytes") = m.shuffleWriteBytes.toDouble
        res.layer("spark.spill_bytes") = m.spillBytes.toDouble
        res.layer("spark.result_bytes") = m.resultBytes.toDouble
        res.layer("spark.tasks") = m.tasks.toDouble
        res.layer("spark.jobs") = m.jobs.toDouble
        r
      }
    res.layer("jvm.gc_ms") = Util.gcMs - gc0
    out
  }
}
