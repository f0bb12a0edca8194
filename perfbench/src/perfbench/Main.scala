package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --cores C --work DIR --out FILE`. Runs one workload and
  * writes its Result as JSON to FILE; perfbench/run.py turns that into
  * the benchmark's final line. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = new File(opt("work")).getAbsolutePath
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime).toDouble
    def ctx(dir: String) = Ctx(spark, dir, opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1")
    def run(w: String, res: Result, c: Ctx): Double = w match {
      case "live" => Workloads.live(c, res, Workloads.RateLo)
      case "live_hi" => Workloads.live(c, res, Workloads.RateHi)
      case "churn" => Workloads.churn(c, res)
      case "batch_ops" => Workloads.batchOps(c, res)
      case other => sys.error(s"unknown workload $other")
    }
    val res = new Result
    // "train" runs the live workload once so the build can record the
    // classes it loads (the class-data archive of perfbench/build.py)
    val setupMs =
      if (workload == "train") {
        run("live", new Result, ctx(s"$work/live"))
        0.0
      } else run(workload, res, ctx(work))
    res.info("session_ms") = sessionMs
    res.info("warm_ms") = setupMs - res.info.getOrElse("setup_ms", 0.0)
    res.e2e("setup_s") = (sessionMs + setupMs) / 1000.0
    res.e2e("peak_rss_mb") = Util.peakRssMb
    Files.writeString(new File(opt("out")).toPath, res.toJson)
    // everything a measured run made lives under `work`, which the
    // caller deletes, so it halts instead of waiting for Spark's orderly
    // shutdown; the build's recording run exits normally so the JVM
    // writes its class-data archive
    if (workload == "train") spark.stop() else Runtime.getRuntime.halt(0)
  }
}
