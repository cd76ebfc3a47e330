package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        [--cores C] [--data DIR]
  *
  * `--workload oracle-sql` only writes the oracle SQL of the
  * analytics-suite query set to `oracle_sql.json`.
  *
  * Writes `result.json` into the work directory: attempted, failed,
  * whether every check held, and the metrics. `perfbench/run.py`
  * builds, launches and reads it; it is not meant to be run by hand.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)
    if (workload == "oracle-sql") {
      AnalyticsSuite.writeOracleSql(work, AnalyticsSuite.order)
      sys.exit(0)
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.start(cores, work)
    val (outcome, error) =
      try {
        System.err.println(f"perfbench: session ready at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2fs")
        val trace = if (traced) Some(new Trace(spark)) else None
        def sinceStart = (System.currentTimeMillis() - jvmStart) / 1000.0
        val out = workload match {
          case "frontier-churn" =>
            FrontierChurn.run(spark, work, seed, seconds, trace, sinceStart)
          case "crawl-loop" =>
            CrawlLoop.run(spark, work, seed, seconds, trace, sinceStart)
          case "analytics-suite" =>
            AnalyticsSuite.run(spark, work, Paths.get(opt("data")), seconds, trace, sinceStart, cores)
          case other => sys.error(s"unknown workload '$other'")
        }
        (Some(out), None)
      } catch {
        case e: Exception =>
          e.printStackTrace()
          (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    val failures = error.toSeq ++ Check.failures.take(5).map("check failed: " + _)
    val correct = failures.isEmpty
    spark.stop()
    val peakRssMb = peakRss() / 1e6
    writeResult(work.resolve("result.json"), workload, correct, cores, outcome, failures, peakRssMb)
    // embedded Derby and Spark leave non-daemon threads behind
    sys.exit(if (correct) 0 else 1)
  }

  /** Peak resident set of this JVM (VmHWM), in bytes; 0 where the
    * kernel does not report it. */
  private def peakRss(): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toLong * 1024L).getOrElse(0L)
    } catch { case _: Exception => 0L }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeResult(path: Path, workload: String, correct: Boolean, cores: Int,
                          outcome: Option[Outcome], failures: Seq[String], peakRssMb: Double): Unit = {
    val metrics = outcome.toSeq.flatMap(_.metrics) :+ (("jvm.peak_rss_mb", peakRssMb, "MB"))
    val body = Seq(
      "\"workload\":" + Json.str(workload),
      "\"correct\":" + correct,
      "\"cores\":" + cores,
      "\"attempted\":" + outcome.map(_.attempted).getOrElse(0L),
      "\"failed\":" + outcome.map(_.failedOps.size).getOrElse(0),
      "\"failed_ops\":" + outcome.toSeq.flatMap(_.failedOps).map(Json.str).mkString("[", ",", "]"),
      "\"failures\":" + failures.map(Json.str).mkString("[", ",", "]"),
      "\"notes\":" + outcome.toSeq.flatMap(_.notes).map(Json.str).mkString("[", ",", "]"),
      "\"metrics\":" + metrics.map { case (k, v, u) =>
        Json.str(k) + ":{\"value\":" + jnum(v) + ",\"unit\":" + Json.str(u) + "}"
      }.mkString("{", ",", "}"))
    Files.write(path, body.mkString("{", ",", "}\n").getBytes("UTF-8"))
  }
}
