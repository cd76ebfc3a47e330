package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The session every workload runs on: `graft.Bench`'s settings (zstd
  * block codec, cache-AQE, initial partitions = cores × 8), with every
  * scratch path under the run's own work directory. */
object Session {
  def start(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cores * 8).toLong)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Engine counters summed over every job the session runs while the
  * recorder is attached. Read them through [[Trace.snapshot]]. */
final case class Counters(jobs: Long, tasks: Long, taskMs: Long,
                          shuffleBytes: Long, spillBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    taskMs + o.taskMs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  def taskS: Double = taskMs / 1000.0
}

object Counters { val zero: Counters = Counters(0, 0, 0, 0, 0) }

/** The traced run's listener, attached on construction. The untraced
  * run makes none, so it carries no listener of the benchmark's. */
final class Trace(spark: SparkSession) extends SparkListener {
  private val jobs, tasks, taskMs, shuffle, spill = new AtomicLong(0)
  drain()
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  private def drain(): Unit = ListenerBridge.drain(spark.sparkContext, 30000L)

  /** Counters after every event queued so far has been delivered. */
  def snapshot(): Counters = {
    drain()
    Counters(jobs.get, tasks.get, taskMs.get, shuffle.get, spill.get)
  }
}

/** `graft.Bench`'s machinery warmup on a 2-row in-memory table: the
  * first use of each execution path in a JVM (regexp inside an
  * aggregate, window, broadcast join, explode, higher-order lambdas,
  * sort, rollup) pays a one-off class-loading and codegen cost, which
  * belongs to set-up rather than to the first timed operation that
  * happens to take that path. */
object Warmup {
  def machinery(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.CrawlFunctions.{hostCol, pldCol}
    val tiny = Seq(("https://a.example.com/x", 1), ("https://b.example.com/y", 2)).toDF("url", "n")
    tiny.groupBy(regexp_extract(col("url"), "//([^/]+)", 1)).count().count()
    tiny.withColumn("rn", row_number().over(Window.partitionBy("url").orderBy("n"))).count()
    tiny.join(broadcast(tiny.select(col("n").as("m"))), col("n") === col("m")).count()
    tiny.select(explode(split(col("url"), "/")).as("p")).distinct().orderBy("p").count()
    tiny.select(aggregate(transform(split(col("url"), "/"), x => length(x)),
      lit(0), (a, b) => a + b)).count()
    tiny.groupBy(pldCol(hostCol(col("url")))).count().count()
    tiny.rollup(col("url"), col("n")).count().count()
    tiny.withColumn("lv", last(col("url"), ignoreNulls = true).over(
      Window.partitionBy("n").orderBy("n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))).count(): Unit
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Timer {
  def apply[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** CPU seconds this JVM has used, over all its threads. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now(): Double = os.getProcessCpuTime / 1e9
}

object Dirs {
  def sizeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try {
        var n = 0L
        walk.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally walk.close()
    }

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }
}

/** The independent checks. A failed check is recorded, not thrown, so
  * the run still ends its rounds and reports what it attempted; any
  * failure makes the run's `correct` false. */
object Check {
  private val failed = scala.collection.mutable.ArrayBuffer.empty[String]
  def apply(ok: Boolean, what: => String): Unit = if (!ok) failed += what
  def failures: Seq[String] = failed.toSeq
}

/** What a workload hands back to [[Main]]. `failedOps` names the
  * operations that threw or whose output failed its check, one entry
  * per operation; `metrics` holds name → (value, unit). */
final case class Outcome(attempted: Long, failedOps: Seq[String],
                         metrics: Seq[(String, Double, String)], notes: Seq[String] = Nil)

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
