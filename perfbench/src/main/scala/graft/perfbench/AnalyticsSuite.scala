package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.SparkEntry
import graft.queries.{AnalyticsQueries, CoverageQueries, CrawlQueries, RelationalQueries}

/** `analytics-suite`: passes over a set of `SparkEntry.queries` entries
  * on a fixed input directory, in `graft.Bench`'s suite order. Set-up
  * ends with one untimed warm-up pass, so the timed passes run on warm
  * operators. Each query is split into construction (the query
  * function, including any eager probe jobs it starts) and execution
  * (the collect of its rows). The collected rows are what is checked:
  * they are written, untimed, to `out/<round>/<query>` for the DuckDB
  * compare in `run.py`. A query that throws is counted as failed, and
  * the pass goes on.
  */
object AnalyticsSuite {
  private val maps: Seq[(String, Set[String])] = Seq(
    "relational" -> RelationalQueries.queries.keySet,
    "crawl" -> CrawlQueries.queries.keySet,
    "analytics" -> AnalyticsQueries.queries.keySet,
    "coverage" -> CoverageQueries.queries.keySet)

  /** The timed set: nine queries that one run can afford, picked from
    * a measured cold and a warm pass over all 101 so that the set keeps
    * the full pass's mix: each query map's share of the time, the
    * construct share, probe jobs, jobs and tasks per query and the mean
    * query time (perfbench/README.md gives the figures). The
    * store-backed WARC round trip (q88) was kept in by hand. */
  val benchSet: Seq[String] = Seq(
    "q15_latest_per_supplier",
    "q09_indexer_projection", "q96_adaptive_merge",
    "q33_distinct_users",
    "q57_semdedup", "q77_bfs_depth", "q78_containment_pairs", "q87_oov_rate", "q88_warc_roundtrip")

  /** The timed set in `graft.Bench`'s suite order. */
  lazy val order: Seq[String] = {
    benchSet.foreach(n => require(SparkEntry.queries.contains(n), s"no query $n"))
    graft.Bench.suiteOrder(benchSet)
  }

  def writeOracleSql(work: Path, names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    val missing = names.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    Files.write(work.resolve("oracle_sql.json"),
      names.map(n => s"${Json.str(n)}: ${Json.str(sql(n))}").mkString("{", ",\n", "}\n").getBytes("UTF-8"))
  }

  final case class QueryRun(name: String, map: String, constructS: Double, executeS: Double,
                            probe: Counters, exec: Counters) {
    def totalS: Double = constructS + executeS
  }

  def run(spark: SparkSession, work: Path, data: Path, seconds: Double,
          trace: Option[Trace], setupStart: Double, cores: Int): Outcome = {
    val dir = data.toAbsolutePath.toString
    val queries = SparkEntry.queries
    writeOracleSql(work, order)
    val mapOf = order.map(n => n -> maps.find(_._2.contains(n)).map(_._1).getOrElse("other")).toMap
    // `graft.Bench`'s inter-query hygiene
    def release(): Unit = {
      graft.analytics.CheckpointRegistry.releaseAll()
      spark.catalog.clearCache()
      graft.tools.Scratch.sweepAll()
    }
    // set-up: one untimed pass over the set, so the first use of each
    // operator path (class loading, codegen, parquet footers) is not
    // billed to a timed query. A query that throws here is counted when
    // it throws again in a timed pass.
    val (warmEach, warmS) = Timer {
      order.map { name =>
        val (_, s) = Timer(try queries(name)(spark, dir).collect() catch { case NonFatal(_) => () })
        release()
        f"$name=$s%.2f"
      }
    }
    // then read every input three times, for a median
    val loads = (1 to 3).map { _ =>
      Timer {
        Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings").foreach { t =>
          val p = data.resolve(s"$t.parquet")
          if (Files.exists(p)) spark.read.parquet(p.toString).count()
        }
      }._2
    }
    val setupS = setupStart + Stats.median(loads) + warmS

    val scratch = work.resolve("tmp")
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    val failedOps, errors = mutable.ArrayBuffer.empty[String]
    val roundS, roundCpu, storeMb = mutable.ArrayBuffer.empty[Double]
    def snap(): Counters = trace.map(_.snapshot()).getOrElse(Counters.zero)
    var round = 0
    while (round == 0 || roundS.sum < seconds) {
      val outDir = work.resolve("out").resolve(s"r$round")
      var thisRound, storeBytes, cpu = 0.0
      order.foreach { name =>
        val c0 = snap()
        val cpu0 = Cpu.now()
        val t0 = System.nanoTime()
        try {
          val (df, constructS) = Timer(queries(name)(spark, dir))
          val cpu1 = Cpu.now()
          val c1 = snap()
          val cpu2 = Cpu.now()
          val (rows, executeS) = Timer(df.collect())
          cpu += Cpu.now() - cpu2 + cpu1 - cpu0
          val c2 = snap()
          runs += QueryRun(name, mapOf(name), constructS, executeS, c1 - c0, c2 - c1)
          thisRound += constructS + executeS
          // untimed: the stores the query left, then the rows just
          // timed go to disk for the oracle compare
          storeBytes += scratchBytes(scratch)
          writeForCheck(spark, df.schema, rows, outDir.resolve(name))
        } catch {
          case NonFatal(e) =>
            thisRound += (System.nanoTime() - t0) / 1e9
            cpu += Cpu.now() - cpu0
            failedOps += s"r$round/$name"
            errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
        release()
      }
      roundS += thisRound
      roundCpu += cpu
      storeMb += storeBytes / 1e6
      round += 1
    }
    writeRecord(work.resolve("queries.jsonl"), runs.toSeq)

    val perQuery = runs.map(_.totalS).toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("round_s", Stats.median(roundS.toSeq), "s"),
      ("round_cpu_s", Stats.median(roundCpu.toSeq), "s"),
      ("work_per_s", runs.size / roundS.sum, "1/s"),
      ("op_p50_s", Stats.median(perQuery), "s"),
      ("store_mb", Stats.median(storeMb.toSeq), "MB"))
    Outcome((runs.size + failedOps.size).toLong, failedOps.toSeq,
      e2e ++ (if (trace.isEmpty) Nil else layers(runs.toSeq, cores)),
      Seq(s"rounds=$round queries=${order.size} " +
        f"round_s=${roundS.map(r => f"$r%.2f").mkString(",")} loads=${loads.map(l => f"$l%.2f").mkString(",")} " +
        f"warm-up=$warmS%.2f (${warmEach.mkString(",")})") ++ errors.distinct.map("query failed: " + _))
  }

  /** Bytes under the program's scratch root (`graft.tools.Scratch`,
    * which nests under java.io.tmpdir): the stores the store-backed
    * queries write. */
  private def scratchBytes(tmp: Path): Long =
    if (!Files.isDirectory(tmp)) 0L
    else {
      val ls = Files.list(tmp)
      try ls.toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith("graft_scratch_"))
        .map(Dirs.sizeBytes).sum
      finally ls.close()
    }

  private def layers(runs: Seq[QueryRun], cores: Int): Seq[(String, Double, String)] = {
    val all = runs.foldLeft(Counters.zero)((a, r) => a + r.probe + r.exec)
    val busy = all.taskS / (runs.map(_.totalS).sum * cores)
    val n = runs.size.toDouble
    val perMap = maps.map(_._1).flatMap { m =>
      val rs = runs.filter(_.map == m)
      val k = rs.size.max(1).toDouble
      Seq(
        (s"queries.$m.construct_s", rs.map(_.constructS).sum / k, "s"),
        (s"queries.$m.execute_s", rs.map(_.executeS).sum / k, "s"),
        (s"queries.$m.jobs", rs.map(r => (r.probe + r.exec).jobs.toDouble).sum / k, "count"),
        (s"queries.$m.tasks", rs.map(r => (r.probe + r.exec).tasks.toDouble).sum / k, "count"),
        (s"queries.$m.task_s", rs.map(r => (r.probe + r.exec).taskS).sum / k, "s"))
    }
    Seq(
      ("queries.construct_s", runs.map(_.constructS).sum / n, "s"),
      ("queries.execute_s", runs.map(_.executeS).sum / n, "s"),
      ("queries.probe_jobs", runs.map(_.probe.jobs.toDouble).sum / n, "count"),
      ("spark.jobs", all.jobs / n, "count"),
      ("spark.tasks", all.tasks / n, "count"),
      ("spark.task_s", all.taskS / n, "s"),
      ("spark.shuffle_bytes", all.shuffleBytes / n, "B"),
      ("spark.spill_bytes", all.spillBytes / n, "B"),
      ("spark.busy_share", busy, "ratio")) ++ perMap
  }

  private def writeForCheck(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
                            rows: Array[Row], out: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(rows.toSeq.asJava, schema)
    // DuckDB reads Spark's instant timestamps as TIMESTAMPTZ while the
    // oracle SQL yields naive ones: write top-level timestamps as NTZ,
    // as `graft.Verify` does
    val ntz = schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampType) d.withColumn(f.name, d(f.name).cast(TimestampNTZType)) else d
    }
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try ntz.coalesce(1).write.mode("overwrite").parquet(out.toString)
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** One JSON line per timed query: the per-query record of the run. */
  private def writeRecord(path: Path, runs: Seq[QueryRun]): Unit = {
    val lines = runs.map { r =>
      val c = r.probe + r.exec
      f"""{"query":"${r.name}","map":"${r.map}","construct_s":${r.constructS}%.6f,""" +
        f""""execute_s":${r.executeS}%.6f,"jobs":${c.jobs},"probe_jobs":${r.probe.jobs},""" +
        f""""tasks":${c.tasks},"task_s":${c.taskS}%.3f,"shuffle_bytes":${c.shuffleBytes},""" +
        f""""spill_bytes":${c.spillBytes}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
