package graft.perfbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.frontier.{DefaultScheduler, FrontierStore}
import graft.model.Status

/** `frontier-churn`: select → synthetic fetch results and outlinks →
  * merge cycles over a generated status table, on a synthetic clock,
  * compacting under the crawl loop's policy (more than 16 live
  * generations). Every selection is checked against [[FrontierModel]],
  * a plain-Scala model of the frontier, and so are the final per-status
  * counts.
  */
object FrontierChurn {
  final case class Params(rows: Int, hosts: Int, zipf: Double, perBucket: Int,
                          maxKeys: Int, limit: Int, newPerPage: Int, dupPerPage: Int,
                          stepMins: Int, cyclesPerRound: Int)

  val params: Params = Params(rows = 60000, hosts = 600, zipf = 1.0, perBucket = 20,
    maxKeys = 16, limit = 300, newPerPage = 2, dupPerPage = 1, stepMins = 30,
    cyclesPerRound = 17)

  private val t0Ms = 1700000000000L - 1700000000000L % 60000L
  private def at(ms: Long) = new Timestamp(ms)
  private val emptyMd = Map.empty[String, Seq[String]]

  /** Hosts of Zipf-skewed size; names carry a seed-derived token. */
  def generate(p: Params, seed: Long): (IndexedSeq[String], IndexedSeq[Int]) = {
    val rnd = new Random(seed)
    val weights = (0 until p.hosts).map(i => 1.0 / math.pow(i + 1, p.zipf))
    val total = weights.sum
    val sizes = weights.map(w => math.max(1, math.round(p.rows * w / total).toInt))
    val names = (0 until p.hosts).map(i => f"h${rnd.nextInt(1 << 20)}%05x-$i.example.com")
    (names, rnd.shuffle(sizes))
  }

  def url(host: String, path: String): String = s"https://$host/$path"

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Double,
          trace: Option[Trace], setupStart: Double): Outcome = {
    import spark.implicits._
    val p = params
    val (hostNames, sizes) = generate(p, seed)
    val rnd = new Random(seed * 31 + 7)
    // base table: mostly DISCOVERED, some FETCHED and FETCH_ERROR
    val base = hostNames.indices.flatMap { h =>
      (0 until sizes(h)).map { i =>
        val r = rnd.nextInt(100)
        val st = if (r < 70) Status.Discovered else if (r < 92) Status.Fetched else Status.FetchError
        (url(hostNames(h), s"p$i"), st)
      }
    }
    val model = new FrontierModel(DefaultScheduler())
    val store = new FrontierStore(work.resolve("frontier").toString)

    // set-up: the base load (one merge at t0), timed as set-up
    val (_, loadS) = Timer {
      store.merge(spark, base.map { case (u, s) => (u, s, emptyMd) }
        .toDF("url", "status", "metadata"), at(t0Ms))
    }
    model.merge(base, t0Ms)
    val setupS = setupStart + loadS

    val hostOf = mutable.HashMap.empty[String, Int]
    hostNames.indices.foreach(h => hostOf(hostNames(h)) = h)
    val nextPath = mutable.ArrayBuffer.from(sizes)
    val known = mutable.ArrayBuffer.from(sizes)

    val selectS, mergeS, cycleS, mergeBytes, roundS, roundCpu = mutable.ArrayBuffer.empty[Double]
    val compactS = mutable.ArrayBuffer.empty[Double]
    val selC, mergeC = mutable.ArrayBuffer.empty[Counters]
    val failedOps = mutable.ArrayBuffer.empty[String]
    var rowsMerged = 0L
    var loopS, roundStartS, roundCpuSoFar = 0.0
    var cycle = 0
    var attempted = 0L
    val storeDir = work.resolve("frontier")

    def snap(): Counters = trace.map(_.snapshot()).getOrElse(Counters.zero)

    while (cycle == 0 || loopS < seconds || cycle % p.cyclesPerRound != 0) {
      val now = t0Ms + (cycle + 1).toLong * p.stepMins * 60000L
      val c0 = snap()
      val cpu0 = Cpu.now()
      val (sel, sS) = Timer {
        store.selectBatch(spark, at(now), p.perBucket, p.maxKeys, p.limit)
          .select("url").collect().map(_.getString(0)).toSeq
      }
      val cpuSel = Cpu.now() - cpu0
      val c1 = snap()
      // outside the timed region: the model's selection must match
      val expected = model.select(now, p.perBucket, p.maxKeys, p.limit)
      if (sel != expected) failedOps += s"cycle $cycle select"
      Check(sel == expected,
        s"frontier-churn cycle $cycle: selection of ${sel.size} rows differs from the model's " +
          s"${expected.size} (first difference at ${sel.zip(expected).indexWhere(t => t._1 != t._2)})")

      // synthetic fetch results, new and duplicate outlinks
      val cr = new Random(seed * 1000003L + cycle)
      val updates = mutable.ArrayBuffer.empty[(String, String)]
      val selHosts = sel.map(u => hostOf(hostFromUrl(u))).distinct.toIndexedSeq
      sel.foreach { u =>
        val r = cr.nextInt(100)
        val st = if (r < 85) Status.Fetched else if (r < 97) Status.FetchError else Status.Redirection
        updates += ((u, st))
        if (st == Status.Fetched) {
          val h = hostOf(hostFromUrl(u))
          (0 until p.newPerPage).foreach { _ =>
            // a new page on this host, or (one in eight) on another
            // host of the batch, so merges touch the batch's buckets
            val th = if (cr.nextInt(8) == 0) selHosts(cr.nextInt(selHosts.size)) else h
            updates += ((url(hostNames(th), s"p${nextPath(th)}"), Status.Discovered))
            nextPath(th) += 1
          }
          (0 until p.dupPerPage).foreach { _ =>
            updates += ((url(hostNames(h), s"p${cr.nextInt(known(h))}"), Status.Discovered))
          }
        }
      }
      val updDf = updates.map { case (u, s) => (u, s, emptyMd) }.toSeq.toDF("url", "status", "metadata")
      val before = Dirs.sizeBytes(storeDir)
      val cpu1 = Cpu.now()
      val (_, mS) = Timer(store.merge(spark, updDf, at(now)))
      var cpu = cpuSel + Cpu.now() - cpu1
      val c2 = snap()
      model.merge(updates.toSeq, now)
      hostNames.indices.foreach(h => known(h) = nextPath(h))
      mergeBytes += (Dirs.sizeBytes(storeDir) - before).toDouble
      selectS += sS; mergeS += mS; cycleS += sS + mS
      selC += c1 - c0; mergeC += c2 - c1
      rowsMerged += updates.size
      attempted += 2
      var loopAdd = sS + mS
      if (store.generationCount > 16) {
        val cpu2 = Cpu.now()
        val (_, kS) = Timer(store.compact(spark))
        cpu += Cpu.now() - cpu2
        compactS += kS; loopAdd += kS; attempted += 1
      }
      loopS += loopAdd
      roundCpuSoFar += cpu
      cycle += 1
      if (cycle % p.cyclesPerRound == 0) {
        roundS += loopS - roundStartS
        roundCpu += roundCpuSoFar
        roundStartS = loopS
        roundCpuSoFar = 0.0
      }
    }

    // final per-status counts against the model (untimed)
    val counts = store.statusCounts(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Check(counts == model.statusCounts,
      s"frontier-churn: status counts $counts differ from the model's ${model.statusCounts}")

    val storeMb = Dirs.sizeBytes(storeDir) / 1e6
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("round_s", Stats.median(roundS.toSeq), "s"),
      ("round_cpu_s", Stats.median(roundCpu.toSeq), "s"),
      ("work_per_s", rowsMerged / loopS, "1/s"),
      ("op_p50_s", Stats.median(cycleS.toSeq), "s"),
      ("store_mb", storeMb, "MB"))
    val layers = Seq(
      ("frontier.select_s", Stats.mean(selectS.toSeq), "s"),
      ("frontier.merge_s", Stats.mean(mergeS.toSeq), "s"),
      ("frontier.compact_s", compactS.sum / cycle, "s"),
      ("frontier.generations", store.generationCount.toDouble, "count"),
      ("frontier.merge_bytes_written", Stats.mean(mergeBytes.toSeq), "B"),
      ("frontier.select_jobs", selC.map(_.jobs.toDouble).sum / cycle, "count"),
      ("frontier.select_tasks", selC.map(_.tasks.toDouble).sum / cycle, "count"),
      ("frontier.select_shuffle_bytes", selC.map(_.shuffleBytes.toDouble).sum / cycle, "B"),
      ("frontier.merge_jobs", mergeC.map(_.jobs.toDouble).sum / cycle, "count"),
      ("frontier.merge_tasks", mergeC.map(_.tasks.toDouble).sum / cycle, "count"),
      ("frontier.merge_shuffle_bytes", mergeC.map(_.shuffleBytes.toDouble).sum / cycle, "B"))
    Outcome(attempted, failedOps.toSeq, e2e ++ layers,
      Seq(s"cycles=$cycle rows=${base.size} merged=$rowsMerged compactions=${compactS.size} " +
        f"load=$loadS%.2fs select_p50=${Stats.median(selectS.toSeq)}%.3fs merge_p50=${Stats.median(mergeS.toSeq)}%.3fs"))
  }

  def hostFromUrl(u: String): String = {
    val s = u.indexOf("://") + 3
    val e = u.indexOf('/', s)
    if (e < 0) u.substring(s) else u.substring(s, e)
  }
}

/** The frontier in plain Scala, following the store's reference
  * semantics: the merge precedence ladder (an incoming fetch result
  * beats the existing row, which beats an incoming discovery), error
  * counting with escalation to ERROR at three fetch errors, the
  * `DefaultScheduler` intervals, and the selection (due filter, top-K
  * per key by (due, url), keys by (earliest due, key), then the
  * limit). Inputs carry no metadata and at most one fetch result per
  * url per batch, so the store's metadata tie-breaks never decide. */
final class FrontierModel(sched: DefaultScheduler) {
  import FrontierModel.Row
  private val rows = mutable.HashMap.empty[String, Row]
  private val maxFetchErrors = 3

  private def interval(status: String): Long = (status match {
    case Status.Fetched => sched.fetchedMins
    case Status.FetchError => sched.fetchErrorMins
    case Status.Error => sched.errorMins
    case Status.Redirection => sched.fetchedMins
    case _ => 0
  }).toLong * 60000L

  def merge(batch: Seq[(String, String)], now: Long): Unit = {
    val byUrl = batch.groupBy(_._1)
    byUrl.foreach { case (u, in) =>
      val results = in.filter(_._2 != Status.Discovered).map(_._2).sorted
      val existing = rows.get(u)
      results.headOption match {
        case Some(st) =>
          val errs = existing.map(_.errors).getOrElse(0) + in.count(_._2 == Status.FetchError)
          val errorCount = if (st == Status.Fetched) 0 else errs
          val status = if (st == Status.FetchError && errorCount >= maxFetchErrors) Status.Error else st
          rows(u) = Row(status, now + interval(status), errorCount,
            FrontierChurn.hostFromUrl(u).toLowerCase)
        case None if existing.isEmpty =>
          rows(u) = Row(Status.Discovered, now, 0, FrontierChurn.hostFromUrl(u).toLowerCase)
        case None => ()
      }
    }
  }

  def select(now: Long, perKey: Int, maxKeys: Int, limit: Int): Seq[String] = {
    val due = rows.iterator.filter { case (_, r) => r.next <= now && r.status != Status.Error }
      .toSeq.groupBy(_._2.key)
    val keys = due.toSeq.map { case (k, rs) => (rs.map(_._2.next).min, k) }
      .sorted.take(maxKeys)
    keys.iterator.flatMap { case (_, k) =>
      due(k).sortBy { case (u, r) => (r.next, u) }.take(perKey).map(_._1)
    }.take(limit).toSeq
  }

  def statusCounts: Map[String, Long] =
    rows.values.groupBy(_.status).map { case (s, rs) => s -> rs.size.toLong }
}

object FrontierModel {
  final case class Row(status: String, next: Long, errors: Int, key: String)
}
