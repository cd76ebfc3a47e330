package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.fetch.{ContentStore, ProtocolFactory}
import graft.filters.{BasicUrlFilter, BasicUrlNormalizer, MaxDepthFilter, RegexUrlFilter, SelfUrlFilter, UrlFilterChain}
import graft.frontier.{AdaptiveQueryDate, FrontierStore}
import graft.index.{BandLedger, DigestLedger, JdbcIndexSink}
import graft.model.Status
import graft.streaming.CrawlTopology

/** `crawl-loop`: rounds of `CrawlTopology.crawlOnce` cycles, each round
  * crawling a freshly generated `file://` site of H hosts × P pages until
  * the frontier runs dry, with the production leg set on: robots,
  * content store, batch digest collapse, digest and band ledgers and
  * the embedded-Derby `JdbcIndexSink`. Every round starts from empty
  * stores seeded with every page of its site, so one cycle fetches the
  * whole site (P pages per host) and the next finds nothing due; the
  * outlinks of page 0 come back as duplicate discoveries. Rounds are
  * alike and independent.
  *
  * The site: page 0 of each host links the host's other pages. Every
  * `dupEvery`-th page serves a body that is byte-identical across all
  * hosts; every other page is made of words drawn fresh for it, so no
  * two distinct bodies share a word and the band ledger never fires.
  * The index must end with exactly one row per distinct body.
  */
object CrawlLoop {
  final case class Params(hosts: Int, pages: Int, perHost: Int, crawlDelayMs: Long,
                          dupEvery: Int, tokensPerPage: Int)

  val params: Params = Params(hosts = 24, pages = 21, perHost = 21, crawlDelayMs = 20,
    dupEvery = 4, tokensPerPage = 40)

  /** A generated site: url → body id. */
  final case class Site(bodyOf: Map[String, String]) {
    def distinctBodies: Int = bodyOf.values.toSet.size
  }

  private def word(r: Random): String = {
    val cs = "abcdefghijklmnopqrstuvwxyz"
    (1 to 9).map(_ => cs(r.nextInt(cs.length))).mkString
  }

  def generate(p: Params, seed: Long, round: Int, dir: Path): Site = {
    val r = new Random(seed * 7919L + round)
    val bodyOf = mutable.LinkedHashMap.empty[String, String]
    val shared = (1 until p.pages).filter(_ % p.dupEvery == 0).map { i =>
      i -> s"<html><head><title>mirror $i</title></head><body>${
        Seq.fill(p.tokensPerPage)(word(r)).mkString(" ")}</body></html>"
    }.toMap
    (0 until p.hosts).foreach { h =>
      val hostDir = dir.resolve(s"host$h")
      Files.createDirectories(hostDir)
      val base = s"file://r${round}h$h.example.com$hostDir"
      val links = (1 until p.pages).map(i => s"""<a href="p$i.html">${word(r)} ${word(r)}</a>""")
      Files.write(hostDir.resolve("p0.html"),
        s"<html><head><title>${word(r)}</title></head><body>${links.mkString("\n")}</body></html>"
          .getBytes("UTF-8"))
      bodyOf(s"$base/p0.html") = s"h$h/p0"
      (1 until p.pages).foreach { i =>
        val body = shared.getOrElse(i,
          s"<html><head><title>${word(r)}</title></head><body>${
            Seq.fill(p.tokensPerPage)(word(r)).mkString(" ")}</body></html>")
        Files.write(hostDir.resolve(s"p$i.html"), body.getBytes("UTF-8"))
        bodyOf(s"$base/p$i.html") = if (shared.contains(i)) s"shared/p$i" else s"h$h/p$i"
      }
    }
    Site(bodyOf.toMap)
  }

  /** The crawl chain for `file://` sites: the default chain's https-only
    * rule would drop them, so allow-all regex plus the basic, self and
    * depth filters (the `CrawlLoopBench` chain). */
  private def chain = new UrlFilterChain(Seq(
    new BasicUrlNormalizer(), new BasicUrlFilter(), new SelfUrlFilter(),
    new MaxDepthFilter(5), RegexUrlFilter.parse(Seq("+."))))

  private val legNames = Seq(
    "select" -> "frontier.select_s", "merge" -> "frontier.merge_s",
    "fetch" -> "fetch.fetch_s", "content_store" -> "fetch.content_store_s",
    "parse_chain" -> "parse.parse_chain_s", "digest_ledger" -> "index.digest_ledger_s",
    "band_ledger" -> "index.band_ledger_s", "index_sink" -> "index.sink_s",
    "stats_counts" -> "streaming.stats_counts_s")

  final case class CycleRec(wallS: Double, fetched: Long, outlinks: Long, docs: Long,
                            indexed: Long, floorS: Double, legs: Map[String, Double],
                            spark: Counters, compactS: Double, storeGrowth: Long)

  /** One round: the seed merge (`setupS`), the timed cycles, and what
    * the untimed checks and the store measurement found. */
  final case class RoundRec(setupS: Double, wallS: Double, cpuS: Double, fetched: Long,
                            attempted: Long, failedOps: Seq[String], cycles: Seq[CycleRec],
                            generations: Int, storeMb: Double)

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Double,
          trace: Option[Trace], setupStart: Double): Outcome = {
    val p = params
    val cores = spark.sparkContext.defaultParallelism
    val jdbcUrl = s"jdbc:derby:${work.resolve("index")};create=true"
    val sink = new JdbcIndexSink(jdbcUrl, create = true)
    sink.ensureSchema()

    // set-up, once: `graft.Bench`'s machinery warmup
    val (_, warmS) = Timer(Warmup.machinery(spark))

    val setups = mutable.ArrayBuffer.empty[Double]
    val rounds = mutable.ArrayBuffer.empty[RoundRec]
    while (rounds.isEmpty || rounds.map(_.wallS).sum < seconds) {
      val round = rounds.size
      val rdir = work.resolve(s"round$round")
      val site = generate(p, seed, round, rdir.resolve("site"))
      // the first round sets up three times (twice into throwaway
      // stores), so setup_s can take a median
      if (round == 0) (1 to 2).foreach { i =>
        val throwaway = rdir.resolve(s"setup$i")
        setups += Timer(CrawlTopology.seed(spark,
          new FrontierStore(throwaway.toString, numBuckets = 64), site.bodyOf.keys.toSeq.sorted, chain))._2
        Dirs.deleteRec(throwaway)
      }
      rounds += crawlRound(spark, p, site, rdir, work, sink, jdbcUrl, trace, s"round $round")
      setups += rounds.last.setupS
    }

    val cycles = rounds.flatMap(_.cycles).toSeq
    val cycleWalls = cycles.map(_.wallS)
    val loopS = rounds.map(_.wallS).sum
    val e2e = Seq(
      ("setup_s", setupStart + warmS + Stats.median(setups.toSeq), "s"),
      ("round_s", Stats.median(rounds.map(_.wallS).toSeq), "s"),
      ("round_cpu_s", Stats.median(rounds.map(_.cpuS).toSeq), "s"),
      ("work_per_s", rounds.map(_.fetched).sum / loopS, "1/s"),
      ("op_p50_s", Stats.median(cycleWalls), "s"),
      // the first round's: later rounds share the Derby files, which a
      // DELETE does not shrink
      ("store_mb", rounds.head.storeMb, "MB"))
    val layers =
      if (trace.isEmpty) Nil
      else {
        val n = cycles.size.toDouble
        def per(f: CycleRec => Double) = cycles.map(f).sum / n
        legNames.map { case (leg, name) => (name, per(_.legs.getOrElse(leg, 0.0)), "s") } ++ Seq(
          ("frontier.compact_s", per(_.compactS), "s"),
          ("frontier.generations", Stats.mean(rounds.map(_.generations.toDouble).toSeq), "count"),
          ("frontier.merge_bytes_written", per(_.storeGrowth.toDouble), "B"),
          ("fetch.politeness_floor_s", per(_.floorS), "s"),
          ("fetch.pages", per(_.fetched.toDouble), "count"),
          ("parse.outlinks", per(_.outlinks.toDouble), "count"),
          ("index.docs_offered", per(_.docs.toDouble), "count"),
          ("index.docs_indexed", per(_.indexed.toDouble), "count"),
          ("spark.jobs", per(_.spark.jobs.toDouble), "count"),
          ("spark.tasks", per(_.spark.tasks.toDouble), "count"),
          ("spark.task_s", per(_.spark.taskS), "s"),
          ("spark.shuffle_bytes", per(_.spark.shuffleBytes.toDouble), "B"),
          ("spark.spill_bytes", per(_.spark.spillBytes.toDouble), "B"),
          ("spark.busy_share", cycles.map(_.spark.taskS).sum / (cycleWalls.sum * cores), "ratio"))
      }
    Outcome(rounds.map(_.attempted).sum, rounds.flatMap(_.failedOps).toSeq, e2e ++ layers,
      Seq(s"rounds=${rounds.size} pages/round=${p.hosts * p.pages} cycles=${cycles.size} " +
        f"cycle_s=${cycleWalls.map(c => f"$c%.2f").mkString(",")} setups=${setups.map(s => f"$s%.2f").mkString(",")} " +
        f"warm-up=$warmS%.2f"))
  }

  /** Crawls `site` from empty stores under `rdir` until the frontier
    * runs dry, then checks the round (untimed) and deletes its stores.
    * Only the cycles are timed; the seed merge is timed apart. */
  private def crawlRound(spark: SparkSession, p: Params, site: Site, rdir: Path, work: Path,
                         sink: JdbcIndexSink, jdbcUrl: String, trace: Option[Trace],
                         label: String): RoundRec = {
    val traced = trace.isDefined
    val ((store, contentStore, digests, bands), setupS) = Timer {
      val store = new FrontierStore(rdir.resolve("frontier").toString, numBuckets = 64)
      val stores = (store, new ContentStore(rdir.resolve("content").toString),
        new DigestLedger(rdir.resolve("digests").toString),
        new BandLedger(rdir.resolve("bands").toString))
      CrawlTopology.seed(spark, store, site.bodyOf.keys.toSeq.sorted, chain)
      stores
    }

    val adaptiveDate = new AdaptiveQueryDate()
    val limit = p.hosts * p.perHost
    val cycles = mutable.ArrayBuffer.empty[CycleRec]
    val failedOps = mutable.ArrayBuffer.empty[String]
    var roundS, cpu = 0.0
    var fetched, attempted, indexedBefore = 0L
    var go = true
    val frontierDir = rdir.resolve("frontier")
    while (go) {
      val before = Dirs.sizeBytes(frontierDir)
      val c0 = trace.map(_.snapshot()).getOrElse(Counters.zero)
      val cpu0 = Cpu.now()
      val ((st, _), cycleS) = Timer {
        CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
          perBucket = p.perHost, maxKeys = p.hosts, limit = limit,
          crawlDelayMs = p.crawlDelayMs, respectRobots = true,
          selectTime = Some(adaptiveDate.queryDate()),
          contentStore = Some(contentStore), indexSink = Some(sink),
          dedupContent = true, digestLedger = Some(digests), bandLedger = Some(bands),
          timeLegs = traced)
      }
      adaptiveDate.observe(st.selected, limit)
      // the crawl loop's compaction policy
      val (_, compactS) =
        if (store.generationCount > 16) Timer(store.compact(spark)) else ((), 0.0)
      cpu += Cpu.now() - cpu0
      val c1 = trace.map(_.snapshot()).getOrElse(Counters.zero)
      attempted += 1
      if (st.failed > 0) failedOps += s"$label cycle ${cycles.size}"
      Check(st.failed == 0, s"crawl-loop $label: ${st.failed} fetches failed")
      go = st.selected > 0
      if (go) {
        val wall = cycleS + compactS
        roundS += wall
        fetched += st.fetched
        val perHostMax = math.min(p.perHost.toLong, (st.fetched + p.hosts - 1) / p.hosts)
        val indexedNow = if (traced) indexedRows(jdbcUrl) else 0L
        cycles += CycleRec(wall, st.fetched, st.discovered, st.docs, indexedNow - indexedBefore,
          math.max(0L, perHostMax - 1) * p.crawlDelayMs / 1000.0,
          st.legs, c1 - c0, compactS, Dirs.sizeBytes(frontierDir) - before)
        indexedBefore = indexedNow
      } else roundS += cycleS // the empty selection that ends the round
    }
    // outside the timed region: the round's checks
    checkRound(spark, store, site, jdbcUrl, fetched, label)
    val storeMb = (Dirs.sizeBytes(rdir) - Dirs.sizeBytes(rdir.resolve("site")) +
      Dirs.sizeBytes(work.resolve("index"))) / 1e6
    val rec = RoundRec(setupS, roundS, cpu, fetched, attempted, failedOps.toSeq, cycles.toSeq,
      store.generationCount, storeMb)
    clearIndex(jdbcUrl)
    Dirs.deleteRec(rdir)
    rec
  }

  private def indexedRows(jdbcUrl: String): Long = {
    val conn = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM content_index")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  private def clearIndex(jdbcUrl: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(jdbcUrl)
    try conn.createStatement().executeUpdate("DELETE FROM content_index"): Unit
    finally conn.close()
  }

  /** Every page fetched exactly once, every url FETCHED, and one index
    * row per distinct body — computed from the generator, not the
    * program. */
  private def checkRound(spark: SparkSession, store: FrontierStore, site: Site, jdbcUrl: String,
                         fetched: Long, label: String): Unit = {
    val pages = site.bodyOf.size
    Check(fetched == pages, s"crawl-loop $label: fetched $fetched pages, the site has $pages")
    val rows = store.read(spark).select("url", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    Check(rows.keySet == site.bodyOf.keySet,
      s"crawl-loop $label: frontier holds ${rows.size} urls, the site has $pages " +
        s"(${(rows.keySet diff site.bodyOf.keySet).take(3)} extra, " +
        s"${(site.bodyOf.keySet diff rows.keySet).take(3)} missing)")
    val notFetched = rows.filter(_._2 != Status.Fetched)
    Check(notFetched.isEmpty, s"crawl-loop $label: ${notFetched.size} urls not FETCHED, " +
      s"e.g. ${notFetched.take(3)}")
    val indexed = {
      val conn = java.sql.DriverManager.getConnection(jdbcUrl)
      try {
        val rs = conn.createStatement().executeQuery("SELECT url FROM content_index")
        val b = mutable.ArrayBuffer.empty[String]
        while (rs.next()) b += rs.getString(1)
        b.toSeq
      } finally conn.close()
    }
    val bodies = indexed.map(u => site.bodyOf.getOrElse(u, s"unknown:$u"))
    val twice = bodies.groupBy(identity).collect { case (b, bs) if bs.size > 1 => b }
    Check(twice.isEmpty, s"crawl-loop $label: bodies indexed more than once: ${twice.take(3)}")
    Check(bodies.toSet == site.bodyOf.values.toSet,
      s"crawl-loop $label: ${indexed.size} rows indexed, ${site.distinctBodies} distinct bodies " +
        s"(missing e.g. ${(site.bodyOf.values.toSet diff bodies.toSet).take(3)})")
  }
}
