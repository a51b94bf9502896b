package graft.crawl

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.fixtures.SyntheticWeb
import graft.frontier.{FrontierEntry, PoliteScheduler}
import graft.store.SnapshotStore
import graft.url.UrlCanon
import scala.collection.mutable

/** North-rule acceptance: the distributed crawl must reproduce the
  * reference-faithful SEQUENTIAL simulator's crawl ordering, URL-seen set
  * and extracted bytes under the same seed list + politeness budget.
  *
  * The simulator below is an independent single-threaded re-implementation
  * of the wave semantics (queue + maps, no Spark) sharing only the pure
  * parse functions — exactly the structure of the reference crawlers
  * (serial loops over in-memory lists).
  */
class CrawlLoopSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("crawl-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val cfg = SyntheticWeb.Config(seed = 42L, nHosts = 3, pagesPerHost = 2,
    itemsPerPage = 4, blogDepth = 2, blogFanout = 2)
  val crawlCfg = CrawlLoop.Config(
    scheduler = PoliteScheduler.Config(hostBudget = 3, defaultDelayMs = 1000L),
    maxWaves = 32,
    bloomMinSeen = 0L) // force the bloom path at test scale

  final case class SimResult(
      records: Vector[PageParsers.CrawlRecord],
      seen: Set[Long],
      fetchesPerHostWave: Map[(String, Int), Int])

  /** Sequential reference simulator. */
  def simulate(pages: Map[Long, String],
      seeds: Seq[SyntheticWeb.Seed],
      robots: Map[String, (Seq[String], Long)],
      budget: Int, maxAttempts: Int, maxWaves: Int): SimResult = {
    def allowed(e: FrontierEntry): Boolean = robots.get(e.host) match {
      case Some((pre, _)) => !pre.exists(CrawlLoop.pathOf(e.url).startsWith)
      case None           => true
    }
    var frontier = seeds.map(s =>
      CrawlLoop.entryOf(s.url, s.site, s.seed_id, 0, 0, 0)).filter(allowed)
    val seen = mutable.Set[Long](frontier.map(_.urlHash): _*)
    val records = Vector.newBuilder[PageParsers.CrawlRecord]
    val fetchCounts = mutable.Map[(String, Int), Int]()
    var wave = 0
    while (frontier.nonEmpty && wave < maxWaves) {
      // per-host budgeted pick in crawl order
      val byHost = frontier.groupBy(_.host)
      val picked = byHost.values.toVector.flatMap(_.sortBy(e =>
        (e.seed, e.depth, e.pageIdx, e.posInPage, e.urlHash)).take(budget))
      val pickedSet = picked.map(_.urlHash).toSet
      val rest = frontier.filterNot(e => pickedSet.contains(e.urlHash))
      val retries = Vector.newBuilder[FrontierEntry]
      val waveLinks = Vector.newBuilder[FrontierEntry]
      for (e <- picked) {
        fetchCounts((e.host, wave)) = fetchCounts.getOrElse((e.host, wave), 0) + 1
        val html = pages.get(e.urlHash)
        PageParsers.fetchStatus(html, e.attempts) match {
          case 200 =>
            val r = PageParsers.parse(e, html.get)
            records ++= r.records
            waveLinks ++= r.links.map(l => CrawlLoop.entryOf(l.url, l.kind,
              l.seed, l.depth, l.pageIdx, l.posInPage)).filter(allowed)
          case 503 if e.attempts + 1 < maxAttempts =>
            retries += e.copy(attempts = e.attempts + 1)
          case _ => () // dropped / 404
        }
      }
      // in-wave dedup keeps the MIN crawl-order entry per url (matching the
      // engine's row_number window), then the seen filter
      val newLinks = waveLinks.result()
        .groupBy(_.urlHash).values
        .map(_.minBy(e => (e.seed, e.depth, e.pageIdx, e.posInPage)))
        .filter(e => !seen.contains(e.urlHash))
        .toVector
      newLinks.foreach(seen += _.urlHash)
      frontier = rest ++ retries.result() ++ newLinks
      wave += 1
    }
    SimResult(records.result(), seen.toSet, fetchCounts.toMap)
  }

  lazy val pagesDf = SyntheticWeb.pages(spark, cfg).cache()
  lazy val seedsDs = SyntheticWeb.seeds(spark, cfg)
  lazy val robotsDs = SyntheticWeb.robots(spark, cfg)

  lazy val pagesMap: Map[Long, String] = pagesDf.collect().map { r =>
    CrawlLoop.hash64(UrlCanon.canonicalize(r.getAs[String]("url"))) ->
      new String(r.getAs[Array[Byte]]("html"), "UTF-8")
  }.toMap
  lazy val robotsMap = robotsDs.collect()
    .map(r => r.host -> ((r.disallow_prefixes, r.crawl_delay_ms))).toMap

  lazy val sim = simulate(pagesMap, seedsDs.collect().toSeq, robotsMap,
    crawlCfg.scheduler.hostBudget, crawlCfg.maxAttempts, crawlCfg.maxWaves)

  def runEngine(dir: java.nio.file.Path): CrawlLoop.Result = {
    val store = new SnapshotStore(dir.toString, spark)
    CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store, crawlCfg)
  }

  lazy val engine: CrawlLoop.Result =
    runEngine(java.nio.file.Files.createTempDirectory("crawl-spec"))

  test("engine reproduces the sequential simulator's records byte-for-byte" +
    " in crawl order") {
    import spark.implicits._
    val eng = engine.records.as[PageParsers.CrawlRecord]
      .collect().sortBy(_.crawl_rank).toVector
    val simSorted = sim.records.sortBy(_.crawl_rank)
    assert(eng.size == simSorted.size,
      s"record counts differ: engine=${eng.size} sim=${simSorted.size}")
    eng.zip(simSorted).foreach { case (a, b) => assert(a == b) }
    assert(eng.nonEmpty)
  }

  test("engine URL-seen set equals simulator seen set") {
    val engSeen = engine.seen.collect().map(_.getLong(0)).toSet
    assert(engSeen == sim.seen)
  }

  test("byte-identical extracted text per url (input_hint invariant): " +
    "paper abstracts match the pages.text oracle column") {
    import spark.implicits._
    val expected = pagesDf
      .filter(col("text") =!= "")
      .select(col("url"), col("text")).as[(String, String)]
      .collect().toMap
    val papers = engine.records.as[PageParsers.CrawlRecord].collect()
      .filter(r => expected.contains(r.url))
    assert(papers.nonEmpty)
    papers.foreach { r =>
      assert(r.abstract_text == expected(r.url),
        s"byte contract broken for ${r.url}")
    }
  }

  test("politeness: per host ≤ budget per wave; consecutive not_before " +
    "≥ crawl delay apart") {
    val log = engine.fetchLog.collect().map { r =>
      (r.getAs[String]("host"), r.getAs[Int]("wave"),
        r.getAs[Int]("slot"), r.getAs[Long]("not_before"))
    }
    val byHostWave = log.groupBy(t => (t._1, t._2))
    byHostWave.foreach { case ((host, _), rows) =>
      assert(rows.length <= crawlCfg.scheduler.hostBudget)
      val delay = robotsMap.get(host).map(_._2)
        .getOrElse(crawlCfg.scheduler.defaultDelayMs)
      val times = rows.sortBy(_._3).map(_._4)
      times.sliding(2).foreach {
        case Array(a, b) => assert(b - a >= delay)
        case _           => ()
      }
    }
    // and the engine scheduled the same host-wave fetch counts as the sim
    val engCounts = byHostWave.view.mapValues(_.length).toMap
    assert(engCounts == sim.fetchesPerHostWave)
  }

  test("retries: flaky pages succeed after their marked failures; " +
    "fetch_log shows 503 then 200 for the same url_hash") {
    val log = engine.fetchLog.collect().map { r =>
      (r.getAs[Long]("url_hash"), r.getAs[Int]("wave"),
        r.getAs[Int]("status"))
    }
    val flaky = log.filter(_._3 == 503).map(_._1).toSet
    assert(flaky.nonEmpty, "fixture should contain flaky pages")
    flaky.foreach { h =>
      val mine = log.filter(_._1 == h).sortBy(_._2).map(_._3)
      assert(mine.last == 200, s"flaky page $h never succeeded: ${mine.toList}")
    }
  }

  test("resume: killing after wave 0 and resuming from the snapshot yields " +
    "identical final records and seen set") {
    val dir = java.nio.file.Files.createTempDirectory("crawl-resume")
    val store1 = new SnapshotStore(dir.toString, spark)
    // run only the first wave, then "crash"
    CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store1,
      crawlCfg.copy(maxWaves = 1))
    // resume with a fresh store handle over the same root
    val store2 = new SnapshotStore(dir.toString, spark)
    val resumed = CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store2,
      crawlCfg)
    import spark.implicits._
    val eng = resumed.records.as[PageParsers.CrawlRecord]
      .collect().sortBy(_.crawl_rank).toVector
    assert(eng == sim.records.sortBy(_.crawl_rank))
    val engSeen = resumed.seen.collect().map(_.getLong(0)).toSet
    assert(engSeen == sim.seen)
  }

  test("sql (window) scheduler variant produces the identical crawl") {
    val dir = java.nio.file.Files.createTempDirectory("crawl-sql")
    val store = new SnapshotStore(dir.toString, spark)
    val res = CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store,
      crawlCfg.copy(schedulerImpl = "sql"))
    import spark.implicits._
    val eng = res.records.as[PageParsers.CrawlRecord]
      .collect().sortBy(_.crawl_rank).toVector
    assert(eng == sim.records.sortBy(_.crawl_rank))
  }

  test("robots-as-a-table (broadcast join) variant produces the identical " +
    "crawl — the 10^8-host path where robots never transits the driver") {
    val dir = java.nio.file.Files.createTempDirectory("crawl-robots-join")
    val store = new SnapshotStore(dir.toString, spark)
    val res = CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store,
      crawlCfg.copy(robotsImpl = "join"))
    import spark.implicits._
    val eng = res.records.as[PageParsers.CrawlRecord]
      .collect().sortBy(_.crawl_rank).toVector
    assert(eng == sim.records.sortBy(_.crawl_rank))
    val engSeen = res.seen.collect().map(_.getLong(0)).toSet
    assert(engSeen == sim.seen)
  }

  test("bucketed pages table (cfg.pagesTable) produces the identical crawl " +
    "with the html payload never shuffling") {
    graft.sources.BucketedPages.write(spark, pagesDf, "crawl_pages_bucketed",
      nBuckets = 4, path = Some(java.nio.file.Files
        .createTempDirectory("crawl-bucket-tbl").toString + "/pages"))
    val dir = java.nio.file.Files.createTempDirectory("crawl-bucketed")
    val store = new SnapshotStore(dir.toString, spark)
    val res = CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store,
      crawlCfg.copy(pagesTable = Some("crawl_pages_bucketed")))
    import spark.implicits._
    val eng = res.records.as[PageParsers.CrawlRecord]
      .collect().sortBy(_.crawl_rank).toVector
    assert(eng == sim.records.sortBy(_.crawl_rank))
  }

  test("bloom maintenance modes (incremental / delta / perwave / auto with " +
    "a mid-crawl flip) all produce the identical crawl and seen set") {
    import spark.implicits._
    val simRecords = sim.records.sortBy(_.crawl_rank)
    val variants = Seq(
      "incremental" -> crawlCfg.copy(bloomImpl = "incremental"),
      "delta" -> crawlCfg.copy(bloomImpl = "delta"),
      "perwave" -> crawlCfg.copy(bloomImpl = "perwave"),
      // threshold inside the crawl's seen growth → auto flips
      // incremental→delta mid-crawl; both feed the same segment map
      "auto-flip" -> crawlCfg.copy(bloomImpl = "auto",
        bloomDeltaThreshold = 20L))
    variants.foreach { case (name, c) =>
      val dir = java.nio.file.Files.createTempDirectory(s"crawl-bloom-$name")
      val res = CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs,
        new SnapshotStore(dir.toString, spark), c)
      val eng = res.records.as[PageParsers.CrawlRecord]
        .collect().sortBy(_.crawl_rank).toVector
      assert(eng == simRecords, s"records diverge under bloomImpl=$name")
      assert(res.seen.collect().map(_.getLong(0)).toSet == sim.seen,
        s"seen set diverges under bloomImpl=$name")
    }

    // resume under "delta": the crash-recovery path re-seeds the driver
    // segment map DISTRIBUTED (buildSegments over the stored seen deltas,
    // nBuckets-row collect — no hash transits the driver) and must yield
    // the identical final crawl
    val rdir = java.nio.file.Files.createTempDirectory("crawl-bloom-resume")
    val deltaCfg = crawlCfg.copy(bloomImpl = "delta")
    CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs,
      new SnapshotStore(rdir.toString, spark), deltaCfg.copy(maxWaves = 2))
    val resumed = CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs,
      new SnapshotStore(rdir.toString, spark), deltaCfg)
    val engR = resumed.records.as[PageParsers.CrawlRecord]
      .collect().sortBy(_.crawl_rank).toVector
    assert(engR == simRecords, "records diverge on delta-bloom resume")
    assert(resumed.seen.collect().map(_.getLong(0)).toSet == sim.seen)

    // a typo'd mode must fail fast: silently matching no maintenance arm
    // would leave a permanently stale driver bloom whose false negatives
    // bypass the exact anti-join (duplicate fetches)
    val e = intercept[IllegalArgumentException] {
      CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs,
        new SnapshotStore(java.nio.file.Files
          .createTempDirectory("crawl-bloom-typo").toString, spark),
        crawlCfg.copy(bloomImpl = "per-wave"))
    }
    assert(e.getMessage.contains("bloomImpl"))
  }

  test("per-wave metrics come from footers/accumulators and match the " +
    "simulator's fetch counts") {
    val dir = java.nio.file.Files.createTempDirectory("crawl-metrics")
    val store = new SnapshotStore(dir.toString, spark)
    CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store, crawlCfg)
    val perWaveScheduled = store.snapshots.map(store.readManifest)
      .map(s => s.wave -> s.metrics.getOrElse("scheduled", 0L)).toMap
    val simPerWave = sim.fetchesPerHostWave.groupBy(_._1._2)
      .view.mapValues(_.values.sum.toLong).toMap
    assert(perWaveScheduled == simPerWave,
      s"engine=$perWaveScheduled sim=$simPerWave")
  }

  test("ordering invariance under repartition: records identical at " +
    "different parallelism") {
    // second full engine run in the same session but different shuffle
    // partitioning must give identical bytes (O1 invariance)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val r2 = runEngine(java.nio.file.Files.createTempDirectory("crawl-p7"))
      import spark.implicits._
      val a = engine.records.as[PageParsers.CrawlRecord]
        .collect().sortBy(_.crawl_rank).toVector
      val b = r2.records.as[PageParsers.CrawlRecord]
        .collect().sortBy(_.crawl_rank).toVector
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("jobs per wave: every wave after the first launches the same " +
    "number of Spark jobs, and reading the store launches none") {
    val dir = java.nio.file.Files.createTempDirectory("crawl-jobs")
    val store = new SnapshotStore(dir.toString, spark)
    val log = new graft.JobLog(spark.sparkContext)
    val res = try CrawlLoop.run(spark, pagesDf, seedsDs, robotsDs, store,
      crawlCfg) finally log.close()
    val jobs = log.descriptions
    val perWave = (0 until res.waves)
      .map(w => jobs.count(_.contains(s"crawl wave $w")))
    assert(res.waves >= 5, s"fixture crawl too short: ${res.waves} waves")
    assert(perWave.forall(_ > 0), s"untagged wave jobs: $perWave")
    // a reload whose cost grows with the stored deltas (one schema
    // inference job per delta, say) shows up here as a rising count
    assert(perWave.tail.distinct.size == 1,
      s"jobs per wave depend on crawl history: $perWave")
    // building the Result frames after the last wave launches nothing
    assert(jobs.last.contains(s"crawl wave ${res.waves - 1}"))

    val snaps = store.snapshots.map(store.readManifest)
    def deltas(prefix: String) = snaps.map(s => s.tables(s"$prefix${s.wave}"))
    val reads = new graft.JobLog(spark.sparkContext)
    try {
      store.table(snaps.last, "frontier").get
      store.read(deltas("seen_w")).get
      store.readInOrder(deltas("records_w")).get
    } finally reads.close()
    assert(reads.count == 0, s"store reads launched ${reads.count} jobs")
  }
}
