package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.crawl.{CrawlLoop, PageParsers}
import graft.fixtures.SyntheticWeb
import graft.frontier.{FrontierEntry, PoliteScheduler}
import graft.seen.UrlSeen
import graft.sources.BucketedPages
import graft.store.SnapshotStore
import graft.url.UrlCanon
import scala.collection.immutable.ListMap

/** The two crawl workloads: a crawl from seeds to an empty frontier through
  * `CrawlLoop.run`, over a generated web held in a bucketed pages table.
  */
object CrawlBench {

  final case class Spec(web: SyntheticWeb.Config, hostBudget: Int,
      delayMs: Long, interruptAfter: Option[Int], nBuckets: Int)

  /** `toy` shrinks every input for the self-test; the shapes stay. */
  def spec(workload: String, seed: Long, toy: Boolean): Spec = workload match {
    // a hot host (skew) whose paper backlog keeps the frontier larger
    // than each small wave for most of the crawl, so cost that grows with
    // crawl history shows. The blog chains (one page per level) set the
    // wave count, 13 on every seed: they outlast the backlog and the
    // retries of flaky pages, so the seed changes content, not the wave
    // count. Interrupted about half way and resumed on the same store.
    case "crawl_deep" =>
      Spec(SyntheticWeb.Config(seed = seed, nHosts = if (toy) 2 else 8,
        pagesPerHost = if (toy) 2 else 4, itemsPerPage = if (toy) 3 else 8,
        blogDepth = if (toy) 2 else 12, blogFanout = if (toy) 3 else 1,
        skewFactor = 2.0),
        hostBudget = if (toy) 8 else 16, delayMs = 1L,
        interruptAfter = Some(if (toy) 2 else 6), nBuckets = 32)
    // many hosts and large pages, so each wave carries thousands of URLs;
    // a host budget that never binds
    case "crawl_wide" =>
      Spec(SyntheticWeb.Config(seed = seed, nHosts = if (toy) 4 else 24,
        pagesPerHost = 4, itemsPerPage = if (toy) 12 else 160,
        blogDepth = 2, blogFanout = 3, skewFactor = 2.0),
        hostBudget = 1 << 20, delayMs = 1L, interruptAfter = None,
        nBuckets = 32)
  }

  // the only CrawlLoop.Config fields the benchmark sets
  def config(s: Spec, table: String): CrawlLoop.Config = CrawlLoop.Config(
    scheduler = PoliteScheduler.Config(hostBudget = s.hostBudget,
      defaultDelayMs = s.delayMs),
    maxWaves = 100000,
    pagesTable = Some(table))

  final case class Inputs(pages: DataFrame, seeds: Dataset[SyntheticWeb.Seed],
      robots: Dataset[SyntheticWeb.Robots], table: String)

  val Table = "perfbench_pages"

  /** Generate the web and write its bucketed pages table (timed as set-up). */
  def setup(spark: SparkSession, s: Spec, dir: Path): Inputs = {
    val pages = SyntheticWeb.pages(spark, s.web)
    BucketedPages.write(spark, pages, Table, s.nBuckets,
      Some(dir.resolve("pages").toString))
    val seeds = SyntheticWeb.seeds(spark, s.web).cache()
    val robots = SyntheticWeb.robots(spark, s.web).cache()
    seeds.count()
    robots.count()
    Inputs(pages, seeds, robots, Table)
  }

  /** One closed-loop operation: a crawl (two legs when interrupted). */
  final case class Op(crawlS: Double, cpuS: Double, legStartsUs: Seq[Long],
      result: CrawlLoop.Result, store: SnapshotStore, dir: Path)

  def crawl(spark: SparkSession, in: Inputs, s: Spec, dir: Path): Op = {
    val cfg = config(s, in.table)
    val t0 = System.nanoTime()
    val c0 = Main.processCpuS()
    val starts = Seq.newBuilder[Long]
    def leg(c: CrawlLoop.Config): CrawlLoop.Result = {
      starts += Clock.epochUs()
      // a fresh store handle per leg, as a restarted process would have
      CrawlLoop.run(spark, in.pages, in.seeds, in.robots,
        new SnapshotStore(dir.toString, spark), c)
    }
    s.interruptAfter.foreach(k => leg(cfg.copy(maxWaves = k)))
    val result = leg(cfg)
    val crawlS = (System.nanoTime() - t0) / 1e9
    Op(crawlS, Main.processCpuS() - c0, starts.result(), result, new SnapshotStore(dir.toString, spark),
      dir)
  }

  /** What the store left behind says about one crawl (no timed region):
    * each wave's latency, the resume time, the wave count, and the index
    * of each leg's first wave.
    */
  final case class Waves(latencyS: Seq[Double], resumeS: Option[Double],
      count: Int, legFirst: Set[Int])

  def waves(op: Op): Waves = {
    val snaps = op.store.snapshots.map(op.store.readManifest)
    val commitUs = snaps.map(sn => Files.getLastModifiedTime(
      op.dir.resolve(f"manifest-${sn.id}%06d.json"))
      .to(java.util.concurrent.TimeUnit.MICROSECONDS))
    // each wave's latency runs from the previous commit, or from its
    // leg's start for the first wave a leg commits
    var prev = -1L
    var legs = op.legStartsUs.toList
    val firstOfLeg = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val lat = commitUs.zipWithIndex.map { case (c, i) =>
      val from = legs match {
        case l :: rest if prev < l && c > l =>
          legs = rest
          firstOfLeg += i -> (c - l) / 1e6
          l
        case _ => prev
      }
      prev = c
      (c - from) / 1e6
    }
    Waves(lat, if (op.legStartsUs.size > 1) firstOfLeg.lift(1).map(_._2)
      else None, snaps.size, firstOfLeg.map(_._1).toSet)
  }

  def storeBytes(dir: Path): Long = {
    val st = Files.walk(dir)
    try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally st.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val st = Files.walk(dir)
    try st.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally st.close()
  }

  // ---- correctness ------------------------------------------------------

  def reference(spark: SparkSession, in: Inputs, s: Spec): Reference.Crawl = {
    import spark.implicits._
    val pages = in.pages.select("url", "html").as[(String, Array[Byte])]
      .collect().iterator
      .map { case (u, h) => CrawlLoop.hash64(UrlCanon.canonicalize(u)) -> h }
      .toMap
    Reference.run(pages, in.seeds.collect().toSeq, robotsMap(in),
      s.hostBudget, CrawlLoop.Config().maxAttempts)
  }

  def robotsMap(in: Inputs): Map[String, (Seq[String], Long)] =
    in.robots.collect()
      .map(r => r.host -> ((r.disallow_prefixes, r.crawl_delay_ms))).toMap

  /** The engine's crawl in the reference's terms. `dropRecord` removes one
    * record, so the self-test can show the check catches it.
    */
  def observed(spark: SparkSession, r: CrawlLoop.Result,
      dropRecord: Boolean): Reference.Crawl = {
    import spark.implicits._
    val recs = r.records.as[PageParsers.CrawlRecord].map(Reference.digest)
      .collect().sorted
    val fetches = r.fetchLog.select(col("url_hash"), col("wave"),
      col("attempt"), col("status")).as[(Long, Int, Int, Int)].collect().sorted
    val seen = r.seen.select(col("url_hash")).as[Long].collect().sorted
    Reference.Crawl(if (dropRecord) recs.drop(1) else recs, fetches, seen)
  }

  // ---- per-layer replay (traced run only) -------------------------------

  /** Replay every third committed wave, and the last. */
  val ReplayEvery = 3

  /** Replays committed waves' inputs, taken from the crawl's own snapshots,
    * through each layer's top-level function, with a span and a listener
    * window around each call. The waves replayed are every
    * [[ReplayEvery]]th from the first, and the last, so early and late
    * crawl history are both covered while the traced run stays short.
    * Returns per-layer metrics, each a mean per replayed wave unless its
    * name says otherwise, and any disagreement between a replay and the
    * crawl it replays.
    */
  def replay(spark: SparkSession, in: Inputs, s: Spec, op: Op, probe: Probe,
      spans: Spans, replayDir: Path): (ListMap[String, Double], Seq[String]) = {
    import spark.implicits._
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val peaks = scala.collection.mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    def peak(k: String, v: Double): Unit =
      peaks(k) = math.max(peaks.getOrElse(k, 0.0), v)
    val issues = Seq.newBuilder[String]
    val robots = robotsMap(in)
    val schedCfg = config(s, in.table).scheduler
    val store = op.store
    // the crawl store's chain: list the snapshots, read every manifest
    val (snaps, walk) = spans("store.snapshots") {
      store.snapshots.map(store.readManifest)
    }
    val picked = snaps.indices.filter(i =>
      i % ReplayEvery == 0 || i == snaps.size - 1)
    val replayStore = new SnapshotStore(replayDir.toString, spark)
    def timed[T](name: String, wave: Int)(body: => T): (T, Usage, Double) = {
      val mk = probe.mark()
      val (out, sp) = spans(name, Map("wave" -> wave))(body)
      (out, probe.since(mk), sp.seconds)
    }
    val seedEntries = in.seeds.map(x =>
      CrawlLoop.entryOf(x.url, x.site, x.seed_id, 0, 0, 0))
    val seedCount = seedEntries.count()

    picked.foreach { i =>
      val snap = snaps(i)
      val w = snap.wave
      val prev = if (i == 0) None else Some(snaps(i - 1))
      val log = store.table(snap, s"fetch_log_w$w").get
      // materialize a layer's output inside its span, keep it for the next
      def keep[T](d: Dataset[T]): (Dataset[T], Long) = {
        val c = d.cache()
        (c, c.count())
      }

      // frontier: the politeness schedule over the frontier the wave saw
      val frontierIn = prev.map(p => store.table(p, "frontier").get
        .as[FrontierEntry]).getOrElse(seedEntries)
      val rowsIn = prev.map(store.tableRowCount(_, "frontier"))
        .getOrElse(seedCount)
      val ((sched, nSched), schedW, schedS) = timed("frontier.schedule", w) {
        keep(PoliteScheduler.schedule(frontierIn, in.robots,
          w.toLong * 1000000L, schedCfg))
      }
      add("frontier.schedule_s", schedS)
      add("frontier.rows_in", rowsIn.toDouble)
      add("frontier.scheduled", nSched.toDouble)
      add("frontier.shuffle_bytes", schedW.shuffleWrite.toDouble)
      val logRows = store.tableRowCount(snap, s"fetch_log_w$w")
      if (nSched != logRows)
        issues += s"replay wave $w: scheduled $nSched != fetch_log $logRows"

      // fetch: the bucketed url_hash join
      val ((fetched, nFetched), fetchW, fetchS) = timed("fetch.join", w) {
        keep(BucketedPages.fetchJoin(spark,
          sched.toDF().withColumn("url_hash", col("entry.urlHash")), in.table))
      }
      add("fetch.join_s", fetchS)
      add("fetch.rows", nFetched.toDouble)
      add("fetch.html_bytes", fetched.agg(coalesce(sum(length(col("html"))),
        lit(0L))).as[Long].head().toDouble)
      add("fetch.shuffle_bytes", fetchW.shuffleWrite.toDouble)
      peak("fetch.peak_exec_mem_mb", fetchW.peakMem / 1048576.0)
      val statuses = log.groupBy("status").count().as[(Int, Long)].collect()
        .toMap.withDefaultValue(0L)
      add("fetch.status_ok", statuses(200).toDouble)
      add("fetch.status_retry", statuses(503).toDouble)
      add("fetch.status_missing", statuses(404).toDouble)

      // parse: the pages this wave fetched successfully
      val parseIn = fetched
        .join(log.filter(col("status") === 200).select("url_hash"),
          Seq("url_hash"), "left_semi")
        .select(col("entry").as("_1"), col("html").as("_2"))
        .as[(FrontierEntry, Array[Byte])].cache()
      add("parse.bytes", parseIn.select(length(col("_2")).as("n"))
        .agg(coalesce(sum("n"), lit(0L))).as[Long].head().toDouble)
      val ((parsed, nParsed), _, parseS) = timed("parse.pages", w) {
        keep(parseIn.map { case (e, b) =>
          PageParsers.parse(e, new String(b, "UTF-8")) })
      }
      val (nRecords, nLinks) = parsed.select(size(col("records")).as("r"),
        size(col("links")).as("l"))
        .agg(coalesce(sum("r"), lit(0L)), coalesce(sum("l"), lit(0L)))
        .as[(Long, Long)].head()
      add("parse.s", parseS)
      add("parse.pages", nParsed.toDouble)
      add("parse.records", nRecords.toDouble)
      add("parse.links", nLinks.toDouble)
      val wantRecords = store.tableRowCount(snap, s"records_w$w")
      if (nRecords != wantRecords)
        issues += s"replay wave $w: parsed $nRecords records != $wantRecords"

      // url: canonical entries for every out-link
      val ((entries, nEntries), _, canonS) = timed("url.canon", w) {
        keep(parsed.flatMap(_.links.map(l => CrawlLoop.entryOf(l.url,
          l.kind, l.seed, l.depth, l.pageIdx, l.posInPage))))
      }
      add("url.canon_s", canonS)
      add("url.links", nEntries.toDouble)

      // seen: the unseen filter over this wave's admitted, deduplicated
      // candidates, against the seen set as it stood before the wave
      val (candidates, nCand) = keep(entries
        .filter { e => robots.get(e.host) match {
          case Some((pre, _)) => !pre.exists(UrlCanon.pathOf(e.url).startsWith)
          case None => true
        } }
        .toDF()
        .withColumn("rn", row_number().over(Window.partitionBy("urlHash")
          .orderBy("seed", "depth", "pageIdx", "posInPage")))
        .filter(col("rn") === 1).drop("rn")
        .withColumnRenamed("urlHash", "url_hash"))
      val seenBefore: DataFrame = {
        val deltas = snaps.take(i).map(p => store.table(p, s"seen_w${p.wave}").get)
        if (deltas.isEmpty) seedEntries.select(col("urlHash").as("url_hash"))
          .distinct()
        else deltas.reduce(_ unionByName _)
      }
      val segments = UrlSeen.buildSegments(seenBefore).localCheckpoint()
      val ((fresh, nNew), _, seenS) = timed("seen.filter", w) {
        keep(UrlSeen.filterUnseen(candidates, seenBefore, Some(segments),
          UrlSeen.Config(), seenDistinct = true))
      }
      val bloomPos = UrlSeen.mightBeSeen(candidates, segments)
        .filter(col("might_seen")).count()
      add("seen.filter_s", seenS)
      add("seen.candidates", nCand.toDouble)
      add("seen.bloom_positive", bloomPos.toDouble)
      add("seen.exact_hits", (nCand - nNew).toDouble)
      add("seen.new", nNew.toDouble)
      val wantNew = store.tableRowCount(snap, s"seen_w$w") -
        (if (i == 0) seedCount else 0L)
      if (nNew != wantNew)
        issues += s"replay wave $w: $nNew new urls != seen delta $wantNew"

      // store: commit the wave's four tables to a separate replay store,
      // then read their footers
      val tables = Seq(s"fetch_log_w$w", s"records_w$w", "frontier", s"seen_w$w")
        .map(n => n -> store.table(snap, n).get).toMap
      val (committed, _, commitS) = timed("store.commit", w) {
        replayStore.commit(w, tables, Map.empty)
      }
      add("store.commit_s", commitS)
      val dataDir = committed.tables.values.map(p => java.nio.file.Paths.get(p)
        .getParent).head
      add("store.bytes_written", storeBytes(dataDir).toDouble)
      add("store.files_written", {
        val st = Files.walk(dataDir)
        try st.filter(Files.isRegularFile(_)).count().toDouble
        finally st.close()
      })
      val (_, _, footS) = timed("store.footers", w) {
        committed.tables.values.foreach(replayStore.rowCount)
      }
      add("store.footer_read_s", footS)

      Seq(sched, fetched, parseIn, parsed, entries, candidates, fresh)
        .foreach(_.unpersist())
    }
    val nonMatches = m("seen.candidates") - m("seen.exact_hits")
    val ratios = ListMap(
      "frontier.scheduled_frac" ->
        m("frontier.scheduled") / math.max(1.0, m("frontier.rows_in")),
      "seen.bloom_fpr" -> (if (nonMatches <= 0) 0.0
        else (m("seen.bloom_positive") - m("seen.exact_hits")) / nonMatches),
      // seen deltas the last wave's filter unions: grows with the waves
      "seen.delta_tables" -> (snaps.size - 1).toDouble,
      "store.chain_walk_s" -> walk.seconds,
      "replay.waves" -> picked.size.toDouble)
    (ListMap(m.toSeq.map { case (k, v) => k -> v / picked.size }: _*) ++
      peaks ++ ratios, issues.result())
  }
}
