package graft.crawl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.fixtures.SyntheticWeb.{Robots, Seed}
import graft.frontier.{FrontierEntry, PoliteScheduler, Scheduled}
import graft.seen.UrlSeen
import graft.store.SnapshotStore
import graft.url.UrlCanon
import scala.collection.mutable.ArrayBuffer

/** The generic crawl wave loop (SURVEY.md R5/§7.6):
  *
  *   while frontier nonempty:
  *     wave    = politeness-schedule(frontier)          — typed Aggregator
  *     fetched = wave ⋈ pages on url_hash               — the table IS the web
  *     records ∪= extract(fetched); links = outlinks(fetched)
  *     retries = failed rows, attempts+1, dropped at max (→ fetch_log)
  *     frontier = (frontier ∖ wave) ∪ retries ∪ (links ∖ seen)
  *     snapshot(frontier, records Δ, fetch_log Δ, seen Δ)  — resumable
  *
  * Scale notes (the 10^10-URL design point):
  *   - every wave's state round-trips through the snapshot store — this is
  *     simultaneously the resumability contract (north_rule) AND the
  *     lineage truncation that keeps plan depth constant across hundreds
  *     of waves (no ever-growing DAG, no driver OOM);
  *   - a fixed number of Spark jobs per wave, whatever the crawl's
  *     history: the traced `crawl_deep` benchmark (seed 111, `python3
  *     perfbench/run.py --workload crawl_deep --seed 111 --seconds 10
  *     --trace 1`) runs 168 jobs over 13 waves, `crawl.jobs_per_wave`
  *     12.9: 12 in each wave after a leg's first, plus the set-up and
  *     first-wave jobs of its two legs. Four are the snapshot writes
  *     (fetch_log, records, frontier, seen delta); the rest are the
  *     shuffle and broadcast stages AQE runs as jobs of their own for
  *     those writes. CrawlLoopSpec pins
  *     that the count does not grow. Store reads run no job (known
  *     schema and file list, [[SnapshotStore.read]]); all count metrics
  *     (scheduled / records / new_links, the loop's own frontier-count
  *     termination check, and both sizes on resume) come from the
  *     written Parquet FOOTERS (driver-side metadata, no job —
  *     [[SnapshotStore.rowCount]]); fetched_ok / retries ride the
  *     fetch_log write as accumulators;
  *   - the SEEN table is append-only deltas (`seen_w*`), never a rewrite
  *     of the full set: at 10^10 URLs rewriting seen every wave is
  *     O(crawl²) I/O. The loop keeps the delta paths in memory and reads
  *     them as ONE scan, so small files pack into a few splits whatever
  *     the wave count. The deltas are distinct by construction (every
  *     delta row passed that wave's unseen filter), so the anti-join runs
  *     with NO defensive distinct() shuffle;
  *   - `cfg.pagesTable` points the fetch join at a
  *     [[graft.sources.BucketedPages]] table bucketed+sorted by
  *     `url_hash`: the pages side is read pre-partitioned (NO Exchange, NO
  *     Sort on that side — BucketedPagesSpec pins the plan), so the html
  *     payload NEVER shuffles; only the wave's frontier rows (bytes, not
  *     kilobytes each) move. Without it the fallback hashes + caches the
  *     raw pages frame;
  *   - frontier⋈pages is an equi-join on a well-mixed 64-bit key: AQE
  *     handles hot-host skew (`skewJoin`), and the politeness budget
  *     itself bounds any host to `hostBudget` rows per wave;
  *   - the seen check is Bloom-prefilter → exact left-anti (UrlSeen): the
  *     definite-unseen majority of candidate links never enters the
  *     anti-join shuffle. Bloom segments are maintained on the driver with
  *     NO bloom build job: below `bloomDeltaThreshold` seen URLs the
  *     wave's new hashes ride the seen-delta write in a
  *     CollectionAccumulator (cheapest for small crawls); above it they
  *     ride the SAME write in a [[UrlSeen.SegmentAccumulator]] — tasks
  *     build bloom partials locally and the driver OR-merges fixed-size
  *     segments, so no URL hash ever transits the driver (at 10^10 URLs
  *     the hash stream would be ~80 GB through the driver over a crawl;
  *     the segment partials are bounded by buckets × segment bytes per
  *     task regardless of wave size). `bloomImpl = "perwave"` keeps the
  *     distributed per-wave rebuild as a no-driver-state fallback.
  *
  * Robots gating (absent in the reference, required by north_rule) is an
  * ADMISSION filter: a disallowed URL never enters the frontier (otherwise
  * it would sit there unscheduled forever); crawl delays come from the
  * robots table at schedule time. `robotsImpl = "join"` swaps the
  * driver-collected map for broadcast joins against the robots Dataset —
  * the 10^8-host path where the map would OOM the driver (CrawlLoopSpec
  * proves the two produce identical crawls).
  */
object CrawlLoop extends Serializable {

  final case class Config(
      scheduler: PoliteScheduler.Config = PoliteScheduler.Config(),
      seenCfg: UrlSeen.Config = UrlSeen.Config(),
      maxAttempts: Int = 3, // R2: drop after 3 tries
      maxWaves: Int = 64,
      useBloom: Boolean = true,
      // below this seen-set size the bloom probe costs more than the
      // anti-join it accelerates — skip it (the exact join is always the
      // authority, so this is purely a cost knob)
      bloomMinSeen: Long = 4096L,
      // "agg" = typed Aggregator (map-side bounded top-k; default),
      // "sql" = window-function twin (Tungsten-only, for huge waves).
      // SchedulerSpec proves the two produce identical waves.
      schedulerImpl: String = "agg",
      // "map"  = robots collected to a driver map + broadcast (fast path
      //          for thousands of hosts);
      // "join" = robots as a broadcast-joined table (the 10^8-host path —
      //          robots never transits the driver).
      robotsImpl: String = "map",
      // "auto"        = "incremental" below bloomDeltaThreshold seen URLs,
      //                 "delta" at or above it (default);
      // "incremental" = driver-maintained segments fed by a hash
      //                 CollectionAccumulator — small-crawl fast path,
      //                 driver traffic O(new URLs per wave);
      // "delta"       = driver-maintained segments fed by a
      //                 SegmentAccumulator riding the seen-delta write —
      //                 tasks build bloom partials, the driver OR-merges
      //                 fixed-size segments; no URL hash transits the
      //                 driver (the 10^10-URL path);
      // "perwave"     = distributed rebuild from the seen union each wave.
      // CrawlLoopSpec proves all of them produce the identical crawl.
      bloomImpl: String = "auto",
      bloomDeltaThreshold: Long = 1L << 17,
      // name of a BucketedPages catalog table (bucketed+sorted by
      // url_hash); when set, the fetch join reads it in place
      pagesTable: Option[String] = None
  )

  final case class FetchLogRow(url_hash: Long, host: String, wave: Int,
      attempt: Int, status: Int, slot: Int, not_before: Long,
      partition_id: Int)

  final case class Result(records: DataFrame, fetchLog: DataFrame,
      seen: DataFrame, waves: Int)

  /** Host-salted 64-bit xxHash of the canonical URL (north_rule identity);
    * row-side twin of the columnar `xxhash64(host, canon_url)`.
    */
  def hash64(canonUrl: String): Long = {
    val host = UrlCanon.hostOf(canonUrl)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      host.getBytes("UTF-8"), org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      host.getBytes("UTF-8").length, 42L)
    val b = canonUrl.getBytes("UTF-8")
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, h)
  }

  def entryOf(url: String, kind: String, seed: Int, depth: Int, pageIdx: Int,
      posInPage: Int, attempts: Int = 0): FrontierEntry = {
    val canon = UrlCanon.canonicalize(url)
    FrontierEntry(canon, hash64(canon), UrlCanon.hostOf(canon), kind,
      seed, depth, pageIdx, posInPage, attempts)
  }

  /** See [[graft.url.UrlCanon.pathOf]] — the one shared definition. */
  def pathOf(url: String): String = UrlCanon.pathOf(url)

  /** Run the crawl from seeds to empty frontier (or maxWaves). `pages` must
    * be the input_hint-shaped table (ignored when `cfg.pagesTable` points
    * at a bucketed catalog table).
    */
  def run(spark: SparkSession, pages: DataFrame, seeds: Dataset[Seed],
      robots: Dataset[Robots], store: SnapshotStore,
      cfg: Config = Config()): Result = {
    import spark.implicits._

    val useRobotsJoin = cfg.robotsImpl == "join"
    val robotsMap: Map[String, (Seq[String], Long)] =
      if (useRobotsJoin) Map.empty
      else robots.collect()
        .map(r => r.host -> ((r.disallow_prefixes, r.crawl_delay_ms))).toMap
    val bcRobots = spark.sparkContext.broadcast(robotsMap)
    def allowedRow(e: FrontierEntry): Boolean =
      bcRobots.value.get(e.host) match {
        case Some((prefixes, _)) =>
          val p = pathOf(e.url); !prefixes.exists(p.startsWith)
        case None => true
      }
    // the "join"-path twin of allowedRow: broadcast-join admission filter
    // over FrontierEntry-shaped frames (PoliteScheduler.admitJoin — robots
    // never transits the driver)
    def admit(df: Dataset[FrontierEntry]): Dataset[FrontierEntry] =
      if (useRobotsJoin)
        PoliteScheduler.admitJoin(df.toDF(), robots).as[FrontierEntry]
      else df.filter(allowedRow _)

    // pages side of the fetch join: bucketed table (NO shuffle, NO cache —
    // the 100 TB path reads its co-partitioned buckets in place) or a
    // hashed+cached projection of the raw frame. The hash is the native
    // codegen expression (graft.functions.UrlHash64), not a UDF — this
    // runs once per page, the widest map in the engine.
    val pagesKeyed = cfg.pagesTable match {
      case Some(t) => spark.table(t).select(col("url_hash"), col("html"))
      case None => pages
        .select(graft.url.UrlCols.urlHash64(col("url")).as("url_hash"),
          col("html"))
        .cache()
    }

    // resume (north_rule): pick up from the last committed snapshot. The
    // chain is walked once; each commit below appends its delta paths.
    val chain = store.snapshots.map(store.readManifest)
    val (startWave, frontier0) = chain.lastOption match {
      case Some(snap) =>
        (snap.wave + 1, store.table(snap, "frontier").get.as[FrontierEntry])
      case None =>
        (0, admit(seeds.map(s => entryOf(s.url, s.site, s.seed_id, 0, 0, 0))))
    }
    val deltaPaths = DeltaPrefixes.map(prefix => prefix ->
      ArrayBuffer.from(chain.flatMap(_.tables.collect {
        case (name, path) if name.startsWith(prefix) => path }))).toMap

    // one scan over every seen delta, so its split count does not grow
    // with the wave count
    def seenUnion(): DataFrame = store.read(deltaPaths("seen_w").toSeq)
      .getOrElse(spark.range(0).select(col("id").as("url_hash")))

    var frontier = frontier0
    var seen: DataFrame =
      if (startWave == 0)
        frontier0.select(col("urlHash").as("url_hash")).distinct().toDF()
      else seenUnion()

    // driver-side Bloom segment map, shared by the "incremental" and
    // "delta" modes ("perwave" rebuilds from the seen union instead).
    // Seeded ONCE per crawl from the starting seen set: small starts
    // collect the hashes (one job); large resumes build the segments
    // DISTRIBUTED (UrlSeen.buildSegments) and collect only the nBuckets-row
    // segment table — the driver never sees a hash.
    // an unrecognized mode would silently keep a stale driver bloom whose
    // false NEGATIVES bypass the exact anti-join — fail fast instead
    require(Set("auto", "incremental", "delta", "perwave")(cfg.bloomImpl),
      s"unknown bloomImpl '${cfg.bloomImpl}' " +
        "(expected auto | incremental | delta | perwave)")
    val driverBloom = cfg.useBloom && cfg.bloomImpl != "perwave"
    val segMap = scala.collection.mutable.Map[Int, Array[Long]]()
    def addToSeg(h: Long): Unit = UrlSeen.addToSegMap(segMap, h, cfg.seenCfg)
    def orMergeSegs(m: Map[Int, Array[Long]]): Unit =
      UrlSeen.orMergeInto(segMap, m)
    // a resume takes the seen size (and below, the frontier size) from
    // the footers
    var seenCount =
      if (chain.nonEmpty) deltaPaths("seen_w").iterator.map(store.rowCount).sum
      else seen.count()
    if (driverBloom) {
      if (cfg.bloomImpl == "incremental" ||
          cfg.bloomImpl == "auto" && seenCount < cfg.bloomDeltaThreshold)
        seen.select(col("url_hash")).as[Long].collect().foreach(addToSeg)
      else if (seenCount > 0)
        orMergeSegs(UrlSeen.collectSegments(
          UrlSeen.buildSegments(seen, cfg.seenCfg)))
    }
    // per-wave accumulator choice; "auto" may FLIP incremental→delta as the
    // crawl grows — both feed the same segMap, so the flip is seamless
    def waveBloomMode(): String =
      if (!driverBloom) "none"
      else if (cfg.bloomImpl == "auto")
        (if (seenCount < cfg.bloomDeltaThreshold) "incremental" else "delta")
      else cfg.bloomImpl
    var frontierCount =
      if (chain.nonEmpty) store.tableRowCount(chain.last, "frontier")
      else frontier.count()

    // each wave's jobs carry its number as their description
    val sc = spark.sparkContext
    val outerDescription = sc.getLocalProperty("spark.job.description")
    var wave = startWave
    try while (frontierCount > 0 && wave < cfg.maxWaves) {
      sc.setJobDescription(s"crawl wave $wave")
      val waveStart = wave.toLong * 1000000L
      // schedulerImpl × robotsImpl dispatch: the scheduler choice (typed
      // Aggregator top-k vs window twin) is orthogonal to where robots
      // live (driver map vs broadcast join) — all four combinations
      // produce the identical wave (SchedulerSpec / CrawlLoopSpec)
      val sched: Dataset[Scheduled] = (cfg.schedulerImpl, useRobotsJoin) match {
        case ("sql", true) =>
          PoliteScheduler.scheduleJoinSql(frontier, robots, waveStart,
            cfg.scheduler)
        case (_, true) =>
          PoliteScheduler.scheduleJoinAgg(frontier, robots, waveStart,
            cfg.scheduler)
        case ("sql", false) =>
          PoliteScheduler.scheduleSql(frontier, robots, waveStart, cfg.scheduler)
        case _ =>
          PoliteScheduler.scheduleWithMap(frontier, robotsMap, waveStart,
            cfg.scheduler)
      }

      // fetch = equi-join against the pages table (left: missing ⇒ 404).
      // TOP-LEVEL url_hash join keys on both sides, so a bucketed pages
      // scan satisfies the join distribution in place (no html Exchange).
      val fetched = sched.toDF()
        .withColumn("url_hash", col("entry.urlHash"))
        .join(pagesKeyed, Seq("url_hash"), "left")
        .select(col("entry").as("_1"), col("slot").as("_2"),
          col("notBefore").as("_3"), col("html").as("_4"))
        .as[(FrontierEntry, Int, Long, Array[Byte])]
        .map { case (e, slot, notBefore, htmlBytes) =>
          val html = Option(htmlBytes).map(new String(_, "UTF-8"))
          val status = PageParsers.fetchStatus(html, e.attempts)
          (Scheduled(e, slot, notBefore), status,
            if (status == 200) html.get else "")
        }
        .toDF("sched", "status", "html")
        .cache()

      // fetched_ok / retries ride the fetch_log write (job 1, the action
      // that also materializes the `fetched` cache) as accumulators —
      // no count() jobs. Diagnostic-only: a task retry could inflate them.
      val okAcc = spark.sparkContext.longAccumulator(s"fetched_ok_w$wave")
      val retryAcc = spark.sparkContext.longAccumulator(s"retries_w$wave")
      val maxAttempts = cfg.maxAttempts
      val fetchLogDelta = fetched
        .select(col("sched").as("_1"), col("status").as("_2"))
        .as[(Scheduled, Int)]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          it.map { case (s, status) =>
            if (status == 200) okAcc.add(1L)
            else if (status == 503 && s.entry.attempts + 1 < maxAttempts)
              retryAcc.add(1L)
            FetchLogRow(s.entry.urlHash, s.entry.host, 0, s.entry.attempts,
              status, s.slot, s.notBefore, pid)
          }
        }.toDF()
        .withColumn("wave", lit(wave))

      val parsed = fetched.filter(col("status") === 200)
        .select(col("sched.entry").as("_1"), col("html").as("_2"))
        .as[(FrontierEntry, String)]
        .map { case (e, html) => PageParsers.parse(e, html) }
        .cache()

      val recordsDelta = parsed.flatMap(_.records).toDF()

      // out-links: canonicalize, in-batch dedup keeping min crawl order,
      // robots admission filter, then seen-filter (bloom + exact anti)
      val links = admit(parsed.flatMap(_.links.map(l =>
        entryOf(l.url, l.kind, l.seed, l.depth, l.pageIdx, l.posInPage))))
      val dedupedLinks = links.toDF()
        .withColumn("rn", row_number().over(
          Window.partitionBy("urlHash")
            .orderBy("seed", "depth", "pageIdx", "posInPage")))
        .filter(col("rn") === 1).drop("rn")
      val candidates = dedupedLinks.withColumnRenamed("urlHash", "url_hash")
      val bloomActive = cfg.useBloom && seenCount >= cfg.bloomMinSeen
      val segMapOpt =
        if (!bloomActive) None
        else if (driverBloom) Some(segMap.toMap)
        else Some(UrlSeen.collectSegments(
          UrlSeen.buildSegments(seen, cfg.seenCfg)))
      // seen deltas are distinct by construction → seenDistinct = true
      // skips the defensive distinct() shuffle of the whole seen set
      val newEntries = UrlSeen
        .filterUnseenWithMap(candidates, seen, segMapOpt, cfg.seenCfg,
          seenDistinct = true)
        .withColumnRenamed("url_hash", "urlHash")
        .select("url", "urlHash", "host", "kind", "seed", "depth", "pageIdx",
          "posInPage", "attempts")
        .as[FrontierEntry]
        .cache() // job 3 (frontier write) populates; job 4 (seen Δ) reuses

      // retries: transient failures re-enter with attempts+1 (R2);
      // exhausted rows drop (their fetch_log row keeps the final attempt)
      val retries = fetched.filter(col("status") === 503)
        .select(col("sched.entry").as("e")).select("e.*")
        .as[FrontierEntry]
        .filter((e: FrontierEntry) => e.attempts + 1 < cfg.maxAttempts)
        .map(e => e.copy(attempts = e.attempts + 1))

      // frontier' = (frontier ∖ scheduled) ∪ retries ∪ new links; the
      // scheduled hashes come from the CACHED fetched frame, so the
      // schedule is never computed twice
      val schedHashes = fetched
        .select(col("sched.entry.urlHash").as("sched_hash"))
      val remaining = frontier
        .join(schedHashes, frontier("urlHash") === schedHashes("sched_hash"),
          "left_anti").as[FrontierEntry]
      val nextFrontier = remaining.union(retries).union(newEntries)

      // seen delta: this wave's new hashes (+ the seed hashes once, at
      // wave 0). On the driver-bloom paths the hashes also ride this write
      // into an accumulator feeding the driver segment map — raw hashes
      // ("incremental", small crawls) or task-local bloom partials
      // ("delta": fixed-size segments, no hash reaches the driver).
      val newHashes = newEntries.select(col("urlHash").as("url_hash"))
      val seenDeltaBase =
        if (wave == 0) seen.select("url_hash").unionByName(newHashes)
        else newHashes
      val bloomMode = waveBloomMode()
      // each arm allocates only its own accumulator and returns the
      // instrumented delta plus the post-commit absorb step for it
      val (seenDelta, absorbBloom) = bloomMode match {
        case "incremental" =>
          val hashAcc = new org.apache.spark.util.CollectionAccumulator[Long]()
          spark.sparkContext.register(hashAcc, s"seen_hashes_w$wave")
          val df = seenDeltaBase.as[Long]
            .mapPartitions(it => it.map { h => hashAcc.add(h); h })
            .toDF("url_hash")
          (df, () => {
            val it = hashAcc.value.iterator()
            while (it.hasNext) addToSeg(it.next())
          })
        case "delta" =>
          val segAcc = new UrlSeen.SegmentAccumulator(cfg.seenCfg)
          spark.sparkContext.register(segAcc, s"seen_segments_w$wave")
          val df = seenDeltaBase.as[Long]
            .mapPartitions(it => it.map { h => segAcc.add(h); h })
            .toDF("url_hash")
          (df, () => orMergeSegs(segAcc.value))
        case _ => (seenDeltaBase, () => ())
      }

      val seedCount = if (wave == 0) seenCount else 0L
      var metrics = Map.empty[String, Long]
      val snap = store.commitWith(wave, Seq(
        s"fetch_log_w$wave" -> fetchLogDelta, // job 1: caches fetched + accs
        s"records_w$wave" -> recordsDelta, // job 2: caches parsed
        "frontier" -> nextFrontier.toDF(), // job 3: caches newEntries
        s"seen_w$wave" -> seenDelta // job 4: bloom hash accumulator
      ), written => {
        // footer-only metadata counts — zero extra Spark jobs
        metrics = Map(
          "scheduled" -> store.rowCount(written(s"fetch_log_w$wave")),
          // *_approx: accumulator-derived — a task retry or speculative
          // duplicate can inflate them (the footer-derived siblings are
          // exact; recompute exact ok/retryable from fetch_log statuses
          // when it matters, as q43 does)
          "fetched_ok_approx" -> okAcc.value.toLong,
          "records" -> store.rowCount(written(s"records_w$wave")),
          "new_links" -> (store.rowCount(written(s"seen_w$wave")) - seedCount),
          "retries_approx" -> retryAcc.value.toLong
        )
        metrics
      })

      absorbBloom()

      // reload state from the committed snapshot: truncates lineage so
      // wave N+1's plan is independent of wave N's
      deltaPaths.foreach { case (prefix, paths) =>
        paths += snap.tables(s"$prefix$wave") }
      frontier = store.table(snap, "frontier").get.as[FrontierEntry]
      seen = seenUnion()
      frontierCount = store.tableRowCount(snap, "frontier")
      seenCount += metrics("new_links")
      fetched.unpersist()
      parsed.unpersist()
      newEntries.unpersist()
      wave += 1
    } finally sc.setJobDescription(outerDescription)

    if (cfg.pagesTable.isEmpty) pagesKeyed.unpersist()
    // records and fetch_log keep wave order (a union, one scan per wave):
    // callers that stable-sort by crawl_rank inherit it for tied ranks.
    // Typed empty fallbacks: a crawl where no wave ever committed (all
    // seeds robots-disallowed, maxWaves = 0) must still return frames
    // with the documented schemas, not a column-less emptyDataFrame
    Result(
      store.readInOrder(deltaPaths("records_w").toSeq)
        .getOrElse(spark.emptyDataset[PageParsers.CrawlRecord].toDF()),
      store.readInOrder(deltaPaths("fetch_log_w").toSeq)
        .getOrElse(spark.emptyDataset[FetchLogRow].toDF()),
      seenUnion(),
      wave)
  }

  // the per-wave delta tables each commit appends
  private val DeltaPrefixes = Seq("seen_w", "records_w", "fetch_log_w")
}
