package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

/** One benchmark run inside one JVM. `perfbench/run.py` builds the
  * harness, launches this with the run's directory, checks what the run
  * wrote and prints the result; see `perfbench/README.md`.
  *
  * Arguments: --workload crawl_deep|crawl_wide|query_suite --seed N
  * --seconds S --trace 0|1 --cores N --out DIR [--data DIR]
  * [--suite cross_section|all] [--toy 1] [--fault drop-record|throw].
  */
object Main {

  final case class Metric(value: Double, unit: String,
      samples: Seq[Double] = Nil, note: String = "")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The value at the highest percentile that leaves at least ten samples
    * beyond it, with that percentile; with ten samples or fewer no such
    * percentile exists and the maximum stands in.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  /** Geometric mean: every step weighs the same, however long it is. */
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def slope(ys: Seq[Double]): Double = {
    val n = ys.size
    if (n < 2) 0.0
    else {
      val xm = (n - 1) / 2.0
      val ym = ys.sum / n
      val num = ys.indices.map(i => (i - xm) * (ys(i) - ym)).sum
      val den = ys.indices.map(i => (i - xm) * (i - xm)).sum
      num / den
    }
  }

  def session(cores: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def unitOf(name: String): String =
    if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.contains("bytes")) "B"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_frac") || name.endsWith("_fpr")) "ratio"
    else "count"

  /** The run's Spark session. `restart` stops it, starts a new one and
    * returns how long the start took.
    */
  final class Sessions(cores: Int, dir: Path) {
    private var s: SparkSession = null
    def current: SparkSession = s
    def restart(): Double = {
      if (s != null) s.stop()
      val t = System.nanoTime()
      s = session(cores, dir)
      (System.nanoTime() - t) / 1e9
    }
    def stop(): Unit = if (s != null) s.stop()
  }

  /** CPU time the whole JVM has used, in seconds. */
  def processCpuS(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  def heapAfterGcMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def sparkMetrics(w: Usage): ListMap[String, Metric] = ListMap(
    "spark.task_s" -> Metric(w.taskMs / 1000.0, "s"),
    "spark.slot_busy_frac" -> Metric(w.slotBusyFrac, "ratio"),
    "spark.shuffle_read_bytes" -> Metric(w.shuffleRead.toDouble, "B"),
    "spark.shuffle_write_bytes" -> Metric(w.shuffleWrite.toDouble, "B"),
    "spark.spill_bytes" -> Metric(w.spill.toDouble, "B"),
    "spark.gc_s" -> Metric(w.gcMs / 1000.0, "s"),
    "spark.peak_exec_mem_mb" -> Metric(w.peakMem / 1048576.0, "MB"),
    "spark.jobs" -> Metric(w.jobs.toDouble, "count"),
    "spark.driver_gap_frac" -> Metric(w.driverGapFrac, "ratio"))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = a("cores").toInt
    val toy = a.getOrElse("toy", "0") == "1"
    val out = Paths.get(a("out")).toAbsolutePath
    Files.createDirectories(out)

    val sessions = new Sessions(cores, out)
    val spans = new Spans(s"$workload-$seed-${if (traced) "traced" else "plain"}")
    val res = workload match {
      case "crawl_deep" | "crawl_wide" =>
        runCrawl(sessions, workload, seed, seconds, traced, toy, cores, out,
          spans, a.get("fault"))
      case "query_suite" =>
        runQueries(sessions, a("data"), a.getOrElse("suite", "cross_section"),
          seconds, traced, cores, out, spans)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    spans.write(out.resolve("spans.jsonl"))
    val doc = ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "trace" -> traced, "correct" -> res.errors.isEmpty,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "errors" -> res.errors,
      "metrics" -> res.metrics.map { case (k, m) =>
        k -> ListMap("value" -> m.value, "unit" -> m.unit,
          "samples" -> m.samples, "note" -> m.note) },
      "inputs" -> res.inputs)
    Files.write(out.resolve("result.json"), Json(doc).getBytes("UTF-8"))
    sessions.stop()
  }

  final case class Result(metrics: ListMap[String, Metric], attempted: Int,
      failed: Int, errors: Seq[String], inputs: ListMap[String, Any])

  // ---- crawls -------------------------------------------------------------

  def runCrawl(sessions: Sessions, workload: String, seed: Long,
      seconds: Double, traced: Boolean, toy: Boolean, cores: Int, out: Path,
      spans: Spans, fault: Option[String]): Result = {
    val dropRecord = fault.contains("drop-record")
    val spec = CrawlBench.spec(workload, seed, toy)
    // set-up, three times: a session start and a build of the inputs (in
    // a traced run too, so its crawl starts in the same state)
    val builds = (1 to 3).map { _ =>
      val start = sessions.restart()
      val t = System.nanoTime()
      val in = CrawlBench.setup(sessions.current, spec, out)
      (in, start + (System.nanoTime() - t) / 1e9)
    }
    val setupS = builds.map(_._2)
    val in = builds.last._1
    val spark = sessions.current
    var n = 0
    def nextDir(): Path = { n += 1; out.resolve(s"store-$n") }

    // closed loop, one client: the next crawl starts when the last ends.
    // A crawl that throws is a failed operation and never a time.
    val ops = scala.collection.mutable.ArrayBuffer[CrawlBench.Op]()
    val errors = Seq.newBuilder[String]
    var attempted = 0
    var failed = 0
    // returns the crawl's index in `ops`
    def attempt(): Option[Int] = {
      attempted += 1
      try {
        // the self-test's fault: the first crawl throws
        if (fault.contains("throw") && attempted == 1)
          throw new IllegalStateException("injected crawl failure")
        ops += CrawlBench.crawl(spark, in, spec, nextDir())
        Some(ops.size - 1)
      } catch { case e: Exception =>
        failed += 1
        errors += s"crawl $attempted: $e"
        None
      }
    }
    var probeWindow: Option[Usage] = None
    var layer = ListMap.empty[String, Metric]
    var tracedOp: Option[Int] = None
    if (!traced) {
      val t0 = System.nanoTime()
      while (attempted == 0 || (System.nanoTime() - t0) / 1e9 < seconds)
        attempt()
    } else {
      // one crawl under the listener, in the place an untraced run's first
      // crawl takes; run.py sets its time against untraced runs' crawl_s
      val probe = new Probe(spark.sparkContext, cores)
      spark.sparkContext.addSparkListener(probe)
      val mk = probe.mark()
      tracedOp = spans("crawl")(attempt())._1
      probeWindow = Some(probe.since(mk))
      val heap = heapAfterGcMb()
      tracedOp.foreach { i =>
        val (m, issues) = spans("replay") {
          CrawlBench.replay(spark, in, spec, ops(i), probe, spans,
            out.resolve("replay-store"))
        }._1
        errors ++= issues
        layer = ListMap(m.toSeq.map { case (k, v) =>
          k -> Metric(v, unitOf(k)) }: _*)
      }
      spark.sparkContext.removeSparkListener(probe)
      layer ++= ListMap("driver.heap_after_gc_mb" -> Metric(heap, "MB"))
    }

    // everything below runs after the timed crawls
    val ref = CrawlBench.reference(spark, in, spec)
    final case class Seen(op: CrawlBench.Op, w: CrawlBench.Waves, urls: Long,
        bytes: Long)
    val perOp = ops.toSeq.zipWithIndex.map { case (op, i) =>
      val w = CrawlBench.waves(op)
      val urls = op.result.fetchLog.count()
      val bytes = CrawlBench.storeBytes(op.dir)
      val diffs = Reference.compare(s"crawl ${i + 1}",
        CrawlBench.observed(spark, op.result, dropRecord), ref)
      if (diffs.nonEmpty) failed += 1
      errors ++= diffs
      CrawlBench.deleteTree(op.dir)
      Seen(op, w, urls, bytes)
    }
    val pages = spark.table(in.table).count()
    val htmlBytes = spark.table(in.table)
      .selectExpr("coalesce(sum(length(html)), 0)").head().getLong(0)

    val metrics: ListMap[String, Metric] =
      if (perOp.isEmpty) ListMap.empty // every crawl threw
      else if (!traced) {
        val crawlS = perOp.map(_.op.crawlS)
        val lat = perOp.flatMap(_.w.latencyS)
        val (tailV, tailP) = tail(lat)
        val resume = perOp.flatMap(_.w.resumeS)
        val rate = perOp.map(x => x.urls / x.op.crawlS)
        ListMap(
          "setup_s" -> Metric(median(setupS), "s", setupS,
            s"median of ${setupS.size} session starts with input builds"),
          "crawl_s" -> Metric(median(crawlS), "s", crawlS),
          "crawl_cpu_s" -> Metric(median(perOp.map(_.op.cpuS)), "s"),
          "crawl_urls_per_s" -> Metric(median(rate), "URLs/s", rate),
          "wave_p50_s" -> Metric(median(lat), "s", lat),
          "wave_geomean_s" -> Metric(geomean(lat), "s"),
          "wave_tail_s" -> Metric(tailV, "s", Nil,
            f"p$tailP%.1f of ${lat.size} waves"),
          "store_bytes_per_url" -> Metric(median(perOp.map(x =>
            x.bytes.toDouble / x.urls)), "B/URL")) ++
          (if (resume.isEmpty) ListMap.empty
           else ListMap("resume_s" -> Metric(median(resume), "s", resume)))
      } else tracedOp.map(perOp).map { t =>
        val w = probeWindow.get
        // the slope leaves out each leg's first wave, which carries the
        // cold start or the resume rather than the crawl history
        val growth = t.w.latencyS.indices.filterNot(t.w.legFirst.contains)
          .map(t.w.latencyS)
        ListMap(
          "crawl.jobs_per_wave" -> Metric(w.jobs.toDouble / t.w.count, "count"),
          "crawl.driver_gap_frac" -> Metric(w.driverGapFrac, "ratio"),
          "crawl.wave_growth_s" -> Metric(slope(growth), "s/wave"),
          "trace.crawl_s_traced" -> Metric(t.op.crawlS, "s")) ++
          layer ++ sparkMetrics(w)
      }.getOrElse(ListMap.empty)
    Result(metrics ++ ListMap("failed_frac" -> Metric(
      failed.toDouble / attempted, "ratio")), attempted, failed,
      errors.result(),
      ListMap("pages" -> pages, "html_bytes" -> htmlBytes,
        "urls" -> perOp.map(_.urls), "waves" -> perOp.map(_.w.count),
        "crawls" -> attempted, "host_budget" -> spec.hostBudget,
        "web" -> spec.web.toString,
        "interrupt_after" -> spec.interruptAfter.getOrElse(-1),
        // the inputs but for the seed: runs of one shape compare
        "shape" -> s"${spec.web.copy(seed = 0L)} budget ${spec.hostBudget} interrupt ${spec.interruptAfter}"))
  }

  // ---- queries ------------------------------------------------------------

  def runQueries(sessions: Sessions, data: String, suiteName: String,
      seconds: Double, traced: Boolean, cores: Int, out: Path,
      spans: Spans): Result = {
    // set-up, three times: a session start, then every table read and its
    // rows counted
    var tableRows = Map.empty[String, Long]
    val setupS = (1 to 3).map { _ =>
      val start = sessions.restart()
      val t = System.nanoTime()
      tableRows = QueryBench.load(sessions.current, data)
      start + (System.nanoTime() - t) / 1e9
    }
    def spark = sessions.current
    val passes = scala.collection.mutable.ArrayBuffer[QueryBench.Pass]()
    var probeWindow: Option[Usage] = None
    var heap = 0.0
    val outDir = out.resolve("query-out")
    val queries = QueryBench.suite(suiteName)
    // A warm-up pass, untimed: the timed passes then run with the JIT and
    // Spark's generated-code cache warm, as in a long-lived session. A
    // cold pass spread twice as much across seeds. Each pass starts in a
    // new session, so it pays the per-session memoized work.
    sessions.restart()
    val warmup = QueryBench.pass(spark, data, outDir, queries, spans)
    sessions.restart()
    if (!traced) {
      var busy = 0.0
      while (passes.isEmpty || busy < seconds) {
        if (passes.nonEmpty) sessions.restart()
        val p = QueryBench.pass(spark, data, outDir, queries, spans)
        passes += p
        busy += p.suiteS
      }
    } else {
      // one pass under the listener, in the place an untraced run's first
      // timed pass takes; run.py sets its time against their suite_s
      val probe = new Probe(spark.sparkContext, cores)
      spark.sparkContext.addSparkListener(probe)
      val mk = probe.mark()
      passes += QueryBench.pass(spark, data, outDir, queries, spans)
      probeWindow = Some(probe.since(mk))
      heap = heapAfterGcMb()
      spark.sparkContext.removeSparkListener(probe)
    }
    // the oracle inputs, for the DuckDB compare run.py makes afterwards
    val oracle = QueryBench.dumpOracleInputs(spark, data,
      out.resolve("oracle-tables"), queries.map(_._1))
    QueryBench.writeOracleSql(oracle, outDir.resolve("oracle_sql.json"))

    // every query run is an operation, the warm-up pass's too
    val all = warmup +: passes.toSeq
    val attempted = all.map(p => p.queryS.size + p.failures.size).sum
    val failed = all.map(_.failures.size).sum
    val errors = all.flatMap(_.failures.map { case (q, e) => s"$q: $e" })
    val last = passes.last
    val metrics: ListMap[String, Metric] =
      if (!traced) {
        val suite = passes.map(_.suiteS).toSeq
        val perQuery = passes.flatMap(_.queryS.map(_._2)).toSeq
        ListMap(
          "setup_s" -> Metric(median(setupS), "s", setupS,
            s"median of ${setupS.size} session starts with table loads"),
          "suite_s" -> Metric(median(suite), "s", suite),
          "suite_cpu_s" -> Metric(median(passes.map(_.cpuS).toSeq), "s"),
          "warmup_s" -> Metric(warmup.suiteS, "s", Nil,
            "the untimed warm-up pass")) ++
          // no per-query figures when every query failed
          (if (perQuery.isEmpty) ListMap.empty else ListMap(
            "query_p50_s" -> Metric(median(perQuery), "s", perQuery),
            "query_geomean_s" -> Metric(geomean(perQuery), "s"),
            "query_p80_s" -> Metric(pct(perQuery, 80), "s", Nil,
              s"p80 of ${perQuery.size} queries")))
      } else {
        val w = probeWindow.get
        ListMap(last.queryS.map { case (q, s) =>
          s"operators.${q}_s" -> Metric(s, "s") }: _*) ++
          ListMap(last.memoS.toSeq.map { case (k, s) =>
            s"operators.${k}_s" -> Metric(s, "s") }: _*) ++
          ListMap(
            "trace.suite_s_traced" -> Metric(last.suiteS, "s"),
            "driver.heap_after_gc_mb" -> Metric(heap, "MB")) ++
          sparkMetrics(w)
      }
    Result(metrics ++ ListMap("failed_frac" -> Metric(
      failed.toDouble / math.max(1, attempted), "ratio")), attempted, failed,
      errors.toSeq, ListMap("passes" -> passes.size,
        "suite" -> suiteName, "queries" -> queries.size,
        "query_names" -> queries.map(_._1), "table_rows" -> tableRows))
  }
}
