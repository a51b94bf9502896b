package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.{Codebooks, CoreQueries, CrawlPipelines, DedupQueries}
import scala.jdk.CollectionConverters._

/** The query workload: one pass over every `SparkEntry.queries` entry, each
  * result written to Parquet the way the correctness dump writes it, so
  * every output column is computed.
  */
object QueryBench {

  /** The queries a run times: a cross-section of the operator families
    * (relational, text functions, dedup, vector search, binary decode),
    * small enough that one cold pass fits a run. Left out: the
    * crawl-backed family (q40-q48), which aggregates a memoized crawl the
    * crawl workload measures directly. `all` is every `SparkEntry.queries`
    * entry, for a full correctness sweep.
    */
  val CrossSection: Seq[String] = Seq(
    "q01_pivot_counts", "q05_lookup_join", "q06_anti_join_seen",
    "q12_daily_counts", "q15_classify_tags", "q28_api_lookup",
    "q16_token_count", "q54_pii_scrub", "q57_perplexity", "q20_exact_dedup",
    "q21_ngram_jaccard", "q22_minhash_lsh", "q60_dup_clusters",
    "q25_ann_brute", "q26_ann_lsh", "q51_ann_ivf", "q55_ann_pq",
    "q70_knn_join_brute", "q66_image_decode")

  def suite(name: String): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val all = SparkEntry.queries.toSeq
    name match {
      case "all" => all
      case "cross_section" =>
        val pick = CrossSection.toSet
        all.filter(q => pick(q._1))
    }
  }

  /** Reads every input table and counts its rows (set-up). */
  def load(spark: SparkSession, dataDir: String): Map[String, Long] = {
    val files = Files.list(java.nio.file.Paths.get(dataDir))
    val names =
      try files.iterator().asScala.map(_.getFileName.toString).toList
      finally files.close()
    names.filter(_.endsWith(".parquet")).sorted.map(f =>
      f.stripSuffix(".parquet") -> spark.read.parquet(s"$dataDir/$f").count())
      .toMap
  }

  final case class Pass(suiteS: Double, cpuS: Double, memoS: Map[String, Double],
      queryS: Seq[(String, Double)], failures: Seq[(String, String)])

  /** Shared memoized work, paid before the queries that share it so each
    * query's time is its own.
    */
  val Memo: Seq[(String, Seq[String], (SparkSession, String) => Unit)] = Seq(
    ("crawl_memoized", Seq("q40", "q41", "q42", "q43", "q44", "q45", "q46",
      "q48"), (s, _) => { CrawlPipelines.result(s); () }),
    ("codebook_train", Seq("q51", "q52", "q55"),
      (s, d) => Codebooks.trainAll(s, d)),
    // the shared pair set is materialized when the q21 plan is built
    ("edge_derive", Seq("q21", "q60"),
      (s, d) => { DedupQueries.ngramJaccard(s, d); () }))

  def pass(spark: SparkSession, dataDir: String, outDir: Path,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      spans: Spans): Pass = {
    // a new mtime on every input table: memoized work keyed on a table's
    // version is paid by every pass, as by a fresh process's first pass
    val now = java.nio.file.attribute.FileTime.from(java.time.Instant.now())
    val tables = Files.list(java.nio.file.Paths.get(dataDir))
    try tables.forEach(p => Files.setLastModifiedTime(p, now))
    finally tables.close()
    val failures = Seq.newBuilder[(String, String)]
    val t0 = System.nanoTime()
    val c0 = Main.processCpuS()
    val memo = Memo.collect { case (name, users, fn)
        if queries.exists(q => users.exists(q._1.startsWith)) => (name, fn) }
      .map { case (name, fn) =>
      val (_, sp) = spans(s"operators.$name") {
        try fn(spark, dataDir)
        catch { case e: Throwable => failures += name -> String.valueOf(e) }
      }
      name -> sp.seconds
    }.toMap
    val times = queries.flatMap { case (name, fn) =>
      val (ok, sp) = spans(s"operators.$name") {
        try {
          fn(spark, dataDir).coalesce(1).write.mode("overwrite")
            .parquet(outDir.resolve(name).toString)
          true
        } catch { case e: Throwable =>
          failures += name -> String.valueOf(e)
          false
        }
      }
      // a failed query counts as failed, never as a time
      if (ok) Some(name -> sp.seconds) else None
    }
    Pass((System.nanoTime() - t0) / 1e9, Main.processCpuS() - c0, memo, times, failures.result())
  }

  /** The tables the DuckDB oracles read besides the input tables, written
    * under `dir`; returns the oracle SQL with its table paths pointed
    * there.
    */
  def dumpOracleInputs(spark: SparkSession, dataDir: String, dir: Path,
      queries: Seq[String]): Map[String, String] = {
    val sql = SparkEntry.oracleSql.filter(q => queries.contains(q._1))
    def put(name: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      // only the tables the chosen queries' oracles read
      if (sql.values.exists(_.contains(s"${CrawlPipelines.OracleDumpDir}/$name/")))
        df.coalesce(1).write.mode("overwrite")
          .parquet(dir.resolve(name).toString)
    put("records")(CrawlPipelines.result(spark).records)
    put("fetch_log")(CrawlPipelines.result(spark).fetchLog)
    put("iclr_pages")(CrawlPipelines.iclrPages(spark))
    put("api_requests")(CoreQueries.apiRequests(spark, dataDir))
    put("api_index")(CoreQueries.apiIndex(spark, dataDir))
    def docs = CoreQueries.t(spark, dataDir, "documents")
    put("lsh_bands")(docs
      .select(col("doc_id"), DedupQueries.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), posexplode(DedupQueries.minhashBandHashes(
        col("sh"))).as(Seq("band", "band_hash"))))
    put("simhash")(docs.select(col("doc_id"),
      DedupQueries.simhashCol(col("text")).as("simhash")))
    put("fingerprints")(docs.select(col("doc_id"),
      xxhash64(col("text")).as("content_hash")))
    sql.map { case (k, v) =>
      k -> v.replace(CrawlPipelines.OracleDumpDir, dir.toString) }
  }

  def writeOracleSql(sql: Map[String, String], path: Path): Unit =
    Files.write(path, Json(sql).getBytes("UTF-8"))
}
