package graft.store

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Iceberg-style snapshot store: immutable Parquet data files under an
  * atomically-committed JSON manifest (snapshot id, parent id, per-table
  * file lists, per-partition lineage, metrics). Real Iceberg is not on the
  * offline classpath (SURVEY.md §7.3), so this implements the same
  * contract behind a small surface; an Iceberg catalog can slot in later
  * unchanged.
  *
  * Commit protocol (single-writer, crash-safe):
  *   1. write each table to `data/<snapshotId>/<table>/` (immutable, never
  *      rewritten);
  *   2. write `manifest-<snapshotId>.json.tmp` and ATOMIC_MOVE it into
  *      place;
  *   3. atomically swap `HEAD` to point at the new manifest.
  * A crash between any two steps leaves HEAD at the parent snapshot —
  * every frontier iteration is resumable from the last committed snapshot
  * (north_rule). Orphaned data dirs from uncommitted snapshots are ignored
  * by readers and stay on disk: no code removes them (the next commit of
  * the same id overwrites its own table dirs).
  *
  * Reads launch no Spark job. A committed data dir is immutable, so the
  * store lists it and reads its Parquet footers once, on the driver, and
  * keeps the result: the file list, the total row count and the Spark row
  * schema the writer put in the first footer. A scan is built over that
  * file list with that schema, so Spark neither lists nor infers.
  *
  * At cluster scale the same layout lands on an object store: Parquet data
  * files are written by executors (distributed), only the tiny manifest
  * JSON passes through the driver.
  */
final class SnapshotStore(val root: String, spark: SparkSession) {
  import SnapshotStore.{DataFiles, SparkSchemaKey}

  private val rootPath = Paths.get(root)
  Files.createDirectories(rootPath)
  // data dir path -> its files, schema and rows (see dataFiles)
  private val listed = scala.collection.concurrent.TrieMap[String, DataFiles]()

  final case class Snapshot(id: Long, parent: Long, wave: Int,
      tables: Map[String, String], metrics: Map[String, Long])

  private def manifestPath(id: Long): Path =
    rootPath.resolve(f"manifest-$id%06d.json")
  private def headPath: Path = rootPath.resolve("HEAD")

  /** Latest committed snapshot, if any. */
  def head: Option[Snapshot] = {
    if (!Files.exists(headPath)) None
    else {
      val id = Files.readString(headPath).trim.toLong
      Some(readManifest(id))
    }
  }

  def readManifest(id: Long): Snapshot = {
    val txt = Files.readString(manifestPath(id))
    // minimal deterministic JSON parse for our own flat format
    def field(k: String): String = {
      val m = ("\"" + k + "\"\\s*:\\s*(-?\\d+|\"[^\"]*\"|\\{[^}]*\\})").r
      m.findFirstMatchIn(txt).map(_.group(1)).getOrElse(
        throw new IllegalStateException(s"manifest $id missing $k"))
    }
    def obj(k: String): Map[String, String] = {
      val body = field(k).stripPrefix("{").stripSuffix("}")
      if (body.trim.isEmpty) Map.empty
      else body.split(",").map { kv =>
        val Array(a, b) = kv.split(":", 2)
        a.trim.stripPrefix("\"").stripSuffix("\"") ->
          b.trim.stripPrefix("\"").stripSuffix("\"")
      }.toMap
    }
    Snapshot(field("id").toLong, field("parent").toLong,
      field("wave").toInt, obj("tables"), obj("metrics").map { case (k, v) => k -> v.toLong })
  }

  /** Write tables + commit a new snapshot; returns it. `metrics` carries the
    * per-wave fetch/parse counters (north_rule lineage + metrics).
    */
  def commit(wave: Int, tables: Map[String, DataFrame],
      metrics: Map[String, Long]): Snapshot =
    commitWith(wave, tables.toSeq, _ => metrics)

  /** Ordered-write commit with metrics computed AFTER the data writes but
    * BEFORE the manifest move — so metrics can come from the written
    * Parquet footers ([[rowCount]]) and from accumulators the write jobs
    * populated, without any extra Spark job. `tables` is a Seq because
    * write ORDER is part of the crawl loop's caching contract (the first
    * write materializes the shared cached frame).
    */
  def commitWith(wave: Int, tables: Seq[(String, DataFrame)],
      metricsFn: Map[String, String] => Map[String, Long]): Snapshot = {
    val parent = head.map(_.id).getOrElse(-1L)
    val id = parent + 1
    val dataDir = rootPath.resolve(f"data-$id%06d")
    val written = tables.map { case (name, df) =>
      val p = dataDir.resolve(name).toString
      listed.remove(p) // a retried commit rewrites its own dirs
      df.write.mode("overwrite").parquet(p)
      name -> p
    }.toMap
    val metrics = metricsFn(written)
    val json = {
      def q(s: String) = "\"" + s + "\""
      val ts = written.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
      val ms = metrics.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
      s"""{"id":$id,"parent":$parent,"wave":$wave,"tables":$ts,"metrics":$ms}"""
    }
    val tmp = rootPath.resolve(s"manifest-$id.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(id), StandardCopyOption.ATOMIC_MOVE)
    val headTmp = rootPath.resolve("HEAD.tmp")
    Files.writeString(headTmp, id.toString)
    Files.move(headTmp, headPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    Snapshot(id, parent, wave, written, metrics)
  }

  /** Read a table out of a snapshot. */
  def table(snap: Snapshot, name: String): Option[DataFrame] =
    snap.tables.get(name).flatMap(p => read(Seq(p)))

  /** One scan over the tables at `paths`, which share one schema (the
    * per-wave deltas of one table): small files pack into a few splits,
    * and rows come in no particular order. None if no path holds a file.
    */
  def read(paths: Seq[String]): Option[DataFrame] = {
    val dirs = paths.map(dataFiles)
    dirs.iterator.flatMap(_.schema).nextOption().map { schema =>
      val index = new KnownFiles(paths, dirs.flatMap(_.files))
      spark.baseRelationToDataFrame(HadoopFsRelation(index,
        index.partitionSchema, SchemaBridge.asNullable(schema), None,
        new ParquetFileFormat, Map.empty)(spark))
    }
  }

  /** The tables at `paths` as a union in path order, one scan per path:
    * rows of an earlier path come before rows of a later one.
    */
  def readInOrder(paths: Seq[String]): Option[DataFrame] =
    paths.flatMap(p => read(Seq(p))).reduceOption(_ unionByName _)

  /** Row count of a written table from Parquet FOOTERS only — a pure
    * driver-side metadata read, NO Spark job. This is how the crawl loop
    * keeps per-wave metrics (scheduled/records/new_links and the loop's
    * own frontier-count termination check) free: the counts ride on the
    * four snapshot writes instead of adding count() jobs (the r1 loop
    * spent ~10 jobs/wave, half of them metric counts).
    */
  def rowCount(path: String): Long = dataFiles(path).rows

  /** A data dir's Parquet files, the Spark row schema in the first footer
    * that carries one, and the rows in all footers. Kept per existing dir:
    * committed dirs never change, and a commit drops what it rewrites.
    */
  private def dataFiles(path: String): DataFiles = listed.getOrElse(path, {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) DataFiles(Seq.empty, None, 0L)
    else {
      val files = fs.listStatus(dir).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      // options from the loaded session conf: without them each open
      // builds a fresh Hadoop Configuration and re-parses its XML defaults
      val options = HadoopReadOptions.builder(conf).build()
      var schema = Option.empty[StructType]
      var rows = 0L
      files.foreach { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
          options)
        try {
          rows += r.getRecordCount
          if (schema.isEmpty)
            schema = Option(r.getFileMetaData.getKeyValueMetaData
              .get(SparkSchemaKey))
              .map(DataType.fromJson(_).asInstanceOf[StructType])
        } finally r.close()
      }
      val found = DataFiles(files, schema, rows)
      listed(path) = found
      found
    }
  })

  def tableRowCount(snap: Snapshot, name: String): Long =
    snap.tables.get(name).map(rowCount).getOrElse(0L)

  /** All COMMITTED snapshot ids, ascending — by walking the parent chain
    * from HEAD, not by listing manifest files: a crash between the
    * manifest ATOMIC_MOVE and the HEAD swap leaves an orphan manifest on
    * disk, and the documented guarantee is that orphans are invisible to
    * readers. (Ids are dense `parent+1`, so the chain is the ≤-HEAD
    * prefix; walking manifests keeps it correct even if that changes.)
    */
  def snapshots: Seq[Long] = head match {
    case None => Seq.empty
    case Some(h) =>
      val b = List.newBuilder[Long]
      var id = h.id
      while (id >= 0) {
        b += id
        id = readManifest(id).parent
      }
      b.result().reverse
  }
}

object SnapshotStore {
  // footer key under which Spark's Parquet writer stores the row schema
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private final case class DataFiles(files: Seq[FileStatus],
      schema: Option[StructType], rows: Long)
}

/** A fixed file list: a scan over it never lists a directory. */
private final class KnownFiles(roots: Seq[String], files: Seq[FileStatus])
    extends FileIndex {
  override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
    roots.map(new org.apache.hadoop.fs.Path(_))
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()
}
