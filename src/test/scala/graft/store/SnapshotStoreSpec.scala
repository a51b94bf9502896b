package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import java.nio.file.{Files, Paths}

/** Commit-protocol guarantees: atomic manifest, HEAD only moves on full
  * commit, orphaned data from a crashed commit is invisible to readers.
  */
class SnapshotStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("store-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("commit chain: ids increment, parents link, tables readable") {
    import spark.implicits._
    val root = Files.createTempDirectory("store-spec").toString
    val store = new SnapshotStore(root, spark)
    assert(store.head.isEmpty)
    val s0 = store.commit(0, Map("t" -> Seq(1, 2, 3).toDF("x")),
      Map("rows" -> 3L))
    val s1 = store.commit(1, Map("t" -> Seq(4).toDF("x")), Map("rows" -> 1L))
    assert(s0.id == 0 && s1.id == 1 && s1.parent == 0)
    assert(store.head.get.id == 1)
    assert(store.table(s0, "t").get.count() == 3)
    assert(store.table(s1, "t").get.count() == 1)
    assert(store.readManifest(1).metrics("rows") == 1L)
    assert(store.snapshots == Seq(0L, 1L))
  }

  test("crash between data write and manifest commit leaves HEAD at the " +
    "parent; a new store over the same root resumes cleanly") {
    import spark.implicits._
    val root = Files.createTempDirectory("store-crash").toString
    val store = new SnapshotStore(root, spark)
    store.commit(0, Map("t" -> Seq(1).toDF("x")), Map.empty)
    // simulate a crash mid-commit: data dir written, NO manifest, NO HEAD
    // move (this is exactly the state after step 1 of the protocol)
    Seq(9, 9).toDF("x").write.parquet(
      Paths.get(root, "data-000001", "t").toString)
    val store2 = new SnapshotStore(root, spark)
    assert(store2.head.get.id == 0, "orphaned data must be invisible")
    assert(store2.snapshots == Seq(0L))
    // next commit proceeds over the orphan (mode=overwrite) and wins
    val s1 = store2.commit(1, Map("t" -> Seq(7).toDF("x")), Map.empty)
    assert(s1.id == 1 && store2.head.get.id == 1)
    assert(store2.table(s1, "t").get.collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("torn manifest tmp file is ignored (only ATOMIC_MOVEd manifests " +
    "count)") {
    import spark.implicits._
    val root = Files.createTempDirectory("store-torn").toString
    val store = new SnapshotStore(root, spark)
    store.commit(0, Map("t" -> Seq(1).toDF("x")), Map.empty)
    Files.writeString(Paths.get(root, "manifest-1.json.tmp"), """{"id":1,""")
    val store2 = new SnapshotStore(root, spark)
    assert(store2.snapshots == Seq(0L))
    assert(store2.head.get.id == 0)
  }

  test("delta reads over several waves, one of them empty: no Spark job, " +
    "the written schema, every row, and path order for the ordered form") {
    import spark.implicits._
    val root = Files.createTempDirectory("store-deltas").toString
    val store = new SnapshotStore(root, spark)
    val waves = Seq(Seq(1L, 2L), Seq.empty[Long], Seq(3L), Seq(4L, 5L, 6L))
    val paths = waves.zipWithIndex.map { case (xs, w) =>
      store.commit(w, Map(s"d_w$w" -> xs.toDF("h").coalesce(1)), Map.empty)
        .tables(s"d_w$w")
    }
    assert(paths.map(store.rowCount) == waves.map(_.size.toLong))
    val log = new graft.JobLog(spark.sparkContext)
    val (scan, ordered, t1) = try {
      (store.read(paths).get, store.readInOrder(paths).get,
        store.table(store.readManifest(1), "d_w1").get)
    } finally log.close()
    assert(log.count == 0, "a store read must not launch a Spark job")
    val schema = StructType(Seq(StructField("h", LongType)))
    Seq(scan, ordered, t1).foreach(df => assert(df.schema == schema))
    assert(scan.as[Long].collect().sorted.toSeq == waves.flatten)
    assert(ordered.as[Long].collect().toSeq == waves.flatten)
    assert(t1.count() == 0)
    assert(store.read(Seq(Paths.get(root, "absent").toString)).isEmpty)
  }
}
