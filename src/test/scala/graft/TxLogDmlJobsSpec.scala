package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog
import graft.sources.TxLogSource

/** Small MOR DML costs the rows it touches: the Spark jobs of a
  * scattered 200-key merge, a CDC apply, a 50-row delete and an update
  * on a 16-file range-clustered table, with the keys and masks merged
  * on the driver; the distributed fallback (keys above Spark's
  * broadcast threshold, positions above the driver-side mask limit)
  * publishes the same rows, masks and change feed; and mask sidecars of
  * both builds read the same. */
class TxLogDmlJobsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestBase.jobsDuring
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val root = "/tmp/graft_txdmljobs"
  private val seedBase = s"$root/seed"
  private val nFiles = 16
  private val perFile = 2000
  private val nRows = nFiles * perFile

  private def rows(keys: Seq[Long], tag: String): DataFrame =
    keys.map(k => (k, s"$tag-$k", k * 0.5)).toDF("k", "s", "v")

  override def beforeAll(): Unit = {
    TxLog.drop(spark, seedBase)
    TxLog.commit(spark.range(nRows).select(col("id").as("k"),
        concat(lit("s-"), col("id")).as("s"), (col("id") * 1.0).as("v"))
      .repartitionByRange(nFiles, col("k")), seedBase, None, Some("k"))
  }

  /** A fresh copy of the 16-file seed table at `base`: the same
    * relative file paths, so two copies compare entry by entry. */
  private def copyOfSeed(base: String): String = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    FileUtil.copy(fs, new Path(seedBase), fs, new Path(base), false,
      spark.sparkContext.hadoopConfiguration)
    TxLog.read(spark, base).count() // footers read once, as any reader would
    base
  }

  /** 100 existing keys, one every 320 rows (every file touched), plus
    * 100 new keys. */
  private val scattered: Seq[Long] =
    (0 until 100).map(i => i * 320L + 7) ++ (0 until 100).map(nRows + _.toLong)

  /** The DML sequence both specs run, each op's Spark jobs returned by
    * name. */
  private def runOps(base: String): Seq[(String, Int)] = Seq(
    "mergeMor" -> jobsDuring(TxLog.mergeMor(spark, base,
      rows(scattered, "m"), Seq("k"), "k"))._2,
    "applyChanges" -> jobsDuring(TxLog.applyChanges(spark, base,
      rows((0 until 100).map(i => i * 310L + 11), "d").select("k"),
      rows((0 until 200).map(i => 2L * nRows + i), "a"),
      Seq("k"), "k", "replica", 1L))._2,
    "deleteRangeMor" -> jobsDuring(TxLog.deleteRangeMor(spark, base, "k",
      5000L, 5049L))._2,
    "updateRangeMor" -> jobsDuring(TxLog.updateRangeMor(spark, base, "k",
      9000L, 9049L, Map("v" -> (col("v") + 1.0))))._2,
    "applyChanges insert-only" -> jobsDuring(TxLog.applyChanges(spark, base,
      rows(Nil, "d").select("k"),
      rows((0 until 200).map(i => 3L * nRows + i), "i"),
      Seq("k"), "k", "replica", 2L))._2)

  test("a scattered 200-key mergeMor, a 100-delete/200-insert " +
    "applyChanges, a 50-row deleteRangeMor and an updateRangeMor run in " +
    "at most 4, 4, 2 and 3 Spark jobs; an insert-only apply in 2") {
    val warm = copyOfSeed(s"$root/warm")
    runOps(warm) // JIT and caches
    val jobs = runOps(copyOfSeed(s"$root/jobs")).toMap
    info(s"Spark jobs per op: $jobs")
    val bounds = Map("mergeMor" -> 4, "applyChanges" -> 4,
      "deleteRangeMor" -> 2, "updateRangeMor" -> 3,
      "applyChanges insert-only" -> 2)
    bounds.foreach { case (op, bound) =>
      assert(jobs(op) <= bound, s"$op: ${jobs(op)} Spark jobs > $bound ($jobs)")
    }
  }

  /** Run `body` with every mask above the driver-side limit, so masks
    * take the distributed build, its shuffle partitions uncoalesced (a
    * large mask's shape: one sidecar file per partition), after `also`
    * sets any further session conf; the conf is restored after. */
  private def distributed[T](also: => Unit)(body: => T): T = {
    spark.conf.set("spark.graft.txlog.dsv2MaxMaskRows", "1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    also
    try body
    finally Seq("spark.graft.txlog.dsv2MaxMaskRows",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold").foreach(spark.conf.unset)
  }

  private def snapshotRows(base: String): Set[(Long, String, Double)] =
    TxLog.read(spark, base).as[(Long, String, Double)].collect().toSet

  /** Every seed entry's rows and mask size by path; the entries the
    * ops added (their paths, and the shuffle's split of update images
    * into files, differ between two tables) summed as "new". */
  private def entryMasks(base: String): Map[String, (Long, Long)] = {
    val seedPaths = TxLog.snapshotEntries(spark, seedBase, 1L).map(_.path).toSet
    TxLog.snapshotEntries(spark, base, TxLog.latestVersion(spark, base).get)
      .groupMapReduce(e => if (seedPaths(e.path)) e.path else "new")(e =>
        (e.rows, e.dv.map(_.rows).getOrElse(0L))) {
        case ((r1, d1), (r2, d2)) => (r1 + r2, d1 + d2)
      }
  }

  private def changeFeed(base: String): Seq[Row] =
    spark.read.format("graft.sources.TxLogSource")
      .option("changeFeedTypes", "true").load(base)
      .select("_commit_version", "_change_type", "k", "s", "v")
      .collect().toSeq.sortBy(_.toString)

  test("the distributed fallback (dsv2MaxMaskRows=1, " +
    "autoBroadcastJoinThreshold=-1) publishes the same rows, the same " +
    "per-entry masks and the same change feed as the driver path") {
    val driver = copyOfSeed(s"$root/driver")
    runOps(driver)
    val fallback = copyOfSeed(s"$root/fallback")
    distributed(spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1"))(
      runOps(fallback))
    assert(TxLog.latestVersion(spark, driver) ==
      TxLog.latestVersion(spark, fallback))
    assert(snapshotRows(driver) == snapshotRows(fallback))
    assert(entryMasks(driver) == entryMasks(fallback))
    assert(changeFeed(driver) == changeFeed(fallback))
    // the fallback really took the distributed build: its sidecars are
    // one file per shuffle partition, the driver path's one file each
    def sidecarFiles(base: String): Set[Int] =
      TxLog.snapshotEntries(spark, base, TxLog.latestVersion(spark, base).get)
        .flatMap(_.dv).map(_.dir).distinct.map { dir =>
          new java.io.File(s"$base/$dir").listFiles()
            .count(f => TxLog.isDataFileName(f.getName))
        }.toSet
    assert(sidecarFiles(driver) == Set(1))
    assert(sidecarFiles(fallback).exists(_ > 1), sidecarFiles(fallback))
  }

  test("a multi-file sidecar from the distributed build and a single-file " +
    "one from the driver build read the same through dvPositionsByFile, " +
    "dvFrame and purgeDeletes; a driver-built delete keeps every " +
    "position of a distributed-built mask") {
    val dist = copyOfSeed(s"$root/maskdist")
    val drv = copyOfSeed(s"$root/maskdrv")
    distributed(())(TxLog.deleteRangeMor(spark, dist, "k", 100L, 3000L,
      residual = col("k") % 3 === 0))
    TxLog.deleteRangeMor(spark, drv, "k", 100L, 3000L,
      residual = col("k") % 3 === 0)
    def entries(base: String) = TxLog.snapshotEntries(spark, base,
      TxLog.latestVersion(spark, base).get)
    def positions(base: String): Map[String, Seq[Long]] =
      TxLogSource.dvPositionsByFile(base, entries(base))
        .map { case (p, ps) => p -> ps.toSeq }
    def frame(base: String): Set[(String, Long)] =
      TxLog.dvFrame(spark, base, entries(base)).get
        .as[(String, Long)].collect().toSet
    val distDir = entries(dist).flatMap(_.dv).map(_.dir).distinct
    assert(distDir.size == 1 && new java.io.File(s"$dist/${distDir.head}")
      .listFiles().count(f => TxLog.isDataFileName(f.getName)) > 1,
      "the distributed build lands one file per shuffle partition")
    assert(positions(dist).nonEmpty)
    assert(positions(dist) == positions(drv))
    assert(frame(dist) == frame(drv))
    assert(frame(dist).size == (100 to 3000).count(_ % 3 == 0))

    // a driver-built delete on the distributed-built masks keeps them
    val before = positions(dist)
    TxLog.deleteRangeMor(spark, dist, "k", 1000L, 1999L,
      residual = col("k") % 3 === 1)
    val after = positions(dist)
    before.foreach { case (p, ps) =>
      assert(ps.toSet.subsetOf(after(p).toSet), s"$p lost old positions")
    }
    assert(after.values.map(_.size).sum ==
      before.values.map(_.size).sum + (1000 to 1999).count(_ % 3 == 1))
    TxLog.deleteRangeMor(spark, drv, "k", 1000L, 1999L,
      residual = col("k") % 3 === 1)
    assert(positions(dist) == positions(drv))

    TxLog.purgeDeletes(spark, dist)
    TxLog.purgeDeletes(spark, drv)
    assert(entries(dist).forall(_.dv.isEmpty) && entries(drv).forall(_.dv.isEmpty))
    val expected = (0L until nRows).filterNot(k =>
      (k >= 100 && k <= 3000 && k % 3 == 0) ||
        (k >= 1000 && k <= 1999 && k % 3 == 1)).toSet
    assert(snapshotRows(dist).map(_._1) == expected)
    assert(snapshotRows(dist) == snapshotRows(drv))
  }

  test("a deleteRangeMor whose hits would pass spark.driver.maxResultSize " +
    "on the driver takes the distributed build and succeeds") {
    val base = copyOfSeed(s"$root/maxresult")
    // 9,000 hits, within the driver-side hit limit, of about 100 bytes
    // each as collected rows: 900 KB, over the result limit set here
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try org.apache.spark.GraftTestAccess.withCoreConf(spark.sparkContext,
        "spark.driver.maxResultSize", "512k") {
      TxLog.deleteRangeMor(spark, base, "k", 0L, 8999L)
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assert(TxLog.read(spark, base).count() == nRows - 9000)
    assert(TxLog.read(spark, base).where("k < 9000").isEmpty)
    val dirs = TxLog.snapshotEntries(spark, base,
      TxLog.latestVersion(spark, base).get).flatMap(_.dv).map(_.dir).distinct
    assert(dirs.size == 1 && new java.io.File(s"$base/${dirs.head}")
      .listFiles().count(f => TxLog.isDataFileName(f.getName)) > 1,
      "the distributed build lands one file per shuffle partition")
  }

  test("a key-matching merge on a bloom-indexed key reads only the files " +
    "whose bloom admits a source key") {
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val base = s"count://$root/bloom"
    TxLog.drop(spark, base)
    // every file spans the whole key range: stats admit every key
    TxLog.commit(spark.range(8000).select(col("id").as("k"),
        concat(lit("s-"), col("id")).as("s"), (col("id") * 1.0).as("v"))
      .repartition(8, col("k") % 8), base, None, Some("k"))
    TxLog.buildBloomIndex(spark, base, "k")
    val files = TxLog.snapshotEntries(spark, base,
      TxLog.latestVersion(spark, base).get).map(_.path)
    TxLog.read(spark, base).count()
    def opens = files.map(f =>
      f -> CountingFileSystem.count("open", s"$base/$f")).toMap
    val before = opens
    TxLog.mergeMor(spark, base, rows(Seq(8L, 16L, 100000L), "b"), Seq("k"), "k")
    val after = opens
    assert(files.count(f => after(f) > before(f)) == 1,
      "only the file holding keys 8 and 16 is scanned")
    val snap = TxLog.read(spark, base)
    assert(snap.count() == 8001)
    assert(snap.where("k IN (8, 16, 100000)").as[(Long, String, Double)]
      .collect().map(_._2).toSet == Set("b-8", "b-16", "b-100000"))
  }

  test("a two-key merge masks exactly the source's key tuples, not every " +
    "row whose keys each appear somewhere in the source") {
    def run(base: String): Set[(Int, Int, String)] = {
      TxLog.drop(spark, base)
      TxLog.commit(Seq((1, 1, "t11"), (2, 2, "t22"), (1, 2, "t12"), (3, 3, "t33"))
        .toDF("a", "b", "s"), base, None, Some("a"))
      TxLog.mergeMor(spark, base, Seq((1, 2, "s12"), (2, 1, "s21"))
        .toDF("a", "b", "s"), Seq("a", "b"), "a")
      TxLog.read(spark, base).as[(Int, Int, String)].collect().toSet
    }
    val expected = Set((1, 1, "t11"), (2, 2, "t22"), (3, 3, "t33"),
      (1, 2, "s12"), (2, 1, "s21"))
    assert(run(s"$root/twokey") == expected)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(run(s"$root/twokey_join") == expected)
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
