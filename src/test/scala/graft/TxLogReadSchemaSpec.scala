package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** Laws for planning TxLog reads from cached footer schemas
  * ([[TxLog.readFiles]]): building a read DataFrame on a warm table
  * starts no Spark job, and every verb serves the schema Spark's own
  * inference gives for the same files — on schema-evolved, mapped and
  * widened tables, with deletion vectors in play. The expected
  * schemas are the ones inference-planned reads serve; `readPoint`
  * and `readRange` serve the DSv2 source's schema of the version.
  * Those two read through a DSv2 scan pinned to their pruned files,
  * with the masks applied inside it. */
class TxLogReadSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.{jobsDuring, plannedFiles}

  private val root = "/tmp/graft_txreadschema"

  /** 4 range-clustered (k, s) files with stats on k, then a MOR
    * delete that masks rows of the first file only. */
  private def seedMasked(base: String): Unit = {
    import spark.implicits._
    TxLog.drop(spark, base)
    TxLog.commit((1L to 400L).map(i => (i, s"s-$i")).toDF("k", "s")
      .repartitionByRange(4, col("k")), base, None, Some("k"))
    TxLog.deleteRangeMor(spark, base, "k", 10L, 20L)
  }

  /** The verbs a reader plans, by name. */
  private def verbs(base: String, point: Long, lo: Long, hi: Long)
      : Seq[(String, () => DataFrame)] = Seq(
    "read" -> (() => TxLog.read(spark, base)),
    "readVersion(1)" -> (() => TxLog.readVersion(spark, base, 1L)),
    "readPoint" -> (() => TxLog.readPoint(spark, base, "k", point)),
    "readRange" -> (() => TxLog.readRange(spark, base, "k", lo, hi)),
    "readEvolved" -> (() => TxLog.readEvolved(spark, base)),
    "source" -> (() =>
      spark.read.format("graft.sources.TxLogSource").load(base)))

  test("building a TxLog read DataFrame on a warm table starts no " +
    "Spark job") {
    val base = s"$root/warm"
    seedMasked(base)
    val es = TxLog.manifest(spark, base, 2L)._1
    assert(es.count(_.dv.isDefined) == 1 && es.count(_.dv.isEmpty) == 3)
    val all = Seq(
      "readPoint(masked file)" -> (() => TxLog.readPoint(spark, base, "k", 5L)),
      "readPoint(plain file)" -> (() => TxLog.readPoint(spark, base, "k", 390L)),
      "readRange" -> (() => TxLog.readRange(spark, base, "k", 1L, 300L)),
      "readVersion(1)" -> (() => TxLog.readVersion(spark, base, 1L)),
      "readVersion(2)" -> (() => TxLog.readVersion(spark, base, 2L)),
      "read" -> (() => TxLog.read(spark, base)))
    all.foreach { case (_, f) => f().collect() } // warm
    all.foreach { case (name, f) =>
      val (df, jobs) = jobsDuring(f())
      assert(jobs == 0, s"$name started $jobs Spark job(s) while planning")
      assert(df.columns.toSeq == Seq("k", "s"), name)
    }
    assert(TxLog.read(spark, base).count() == 389L)
    assert(TxLog.readPoint(spark, base, "k", 15L).count() == 0L)
    assert(TxLog.readPoint(spark, base, "k", 390L).count() == 1L)
  }

  test("a point read on a masked file and a range read each run one " +
    "Spark job: the masks apply inside the scan") {
    val base = s"$root/onejob"
    seedMasked(base)
    val reads = Seq(
      "readPoint(masked file)" -> (() => TxLog.readPoint(spark, base, "k", 5L)),
      "readRange(1, 300)" -> (() => TxLog.readRange(spark, base, "k", 1L, 300L)))
    reads.foreach { case (_, f) => f().collect() } // warm
    reads.foreach { case (name, f) =>
      val (_, jobs) = jobsDuring(f().collect())
      assert(jobs == 1, s"$name started $jobs Spark job(s)")
    }
    assert(TxLog.readPoint(spark, base, "k", 5L).count() == 1L)
    assert(TxLog.readRange(spark, base, "k", 1L, 300L).count() == 289L)
  }

  test("a point read on a table of more files than Spark lists on the " +
    "driver plans at a new version without a Spark job") {
    import spark.implicits._
    val base = s"$root/wide"
    TxLog.drop(spark, base)
    TxLog.commit((1L to 400L).map(i => (i, s"s-$i")).toDF("k", "s")
      .repartitionByRange(40, col("k")), base, None, Some("k"))
    assert(TxLog.manifestFiles(spark, base, 1L).size > spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    TxLog.readPoint(spark, base, "k", 5L).collect() // warm
    TxLog.append(Seq((401L, "s-401")).toDF("k", "s"), base, Some("k"))
    val (df, jobs) = jobsDuring(TxLog.readPoint(spark, base, "k", 5L))
    assert(jobs == 0, s"planning at a new version started $jobs Spark job(s)")
    assert(df.collect().map(_.getString(1)).toSeq == Seq("s-5"))
  }

  private def files(base: String, es: Seq[TxLog.Entry]): Set[String] =
    es.map(e => TxLog.resolve(base, e.path)).toSet

  test("the pinned scan plans exactly the files the pruning keeps; an " +
    "empty kept list plans none and opens no file") {
    val base = s"$root/pinned"
    seedMasked(base)
    assert(plannedFiles(TxLog.readPoint(spark, base, "k", 5L)).contains(
      files(base, TxLog.prunePoint(spark, base, "k", 5L)._1)))
    val kept = TxLog.pruneRange(spark, base, "k", 150L, 250L)._1
    assert(kept.size == 2)
    assert(plannedFiles(TxLog.readRange(spark, base, "k", 150L, 250L))
      .contains(files(base, kept)))
    val boxKept = TxLog.pruneRanges(spark, base,
      Seq(("k", 1L, 300L), ("s", "s-1", "s-9")))._1
    assert(plannedFiles(TxLog.readRanges(spark, base,
      Seq(("k", 1L, 300L), ("s", "s-1", "s-9")))).contains(files(base, boxKept)))
    assert(TxLog.prunePoint(spark, base, "k", 999L)._1.isEmpty)
    val miss = TxLog.readPoint(spark, base, "k", 999L)
    val fs = TxLog.fs(base, spark)
    TxLog.manifestFiles(spark, base, TxLog.latestVersion(spark, base).get)
      .foreach(rel => fs.delete(new org.apache.hadoop.fs.Path(
        TxLog.resolve(base, rel)), false))
    assert(plannedFiles(miss).contains(Set.empty[String]))
    assert(miss.count() == 0L)
  }

  test("masks above spark.graft.txlog.dsv2MaxMaskRows fall back to the " +
    "anti-join read and serve the same rows") {
    val base = s"$root/maskcap"
    seedMasked(base)
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val point = rows(TxLog.readPoint(spark, base, "k", 5L))
    val range = rows(TxLog.readRange(spark, base, "k", 1L, 150L))
    assert(point == Set((5L, "s-5")) && range.size == 139)
    spark.conf.set("spark.graft.txlog.dsv2MaxMaskRows", "10") // mask: 11
    try {
      val p = TxLog.readPoint(spark, base, "k", 5L)
      assert(plannedFiles(p).isEmpty, "an over-limit mask read through DSv2")
      assert(rows(p) == point)
      val r = TxLog.readRange(spark, base, "k", 1L, 150L)
      assert(plannedFiles(r).isEmpty, "an over-limit mask read through DSv2")
      assert(rows(r) == range)
      // a read of plain files only stays on the pinned scan
      assert(plannedFiles(TxLog.readPoint(spark, base, "k", 390L)).isDefined)
    } finally spark.conf.unset("spark.graft.txlog.dsv2MaxMaskRows")
  }

  test("point and range reads serve read(...).where(pred)'s rows on " +
    "masked, mapped, widened and partitioned tables") {
    import spark.implicits._
    val masked = s"$root/rows-masked"
    seedMasked(masked)
    val mapped = s"$root/rows-mapped"
    seedMasked(mapped)
    TxLog.renameColumn(spark, mapped, "s", "label")
    TxLog.append(Seq((401L, "s-401")).toDF("k", "label"), mapped, Some("k"))
    TxLog.deleteRangeMor(spark, mapped, "k", 150L, 160L)
    val widened = s"$root/rows-widened"
    TxLog.drop(spark, widened)
    TxLog.commit((1 to 400).map(i => (i, s"s-$i")).toDF("k", "s")
      .repartitionByRange(4, col("k")), widened, None, Some("k"))
    TxLog.deleteRangeMor(spark, widened, "k", 10, 20)
    TxLog.alterWidenColumn(spark, widened, "k", LongType)
    TxLog.append(Seq((5000000000L, "big")).toDF("k", "s"), widened, Some("k"))
    val parted = s"$root/rows-parted"
    TxLog.drop(spark, parted)
    TxLog.commitPartitioned((1L to 400L).map(i => (i, s"s-$i", s"r${i % 3}"))
      .toDF("k", "s", "region"), parted, Seq("region"), Seq("k"))
    TxLog.deleteRangeMor(spark, parted, "k", 10L, 20L)
    def rows(df: DataFrame, cols: Array[String]) =
      df.select(cols.map(col).toIndexedSeq: _*).collect().map(_.toSeq).toSet
    Seq(masked, mapped, widened, parted).foreach { base =>
      val all = TxLog.read(spark, base)
      Seq(1L, 5L, 15L, 150L, 155L, 390L, 401L, 5000000000L).foreach { k =>
        val got = TxLog.readPoint(spark, base, "k", k)
        assert(got.columns.toSeq == all.columns.toSeq, base)
        assert(rows(got, all.columns) ==
          rows(all.where(col("k") === lit(k)), all.columns), s"$base k=$k")
      }
      Seq((1L, 300L), (5L, 25L), (140L, 170L), (350L, 5000000000L)).foreach {
        case (lo, hi) =>
          assert(rows(TxLog.readRange(spark, base, "k", lo, hi), all.columns) ==
            rows(all.where(col("k").between(lo, hi)), all.columns),
            s"$base [$lo, $hi]")
      }
    }
  }

  test("a catalog table seeded by SQL INSERT INTO analyses at a new " +
    "version without a Spark job") {
    val s = SparkTestBase.spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", s"$root/wh")
    val base = s"$root/wh/ns/inserted"
    TxLog.drop(s, base)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns")
    s.sql("CREATE TABLE graft.ns.inserted (k BIGINT, s STRING) " +
      "USING graft.sources.TxLogSource")
    s.sql("INSERT INTO graft.ns.inserted VALUES (1, 's-1'), (2, 's-2')")
    assert(s.table("graft.ns.inserted").count() == 2L) // warm
    import s.implicits._
    TxLog.append(Seq((3L, "s-3")).toDF("k", "s"), base, Some("k"))
    val (df, jobs) = jobsDuring(s.table("graft.ns.inserted"))
    assert(jobs == 0, s"analysis at a new version started $jobs Spark job(s)")
    assert(df.schema.toDDL == "k BIGINT,s STRING")
    assert(df.count() == 3L)
  }

  test("analysing a catalog table at a new version starts no Spark job") {
    val s = SparkTestBase.spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", s"$root/wh")
    val base = s"$root/wh/ns/t"
    seedMasked(base)
    assert(s.table("graft.ns.t").count() == 389L) // warm
    import s.implicits._
    TxLog.append(Seq((401L, "s-401")).toDF("k", "s"), base, Some("k"))
    val (df, jobs) = jobsDuring(s.table("graft.ns.t"))
    assert(jobs == 0, s"analysis at a new version started $jobs Spark job(s)")
    assert(df.schema.toDDL == "k BIGINT,s STRING")
    assert(df.count() == 390L)
  }

  test("a schema-evolved table serves inference's schema per verb") {
    import spark.implicits._
    val base = s"$root/evolved"
    seedMasked(base)
    // mergeSchema-on-write: the new file carries an extra column
    TxLog.append((401L to 460L).map(i => (i, s"s-$i", i.toInt))
      .toDF("k", "s", "x").coalesce(1), base, Some("k"))
    val got = verbs(base, point = 430L, lo = 350L, hi = 450L)
      .map { case (n, f) => n -> f().schema.toDDL }.toMap
    val narrow = "k BIGINT,s STRING"
    val wide = "k BIGINT,s STRING,x INT"
    assert(got("readVersion(1)") == narrow)
    // the version's schema, as the DSv2 source serves it
    assert(got("readPoint") == wide)
    assert(got("readRange") == wide)
    assert(got("readEvolved") == wide)
    assert(got("source") == wide)
    // `read` infers each mask subset from its own footers
    assert(got("read") == expectedEvolvedRead(base))
    assert(TxLog.readPoint(spark, base, "k", 430L)
      .select("x").as[Int].collect().toSeq == Seq(430))
    // a key whose file predates the evolution: the version's schema,
    // the new column NULL
    val old = TxLog.readPoint(spark, base, "k", 390L)
    assert(old.schema.toDDL == wide)
    assert(old.collect().map(r => (r.getLong(0), r.getString(1),
      r.isNullAt(2))).toSeq == Seq((390L, "s-390", true)))
  }

  /** `read` of the evolved table: the masked subset (old files) unions
    * by name with the plain subset, whose one-footer inference is
    * whatever Spark picks among its files. */
  private def expectedEvolvedRead(base: String): String = {
    val v = TxLog.latestVersion(spark, base).get
    val plain = TxLog.manifest(spark, base, v)._1.filter(_.dv.isEmpty)
      .map(e => TxLog.resolve(base, e.path))
    val plainSchema = spark.read.parquet(plain: _*).schema
    if (plainSchema.fieldNames.contains("x")) "k BIGINT,s STRING,x INT"
    else "k BIGINT,s STRING"
  }

  test("a mapped table serves inference's schema per verb") {
    import spark.implicits._
    val base = s"$root/mapped"
    seedMasked(base)
    TxLog.renameColumn(spark, base, "s", "label")
    TxLog.append(Seq((401L, "s-401")).toDF("k", "label"), base, Some("k"))
    val got = verbs(base, point = 401L, lo = 1L, hi = 401L)
      .map { case (n, f) => n -> f().schema.toDDL }.toMap
    assert(got("readVersion(1)") == "k BIGINT,s STRING")
    Seq("read", "readPoint", "readRange", "readEvolved", "source")
      .foreach(n => assert(got(n) == "k BIGINT,label STRING", n))
    assert(TxLog.readRange(spark, base, "k", 1L, 401L).count() == 390L)
  }

  test("a widened table serves its declared schema; time travel below " +
    "the ALTER serves the narrow footers") {
    import spark.implicits._
    val base = s"$root/widened"
    TxLog.drop(spark, base)
    TxLog.commit((1 to 200).map(i => (i, s"s-$i")).toDF("k", "s")
      .repartitionByRange(2, col("k")), base, None, Some("k"))
    TxLog.deleteRangeMor(spark, base, "k", 10, 20)
    TxLog.alterWidenColumn(spark, base, "k", LongType)
    TxLog.append(Seq((5000000000L, "big")).toDF("k", "s"), base, Some("k"))
    val got = verbs(base, point = 5000000000L, lo = 1L, hi = 5000000000L)
      .map { case (n, f) => n -> f().schema.toDDL }.toMap
    assert(got("readVersion(1)") == "k INT,s STRING")
    Seq("read", "readPoint", "readRange", "readEvolved", "source")
      .foreach(n => assert(got(n) == "k BIGINT,s STRING", n))
    assert(TxLog.read(spark, base).count() == 190L)
  }

  test("reading a vacuumed version, or its vacuumed files through a " +
    "warm cache, fails as an inference-planned read does") {
    import spark.implicits._
    val base = s"$root/vacuumed"
    TxLog.drop(spark, base)
    TxLog.commit((1L to 100L).map(i => (i, s"s-$i")).toDF("k", "s")
      .coalesce(2), base, None, Some("k"))
    val v1 = TxLog.manifest(spark, base, 1L)._1
    TxLog.readVersion(spark, base, 1L).collect() // warm v1's footers
    TxLog.commit(Seq((1L, "only")).toDF("k", "s"), base, Some(1L), Some("k"))
    TxLog.vacuum(spark, base, keepLast = 1, graceMs = 0L)
    intercept[java.io.FileNotFoundException](
      TxLog.readVersion(spark, base, 1L))
    intercept[org.apache.spark.sql.AnalysisException](
      TxLog.readEntries(spark, base, v1))
    assert(TxLog.read(spark, base).count() == 1L)
  }
}
