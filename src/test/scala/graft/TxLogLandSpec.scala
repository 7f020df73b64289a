package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** The land path: every TxLog write lands its files in one Spark job
  * whose tasks write through Spark's parquet writer and track stats
  * inline — no commit protocol, no footer read back on the driver.
  * Tables live under the `count:` scheme ([[CountingFileSystem]]) so
  * the driver's file opens can be counted. */
class TxLogLandSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val root = "count:///tmp/graft_txland"

  override def beforeAll(): Unit =
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)

  private def rows(from: Long, n: Int): DataFrame =
    (from until from + n).map(i => (i, s"r-${i % 3}", s"s-$i"))
      .toDF("k", "region", "s")

  /** Every file under `dir` (recursively), as a local path. */
  private def filesUnder(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(new Path(dir).toUri.getPath))
      .map(_.getPath).toSet
  }

  private def newEntries(base: String): Seq[TxLog.Entry] = {
    val v = TxLog.latestVersion(spark, base).get
    val before = TxLog.snapshotEntries(spark, base, v - 1).map(_.path).toSet
    TxLog.snapshotEntries(spark, base, v).filterNot(e => before(e.path))
  }

  test("a 200-row append is one Spark job, opens no data file on the " +
    "driver and leaves no commit-protocol marker") {
    val base = s"$root/append"
    TxLog.drop(spark, base)
    TxLog.commit(rows(0, 100), base, None, Some("k"))
    TxLog.append(rows(100, 200), base, Some("k")) // warm-up
    val batch = rows(300, 200)
    val ((_, jobs), opens) = CountingFileSystem.duringUnder("open",
      s"$base/data/")(SparkTestBase.jobsDuring(
        TxLog.append(batch, base, Some("k"))))
    assert(jobs == 1, s"$jobs Spark jobs for one append")
    assert(opens == 0, s"$opens data-file opens during the land")
    val added = newEntries(base)
    assert(added.map(_.rows).sum == 200L)
    assert(added.forall(_.statsFor("k").nonEmpty))
    val markers = filesUnder(base).filter(p =>
      p.endsWith("/_SUCCESS") || p.contains("/_temporary"))
    assert(markers.isEmpty, markers)
  }

  test("a partitioned land writes one file per tuple") {
    val base = s"$root/parted"
    TxLog.drop(spark, base)
    TxLog.createPartitioned(spark, base, rows(0, 1).schema, Seq("region"))
    TxLog.append(rows(0, 300).repartition(4), base, Some("k"))
    val added = newEntries(base)
    assert(added.size == 3, added.map(_.path))
    added.foreach { e =>
      val st = e.statsFor("region").get
      assert(st.min == st.max, s"${e.path} spans $st")
      assert(e.rows == 100L)
    }
    assert(TxLog.read(spark, base).count() == 300L)
  }

  test("spark.sql.files.maxRecordsPerFile splits a file, on a plain " +
    "and on a partitioned land") {
    val key = "spark.sql.files.maxRecordsPerFile"
    val plain = s"$root/maxrec"
    val parted = s"$root/maxrec_parted"
    spark.conf.set(key, "30")
    try {
      TxLog.drop(spark, plain)
      TxLog.commit(rows(0, 100).coalesce(1), plain, None, Some("k"))
      assert(TxLog.snapshotEntries(spark, plain, 1L).map(_.rows).sorted ==
        Seq(10L, 30L, 30L, 30L))
      TxLog.drop(spark, parted)
      TxLog.createPartitioned(spark, parted, rows(0, 1).schema,
        Seq("region"))
      TxLog.append(rows(0, 150), parted, Some("k"))
      val added = newEntries(parted)
      // 50 rows per tuple: 30 + 20 each
      assert(added.map(_.rows).sorted == Seq(20L, 20L, 20L, 30L, 30L, 30L))
      added.foreach { e =>
        val st = e.statsFor("region").get
        assert(st.min == st.max, s"${e.path} spans $st")
      }
    } finally spark.conf.unset(key)
    assert(TxLog.read(spark, parted).count() == 150L)
  }

  test("an injected task failure leaves no file in the table dir") {
    val base = s"$root/taskfail"
    TxLog.drop(spark, base)
    TxLog.commit(rows(0, 100), base, None, Some("k"))
    val before = filesUnder(base)
    // every task fails at its last row, after its file is open
    val boom = udf((k: Long) => {
      if (k % 50 == 49) throw new IllegalStateException(s"injected at $k")
      k
    })
    val batch = spark.range(1000, 1200, 1, 4).select(
      boom(col("id")).as("k"), lit("r-0").as("region"),
      concat(lit("s-"), col("id")).as("s"))
    val e = intercept[org.apache.spark.SparkException] {
      TxLog.append(batch, base, Some("k"))
    }
    assert(e.getMessage.contains("injected"), e.getMessage)
    // tasks the failed job did not wait for finish (and clean up) first
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum > 0
        && System.nanoTime() < deadline) Thread.sleep(50)
    assert(filesUnder(base) == before,
      (filesUnder(base) -- before).mkString(", "))
    assert(TxLog.latestVersion(spark, base).contains(1L))
    assert(TxLog.read(spark, base).count() == 100L)
  }

  test("a land seeds the footer-schema cache with the schema it wrote, " +
    "so the first read of a fresh file opens no footer") {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val base = s"$root/seeded"
    TxLog.drop(spark, base)
    // `id` is non-nullable: the cached schema keeps the footer's
    // nullability
    val df = spark.range(0, 50).select(col("id").as("k"),
      concat(lit("v-"), col("id")).as("s"))
    assert(!df.schema("k").nullable)
    TxLog.commit(df, base, None, Some("k"))
    val entries = TxLog.snapshotEntries(spark, base, 1L)
    val conf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    entries.foreach { e =>
      val path = new Path(TxLog.resolve(base, e.path))
      val cached = TxLog.cachedFooterSchema(TxLog.resolve(base, e.path))
      val meta = ParquetFileReader.readFooter(
        HadoopInputFile.fromPath(path, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val footer = ParquetFileFormat.readSchemaFromFooter(
        new Footer(path, meta), converter)
      assert(cached.contains(footer), s"${e.path}: $cached vs $footer")
      assert(!footer("k").nullable)
    }
    val (_, opens) = CountingFileSystem.duringUnder("open",
      s"$base/data/")(TxLog.read(spark, base).schema)
    assert(opens == 0, s"$opens footer opens building the first read")
  }

  test("landed files carry df.write.parquet's footer schema and " +
    "key-value metadata (variant unshredded)") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val base = "/tmp/graft_txland/footer"
    val plain = "/tmp/graft_txland/footer_plain"
    TxLog.drop(spark, base)
    val df = spark.sql(
      "SELECT id AS k, cast(id AS int) AS i, cast(id AS double) AS d, " +
        "concat('s', id) AS s, cast('2024-01-01' AS date) AS dt, " +
        "cast('2024-01-01 10:00:00' AS timestamp) AS ts, " +
        "cast(id AS decimal(12, 2)) AS dec, array(id) AS arr, " +
        "named_struct('a', id) AS st, " +
        "parse_json(concat('{\"id\": ', id, '}')) AS v FROM range(10)")
      .coalesce(1)
    val rel = TxLog.land(df, base).head
    val shred = "spark.sql.variant.writeShredding.enabled"
    val prev = spark.conf.get(shred)
    spark.conf.set(shred, "false")
    try df.write.mode("overwrite").parquet(plain)
    finally spark.conf.set(shred, prev)
    val conf = spark.sessionState.newHadoopConf()
    def footer(p: String) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p),
        conf))
      try r.getFooter.getFileMetaData finally r.close()
    }
    val ours = footer(s"$base/$rel")
    val theirs = footer(new java.io.File(plain).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getPath)
    assert(ours.getSchema == theirs.getSchema)
    assert(ours.getKeyValueMetaData == theirs.getKeyValueMetaData)
    assert(rel.endsWith(".snappy.parquet"), rel)
  }
}
