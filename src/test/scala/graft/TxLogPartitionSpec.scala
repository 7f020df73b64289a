package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.operators.TxLog

/** Laws for declared partitioning on the manifest log (Delta
  * `PARTITIONED BY` analog): a `#partition` meta line carried by every
  * commit makes EVERY data write split one-file-per-partition-tuple
  * and stamp exact (min==max) stats on the partition columns, so
  * partition pruning IS the existing manifest stats skipping — no new
  * read-side machinery, and any reader version handles the table. */
class TxLogPartitionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def df(rows: Seq[(Int, String, String)]) = {
    import spark.implicits._
    rows.toDF("id", "region", "payload")
  }

  private def entriesOf(base: String): Seq[TxLog.Entry] =
    TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1

  /** Every entry's stats on `col` must be exact (min == max) — the
    * one-tuple-per-file invariant partitioned writes maintain. */
  private def assertPure(base: String, col: String): Unit =
    entriesOf(base).foreach { e =>
      val st = e.statsFor(col)
      assert(st.isDefined || e.rows == 0,
        s"entry ${e.path} lacks stats on partition column $col")
      st.foreach(s => assert(s.min == s.max,
        s"entry ${e.path} spans partition values [${s.min}, ${s.max}]"))
    }

  test("commitPartitioned splits one-file-per-tuple with exact stats, " +
    "and equality pruning opens only the owning file") {
    val base = "/tmp/graft_txpart/ctas"
    TxLog.drop(spark, base)
    val rows = (1 to 90).map(i => (i, s"r${i % 3}", s"p$i"))
    TxLog.commitPartitioned(df(rows), base, Seq("region"))
    val es = entriesOf(base)
    assert(es.size == 3, s"3 partition values must land 3 files, got ${es.size}")
    assertPure(base, "region")
    // partition pruning through the ordinary stats machinery
    val (kept, all) = TxLog.pruneRanges(spark, base, Seq(("region", "r1", "r1")))
    assert(all.size == 3 && kept.size == 1)
    val got = TxLog.readRange(spark, base, "region", "r1", "r1")
    assert(got.count() == 30)
    assert(got.columns.toSet == Set("id", "region", "payload"),
      "partition columns live physically in the files")
    // the declaration is durable and carried
    assert(TxLog.latestMeta(spark, base).partitions.map(_._1) == Seq("region"))
  }

  test("append keeps the declared split and carries the #partition " +
    "line; the table demands writer version 3, reader stays") {
    val base = "/tmp/graft_txpart/append"
    TxLog.drop(spark, base)
    TxLog.commitPartitioned(df(Seq((1, "a", "x"))), base, Seq("region"))
    TxLog.append(df(Seq((2, "a", "y"), (3, "b", "z"))), base)
    val es = entriesOf(base)
    assert(es.size == 3, s"append spanning 2 values must add 2 files: $es")
    assertPure(base, "region")
    val detail = TxLog.describeDetail(spark, base).head()
    assert(detail.getAs[String]("partition_columns") == "region")
    assert(detail.getAs[Int]("min_writer_version") == 3)
    assert(detail.getAs[Int]("min_reader_version") == 1,
      "partitioned tables stay readable by any engine version")
  }

  test("a batch missing a partition column fails loudly before landing") {
    val base = "/tmp/graft_txpart/missing"
    TxLog.drop(spark, base)
    TxLog.commitPartitioned(df(Seq((1, "a", "x"))), base, Seq("region"))
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      TxLog.append(Seq((2, "y")).toDF("id", "payload"), base)
    }
    assert(e.getMessage.contains("partition column"))
    assert(TxLog.latestVersion(spark, base).contains(1L))
  }

  test("multi-column partitioning: tuples split independently and a " +
    "2-column equality prunes to the single owning file") {
    val base = "/tmp/graft_txpart/multi"
    TxLog.drop(spark, base)
    import spark.implicits._
    val rows = for { d <- Seq("d1", "d2"); h <- Seq(0, 1); i <- 1 to 5 }
      yield (d, h, i)
    TxLog.commitPartitioned(rows.toDF("day", "hour", "n"), base,
      Seq("day", "hour"))
    assert(entriesOf(base).size == 4)
    assertPure(base, "day"); assertPure(base, "hour")
    val (kept, all) = TxLog.pruneRanges(spark, base,
      Seq(("day", "d2", "d2"), ("hour", 1, 1)))
    assert(all.size == 4 && kept.size == 1)
    assert(TxLog.readRanges(spark, base,
      Seq(("day", "d2", "d2"), ("hour", 1, 1))).count() == 5)
  }

  test("copy-on-write MERGE and compaction preserve partition purity") {
    val base = "/tmp/graft_txpart/dml"
    TxLog.drop(spark, base)
    val rows = (1 to 60).map(i => (i, s"r${i % 2}", s"v1-$i"))
    TxLog.commitPartitioned(df(rows), base, Seq("region"), Seq("id"))
    // an upsert batch touching both partitions
    val updates = df(Seq((1, "r1", "upd"), (61, "r0", "new")))
    TxLog.mergeCow(spark, base, updates, Seq("id"), "id")
    assertPure(base, "region")
    val byKey = TxLog.read(spark, base).collect()
      .map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(byKey(1) == "upd" && byKey(61) == "new" && byKey.size == 61)
    // compaction (many small files -> fewer) re-splits per tuple
    TxLog.compact(spark, base, smallThresholdRows = 1000L,
      targetRows = 1000L)
    assertPure(base, "region")
    assert(TxLog.read(spark, base).count() == 61)
  }

  test("createPartitioned declares an empty table whose first append " +
    "already splits; a null partition value stays conservative") {
    val base = "/tmp/graft_txpart/empty"
    TxLog.drop(spark, base)
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("region", StringType), StructField("payload", StringType)))
    TxLog.createPartitioned(spark, base, schema, Seq("region"))
    assert(TxLog.latestMeta(spark, base).partitions.map(_._1) == Seq("region"))
    import spark.implicits._
    val withNull = Seq((1, "a", "x"), (2, null, "y"))
      .toDF("id", "region", "payload")
    TxLog.append(withNull, base)
    val es = entriesOf(base)
    assert(es.size == 2, s"null is its own partition tuple: $es")
    // the all-NULL file carries no region stats -> never pruned away
    val got = TxLog.readRange(spark, base, "region", "a", "a")
    assert(got.count() == 1)
    assert(TxLog.read(spark, base).count() == 2)
  }

  test("a partition column cannot be dropped; RENAME rebinds the " +
    "logical name and pruning follows it") {
    val base = "/tmp/graft_txpart/rename"
    TxLog.drop(spark, base)
    TxLog.commitPartitioned(
      df(Seq((1, "a", "x"), (2, "b", "y"))), base, Seq("region"))
    val e = intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, base, "region")
    }
    assert(e.getMessage.contains("partition column"))
    TxLog.renameColumn(spark, base, "region", "zone")
    val (kept, all) = TxLog.pruneRanges(spark, base, Seq(("zone", "b", "b")))
    assert(all.size == 2 && kept.size == 1)
    val got = TxLog.readRange(spark, base, "zone", "b", "b").collect()
    assert(got.length == 1 && got.head.getAs[String]("zone") == "b")
    // appends under the NEW logical name keep splitting on the same
    // frozen physical column
    import spark.implicits._
    TxLog.append(Seq((3, "c", "z")).toDF("id", "zone", "payload"), base)
    assert(entriesOf(base).size == 3)
    assert(TxLog.pruneRanges(spark, base,
      Seq(("zone", "c", "c")))._1.size == 1)
  }

  test("SQL lifecycle: CREATE TABLE ... PARTITIONED BY, INSERT INTO " +
    "splits per tuple, the scan EXPLAIN shows the files pruned, and " +
    "DESCRIBE DETAIL lists the partition columns") {
    val wh = "/tmp/graft_txpart/warehouse"
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.gp", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.gp.warehouse", wh)
    val base = s"$wh/lake/pt"
    TxLog.drop(s, base)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gp.lake")
    s.sql("CREATE TABLE gp.lake.pt (k INT, region STRING, v DOUBLE) " +
      "USING graft.sources.TxLogSource PARTITIONED BY (region)")
    assert(TxLog.latestMeta(s, base).partitions.map(_._1) == Seq("region"))
    s.sql("INSERT INTO gp.lake.pt " +
      "SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'ea' ELSE 'we' END " +
      "AS region, id * 1.5 AS v FROM range(0, 100)")
    val es = TxLog.manifest(s, base, TxLog.latestVersion(s, base).get)._1
    assert(es.size == 2, s"2 regions must land 2 files: ${es.map(_.path)}")
    es.foreach { e =>
      val st = e.statsFor("region").get
      assert(st.min == st.max, s"impure file ${e.path}")
    }
    // partition pruning is visible to a SQL user: the v2 scan's
    // description carries the kept/total file count
    val plan = s.sql("SELECT sum(v) FROM gp.lake.pt WHERE region = 'ea'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("prunedFiles=1/2"), s"plan lacks prune note:\n$plan")
    assert(s.sql("SELECT count(*) AS n FROM gp.lake.pt " +
      "WHERE region = 'ea'").head.getLong(0) == 50)
    val det = s.sql("DESCRIBE DETAIL gp.lake.pt").head()
    assert(det.getAs[String]("partition_columns") == "region")
    // the declared partitioning is visible through Spark's own DESCRIBE
    val desc = s.sql("DESCRIBE TABLE gp.lake.pt").collect()
      .map(r => r.getString(0)).mkString("\n")
    assert(desc.contains("# Partition Information"),
      s"DESCRIBE lacks partitioning:\n$desc")
    s.sql("DROP TABLE gp.lake.pt")
  }

  test("DSv2 streaming sink on a partitioned table: every epoch's " +
    "files are pure, exactly-once replay is untouched") {
    import org.apache.spark.sql.streaming.Trigger
    val bronze = "/tmp/graft_txpart/s_bronze"
    val silver = "/tmp/graft_txpart/s_silver"
    val ckpt = "/tmp/graft_txpart/s_ckpt"
    Seq(bronze, silver, ckpt).foreach(TxLog.drop(spark, _))
    TxLog.commit(df((1 to 20).map(i => (i, s"r${i % 2}", s"a$i"))),
      bronze, None)
    TxLog.commitPartitioned(df(Seq((0, "r0", "seed"))), silver,
      Seq("region"))
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.TxLogSource")
        .option("path", bronze).load()
        .writeStream.format("graft.sources.TxLogSource")
        .option("path", silver)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    assertPure(silver, "region")
    assert(TxLog.read(spark, silver).count() == 21)
    // replayed epochs stay no-ops
    run()
    assert(TxLog.read(spark, silver).count() == 21)
    val es = entriesOf(silver)
    assert(es.size == 3, s"seed + one file per region: ${es.map(_.path)}")
  }

  test("INSERT OVERWRITE PARTITION replaces exactly the named " +
    "partition metadata-only; dynamic mode replaces exactly the " +
    "tuples present in the batch; history stays time-travelable") {
    val wh = "/tmp/graft_txpart/warehouse2"
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.gp2", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.gp2.warehouse", wh)
    val base = s"$wh/lake/ow"
    TxLog.drop(s, base)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gp2.lake")
    s.sql("CREATE TABLE gp2.lake.ow (k INT, region STRING, v DOUBLE) " +
      "USING graft.sources.TxLogSource PARTITIONED BY (region)")
    s.sql("INSERT INTO gp2.lake.ow SELECT id AS k, " +
      "CASE WHEN id % 3 = 0 THEN 'aa' WHEN id % 3 = 1 THEN 'bb' " +
      "ELSE 'cc' END AS region, CAST(id AS DOUBLE) AS v " +
      "FROM range(0, 30)")
    def filesOf() = TxLog.manifest(s, base,
      TxLog.latestVersion(s, base).get)._1
    val seed = filesOf()
    assert(seed.size == 3)
    // static: replace ONE partition; the other two files carry by
    // reference (same paths — nothing read or rewritten)
    s.sql("INSERT OVERWRITE gp2.lake.ow PARTITION (region = 'bb') " +
      "SELECT id AS k, CAST(id * 100 AS DOUBLE) AS v " +
      "FROM range(0, 5)")
    val after1 = filesOf()
    val carried = seed.filter(e =>
      e.statsFor("region").exists(_.min != "bb")).map(_.path).toSet
    assert(carried.subsetOf(after1.map(_.path).toSet),
      "untouched partitions must carry by reference")
    assert(s.sql("SELECT count(*), sum(v) FROM gp2.lake.ow " +
      "WHERE region = 'bb'").head() ===
      org.apache.spark.sql.Row(5L, 1000.0))
    assert(s.sql("SELECT count(*) FROM gp2.lake.ow").head.getLong(0) == 25)
    // dynamic: only tuples IN the batch are replaced
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      s.sql("INSERT OVERWRITE gp2.lake.ow " +
        "SELECT id AS k, 'cc' AS region, CAST(-1 AS DOUBLE) AS v " +
        "FROM range(0, 4)")
    } finally
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val snap = s.sql("SELECT region, count(*) AS n FROM gp2.lake.ow " +
      "GROUP BY region ORDER BY region").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snap == Map("aa" -> 10L, "bb" -> 5L, "cc" -> 4L), s"$snap")
    // written rows outside the overwritten partitions are rejected
    // whole (Delta's replaceWhere validation) — the SQL PARTITION
    // clause pins the value so it cannot violate; the DataFrame
    // overwrite(condition) API can
    val bad = intercept[Exception] {
      import org.apache.spark.sql.functions.{col => c, lit}
      import s.implicits._
      Seq((1, "zz", 0.0)).toDF("k", "region", "v")
        .writeTo("gp2.lake.ow").overwrite(c("region") === lit("aa"))
    }
    assert(bad.getMessage.contains("does not satisfy"), bad.getMessage)
    // the overwritten versions stay readable
    assert(TxLog.readVersion(s, base, 2L).count() == 30)
    s.sql("DROP TABLE gp2.lake.ow")
  }

  test("review regressions: clones carry the partition declaration; " +
    "mis-cased writes land stats under the frozen physical casing; " +
    "TIMESTAMP partition columns are rejected; declaration resolution " +
    "is case-insensitive everywhere") {
    import spark.implicits._
    val base = "/tmp/graft_txpart/regr"
    val clone = "/tmp/graft_txpart/regr_clone"
    TxLog.drop(spark, base); TxLog.drop(spark, clone)
    // case-insensitive declaration (freezes the schema field's casing)
    TxLog.commitPartitioned(df(Seq((1, "a", "x"))), base, Seq("REGION"))
    assert(TxLog.latestMeta(spark, base).partitions.map(_._1) == Seq("region"))
    // a shallow clone keeps the declaration — its writes still split
    TxLog.cloneShallow(spark, base, clone)
    assert(TxLog.latestMeta(spark, clone).partitions.map(_._1) == Seq("region"))
    TxLog.append(df(Seq((2, "b", "y"), (3, "c", "z"))), clone)
    assertPure(clone, "region")
    assert(entriesOf(clone).size == 3)
    // a DSv2 batch supplying 'REGION' still lands stats every
    // exact-match reader resolves as 'region'
    Seq((4, "d", "w")).toDF("id", "REGION", "payload")
      .write.format("graft.sources.TxLogSource")
      .mode("append").save(base)
    assertPure(base, "region")
    assert(TxLog.pruneRanges(spark, base,
      Seq(("region", "d", "d")))._1.size == 1)
    // timestamps cannot be partition columns (exact tuple matching
    // would conflate sub-second values under epoch-second stats)
    val ts = intercept[IllegalArgumentException] {
      TxLog.commitPartitioned(
        Seq((1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00.1")))
          .toDF("id", "t"),
        "/tmp/graft_txpart/regr_ts", Seq("t"))
    }
    assert(ts.getMessage.contains("TIMESTAMP partition"))
  }

  test("merge-on-read DELETE masks partitioned files without breaking " +
    "purity, and time travel below the delete still prunes") {
    val base = "/tmp/graft_txpart/mor"
    TxLog.drop(spark, base)
    val rows = (1 to 40).map(i => (i, s"r${i % 2}", s"p$i"))
    TxLog.commitPartitioned(df(rows), base, Seq("region"), Seq("id"))
    TxLog.deleteRangeMor(spark, base, "id", 1, 10)
    assert(TxLog.read(spark, base).count() == 30)
    assertPure(base, "region")
    assert(TxLog.readVersion(spark, base, 1L).count() == 40)
  }

  test("FLOAT/DOUBLE partition columns are rejected like TIMESTAMP: " +
    "exact tuple identity is unsound for binary floats (-0.0 vs 0.0)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("bucketd", DoubleType),
      StructField("bucketf", FloatType)))
    for (c <- Seq("bucketd", "bucketf")) {
      val base = s"/tmp/graft_txpart/float_$c"
      TxLog.drop(spark, base)
      val e = intercept[IllegalArgumentException] {
        TxLog.createPartitioned(spark, base, schema, Seq(c))
      }
      assert(e.getMessage.contains("FLOAT/DOUBLE"), e.getMessage)
      assert(TxLog.latestVersion(spark, base).isEmpty)
    }
  }

  test("canonicalBase only collapses file: to the raw path when the " +
    "DEFAULT filesystem is also file: — on an HDFS-defaulted cluster " +
    "file:/tmp/t and /tmp/t are different tables and must never share " +
    "a cache key") {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = conf.get("fs.defaultFS")
    // local default: all three spellings collapse to one key
    assert(TxLog.canonicalBase("file:/tmp/t") ==
      TxLog.canonicalBase("/tmp/t"))
    assert(TxLog.canonicalBase("file:///tmp/t") ==
      TxLog.canonicalBase("/tmp/t"))
    try {
      conf.set("fs.defaultFS", "hdfs://nn:8020/")
      // scheme-less now qualifies against the default FS...
      assert(TxLog.canonicalBase("/tmp/t").startsWith("hdfs://nn:8020"))
      // ...and is a DIFFERENT key from the explicitly-local table
      assert(TxLog.canonicalBase("file:/tmp/t") !=
        TxLog.canonicalBase("/tmp/t"))
      // qualified non-file spellings stay themselves
      assert(TxLog.canonicalBase("s3a://bkt/t") == "s3a://bkt/t")
    } finally {
      if (saved == null) conf.unset("fs.defaultFS")
      else conf.set("fs.defaultFS", saved)
    }
  }
}
