package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** `CLUSTER BY` laws (VERDICT r12 next-round #3 — the Delta liquid-
  * clustering analog): keys register at CREATE (a `#cluster` meta
  * line, writer-gated), every API write tiles its batch by the keys'
  * interleave and stamps their stats, and plain OPTIMIZE is
  * INCREMENTAL — it re-tiles only weak/polluted files, never the
  * healthy tiled history. */
class TxLogClusterBySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def grid(lo: Int, n: Int, tag: String) =
    spark.range(lo, lo + n).select(
      (col("id") * 7 % 100).cast("int").as("x"),
      (col("id") * 13 % 100).cast("int").as("y"),
      concat(lit(tag + "-"), col("id")).as("payload"))

  private def checksum(base: String): (Long, Long) = {
    val r = TxLog.read(spark, base)
      .agg(count(lit(1)),
        bit_xor(xxhash64(col("x"), col("y"), col("payload")))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("writes to a clustered table tile themselves: every landed " +
    "file carries stats on ALL keys and covers a tight box — a 2-D " +
    "box probe prunes most files with ZERO maintenance runs") {
    val base = "/tmp/graft_txcb/tile"
    TxLog.drop(spark, base)
    TxLog.createTable(spark, base, StructType(Seq(
      StructField("x", IntegerType), StructField("y", IntegerType),
      StructField("payload", StringType))),
      clusterBy = Seq("x", "y"))
    // the registration is protocol-visible: writer 6
    val d = TxLog.describeDetail(spark, base).head()
    assert(d.getAs[Int]("min_writer_version") == 6, d.toString)
    // a 16-partition append tiles into 16 box files — WITHOUT the
    // caller asking for stats or layout
    TxLog.append(grid(0, 40000, "b1").repartition(16), base)
    val entries = TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1
    assert(entries.nonEmpty)
    assert(entries.forall(e => e.statsFor("x").isDefined &&
      e.statsFor("y").isDefined),
      "every clustered write stamps stats on every key")
    // box probe: both dimensions prune (a single-dim sort can only
    // serve one)
    val (keptX, all) = TxLog.pruneRanges(spark, base, Seq(("x", 0, 9)))
    val (keptBox, _) = TxLog.pruneRanges(spark, base,
      Seq(("x", 0, 9), ("y", 0, 9)))
    assert(all.size >= 8, s"expected >=8 tiled files, got ${all.size}")
    assert(keptBox.size < all.size / 2,
      s"the box must prune: kept ${keptBox.size} of ${all.size}")
    assert(keptBox.size <= keptX.size)
  }

  test("plain OPTIMIZE on a clustered table is INCREMENTAL: straggler " +
    "appends and the tiles they pollute fold on the REGISTERED keys; " +
    "the healthy tiled majority carries by reference; content " +
    "bit-identical; fixpoint on re-run") {
    val base = "/tmp/graft_txcb/incr"
    TxLog.drop(spark, base)
    TxLog.createTable(spark, base, StructType(Seq(
      StructField("x", IntegerType), StructField("y", IntegerType),
      StructField("payload", StringType))),
      clusterBy = Seq("x", "y"))
    TxLog.append(grid(0, 40000, "seed").repartition(16), base)
    // corner stragglers: tiny appends confined to x,y in [0,10)
    (1 to 3).foreach { i =>
      TxLog.append(spark.range(50).select(
        (col("id") % 10).cast("int").as("x"),
        (col("id") % 10).cast("int").as("y"),
        concat(lit(s"inc$i-"), col("id")).as("payload")).coalesce(1),
        base)
    }
    val before = checksum(base)
    val vPre = TxLog.latestVersion(spark, base).get
    val preEntries = TxLog.manifest(spark, base, vPre)._1
    // healthy = big files whose box avoids the polluted corner
    val healthy = preEntries.filter(e => e.liveRows >= 1000 &&
      Seq("x", "y").exists(c => e.statsFor(c).exists(s =>
        TxLog.cmp(s.dtype, s.min, "10") >= 0))).map(_.path).toSet
    assert(healthy.nonEmpty, "fixture needs clean tiles to carry")
    // PLAIN compact — no keys passed; the registration supplies them
    val v = TxLog.compact(spark, base, 1000L, 10000L)
    assert(v == vPre + 1)
    val post = TxLog.manifest(spark, base, v)._1.map(_.path).toSet
    assert(healthy.subsetOf(post),
      "incremental OPTIMIZE must carry every healthy tile by reference")
    assert(checksum(base) == before, "content is bit-identical")
    assert(!TxLog.dataChangeOf(spark, base, v), "CDF skips the re-tile")
    // fixpoint: a second run publishes nothing
    assert(TxLog.compact(spark, base, 1000L, 10000L) == v,
      "a tiled clustered layout is a fixpoint")
  }

  test("ALTER CLUSTER BY registers/drops keys metadata-only; vetoes " +
    "compose: widen/drop of a key, string keys, partition overlap — " +
    "all loud; CLUSTER BY NONE restores plain compaction") {
    val base = "/tmp/graft_txcb/alter"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit((1 to 100).map(i => (i, i * 2, s"p-$i"))
      .toDF("x", "y", "payload").coalesce(1), base, None, Some("x"))
    val v2 = TxLog.alterClusterBy(spark, base, Seq("x", "y"))
    assert(!TxLog.dataChangeOf(spark, base, v2))
    assert(TxLog.metaOf(spark, base, v2).cluster == Seq("x", "y"))
    assert(TxLog.operationOf(spark, base, v2).contains("CLUSTER BY"))
    // vetoes
    assert(intercept[IllegalArgumentException] {
      TxLog.alterClusterBy(spark, base, Seq("payload", "x"))
    }.getMessage.contains("interleave"))
    assert(intercept[IllegalArgumentException] {
      TxLog.alterWidenColumn(spark, base, "x", LongType)
    }.getMessage.contains("CLUSTER BY"))
    assert(intercept[IllegalArgumentException] {
      TxLog.createTable(spark, "/tmp/graft_txcb/nope",
        StructType(Seq(StructField("a", IntegerType),
          StructField("b", IntegerType))),
        partitionCols = Seq("a"), clusterBy = Seq("a", "b"))
    }.getMessage.contains("partition"))
    // drop clustering → widen passes, compact is plain again
    TxLog.alterClusterBy(spark, base, Seq.empty)
    assert(TxLog.latestMeta(spark, base).cluster.isEmpty)
    TxLog.alterWidenColumn(spark, base, "x", LongType)
    assert(TxLog.read(spark, base).schema("x").dataType == LongType)
  }

  test("SQL surface: CREATE TABLE ... CLUSTER BY over the DSv2 " +
    "catalog registers the keys; INSERTs tile through the API verbs; " +
    "SQL OPTIMIZE runs the incremental sweep") {
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.gcb", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.gcb.warehouse", "/tmp/graft_txcb/wh")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gcb.lake")
    s.sql("DROP TABLE IF EXISTS gcb.lake.ev")
    s.sql("CREATE TABLE gcb.lake.ev (x INT, y INT, payload STRING) " +
      "USING graft.sources.TxLogSource CLUSTER BY (x, y)")
    val base = "/tmp/graft_txcb/wh/lake/ev"
    assert(TxLog.latestMeta(spark, base).cluster == Seq("x", "y"))
    s.sql("INSERT INTO gcb.lake.ev SELECT cast(id * 7 % 100 AS INT), " +
      "cast(id * 13 % 100 AS INT), concat('p-', id) FROM range(20000)")
    assert(s.sql("SELECT count(*) FROM gcb.lake.ev").head.getLong(0)
      == 20000)
    // the DSv2 INSERT declared a clustered distribution + ordering on
    // the keys: landed files are key-banded and auto-stat BOTH keys
    val inserted = TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1
    assert(inserted.nonEmpty && inserted.forall(e =>
      e.statsFor("x").isDefined && e.statsFor("y").isDefined),
      "clustered INSERT must stamp stats on every registered key")
    // a straggler INSERT then SQL OPTIMIZE folds it on the keys
    s.sql("INSERT INTO gcb.lake.ev VALUES (1, 1, 'straggler')")
    s.sql("OPTIMIZE gcb.lake.ev")
    assert(s.sql("SELECT count(*) FROM gcb.lake.ev").head.getLong(0)
      == 20001)
    // native ALTER TABLE ... CLUSTER BY re-registers / drops keys
    s.sql("ALTER TABLE gcb.lake.ev CLUSTER BY (y, x)")
    assert(TxLog.latestMeta(spark, base).cluster == Seq("y", "x"))
    s.sql("ALTER TABLE gcb.lake.ev CLUSTER BY NONE")
    assert(TxLog.latestMeta(spark, base).cluster.isEmpty)
    // DESCRIBE DETAIL surfaces the registration
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    s.sql("ALTER TABLE gcb.lake.ev CLUSTER BY (x, y)")
    val det = s.sql("DESCRIBE DETAIL gcb.lake.ev").head()
    assert(det.getAs[String]("clustering_columns") == "x,y", det.toString)
    s.sql("DROP TABLE gcb.lake.ev")
    // a VARIANT extraction key spells as ONE backticked identifier
    s.sql("DROP TABLE IF EXISTS gcb.lake.vb")
    s.sql("CREATE TABLE gcb.lake.vb (k BIGINT, v VARIANT) " +
      "USING graft.sources.TxLogSource")
    val vbase = "/tmp/graft_txcb/wh/lake/vb"
    TxLog.declareVariantStats(spark, vbase, "v", "$.price", "long")
    s.sql("ALTER TABLE gcb.lake.vb CLUSTER BY (`v$.price`)")
    assert(TxLog.latestMeta(spark, vbase).cluster == Seq("v$.price"))
    s.sql("DROP TABLE gcb.lake.vb")
  }

  private def priced(ids: Range, mul: Long = 3L) = {
    import spark.implicits._
    ids.map(i => (i.toLong,
        s"""{"id": $i, "price": ${i * mul % 12000}}"""))
      .toDF("k", "js")
      .select(col("k"), parse_json(col("js")).as("v"))
  }

  test("CLUSTER BY a VARIANT extraction path: registration demands a " +
    "numeric stats declaration, writes tile into DISJOINT bands on " +
    "the declared try_variant_get key, OPTIMIZE folds stragglers on " +
    "it incrementally, the band prunes, and the declaration cannot " +
    "drop out from under the layout") {
    val base = "/tmp/graft_txcb/variant"
    TxLog.drop(spark, base)
    TxLog.commit(priced(0 until 4000).repartition(8), base, None,
      Some("k"))
    // veto: a cluster key whose path has no declaration
    assert(intercept[IllegalArgumentException] {
      TxLog.alterClusterBy(spark, base, Seq("v$.price"))
    }.getMessage.contains("declared"))
    TxLog.declareVariantStats(spark, base, "v", "$.price", "long")
    // veto: a declaration the interleave cannot normalize
    TxLog.declareVariantStats(spark, base, "v", "$.tag", "string")
    assert(intercept[IllegalArgumentException] {
      TxLog.alterClusterBy(spark, base, Seq("v$.tag"))
    }.getMessage.contains("long or double"))
    val vReg = TxLog.alterClusterBy(spark, base, Seq("v$.price"))
    assert(TxLog.metaOf(spark, base, vReg).cluster == Seq("v$.price"))
    // an unsorted 8-partition append lands RANGE-banded on the path
    val pre = TxLog.manifestFiles(spark, base, vReg).toSet
    TxLog.append(priced(4000 until 8000).repartition(8), base)
    val fresh = TxLog.manifest(spark, base,
        TxLog.latestVersion(spark, base).get)._1
      .filterNot(e => pre.contains(e.path))
    assert(fresh.size >= 4)
    assert(fresh.forall(_.statsFor("v$.price").isDefined))
    val bands = fresh.flatMap(_.statsFor("v$.price"))
      .map(s => (s.min.toLong, s.max.toLong)).sortBy(_._1)
    assert(bands.sliding(2).forall {
        case Seq((_, hi), (lo2, _)) => lo2 > hi
        case _ => true },
      s"a clustered write must tile disjoint bands, got $bands")
    // the band prunes: the seed batch is untiled (pre-registration)
    // but the fresh tiles answer a narrow probe with a strict subset
    val (kept, all) = TxLog.pruneRanges(spark, base,
      Seq(("v$.price", 100L, 400L)))
    assert(kept.size < all.size,
      s"the path band must prune: kept ${kept.size} of ${all.size}")
    // stragglers pollute the low tiles; PLAIN compact folds on the
    // registered variant key and reaches a fixpoint
    (1 to 3).foreach(i => TxLog.append(
      priced(i * 10 until i * 10 + 20).coalesce(1), base))
    val cnt0 = TxLog.read(spark, base).count()
    val v = TxLog.compact(spark, base, 1000L, 10000L)
    val post = TxLog.manifest(spark, base, v)._1
    assert(post.forall(_.statsFor("v$.price").isDefined),
      "the sweep's rewrites must re-collect the path's stats inline")
    assert(TxLog.compact(spark, base, 1000L, 10000L) == v,
      "a tiled variant-clustered layout is a fixpoint")
    assert(TxLog.read(spark, base).count() == cnt0)
    // exact band content through readVariantRange after the sweep
    val got = TxLog.readVariantRange(spark, base, "v", "$.price",
        "long", 300L, 320L)
      .select(variant_get(col("v"), "$.id", "long")).as[Long](
        org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    val want = (0 until 8000).map(_.toLong)
      .filter(i => { val p = i * 3 % 12000; p >= 300 && p <= 320 })
      .toSet
    assert(got == want)
    // the layout pins its declaration
    assert(intercept[IllegalArgumentException] {
      TxLog.dropVariantStats(spark, base, "v", "$.price")
    }.getMessage.contains("CLUSTER BY"))
    TxLog.alterClusterBy(spark, base, Seq.empty)
    TxLog.dropVariantStats(spark, base, "v", "$.price")
    assert(TxLog.metaOf(spark, base,
      TxLog.latestVersion(spark, base).get).varStats.size == 1) // $.tag stays
  }

  test("mixed ZORDER: a plain column and a variant path interleave " +
    "in one clustered layout — a 2-D box probe prunes more than " +
    "either dimension alone") {
    import spark.implicits._
    val base = "/tmp/graft_txcb/variant2d"
    TxLog.drop(spark, base)
    val df = spark.range(40000).select(
      (col("id") * 7 % 200).cast("int").as("x"),
      col("id").as("k"),
      parse_json(concat(lit("{\"price\": "),
        (col("id") * 7919 % 200).cast("string"), lit("}"))).as("v"))
    TxLog.commit(df.limit(1).select("x", "k", "v"), base, None, Some("x"))
    TxLog.declareVariantStats(spark, base, "v", "$.price", "long")
    TxLog.alterClusterBy(spark, base, Seq("x", "v$.price"))
    TxLog.append(df.repartition(16), base)
    val entries = TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1
    assert(entries.forall(e => e.statsFor("x").isDefined &&
      e.statsFor("v$.price").isDefined),
      "every tiled file stamps stats on BOTH dimensions")
    val (keptX, all) = TxLog.pruneRanges(spark, base, Seq(("x", 0, 19)))
    val (keptBox, _) = TxLog.pruneRanges(spark, base,
      Seq(("x", 0, 19), ("v$.price", 0L, 19L)))
    assert(all.size >= 8, s"expected >=8 tiles, got ${all.size}")
    assert(keptBox.size < all.size / 2,
      s"the 2-D box must prune: kept ${keptBox.size} of ${all.size}")
    assert(keptBox.size <= keptX.size)
  }
}
