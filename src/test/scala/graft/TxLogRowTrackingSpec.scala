package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** Row tracking laws (VERDICT r12 next-round #4 — Delta 4.0 row IDs):
  * stable per-row ids assigned at commit through a `#rowid` high-water
  * and per-file base spans, MATERIALIZED into rewritten files so a
  * row keeps its id across OPTIMIZE / ZORDER / COW UPDATE for its
  * whole life; a tracked COW UPDATE's change feed emits TRUE update
  * images keyed by the stable id. */
class TxLogRowTrackingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def idsByKey(base: String): Map[Int, Long] =
    TxLog.readWithRowIds(spark, base).select("k", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("enable backfills contiguous spans; ids are unique, stable " +
    "across appends, and the feature is protocol-gated (reader 4, " +
    "writer 7); enabling is idempotent; untracked tables untouched") {
    val base = "/tmp/graft_txrid/core"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit((1 to 100).map(i => (i, i * 10)).toDF("k", "v")
      .repartition(4), base, None, Some("k"))
    val v = TxLog.enableRowTracking(spark, base)
    assert(v == 2L && !TxLog.dataChangeOf(spark, base, v))
    assert(TxLog.enableRowTracking(spark, base) == v, "idempotent")
    assert(TxLog.metaOf(spark, base, v).rowIdHighWater.contains(100L))
    val d = TxLog.describeDetail(spark, base).head()
    assert(d.getAs[Int]("min_reader_version") == 4, d.toString)
    assert(d.getAs[Int]("min_writer_version") == 7, d.toString)
    // every row has a unique id in [0, 100)
    val ids0 = idsByKey(base)
    assert(ids0.size == 100 && ids0.values.toSet == (0L until 100L).toSet)
    // an append takes the NEXT span; old rows keep their ids
    TxLog.append((101 to 120).map(i => (i, i * 10)).toDF("k", "v"),
      base, Some("k"))
    val ids1 = idsByKey(base)
    assert(ids1.size == 120)
    ids0.foreach { case (k, id) => assert(ids1(k) == id) }
    assert(ids1.values.toSet == (0L until 120L).toSet)
    // the id column never leaks into plain reads
    assert(!TxLog.read(spark, base).columns.exists(
      _.equalsIgnoreCase("__row_id")))
    assert(!TxLog.readEvolved(spark, base).columns.exists(
      _.equalsIgnoreCase("__row_id")))
    // the reserved column is rejected at the write verbs
    assert(intercept[IllegalArgumentException] {
      TxLog.append(Seq((1, 1, 5L)).toDF("k", "v", "__row_id"), base)
    }.getMessage.contains("reserved"))
    // an untracked sibling stays protocol (1,1) with no rid groups
    val plain = "/tmp/graft_txrid/plain"
    TxLog.drop(spark, plain)
    TxLog.commit(Seq((1, 1)).toDF("k", "v"), plain, None, Some("k"))
    assert(TxLog.describeDetail(spark, plain).head()
      .getAs[Int]("min_reader_version") == 1)
    assert(!TxLog.describeDetail(spark, plain).head()
      .getAs[Boolean]("row_tracking"))
  }

  test("SQL surface: enabling rides ALTER TABLE SET TBLPROPERTIES " +
    "('graft.rowTracking'='true') through the DSv2 catalog; DESCRIBE " +
    "DETAIL reports it; disabling is refused") {
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.grt", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.grt.warehouse", "/tmp/graft_txrid/wh")
    s.sql("CREATE NAMESPACE IF NOT EXISTS grt.lake")
    s.sql("DROP TABLE IF EXISTS grt.lake.t")
    s.sql("CREATE TABLE grt.lake.t (k INT, v INT) " +
      "USING graft.sources.TxLogSource")
    s.sql("INSERT INTO grt.lake.t SELECT cast(id AS INT), " +
      "cast(id * 2 AS INT) FROM range(50)")
    s.sql("ALTER TABLE grt.lake.t " +
      "SET TBLPROPERTIES ('graft.rowTracking'='true')")
    val base = "/tmp/graft_txrid/wh/lake/t"
    assert(TxLog.snapshot(spark, base).meta.rowIdHighWater.isDefined)
    assert(TxLog.readWithRowIds(spark, base)
      .select("_row_id").distinct().count() == 50)
    val det = s.sql("DESCRIBE DETAIL grt.lake.t").head()
    assert(det.getAs[Boolean]("row_tracking"), det.toString)
    val off = scala.util.Try(s.sql("ALTER TABLE grt.lake.t " +
      "SET TBLPROPERTIES ('graft.rowTracking'='false')"))
    assert(off.isFailure, "disabling row tracking must be refused")
    s.sql("DROP TABLE grt.lake.t")
  }

  test("ids SURVIVE the rewrites: OPTIMIZE bin-pack, ZORDER re-tile " +
    "and COW UPDATE all materialize them — every row keeps its id " +
    "for the table's whole life") {
    val base = "/tmp/graft_txrid/rewrite"
    TxLog.drop(spark, base)
    import spark.implicits._
    // several small files so compaction genuinely folds
    (0 to 3).foreach(b => TxLog.append(
      (1 to 25).map(i => (b * 25 + i, (b * 25 + i) * 10, i % 7))
        .toDF("k", "v", "g").coalesce(1),
      base, Some("k")))
    TxLog.enableRowTracking(spark, base)
    val before = idsByKey(base)
    assert(before.size == 100)
    // OPTIMIZE folds all four files into one
    TxLog.compact(spark, base, 1000L, 100000L)
    assert(idsByKey(base) == before, "ids survive compaction")
    // ZORDER re-tiles everything
    TxLog.compactZorder(spark, base, Seq("k", "v"), 100000L, 200000L)
    assert(idsByKey(base) == before, "ids survive ZORDER")
    // COW UPDATE rewrites the touched band; ids stay put
    TxLog.updateRange(spark, base, "k", 10, 30,
      Map("v" -> (col("v") + lit(100000))))
    assert(idsByKey(base) == before, "ids survive COW UPDATE")
    val snap = TxLog.read(spark, base)
    assert(snap.where(col("k").between(10, 30) &&
      col("v") === col("k") * 10 + 100000).count() == 21)
  }

  test("a tracked COW UPDATE's change feed emits TRUE update images " +
    "keyed by _row_id: exactly the value-changed rows as " +
    "update_preimage/update_postimage pairs — unchanged rows that " +
    "merely moved files are NOT logical changes; replica " +
    "reconstruction by id is bit-identical") {
    val base = "/tmp/graft_txrid/cdf"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit((1 to 100).map(i => (i, i * 10)).toDF("k", "v")
      .coalesce(1), base, None, Some("k"))
    TxLog.enableRowTracking(spark, base)
    val vPre = TxLog.latestVersion(spark, base).get
    // the COW update touches the single file (100 rows) but CHANGES
    // only 11 of them
    TxLog.updateRange(spark, base, "k", 40, 50,
      Map("v" -> (col("v") + lit(1))))
    val vUpd = TxLog.latestVersion(spark, base).get
    assert(TxLog.cdfOpOf(spark, base, vUpd).contains("update_cow"))
    val feed = TxLog.changesWithDeletes(spark, base, vPre, vUpd)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 11L,
      "update_postimage" -> 11L),
      s"only the 11 changed rows appear: $byType")
    // pre/post pair by the stable id, values transform as the UPDATE
    val pre = feed.where(col("_change_type") === "update_preimage")
      .select(col("_row_id"), col("k"), col("v").as("v_pre"))
    val post = feed.where(col("_change_type") === "update_postimage")
      .select(col("_row_id"), col("v").as("v_post"))
    val paired = pre.join(post, "_row_id")
    assert(paired.count() == 11)
    assert(paired.where(col("v_post") === col("v_pre") + 1).count() == 11)
    assert(paired.where(col("k").between(40, 50)).count() == 11)
    // replica law: applying the images by id reconstructs the table
    val snapPre = TxLog.readVersionWithRowIds(spark, base, vPre)
    val replica = snapPre.join(
        post.withColumnRenamed("v_post", "v_new"), Seq("_row_id"), "left")
      .select(col("k"),
        coalesce(col("v_new"), col("v")).as("v"))
    val now = TxLog.read(spark, base).select("k", "v")
    assert(replica.exceptAll(now).isEmpty && now.exceptAll(replica).isEmpty,
      "image application by _row_id reconstructs the snapshot")
  }

  test("DSv2 rowIds batch option serves the SAME stable id as " +
    "readWithRowIds across materialized files, fresh spans and DV " +
    "masks; SELECT _row_id alone takes the no-page synthetic path; " +
    "versionAsOf composes") {
    val base = "/tmp/graft_txrid/dsv2"
    TxLog.drop(spark, base)
    import spark.implicits._
    // two files, tracked, then a rewrite MATERIALIZES ids into one
    (0 to 1).foreach(b => TxLog.append(
      (1 to 40).map(i => (b * 40 + i, (b * 40 + i) * 10))
        .toDF("k", "v").coalesce(1), base, Some("k")))
    TxLog.enableRowTracking(spark, base)
    TxLog.compact(spark, base, 1000L, 100000L) // materialized column
    val vMat = TxLog.latestVersion(spark, base).get
    // a fresh append: its ids come from the SPAN (no materialized col)
    TxLog.append((81 to 100).map(i => (i, i * 10)).toDF("k", "v")
      .coalesce(1), base, Some("k"))
    // a MOR delete: masked rows must vanish from the id surface too
    TxLog.deleteRangeMor(spark, base, "k", 20L, 35L)
    def load(extra: (String, String)*) = {
      val r = spark.read.format("graft.sources.TxLogSource")
        .option("rowIds", "true")
      extra.foreach { case (k, v) => r.option(k, v) }
      r.load(base)
    }
    // the engine-private materialized column must never leak into the
    // DSv2 schema — with OR without rowIds (a leak would also project
    // the leaf twice under rowIds and kill the parquet-mr automaton)
    assert(spark.read.format("graft.sources.TxLogSource").load(base)
      .columns.toSeq == Seq("k", "v"))
    assert(load().columns.toSeq == Seq("k", "v", "_row_id"))
    val viaApi = TxLog.readWithRowIds(spark, base)
      .select("k", "v", "_row_id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val viaScan = load().select("k", "v", "_row_id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaScan == viaApi, "the scan option and the API verb are " +
      "one surface")
    assert(viaScan.size == 84 && !viaScan.exists(t => t._1 >= 20 && t._1 <= 35))
    // projection to the meta column only: the synthetic/ordinal path
    val onlyIds = load().select("_row_id").collect().map(_.getLong(0)).toSet
    assert(onlyIds == viaApi.map(_._3), "id-only projection serves the " +
      "same id set")
    // time travel: shared keys keep their ids across versions
    val past = load("versionAsOf" -> vMat.toString)
      .select("k", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nowIds = viaApi.map(t => t._1 -> t._3).toMap
    assert(past.size == 80)
    nowIds.foreach { case (k, id) =>
      if (past.contains(k)) assert(past(k) == id,
        s"key $k id must be stable across versions") }
    // veto: an untracked table has no ids to serve
    val plain = "/tmp/graft_txrid/dsv2_plain"
    TxLog.drop(spark, plain)
    TxLog.commit(Seq((1, 1)).toDF("k", "v"), plain, None, Some("k"))
    assert(intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.TxLogSource")
        .option("rowIds", "true").load(plain).schema
    }.getMessage.contains("row tracking"))
  }

  test("ids survive EVERY merge verb (Delta preserves ids through " +
    "MERGE UPDATE): COW merge, MOR merge and the conditional clause " +
    "merge all keep matched rows' ids, give inserts fresh unique ids, " +
    "and reject a source forging the reserved column") {
    import spark.implicits._
    import graft.operators.TxLog.{MergeDelete, MergeInsert, MergeUpdate,
      sourceCol}
    def freshTable(base: String): Map[Int, Long] = {
      TxLog.drop(spark, base)
      TxLog.commit((1 to 50).map(i => (i, i * 10)).toDF("k", "v")
        .coalesce(1), base, None, Some("k"))
      TxLog.enableRowTracking(spark, base)
      idsByKey(base)
    }
    def check(base: String, before: Map[Int, Long],
              updated: Set[Int], inserted: Set[Int],
              deleted: Set[Int] = Set.empty): Unit = {
      val after = idsByKey(base)
      assert(after.keySet ==
        before.keySet ++ inserted -- deleted)
      (before.keySet -- deleted).foreach { k =>
        assert(after(k) == before(k),
          s"$base: key $k must keep its id through the merge") }
      assert(after.values.toSet.size == after.size, s"$base: ids unique")
      inserted.foreach(k => assert(!before.values.toSet.contains(after(k)),
        s"$base: inserted key $k must take a FRESH id"))
    }
    // COW merge
    val cow = "/tmp/graft_txrid/merge_cow"
    val bCow = freshTable(cow)
    TxLog.mergeCow(spark, cow,
      Seq((10, 1), (11, 2), (60, 3)).toDF("k", "v"), Seq("k"), "k")
    check(cow, bCow, Set(10, 11), Set(60))
    // MOR merge
    val mor = "/tmp/graft_txrid/merge_mor"
    val bMor = freshTable(mor)
    TxLog.mergeMor(spark, mor,
      Seq((20, 1), (21, 2), (61, 3)).toDF("k", "v"), Seq("k"), "k")
    check(mor, bMor, Set(20, 21), Set(61))
    // conditional clause merge: update + delete + insert in one call
    val mc = "/tmp/graft_txrid/merge_clauses"
    val bMc = freshTable(mc)
    TxLog.mergeClauses(spark, mc,
      Seq((30, 1, false), (31, 0, true), (62, 3, false))
        .toDF("k", "v", "del"), Seq("k"),
      matched = Seq(
        MergeDelete(Some(sourceCol("del"))),
        MergeUpdate(None, Map("v" -> sourceCol("v")))),
      notMatched = Seq(MergeInsert(None,
        Map("k" -> sourceCol("k"), "v" -> sourceCol("v")))))
    check(mc, bMc, Set(30), Set(62), deleted = Set(31))
    // forged reserved column rejected at every merge verb
    val forged = Seq((1, 1, 99L)).toDF("k", "v", "__row_id")
    Seq(
      () => TxLog.mergeCow(spark, cow, forged, Seq("k"), "k"),
      () => TxLog.mergeMor(spark, mor, forged, Seq("k"), "k"),
      () => TxLog.mergeClauses(spark, mc, forged, Seq("k"),
        matched = Seq(MergeUpdate(None, Map("v" -> sourceCol("v")))))
    ).foreach(f => assert(intercept[IllegalArgumentException](f())
      .getMessage.contains("reserved")))
  }

  test("streaming lineage: the snapshot STREAM serves _row_id per " +
    "micro-batch — ids are per-file spans, invariant under " +
    "maxFilesPerTrigger slicing; pre-enablement versions replay with " +
    "the ids their files were assigned at enablement") {
    val base = "/tmp/graft_txrid/stream"
    val sink = "/tmp/graft_txrid/stream_sink"
    val ckpt = "/tmp/graft_txrid/stream_ckpt"
    TxLog.drop(spark, base)
    Seq(sink, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    import spark.implicits._
    // v1 (PRE-enablement, two files) -> v2 enable -> v3 append
    TxLog.commit((1 to 60).map(i => (i, i * 10)).toDF("k", "v")
      .repartitionByRange(2, col("k")), base, None, Some("k"))
    TxLog.enableRowTracking(spark, base)
    TxLog.append((61 to 80).map(i => (i, i * 10)).toDF("k", "v")
      .coalesce(1), base, Some("k"))
    val q = spark.readStream.format("graft.sources.TxLogSource")
      .option("rowIds", "true")
      .option("maxFilesPerTrigger", "1") // slice WITHIN v1
      .load(base)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(sink)
      .select("k", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val api = TxLog.readWithRowIds(spark, base)
      .select("k", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(streamed == api,
      "the stream must serve the SAME stable ids as the batch verb — " +
        "including v1's files, whose ids come from the enablement " +
        "backfill")
    assert(streamed.size == 80 && streamed.values.toSet.size == 80)
  }

  test("streaming lineage: the CDF STREAM pairs a tracked MOR " +
    "update's images by _row_id; a pre-enablement MOR delete of a " +
    "file that SURVIVED to enablement pairs with its insert by the " +
    "retroactive span id; only files REMOVED before tracking began " +
    "replay with NULL ids") {
    val base = "/tmp/graft_txrid/cdfstream"
    val sink = "/tmp/graft_txrid/cdfstream_sink"
    val ckpt = "/tmp/graft_txrid/cdfstream_ckpt"
    TxLog.drop(spark, base)
    Seq(sink, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    import spark.implicits._
    // v1: two files; v2: MOR delete (file SURVIVES, mask grows);
    // v3: compact (v1's files REMOVED — dataChange=false, no CDF
    // rows of its own); v4: enable; v5: MOR update
    TxLog.commit((1 to 60).map(i => (i, i * 10)).toDF("k", "v")
      .repartitionByRange(2, col("k")), base, None, Some("k"))
    TxLog.deleteRangeMor(spark, base, "k", 55L, 60L)
    TxLog.compact(spark, base, 1000L, 100000L)
    TxLog.enableRowTracking(spark, base)
    TxLog.updateRangeMor(spark, base, "k", 10, 12,
      Map("v" -> (col("v") + lit(5))))
    val q = spark.readStream.format("graft.sources.TxLogSource")
      .option("changeFeed", "true").option("changeFeedTypes", "true")
      .option("rowIds", "true")
      .load(base)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val feed = spark.read.parquet(sink)
    // v1's inserts and v2's deletes replay from the ORIGINAL files,
    // which the pre-enablement compaction removed — those rows never
    // got ids: honest NULL, confined to versions 1 and 2
    assert(feed.where(col("_commit_version") <= 2).count() == 66)
    assert(feed.where(col("_commit_version") <= 2 &&
      col("_row_id").isNotNull).count() == 0)
    assert(feed.where(col("_commit_version") > 2 &&
      col("_row_id").isNull).count() == 0,
      "every post-enablement change row carries an id")
    // the tracked MOR update pairs pre/post by the stable id
    val pre = feed.where(col("_change_type") === "update_preimage")
      .select(col("_row_id"), col("k"), col("v").as("v_pre"))
    val post = feed.where(col("_change_type") === "update_postimage")
      .select(col("_row_id"), col("v").as("v_post"))
    val paired = pre.join(post, "_row_id")
    assert(paired.count() == 3)
    assert(paired.where(col("v_post") === col("v_pre") + 5).count() == 3)
    // and the RETROACTIVE-id law on a surviving file: a fresh table
    // where the pre-enablement MOR delete's file lives on to enable —
    // its delete rows pair with their v1 inserts by the span id
    val base2 = "/tmp/graft_txrid/cdfstream2"
    TxLog.drop(spark, base2)
    TxLog.commit((1 to 30).map(i => (i, i)).toDF("k", "v").coalesce(1),
      base2, None, Some("k"))
    TxLog.deleteRangeMor(spark, base2, "k", 5L, 7L)
    TxLog.enableRowTracking(spark, base2)
    val feed2 = spark.read.format("graft.sources.TxLogSource")
      .option("changeFeed", "true").option("changeFeedTypes", "true")
      .option("rowIds", "true").load(base2)
    val ins = feed2.where(col("_change_type") === "insert")
      .select(col("k").as("ki"), col("_row_id").as("idi"))
    val del = feed2.where(col("_change_type") === "delete")
      .select(col("k").as("kd"), col("_row_id").as("idd"))
    assert(del.count() == 3 && del.where(col("idd").isNull).count() == 0)
    assert(ins.join(del, col("idi") === col("idd"))
      .where(col("ki") === col("kd")).count() == 3,
      "a surviving file's pre-enablement delete pairs with its " +
        "insert by the retroactive span id")
  }
}
