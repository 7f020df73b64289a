package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TxLog

/** Laws for merge-on-read DELETE via deletion vectors — the Delta DV
  * surface on the manifest log: a delete that rewrites ZERO data
  * files, mask merging across overlapping deletes, full-file drop,
  * read-path correctness everywhere masks can surface (snapshot,
  * range read, DSv2 source, metadata aggregates, change feed, COW
  * verbs, compaction, clone), purge materialization, and vacuum
  * liveness of sidecars. */
class TxLogMorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "s")
  }
  private def contents(d: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    d.select("k", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private val rows = (1L to 300L).map(i => i -> s"s-$i")

  /** 4 range-clustered files with manifest stats on k. */
  private def seed(base: String): Set[String] = {
    TxLog.drop(spark, base)
    TxLog.commit(df(rows).repartitionByRange(4, col("k")), base, None,
      Some("k"))
    TxLog.manifestFiles(spark, base, 1L).toSet
  }

  test("MOR delete rewrites zero data files, merges overlapping masks, " +
    "and reads equal sequential filters") {
    val base = "/tmp/graft_txmor/basic"
    val v1Files = seed(base)
    val v2 = TxLog.deleteRangeMor(spark, base, "k", 50L, 120L,
      residual = col("k") % 2 === 0)
    assert(v2 == 2L)
    // the MOR law: every data file of v1 rides into v2 untouched
    assert(TxLog.manifestFiles(spark, base, 2L).toSet == v1Files,
      "a merge-on-read delete must not rewrite or drop any data file")
    val expect2 = rows.filterNot { case (k, _) =>
      k >= 50 && k <= 120 && k % 2 == 0 }
    assert(contents(TxLog.read(spark, base)) == expect2.toSet)
    // overlapping second delete: old positions stay dead, masks merge
    val v3 = TxLog.deleteRangeMor(spark, base, "k", 100L, 180L)
    assert(v3 == 3L)
    assert(TxLog.manifestFiles(spark, base, 3L).toSet == v1Files)
    val expect3 = expect2.filterNot { case (k, _) => k >= 100 && k <= 180 }
    assert(contents(TxLog.read(spark, base)) == expect3.toSet)
    // each masked entry references exactly one sidecar, and counts add
    // up to the masked-row total
    val entries = TxLog.manifest(spark, base, 3L)._1
    val masked = entries.flatMap(_.dv)
    assert(masked.nonEmpty)
    assert(masked.map(_.rows).sum == rows.size - expect3.size)
    // time travel: both older versions still read exactly
    assert(contents(TxLog.readVersion(spark, base, 1L)) == rows.toSet)
    assert(contents(TxLog.readVersion(spark, base, 2L)) == expect2.toSet)
  }

  test("a fully-masked file is dropped from the manifest") {
    val base = "/tmp/graft_txmor/fulldrop"
    val v1Files = seed(base)
    // the middle band [76..150] lives entirely inside one of the four
    // range-clustered files only if bands align; instead mask a range
    // that covers at least one whole file: [1..160] spans files 1-2
    // fully (75-row bands) and part of file 3
    TxLog.deleteRangeMor(spark, base, "k", 1L, 160L)
    val after = TxLog.manifestFiles(spark, base, 2L).toSet
    assert(after.subsetOf(v1Files) && after.size < v1Files.size,
      s"fully-masked files must drop from the manifest: ${after.size} of ${v1Files.size}")
    assert(contents(TxLog.read(spark, base)) ==
      rows.filter(_._1 > 160).toSet)
  }

  test("COW verbs over masked files never resurrect deleted rows") {
    val base = "/tmp/graft_txmor/cow"
    seed(base)
    TxLog.deleteRangeMor(spark, base, "k", 50L, 120L)
    // COW update over a band that includes masked rows
    TxLog.updateRange(spark, base, "k", 100L, 200L,
      set = Map("s" -> concat(col("s"), lit("!"))))
    val expect = rows.filterNot { case (k, _) => k >= 50 && k <= 120 }
      .map { case (k, s) => if (k >= 100 && k <= 200) (k, s + "!") else (k, s) }
    assert(contents(TxLog.read(spark, base)) == expect.toSet)
    // COW merge sourcing keys inside the masked band re-inserts ONLY
    // the source keys — other masked rows stay dead
    TxLog.mergeCow(spark, base,
      df(Seq(60L -> "revived-60")), Seq("k"), "k")
    val expect2 = expect.toSet + (60L -> "revived-60")
    assert(contents(TxLog.read(spark, base)) == expect2)
  }

  test("metadata COUNT subtracts the mask with zero files opened; " +
    "MIN/MAX over a masked snapshot falls back to a correct scan") {
    val base = "/tmp/graft_txmor/aggpush"
    seed(base)
    // mask away the low band, including the global min of k
    TxLog.deleteRangeMor(spark, base, "k", 1L, 30L)
    val src = spark.read.format("graft.sources.TxLogSource").load(base)
    val cnt = src.agg(count(lit(1)).as("n"))
    assert(cnt.queryExecution.executedPlan.toString.contains("TxLogAggScan"),
      "COUNT over a masked snapshot must stay metadata-only")
    assert(cnt.head().getLong(0) == 270L)
    // MIN/MAX: manifest stats still claim min=1 — the masked row. The
    // pushdown must bail (no TxLogAggScan) and the scan must return 31
    val mn = src.agg(min("k").as("mn"))
    assert(!mn.queryExecution.executedPlan.toString.contains("TxLogAggScan"),
      "MIN over a masked snapshot is unsound from stats and must bail")
    assert(mn.head().getLong(0) == 31L)
  }

  test("the DSv2 row scan and range reads apply masks") {
    val base = "/tmp/graft_txmor/scan"
    seed(base)
    TxLog.deleteRangeMor(spark, base, "k", 50L, 120L,
      residual = col("k") % 3 === 0)
    val expect = rows.filterNot { case (k, _) =>
      k >= 50 && k <= 120 && k % 3 == 0 }.toSet
    val viaSource = spark.read.format("graft.sources.TxLogSource").load(base)
    assert(contents(viaSource) == expect)
    // pushed range filter + mask, together
    assert(contents(viaSource.where(col("k") <= 60)) ==
      expect.filter(_._1 <= 60))
    assert(contents(TxLog.readRange(spark, base, "k", 40L, 130L)) ==
      expect.filter(t => t._1 >= 40 && t._1 <= 130))
  }

  test("the change feed emits precisely the newly-masked rows as " +
    "deletes, and a RESTORE across a MOR delete re-inserts them") {
    val base = "/tmp/graft_txmor/cdf"
    seed(base)
    TxLog.deleteRangeMor(spark, base, "k", 50L, 120L,
      residual = col("k") % 2 === 0)
    val dead = rows.filter { case (k, _) =>
      k >= 50 && k <= 120 && k % 2 == 0 }.toSet
    val feed = TxLog.changesWithDeletes(spark, base, 1L, 2L)
    val byKind = feed.collect().groupBy(_.getAs[String]("_change_type"))
      .view.mapValues(_.map(r => (r.getAs[Long]("k"), r.getAs[String]("s"))).toSet)
      .toMap
    assert(byKind.getOrElse("delete", Set.empty) == dead,
      "delete markers must be exactly the newly-masked rows")
    assert(byKind.getOrElse("insert", Set.empty).isEmpty,
      "a pure MOR delete adds no rows")
    // RESTORE to v1 drops the mask on the SAME files → precise re-inserts
    TxLog.restore(spark, base, 1L)
    val feed2 = TxLog.changesWithDeletes(spark, base, 2L, 3L)
    val byKind2 = feed2.collect().groupBy(_.getAs[String]("_change_type"))
      .view.mapValues(_.map(r => (r.getAs[Long]("k"), r.getAs[String]("s"))).toSet)
      .toMap
    assert(byKind2.getOrElse("insert", Set.empty) == dead,
      "unmasking must re-insert exactly the previously-masked rows")
    assert(byKind2.getOrElse("delete", Set.empty).isEmpty)
    assert(contents(TxLog.read(spark, base)) == rows.toSet)
  }

  test("purge materializes masks; vacuum keeps sidecars live while " +
    "referenced and reclaims them after") {
    val base = "/tmp/graft_txmor/purge"
    seed(base)
    TxLog.deleteRangeMor(spark, base, "k", 50L, 120L)
    val expect = rows.filterNot { case (k, _) => k >= 50 && k <= 120 }.toSet
    // vacuum to the masked version only: the sidecar must survive
    TxLog.vacuum(spark, base, keepLast = 1)
    assert(contents(TxLog.read(spark, base)) == expect,
      "vacuum must treat a referenced sidecar as live")
    val v3 = TxLog.purgeDeletes(spark, base)
    assert(v3 == 3L)
    val entries = TxLog.manifest(spark, base, 3L)._1
    assert(entries.forall(_.dv.isEmpty), "purge must clear every mask")
    assert(contents(TxLog.read(spark, base)) == expect)
    // now the sidecar is orphaned once v2 ages out (graceMs=0: the
    // law asserts the GC itself — controlled maintenance window)
    TxLog.vacuum(spark, base, keepLast = 1, graceMs = 0L)
    assert(contents(TxLog.read(spark, base)) == expect)
    // every surviving txn dir is referenced by the surviving manifest
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/data"))
      .map(_.getPath.getName).toSet
    val referenced = entries.map(e =>
      e.path.split('/').dropRight(1).last).toSet
    assert(onDisk == referenced,
      s"orphaned dirs must be reclaimed: disk=$onDisk referenced=$referenced")
  }

  test("compaction folds masked files: mask applied, sidecar ref " +
    "dropped, content preserved") {
    val base = "/tmp/graft_txmor/compact"
    seed(base)
    TxLog.deleteRangeMor(spark, base, "k", 50L, 120L)
    val expect = rows.filterNot { case (k, _) => k >= 50 && k <= 120 }.toSet
    // every file is "small" at this threshold → full bin-pack
    TxLog.compact(spark, base, smallThresholdRows = 1000L,
      targetRows = 1000L, statsCol0 = Some("k"))
    val entries = TxLog.manifest(spark, base, 3L)._1
    assert(entries.forall(_.dv.isEmpty))
    assert(contents(TxLog.read(spark, base)) == expect)
    assert(entries.map(_.rows).sum == expect.size)
  }

  test("a shallow clone carries masks; purging the clone leaves the " +
    "source untouched") {
    val src = "/tmp/graft_txmor/clone_src"
    val dst = "/tmp/graft_txmor/clone_dst"
    seed(src)
    TxLog.deleteRangeMor(spark, src, "k", 50L, 120L)
    val expect = rows.filterNot { case (k, _) => k >= 50 && k <= 120 }.toSet
    TxLog.drop(spark, dst)
    TxLog.cloneShallow(spark, src, dst)
    assert(contents(TxLog.read(spark, dst)) == expect,
      "the clone must see the source's masks")
    TxLog.purgeDeletes(spark, dst)
    assert(contents(TxLog.read(spark, dst)) == expect)
    // the source still reads through its mask, files untouched
    assert(contents(TxLog.read(spark, src)) == expect)
    assert(TxLog.manifest(spark, src, 2L)._1.exists(_.dv.isDefined))
  }

  test("MOR update: zero files rewritten, bit-identical to the COW " +
    "update, and a masked row never resurrects as its updated image") {
    val morBase = "/tmp/graft_txmor/upd_mor"
    val cowBase = "/tmp/graft_txmor/upd_cow"
    seed(morBase); seed(cowBase)
    // pre-delete a band, then update an overlapping band on both twins
    TxLog.deleteRangeMor(spark, morBase, "k", 90L, 110L)
    TxLog.deleteRange(spark, cowBase, "k", 90L, 110L)
    val before = TxLog.manifestFiles(spark, morBase, 2L).toSet
    TxLog.updateRangeMor(spark, morBase, "k", 100L, 200L,
      set = Map("s" -> concat(col("s"), lit("!"))))
    TxLog.updateRange(spark, cowBase, "k", 100L, 200L,
      set = Map("s" -> concat(col("s"), lit("!"))))
    val after = TxLog.manifestFiles(spark, morBase, 3L).toSet
    assert(before.subsetOf(after) && after.size > before.size,
      "MOR update must carry every file and append the images")
    assert(contents(TxLog.read(spark, morBase)) ==
      contents(TxLog.read(spark, cowBase)))
    // deleted rows 90-110 must not be back, updated or otherwise
    assert(TxLog.read(spark, morBase)
      .where(col("k").between(90, 110)).count() == 0)
  }

  test("MOR update may reassign the clustering column: the appended " +
    "files carry fresh stats, range reads stay exact") {
    val base = "/tmp/graft_txmor/upd_rekey"
    seed(base)
    // move a band's keys up by 10000 — out of every original band
    TxLog.updateRangeMor(spark, base, "k", 50L, 60L,
      set = Map("k" -> (col("k") + 10000L)))
    val expectMoved = (50L to 60L).map(k => (k + 10000L, s"s-$k")).toSet
    assert(contents(TxLog.readRange(spark, base, "k", 10000L, 11000L)) ==
      expectMoved)
    assert(contents(TxLog.readRange(spark, base, "k", 40L, 70L)) ==
      ((40L to 49L) ++ (61L to 70L)).map(k => (k, s"s-$k")).toSet)
  }

  test("MOR merge: content equals Upsert.merge, added rows are " +
    "exactly the source batch, insert-only batches skip masking") {
    val base = "/tmp/graft_txmor/merge"
    seed(base)
    val before = TxLog.manifestFiles(spark, base, 1L).toSet
    val source = // updates + inserts
      df(((150L to 170L) ++ (900L to 905L)).map(i => i -> s"s-$i-v2"))
    TxLog.mergeMor(spark, base, source, Seq("k"), "k")
    val v2 = TxLog.manifest(spark, base, 2L)._1
    assert(v2.filterNot(e => before.contains(e.path)).map(_.rows).sum ==
      source.count(), "added rows must be exactly the source batch")
    val expect = rows.filterNot(t => t._1 >= 150 && t._1 <= 170).toSet ++
      ((150L to 170L) ++ (900L to 905L)).map(k => (k, s"s-$k-v2"))
    assert(contents(TxLog.read(spark, base)) == expect)
    // insert-only second batch: no target key matches → no new masks
    val maskedBefore = v2.count(_.dv.isDefined)
    TxLog.mergeMor(spark, base, df(Seq(7777L -> "s-7777")), Seq("k"), "k")
    val v3 = TxLog.manifest(spark, base, 3L)._1
    assert(v3.count(_.dv.isDefined) == maskedBefore,
      "an insert-only batch must not grow any mask")
    assert(contents(TxLog.read(spark, base)) == expect + ((7777L, "s-7777")))
  }

  test("mergeMor and mergeMorAuto land the source in the target's " +
    "types: a DOUBLE b merged into a DECIMAL(10,2) b (and an INT key " +
    "into a BIGINT one) reads back") {
    val merges: Seq[(String, (String, org.apache.spark.sql.DataFrame) => Long)] =
      Seq("mergeMor" -> ((b, src) => TxLog.mergeMor(spark, b, src, Seq("k"), "k")),
        "mergeMorAuto" -> ((b, src) => TxLog.mergeMorAuto(spark, b, src, Seq("k"))))
    for ((name, merge) <- merges) {
      val base = s"/tmp/graft_txmor/decimal_$name"
      TxLog.drop(spark, base)
      TxLog.commit(spark.sql(
        "SELECT 1L AS k, CAST(1.50 AS DECIMAL(10,2)) AS b UNION ALL " +
          "SELECT 2L, CAST(2.25 AS DECIMAL(10,2))"), base, None, Some("k"))
      merge(base, spark.sql("SELECT 2 AS k, 7.5D AS b"))
      val read = TxLog.read(spark, base)
      assert(read.schema("b").dataType ==
        org.apache.spark.sql.types.DecimalType(10, 2), name)
      val got = read.collect().map(r => r.getLong(0) -> r.getDecimal(1).toPlainString)
      assert(got.toSet == Set(1L -> "1.50", 2L -> "7.50") && got.length == 2,
        s"$name: ${got.toSeq}")
    }
  }

  test("CDF mode (_change_type) carries MOR deletes downstream " +
    "row-precisely — batch and streaming agree") {
    val base = "/tmp/graft_txmor/cdfstream"
    seed(base)                                                   // v1
    TxLog.deleteRangeMor(spark, base, "k", 50L, 120L,
      residual = col("k") % 2 === 0)                             // v2
    TxLog.append(df(Seq(900L -> "s-900")), base, Some("k"))      // v3
    TxLog.restore(spark, base, 1L)                               // v4
    val dead = (50L to 120L).filter(_ % 2 == 0).map(k => (k, s"s-$k")).toSet
    def byVk(d: org.apache.spark.sql.DataFrame) = d.collect()
      .groupBy(r => (r.getAs[Long]("_commit_version"),
        r.getAs[String]("_change_type")))
      .view.mapValues(_.map(r =>
        (r.getAs[Long]("k"), r.getAs[String]("s"))).toSet).toMap
    val batch = byVk(spark.read.format("graft.sources.TxLogSource")
      .option("changeFeedTypes", "true").load(base))
    assert(batch((1L, "insert")) == rows.toSet)
    assert(batch((2L, "delete")) == dead,
      "v2 must emit exactly the newly-masked rows as deletes")
    assert(batch((3L, "insert")) == Set((900L, "s-900")))
    // the RESTORE drops the appended file (its live rows are deletes)
    // and unmasks the v2 positions (precise re-inserts)
    assert(batch((4L, "delete")) == Set((900L, "s-900")))
    assert(batch((4L, "insert")) == dead)
    assert(batch.keySet.size == 5, s"unexpected slices: ${batch.keySet}")
    // the STREAMING feed sees the identical multiset, one version per
    // micro-batch
    val q = spark.readStream.format("graft.sources.TxLogSource")
      .option("changeFeedTypes", "true")
      .option("maxVersionsPerTrigger", "1")
      .load(base)
      .writeStream.format("memory").queryName("txmor_cdf")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = byVk(spark.table("txmor_cdf"))
    assert(streamed == batch,
      "streaming CDF must equal the batch feed slice-for-slice")
  }

  test("compaction and purge are dataChange=false: every change feed " +
    "skips them instead of emitting phantom delete+insert pairs") {
    val base = "/tmp/graft_txmor/nodatachange"
    seed(base)                                                    // v1
    TxLog.deleteRangeMor(spark, base, "k", 50L, 120L)             // v2
    TxLog.purgeDeletes(spark, base)                               // v3
    TxLog.compact(spark, base, smallThresholdRows = 1000L,
      targetRows = 1000L, statsCol0 = Some("k"))                   // v4
    // batch change feeds: nothing logically changed after v2
    assert(TxLog.changesWithDeletes(spark, base, 2L, 4L).count() == 0,
      "purge/compact rewrites must not appear in the feed")
    assert(TxLog.changesBetween(spark, base, 2L, 4L).count() == 0)
    // typed CDF source: no slices past v2
    val cdf = spark.read.format("graft.sources.TxLogSource")
      .option("changeFeedTypes", "true").load(base)
    assert(cdf.where(col("_commit_version") > 2).count() == 0)
    // plain insert feed: the compacted files must not re-ship rows the
    // stream already delivered
    val feed = spark.read.format("graft.sources.TxLogSource")
      .option("changeFeed", "true").load(base)
    assert(feed.where(col("_commit_version") > 2).count() == 0,
      "dataChange=false adds must be skipped by the insert feed")
    // ...and the SNAPSHOT still reads the post-maintenance state
    assert(contents(TxLog.read(spark, base)) ==
      rows.filterNot(t => t._1 >= 50 && t._1 <= 120).toSet)
  }

  test("applyChanges: one commit masks deleted keys and appends " +
    "inserts; a replayed batch is a no-op on both halves; appended " +
    "files keep every stats dimension the snapshot carries") {
    val base = "/tmp/graft_txmor/apply"
    TxLog.drop(spark, base)
    import spark.implicits._
    def keysOf(ks: Seq[Long]) = ks.toDF("k")
    // 2-D stats seed: skipping on BOTH k and s must survive batches
    TxLog.commitMulti(df(rows.take(200)).repartitionByRange(4, col("k")),
      base, None, Seq("k", "s"))
    val v1Files = TxLog.manifestFiles(spark, base, 1L).toSet
    // batch 0: delete a key band, insert new rows
    val dels = (20L to 40L)
    val ins = (900L to 905L).map(k => k -> s"s-$k")
    TxLog.applyChanges(spark, base, keysOf(dels), df(ins),
      Seq("k"), "k", appId = "app", batchId = 0L)
    val expect = rows.take(200).filterNot(t => dels.contains(t._1)).toSet ++ ins
    assert(contents(TxLog.read(spark, base)) == expect)
    assert(TxLog.latestVersion(spark, base).contains(2L))
    // deletes were MASKED, not rewritten: v1's files all survive in v2
    assert(v1Files.subsetOf(TxLog.manifestFiles(spark, base, 2L).toSet))
    // replica-appended files carry stats on EVERY existing dimension,
    // not just the clustering key — 2-D skipping must not decay
    val appended = TxLog.manifest(spark, base, 2L)._1
      .filterNot(e => v1Files.contains(e.path))
    assert(appended.nonEmpty && appended.forall(e =>
      e.statsFor("k").isDefined && e.statsFor("s").isDefined),
      s"appended entries must keep 2-D stats: ${appended.map(_.stats)}")
    // at-least-once replay of batch 0: silent no-op, no new version
    TxLog.applyChanges(spark, base, keysOf(dels), df(ins),
      Seq("k"), "k", appId = "app", batchId = 0L)
    assert(TxLog.latestVersion(spark, base).contains(2L),
      "a replayed batch must publish nothing")
    assert(contents(TxLog.read(spark, base)) == expect)
    // the EMPTY-store bootstrap shape still works
    val boot = "/tmp/graft_txmor/apply_boot"
    TxLog.drop(spark, boot)
    TxLog.applyChanges(spark, boot, keysOf(Seq.empty), df(rows.take(10)),
      Seq("k"), "k", appId = "app", batchId = 0L)
    assert(contents(TxLog.read(spark, boot)) == rows.take(10).toSet)
  }

  test("event-time clustering: timestamp stats prune files and range " +
    "reads stay exact; the mask anti-join broadcasts a small mask") {
    val base = "/tmp/graft_txmor/tsstats"
    TxLog.drop(spark, base)
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val evs = (0L until 400L)
      .map(i => (i, java.sql.Timestamp.from(t0.plusSeconds(i * 60))))
      .toDF("k", "ts")
    TxLog.commit(evs.repartitionByRange(8, col("ts")), base, None,
      Some("ts"))
    val (lo, hi) = (java.sql.Timestamp.from(t0.plusSeconds(100 * 60)),
      java.sql.Timestamp.from(t0.plusSeconds(140 * 60)))
    val (kept, all) = TxLog.pruneRange(spark, base, "ts", lo, hi)
    assert(kept.size < all.size && all.size == 8,
      s"timestamp stats must skip files: kept ${kept.size} of ${all.size}")
    val got = TxLog.readRange(spark, base, "ts", lo, hi)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == (100L to 140L).toSet)
    // MOR delete pruned by the timestamp band, read through the mask
    TxLog.deleteRangeMor(spark, base, "ts", lo, hi)
    assert(TxLog.read(spark, base).count() == 359L)
    // the mask (41 positions, manifest-known) rides a BROADCAST
    // anti-join — a map-side filter, no shuffle of the fact side
    val plan = TxLog.read(spark, base).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"small masks must broadcast:\n$plan")
    // pushed TIMESTAMP filters prune files on the DSv2 path too: the
    // 8-band table plans a handful of files for the narrow band
    val src = spark.read.format("graft.sources.TxLogSource").load(base)
    val narrow = src.where(col("ts").between(lit(lo), lit(hi)))
    assert(narrow.rdd.getNumPartitions < 8,
      s"pushed ts filters must prune: ${narrow.rdd.getNumPartitions}")
    assert(narrow.count() == 0) // the band was MOR-deleted above
    assert(src.rdd.getNumPartitions == 8)
  }

  test("a long mask-accumulation chain stays correct and folds flat: " +
    "20 sequential MOR deletes, then purge") {
    val base = "/tmp/graft_txmor/chain"
    seed(base)
    // each delete touches a sliding band; masks merge repeatedly and
    // the snapshot ends up referencing MANY distinct sidecar dirs
    (0 until 20).foreach { i =>
      TxLog.deleteRangeMor(spark, base, "k", 10L + i * 14, 10L + i * 14 + 6)
    }
    val dead = (0 until 20)
      .flatMap(i => (10L + i * 14) to (10L + i * 14 + 6)).toSet
    val expect = rows.filterNot(t => dead.contains(t._1)).toSet
    assert(contents(TxLog.read(spark, base)) == expect)
    val dirs = TxLog.manifest(spark, base, 21L)._1
      .flatMap(_.dv).map(_.dir).distinct
    assert(dirs.size > 1, s"chain must span several sidecar dirs: $dirs")
    // the metadata COUNT stays exact through the whole chain
    val cnt = spark.read.format("graft.sources.TxLogSource").load(base)
      .agg(count(lit(1))).head().getLong(0)
    assert(cnt == expect.size)
    // purge folds everything into clean files; vacuum reclaims all
    TxLog.purgeDeletes(spark, base)
    TxLog.vacuum(spark, base, keepLast = 1)
    assert(contents(TxLog.read(spark, base)) == expect)
    assert(TxLog.manifest(spark, base, 22L)._1.forall(_.dv.isEmpty))
  }

  test("history and the streaming source see live rows") {
    val base = "/tmp/graft_txmor/history"
    seed(base)
    TxLog.deleteRangeMor(spark, base, "k", 1L, 100L)
    val h = TxLog.history(spark, base).collect()
      .map(r => r.getAs[Long]("version") -> r.getAs[Long]("n_rows")).toMap
    assert(h(1L) == 300L && h(2L) == 200L,
      s"history must report LIVE rows per version: $h")
  }
}
