package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TxLog

/** Laws for column mapping on the manifest log (Delta column mapping,
  * name mode — `/root/reference/README.md:76` advertises Delta, whose
  * ALTER TABLE RENAME/DROP COLUMN ride exactly this indirection):
  * logical names are rebindable metadata; PHYSICAL names are frozen
  * at column birth and key the data files, manifest stats, bloom refs
  * and identity lines — so a rename moves ZERO bytes, and a dropped
  * column's bytes can never resurface because a re-ADDed name is born
  * under a fresh physical name. Unmapped tables must be untouched
  * byte-for-byte (protocol stays (1,1)); mapped tables stamp (2,2) so
  * pre-mapping engines fail loudly instead of serving stale names. */
class TxLogColumnMappingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def df(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def seed(base: String, n: Long = 100L): Unit = {
    TxLog.drop(spark, base)
    TxLog.commit(df((1L to n).map(i => i -> i * 10)), base, None, Some("k"))
  }

  private def protocolOf(base: String): (Int, Int) = {
    val r = TxLog.describeDetail(spark, base)
      .select("min_reader_version", "min_writer_version").head()
    (r.getInt(0), r.getInt(1))
  }

  /** Union of the physical column names across the table's live data
    * files — what is actually on disk. */
  private def physicalColumns(base: String): Set[String] = {
    val v = TxLog.latestVersion(spark, base).get
    spark.read.option("mergeSchema", "true")
      .parquet(TxLog.manifestFiles(spark, base, v)
        .map(TxLog.resolve(base, _)): _*)
      .columns.toSet
  }

  test("RENAME COLUMN is metadata-only: new logical name, identical " +
    "data, identical physical files, protocol (1,1)->(2,2), old name " +
    "under time travel") {
    val base = "/tmp/graft_txcolmap/rename"
    seed(base)
    assert(protocolOf(base) == ((1, 1)),
      "an unmapped table must not demand the v2 reader")
    val filesBefore = TxLog.manifestFiles(spark, base, 1L).toSet
    assert(TxLog.renameColumn(spark, base, "v", "amount") == 2L)
    // logical surface renamed, values intact
    val out = TxLog.read(spark, base)
    assert(out.columns.toSeq == Seq("k", "amount"))
    assert(out.agg(sum("amount")).head().getLong(0) ==
      (1L to 100L).map(_ * 10).sum)
    // zero data movement: the SAME files, still holding physical 'v'
    assert(TxLog.manifestFiles(spark, base, 2L).toSet == filesBefore)
    assert(physicalColumns(base) == Set("k", "v"))
    // the upgrade is protocol-gated and versioned with the log
    assert(protocolOf(base) == ((2, 2)))
    assert(TxLog.operationOf(spark, base, 2L).contains("RENAME COLUMN"))
    assert(TxLog.readVersion(spark, base, 1L).columns.toSeq ==
      Seq("k", "v"), "time travel below the rename keeps the old name")
    // rename is NOT a data change: the change feed skips it
    assert(TxLog.dataChangeOf(spark, base, 2L) == false)
  }

  test("writes after a rename use the logical name, land under the " +
    "frozen physical name, and manifest-stats skipping still prunes") {
    val base = "/tmp/graft_txcolmap/write"
    TxLog.drop(spark, base)
    // clustered one-file commits so pruning has bands to skip
    (0L until 4L).foreach { b =>
      val lo = b * 100L + 1L
      val part = df((lo until lo + 100L).map(i => i -> i * 10))
        .repartition(1)
      if (b == 0L) TxLog.commit(part, base, None, Some("k"))
      else TxLog.append(part, base, Some("k"))
    }
    TxLog.renameColumn(spark, base, "k", "id")
    import spark.implicits._
    TxLog.append(Seq((500L, 5000L)).toDF("id", "v"), base, Some("id"))
    // the landed file carries the physical name, never the logical
    assert(physicalColumns(base) == Set("k", "v"))
    val all = TxLog.read(spark, base)
    assert(all.columns.toSeq == Seq("k", "v").map {
      case "k" => "id"; case other => other })
    assert(all.count() == 401L)
    // pruning by the LOGICAL name reaches the physical stats
    val (kept, allE) = TxLog.pruneRange(spark, base, "id", 150L, 160L)
    assert(allE.size == 5 && kept.size == 1,
      s"expected 1/5 files kept, got ${kept.size}/${allE.size}")
    assert(TxLog.readRange(spark, base, "id", 150L, 160L).count() == 11L)
    // a batch with an undeclared column is a loud error, pointing at
    // ADD COLUMNS (write-side evolution needs a physical-name birth)
    val ex = intercept[IllegalArgumentException] {
      TxLog.append(Seq((600L, 1L)).toDF("id", "stray"), base)
    }
    assert(ex.getMessage.contains("ADD COLUMNS"))
  }

  test("DROP COLUMN hides the bytes; a re-ADDed column of the same " +
    "name is born fresh (NULLs, new physical name) — dropped data " +
    "never resurfaces") {
    val base = "/tmp/graft_txcolmap/drop"
    seed(base)
    assert(TxLog.dropColumn(spark, base, "v") == 2L)
    assert(TxLog.read(spark, base).columns.toSeq == Seq("k"))
    // physical bytes still on disk (no rewrite), just unmapped
    assert(physicalColumns(base) == Set("k", "v"))
    // re-add the SAME logical name: fresh physical, all NULL
    TxLog.alterAddColumns(spark, base,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType))))
    val out = TxLog.read(spark, base)
    assert(out.columns.toSeq == Seq("k", "v"))
    assert(out.where(col("v").isNotNull).count() == 0L,
      "re-ADD after DROP must scan as NULL, not the dropped bytes")
    val cm = TxLog.metaOf(spark, base,
      TxLog.latestVersion(spark, base).get).colMap.get
    val physV = cm.physical("v")
    assert(physV != "v" && physV.startsWith("c"),
      s"re-ADDed column must get a fresh physical name, got $physV")
    // writes to the re-added column land under the fresh physical
    import spark.implicits._
    TxLog.append(Seq((999L, 7L)).toDF("k", "v"), base)
    assert(TxLog.read(spark, base).where(col("v") === 7L).count() == 1L)
    assert(physicalColumns(base).contains(physV))
    // old rows still NULL for v
    assert(TxLog.read(spark, base).where(col("v").isNull).count() == 100L)
  }

  test("dependency guards: duplicate target, constraint-referenced " +
    "and identity columns refuse RENAME/DROP; the last column refuses " +
    "DROP; unknown columns are loud") {
    val base = "/tmp/graft_txcolmap/guards"
    seed(base)
    TxLog.addConstraint(spark, base, "v_pos", "v > 0")
    assert(intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, base, "v", "k")
    }.getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, base, "v", "w")
    }.getMessage.contains("v_pos"))
    assert(intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, base, "v")
    }.getMessage.contains("v_pos"))
    assert(intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, base, "nope", "x")
    }.getMessage.contains("does not exist"))
    // dropping the constraint unblocks the rename
    TxLog.dropConstraint(spark, base, "v_pos")
    TxLog.renameColumn(spark, base, "v", "w")
    assert(TxLog.read(spark, base).columns.contains("w"))
    // identity columns are pinned (their high-water line keys on them)
    val ib = "/tmp/graft_txcolmap/ident"
    TxLog.drop(spark, ib)
    import spark.implicits._
    TxLog.commit(Seq(1L -> "a", 2L -> "b").toDF("k", "s"), ib, None)
    TxLog.appendIdentity(Seq("c", "d").toDF("s"), ib, "rid")
    assert(intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, ib, "rid", "row_id")
    }.getMessage.contains("IDENTITY"))
    assert(intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, ib, "rid")
    }.getMessage.contains("IDENTITY"))
    // cannot drop the last column
    val lb = "/tmp/graft_txcolmap/last"
    TxLog.drop(spark, lb)
    TxLog.commit(Seq(1L, 2L).toDF("only"), lb, None)
    assert(intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, lb, "only")
    }.getMessage.contains("last column"))
  }

  test("DML speaks logical names on a mapped table: MERGE (COW and " +
    "MOR), UPDATE, DELETE, point lookup — results and skipping intact") {
    val base = "/tmp/graft_txcolmap/dml"
    seed(base)
    TxLog.renameColumn(spark, base, "v", "amount")
    import spark.implicits._
    // COW merge keyed on k, source in logical names
    TxLog.mergeCow(spark, base,
      Seq((5L, 999L), (101L, 1010L)).toDF("k", "amount"), Seq("k"), "k")
    val afterMerge = TxLog.read(spark, base)
    assert(afterMerge.where(col("k") === 5L).head().getLong(1) == 999L)
    assert(afterMerge.count() == 101L)
    // MOR delete with a logical-name residual: k=10 (amount 100)
    // survives the >100 residual; k=11,12 die
    TxLog.deleteRangeMor(spark, base, "k", 10L, 12L,
      residual = col("amount") > 100L)
    assert(TxLog.read(spark, base).count() == 99L)
    // MOR update assigning through the logical name
    TxLog.updateRangeMor(spark, base, "k", 20L, 20L,
      Map("amount" -> (col("amount") + 1L)))
    assert(TxLog.read(spark, base)
      .where(col("k") === 20L).head().getLong(1) == 201L)
    // MOR merge through the auto surface
    TxLog.mergeMorAuto(spark, base,
      Seq((30L, 333L)).toDF("k", "amount"), Seq("k"))
    assert(TxLog.read(spark, base)
      .where(col("k") === 30L).head().getLong(1) == 333L)
    // bloom point lookup through the logical name
    TxLog.buildBloomIndex(spark, base, "amount")
    assert(TxLog.readPoint(spark, base, "amount", 333L).count() == 1L)
    // CDF across the whole history serves the END schema's names
    val feed = TxLog.changesWithDeletes(spark, base, 0L,
      TxLog.latestVersion(spark, base).get)
    assert(feed.columns.contains("amount") && !feed.columns.contains("v"))
    assert(feed.columns.takeRight(2).toSeq ==
      Seq("_commit_version", "_change_type"))
  }

  test("a CHECK constraint on a fresh-physical column is enforced on " +
    "the path write surface (the logical/physical translation inside " +
    "enforceConstraints)") {
    val base = "/tmp/graft_txcolmap/cons"
    seed(base)
    TxLog.renameColumn(spark, base, "v", "amount") // activate mapping
    TxLog.alterAddColumns(spark, base,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.LongType))))
    TxLog.addConstraint(spark, base, "score_pos", "score IS NULL OR score > 0")
    import spark.implicits._
    // valid write passes (landed file carries the fresh physical name)
    TxLog.append(Seq((200L, 1L, 10L)).toDF("k", "amount", "score"), base)
    // violating write is vetoed even though the file's physical column
    // name differs from the constraint's logical reference
    val ex = intercept[TxLog.ConstraintViolationException] {
      TxLog.append(Seq((201L, 1L, -3L)).toDF("k", "amount", "score"), base)
    }
    assert(ex.name == "score_pos" && ex.bad == 1L)
    assert(TxLog.read(spark, base).where(col("score") === 10L).count() == 1L)
  }

  test("shallow clone carries the mapping and declared schema: the " +
    "clone serves logical names and hides dropped bytes") {
    val src = "/tmp/graft_txcolmap/clonesrc"
    val dst = "/tmp/graft_txcolmap/clonedst"
    seed(src)
    TxLog.renameColumn(spark, src, "v", "amount")
    TxLog.alterAddColumns(spark, src,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType))))
    TxLog.drop(spark, dst)
    TxLog.cloneShallow(spark, src, dst)
    val out = TxLog.read(spark, dst)
    assert(out.columns.toSeq == Seq("k", "amount", "note"))
    assert(out.where(col("amount") === 50L).count() == 1L)
    assert(protocolOf(dst) == ((2, 2)),
      "a mapped clone must demand the v2 reader too")
  }

  test("the mapping survives checkpointed resolution and many " +
    "commits; identity appends on a mapped table assign under the " +
    "physical name but answer to the logical one") {
    val base = "/tmp/graft_txcolmap/ckpt"
    seed(base, n = 10L)
    TxLog.renameColumn(spark, base, "v", "amount")
    import spark.implicits._
    // enough commits to cross the checkpoint interval
    (1L to 12L).foreach { i =>
      TxLog.append(Seq((1000L + i, i)).toDF("k", "amount"), base, Some("k"))
    }
    assert(TxLog.latestMeta(spark, base).colMap.isDefined)
    assert(TxLog.read(spark, base).columns.toSeq == Seq("k", "amount"))
    assert(TxLog.read(spark, base).count() == 22L)
    // identity on a mapped table: declare first (physical-name birth),
    // then appendIdentity speaks the logical name
    TxLog.alterAddColumns(spark, base,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rid",
          org.apache.spark.sql.types.LongType))))
    TxLog.appendIdentity(
      Seq((2000L, 5L), (2001L, 6L)).toDF("k", "amount"), base, "rid")
    val withIds = TxLog.read(spark, base).where(col("rid").isNotNull)
    assert(withIds.count() == 2L)
    assert(withIds.select("rid").distinct().count() == 2L)
    // GENERATED ALWAYS guard fires through the logical name too
    assert(intercept[IllegalArgumentException] {
      TxLog.append(Seq((3000L, 1L, 99L)).toDF("k", "amount", "rid"), base)
    }.getMessage.toLowerCase.contains("identity"))
  }

  test("API reads of a mapped table pay the mergeSchema footer pass " +
    "ONCE per version (VERDICT r11 #6): the union schema is cached by " +
    "(base, version, mtime), so the second read opens zero footers; a " +
    "new version costs exactly one more pass") {
    val base = "/tmp/graft_txcolmap/schemacache"
    seed(base)
    TxLog.renameColumn(spark, base, "v", "amount") // table is now mapped
    val miss0 = TxLog.physSchemaMisses.get()
    val total = TxLog.read(spark, base)
      .agg(sum("amount")).head().getLong(0)
    val miss1 = TxLog.physSchemaMisses.get()
    assert(miss1 == miss0 + 1, "first read computes the union once")
    // repeated plans of the SAME version: zero further footer passes
    TxLog.read(spark, base).count()
    assert(TxLog.read(spark, base)
      .agg(sum("amount")).head().getLong(0) == total)
    TxLog.readEvolved(spark, base).count()
    assert(TxLog.physSchemaMisses.get() == miss1,
      "later reads of the same version must be cache-served")
    // a new version re-computes exactly once, and serves correctly
    TxLog.append(df(Seq(1000L -> 7L))
      .withColumnRenamed("v", "amount"), base)
    assert(TxLog.read(spark, base).agg(sum("amount")).head().getLong(0)
      == total + 7L)
    val miss2 = TxLog.physSchemaMisses.get()
    assert(miss2 == miss1 + 1, "a new version costs one pass")
    TxLog.read(spark, base).count()
    assert(TxLog.physSchemaMisses.get() == miss2)
    // MOR verbs ride the same cache (taggedRead): still no extra pass
    // beyond the post-commit version's own first read
    TxLog.updateWhereMor(spark, base, col("k") === 5L,
      Map("amount" -> lit(0L)))
    val missAfterDml = TxLog.physSchemaMisses.get()
    TxLog.read(spark, base).count()
    TxLog.read(spark, base).count()
    assert(TxLog.physSchemaMisses.get() <= missAfterDml + 1)
  }
}
