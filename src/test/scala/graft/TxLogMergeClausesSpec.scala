package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog
import graft.operators.TxLog.{MergeDelete, MergeInsert, MergeUpdate, sourceCol}

/** Laws for the conditional multi-clause MERGE verb (VERDICT r11
  * next-round #1 — Delta's full `MERGE INTO` clause surface): ordered
  * first-match-wins clauses, the cardinality violation, row-precise
  * conditional masking, by-source update/delete, and equivalence to a
  * hand-composed oracle. */
class TxLogMergeClausesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import org.apache.spark.sql.DataFrame

  private def target(base: String, rows: Seq[(Int, Int, String)]): Unit = {
    TxLog.drop(spark, base)
    import spark.implicits._
    // one file: a partially-masked file must REMAIN in the manifest
    // (a fully-masked one legitimately drops), so the
    // zero-files-rewritten law below can assert subset
    TxLog.commit(rows.toDF("k", "v", "status").coalesce(1),
      base, None, Some("k"))
  }

  private def snapshot(base: String): Set[(Int, Int, String)] =
    TxLog.read(spark, base).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet

  test("the dbt soft-delete shape: WHEN MATCHED AND src.deleted THEN " +
    "DELETE / WHEN MATCHED THEN UPDATE SET / WHEN NOT MATCHED THEN " +
    "INSERT — first-match-wins, one commit, zero files rewritten") {
    val base = "/tmp/graft_txmc/softdel"
    target(base, Seq((1, 10, "a"), (2, 20, "a"), (3, 30, "a")))
    import spark.implicits._
    val src = Seq((1, 11, false), (2, 0, true), (4, 40, false))
      .toDF("k", "v", "deleted")
    val preFiles = TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1.map(_.path).toSet
    val v = TxLog.mergeClauses(spark, base, src, Seq("k"),
      matched = Seq(
        MergeDelete(Some(sourceCol("deleted"))),
        MergeUpdate(None, Map("v" -> sourceCol("v")))),
      notMatched = Seq(
        MergeInsert(None, Map("k" -> sourceCol("k"), "v" -> sourceCol("v"),
          "status" -> lit("new")))))
    assert(snapshot(base) == Set(
      (1, 11, "a"),   // updated (delete clause did not fire: deleted=false)
      // k=2 deleted (first clause fired BEFORE the unconditional update)
      (3, 30, "a"),   // untouched
      (4, 40, "new")))// inserted
    // merge-on-read: every pre-existing data file still referenced or
    // masked — never rewritten (mask sidecar + new image files only)
    val post = TxLog.manifest(spark, base, v)._1
    assert(preFiles.subsetOf(post.map(_.path).toSet),
      "MOR merge must not rewrite existing files")
    assert(TxLog.operationOf(spark, base, v).contains("MERGE"))
  }

  test("cardinality: a target row modified by TWO source rows fails " +
    "loudly; duplicate source rows whose clauses never fire are legal") {
    val base = "/tmp/graft_txmc/card"
    target(base, Seq((1, 10, "a")))
    import spark.implicits._
    val dupSrc = Seq((1, 11, false), (1, 12, false)).toDF("k", "v", "deleted")
    val e = intercept[IllegalStateException] {
      TxLog.mergeClauses(spark, base, dupSrc, Seq("k"),
        matched = Seq(MergeUpdate(None, Map("v" -> sourceCol("v")))))
    }
    assert(e.getMessage.contains("cardinality"))
    assert(snapshot(base) == Set((1, 10, "a")), "failed MERGE = no commit")
    // same duplicates, but the clause condition rejects both pairs:
    // nothing is modified, so no violation (Delta's rule — only rows
    // BEING modified count)
    val v = TxLog.mergeClauses(spark, base, dupSrc, Seq("k"),
      matched = Seq(
        MergeUpdate(Some(sourceCol("deleted")), Map("v" -> sourceCol("v")))))
    assert(snapshot(base) == Set((1, 10, "a")))
    assert(v == TxLog.latestVersion(spark, base).get)
  }

  test("a lone unconditional WHEN MATCHED THEN DELETE is exempt from the " +
    "cardinality law (Delta's rule): duplicate source keys delete their " +
    "row once, with the mask merged on the driver and distributed") {
    import spark.implicits._
    val key = "spark.graft.txlog.dsv2MaxMaskRows"
    for ((limit, i) <- Seq(None, Some("1")).zipWithIndex) {
      val base = s"/tmp/graft_txmc/deldup$i"
      target(base, Seq((1, 10, "a"), (2, 20, "a"), (3, 30, "a")))
      val src = Seq(1, 1, 3, 3, 3, 9).toDF("k")
      limit.foreach(spark.conf.set(key, _))
      val v = try TxLog.mergeClauses(spark, base, src, Seq("k"),
          matched = Seq(MergeDelete(None)))
        finally spark.conf.unset(key)
      assert(snapshot(base) == Set((2, 20, "a")), limit)
      assert(TxLog.manifest(spark, base, v)._1.flatMap(_.dv).map(_.rows).sum
        == 2L, limit)
    }
  }

  test("row-precise conditional masking: two target rows share a key; " +
    "a clause conditioned on a TARGET column fires on exactly one — " +
    "only that row is masked and replaced") {
    val base = "/tmp/graft_txmc/precise"
    target(base, Seq((1, 10, "old"), (1, 99, "keep"), (2, 20, "old")))
    import spark.implicits._
    val src = Seq((1, 111)).toDF("k", "v")
    TxLog.mergeClauses(spark, base, src, Seq("k"),
      matched = Seq(
        MergeUpdate(Some(col("status") === "old"),
          Map("v" -> sourceCol("v")))))
    assert(snapshot(base) == Set(
      (1, 111, "old"),  // fired: updated image
      (1, 99, "keep"),  // same key, condition false: untouched in place
      (2, 20, "old")))  // key not in source
  }

  test("WHEN NOT MATCHED BY SOURCE: conditional UPDATE marks stale " +
    "rows, conditional DELETE kills a band, first-match-wins between " +
    "them; matched rows and inserts ride the same single commit") {
    val base = "/tmp/graft_txmc/bysource"
    target(base, Seq((1, 10, "a"), (2, 20, "a"), (3, 30, "a"), (4, 40, "a")))
    import spark.implicits._
    val src = Seq((1, 11), (5, 50)).toDF("k", "v")
    val v0 = TxLog.latestVersion(spark, base).get
    TxLog.mergeClauses(spark, base, src, Seq("k"),
      matched = Seq(MergeUpdate(None, Map("v" -> sourceCol("v")))),
      notMatched = Seq(MergeInsert(None,
        Map("k" -> sourceCol("k"), "v" -> sourceCol("v"),
          "status" -> lit("new")))),
      notMatchedBySource = Seq(
        MergeDelete(Some(col("v") >= 40)),           // 4 dies
        MergeUpdate(Some(col("v") >= 20),            // 2,3 marked stale
          Map("status" -> lit("stale")))))
    assert(snapshot(base) == Set(
      (1, 11, "a"), (2, 20, "stale"), (3, 30, "stale"), (5, 50, "new")))
    // ONE commit for the whole statement
    assert(TxLog.latestVersion(spark, base).get == v0 + 1)
  }

  test("INSERT with an explicit column list: omitted target columns " +
    "insert as NULL; conditional insert clauses pick per-row") {
    val base = "/tmp/graft_txmc/insert"
    target(base, Seq((1, 10, "a")))
    import spark.implicits._
    val src = Seq((2, 20), (3, 30)).toDF("k", "v")
    TxLog.mergeClauses(spark, base, src, Seq("k"),
      notMatched = Seq(
        MergeInsert(Some(sourceCol("v") >= 30),
          Map("k" -> sourceCol("k"), "v" -> sourceCol("v"),
            "status" -> lit("big"))),
        MergeInsert(None, Map("k" -> sourceCol("k")))))
    val got = TxLog.read(spark, base).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1),
        if (r.isNullAt(2)) "NULL" else r.getString(2))).toSet
    assert(got == Set((1, 10, "a"), (2, -1, "NULL"), (3, 30, "big")))
  }

  test("unconditional WHEN NOT MATCHED BY SOURCE THEN DELETE drops " +
    "provably-disjoint files metadata-only (the sync optimization " +
    "carries into the clause verb); an EMPTY source truncates") {
    val base = "/tmp/graft_txmc/syncdrop"
    TxLog.drop(spark, base)
    import spark.implicits._
    // two key bands in separate files with k stats
    TxLog.commit(Seq((1, 10, "a"), (2, 20, "a")).toDF("k", "v", "status"),
      base, None, Some("k"))
    TxLog.append(Seq((100, 1000, "a"), (101, 1010, "a"))
      .toDF("k", "v", "status"), base, Some("k"))
    val src = Seq((1, 11), (2, 22)).toDF("k", "v")
    val v = TxLog.mergeClauses(spark, base, src, Seq("k"),
      matched = Seq(MergeUpdate(None, Map("v" -> sourceCol("v")))),
      notMatchedBySource = Seq(MergeDelete(None)))
    assert(snapshot(base) == Set((1, 11, "a"), (2, 22, "a")))
    // the high band's file left the manifest whole — no mask sidecar
    // pointing at it (metadata-only drop)
    val post = TxLog.manifest(spark, base, v)._1
    assert(post.forall(e => e.statsFor("k").forall(_.max.toLong < 100)),
      "the disjoint band must drop from the manifest entirely")
    // empty source: everything is by-source; unconditional DELETE
    // truncates in one metadata commit
    TxLog.mergeClauses(spark, base, src.limit(0), Seq("k"),
      notMatchedBySource = Seq(MergeDelete(None)))
    assert(TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1.isEmpty,
      "an empty source + unconditional by-source DELETE truncates")
  }

  test("oracle equivalence: a 3-clause merge over 2k rows matches the " +
    "hand-composed DataFrame result bit-for-bit") {
    val base = "/tmp/graft_txmc/oracle"
    TxLog.drop(spark, base)
    val tgt = spark.range(2000).select(
      col("id").cast("int").as("k"),
      (col("id") * 3 % 100).cast("int").as("v"),
      when(col("id") % 7 === 0, "old").otherwise("cur").as("status"))
    TxLog.commit(tgt, base, None, Some("k"))
    val src = spark.range(1500, 2500).select(
      col("id").cast("int").as("k"),
      (col("id") % 50).cast("int").as("v"),
      (col("id") % 3 === 0).as("deleted"))
    TxLog.mergeClauses(spark, base, src, Seq("k"),
      matched = Seq(
        MergeDelete(Some(sourceCol("deleted"))),
        MergeUpdate(Some(col("status") === "cur"),
          Map("v" -> (sourceCol("v") + col("v"))))),
      notMatched = Seq(
        MergeInsert(Some(!sourceCol("deleted")),
          Map("k" -> sourceCol("k"), "v" -> sourceCol("v"),
            "status" -> lit("new")))))
    // composed oracle over the same inputs
    val joined = tgt.as("t").join(src.as("s"), Seq("k"), "left")
    val kept = joined.where(col("s.deleted").isNull || // unmatched
        (!col("s.deleted") && !(col("status") === "cur")))
      .select(col("k"), col("t.v").as("v"), col("status"))
    val updated = joined.where(col("s.deleted").isNotNull &&
        !col("s.deleted") && (col("status") === "cur"))
      .select(col("k"), (col("s.v") + col("t.v")).as("v"), col("status"))
    val inserted = src.join(tgt, Seq("k"), "left_anti")
      .where(!col("deleted"))
      .select(col("k"), col("v"), lit("new").as("status"))
    val expect = kept.unionByName(updated).unionByName(inserted)
    def sig(df: DataFrame) = df
      .agg(count(lit(1)), bit_xor(xxhash64(col("k"), col("v"),
        col("status")))).head()
    assert(sig(TxLog.read(spark, base)) == sig(expect))
  }

  test("review regression: MERGE into an EMPTY target (fully-deleted " +
    "or file-less-created) runs its NOT MATCHED inserts off the " +
    "declared schema instead of crashing on schema resolution") {
    val base = "/tmp/graft_txmc/empty"
    import org.apache.spark.sql.types._
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.createTable(spark, base, StructType(Seq(
      StructField("k", IntegerType), StructField("v", IntegerType),
      StructField("status", StringType))))
    TxLog.append(Seq((1, 10, "a")).toDF("k", "v", "status"),
      base, Some("k"))
    // truncate via the empty-source unconditional by-source DELETE
    TxLog.mergeClauses(spark, base,
      Seq.empty[(Int, Int)].toDF("k", "v"), Seq("k"),
      notMatchedBySource = Seq(MergeDelete(None)))
    assert(TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1.isEmpty)
    // the next incremental run inserts into the empty table
    TxLog.mergeClauses(spark, base, Seq((5, 50)).toDF("k", "v"), Seq("k"),
      matched = Seq(MergeUpdate(None, Map("v" -> sourceCol("v")))),
      notMatched = Seq(MergeInsert(None,
        Map("k" -> sourceCol("k"), "v" -> sourceCol("v"),
          "status" -> lit("reborn")))))
    assert(snapshot(base) == Set((5, 50, "reborn")))
    // without a declared schema an empty target has nothing to bind
    // the clauses against — loud error, never a crash mid-plan
    val undeclared = "/tmp/graft_txmc/empty_undeclared"
    target(undeclared, Seq((1, 10, "a")))
    TxLog.mergeClauses(spark, undeclared,
      Seq.empty[(Int, Int)].toDF("k", "v"), Seq("k"),
      notMatchedBySource = Seq(MergeDelete(None)))
    val e = intercept[IllegalStateException] {
      TxLog.mergeClauses(spark, undeclared,
        Seq((5, 50)).toDF("k", "v"), Seq("k"),
        notMatched = Seq(MergeInsert(None,
          Map("k" -> sourceCol("k"), "v" -> sourceCol("v")))))
    }
    assert(e.getMessage.contains("no declared schema"), e.getMessage)
  }

  test("SQL three-valued WHEN: a clause condition evaluating to NULL " +
    "does not fire — the row falls through to the next clause (or " +
    "stays untouched), never a NullPointer or a spurious fire") {
    val base = "/tmp/graft_txmc/nullcond"
    target(base, Seq((1, 10, "a"), (2, 20, "a"), (3, 30, "a")))
    import spark.implicits._
    // flag: true / null / false per key
    val src = Seq((1, 100, Some(true)), (2, 200, None: Option[Boolean]),
      (3, 300, Some(false))).toDF("k", "v", "flag")
    TxLog.mergeClauses(spark, base, src, Seq("k"),
      matched = Seq(
        MergeDelete(Some(sourceCol("flag"))),         // fires only on TRUE
        MergeUpdate(Some(!sourceCol("flag")),         // NULL stays NULL
          Map("v" -> sourceCol("v")))))
    assert(snapshot(base) == Set(
      // k=1: flag=true → first clause (DELETE) fired — gone
      (2, 20, "a"),    // flag NULL: NEITHER clause fires — untouched
      (3, 300, "a")),  // flag=false: !flag=true → second clause updated
      snapshot(base).toString)
  }

  test("schema evolution (Delta autoMerge / dbt append_new_columns): " +
    "a merge carrying a NEW source column evolves the target in the " +
    "SAME commit; old rows read NULL; time travel below the merge " +
    "stays narrow; off by default the assignment errors loudly") {
    val base = "/tmp/graft_txmc/evolve"
    target(base, Seq((1, 10, "a"), (2, 20, "a")))
    import spark.implicits._
    val src = Seq((2, 21, "eu"), (3, 30, "us")).toDF("k", "v", "region")
    // OFF (default): assigning the new column is a LOUD error naming
    // it and the flag — never a silent drop
    val e = intercept[IllegalArgumentException] {
      TxLog.mergeClauses(spark, base, src, Seq("k"),
        matched = Seq(MergeUpdate(None,
          Map("v" -> sourceCol("v"), "region" -> sourceCol("region")))))
    }
    assert(e.getMessage.contains("region") &&
      e.getMessage.contains("evolveSchema"), e.getMessage)
    // an extra source column merely READ by a condition stays legal
    // without evolution — the soft-delete-flag shape
    TxLog.mergeClauses(spark, base, src, Seq("k"),
      matched = Seq(MergeUpdate(Some(sourceCol("region") === "eu"),
        Map("v" -> sourceCol("v")))))
    assert(TxLog.read(spark, base).columns.toSet ==
      Set("k", "v", "status"))
    val vPre = TxLog.latestVersion(spark, base).get
    // ON: evolution + merge are ONE commit
    TxLog.mergeClauses(spark, base, src, Seq("k"),
      matched = Seq(MergeUpdate(None,
        Map("v" -> sourceCol("v"), "region" -> sourceCol("region")))),
      notMatched = Seq(MergeInsert(None,
        Map("k" -> sourceCol("k"), "v" -> sourceCol("v"),
          "region" -> sourceCol("region")))),
      evolveSchema = true)
    val v = TxLog.latestVersion(spark, base).get
    assert(v == vPre + 1, "evolution and merge are one atomic commit")
    // the declared schema carries the new column, nullable
    val decl = TxLog.metaOf(spark, base, v).schema.get
    assert(decl.fieldNames.contains("region"))
    // rows: k=1 untouched (old file → region NULL), k=2 updated,
    // k=3 inserted
    val snap = TxLog.readEvolved(spark, base)
      .select("k", "v", "status", "region").collect()
      .map(r => (r.getInt(0), r.getInt(1),
        Option(r.getString(2)).getOrElse("∅"),
        Option(r.getString(3)).getOrElse("∅"))).toSet
    assert(snap == Set((1, 10, "a", "∅"), (2, 21, "a", "eu"),
      (3, 30, "∅", "us")), snap.toString)
    // time travel BELOW the merge stays narrow
    assert(!TxLog.readVersion(spark, base, vPre).columns.contains("region"))
    // the DSv2/SQL surface serves the evolved schema with NULLs on
    // old-file rows — the shape dbt reads back after on_schema_change
    val viaSource = spark.read.format("graft.sources.TxLogSource")
      .load(base)
    assert(viaSource.schema.fieldNames.contains("region"))
    assert(viaSource.where(col("k") === 1 && col("region").isNull)
      .count() == 1)
    // the change feed still unions across the evolution boundary
    val changes = TxLog.changesBetween(spark, base, vPre - 1, v)
    assert(changes.columns.contains("region"))
  }

  test("schema evolution on a MAPPED table: the new column is born " +
    "under a FRESH physical name (the ADD COLUMNS rule) and survives " +
    "rename/read round-trips") {
    val base = "/tmp/graft_txmc/evolve_mapped"
    target(base, Seq((1, 10, "a"), (2, 20, "a")))
    import spark.implicits._
    // seed the mapping via a rename, then rename BACK (mapping stays)
    TxLog.renameColumn(spark, base, "v", "val")
    TxLog.renameColumn(spark, base, "val", "v")
    assert(TxLog.metaOf(spark, base,
      TxLog.latestVersion(spark, base).get).colMap.isDefined)
    TxLog.mergeClauses(spark, base,
      Seq((2, 22, 0.9), (4, 40, 0.4)).toDF("k", "v", "score"), Seq("k"),
      matched = Seq(MergeUpdate(None,
        Map("v" -> sourceCol("v"), "score" -> sourceCol("score")))),
      notMatched = Seq(MergeInsert(None,
        Map("k" -> sourceCol("k"), "v" -> sourceCol("v"),
          "score" -> sourceCol("score")))),
      evolveSchema = true)
    val v = TxLog.latestVersion(spark, base).get
    val cm = TxLog.metaOf(spark, base, v).colMap.get
    val phys = cm.physicalOf("score").get
    assert(phys != "score" && phys.startsWith("c"),
      s"fresh physical name expected, got $phys")
    val snap = TxLog.read(spark, base)
    assert(snap.columns.toSet == Set("k", "v", "status", "score"))
    assert(snap.where(col("k") === 2 && col("score") === 0.9).count() == 1)
    assert(snap.where(col("k") === 1 && col("score").isNull).count() == 1)
    assert(snap.where(col("k") === 4 && col("score") === 0.4).count() == 1)
  }

  test("schema evolution composes with a WIDENED table: the veto that " +
    "blocks undeclared writes admits the about-to-be-declared merge " +
    "columns (declared in the SAME commit)") {
    val base = "/tmp/graft_txmc/evolve_widen"
    target(base, Seq((1, 10, "a"), (2, 20, "a")))
    import org.apache.spark.sql.types._
    TxLog.alterWidenColumn(spark, base, "v", LongType)
    import spark.implicits._
    TxLog.mergeClauses(spark, base,
      Seq((2, 21L, "eu"), (3, 30L, "us")).toDF("k", "v", "region"),
      Seq("k"),
      matched = Seq(MergeUpdate(None,
        Map("v" -> sourceCol("v"), "region" -> sourceCol("region")))),
      notMatched = Seq(MergeInsert(None,
        Map("k" -> sourceCol("k"), "v" -> sourceCol("v"),
          "region" -> sourceCol("region")))),
      evolveSchema = true)
    val snap = TxLog.read(spark, base)
    assert(snap.schema("v").dataType == LongType)
    assert(snap.columns.contains("region"),
      "widened reads pin the declared schema — the evolved column is " +
        "in it")
    assert(snap.where(col("k") === 1 && col("region").isNull).count() == 1)
    assert(snap.where(col("k") === 3 && col("region") === "us").count() == 1)
  }
}
