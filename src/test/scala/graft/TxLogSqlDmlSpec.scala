package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog
import graft.sources.TxLogSqlDml

/** SQL UPDATE / MERGE INTO on the catalog-registered log table
  * (VERDICT r10 missing #2 — the reference's dbt models run
  * `MERGE INTO ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
  * THEN INSERT *` as SQL over Thrift). The resolution rule rewrites
  * the two row-level shapes into merge-on-read commands: rows change,
  * zero data files are rewritten. Statements run on a `newSession()`
  * of an armed lineage — the same path every Thrift-served session
  * takes. */
class TxLogSqlDmlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private lazy val sql = { // one armed child session for all cases
    TxLogSqlDml.ensureInjected(spark)
    spark.newSession()
  }

  private def seed(base: String, name: String): Unit = {
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit(
      (1 to 100).map(i => (i, s"name-$i", i * 10.0)).toDF("k", "s", "v")
        .repartitionByRange(4, col("k")),
      base, None, Some("k"))
    sql.sql(s"DROP TABLE IF EXISTS $name")
    sql.sql(s"CREATE TABLE $name " +
      s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
  }

  private def files(base: String): Set[String] =
    TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1.map(_.path).toSet

  test("UPDATE SET ... WHERE masks hit rows and appends updated " +
    "images — zero data files rewritten") {
    val base = "/tmp/graft_txsqldml/upd"
    seed(base, "txdml_upd")
    val before = files(base)
    try {
      sql.sql("UPDATE txdml_upd SET v = v * 2, s = concat(s, '!') " +
        "WHERE k BETWEEN 10 AND 19")
      val snap = TxLog.read(spark, base)
      assert(snap.count() == 100)
      assert(snap.where("k BETWEEN 10 AND 19 AND v = k * 20 AND " +
        "s = concat('name-', k, '!')").count() == 10)
      assert(snap.where("k NOT BETWEEN 10 AND 19 AND v = k * 10").count()
        == 90)
      // MOR: original files all still referenced (one now masked),
      // plus fresh files holding the updated images
      assert(before.subsetOf(files(base)))
      // an armed SQL session sees the same state
      assert(sql.sql("SELECT sum(v) AS s FROM txdml_upd").head.getDouble(0)
        == (1 to 100).map(i => if (i >= 10 && i <= 19) i * 20.0 else i * 10.0).sum)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_upd")
  }

  test("MERGE INTO WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT * " +
    "is the dbt upsert: matched rows replaced, new keys inserted") {
    val base = "/tmp/graft_txsqldml/merge"
    seed(base, "txdml_merge")
    val before = files(base)
    try {
      sql.sql("MERGE INTO txdml_merge t USING (SELECT id AS k, " +
        "concat('new-', id) AS s, cast(id AS DOUBLE) AS v " +
        "FROM range(95, 110)) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      val snap = TxLog.read(spark, base)
      assert(snap.count() == 109) // 100 + 9 new keys (101..109)
      assert(snap.where("k BETWEEN 95 AND 109 AND s = concat('new-', k) " +
        "AND v = cast(k AS DOUBLE)").count() == 15)
      assert(snap.where("k < 95 AND v = k * 10").count() == 94)
      assert(before.subsetOf(files(base)),
        "MERGE must be merge-on-read: no data file rewritten")
    } finally sql.sql("DROP TABLE IF EXISTS txdml_merge")
  }

  test("decomposed shapes: UPDATE-only touches no unmatched source " +
    "row; INSERT-only never duplicates matched keys; DELETE masks") {
    val base = "/tmp/graft_txsqldml/shapes"
    seed(base, "txdml_shapes")
    try {
      // UPDATE SET * only: key 98..104 in source; only 98..100 exist
      sql.sql("MERGE INTO txdml_shapes t USING (SELECT id AS k, " +
        "concat('u-', id) AS s, 0.5 AS v FROM range(98, 105)) s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET *")
      var snap = TxLog.read(spark, base)
      assert(snap.count() == 100, "update-only must not insert")
      assert(snap.where("s LIKE 'u-%'").count() == 3)
      // INSERT * only: matched keys must not duplicate
      sql.sql("MERGE INTO txdml_shapes t USING (SELECT id AS k, " +
        "concat('i-', id) AS s, 1.5 AS v FROM range(99, 103)) s " +
        "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *")
      snap = TxLog.read(spark, base)
      assert(snap.count() == 102) // 101, 102 inserted
      assert(snap.where("s LIKE 'i-%'").count() == 2)
      // WHEN MATCHED DELETE
      sql.sql("MERGE INTO txdml_shapes t USING (SELECT id AS k FROM " +
        "range(1, 11)) s ON t.k = s.k WHEN MATCHED THEN DELETE")
      assert(TxLog.read(spark, base).count() == 92)
      // unsupported shape fails loudly, table untouched
      val err = intercept[Exception] {
        sql.sql("MERGE INTO txdml_shapes t USING (SELECT id AS k, " +
          "'x' AS s, 0.0 AS v FROM range(1, 3)) s ON t.k < s.k " +
          "WHEN MATCHED THEN UPDATE SET *")
      }
      assert(err.getMessage.contains("equi-key"),
        s"expected a loud shape error, got: ${err.getMessage}")
      assert(TxLog.read(spark, base).count() == 92)
      // a PARTIAL same-name assignment list is NOT SET * — since r12
      // it routes through the general clause verb with true partial-
      // update semantics: assigned columns change, the rest CARRY
      // (never a silent full-row overwrite)
      sql.sql("MERGE INTO txdml_shapes t USING (SELECT id AS k, " +
        "'y' AS s, 0.25 AS v FROM range(30, 32)) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.v")
      val partial = TxLog.read(spark, base)
        .where("k IN (30, 31)").collect()
      assert(partial.length == 2)
      assert(partial.forall(r => r.getDouble(2) == 0.25 &&
        r.getString(1) == s"name-${r.getInt(0)}"),
        "partial SET updates v and carries s unchanged")
      assert(TxLog.read(spark, base).count() == 92)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_shapes")
  }

  test("maintenance SQL (the parser rung): OPTIMIZE bin-packs, " +
    "OPTIMIZE ZORDER BY re-tiles, VACUUM retains versions, DESCRIBE " +
    "HISTORY lists them; non-txlog targets fail loudly") {
    val base = "/tmp/graft_txsqldml/maint"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit(
      (1 to 4000).map(i => (i, i % 50, s"p-$i")).toDF("x", "y", "p")
        .repartition(4), base, None, Some("x"))
    // small straggler appends
    (1 to 3).foreach(i => TxLog.append(
      Seq((10000 + i, i, s"s-$i")).toDF("x", "y", "p"), base, Some("x")))
    sql.sql("DROP TABLE IF EXISTS txdml_maint")
    sql.sql("CREATE TABLE txdml_maint " +
      s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
    try {
      val hist0 = sql.sql("DESCRIBE HISTORY txdml_maint").collect()
      assert(hist0.map(_.getLong(0)).toSeq == (1L to 4L))
      val vOpt = sql.sql("OPTIMIZE txdml_maint").head.getLong(0)
      assert(vOpt == 5L)
      assert(TxLog.manifest(spark, base, vOpt)._1.size < 7,
        "OPTIMIZE must bin-pack the straggler files")
      assert(TxLog.read(spark, base).count() == 4003)
      val vZ = sql.sql("OPTIMIZE txdml_maint ZORDER BY (x, y)")
        .head.getLong(0)
      assert(TxLog.manifest(spark, base, vZ)._1.forall(e =>
        e.statsFor("x").isDefined || e.rows == 0),
        "re-tiled files carry stats")
      // per-commit provenance (Delta history's `operation`): the
      // initial commit is a WRITE, the bin-pack an OPTIMIZE
      val ops = sql.sql("DESCRIBE HISTORY txdml_maint").collect()
        .map(r => r.getAs[Long]("version") -> r.getAs[String]("operation"))
        .toMap
      assert(ops(1L) == "WRITE" && ops(vOpt) == "OPTIMIZE",
        s"history must carry operations: $ops")
      val kept = sql.sql("VACUUM txdml_maint RETAIN 2 VERSIONS")
        .collect().map(_.getLong(0)).toSeq
      assert(kept.size == 2 && kept.last == vZ)
      assert(TxLog.read(spark, base).count() == 4003)
      // the GRACE clause is the SQL twin of the Scala graceMs knob:
      // the default 1-hour window deliberately left the now-
      // unreferenced pre-OPTIMIZE txn dirs on disk (a concurrent
      // writer's dir is indistinguishable from an orphan until its
      // manifest publishes); GRACE 0 SECONDS is the controlled-
      // maintenance-window override that forces full reclamation
      def dataDirs(): Int =
        new java.io.File(s"$base/data").listFiles().count(_.isDirectory)
      val before = dataDirs()
      // RETAIN 1: only the compacted version's txn dir stays live —
      // the pre-OPTIMIZE dirs become unreferenced and reclaimable
      sql.sql("VACUUM txdml_maint RETAIN 1 VERSIONS GRACE 0 SECONDS")
      assert(dataDirs() < before,
        "GRACE 0 SECONDS must reclaim unreferenced txn dirs over SQL")
      assert(TxLog.read(spark, base).count() == 4003)
      // straggler appends in two disjoint bands for the scoped verbs
      import spark.implicits._
      TxLog.append(Seq((100001, 1, "w1a")).toDF("x", "y", "p"),
        base, Some("x"))
      TxLog.append(Seq((100002, 1, "w1b")).toDF("x", "y", "p"),
        base, Some("x"))
      val preW2 = files(base)
      TxLog.append(Seq((200001, 1, "w2")).toDF("x", "y", "p"),
        base, Some("x"))
      val w2Files = files(base) -- preW2
      // DRY RUN previews the drops without touching anything
      val histBefore =
        sql.sql("DESCRIBE HISTORY txdml_maint").collect().length
      val dry = sql.sql(
        "VACUUM txdml_maint RETAIN 1 VERSIONS GRACE 0 SECONDS DRY RUN")
        .collect()
      assert(dry.nonEmpty && dry.forall(r =>
        Set("manifest", "txn_dir", "root_file").contains(r.getString(0))))
      assert(sql.sql("DESCRIBE HISTORY txdml_maint").collect().length
        == histBefore, "DRY RUN must not drop versions")
      assert(TxLog.read(spark, base).count() == 4006,
        "DRY RUN must not touch data")
      // OPTIMIZE ... WHERE folds only small files overlapping the
      // range; the out-of-range straggler rides untouched
      val preOpt = files(base)
      sql.sql("OPTIMIZE txdml_maint WHERE x BETWEEN 100000 AND 150000")
      val postOpt = files(base)
      assert(w2Files.subsetOf(postOpt),
        "out-of-range straggler must survive a scoped OPTIMIZE")
      assert(postOpt.size == preOpt.size - 1,
        s"the two in-range stragglers must fold into one " +
          s"(${preOpt.size} -> ${postOpt.size})")
      assert(TxLog.read(spark, base).count() == 4006)
      // non-txlog target: loud error, ordinary SQL untouched
      sql.sql("CREATE OR REPLACE TEMP VIEW not_txlog AS SELECT 1 AS a")
      val err = intercept[Exception] {
        sql.sql("OPTIMIZE not_txlog")
      }
      assert(err.getMessage.contains("not a txlog table"))
      assert(sql.sql("SELECT 1 + 1").head.getInt(0) == 2)
      // guard rails: RETAIN 0 can never destroy the table; a wrong
      // ZORDER arity errors loudly instead of a baffling parse error
      val v0 = intercept[Exception] {
        sql.sql("VACUUM txdml_maint RETAIN 0 VERSIONS")
      }
      assert(v0.getMessage.contains("at least one version"))
      assert(TxLog.read(spark, base).count() == 4006,
        "a rejected VACUUM must not touch data")
      val arity = intercept[Exception] {
        sql.sql("OPTIMIZE txdml_maint ZORDER BY (x)")
      }
      assert(arity.getMessage.contains("at least two columns"))
      // k columns are legal now; a non-numeric key still fails loudly
      // at the verb (a runtime CAST error mid-rewrite would baffle)
      val strKey = intercept[Exception] {
        sql.sql("OPTIMIZE txdml_maint ZORDER BY (x, y, p)")
      }
      assert(strKey.getMessage.contains("derived numeric key"),
        strKey.getMessage)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_maint")
  }

  test("RESTORE TABLE rolls back by version and by timestamp as NEW " +
    "versions; DESCRIBE DETAIL reports the one-row table inventory") {
    val base = "/tmp/graft_txsqldml/restore"
    seed(base, "txdml_restore")
    import spark.implicits._
    try {
      TxLog.append(
        (101 to 120).map(i => (i, s"name-$i", i * 10.0)).toDF("k", "s", "v"),
        base, Some("k"))
      // deterministic commit instants for the timestamp restore
      val t0 = 1700000000000L
      TxLog.setCommitTime(spark, base, 1L, t0)
      TxLog.setCommitTime(spark, base, 2L, t0 + 60000L)
      // restore to v1 by VERSION (keywords TABLE/TO optional — both
      // spellings parse)
      val r1 = sql.sql(
        "RESTORE TABLE txdml_restore TO VERSION AS OF 1").head
      assert(r1.getLong(0) == 1L && r1.getLong(1) == 3L)
      assert(TxLog.read(spark, base).count() == 100)
      // restore to v2 state by TIMESTAMP (epoch-millis form): latest
      // commit at-or-before t0+90s is v2 — v3's instant is wall-clock
      val r2 = sql.sql(
        s"RESTORE txdml_restore TIMESTAMP AS OF '${t0 + 90000L}'").head
      assert(r2.getLong(0) == 2L && r2.getLong(1) == 4L)
      assert(TxLog.read(spark, base).count() == 120)
      // DESCRIBE DETAIL: the one-row inventory reflects the restored
      // state (live rows, files, stats column, checkpoint pointer)
      val d = sql.sql("DESCRIBE DETAIL txdml_restore").head
      assert(d.getAs[String]("format") == "txlog")
      // the catalog-resolved base is scheme-qualified (file:/…)
      assert(d.getAs[String]("location").endsWith(base))
      assert(d.getAs[Long]("version") == 4L)
      assert(d.getAs[Long]("num_rows") == 120L)
      assert(d.getAs[Long]("num_masked_rows") == 0L)
      assert(d.getAs[Long]("num_files") ==
        TxLog.manifest(spark, base, 4L)._1.size)
      assert(d.getAs[Long]("size_bytes") > 0L)
      assert(d.getAs[String]("stats_columns") == "k")
      // restore-by-version guards: a string literal where a version
      // number belongs is a loud error, not a silent parse
      val bad = intercept[Exception] {
        sql.sql("RESTORE txdml_restore TO VERSION AS OF 'one'")
      }
      assert(bad.getMessage != null)
      val badV = intercept[Exception] {
        sql.sql("RESTORE txdml_restore TO VERSION AS OF 99")
      }
      assert(badV.getMessage.contains("cannot restore"))
    } finally sql.sql("DROP TABLE IF EXISTS txdml_restore")
  }

  test("SET expressions evaluate against the OLD row simultaneously " +
    "(SQL UPDATE semantics), and identity columns reject assignment") {
    val base = "/tmp/graft_txsqldml/simul"
    seed(base, "txdml_simul")
    try {
      // v doubles from OLD v; k is rebuilt from OLD v — if the
      // assignments chained, k would see the doubled v
      sql.sql("UPDATE txdml_simul SET v = v * 2, k = cast(v AS INT) " +
        "WHERE k = 7")
      val r = TxLog.read(spark, base).where("v = 140.0")
        .select("k").head()
      assert(r.getInt(0) == 70,
        "k must be built from the OLD v (70), not the doubled one")
      // duplicate assignment targets are a loud SQL error (never a
      // silent Map last-wins)
      val dup = intercept[Exception] {
        sql.sql("UPDATE txdml_simul SET v = 1.0, v = 2.0 WHERE k = 1")
      }
      assert(dup.getMessage.contains("more than once"))
      // the COW update verb shares the simultaneous semantics: a
      // swap-shaped SET must read both OLD values (law for the API)
      TxLog.updateRange(spark, base, "k", 1, 1,
        Map("v" -> (col("v") * 10), "s" -> concat(lit("v="), col("v"))))
      val cow = TxLog.read(spark, base).where("k = 1").head()
      assert(cow.getAs[String]("s") == "v=10.0" &&
        cow.getAs[Double]("v") == 100.0,
        s"COW SET must evaluate against the OLD row: $cow")
    } finally sql.sql("DROP TABLE IF EXISTS txdml_simul")
    // identity guard on the UPDATE surface (Delta's rule)
    val idBase = "/tmp/graft_txsqldml/ident"
    TxLog.drop(spark, idBase)
    import spark.implicits._
    TxLog.appendIdentity(
      (1 to 10).map(i => (s"n-$i", i * 1.0)).toDF("s", "v"),
      idBase, "row_id")
    intercept[IllegalArgumentException] {
      TxLog.updateRangeMor(spark, idBase, "v", 1.0, 5.0,
        Map("row_id" -> org.apache.spark.sql.functions.lit(9999L)))
    }
    // decomposed update-only MERGE now works on identity tables
    // (GENERATED BY DEFAULT, high-water advances past carried ids)
    sql.sql("DROP TABLE IF EXISTS txdml_ident")
    sql.sql("CREATE TABLE txdml_ident " +
      s"USING graft.sources.TxLogSource OPTIONS (path '$idBase')")
    try {
      sql.sql("MERGE INTO txdml_ident t USING (SELECT row_id, " +
        "concat('upd-', row_id) AS s, 0.0 AS v FROM txdml_ident " +
        "WHERE row_id <= 3) src ON t.row_id = src.row_id " +
        "WHEN MATCHED THEN UPDATE SET *")
      val snap = TxLog.read(spark, idBase)
      assert(snap.count() == 10)
      assert(snap.where("s LIKE 'upd-%'").count() == 3)
      // ids stayed unique and the next identity append allocates above
      TxLog.appendIdentity(Seq(("z", 1.0)).toDF("s", "v"), idBase, "row_id")
      val ids = TxLog.read(spark, idBase).select("row_id")
        .collect().map(_.getLong(0))
      assert(ids.distinct.length == 11, s"ids must stay unique: $ids")
    } finally sql.sql("DROP TABLE IF EXISTS txdml_ident")
  }

  test("CONVERT TO TXLOG adopts a plain parquet dir over SQL (one " +
    "metadata commit, stats included); DESCRIBE DETAIL reports the " +
    "protocol versions; re-converting fails loudly") {
    val base = "/tmp/graft_txsqldml/convert"
    TxLog.drop(spark, base)
    import spark.implicits._
    (1 to 1000).map(i => (i, s"c-$i")).toDF("k", "s")
      .repartition(2).write.mode("overwrite").parquet(base)
    val v = sql.sql(s"CONVERT TO TXLOG '$base' STATS (k)").head.getLong(0)
    assert(v == 1L)
    assert(TxLog.operationOf(spark, base, 1L).contains("CONVERT"))
    assert(TxLog.manifest(spark, base, 1L)._1
      .forall(e => e.rows > 0 && e.statsFor("k").isDefined))
    sql.sql("DROP TABLE IF EXISTS txdml_conv")
    sql.sql("CREATE TABLE txdml_conv " +
      s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
    try {
      assert(sql.sql("SELECT count(*) AS n FROM txdml_conv")
        .head.getLong(0) == 1000)
      val d = sql.sql("DESCRIBE DETAIL txdml_conv").head
      assert(d.getAs[Int]("min_reader_version") == 1)
      assert(d.getAs[Int]("min_writer_version") == 1)
      val again = intercept[Exception] {
        sql.sql(s"CONVERT TO TXLOG '$base'")
      }
      assert(again.getMessage.contains("already has committed versions"))
    } finally sql.sql("DROP TABLE IF EXISTS txdml_conv")
  }

  test("WHEN NOT MATCHED BY SOURCE THEN DELETE: the incremental " +
    "full-sync — vanished keys die, surviving rows stay in place, " +
    "new keys insert, all in ONE commit") {
    val base = "/tmp/graft_txsqldml/sync"
    seed(base, "txdml_sync")
    val before = files(base)
    val vBefore = TxLog.latestVersion(spark, base).get
    try {
      // source keeps keys 40..110: 1..39 vanish, 40..100 survive
      // UNTOUCHED (insert-only + sync — no update clause), 101..110 new
      sql.sql("MERGE INTO txdml_sync t USING (SELECT id AS k, " +
        "concat('src-', id) AS s, cast(id AS DOUBLE) AS v " +
        "FROM range(40, 111)) s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
      assert(TxLog.latestVersion(spark, base).contains(vBefore + 1),
        "the three halves must land as ONE commit")
      val snap = TxLog.read(spark, base)
      assert(snap.count() == 71)
      // survivors keep their ORIGINAL values (nothing rewrote them)
      assert(snap.where("k BETWEEN 40 AND 100 AND s = concat('name-', k) " +
        "AND v = k * 10").count() == 61)
      assert(snap.where("k > 100 AND s = concat('src-', k)").count() == 10)
      assert(snap.where("k < 40").count() == 0)
      // MOR: in-span seed band files stay referenced (masked, never
      // rewritten); bands provably BELOW the source span (max k < 40)
      // dropped whole, metadata-only
      val seedEs = TxLog.manifest(spark, base, vBefore)._1
      val after = files(base)
      seedEs.foreach { e =>
        val disjoint = e.statsFor("k").exists(st =>
          TxLog.cmp("long", st.max, "40") < 0)
        assert(after.contains(e.path) != disjoint,
          s"${e.path} (stats ${e.stats}) kept=${after.contains(e.path)}")
      }
      assert(before == seedEs.map(_.path).toSet) // seed sanity
    } finally sql.sql("DROP TABLE IF EXISTS txdml_sync")
  }

  test("sync-delete drops provably-disjoint files metadata-only, and " +
    "the full upsert+sync makes target == source by key") {
    val base = "/tmp/graft_txsqldml/syncdrop"
    seed(base, "txdml_syncdrop") // 4 range-clustered files over k=1..100
    try {
      val seedEs = TxLog.manifest(spark, base, 1L)._1
      val (lowBand, highBand) = seedEs.partition(e =>
        e.statsFor("k").exists(st => TxLog.cmp("long", st.max, "60") < 0))
      assert(lowBand.nonEmpty && highBand.nonEmpty, s"bands: $seedEs")
      // source span k=60..120: the low-band files are DISJOINT from
      // it — every row provably vanished, so they drop from the
      // manifest without a byte read (no mask sidecar, no rewrite);
      // no UPDATE clause, so in-span survivors stay in place
      sql.sql("MERGE INTO txdml_syncdrop t USING (SELECT id AS k, " +
        "concat('sync-', id) AS s, cast(id AS DOUBLE) AS v " +
        "FROM range(60, 121)) s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
      val after = files(base)
      assert(lowBand.forall(e => !after.contains(e.path)),
        s"disjoint band files must drop whole: $after")
      assert(highBand.forall(e => after.contains(e.path)),
        "in-span band files stay referenced (masked, never rewritten)")
      val snap1 = TxLog.read(spark, base)
      assert(snap1.count() == 61)
      assert(snap1.where("k <= 100 AND s = concat('name-', k)").count()
        == 41, "survivors keep original values")
      // the FULL upsert+sync on top ≡ target == source by key
      sql.sql("MERGE INTO txdml_syncdrop t USING (SELECT id AS k, " +
        "concat('sync-', id) AS s, cast(id AS DOUBLE) AS v " +
        "FROM range(60, 121)) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
      val snap2 = TxLog.read(spark, base).orderBy("k").collect()
      assert(snap2.length == 61)
      assert(snap2.forall(r => r.getString(1) == s"sync-${r.getInt(0)}"))
    } finally sql.sql("DROP TABLE IF EXISTS txdml_syncdrop")
  }

  test("conditional multi-clause MERGE (r11 missing #1): WHEN MATCHED " +
    "AND cond THEN DELETE / WHEN MATCHED THEN UPDATE with an explicit " +
    "assignment list / WHEN NOT MATCHED AND cond THEN INSERT (cols) — " +
    "first-match-wins, qualified and bare references, one commit") {
    val base = "/tmp/graft_txsqldml/cond"
    seed(base, "txdml_cond")
    try {
      sql.sql("CREATE OR REPLACE TEMP VIEW cond_src AS " +
        "SELECT * FROM VALUES " +
        "(10, 'u10', 1.0, false), (11, 'u11', 2.0, true), " +
        "(200, 'n200', 3.0, false), (201, 'n201', 4.0, true) " +
        "AS s(k, s, v, deleted)")
      val v0 = TxLog.latestVersion(spark, base).get
      // the dbt soft-delete recipe, verbatim shape
      sql.sql(
        """MERGE INTO txdml_cond t USING cond_src s ON t.k = s.k
          |WHEN MATCHED AND s.deleted THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v + t.v, s = s.s
          |WHEN NOT MATCHED AND NOT s.deleted THEN
          |  INSERT (k, s) VALUES (s.k, s.s)""".stripMargin)
      val snap = TxLog.read(spark, base)
      assert(snap.count() == 100) // -1 deleted (11), +1 inserted (200)
      // k=10: updated with the explicit list (v = 1.0 + 100.0, s = u10)
      assert(snap.where("k = 10 AND v = 101.0 AND s = 'u10'").count() == 1)
      // k=11: the conditional DELETE fired FIRST (ordering law)
      assert(snap.where("k = 11").count() == 0)
      // k=200: inserted with explicit column list, v is NULL
      assert(snap.where("k = 200 AND s = 'n200' AND v IS NULL").count() == 1)
      // k=201: insert clause condition false — not inserted
      assert(snap.where("k = 201").count() == 0)
      // whole statement = ONE commit
      assert(TxLog.latestVersion(spark, base).get == v0 + 1)
      assert(TxLog.operationOf(spark, base, v0 + 1).contains("MERGE"))
    } finally sql.sql("DROP TABLE IF EXISTS txdml_cond")
  }

  test("conditional WHEN NOT MATCHED BY SOURCE UPDATE/DELETE and the " +
    "cardinality error; result bit-identical to an Upsert-composed " +
    "oracle") {
    val base = "/tmp/graft_txsqldml/cond2"
    seed(base, "txdml_cond2")
    try {
      sql.sql("CREATE OR REPLACE TEMP VIEW cond2_src AS " +
        "SELECT id AS k, concat('s-', id) AS s, " +
        "CAST(id AS DOUBLE) AS v FROM range(50, 150)")
      sql.sql(
        """MERGE INTO txdml_cond2 t USING cond2_src s ON t.k = s.k
          |WHEN MATCHED AND t.v > 700 THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE AND t.k < 10 THEN DELETE
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET s = 'stale'
          |""".stripMargin)
      // composed oracle over the same inputs (target seeded k=1..100,
      // v=k*10; source k=50..149)
      val expect = (1 to 100).flatMap { k =>
        if (k >= 50) { // matched
          if (k * 10 > 700) Some((k, s"name-$k", k.toDouble)) // updated v
          else Some((k, s"name-$k", k * 10.0))               // no clause
        } else if (k < 10) None                              // bySrc del
        else Some((k, "stale", k * 10.0))                    // bySrc upd
      } ++ (101 to 149).map(k => (k, s"s-$k", k.toDouble))   // inserted
      val got = TxLog.read(spark, base).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
      assert(got == expect.toSet)
      // cardinality: duplicate source keys with a firing update fail
      sql.sql("CREATE OR REPLACE TEMP VIEW cond2_dup AS " +
        "SELECT * FROM VALUES (60, 'a', 1.0), (60, 'b', 2.0) " +
        "AS s(k, s, v)")
      val e = intercept[Exception] {
        sql.sql("MERGE INTO txdml_cond2 t USING cond2_dup s " +
          "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v")
      }
      assert(e.getMessage.contains("cardinality"), e.getMessage)
      // ambiguity guard: a bare reference both sides carry errors
      val amb = intercept[Exception] {
        sql.sql("MERGE INTO txdml_cond2 t USING cond2_dup s " +
          "ON t.k = s.k WHEN MATCHED AND v > 0 THEN DELETE")
      }
      assert(amb.getMessage.contains("ambiguous"), amb.getMessage)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_cond2")
  }

  test("multiple conditional MATCHED UPDATE clauses: first-match-wins " +
    "picks per-row; unmatched-by-any-clause rows stay put; explicit " +
    "assignments evaluate against the OLD row simultaneously") {
    val base = "/tmp/graft_txsqldml/cond3"
    seed(base, "txdml_cond3")
    try {
      sql.sql("CREATE OR REPLACE TEMP VIEW cond3_src AS " +
        "SELECT id AS k, CAST(id AS DOUBLE) AS bonus FROM range(1, 31)")
      sql.sql(
        """MERGE INTO txdml_cond3 t USING cond3_src s ON t.k = s.k
          |WHEN MATCHED AND t.k < 10 THEN UPDATE SET v = t.v + s.bonus
          |WHEN MATCHED AND t.k < 20 THEN UPDATE SET v = -1.0, s = t.s || '!'
          |""".stripMargin)
      val snap = TxLog.read(spark, base)
      assert(snap.count() == 100)
      // k in 1..9: first clause (v = k*10 + k)
      assert(snap.where("k < 10 AND v = k * 11.0 AND s = concat('name-', k)")
        .count() == 9)
      // k in 10..19: second clause (simultaneous: s built from OLD s)
      assert(snap.where("k BETWEEN 10 AND 19 AND v = -1.0 AND " +
        "s = concat('name-', k, '!')").count() == 10)
      // k in 20..30: matched, no clause fires — untouched
      assert(snap.where("k BETWEEN 20 AND 30 AND v = k * 10.0").count() == 11)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_cond3")
  }

  test("review regression: a SELF-merge whose source subquery mentions " +
    "the target's table name resolves table-name qualifiers correctly " +
    "(inner names are out of scope, not 'both sides')") {
    val base = "/tmp/graft_txsqldml/selfm"
    seed(base, "txdml_self")
    try {
      // no target alias; the source subquery reads the SAME table —
      // the spine-scoped alias collection must not flag 'txdml_self'
      // as naming both sides
      sql.sql(
        """MERGE INTO txdml_self
          |USING (SELECT k + 1 AS k, s, v FROM txdml_self WHERE k < 5) s
          |ON txdml_self.k = s.k
          |WHEN MATCHED AND txdml_self.v > 10 THEN
          |  UPDATE SET v = s.v + txdml_self.v
          |""".stripMargin)
      val snap = TxLog.read(spark, base)
      // matched keys 2..5 (source k = 2..5 from rows 1..4); v > 10
      // holds for k >= 2, so v_new = old(k)*10 + old(k-1)*10
      assert(snap.where("k BETWEEN 2 AND 5 AND v = k * 10.0 + (k - 1) * 10.0")
        .count() == 4, snap.where("k <= 6").collect().mkString(", "))
      assert(snap.where("k = 1 AND v = 10.0").count() == 1)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_self")
  }

  test("review regression r13: a CONDITIONAL MERGE INTO an EMPTY " +
    "target (file-less create / fully-deleted) binds against the " +
    "declared schema instead of crashing on the snapshot read — the " +
    "empty-table incremental-bootstrap shape, over SQL") {
    val base = "/tmp/graft_txsqldml/emptym"
    TxLog.drop(spark, base)
    sql.sql("DROP TABLE IF EXISTS txdml_emptym")
    try {
      // file-less CREATE: declared schema only, zero data files
      import org.apache.spark.sql.types._
      TxLog.createTable(spark, base, StructType(Seq(
        StructField("k", IntegerType), StructField("s", StringType),
        StructField("v", DoubleType))))
      sql.sql("CREATE TABLE txdml_emptym " +
        s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
      // conditional clause + explicit assignments → the general
      // mergeClauses route (the fast star shapes have their own path)
      sql.sql(
        """MERGE INTO txdml_emptym t
          |USING (SELECT id AS k, concat('n-', id) AS s, id * 2.0 AS v
          |       FROM range(1, 6)) src
          |ON t.k = src.k
          |WHEN MATCHED AND src.v > 100 THEN UPDATE SET v = src.v
          |WHEN NOT MATCHED THEN INSERT (k, s, v)
          |  VALUES (src.k, src.s, src.v)
          |""".stripMargin)
      val snap = TxLog.read(spark, base)
      assert(snap.count() == 5)
      assert(snap.where("v = k * 2.0 AND s = concat('n-', k)").count() == 5)
      // and again after a FULL DELETE (fully-deleted snapshot)
      sql.sql("DELETE FROM txdml_emptym WHERE k >= 0")
      sql.sql(
        """MERGE INTO txdml_emptym t
          |USING (SELECT 9 AS k, 'reborn' AS s, 1.0 AS v) src
          |ON t.k = src.k
          |WHEN MATCHED AND src.v > 0 THEN UPDATE SET v = src.v
          |WHEN NOT MATCHED THEN INSERT (k, s, v)
          |  VALUES (src.k, src.s, src.v)
          |""".stripMargin)
      val snap2 = TxLog.read(spark, base).collect()
      assert(snap2.length == 1 && snap2.head.getInt(0) == 9, snap2.toSeq)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_emptym")
  }

  test("MERGE schema evolution over SQL: SET * / INSERT * with extra " +
    "source columns fails LOUDLY by default (naming them and the " +
    "conf); with spark.graft.schema.autoMerge.enabled the target " +
    "evolves in the same commit and old rows read NULL") {
    val base = "/tmp/graft_txsqldml/automerge"
    seed(base, "txdml_am") // (k, s, v) × 100
    try {
      // default: loud error, never a silent drop — BOTH routes (the
      // fast star shape and the general conditional path)
      val fast = intercept[Exception] {
        sql.sql("MERGE INTO txdml_am t USING (SELECT id AS k, " +
          "concat('n-', id) AS s, id * 1.0 AS v, 'web' AS channel " +
          "FROM range(90, 110)) src ON t.k = src.k " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      }
      assert(fast.getMessage.contains("channel") &&
        fast.getMessage.contains("autoMerge"), fast.getMessage)
      val cond = intercept[Exception] {
        sql.sql("MERGE INTO txdml_am t USING (SELECT id AS k, " +
          "concat('n-', id) AS s, id * 1.0 AS v, 'web' AS channel " +
          "FROM range(90, 110)) src ON t.k = src.k " +
          "WHEN MATCHED AND src.v > 95 THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      }
      assert(cond.getMessage.contains("channel") &&
        cond.getMessage.contains("autoMerge"), cond.getMessage)
      assert(TxLog.read(spark, base).columns.toSet == Set("k", "s", "v"),
        "failed merges leave the schema untouched")
      // conf on: the dbt on_schema_change=append_new_columns shape
      sql.conf.set(graft.sources.TxLogSqlDml.AutoMergeConf, "true")
      try {
        val vPre = TxLog.latestVersion(spark, base).get
        sql.sql("MERGE INTO txdml_am t USING (SELECT id AS k, " +
          "concat('n-', id) AS s, id * 1.0 AS v, 'web' AS channel " +
          "FROM range(90, 110)) src ON t.k = src.k " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
        assert(TxLog.latestVersion(spark, base).get == vPre + 1,
          "evolution + merge are one atomic commit")
        // the evolved surface: matched 90..100 and inserted 101..109
        // carry the channel; untouched 1..89 read NULL. (A session-
        // catalog USING-provider registration freezes its schema at
        // CREATE — Spark's rule for all such tables — so the live
        // surface reads via path / re-registration; the DSv2 catalog
        // route reloads per query.)
        val live = sql.read.format("graft.sources.TxLogSource").load(base)
        assert(live.where("channel = 'web'").count() == 20)
        assert(live.where("channel IS NULL").count() == 89)
        assert(live.count() == 109)
        sql.sql("DROP TABLE txdml_am")
        sql.sql("CREATE TABLE txdml_am " +
          s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
        assert(sql.sql("SELECT count(*) AS n FROM txdml_am " +
          "WHERE channel = 'web'").head.getLong(0) == 20)
      } finally sql.conf.unset(graft.sources.TxLogSqlDml.AutoMergeConf)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_am")
  }

  private def analyzed(q: String) =
    sql.sessionState.executePlan(sql.sessionState.sqlParser.parsePlan(q)).analyzed

  private def starMerge(table: String, src: String) =
    s"MERGE INTO $table t USING $src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"

  test("the dbt star MERGE over a temp view plans TxLogMergeClausesCommand " +
    "(the analyzer has already expanded its stars) and runs the MOR " +
    "upsert's Spark jobs, and reading the target schema starts no Spark " +
    "job") {
    val base = "/tmp/graft_txsqldml/route"
    seed(base, "txdml_route")
    try {
      sql.range(95, 110).selectExpr("cast(id AS INT) AS k",
          "concat('new-', id) AS s", "cast(id AS DOUBLE) AS v")
        .createOrReplaceTempView("txdml_route_src")
      val q = starMerge("txdml_route", "txdml_route_src")
      val (plan, jobs) = SparkTestBase.jobsDuring(analyzed(q))
      assert(plan.isInstanceOf[graft.sources.TxLogMergeClausesCommand],
        plan.getClass.getSimpleName)
      assert(jobs == 0, s"$jobs Spark jobs while analysing the MERGE")
      assert(analyzed("MERGE INTO txdml_route t USING txdml_route_src s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (s.k, s.s, s.v)")
        .isInstanceOf[graft.sources.TxLogMergeClausesCommand])
      // the upsert's jobs (mergeMorAuto: key set, source land, hit
      // collection, mask land); the general clause verb takes more
      val (_, runJobs) = SparkTestBase.jobsDuring(sql.sql(q))
      assert(runJobs == 4, s"$runJobs Spark jobs running the MERGE")
      val snap = TxLog.read(spark, base)
      assert(snap.count() == 109)
      assert(snap.where("k >= 95 AND s = concat('new-', k)").count() == 15)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_route")

    // past 32 files a read plan lists its paths in a Spark job; the
    // MERGE's schema comes from the snapshot and footer cache instead
    val wide = "/tmp/graft_txsqldml/route40"
    TxLog.drop(spark, wide)
    import spark.implicits._
    TxLog.commit((1 to 400).map(i => (i, s"n-$i", i * 1.0)).toDF("k", "s", "v")
      .repartition(40), wide, None, Some("k"))
    val (schema, schemaJobs) = SparkTestBase.jobsDuring(
      graft.sources.TxLogSource.mergeTargetSchema(TxLog.snapshot(spark, wide)))
    assert(schemaJobs == 0, s"$schemaJobs Spark jobs for the target schema")
    assert(schema.fieldNames.toSeq == Seq("k", "s", "v"))
  }

  test("star MERGE cardinality: two source rows for one MATCHED key fail " +
    "and publish nothing; a duplicated UNMATCHED key inserts both rows") {
    val base = "/tmp/graft_txsqldml/card"
    seed(base, "txdml_card")
    try {
      sql.sql("SELECT 5 AS k, 'a' AS s, 1.0D AS v UNION ALL " +
        "SELECT 5, 'b', 2.0D UNION ALL SELECT 300, 'c', 3.0D")
        .createOrReplaceTempView("txdml_card_dup")
      assert(analyzed(starMerge("txdml_card", "txdml_card_dup"))
        .isInstanceOf[graft.sources.TxLogMergeClausesCommand])
      val v0 = TxLog.latestVersion(spark, base).get
      val err = intercept[Exception](
        sql.sql(starMerge("txdml_card", "txdml_card_dup")))
      assert(err.getMessage.contains("matched multiple source rows"),
        err.getMessage)
      // the same law when the source is too large to collect (no
      // broadcast: the distributed check)
      sql.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = try intercept[Exception](
          sql.sql(starMerge("txdml_card", "txdml_card_dup")))
        finally sql.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      assert(big.getMessage.contains("matched multiple source rows"),
        big.getMessage)
      assert(TxLog.latestVersion(spark, base).get == v0)
      sql.sql("SELECT 500 AS k, 'x' AS s, 1.0D AS v UNION ALL " +
        "SELECT 500, 'y', 2.0D UNION ALL SELECT 7, 'z', 3.0D")
        .createOrReplaceTempView("txdml_card_new")
      sql.sql(starMerge("txdml_card", "txdml_card_new"))
      val snap = TxLog.read(spark, base)
      assert(snap.count() == 102)
      assert(snap.where("k = 500").select("s").as[String](
        org.apache.spark.sql.Encoders.STRING).collect().toSet == Set("x", "y"))
      assert(snap.where("k = 7").select("s").head.getString(0) == "z")
    } finally sql.sql("DROP TABLE IF EXISTS txdml_card")
  }

  test("the cardinality law holds on every star shape: UPDATE SET * " +
    "alone and the upsert with NOT MATCHED BY SOURCE DELETE fail on two " +
    "source rows for one matched key and publish nothing; a lone " +
    "WHEN MATCHED THEN DELETE takes them") {
    val base = "/tmp/graft_txsqldml/cardshapes"
    seed(base, "txdml_cardsh")
    try {
      sql.sql("SELECT 5 AS k, 'a' AS s, 1.0D AS v UNION ALL " +
        "SELECT 5, 'b', 2.0D UNION ALL SELECT 300, 'c', 3.0D")
        .createOrReplaceTempView("txdml_cardsh_dup")
      val v0 = TxLog.latestVersion(spark, base).get
      for (q <- Seq(
          "MERGE INTO txdml_cardsh t USING txdml_cardsh_dup s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET *",
          starMerge("txdml_cardsh", "txdml_cardsh_dup") +
            " WHEN NOT MATCHED BY SOURCE THEN DELETE")) {
        val err = intercept[Exception](sql.sql(q))
        assert(err.getMessage.contains("matched multiple source rows"),
          s"$q: ${err.getMessage}")
        assert(TxLog.latestVersion(spark, base).get == v0, q)
      }
      sql.sql("MERGE INTO txdml_cardsh t USING txdml_cardsh_dup s " +
        "ON t.k = s.k WHEN MATCHED THEN DELETE")
      val snap = TxLog.read(spark, base)
      assert(snap.count() == 99)
      assert(snap.where("k = 5").isEmpty)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_cardsh")
  }

  test("star MERGE over a temp view with an extra source column fails " +
    "loudly by default and evolves the target under autoMerge — the " +
    "expanded stars no longer drop the column silently") {
    val base = "/tmp/graft_txsqldml/amview"
    seed(base, "txdml_amview")
    try {
      sql.range(90, 110).selectExpr("cast(id AS INT) AS k",
          "concat('n-', id) AS s", "id * 1.0D AS v", "'web' AS channel")
        .createOrReplaceTempView("txdml_amview_src")
      val err = intercept[Exception](
        sql.sql(starMerge("txdml_amview", "txdml_amview_src")))
      assert(err.getMessage.contains("channel") &&
        err.getMessage.contains("autoMerge"), err.getMessage)
      // a conditional star clause takes the clause route, same rule
      val cond = intercept[Exception](sql.sql(
        "MERGE INTO txdml_amview t USING txdml_amview_src s ON t.k = s.k " +
          "WHEN MATCHED AND s.v > 95 THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *"))
      assert(cond.getMessage.contains("channel"), cond.getMessage)
      assert(TxLog.read(spark, base).columns.toSet == Set("k", "s", "v"))
      sql.conf.set(TxLogSqlDml.AutoMergeConf, "true")
      try sql.sql(starMerge("txdml_amview", "txdml_amview_src"))
      finally sql.conf.unset(TxLogSqlDml.AutoMergeConf)
      val live = sql.read.format("graft.sources.TxLogSource").load(base)
      assert(live.count() == 109)
      assert(live.where("channel = 'web'").count() == 20)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_amview")
  }

  test("a star MERGE over a temp view whose rows all have NULL keys " +
    "inserts them: a NULL key matches no target row") {
    val base = "/tmp/graft_txsqldml/nullkeys"
    seed(base, "txdml_nullkeys")
    try {
      sql.sql("SELECT CAST(NULL AS INT) AS k, 'a' AS s, 1.0D AS v UNION ALL " +
        "SELECT CAST(NULL AS INT), 'b', 2.0D")
        .createOrReplaceTempView("txdml_nullkeys_src")
      assert(analyzed(starMerge("txdml_nullkeys", "txdml_nullkeys_src"))
        .isInstanceOf[graft.sources.TxLogMergeClausesCommand])
      def nullRows() = TxLog.read(spark, base).where("k IS NULL").select("s")
        .as[String](org.apache.spark.sql.Encoders.STRING).collect().sorted.toSeq
      sql.sql(starMerge("txdml_nullkeys", "txdml_nullkeys_src"))
      assert(TxLog.read(spark, base).count() == 102)
      assert(nullRows() == Seq("a", "b"))
      // the same when the source is too large to collect
      sql.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try sql.sql(starMerge("txdml_nullkeys", "txdml_nullkeys_src"))
      finally sql.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      assert(TxLog.read(spark, base).count() == 104)
      assert(nullRows() == Seq("a", "a", "b", "b"))
    } finally sql.sql("DROP TABLE IF EXISTS txdml_nullkeys")
  }

  test("star MERGE on DECIMAL(20,0) keys that a double cannot tell " +
    "apart: distinct source keys are no duplicate, and each matches " +
    "only its own target row") {
    val base = "/tmp/graft_txsqldml/deckeys"
    TxLog.drop(spark, base)
    def keys(rows: Seq[(String, String)]) = rows.map { case (k, s) =>
      s"SELECT CAST('$k' AS DECIMAL(20,0)) AS k, '$s' AS s" }.mkString(" UNION ALL ")
    TxLog.commit(sql.sql(keys(Seq("9007199254740992" -> "t0",
      "12345678901234567890" -> "t2"))), base, None, None)
    sql.sql("DROP TABLE IF EXISTS txdml_deckeys")
    sql.sql("CREATE TABLE txdml_deckeys USING graft.sources.TxLogSource " +
      s"OPTIONS (path '$base')")
    try {
      val source = Seq("9007199254740992" -> "s0", "9007199254740993" -> "s1",
        "12345678901234567890" -> "s2", "12345678901234567891" -> "s3")
      sql.sql(keys(source)).createOrReplaceTempView("txdml_deckeys_src")
      assert(analyzed(starMerge("txdml_deckeys", "txdml_deckeys_src"))
        .isInstanceOf[graft.sources.TxLogMergeClausesCommand])
      sql.sql(starMerge("txdml_deckeys", "txdml_deckeys_src"))
      val got = TxLog.read(spark, base).collect()
        .map(r => r.getDecimal(0).toPlainString -> r.getString(1)).toSet
      assert(got == source.toSet)
    } finally sql.sql("DROP TABLE IF EXISTS txdml_deckeys")
  }
}
