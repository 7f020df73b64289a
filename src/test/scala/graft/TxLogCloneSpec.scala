package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** Deep clone (Delta `CREATE TABLE ... DEEP CLONE`): an INDEPENDENT
  * materialized copy. The laws pin the property shallow clones can't
  * give — the source can be vacuumed or dropped outright and the
  * clone keeps serving — plus metadata carriage (constraints, row-id
  * high-water, DV masks) and the SQL route. */
class TxLogCloneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val rows = (1L to 200L).map(k => (k, s"v$k"))

  private def seed(base: String): Unit = {
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.append(rows.take(120).toDF("k", "v"), base, Some("k"))
    TxLog.append(rows.drop(120).toDF("k", "v"), base, Some("k"))
  }

  private def contents(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("a deep clone survives DROPPING the source; its manifest holds " +
    "no absolute references; DV masks are copied, not shared") {
    val src = "/tmp/graft_txclone/deep_src"
    val dst = "/tmp/graft_txclone/deep_dst"
    seed(src)
    TxLog.deleteRangeMor(spark, src, "k", 30L, 60L)
    val expect = rows.filterNot { case (k, _) => k >= 30 && k <= 60 }.toSet
    TxLog.drop(spark, dst)
    TxLog.cloneDeep(spark, src, dst)
    val entries = TxLog.manifest(spark, dst, 1L)._1
    assert(entries.forall(e => !e.path.startsWith("/") &&
      !e.path.contains("://")), "deep-clone entries must be dst-relative")
    assert(entries.exists(_.dv.isDefined), "the DV mask must ride")
    assert(entries.flatMap(_.dv).forall(d => !d.dir.startsWith("/")),
      "the DV sidecar must be COPIED into the clone, not referenced")
    // the decoupling law: destroy the source entirely
    TxLog.drop(spark, src)
    TxLog.cachePurge(dst)
    assert(contents(TxLog.read(spark, dst)) == expect,
      "the clone must keep serving after the source is gone")
  }

  test("deep-cloning a SHALLOW clone re-homes the cloned-in absolute " +
    "entries; dropping both ancestors leaves it intact") {
    val src = "/tmp/graft_txclone/chain_src"
    val mid = "/tmp/graft_txclone/chain_mid"
    val dst = "/tmp/graft_txclone/chain_dst"
    seed(src)
    TxLog.drop(spark, mid)
    TxLog.cloneShallow(spark, src, mid)
    TxLog.drop(spark, dst)
    TxLog.cloneDeep(spark, mid, dst)
    assert(TxLog.manifest(spark, dst, 1L)._1.forall(e =>
      !e.path.startsWith("/") && !e.path.contains("://")),
      "absolute (cloned-in) entries must be re-homed under the clone")
    TxLog.drop(spark, src)
    TxLog.drop(spark, mid)
    TxLog.cachePurge(dst)
    assert(contents(TxLog.read(spark, dst)) == rows.toSet)
  }

  test("table metadata rides the deep clone: constraints veto writes, " +
    "row ids are preserved verbatim (same rows, same lineage)") {
    val src = "/tmp/graft_txclone/meta_src"
    val dst = "/tmp/graft_txclone/meta_dst"
    seed(src)
    TxLog.addConstraint(spark, src, "k_pos", "k > 0")
    TxLog.enableRowTracking(spark, src)
    val srcIds = TxLog.readWithRowIds(spark, src)
      .select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    TxLog.drop(spark, dst)
    TxLog.cloneDeep(spark, src, dst)
    TxLog.drop(spark, src)
    TxLog.cachePurge(dst)
    val dstIds = TxLog.readWithRowIds(spark, dst)
      .select("k", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dstIds == srcIds,
      "the copied rows ARE the same rows — ids must match exactly")
    import spark.implicits._
    val bad = intercept[Exception] {
      TxLog.append(Seq((-1L, "nope")).toDF("k", "v"), dst, Some("k"))
    }
    assert(bad.getMessage != null)
  }

  test("VERSION AS OF clones materialize the PINNED snapshot — " +
    "content and metadata of that version, not the latest") {
    val src = "/tmp/graft_txclone/ver_src"
    val dst = "/tmp/graft_txclone/ver_dst"
    val dst2 = "/tmp/graft_txclone/ver_dst_sql"
    seed(src) // v1: 120 rows, v2: +80 rows
    TxLog.addConstraint(spark, src, "late_cons", "k > 0") // v3 metadata
    TxLog.drop(spark, dst)
    TxLog.cloneDeep(spark, src, dst, versionAsOf = Some(1L))
    assert(contents(TxLog.read(spark, dst)) == rows.take(120).toSet,
      "the clone must hold version 1's content only")
    assert(TxLog.metaOf(spark, dst, 1L).constraints.isEmpty,
      "version 1 predates the constraint — it must NOT ride")
    val bad = intercept[IllegalArgumentException] {
      TxLog.cloneShallow(spark, src, "/tmp/graft_txclone/ver_nope",
        versionAsOf = Some(99L))
    }
    assert(bad.getMessage.contains("cannot clone version"))
    // the SQL grammar variant
    TxLog.drop(spark, dst2)
    graft.sources.TxLogSqlDml.ensureInjected(spark)
    val s = spark.newSession()
    s.sql("DROP TABLE IF EXISTS txclone_ver_w")
    s.sql("CREATE TABLE txclone_ver_w USING graft.sources.TxLogSource " +
      s"OPTIONS (path '$src')")
    try {
      s.sql("CREATE TABLE cv SHALLOW CLONE txclone_ver_w " +
        s"VERSION AS OF 1 LOCATION '$dst2'").collect()
      assert(contents(TxLog.read(spark, dst2)) == rows.take(120).toSet)
    } finally s.sql("DROP TABLE IF EXISTS txclone_ver_w")
  }

  test("clone refuses a non-empty destination") {
    val src = "/tmp/graft_txclone/veto_src"
    val dst = "/tmp/graft_txclone/veto_dst"
    seed(src)
    seed(dst)
    val e = intercept[IllegalArgumentException] {
      TxLog.cloneDeep(spark, src, dst)
    }
    assert(e.getMessage.contains("already has committed versions"))
  }

  test("SQL: CREATE TABLE d SHALLOW|DEEP CLONE s LOCATION routes to " +
    "the verbs; a deep clone's LOCATION survives source vacuum") {
    val src = "/tmp/graft_txclone/sql_src"
    val sh = "/tmp/graft_txclone/sql_shallow"
    val dp = "/tmp/graft_txclone/sql_deep"
    seed(src)
    TxLog.drop(spark, sh)
    TxLog.drop(spark, dp)
    graft.sources.TxLogSqlDml.ensureInjected(spark)
    val s = spark.newSession()
    s.sql("DROP TABLE IF EXISTS txclone_src_w")
    s.sql("CREATE TABLE txclone_src_w USING graft.sources.TxLogSource " +
      s"OPTIONS (path '$src')")
    try {
      val r1 = s.sql(s"CREATE TABLE c1 SHALLOW CLONE txclone_src_w " +
        s"LOCATION '$sh'").collect()
      assert(r1.head.getLong(1) == 1L)
      assert(TxLog.manifest(spark, sh, 1L)._1.forall(e =>
        TxLog.isAbsolute(e.path)),
        "shallow = absolute references into the source")
      val r2 = s.sql(s"CREATE TABLE c2 DEEP CLONE txclone_src_w " +
        s"LOCATION '$dp'").collect()
      assert(r2.head.getString(0) == dp && r2.head.getLong(1) == 1L)
      TxLog.drop(spark, src)
      TxLog.cachePurge(dp)
      assert(contents(TxLog.read(spark, dp)) == rows.toSet)
      // the shallow clone is now dangling — the documented hazard the
      // deep clone exists to avoid (read must fail, not serve garbage)
      TxLog.cachePurge(sh)
      intercept[Exception] { TxLog.read(spark, sh).count() }
    } finally s.sql("DROP TABLE IF EXISTS txclone_src_w")
  }

  test("SQL: a destination outside a graft catalog without LOCATION " +
    "is rejected with guidance") {
    val src = "/tmp/graft_txclone/sqlveto_src"
    seed(src)
    graft.sources.TxLogSqlDml.ensureInjected(spark)
    val s = spark.newSession()
    s.sql("DROP TABLE IF EXISTS txclone_veto_w")
    s.sql("CREATE TABLE txclone_veto_w USING graft.sources.TxLogSource " +
      s"OPTIONS (path '$src')")
    try {
      val e = intercept[Exception] {
        s.sql("CREATE TABLE nowhere_t DEEP CLONE txclone_veto_w").collect()
      }
      assert(e.getMessage.contains("LOCATION"),
        s"needs the guidance message, got: ${e.getMessage}")
    } finally s.sql("DROP TABLE IF EXISTS txclone_veto_w")
  }
}
