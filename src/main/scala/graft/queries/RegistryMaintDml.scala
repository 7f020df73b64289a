package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Layout, TextAnalysis, TxLog, Upsert, Versioned}
import graft.sources.{Ingest, Tables}

/** DML verbs over the transaction log, split out of RegistryMaint by
  * feature family (r13 hygiene item): copy-on-write and merge-on-read
  * DELETE/UPDATE/MERGE, the SQL DML + maintenance statements routed
  * through the parser rung, conditional/evolving merge clauses, COPY
  * INTO, and log-driven VACUUM LITE. Shared fixtures stay in
  * RegistryMaint (imported below) so witnesses and oracles cannot
  * drift apart. */
object RegistryMaintDml {
  private type Q = (SparkSession, String) => DataFrame
  import RegistryMaint.{t, morFixture, cowLo, cowHi, morLo, morHi}

  val defs: Map[String, Q] = Map(
    // Copy-on-write MERGE through the manifest log (Delta's file-level
    // MERGE shape): the table is range-clustered on event_id with
    // per-file min/max stats in the manifest, and the CDC source
    // touches a narrow id band — so mergeCow rewrites only the
    // overlapping band files and carries the rest into the new version
    // by reference (the require pins that evidence; at 100 TB this is
    // the difference between rewriting GBs and rewriting the table).
    // The oracle recomputes the merged state with a CASE.
    "s24_cow_merge_log" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txcow_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      TxLog.commit(ev.repartitionByRange(8, col("event_id")),
        base, None, Some("event_id"))
      val before = TxLog.manifestFiles(s, base, 1L).toSet
      val source = ev.where(col("event_id").between(cowLo, cowHi))
        .withColumn("value", col("value") * 2)
      TxLog.mergeCow(s, base, source, Seq("event_id"), "event_id")
      val after = TxLog.manifestFiles(s, base, 2L).toSet
      val carried = before.intersect(after).size
      require(carried >= 1 && carried < before.size,
        s"COW must carry some files and rewrite some: $carried of ${before.size}")
      TxLog.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // Copy-on-write DELETE through the manifest log (Delta DELETE
    // WHERE analog — the GDPR erasure verb at the file level): the
    // table is range-clustered on event_id, the predicate is a narrow
    // id band plus a residual event_type condition, and deleteRange
    // rewrites ONLY the band files — every out-of-band file rides into
    // the new version by reference (the require pins it). At 100 TB an
    // erasure request rewrites the touched band, never the table. The
    // oracle recomputes the survivors with NOT(...).
    "s28_cow_delete_log" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txdel_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      TxLog.commit(ev.repartitionByRange(8, col("event_id")),
        base, None, Some("event_id"))
      val before = TxLog.manifestFiles(s, base, 1L).toSet
      TxLog.deleteRange(s, base, "event_id", cowLo, cowHi,
        residual = col("event_type") === "click")
      val after = TxLog.manifestFiles(s, base, 2L).toSet
      val carried = before.intersect(after).size
      require(carried >= 1 && carried < before.size,
        s"COW delete must carry some files and rewrite some: " +
          s"$carried of ${before.size}")
      TxLog.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // Copy-on-write UPDATE through the manifest log (Delta UPDATE SET
    // analog): same band + residual shape as the delete; only the
    // overlapping band files are rewritten, non-matching rows inside
    // them are carried bit-identical, and the rewritten files land
    // with fresh min/max stats so skipping stays sharp after DML.
    // The oracle recomputes the new values with a CASE.
    "s29_cow_update_log" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txupd_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      TxLog.commit(ev.repartitionByRange(8, col("event_id")),
        base, None, Some("event_id"))
      val before = TxLog.manifestFiles(s, base, 1L).toSet
      TxLog.updateRange(s, base, "event_id", cowLo, cowHi,
        set = Map("value" -> col("value") * 3),
        residual = col("event_type") === "view")
      val after = TxLog.manifestFiles(s, base, 2L).toSet
      val carried = before.intersect(after).size
      require(carried >= 1 && carried < before.size,
        s"COW update must carry some files and rewrite some: " +
          s"$carried of ${before.size}")
      TxLog.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // Merge-on-read DELETE via deletion vectors (Delta DV analog —
    // the write-amplification killer s28's COW path can't be): two
    // overlapping deletes with residual predicates commit by writing
    // ONLY (file, row-position) sidecars — the requires pin that the
    // data-file set is IDENTICAL across all three versions, so at
    // 100 TB a delete costs O(deleted rows), never a band rewrite.
    // Reads apply the mask as a broadcast anti-join on parquet's
    // _metadata.row_index. The oracle recomputes survivors with the
    // two NOT(...) predicates.
    "s39_mor_delete" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txmor_events"
      val before = morFixture(s, dir, base)
      Seq(2L, 3L).foreach { v =>
        require(TxLog.manifestFiles(s, base, v).toSet == before,
          s"MOR delete must rewrite ZERO data files (version $v)")
      }
      TxLog.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // Deletion-vector purge (Delta REORG TABLE ... APPLY (PURGE)
    // analog): after the same two MOR deletes, purge rewrites ONLY
    // the masked files folding their sidecars in — clean files ride
    // by reference (the require pins both halves) — and the readback
    // after purge must be bit-identical to the masked read (same
    // oracle recompute as s39). This is the maintenance verb that
    // keeps a high-churn delete workload's read amplification bounded.
    "s40_mor_purge" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txpurge_events"
      val before = morFixture(s, dir, base)
      val masked = TxLog.manifest(s, base, 3L)._1.count(_.dv.isDefined)
      TxLog.purgeDeletes(s, base)
      val entries = TxLog.manifest(s, base, 4L)._1
      require(entries.forall(_.dv.isEmpty), "purge must clear every mask")
      val carried = entries.map(_.path).toSet.intersect(before).size
      require(carried == before.size - masked && masked >= 1,
        s"purge must rewrite ONLY the $masked masked files " +
          s"(carried $carried of ${before.size})")
      TxLog.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // Merge-on-read UPDATE (Delta's DV update path — mask + append):
    // the same band+residual shape as s29's COW update, but the hit
    // rows are MASKED in place and their updated images land as new
    // files in the SAME commit — the require pins that every original
    // file rides untouched and only fresh files were added. Write
    // cost O(updated rows), never a band rewrite. Oracle: identical
    // CASE recompute to s29.
    "s42_mor_update" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txmorupd_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      TxLog.commit(ev.repartitionByRange(8, col("event_id")),
        base, None, Some("event_id"))
      val before = TxLog.manifestFiles(s, base, 1L).toSet
      TxLog.updateRangeMor(s, base, "event_id", cowLo, cowHi,
        set = Map("value" -> col("value") * 3),
        residual = col("event_type") === "view")
      val after = TxLog.manifestFiles(s, base, 2L).toSet
      require(before.subsetOf(after) && after.size > before.size,
        s"MOR update must carry every original file and append: " +
          s"${before.size} -> ${after.size}")
      TxLog.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // Merge-on-read MERGE (Delta's DV merge path): matched target
    // rows are masked, the whole CDC batch appends — row-level result
    // identical to s24's COW merge (same oracle recompute), but ZERO
    // target files are rewritten: files leave the manifest only by
    // becoming fully masked (the require pins no rewrites). The shape
    // that keeps a continuous CDC feed against a 100 TB table from
    // amplifying every batch into band rewrites.
    "s43_mor_merge" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txmormrg_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      TxLog.commit(ev.repartitionByRange(8, col("event_id")),
        base, None, Some("event_id"))
      val before = TxLog.manifestFiles(s, base, 1L).toSet
      val source = ev.where(col("event_id").between(cowLo, cowHi))
        .withColumn("value", col("value") * 2)
      TxLog.mergeMor(s, base, source, Seq("event_id"), "event_id")
      val v2 = TxLog.manifest(s, base, 2L)._1
      val after = v2.map(_.path).toSet
      require(before.intersect(after).nonEmpty,
        "MOR merge must carry out-of-band files by reference")
      // no-rewrite pin: the only NEW rows in v2 are the source batch
      // itself — a rewrite would have to fold surviving band rows into
      // fresh files, inflating the added-row total past the source's
      val addedRows = v2.filterNot(e => before.contains(e.path))
        .map(_.rows).sum
      require(addedRows == source.count(),
        s"MOR merge must append exactly the source batch " +
          s"($addedRows rows added)")
      TxLog.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // SQL row-level DELETE over the catalog-registered log table (the
    // reference's dbt lifecycle issues row-level DML as SQL through
    // the endpoint): DELETE FROM ... WHERE routes through DSv2
    // SupportsDelete into the merge-on-read delete — the requires pin
    // that ZERO data files were rewritten (mask-only commit, O(deleted
    // rows)) and that the band predicate pre-pruned the masked files
    // by manifest stats. Oracle recomputes the survivors.
    "s48_sql_delete" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txsqldel_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select("event_id", "event_type", "value")
      TxLog.commit(ev.repartitionByRange(8, col("event_id")),
        base, None, Some("event_id"))
      val before = TxLog.manifestFiles(s, base, 1L).toSet
      s.sql("DROP TABLE IF EXISTS txlog_sql_del_w")
      s.sql("CREATE TABLE txlog_sql_del_w " +
        s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
      try {
        s.sql(s"DELETE FROM txlog_sql_del_w WHERE event_id BETWEEN " +
          s"$cowLo AND $cowHi AND event_type = 'click'")
      } finally s.sql("DROP TABLE IF EXISTS txlog_sql_del_w")
      val v = TxLog.latestVersion(s, base).get
      val entries = TxLog.manifest(s, base, v)._1
      require(entries.map(_.path).toSet == before,
        "SQL DELETE must be merge-on-read: no data file rewritten")
      require(entries.exists(_.dv.isDefined) &&
        entries.count(_.dv.isDefined) < entries.size,
        "stats must pre-prune: only band files may carry masks")
      TxLog.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // SQL UPDATE on the catalog-registered log table: the resolution
    // rule (GraftExtensions rung (c)) rewrites UpdateTable into the
    // merge-on-read update — rows change, zero data files rewritten
    // (the require pins it). Statements run on a newSession() of the
    // armed lineage, the same path every Thrift-served session takes.
    // Oracle recomputes with a CASE.
    "s51_sql_update" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txsqlupd_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      TxLog.commit(od.repartitionByRange(4, col("o_orderkey")),
        base, None, Some("o_orderkey"))
      val before = TxLog.manifestFiles(s, base, 1L).toSet
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txdml_upd_w")
      sqlS.sql("CREATE TABLE txdml_upd_w " +
        s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
      try {
        sqlS.sql("UPDATE txdml_upd_w SET o_totalprice = o_totalprice * 2 " +
          "WHERE o_orderkey BETWEEN 100 AND 299")
      } finally sqlS.sql("DROP TABLE IF EXISTS txdml_upd_w")
      val entries = TxLog.manifest(s, base,
        TxLog.latestVersion(s, base).get)._1
      require(before.subsetOf(entries.map(_.path).toSet),
        "SQL UPDATE must be merge-on-read: no original file dropped")
      TxLog.read(s, base)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // SQL MERGE INTO — the exact dbt shape the reference runs
    // (`incremental_strategy='merge'` → MERGE ... WHEN MATCHED THEN
    // UPDATE SET * WHEN NOT MATCHED THEN INSERT *): matched keys are
    // masked and re-landed with the source image, unmatched source
    // keys insert, in ONE merge-on-read commit. Oracle recomputes the
    // merged state with a CASE + UNION of the inserted band.
    "s52_sql_merge" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txsqlmerge_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      TxLog.commit(
        od.where(col("o_orderkey") >= 500)
          .repartitionByRange(4, col("o_orderkey")),
        base, None, Some("o_orderkey"))
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txdml_merge_w")
      sqlS.sql("CREATE TABLE txdml_merge_w " +
        s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
      try {
        sqlS.sql("MERGE INTO txdml_merge_w t USING (" +
          s"SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS " +
          s"o_totalprice FROM parquet.`$dir/orders.parquet` " +
          "WHERE o_orderkey < 1000) s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
      } finally sqlS.sql("DROP TABLE IF EXISTS txdml_merge_w")
      TxLog.read(s, base)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // Maintenance SQL grammar (the injectParser rung): OPTIMIZE
    // bin-packs straggler appends and VACUUM trims history, both as
    // plain SQL a JDBC operator could issue — the requires pin that
    // the file count dropped and only the final version survived,
    // while content is untouched. Oracle: the content aggregate.
    "s53_sql_optimize" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txsqlopt_lineitem"
      TxLog.drop(s, base)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      TxLog.commit(
        li.where(col("l_orderkey") % 10 !== 0)
          .repartitionByRange(8, col("l_orderkey")),
        base, None, Some("l_orderkey"))
      Seq(0, 1, 2).foreach(i => TxLog.append(
        li.where(col("l_orderkey") % 10 === 0 &&
          col("l_orderkey") % 3 === i).coalesce(1), base, Some("l_orderkey")))
      val preFiles = TxLog.manifest(s, base, 4L)._1.size
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txsql_opt_w")
      sqlS.sql("CREATE TABLE txsql_opt_w " +
        s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
      try {
        sqlS.sql("OPTIMIZE txsql_opt_w")
        val postFiles = TxLog.manifest(s, base,
          TxLog.latestVersion(s, base).get)._1.size
        require(postFiles < preFiles,
          s"OPTIMIZE must fold stragglers: $preFiles -> $postFiles")
        val kept = sqlS.sql("VACUUM txsql_opt_w RETAIN 1 VERSIONS")
          .collect().map(_.getLong(0)).toSeq
        require(kept.size == 1, s"VACUUM must keep one version: $kept")
      } finally sqlS.sql("DROP TABLE IF EXISTS txsql_opt_w")
      TxLog.read(s, base)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // The reference's dbt incremental lifecycle END-TO-END on the log
    // (SURVEY §3 E2, stg_properties.sql:1-16): day-1 state
    // materialized into a txlog table; day-2 increment selected by
    // the is_incremental() watermark against the CURRENT table state,
    // deduped latest-per-key, and applied as SQL
    // `MERGE INTO ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    // THEN INSERT *` — exactly the statement dbt-spark emits over
    // Thrift for incremental_strategy='merge'. Zero files rewritten
    // (merge-on-read), snapshot-isolated readers throughout. The
    // oracle is the same latest-per-user recompute as
    // pipeline_incremental_run — two routes, one truth.
    "s54_dbt_merge_lifecycle" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val d2 = to_timestamp(lit("2024-01-10 00:00:00"))
      val d3 = to_timestamp(lit("2024-01-20 00:00:00"))
      def latest(df: DataFrame) = graft.operators.Dedup.latestByKey(
        df, Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
      val base = Ingest.fixtureDir(dir) + "/txdbt_state"
      val incrPath = Ingest.fixtureDir(dir) + "/txdbt_incr"
      TxLog.drop(s, base)
      // run 1: initial materialization (dbt full-refresh)
      TxLog.commit(
        latest(ev.where(col("ts") < d2))
          .select("user_id", "event_id", "event_type", "value", "ts"),
        base, None, Some("user_id"))
      // run 2: watermark increment against the LIVE table state
      val incr = latest(graft.operators.Incremental.newerThanWatermark(
        ev.where(col("ts") < d3), TxLog.read(s, base), "ts", "ts"))
        .select("user_id", "event_id", "event_type", "value", "ts")
      incr.write.mode("overwrite").parquet(incrPath)
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txdbt_state_w")
      sqlS.sql("CREATE TABLE txdbt_state_w " +
        s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
      try {
        val before = TxLog.manifestFiles(s, base, 1L).toSet
        sqlS.sql("MERGE INTO txdbt_state_w t USING (SELECT * FROM " +
          s"parquet.`$incrPath`) s ON t.user_id = s.user_id " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
        val v2 = TxLog.latestVersion(s, base).get
        require(v2 == 2L, s"one atomic MERGE commit expected, at $v2")
        // merge-on-read write-volume evidence: the NEW files hold
        // exactly the increment's rows — matched state rows were
        // MASKED (or their fully-dead files dropped), never rewritten
        val newRows = TxLog.manifest(s, base, v2)._1
          .filterNot(e => before.contains(e.path)).map(_.rows).sum
        val incrRows = s.read.parquet(incrPath).count()
        require(newRows == incrRows,
          s"write volume must be O(increment): $newRows vs $incrRows")
      } finally sqlS.sql("DROP TABLE IF EXISTS txdbt_state_w")
      TxLog.read(s, base)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    }),

    // SQL RESTORE + DESCRIBE DETAIL (the last two Delta maintenance
    // verbs a SQL/JDBC user reaches for): RESTORE TABLE ... TO
    // VERSION AS OF rolls the table back by REPUBLISHING the target
    // version (history intact, no file moves), RESTORE ... TO
    // TIMESTAMP AS OF resolves latest-commit-at-or-before first, and
    // DESCRIBE DETAIL reports the one-row inventory (live counts,
    // bytes, metadata) after each roll. Final state = v2 restored on
    // top of a v1 rollback, so the oracle is the plain full recompute.
    "s55_sql_restore_detail" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txsqlrestore_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select("event_id", "event_type", "value")
      TxLog.commit(
        ev.where(col("event_id") < 500)
          .repartitionByRange(4, col("event_id")),
        base, None, Some("event_id"))
      TxLog.append(ev.where(col("event_id") >= 500), base, Some("event_id"))
      val t0 = 1700000000000L
      TxLog.setCommitTime(s, base, 1L, t0)
      TxLog.setCommitTime(s, base, 2L, t0 + 60000L)
      val v1n = ev.where(col("event_id") < 500).count()
      val alln = ev.count()
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txsql_restore_w")
      sqlS.sql("CREATE TABLE txsql_restore_w " +
        s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
      try {
        val r1 = sqlS.sql(
          "RESTORE TABLE txsql_restore_w TO VERSION AS OF 1").head
        require(r1.getLong(0) == 1L && r1.getLong(1) == 3L,
          s"restore must republish v1 as v3: $r1")
        val d1 = sqlS.sql("DESCRIBE DETAIL txsql_restore_w").head
        require(d1.getAs[String]("format") == "txlog" &&
          d1.getAs[Long]("version") == 3L &&
          d1.getAs[Long]("num_rows") == v1n &&
          d1.getAs[Long]("size_bytes") > 0L,
          s"DESCRIBE DETAIL must reflect the rolled-back state: $d1")
        // timestamp restore: latest commit at-or-before t0+90s is v2
        // (v3's instant is wall-clock NOW, far above the pinned pair)
        val r2 = sqlS.sql("RESTORE txsql_restore_w TO TIMESTAMP AS OF " +
          s"'${t0 + 90000L}'").head
        require(r2.getLong(0) == 2L && r2.getLong(1) == 4L,
          s"timestamp restore must resolve v2 and publish v4: $r2")
        val d2 = sqlS.sql("DESCRIBE DETAIL txsql_restore_w").head
        require(d2.getAs[Long]("num_rows") == alln,
          s"detail after the second roll must see all rows: $d2")
      } finally sqlS.sql("DROP TABLE IF EXISTS txsql_restore_w")
      TxLog.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // The third MERGE clause (Delta's WHEN NOT MATCHED BY SOURCE THEN
    // DELETE): the incremental full-sync — vanished keys die in the
    // SAME commit as the inserts, surviving rows stay physically in
    // place, and target files provably DISJOINT from the source's key
    // span drop metadata-only (zero bytes read; at 100 TB a re-sync
    // that moves a key window retires old bands for free). The
    // requires pin one-commit atomicity and the disjoint-band drop.
    "s62_merge_sync_delete" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txsync_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      TxLog.commit(
        od.where(col("o_orderkey") < 900)
          .repartitionByRange(4, col("o_orderkey")),
        base, None, Some("o_orderkey"))
      val seedFiles = TxLog.manifest(s, base, 1L)._1
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txdml_sync_w")
      sqlS.sql("CREATE TABLE txdml_sync_w " +
        s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
      try {
        sqlS.sql("MERGE INTO txdml_sync_w t USING (" +
          s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM " +
          s"parquet.`$dir/orders.parquet` " +
          "WHERE o_orderkey BETWEEN 450 AND 1350) s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN NOT MATCHED THEN INSERT * " +
          "WHEN NOT MATCHED BY SOURCE THEN DELETE")
      } finally sqlS.sql("DROP TABLE IF EXISTS txdml_sync_w")
      require(TxLog.latestVersion(s, base).contains(2L),
        "inserts + sync deletes must land as ONE commit")
      val after = TxLog.manifest(s, base, 2L)._1.map(_.path).toSet
      val dropped = seedFiles.filter(e => e.statsFor("o_orderkey")
        .exists(st => TxLog.cmp("long", st.max, "450") < 0))
      require(dropped.nonEmpty && dropped.forall(e => !after.contains(e.path)),
        s"bands below the source span must drop metadata-only: $dropped")
      TxLog.read(s, base)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // Conditional multi-clause MERGE (VERDICT r11 missing #1 — the
    // full Delta clause surface a dbt soft-delete / snapshot recipe
    // emits): ordered WHEN MATCHED AND ... DELETE / conditional
    // UPDATE with an explicit assignment list, conditional INSERT
    // with a column list, and BOTH not-matched-by-source shapes
    // (conditional DELETE + catch-all UPDATE) — first-match-wins,
    // ONE merge-on-read commit. Oracle: the same five clauses
    // composed as relational algebra over the raw table.
    "s68_merge_conditional" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txcond_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      TxLog.commit(
        od.where(col("o_orderkey") < 900)
          .repartitionByRange(4, col("o_orderkey")),
        base, None, Some("o_orderkey"))
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txdml_cond_w")
      sqlS.sql("CREATE TABLE txdml_cond_w " +
        s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
      try {
        sqlS.sql("MERGE INTO txdml_cond_w t USING (" +
          "SELECT o_orderkey, o_orderstatus, o_totalprice, " +
          s"o_orderkey % 10 = 0 AS deleted FROM parquet.`$dir/orders.parquet` " +
          "WHERE o_orderkey BETWEEN 450 AND 1350) s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED AND s.deleted THEN DELETE " +
          "WHEN MATCHED AND t.o_totalprice < 100000 THEN UPDATE SET " +
          "o_totalprice = s.o_totalprice + t.o_totalprice " +
          "WHEN NOT MATCHED AND NOT s.deleted THEN INSERT " +
          "(o_orderkey, o_orderstatus, o_totalprice) VALUES " +
          "(s.o_orderkey, s.o_orderstatus, s.o_totalprice) " +
          "WHEN NOT MATCHED BY SOURCE AND t.o_orderkey < 100 THEN DELETE " +
          "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_orderstatus = 'Z'")
      } finally sqlS.sql("DROP TABLE IF EXISTS txdml_cond_w")
      require(TxLog.latestVersion(s, base).contains(2L),
        "the five-clause statement must land as ONE commit")
      TxLog.read(s, base)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // MERGE schema evolution (VERDICT r12 missing #1 — Delta's
    // schema.autoMerge / dbt-spark `on_schema_change:
    // append_new_columns` on a merge-materialized model): a MERGE
    // whose source carries a NEW column (1) fails LOUDLY by default
    // naming the column — never a silent drop — and (2) with the
    // autoMerge conf evolves the target schema in the SAME commit as
    // the merge: matched rows update with the column, inserts carry
    // it, untouched old-file rows read NULL, and time travel below
    // the merge stays narrow. One atomic commit, O(changed rows)
    // write volume — the evolution itself is a #schema metadata line.
    "s71_merge_evolve" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txevolve_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      TxLog.commit(
        od.where(col("o_orderkey") < 900)
          .repartitionByRange(4, col("o_orderkey")),
        base, None, Some("o_orderkey"))
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txdml_evolve_w")
      sqlS.sql("CREATE TABLE txdml_evolve_w " +
        s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
      val stmt = "MERGE INTO txdml_evolve_w t USING (" +
        "SELECT o_orderkey, o_orderstatus, o_totalprice, " +
        "CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'web' " +
        "WHEN 1 THEN 'app' ELSE 'ops' END AS o_channel " +
        s"FROM parquet.`$dir/orders.parquet` " +
        "WHERE o_orderkey BETWEEN 450 AND 1350) s " +
        "ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"
      try {
        // default: the star shape VETOES (naming column and conf)
        val err = scala.util.Try(sqlS.sql(stmt))
        require(err.isFailure &&
          err.failed.get.getMessage.contains("o_channel"),
          s"autoMerge off must veto the evolving star merge: $err")
        require(TxLog.latestVersion(s, base).contains(1L),
          "the veto must land nothing")
        sqlS.conf.set(graft.sources.TxLogSqlDml.AutoMergeConf, "true")
        sqlS.sql(stmt)
      } finally {
        sqlS.conf.unset(graft.sources.TxLogSqlDml.AutoMergeConf)
        sqlS.sql("DROP TABLE IF EXISTS txdml_evolve_w")
      }
      require(TxLog.latestVersion(s, base).contains(2L),
        "schema evolution + merge must land as ONE commit")
      require(!TxLog.readVersion(s, base, 1L).columns.contains("o_channel"),
        "time travel below the merge must stay narrow")
      require(TxLog.metaOf(s, base, 2L).schema.exists(
        _.fieldNames.contains("o_channel")),
        "the evolved #schema must carry the new column")
      TxLog.readEvolved(s, base)
        .groupBy(coalesce(col("o_channel"), lit("none")).as("channel"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("channel")
    }),

    // COPY INTO (Databricks' idempotent bulk load — the reference's
    // scheduled bronze ingestion, load_bronze_to_table.py, as ONE SQL
    // verb): only never-loaded files land, in one ACID append; the
    // per-file markers ride the txn map, so re-running is exactly-once
    // with no extra state store and no protocol bump. The requires
    // pin the contract: first run loads both waves, the re-run loads
    // ZERO, a third file loads alone. Oracle: the content aggregate.
    "s81_copy_into" -> ((s, dir) => {
      val src = Ingest.fixtureDir(dir) + "/txcopy_src"
      val base = Ingest.fixtureDir(dir) + "/txcopy_orders"
      val fsys = new org.apache.hadoop.fs.Path(src)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(src), true)
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("price"))
      def wave(name: String, lo: Long, hi: Long): Unit = {
        val tmp = s"$src/__tmp_$name"
        od.where(col("k") >= lo && col("k") < hi).coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = fsys.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .find(_.getPath.getName.endsWith(".parquet")).get.getPath
        fsys.rename(part,
          new org.apache.hadoop.fs.Path(s"$src/$name.parquet"))
        fsys.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      wave("a", 0L, 1200L); wave("b", 1200L, 2000L)
      TxLog.append(od.where(col("k") >= 2400 && col("k") < 2600),
        base, Some("k")) // seeds the table outside the copy waves
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txcopy_reg_w")
      sqlS.sql("CREATE TABLE txcopy_reg_w USING graft.sources.TxLogSource " +
        s"OPTIONS (path '$base')")
      try {
        val copy = s"COPY INTO txcopy_reg_w FROM '$src' " +
          "FILEFORMAT = PARQUET PATTERN = '*.parquet'"
        val r1 = sqlS.sql(copy).collect().head
        require(r1.getLong(1) == 2, s"both waves must load: $r1")
        val r2 = sqlS.sql(copy).collect().head
        require(r2.getLong(1) == 0 && r2.getLong(2) == 0,
          s"the re-run must be exactly-once: $r2")
        wave("c", 2000L, 2400L)
        val r3 = sqlS.sql(copy).collect().head
        require(r3.getLong(1) == 1, s"only the new file loads: $r3")
      } finally sqlS.sql("DROP TABLE IF EXISTS txcopy_reg_w")
      TxLog.read(s, base)
        .groupBy((col("k") % 11).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("grp")
    }),

    // VACUUM LITE (Delta 3.3's log-driven vacuum): the reclaim set is
    // computed from the LOG alone — dropped versions' references
    // minus kept liveness — with ZERO data-tree listing, and the
    // per-file deletes fan out executor-side. At 100 TB the LIST is
    // the slow call on object stores; LITE never issues one. The
    // requires pin that an OPTIMIZE's superseded inputs were
    // physically reclaimed (> 0 files), only the final version
    // survives, and content is untouched. Oracle: the content
    // aggregate.
    "s82_vacuum_lite" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txvlite_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("price"))
      TxLog.commit(od.where(col("k") < 1800)
        .repartitionByRange(4, col("k")), base, None, Some("k"))
      Seq(0, 1).foreach(i => TxLog.append(
        od.where(col("k") >= 1800 && col("k") < 2400 &&
          col("k") % 2 === i).coalesce(1), base, Some("k")))
      TxLog.compact(s, base, 1L << 20, 1L << 22) // supersede the inputs
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txvlite_reg_w")
      sqlS.sql("CREATE TABLE txvlite_reg_w USING graft.sources.TxLogSource " +
        s"OPTIONS (path '$base')")
      try {
        val rows = sqlS.sql("VACUUM txvlite_reg_w LITE RETAIN 1 VERSIONS")
          .collect()
        require(rows.length == 1 && rows.head.getLong(1) >= 1,
          s"LITE must reclaim the superseded inputs: ${rows.toSeq}")
      } finally sqlS.sql("DROP TABLE IF EXISTS txvlite_reg_w")
      TxLog.cachePurge(base)
      TxLog.read(s, base)
        .groupBy((col("k") % 13).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("grp")
    }))

  val oracles: Map[String, String] = Map(
    "s24_cow_merge_log" ->
      s"""SELECT event_type, count(*) AS n,
                cast(sum(cast(
                  CASE WHEN event_id BETWEEN $cowLo AND $cowHi
                       THEN value * 2 ELSE value END
                  AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY event_type ORDER BY event_type""",
    "s28_cow_delete_log" ->
      s"""SELECT event_type, count(*) AS n,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         WHERE NOT (event_id BETWEEN $cowLo AND $cowHi
                    AND event_type = 'click')
         GROUP BY event_type ORDER BY event_type""",
    "s29_cow_update_log" ->
      s"""SELECT event_type, count(*) AS n,
                cast(sum(cast(
                  CASE WHEN event_id BETWEEN $cowLo AND $cowHi
                            AND event_type = 'view'
                       THEN value * 3 ELSE value END
                  AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY event_type ORDER BY event_type""",
    "s39_mor_delete" ->
      s"""SELECT event_type, count(*) AS n,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         WHERE NOT (event_id BETWEEN $cowLo AND $cowHi
                    AND event_type = 'click')
           AND NOT (event_id BETWEEN $morLo AND $morHi
                    AND event_type = 'view')
         GROUP BY event_type ORDER BY event_type""",
    "s40_mor_purge" ->
      s"""SELECT event_type, count(*) AS n,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         WHERE NOT (event_id BETWEEN $cowLo AND $cowHi
                    AND event_type = 'click')
           AND NOT (event_id BETWEEN $morLo AND $morHi
                    AND event_type = 'view')
         GROUP BY event_type ORDER BY event_type""",
    "s42_mor_update" ->
      s"""SELECT event_type, count(*) AS n,
                cast(sum(cast(
                  CASE WHEN event_id BETWEEN $cowLo AND $cowHi
                            AND event_type = 'view'
                       THEN value * 3 ELSE value END
                  AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY event_type ORDER BY event_type""",
    "s43_mor_merge" ->
      s"""SELECT event_type, count(*) AS n,
                cast(sum(cast(
                  CASE WHEN event_id BETWEEN $cowLo AND $cowHi
                       THEN value * 2 ELSE value END
                  AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY event_type ORDER BY event_type""",
    "s48_sql_delete" ->
      s"""SELECT event_type, count(*) AS n,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         WHERE NOT (event_id BETWEEN $cowLo AND $cowHi
                    AND event_type = 'click')
         GROUP BY event_type ORDER BY event_type""",
    "s51_sql_update" ->
      """SELECT o_orderstatus, count(*) AS n,
                cast(sum(cast(
                  CASE WHEN o_orderkey BETWEEN 100 AND 299
                       THEN o_totalprice * 2 ELSE o_totalprice END
                  AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "s52_sql_merge" ->
      """SELECT o_orderstatus, count(*) AS n,
                cast(sum(cast(
                  CASE WHEN o_orderkey < 1000
                       THEN o_totalprice * 2 ELSE o_totalprice END
                  AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "s53_sql_optimize" ->
      """SELECT l_returnflag, count(*) AS n,
                cast(sum(cast(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "s54_dbt_merge_lifecycle" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
           FROM events WHERE ts < TIMESTAMP '2024-01-20')
         WHERE rn = 1 ORDER BY user_id""",
    "s55_sql_restore_detail" ->
      """SELECT event_type, count(*) AS n,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "s62_merge_sync_delete" ->
      """SELECT o_orderstatus, count(*) AS n,
                cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
         FROM orders WHERE o_orderkey BETWEEN 450 AND 1350
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "s68_merge_conditional" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                    FROM orders WHERE o_orderkey < 900),
              s AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                           (o_orderkey % 10 = 0) AS deleted
                    FROM orders WHERE o_orderkey BETWEEN 450 AND 1350),
              merged AS (
                SELECT t.o_orderkey, t.o_orderstatus,
                       CASE WHEN t.o_totalprice < 100000
                            THEN s.o_totalprice + t.o_totalprice
                            ELSE t.o_totalprice END AS o_totalprice
                FROM t JOIN s ON t.o_orderkey = s.o_orderkey
                WHERE NOT s.deleted
                UNION ALL
                SELECT t.o_orderkey, 'Z' AS o_orderstatus, t.o_totalprice
                FROM t WHERE t.o_orderkey NOT IN
                  (SELECT o_orderkey FROM s) AND t.o_orderkey >= 100
                UNION ALL
                SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice
                FROM s WHERE s.o_orderkey NOT IN
                  (SELECT o_orderkey FROM t) AND NOT s.deleted)
         SELECT o_orderstatus, count(*) AS n,
                cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
         FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "s71_merge_evolve" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                    FROM orders WHERE o_orderkey < 900),
              s AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                           CASE CAST(o_orderkey % 3 AS INTEGER)
                                WHEN 0 THEN 'web' WHEN 1 THEN 'app'
                                ELSE 'ops' END AS o_channel
                    FROM orders WHERE o_orderkey BETWEEN 450 AND 1350),
              merged AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice, o_channel
                FROM s
                UNION ALL
                SELECT o_orderkey, o_orderstatus, o_totalprice,
                       NULL AS o_channel
                FROM t WHERE o_orderkey NOT IN
                  (SELECT o_orderkey FROM s))
         SELECT coalesce(o_channel, 'none') AS channel, count(*) AS n,
                cast(sum(cast(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
         FROM merged GROUP BY 1 ORDER BY 1""",
    "s81_copy_into" ->
      """WITH t AS (SELECT cast(o_orderkey AS BIGINT) AS k,
                           cast(o_totalprice AS DOUBLE) AS price
                    FROM orders WHERE o_orderkey < 2600)
         SELECT cast(k % 11 AS INTEGER) AS grp, count(*) AS n,
                cast(sum(cast(price AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
         FROM t GROUP BY 1 ORDER BY 1""",
    "s82_vacuum_lite" ->
      """WITH t AS (SELECT cast(o_orderkey AS BIGINT) AS k,
                           cast(o_totalprice AS DOUBLE) AS price
                    FROM orders WHERE o_orderkey < 2400)
         SELECT cast(k % 13 AS INTEGER) AS grp, count(*) AS n,
                cast(sum(cast(price AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
         FROM t GROUP BY 1 ORDER BY 1""")
}
