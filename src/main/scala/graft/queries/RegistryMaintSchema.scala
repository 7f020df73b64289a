package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Layout, TextAnalysis, TxLog, Upsert, Versioned}
import graft.sources.{Ingest, Tables}

/** Schema & table-metadata verbs over the transaction log, split out
  * of RegistryMaint by feature family (r13 hygiene item): evolution,
  * constraints, identity, catalog lifecycle, ALTER ADD/WIDEN, column
  * mapping, partitioning + generated partition columns, CLUSTER BY,
  * row tracking, in-commit timestamps, clones, defaults, DROP
  * FEATURE, and the table_changes TVF. */
object RegistryMaintSchema {
  private type Q = (SparkSession, String) => DataFrame
  import RegistryMaint.{t}

  val defs: Map[String, Q] = Map(
    // Schema evolution across manifest versions (Delta mergeSchema on
    // both sides of the log): version 1 lands the original schema,
    // version 2 appends rows carrying a NEW column, and readEvolved
    // unions the file schemas — pre-evolution rows surface NULL in the
    // new column, exactly the reference's mergeSchema=true load
    // (load_bronze_to_table.py:158). The aggregate pins both halves:
    // the old rows' NULL count and the new column's sum.
    "s30_schema_evolution" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txevolve_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events").select("event_id", "user_id", "value")
      TxLog.commit(ev.where(col("event_id") < 500)
          .repartitionByRange(2, col("event_id")),
        base, None, Some("event_id"))
      TxLog.append(
        ev.where(col("event_id") >= 500)
          .withColumn("value_x2", col("value") * 2),
        base, Some("event_id"))
      TxLog.readEvolved(s, base)
        .agg(count(lit(1)).as("n_rows"),
          count(col("value_x2")).as("n_evolved"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"),
          sum(col("value_x2").cast("decimal(18,6)")).cast("double")
            .as("sum_value_x2"))
    }),

    // CHECK constraints (Delta ALTER TABLE ... ADD CONSTRAINT): the
    // gate every write surface passes through at land time — the
    // requires pin that a violating append aborts with NOTHING
    // published (no version, no orphan files) while a valid append
    // lands under the same constraint. At 100 TB this is the schema-
    // quality contract that keeps a bad upstream batch from
    // poisoning the table. Oracle: events plus the valid batch.
    "s44_check_constraint" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txcons_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      TxLog.commit(ev.repartitionByRange(8, col("event_id")),
        base, None, Some("event_id"))
      TxLog.addConstraint(s, base, "id_nonneg", "event_id >= 0")
      val rejected = try {
        TxLog.append(ev.limit(5)
          .withColumn("event_id", lit(-1L)), base, Some("event_id"))
        false
      } catch { case _: TxLog.ConstraintViolationException => true }
      require(rejected, "a violating append must be vetoed")
      require(TxLog.latestVersion(s, base).contains(2L),
        "a vetoed append must publish nothing")
      TxLog.append(ev.where(col("event_id") < 50)
        .withColumn("event_id", col("event_id") + 100000L),
        base, Some("event_id"))
      TxLog.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // IDENTITY column (Delta GENERATED ALWAYS AS IDENTITY): two
    // appends get system-assigned surrogate ids — unique, increasing
    // across commits, gaps allowed — via per-partition counters above
    // the manifest's high-water (no shuffle, no global sort: O(batch)
    // at any table size). The requires pin cross-batch monotonicity
    // through the manifest high-water; the readback aggregates are
    // the deterministic face of a gap-tolerant id space. Oracle:
    // row counts from events (ids unique ⇒ n_distinct == n_rows).
    "s45_identity_append" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txid_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
      TxLog.appendIdentity(
        ev.where(col("event_id") < 300)
          .select("user_id", "event_type", "value"),
        base, "row_id", Some("row_id"))
      val w1 = TxLog.metaOf(s, base, 1L).identity("row_id")
      TxLog.appendIdentity(
        ev.where(col("event_id").between(300, 599))
          .select("user_id", "event_type", "value"),
        base, "row_id", Some("row_id"))
      val w2 = TxLog.metaOf(s, base, 2L).identity("row_id")
      require(w2 > w1 && w1 > 0,
        s"identity high-water must grow across commits: $w1 -> $w2")
      TxLog.read(s, base)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("row_id")).as("n_distinct_ids"),
          (count(lit(1)) === countDistinct(col("row_id"))).as("all_unique"),
          (min(col("row_id")) >= 1).as("ids_positive"))
    }),

    "s56_catalog_sql_lifecycle" -> ((s, dir) => {
      val wh = Ingest.fixtureDir(dir) + "/txcat_warehouse"
      TxLog.drop(s, wh + "/lake/events_cat")
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.conf.set("spark.sql.catalog.graftcat",
        "graft.sources.TxLogCatalog")
      sqlS.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
      sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.lake")
      val ev = t(sqlS, dir, "events")
        .select("event_id", "event_type", "value")
      ev.where(col("event_id") < 500).createOrReplaceTempView("ev_p1")
      ev.where(col("event_id") >= 500).createOrReplaceTempView("ev_p2")
      sqlS.sql("CREATE TABLE graftcat.lake.events_cat " +
        "USING graft.sources.TxLogSource AS SELECT * FROM ev_p1")
      sqlS.sql("INSERT INTO graftcat.lake.events_cat " +
        "SELECT * FROM ev_p2")
      val n1 = ev.where(col("event_id") < 500).count()
      // CTAS is ATOMIC since the StagingTableCatalog rung: create +
      // data land as ONE commit (v1), the INSERT is v2
      require(sqlS.sql("SELECT count(*) AS n FROM " +
        "graftcat.lake.events_cat VERSION AS OF 1").head.getLong(0) == n1,
        "VERSION AS OF 1 must see exactly the (atomic) CTAS batch")
      require(sqlS.sql("SELECT count(*) AS n FROM " +
        "graftcat.lake.events_cat VERSION AS OF 2").head.getLong(0) ==
        ev.count(), "VERSION AS OF 2 is CTAS + INSERT")
      require(sqlS.sql("SELECT count(*) AS n FROM " +
        "graftcat.lake.events_cat VERSION AS OF 1 WHERE event_id < 100")
        .head.getLong(0) ==
        ev.where(col("event_id") < 100).count(),
        "stats-pruned filters must work through the pinned snapshot")
      TxLog.read(s, wh + "/lake/events_cat")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // ALTER TABLE ADD COLUMNS (Delta's versioned metaData action):
    // a metadata-only commit widens the DECLARED schema via a
    // `#schema` manifest line — no file moves or rewrites, pre-ALTER
    // rows scan the new column as NULL, the next append fills it, and
    // the line is versioned with the log so time travel below the
    // ALTER stays narrow. The requires pin exactly that; the oracle
    // reproduces the same widened union in portable SQL.
    "s57_alter_add_column" -> ((s, dir) => {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val base = Ingest.fixtureDir(dir) + "/txalter_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events").select("event_id", "event_type", "value")
      TxLog.commit(ev.where(col("event_id") < 600), base, None,
        Some("event_id"))
      val vAlter = TxLog.alterAddColumns(s, base,
        StructType(Seq(StructField("note", StringType))))
      require(vAlter == 2L, s"ALTER must publish version 2, got $vAlter")
      require(TxLog.metaOf(s, base, 1L).schema.isEmpty &&
        !TxLog.readVersion(s, base, 1L).columns.contains("note"),
        "time travel below the ALTER must stay narrow")
      require(TxLog.readEvolved(s, base).where(col("note").isNotNull)
        .count() == 0L, "a just-declared column scans as all-NULL")
      TxLog.append(ev.where(col("event_id") >= 600)
        .withColumn("note", concat(lit("n-"), col("event_type"))),
        base, Some("event_id"))
      require(TxLog.metaOf(s, base, 3L).schema
        .exists(_.fieldNames.contains("note")),
        "the #schema line must carry forward through ordinary appends")
      TxLog.readEvolved(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("note")).as("n_noted"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // CONVERT in place (Delta `CONVERT TO DELTA` analog): an existing
    // plain-parquet directory becomes a txlog table with ONE metadata
    // commit — zero bytes copied or moved, per-file stats computed in
    // the same pass so file skipping works from version 1, and every
    // later verb (here an ordinary append) treats it as log-born. At
    // 100 TB this is the difference between adopting a legacy lake
    // and rewriting it. Oracle: the adopted slice ∪ appended slice.
    "s58_convert_in_place" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txconvert_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events").select("event_id", "event_type", "value")
      ev.where(col("event_id") < 700)
        .repartitionByRange(4, col("event_id"))
        .write.mode("overwrite").parquet(base)
      require(TxLog.convertParquet(s, base, Seq("event_id")) == 1L,
        "conversion must publish version 1")
      val (kept, all) = TxLog.pruneRanges(s, base,
        Seq(("event_id", 0L, 49L)))
      require(kept.size < all.size,
        s"conversion-time stats must prune (kept ${kept.size} of " +
          s"${all.size})")
      TxLog.append(ev.where(col("event_id") >= 700), base,
        Some("event_id"))
      TxLog.read(s, base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // Column mapping (Delta name-mode RENAME/DROP COLUMN): a rename
    // rebinds the logical name while the frozen PHYSICAL name keeps
    // keying every data file and manifest stat — a metadata-only
    // commit that moves zero bytes at any table size. DROP hides the
    // bytes; a re-ADDed column of the same name is born under a fresh
    // physical name, so the dropped data can never resurface. Every
    // verb downstream (pruning, MOR delete, reads) speaks the new
    // logical names. Oracle: the same aggregate straight off events,
    // with the re-ADDed column contributing zero non-NULLs.
    "s59_column_mapping" -> ((s, dir) => {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val base = Ingest.fixtureDir(dir) + "/txcmap_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events").select("event_id", "event_type", "value")
      TxLog.commit(ev.repartitionByRange(8, col("event_id")), base, None,
        Some("event_id"))
      val files1 = TxLog.manifestFiles(s, base, 1L).toSet
      TxLog.renameColumn(s, base, "value", "amount")
      TxLog.renameColumn(s, base, "event_id", "eid")
      require(TxLog.manifestFiles(s, base, 3L).toSet == files1,
        "RENAME COLUMN must be metadata-only: zero data files touched")
      // pruning by the LOGICAL name reaches the physical stats
      val (kept, all) = TxLog.pruneRange(s, base, "eid", 0L, 49L)
      require(kept.size < all.size,
        s"logical-name skip must prune: kept ${kept.size} of ${all.size}")
      // DROP + re-ADD must never resurrect the dropped bytes
      TxLog.dropColumn(s, base, "event_type")
      TxLog.alterAddColumns(s, base,
        StructType(Seq(StructField("event_type", StringType))))
      require(TxLog.read(s, base).where(col("event_type").isNotNull)
        .count() == 0L,
        "a re-ADDed column must scan as NULL, not the dropped bytes")
      // row-level DML through the logical names (mask-only commit)
      TxLog.deleteRangeMor(s, base, "eid", 100L, 199L)
      TxLog.read(s, base)
        .groupBy((col("eid") % 7).as("bucket"))
        .agg(count(lit(1)).as("n"),
          count(col("event_type")).as("n_type"),
          sum(col("amount").cast("decimal(18,6)")).cast("double")
            .as("sum_amount"))
        .orderBy("bucket")
    }),

    // Declared partitioning on the log (Delta PARTITIONED BY analog):
    // a #partition meta line carried by every commit makes every
    // write split one-file-per-tuple with exact min==max stats, so an
    // equality predicate on the partition column prunes to the owning
    // files at the manifest — the layout for the classic
    // low-cardinality scan axis (event type, ingest day) at 100 TB.
    // The requires pin purity, the carried declaration, and that the
    // prune actually skipped files.
    "s60_partitioned_table" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txpart_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      // CTAS declares the partitioning; the append proves every later
      // write keeps the split without restating it
      TxLog.commitPartitioned(ev.where(col("event_id") % 2 === 0), base,
        Seq("event_type"), Seq("event_id"))
      TxLog.append(ev.where(col("event_id") % 2 === 1), base)
      val es = TxLog.manifest(s, base, TxLog.latestVersion(s, base).get)._1
      require(es.forall(_.statsFor("event_type").forall(st =>
        st.min == st.max)), "partitioned write landed an impure file")
      val (kept, all) = TxLog.pruneRanges(s, base,
        Seq(("event_type", "purchase", "purchase")))
      require(kept.size < all.size,
        s"partition pruning must skip files: kept ${kept.size}/${all.size}")
      TxLog.readRange(s, base, "event_type", "purchase", "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("user_id")
    }),

    // The DSv2 TableCatalog rung (DeltaCatalog analog): a warehouse
    // of txlog tables addressable as `<catalog>.<ns>.<table>`, with
    // CTAS, INSERT INTO, and Spark's NATIVE time-travel SQL — the
    // analyzer resolves `VERSION AS OF n` through
    // TxLogCatalog.loadTable(ident, version), no reader options, no
    // injected grammar. The requires pin the chain shape (v1 empty
    // CREATE, v2 CTAS batch, v3 increment) and that the pinned
    // snapshot answers through the same stats-pruned scan. Oracle:
    // the full recompute from events.
    // Partition-scoped INSERT OVERWRITE (static + dynamic, Delta's
    // replaceWhere-on-partitions / partitionOverwriteMode=dynamic):
    // the named (or batch-present) partition tuples swap for the new
    // files while every other partition carries BY REFERENCE — the
    // commit is metadata + new data only, never a read or rewrite of
    // untouched partitions. The requires pin the carried file set.
    "s63_partition_overwrite" -> ((s, dir) => {
      val wh = Ingest.fixtureDir(dir) + "/txpow_warehouse"
      TxLog.drop(s, wh + "/lake/events_pow")
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.conf.set("spark.sql.catalog.gpow", "graft.sources.TxLogCatalog")
      sqlS.conf.set("spark.sql.catalog.gpow.warehouse", wh)
      sqlS.sql("CREATE NAMESPACE IF NOT EXISTS gpow.lake")
      sqlS.sql("CREATE TABLE gpow.lake.events_pow (event_id BIGINT, " +
        "event_type STRING, value DOUBLE) " +
        "USING graft.sources.TxLogSource PARTITIONED BY (event_type)")
      t(sqlS, dir, "events").select("event_id", "event_type", "value")
        .createOrReplaceTempView("ev_pow_src")
      sqlS.sql("INSERT INTO gpow.lake.events_pow " +
        "SELECT * FROM ev_pow_src")
      val base = wh + "/lake/events_pow"
      val before = TxLog.manifest(sqlS, base,
        TxLog.latestVersion(sqlS, base).get)._1
      // static overwrite of ONE partition: purchases re-land doubled
      sqlS.sql("INSERT OVERWRITE gpow.lake.events_pow " +
        "PARTITION (event_type = 'purchase') " +
        "SELECT event_id, value * 2 AS value FROM ev_pow_src " +
        "WHERE event_type = 'purchase'")
      val after = TxLog.manifest(sqlS, base,
        TxLog.latestVersion(sqlS, base).get)._1.map(_.path).toSet
      val untouched = before.filter(_.statsFor("event_type")
        .exists(_.min != "purchase")).map(_.path)
      require(untouched.nonEmpty && untouched.forall(after.contains),
        "untouched partitions must carry by reference")
      require(before.filter(_.statsFor("event_type")
          .exists(_.min == "purchase")).map(_.path).forall(!after.contains(_)),
        "the overwritten partition's old files must drop")
      sqlS.sql("SELECT event_type, count(*) AS n, " +
        "cast(sum(cast(value AS decimal(18,6))) AS double) AS sum_value " +
        "FROM gpow.lake.events_pow GROUP BY event_type " +
        "ORDER BY event_type")
    }),

    // GENERATED ALWAYS AS column as the PARTITION column (Delta
    // generated columns + the derived-partition pattern): the table
    // declares day = CAST(ts AS DATE); appends supply RAW events and
    // the engine derives the day, splits one-file-per-day, and
    // stats-indexes it — daily partition pruning with zero caller
    // cooperation, the canonical 100 TB fact-table layout. The
    // requires pin derivation, purity, and the one-day prune.
    "s64_generated_day_partition" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txgen_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select("event_id", "event_type", "value", "ts")
      TxLog.createTable(s, base,
        ev.schema.add("day", org.apache.spark.sql.types.DateType),
        partitionCols = Seq("day"),
        generated = Seq("day" -> "CAST(ts AS DATE)"))
      TxLog.append(ev, base) // no day column supplied — derived
      val es = TxLog.manifest(s, base, TxLog.latestVersion(s, base).get)._1
      require(es.size >= 25, s"one file per derived day: ${es.size}")
      require(es.forall(_.statsFor("day").forall(st => st.min == st.max)),
        "derived-day files must be partition-pure")
      val (kept, all) = TxLog.pruneRanges(s, base,
        Seq(("day", "2024-01-15", "2024-01-15")))
      require(kept.size == 1 && all.size == es.size,
        s"a one-day query must open one file: ${kept.size}/${all.size}")
      TxLog.read(s, base)
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("day")
    }),

    // SHOW PARTITIONS (Delta/Hive analog) as pure manifest metadata —
    // the partition inventory with file/live-row counts answers from
    // the driver's snapshot, zero data files opened, at ANY table
    // size. The require pins the per-tuple file count the partitioned
    // write produced.
    "s65_show_partitions" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txshowpart_events"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select("event_id", "event_type", "value")
      TxLog.commitPartitioned(ev, base, Seq("event_type"))
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txshowpart_w")
      sqlS.sql("CREATE TABLE txshowpart_w " +
        s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
      try {
        val out = sqlS.sql("SHOW PARTITIONS txshowpart_w")
        require(out.collect().forall(_.getLong(1) == 1L),
          "one commit must land exactly one file per tuple")
        out.select("partition", "num_rows").orderBy("partition")
      } finally sqlS.sql("DROP TABLE IF EXISTS txshowpart_w")
    }),

    // The composite lifecycle the round's features exist for: a fact
    // table partitioned on a GENERATED day column — raw appends
    // derive and split; one bad day is RESTATED with partition-scoped
    // INSERT OVERWRITE (old day file drops metadata-only, 29 other
    // days carried by reference, generated-consistency validated);
    // SHOW PARTITIONS reads the inventory without opening a file.
    // The classic daily-backfill correction at 100 TB: the commit
    // costs one day of data, never the table.
    "s66_day_restatement" -> ((s, dir) => {
      val wh = Ingest.fixtureDir(dir) + "/txday_warehouse"
      val base = wh + "/lake/fact"
      TxLog.drop(s, base)
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.conf.set("spark.sql.catalog.gday", "graft.sources.TxLogCatalog")
      sqlS.conf.set("spark.sql.catalog.gday.warehouse", wh)
      sqlS.sql("CREATE NAMESPACE IF NOT EXISTS gday.lake")
      sqlS.sql("CREATE TABLE gday.lake.fact (event_id BIGINT, " +
        "event_type STRING, value DOUBLE, ts TIMESTAMP, " +
        "day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
        "USING graft.sources.TxLogSource PARTITIONED BY (day)")
      val ev = t(sqlS, dir, "events")
        .select("event_id", "event_type", "value", "ts")
      TxLog.append(ev, base) // day derived + split, one file per day
      val before = TxLog.manifest(sqlS, base,
        TxLog.latestVersion(sqlS, base).get)._1
      ev.createOrReplaceTempView("ev_day_src")
      // restate 2024-01-15: the correction doubles its values
      sqlS.sql("INSERT OVERWRITE gday.lake.fact " +
        "PARTITION (day = DATE'2024-01-15') " +
        "SELECT event_id, event_type, value * 2 AS value, ts " +
        "FROM ev_day_src WHERE CAST(ts AS DATE) = DATE'2024-01-15'")
      val after = TxLog.manifest(sqlS, base,
        TxLog.latestVersion(sqlS, base).get)._1.map(_.path).toSet
      val untouched = before.filter(_.statsFor("day")
        .exists(_.min != "2024-01-15")).map(_.path)
      require(untouched.nonEmpty && untouched.forall(after.contains),
        "the 29 untouched days must carry by reference")
      require(before.filter(_.statsFor("day").exists(_.min == "2024-01-15"))
          .map(_.path).forall(!after.contains(_)),
        "the restated day's old file must drop metadata-only")
      require(sqlS.sql("SHOW PARTITIONS gday.lake.fact").count() == 30,
        "the inventory must list all 30 day tuples")
      sqlS.sql("SELECT day, count(*) AS n, " +
        "cast(sum(cast(value AS decimal(18,6))) AS double) AS sum_value " +
        "FROM gday.lake.fact GROUP BY day ORDER BY day")
    }),

    // Atomic CREATE OR REPLACE TABLE AS SELECT (StagingTableCatalog,
    // Delta's REPLACE): the dbt full-refresh shape — the staged CTAS
    // lands files inert and ONE manifest commit swaps the table;
    // readers see the old table until that instant, history below the
    // swap stays time-travelable, and the old definition's metadata
    // resets. The requires pin one-commit atomicity and the surviving
    // history.
    "s67_replace_table" -> ((s, dir) => {
      val wh = Ingest.fixtureDir(dir) + "/txreplace_warehouse"
      val base = wh + "/lake/ords"
      TxLog.drop(s, base)
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.conf.set("spark.sql.catalog.grt", "graft.sources.TxLogCatalog")
      sqlS.conf.set("spark.sql.catalog.grt.warehouse", wh)
      sqlS.sql("CREATE NAMESPACE IF NOT EXISTS grt.lake")
      t(sqlS, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .createOrReplaceTempView("ords_src")
      sqlS.sql("CREATE OR REPLACE TABLE grt.lake.ords " +
        "USING graft.sources.TxLogSource " +
        "AS SELECT * FROM ords_src WHERE o_orderkey < 3000")
      val v1 = TxLog.latestVersion(sqlS, base).get
      // the full-refresh: new definition, doubled prices, wider range
      sqlS.sql("CREATE OR REPLACE TABLE grt.lake.ords " +
        "USING graft.sources.TxLogSource " +
        "AS SELECT o_orderkey, o_orderstatus, " +
        "o_totalprice * 2 AS o_totalprice FROM ords_src " +
        "WHERE o_orderkey < 6000")
      require(TxLog.latestVersion(sqlS, base).contains(v1 + 1),
        "the replace must land as ONE commit")
      require(TxLog.readVersion(sqlS, base, v1).count() ==
        t(sqlS, dir, "orders").where(col("o_orderkey") < 3000).count(),
        "history below the swap must stay time-travelable")
      sqlS.sql("SELECT o_orderstatus, count(*) AS n, " +
        "cast(sum(cast(o_totalprice AS decimal(18,6))) AS double) " +
        "AS sum_price FROM grt.lake.ords " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    }),

    // ALTER COLUMN type widening (VERDICT r11 missing #4 — Delta's
    // type-widening feature): INT→BIGINT and FLOAT→DOUBLE as
    // metadata-only commits, then a WIDE append lands next to the
    // narrow files — a mix neither footer inference nor mergeSchema
    // can read; the #widencol line pins every reader to the declared
    // schema and Spark's parquet readers upcast per file. The oracle
    // recomputes the mixed-width content from the raw table,
    // modelling band 1's float round-trip explicitly.
    "s70_alter_widen" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txwiden_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders").select(
        col("o_orderkey").cast("int").as("o_orderkey"),
        col("o_totalprice").cast("float").as("o_totalprice"))
      TxLog.commit(
        od.where(col("o_orderkey") < 1000)
          .repartitionByRange(2, col("o_orderkey")),
        base, None, Some("o_orderkey"))
      TxLog.alterWidenColumn(s, base, "o_orderkey",
        org.apache.spark.sql.types.LongType)
      TxLog.alterWidenColumn(s, base, "o_totalprice",
        org.apache.spark.sql.types.DoubleType)
      TxLog.append(
        od.where(col("o_orderkey").between(1000, 2000)).select(
          col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice")),
        base, Some("o_orderkey"))
      val snap = TxLog.read(s, base)
      require(snap.schema("o_orderkey").dataType ==
        org.apache.spark.sql.types.LongType,
        "the widened surface must serve BIGINT over the narrow files")
      // time travel below the ALTER still serves INT
      require(TxLog.readVersion(s, base, 1L).schema("o_orderkey").dataType
        == org.apache.spark.sql.types.IntegerType,
        "time travel below the ALTER must serve the old type")
      // the float→double half is pinned by requires (DuckDB folds a
      // REAL round-trip, so float-derived values cannot be
      // oracle-compared portably; TxLogWidenSpec owns the value laws)
      require(snap.schema("o_totalprice").dataType ==
        org.apache.spark.sql.types.DoubleType,
        "o_totalprice must serve as DOUBLE after the widen")
      require(snap.where(col("o_totalprice").isNull).count() == 0,
        "the upcast must lose no values")
      // compared output: exact integer aggregates over the widened key
      snap.groupBy((col("o_orderkey") % 7).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("sum_key"))
        .orderBy("grp")
    }),

    // The Delta 4.0 widening matrix's CROSS-FAMILY legs (r12 missing
    // #2): int→decimal and date→timestamp_ntz as metadata-only
    // ALTERs over live data, with a post-widen append carrying
    // genuinely fractional decimals next to the integer-narrow files.
    // The oracle recomputes the mixed set exactly — decimal sums are
    // exact integers under the hood, so the comparison is portable.
    "s72_widen_matrix" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txwidenx_orders"
      TxLog.drop(s, base)
      import org.apache.spark.sql.types._
      val od = t(s, dir, "orders").select(
        col("o_orderkey").cast("int").as("o_orderkey"),
        (col("o_orderkey") % 97).cast("int").as("o_disc"),
        to_date(col("o_orderdate")).as("o_day"))
      TxLog.commit(
        od.where(col("o_orderkey") < 1000)
          .repartitionByRange(2, col("o_orderkey")),
        base, None, Some("o_orderkey"))
      TxLog.alterWidenColumn(s, base, "o_disc", DecimalType(12, 2))
      TxLog.alterWidenColumn(s, base, "o_day", TimestampNTZType)
      require(TxLog.manifestFiles(s, base, 3L).toSet ==
        TxLog.manifestFiles(s, base, 1L).toSet,
        "both ALTERs must be metadata-only")
      // the wide append: fractional discounts, real NTZ instants
      TxLog.append(
        od.where(col("o_orderkey").between(1000, 2000)).select(
          col("o_orderkey"),
          (col("o_disc") + lit(0.25)).cast(DecimalType(12, 2))
            .as("o_disc"),
          col("o_day").cast(TimestampNTZType).as("o_day")),
        base, Some("o_orderkey"))
      val snap = TxLog.read(s, base)
      require(snap.schema("o_disc").dataType == DecimalType(12, 2) &&
        snap.schema("o_day").dataType == TimestampNTZType,
        "the widened surface must serve DECIMAL and TIMESTAMP_NTZ")
      require(TxLog.readVersion(s, base, 1L).schema("o_disc").dataType
        == IntegerType, "time travel below the ALTER stays narrow")
      snap.groupBy((col("o_orderkey") % 5).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_disc")).cast("double").as("sum_disc"),
          max(col("o_day")).as("max_day"))
        .orderBy("grp")
    }),

    // CLUSTER BY — the liquid-clustering analog (VERDICT r12 missing
    // #3): keys register at CREATE, every append tiles itself (box
    // files + auto-stats, no maintenance needed for skip sharpness),
    // and plain OPTIMIZE is INCREMENTAL — straggler batches fold on
    // the registered keys while the healthy tiled history carries by
    // reference (requires pin the carried set). Content oracle over
    // the full mixed layout.
    "s73_cluster_incremental" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txcluster_li"
      TxLog.drop(s, base)
      import org.apache.spark.sql.types._
      TxLog.createTable(s, base, StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType),
        StructField("l_quantity", DoubleType))),
        clusterBy = Seq("l_orderkey", "l_partkey"))
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity")
      // the bulk append TILES ITSELF on (l_orderkey, l_partkey)
      TxLog.append(li.where(col("l_orderkey") > 200)
        .repartition(8), base)
      val vBulk = TxLog.latestVersion(s, base).get
      val tiles = TxLog.manifest(s, base, vBulk)._1
      require(tiles.forall(e => e.statsFor("l_orderkey").isDefined &&
        e.statsFor("l_partkey").isDefined),
        "clustered appends must stamp stats on both keys")
      // 2-D box prune works with ZERO maintenance runs
      val (kept, all) = TxLog.pruneRanges(s, base,
        Seq(("l_orderkey", 1L, 400L), ("l_partkey", 1L, 400L)))
      require(all.size >= 6 && kept.size < all.size,
        s"self-tiled layout must prune the box: ${kept.size}/${all.size}")
      // stragglers CONFINED to the low-key corner band, then
      // INCREMENTAL OPTIMIZE on the registered keys — only the tiles
      // whose boxes the band pollutes fold in
      (0 to 2).foreach(i => TxLog.append(
        li.where(col("l_orderkey") <= 200 &&
          col("l_orderkey") % 3 === i).coalesce(1), base))
      val healthy = TxLog.manifest(s, base,
        TxLog.latestVersion(s, base).get)._1
        .filter(_.liveRows >= 2000).map(_.path).toSet
      val vOpt = TxLog.compact(s, base, 2000L, 1000000L)
      val post = TxLog.manifest(s, base, vOpt)._1.map(_.path).toSet
      val carried = healthy.intersect(post)
      require(carried.size >= healthy.size / 2,
        s"incremental OPTIMIZE must carry most healthy tiles " +
          s"(${carried.size}/${healthy.size})")
      require(!TxLog.dataChangeOf(s, base, vOpt),
        "the re-tile is dataChange=false")
      TxLog.read(s, base)
        .groupBy((col("l_orderkey") % 7).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double")
            .as("sum_qty"))
        .orderBy("grp")
    }),

    // Row tracking (VERDICT r12 next-round #4 — Delta 4.0 row IDs):
    // stable per-row ids assigned at enable/commit, MATERIALIZED
    // through OPTIMIZE and COW UPDATE, and the payoff surface — a
    // tracked COW UPDATE's change feed emits TRUE update images
    // paired by the stable id (only the value-changed rows; unchanged
    // rows that merely moved files are no logical change). The ids
    // themselves are engine-private (span order follows file order),
    // so the requires pin the id laws (uniqueness, stability across
    // rewrites) and the COMPARED output is the paired images'
    // content, which the oracle recomputes from the raw table.
    "s74_row_tracking" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txrid_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders").select(
        col("o_orderkey").cast("int").as("k"),
        (col("o_orderkey") * 3).cast("int").as("v"))
        .where(col("k") < 1500)
      TxLog.commit(od.repartitionByRange(4, col("k")),
        base, None, Some("k"))
      TxLog.enableRowTracking(s, base)
      def ids() = TxLog.readWithRowIds(s, base)
        .select("k", "_row_id").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val ids0 = ids()
      require(ids0.values.toSet.size == ids0.size, "ids must be unique")
      // OPTIMIZE folds the band files; ids must survive the rewrite
      TxLog.compact(s, base, 1000000L, 2000000L)
      require(ids() == ids0, "ids must survive OPTIMIZE")
      val vPre = TxLog.latestVersion(s, base).get
      // COW UPDATE changes only k in [400, 500]
      TxLog.updateRange(s, base, "k", 400, 500,
        Map("v" -> (col("v") + lit(7))))
      require(ids() == ids0, "ids must survive the COW UPDATE")
      val vUpd = TxLog.latestVersion(s, base).get
      require(TxLog.cdfOpOf(s, base, vUpd).contains("update_cow"),
        "a tracked COW update stamps its hint")
      val feed = TxLog.changesWithDeletes(s, base, vPre, vUpd)
      val pre = feed.where(col("_change_type") === "update_preimage")
        .select(col("_row_id"), col("k"), col("v").as("v_pre"))
      val post = feed.where(col("_change_type") === "update_postimage")
        .select(col("_row_id"), col("v").as("v_post"))
      pre.join(post, "_row_id")
        .select(col("k"), col("v_pre"), col("v_post"))
        .orderBy("k")
    }),

    // The DSv2 half of row tracking: `option("rowIds","true")` on the
    // txlog source surfaces the SAME stable `_row_id` the API verb
    // serves — materialized ids from rewritten files, span-ordinal
    // ids from fresh files, DV-masked rows absent — so SQL-route
    // consumers (JDBC, catalog tables) get lineage without the Scala
    // API. Ids are engine-private; requires pin scan==API agreement
    // and uniqueness, the COMPARED output is the survivor content the
    // oracle recomputes.
    "s75_rowid_scan" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txrid_scan"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders").select(
        col("o_orderkey").cast("int").as("k"),
        (col("o_orderkey") % 100).cast("int").as("v"))
      TxLog.commit(od.where(col("k") < 2000)
        .repartitionByRange(4, col("k")), base, None, Some("k"))
      TxLog.enableRowTracking(s, base)
      // rewrite MATERIALIZES ids; the append's ids come from its span
      TxLog.compact(s, base, 1000000L, 2000000L)
      TxLog.append(od.where(col("k") >= 2000 && col("k") < 2400)
        .coalesce(1), base, Some("k"))
      // MOR delete: masked rows must vanish from the id surface too
      TxLog.deleteRangeMor(s, base, "k", 500L, 800L)
      val scan = s.read.format("graft.sources.TxLogSource")
        .option("rowIds", "true").load(base)
      val api = TxLog.readWithRowIds(s, base)
        .select("k", "v", "_row_id")
      graft.operators.Checks.requireMultisetEqual(
        scan.select("k", "v", "_row_id"), api,
        "the scan option and the API verb must serve one id surface")
      // count + distinct in ONE aggregate job (was two count actions)
      val cnts = scan.agg(count(lit(1)), countDistinct(col("_row_id")))
        .collect()(0)
      require(cnts.getLong(0) == cnts.getLong(1),
        "stable ids must be unique")
      scan.groupBy("v")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("sum_k"))
        .orderBy("v")
    }),

    // In-commit timestamps (Delta 4.0 ICT): every commit writes its
    // own wall-clock stamp into the manifest, so TIMESTAMP AS OF is a
    // property of the LOG — the witness COPIES the whole table
    // directory, scrambles every manifest mtime a day into the
    // future (what a backup restore / storage migration does), and
    // time-travels the COPY at the original instants. Resolution by
    // mtime would serve the wrong version; the requires pin both
    // versions and the compared output is v1's content.
    "s76_ict_time_travel" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txict_orders"
      val copy = Ingest.fixtureDir(dir) + "/txict_copy"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders").select(
        col("o_orderkey").cast("int").as("k"),
        col("o_totalprice").cast("double").as("price"))
      TxLog.commit(od.where(col("k") < 1000)
        .repartitionByRange(2, col("k")), base, None, Some("k"))
      TxLog.append(od.where(col("k") >= 1000 && col("k") < 1400),
        base, Some("k"))
      val t1 = TxLog.ictOf(s, base, 1L).getOrElse(
        sys.error("v1 must carry an in-commit stamp"))
      val t2 = TxLog.ictOf(s, base, 2L).getOrElse(
        sys.error("v2 must carry an in-commit stamp"))
      require(t1 < t2, "stamps are strictly monotonic")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(copy))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(base), new java.io.File(copy))
      val far = t2 + 86400000L
      java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$copy/${TxLog.LogDir}")).forEach(p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(far)))
      TxLog.cachePurge(copy)
      require(TxLog.versionAtTimestamp(s, copy, t1) == 1L &&
        TxLog.versionAtTimestamp(s, copy, t2) == 2L &&
        TxLog.versionAtTimestamp(s, copy, t2 - 1) == 1L,
        "the copy must resolve by the in-commit stamps, not the " +
          "rewritten mtimes")
      TxLog.readTimestampAsOf(s, copy, t1)
        .groupBy((col("k") % 10).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("grp")
    }),

    // Deep clone (Delta CREATE TABLE ... DEEP CLONE): an INDEPENDENT
    // materialized copy — every data file and DV sidecar is copied
    // EXECUTOR-side (one Spark job over the file list; at 100 TB the
    // copy IS the job, a driver loop would serialize days of IO), and
    // the manifest publishes dst-relative paths. The requires prove
    // the decoupling shallow clones can't give: the SOURCE IS DROPPED
    // before the clone is read. Routed over the SQL grammar
    // (CREATE TABLE ... DEEP CLONE ... LOCATION). Oracle: the content
    // aggregate, masked rows excluded (the DV rides the copy).
    "s77_deep_clone" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txclone_src"
      val dst = Ingest.fixtureDir(dir) + "/txclone_deep"
      TxLog.drop(s, base); TxLog.drop(s, dst)
      val od = t(s, dir, "orders").where(col("o_orderkey") < 1600)
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("price"))
      TxLog.commit(od.repartitionByRange(4, col("k")), base, None, Some("k"))
      TxLog.deleteRangeMor(s, base, "k", 300L, 700L)
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txclone_w")
      sqlS.sql("CREATE TABLE txclone_w USING graft.sources.TxLogSource " +
        s"OPTIONS (path '$base')")
      try {
        val r = sqlS.sql("CREATE TABLE tx_deep DEEP CLONE txclone_w " +
          s"LOCATION '$dst'").collect()
        require(r.head.getLong(1) == 1L, "a clone publishes version 1")
      } finally sqlS.sql("DROP TABLE IF EXISTS txclone_w")
      val entries = TxLog.manifest(s, dst, 1L)._1
      require(entries.forall(e =>
        !e.path.startsWith("/") && !e.path.contains("://")),
        "deep clone must hold dst-relative paths only")
      require(entries.exists(_.dv.isDefined),
        "the DV mask must ride the clone")
      TxLog.drop(s, base) // the decoupling law
      TxLog.cachePurge(dst)
      TxLog.read(s, dst)
        .groupBy((col("k") % 7).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("grp")
    }),

    // Column DEFAULT values (Delta's allowColumnDefaults): a constant
    // fill for FUTURE writes that omit the column — and only future
    // writes. The fixture walks the full lifecycle: rows land before
    // the column exists (read NULL forever — never a read-time
    // backfill), an ADD COLUMNS + SET DEFAULT binds the fill, an
    // omitting append takes it, a supplying append overrides it.
    // Oracle: the per-tier aggregate, with the NULL tier made
    // explicit.
    "s78_column_defaults" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txdflt_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("price"))
      TxLog.commit(od.where(col("k") < 1200)
        .repartitionByRange(2, col("k")), base, None, Some("k"))
      TxLog.alterAddColumns(s, base,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tier",
            org.apache.spark.sql.types.StringType))))
      TxLog.alterColumnDefault(s, base, "tier", Some("'std'"))
      TxLog.append(od.where(col("k") >= 1200 && col("k") < 2400),
        base, Some("k"))                             // omitted → 'std'
      TxLog.append(od.where(col("k") >= 2400 && col("k") < 3000)
        .withColumn("tier", lit("vip")), base, Some("k")) // supplied wins
      TxLog.readEvolved(s, base)
        .groupBy(coalesce(col("tier"), lit("none")).as("tier"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("tier")
    }),

    // DROP FEATURE (Delta 3.4's protocol downgrade): the verb that
    // lets an OLDER engine build read/write a long-lived table again.
    // The fixture loads the table with rowTracking + a type widening,
    // drops both over SQL, and the requires pin what makes the drop
    // sound: typeWidening's in-commit cleanup rewrites the narrow
    // files (so PLAIN footer inference — no #widencol pinning —
    // serves the table, proven by a raw mergeSchema read), and the
    // protocol floors genuinely FALL back to (1,1). Oracle: the
    // content aggregate.
    "s79_drop_feature" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txdropf_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("price"))
      TxLog.commit(od.where(col("k") < 2000)
        .select(col("k").cast("int").as("k"), col("price"))
        .repartitionByRange(3, col("k")), base, None, Some("k"))
      TxLog.enableRowTracking(s, base)
      TxLog.alterWidenColumn(s, base, "k",
        org.apache.spark.sql.types.LongType)
      TxLog.append(od.where(col("k") >= 2000 && col("k") < 3000),
        base, Some("k")) // lands wide
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      sqlS.sql("DROP TABLE IF EXISTS txdropf_reg_w")
      sqlS.sql("CREATE TABLE txdropf_reg_w USING graft.sources.TxLogSource " +
        s"OPTIONS (path '$base')")
      try {
        sqlS.sql("ALTER TABLE txdropf_reg_w DROP FEATURE typeWidening")
        sqlS.sql("ALTER TABLE txdropf_reg_w DROP FEATURE rowTracking")
      } finally sqlS.sql("DROP TABLE IF EXISTS txdropf_reg_w")
      val detail = TxLog.describeDetail(s, base).head()
      require(detail.getAs[Int]("min_writer_version") == 1 &&
        detail.getAs[Int]("min_reader_version") == 1,
        "the floors must fall back to (1,1)")
      val live = TxLog.manifest(s, base,
        TxLog.latestVersion(s, base).get)._1
      val raw = s.read.option("mergeSchema", "true")
        .parquet(live.map(e => TxLog.resolve(base, e.path)): _*)
      require(raw.schema("k").dataType ==
        org.apache.spark.sql.types.LongType,
        "plain inference must serve the uniform wide type post-drop")
      TxLog.read(s, base)
        .groupBy((col("k") % 9).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("grp")
    }),

    // table_changes('t', start [, end]) — Delta's SQL CDF surface as
    // a table-valued function (the injectTableFunction rung): a BI
    // client or dbt model reads the row-precise change feed with ONE
    // SQL expression, no API access. The requires pin the audit
    // columns Delta contracts: _commit_timestamp is the in-commit
    // stamp (non-null, nondecreasing across versions) and the
    // default endVersion is the table's latest. Oracle: the per-type
    // change aggregate for versions [2, 3] (an insert batch + a MOR
    // delete).
    "s80_table_changes" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txtvf_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("price"))
      TxLog.commit(od.where(col("k") < 1000)
        .repartitionByRange(2, col("k")), base, None, Some("k"))
      TxLog.append(od.where(col("k") >= 1000 && col("k") < 1600),
        base, Some("k"))
      TxLog.deleteRangeMor(s, base, "k", 200L, 400L)
      graft.sources.TxLogSqlDml.ensureInjected(s)
      val sqlS = s.newSession()
      org.apache.spark.sql.graftbridge.ColumnBridge
        .registerTableFunction(sqlS, graft.GraftExtensions.tableChangesFunction)
      sqlS.sql("DROP TABLE IF EXISTS txtvf_w")
      sqlS.sql("CREATE TABLE txtvf_w USING graft.sources.TxLogSource " +
        s"OPTIONS (path '$base')")
      try {
        // audit-column contract over the FULL feed (default end)
        val ts = sqlS.sql(
          "SELECT _commit_version AS v, min(_commit_timestamp) AS lo, " +
            "max(_commit_timestamp) AS hi " +
            "FROM table_changes('txtvf_w', 1) GROUP BY 1 ORDER BY 1")
          .collect()
        require(ts.length == 3 && ts.forall(r =>
          !r.isNullAt(1) && !r.isNullAt(2)),
          "every change row must carry the in-commit stamp")
        require(ts.sliding(2).forall { case Array(a, b) =>
          !a.getTimestamp(2).after(b.getTimestamp(1)) },
          "in-commit stamps must be nondecreasing across versions")
        // timestamp bounds resolve through the in-commit stamps
        val t2 = TxLog.ictOf(s, base, 2L).getOrElse(
          sys.error("v2 must carry #ict"))
        // one action for both counts (scalar subqueries share the
        // plan) instead of two sequential collects
        val cnt = sqlS.sql(
          s"""SELECT
                (SELECT count(*) FROM table_changes('txtvf_w', '$t2', '$t2'))
                  AS by_ts,
                (SELECT count(*) FROM table_changes('txtvf_w', 2, 2))
                  AS by_v""").head
        val (byTs, byV) = (cnt.getLong(0), cnt.getLong(1))
        require(byTs == byV && byV > 0,
          s"a timestamp bound must resolve to its commit: $byTs vs $byV")
        sqlS.sql(
          """SELECT _change_type, count(*) AS n,
                    cast(sum(k) AS BIGINT) AS sum_k
             FROM table_changes('txtvf_w', 2, 3)
             GROUP BY 1 ORDER BY 1""")
      } finally sqlS.sql("DROP TABLE IF EXISTS txtvf_w")
    }))

  val oracles: Map[String, String] = Map(
    "s30_schema_evolution" ->
      """SELECT count(*) AS n_rows,
                count(*) FILTER (WHERE event_id >= 500) AS n_evolved,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
                cast(sum(cast(value * 2 AS DECIMAL(18,6)))
                       FILTER (WHERE event_id >= 500) AS DOUBLE)
                  AS sum_value_x2
         FROM events""",
    "s44_check_constraint" ->
      """SELECT event_type, count(*) AS n,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM (SELECT event_type, value FROM events
               UNION ALL
               SELECT event_type, value FROM events WHERE event_id < 50)
         GROUP BY event_type ORDER BY event_type""",
    "s45_identity_append" ->
      """SELECT count(*) AS n_rows, count(*) AS n_distinct_ids,
                true AS all_unique, true AS ids_positive
         FROM events WHERE event_id < 600""",
    "s56_catalog_sql_lifecycle" ->
      """SELECT event_type, count(*) AS n,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "s57_alter_add_column" ->
      """SELECT event_type, count(*) AS n, count(note) AS n_noted,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM (
           SELECT event_type, CAST(NULL AS VARCHAR) AS note, value
           FROM events WHERE event_id < 600
           UNION ALL
           SELECT event_type, 'n-' || event_type AS note, value
           FROM events WHERE event_id >= 600)
         GROUP BY event_type ORDER BY event_type""",
    "s58_convert_in_place" ->
      """SELECT event_type, count(*) AS n,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "s59_column_mapping" ->
      """SELECT event_id % 7 AS bucket, count(*) AS n,
                cast(0 AS BIGINT) AS n_type,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_amount
         FROM events
         WHERE NOT (event_id BETWEEN 100 AND 199)
         GROUP BY 1 ORDER BY 1""",
    "s60_partitioned_table" ->
      """SELECT user_id, count(*) AS n,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         WHERE event_type = 'purchase'
         GROUP BY user_id ORDER BY user_id""",
    "s63_partition_overwrite" ->
      """SELECT event_type, count(*) AS n,
                cast(sum(cast(
                  CASE WHEN event_type = 'purchase' THEN value * 2
                       ELSE value END AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_value
         FROM events
         GROUP BY event_type ORDER BY event_type""",
    "s64_generated_day_partition" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY 1 ORDER BY 1""",
    "s65_show_partitions" ->
      """SELECT concat('event_type=', event_type) AS partition,
                count(*) AS num_rows
         FROM events GROUP BY event_type ORDER BY 1""",
    "s66_day_restatement" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
                cast(sum(cast(
                  CASE WHEN CAST(ts AS DATE) = DATE '2024-01-15'
                       THEN value * 2 ELSE value END
                  AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY 1 ORDER BY 1""",
    "s67_replace_table" ->
      """SELECT o_orderstatus, count(*) AS n,
                cast(sum(cast(o_totalprice * 2 AS DECIMAL(18,6)))
                  AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderkey < 6000
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "s70_alter_widen" ->
      """SELECT cast(o_orderkey % 7 AS INTEGER) AS grp, count(*) AS n,
                cast(sum(o_orderkey) AS BIGINT) AS sum_key
         FROM orders WHERE o_orderkey <= 2000
         GROUP BY 1 ORDER BY 1""",
    "s72_widen_matrix" ->
      """WITH src AS (SELECT cast(o_orderkey AS INTEGER) AS o_orderkey,
                             cast(o_orderkey % 97 AS INTEGER) AS o_disc,
                             cast(o_orderdate AS DATE) AS o_day
                      FROM orders),
              merged AS (
                SELECT o_orderkey,
                       cast(o_disc AS DECIMAL(12,2)) AS o_disc,
                       cast(o_day AS TIMESTAMP) AS o_day
                FROM src WHERE o_orderkey < 1000
                UNION ALL
                SELECT o_orderkey,
                       cast(o_disc + 0.25 AS DECIMAL(12,2)) AS o_disc,
                       cast(o_day AS TIMESTAMP) AS o_day
                FROM src WHERE o_orderkey BETWEEN 1000 AND 2000)
         SELECT cast(o_orderkey % 5 AS INTEGER) AS grp, count(*) AS n,
                cast(sum(o_disc) AS DOUBLE) AS sum_disc,
                max(o_day) AS max_day
         FROM merged GROUP BY 1 ORDER BY 1""",
    "s73_cluster_incremental" ->
      """SELECT cast(l_orderkey % 7 AS INTEGER) AS grp, count(*) AS n,
                cast(sum(cast(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_qty
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "s74_row_tracking" ->
      """SELECT cast(o_orderkey AS INTEGER) AS k,
                cast(o_orderkey * 3 AS INTEGER) AS v_pre,
                cast(o_orderkey * 3 + 7 AS INTEGER) AS v_post
         FROM orders WHERE o_orderkey BETWEEN 400 AND 500
         ORDER BY k""",
    "s75_rowid_scan" ->
      """WITH t AS (SELECT cast(o_orderkey AS INTEGER) AS k,
                           cast(o_orderkey % 100 AS INTEGER) AS v
                    FROM orders WHERE o_orderkey < 2400)
         SELECT v, count(*) AS n, cast(sum(k) AS BIGINT) AS sum_k
         FROM t WHERE k NOT BETWEEN 500 AND 800
         GROUP BY 1 ORDER BY 1""",
    "s76_ict_time_travel" ->
      """SELECT cast(o_orderkey % 10 AS INTEGER) AS grp, count(*) AS n,
                cast(sum(cast(cast(o_totalprice AS DOUBLE)
                  AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderkey < 1000
         GROUP BY 1 ORDER BY 1""",
    "s77_deep_clone" ->
      """WITH t AS (SELECT cast(o_orderkey AS BIGINT) AS k,
                           cast(o_totalprice AS DOUBLE) AS price
                    FROM orders WHERE o_orderkey < 1600)
         SELECT cast(k % 7 AS INTEGER) AS grp, count(*) AS n,
                cast(sum(cast(price AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
         FROM t WHERE k NOT BETWEEN 300 AND 700
         GROUP BY 1 ORDER BY 1""",
    "s78_column_defaults" ->
      """WITH t AS (SELECT cast(o_orderkey AS BIGINT) AS k,
                           cast(o_totalprice AS DOUBLE) AS price,
                           CASE WHEN o_orderkey < 1200 THEN 'none'
                                WHEN o_orderkey < 2400 THEN 'std'
                                ELSE 'vip' END AS tier
                    FROM orders WHERE o_orderkey < 3000)
         SELECT tier, count(*) AS n,
                cast(sum(cast(price AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
         FROM t GROUP BY 1 ORDER BY 1""",
    "s79_drop_feature" ->
      """WITH t AS (SELECT cast(o_orderkey AS BIGINT) AS k,
                           cast(o_totalprice AS DOUBLE) AS price
                    FROM orders WHERE o_orderkey < 3000)
         SELECT cast(k % 9 AS INTEGER) AS grp, count(*) AS n,
                cast(sum(cast(price AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
         FROM t GROUP BY 1 ORDER BY 1""",
    "s80_table_changes" ->
      """WITH t AS (SELECT cast(o_orderkey AS BIGINT) AS k FROM orders),
         ch AS (
           SELECT 'insert' AS _change_type, k FROM t
           WHERE k >= 1000 AND k < 1600
           UNION ALL
           SELECT 'delete' AS _change_type, k FROM t
           WHERE k < 1000 AND k BETWEEN 200 AND 400)
         SELECT _change_type, count(*) AS n, cast(sum(k) AS BIGINT) AS sum_k
         FROM ch GROUP BY 1 ORDER BY 1""")
}
