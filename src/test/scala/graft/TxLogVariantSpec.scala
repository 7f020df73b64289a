package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** VARIANT through the log (r13 next-round #3): the semi-structured
  * column type rides commit/append/time-travel byte-faithfully, the
  * stats machinery never tries to index it (asking vetoes loudly;
  * skipping on it soundly keeps everything), and extraction happens
  * at query time via variant_get — the crawl-bronze shape that
  * retires two-pass whole-corpus JSON inference. */
class TxLogVariantSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def bronze(tag: String, ids: Range) =
    ids.map(i => (i.toLong,
        if (i % 2 == 0) s"""{"id": $i, "t": "$tag", "nested": {"d": ${i * 2}}}"""
        else s"""{"id": $i, "t": "$tag", "extra": [$i, ${i + 1}]}"""))
      .toDF("k", "js")
      .select(col("k"), parse_json(col("js")).as("v"))

  test("round-trip: a VARIANT column survives commit + append + time " +
    "travel; ragged shapes extract via variant_get with NULL for " +
    "absent paths") {
    val base = "/tmp/graft_txvariant/rt"
    TxLog.drop(spark, base)
    TxLog.commit(bronze("w1", 0 until 20), base, None, Some("k"))
    TxLog.append(bronze("w2", 20 until 30), base, Some("k"))
    val got = TxLog.read(spark, base)
    assert(got.schema("v").dataType ==
      org.apache.spark.sql.types.VariantType)
    assert(got.count() == 30)
    val ex = got.select(
      variant_get(col("v"), "$.id", "long").as("id"),
      try_variant_get(col("v"), "$.nested.d", "long").as("d"),
      try_variant_get(col("v"), "$.extra[0]", "long").as("e0"))
    assert(ex.where("id % 2 = 0 AND d = id * 2").count() == 15)
    assert(ex.where("id % 2 = 1 AND e0 = id AND d IS NULL").count() == 15)
    // time travel below the append
    assert(TxLog.readVersion(spark, base, 1L).count() == 20)
  }

  test("stats discipline: no stats are ever collected for a variant " +
    "column, asking for them vetoes loudly, and range skipping on it " +
    "soundly keeps every file") {
    val base = "/tmp/graft_txvariant/stats"
    TxLog.drop(spark, base)
    TxLog.commit(bronze("w", 0 until 10), base, None, Some("k"))
    val entries = TxLog.manifest(spark, base, 1L)._1
    assert(entries.forall(_.statsFor("v").isEmpty))
    val e = intercept[Exception] {
      TxLog.append(bronze("x", 10 until 12), base, Some("v")) }
    assert(e.getMessage.contains("unsupported stats column type"),
      e.getMessage)
    assert(TxLog.pruneRanges(spark, base, Seq(("v", "a", "z")))._1.size
      == entries.size, "no stats → conservative keep-all")
    // but stats on the SIBLING long column still skip normally
    assert(TxLog.pruneRanges(spark, base, Seq(("k", 10000L, 20000L)))._1
      .isEmpty, "sibling stats keep working")
  }

  test("DSv2 surface: a variant table reads through the source on " +
    "BOTH paths — the columnar plain scan and the row decoder that " +
    "DV-masked partitions force (the log lands variant UNSHREDDED " +
    "so the two-binary group reassembles VariantVal)") {
    val base = "/tmp/graft_txvariant/dsv2law"
    TxLog.drop(spark, base)
    TxLog.commit(bronze("w", 0 until 10), base, None, Some("k"))
    def ids(): Set[Long] = spark.read
      .format("graft.sources.TxLogSource").load(base)
      .select(variant_get(col("v"), "$.id", "long")).as[Long]
      .collect().toSet
    assert(ids() == (0L until 10L).toSet, "plain (columnar) path")
    TxLog.deleteRangeMor(spark, base, "k", 3L, 5L)
    assert(ids() == (0L until 10L).toSet -- (3L to 5L),
      "the DV-masked row-decoder path serves the same variant bytes")
    // and the land stayed unshredded without leaking the conf (the
    // session default — shredding ON — is restored after the write)
    assert(spark.conf.get(
      "spark.sql.variant.writeShredding.enabled") == "true")
  }

  test("shredded adoption: CONVERT TO TXLOG over a directory stock " +
    "Spark wrote with writeShredding=true serves the same variant " +
    "values as the unshredded twin on BOTH source paths — columnar " +
    "and the DV-forced row decoder, which rebuilds VariantVal from " +
    "the typed_value columns") {
    val dir = "/tmp/graft_txvariant/shred"
    val twin = "/tmp/graft_txvariant/shred_twin"
    TxLog.drop(spark, dir); TxLog.drop(spark, twin)
    // ragged shapes across every shredded encoding family: nested
    // object, array, string, long, decimal, boolean, null
    def raw(ids: Range) = ids.map(i => (i.toLong,
        if (i % 3 == 0)
          s"""{"id": $i, "t": "even", "nested": {"d": ${i * 2}, "s": "x$i"}}"""
        else if (i % 3 == 1)
          s"""{"id": $i, "extra": [$i, ${i + 1}], "flag": true}"""
        else s"""{"id": $i, "price": ${i}.25, "note": null}"""))
      .toDF("k", "js")
      .select(col("k"), parse_json(col("js")).as("v"))
    assert(spark.conf.get(
      "spark.sql.variant.writeShredding.enabled") == "true")
    raw(0 until 24).coalesce(1).write.mode("overwrite").parquet(dir)
    // the witness is vacuous unless the file actually shredded —
    // check the footer for a typed_value group under v
    val part = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part,
        spark.sparkContext.hadoopConfiguration))
    val fileSchema = footer.getFooter.getFileMetaData.getSchema
    val vType = fileSchema.getType(fileSchema.getFieldIndex("v"))
      .asGroupType()
    footer.close()
    assert(vType.containsField("typed_value"),
      s"stock Spark did not shred (layout $vType) — witness vacuous")
    TxLog.convertParquet(spark, dir, Seq("k"))
    // unshredded twin through the log's own land path
    TxLog.commit(raw(0 until 24), twin, None, Some("k"))
    def viaJson(base: String): Map[Long, String] = spark.read
      .format("graft.sources.TxLogSource").load(base)
      .select(col("k"), to_json(col("v")).as("j"))
      .as[(Long, String)].collect().toMap
    val want = viaJson(twin)
    assert(viaJson(dir) == want, "columnar path over the shredded file")
    // DV-mask both tables identically: the row decoder must REBUILD
    // the variant from typed_value + residual value
    TxLog.deleteRangeMor(spark, dir, "k", 4L, 7L)
    TxLog.deleteRangeMor(spark, twin, "k", 4L, 7L)
    val wantMasked = viaJson(twin)
    assert(wantMasked.keySet == (0L until 24L).toSet -- (4L to 7L))
    assert(viaJson(dir) == wantMasked,
      "row-decoder path must rebuild shredded variants byte-faithfully")
    // extraction drills into rebuilt values exactly like native ones
    val ex = spark.read.format("graft.sources.TxLogSource").load(dir)
      .select(
        variant_get(col("v"), "$.id", "long").as("id"),
        try_variant_get(col("v"), "$.nested.d", "long").as("d"),
        try_variant_get(col("v"), "$.extra[1]", "long").as("e1"),
        try_variant_get(col("v"), "$.price", "decimal(6,2)").as("p"))
    // of 8 ids per residue class, the 4..7 mask removes one %3==0
    // (6), two %3==1 (4, 7) and one %3==2 (5)
    assert(ex.where("id % 3 = 0 AND d = id * 2").count() == 7)
    assert(ex.where("id % 3 = 1 AND e1 = id + 1").count() == 6)
    assert(ex.where("id % 3 = 2 AND p = cast(id as decimal(6,2)) + 0.25")
      .count() == 7)
  }

  test("variant-path stats (Delta's shredded-leaf skipping): " +
    "collectVariantStats lands typed per-file min/max on '$.id' as a " +
    "metadata-only commit — works on SHREDDED adopted files too — " +
    "readVariantRange prunes to the band, new appends conservatively " +
    "never skip until re-collection, and the variant COLUMN's own " +
    "stats stay vetoed") {
    val base = "/tmp/graft_txvariant/pathstats"
    TxLog.drop(spark, base)
    TxLog.commit(bronze("a", 0 until 80)
      .repartitionByRange(4, col("k")), base, None, Some("k"))
    val files1 = TxLog.manifestFiles(spark, base, 1L).toSet
    val v = TxLog.collectVariantStats(spark, base, "v", "$.id", "long")
    assert(v == 2L &&
      TxLog.manifestFiles(spark, base, v).toSet == files1,
      "stats collection must be metadata-only: zero files moved")
    val entries = TxLog.manifest(spark, base, v)._1
    assert(entries.forall(_.statsFor("v$.id").isDefined),
      "every banded file carries min/max on the extraction path")
    assert(entries.forall(_.statsFor("v").isEmpty),
      "the variant column ITSELF stays stats-free")
    // skipping: a narrow band keeps a strict subset of files
    val kept = entries.filter(e =>
      TxLog.touchesRange(e, "v$.id", "10", "19"))
    assert(kept.size < entries.size,
      s"the path band must prune: kept ${kept.size} of ${entries.size}")
    assert(TxLog.readVariantRange(spark, base, "v", "$.id", "long",
        10L, 19L)
      .select(variant_get(col("v"), "$.id", "long")).as[Long]
      .collect().toSet == (10L to 19L).toSet)
    // an append WITHOUT a re-collection: its file has no path stats,
    // so it conservatively survives every band (sound), and the range
    // read stays exact through the residual
    TxLog.append(bronze("b", 1000 until 1010).coalesce(1), base,
      Some("k"))
    val v3 = TxLog.latestVersion(spark, base).get
    val fresh = TxLog.manifest(spark, base, v3)._1
      .filterNot(e => files1.contains(e.path))
    assert(fresh.nonEmpty && fresh.forall(_.statsFor("v$.id").isEmpty))
    assert(fresh.forall(e => TxLog.touchesRange(e, "v$.id", "10", "19")),
      "an unstatted file must conservatively survive the band")
    assert(TxLog.readVariantRange(spark, base, "v", "$.id", "long",
        10L, 19L).count() == 10L)
    // re-collection picks the new file up; the band prunes it again
    TxLog.collectVariantStats(spark, base, "v", "$.id", "long")
    val after = TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1
    assert(after.forall(_.statsFor("v$.id").isDefined))
    assert(!after.filter(e => e.statsFor("v$.id")
        .exists(st => st.min == "1000")).exists(e =>
      TxLog.touchesRange(e, "v$.id", "10", "19")))
    // SHREDDED adoption surface: stats collect through try_variant_get
    // on a directory stock Spark wrote shredded
    val shred = "/tmp/graft_txvariant/pathstats_shred"
    TxLog.drop(spark, shred)
    bronze("s", 0 until 40).repartitionByRange(2, col("k"))
      .write.mode("overwrite").parquet(shred)
    TxLog.convertParquet(spark, shred, Seq("k"))
    TxLog.collectVariantStats(spark, shred, "v", "$.id", "long")
    val se = TxLog.manifest(spark, shred,
      TxLog.latestVersion(spark, shred).get)._1
    assert(se.forall(_.statsFor("v$.id").isDefined))
    assert(se.count(e => TxLog.touchesRange(e, "v$.id", "0", "9")) <
      se.size, "shredded-leaf stats must prune the adopted files")
    assert(TxLog.readVariantRange(spark, shred, "v", "$.id", "long",
        0L, 9L).count() == 10L)
  }

  test("DECLARED variant-path stats (write-time collection): declare " +
    "back-fills existing files in one metadata commit, every " +
    "subsequent write — append AND the OPTIMIZE rewrite — collects " +
    "the path's stats inline so fresh ingest prunes immediately, a " +
    "duplicate declare vetoes, and drop stops collection while reads " +
    "stay exact") {
    val base = "/tmp/graft_txvariant/declared"
    TxLog.drop(spark, base)
    TxLog.commit(bronze("a", 0 until 80)
      .repartitionByRange(4, col("k")), base, None, Some("k"))
    val files1 = TxLog.manifestFiles(spark, base, 1L).toSet
    val v = TxLog.declareVariantStats(spark, base, "v", "$.id", "long")
    assert(v == 2L &&
      TxLog.manifestFiles(spark, base, v).toSet == files1,
      "declare must back-fill as a metadata-only commit")
    assert(TxLog.manifest(spark, base, v)._1
      .forall(_.statsFor("v$.id").isDefined))
    assert(TxLog.metaOf(spark, base, v).varStats ==
      Seq(("v", "$.id", "long")))
    // an append now carries path stats IMMEDIATELY — no sweep commit
    TxLog.append(bronze("b", 1000 until 1010).coalesce(1), base,
      Some("k"))
    val v3 = TxLog.latestVersion(spark, base).get
    val fresh = TxLog.manifest(spark, base, v3)._1
      .filterNot(e => files1.contains(e.path))
    assert(fresh.nonEmpty &&
      fresh.forall(_.statsFor("v$.id").isDefined),
      "a post-declare append must collect path stats at write time")
    assert(!fresh.exists(e =>
        TxLog.touchesRange(e, "v$.id", "10", "19")),
      "fresh ingest must prune out of a disjoint band immediately")
    assert(TxLog.readVariantRange(spark, base, "v", "$.id", "long",
        10L, 19L)
      .select(variant_get(col("v"), "$.id", "long")).as[Long]
      .collect().toSet == (10L to 19L).toSet)
    // a duplicate declaration vetoes loudly
    val dup = intercept[IllegalArgumentException] {
      TxLog.declareVariantStats(spark, base, "v", "$.id", "long") }
    assert(dup.getMessage.contains("already declared"))
    // the OPTIMIZE rewrite passes the same write chokepoint: the
    // packed replacement file re-collects the path's stats inline
    // (stronger than the undeclared one-shot sweep, whose rewrites
    // conservatively DROP the key until a re-collection)
    TxLog.compact(spark, base, 1000000L, 1000000L, Some("k"))
    val packed = TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1
    assert(packed.forall(_.statsFor("v$.id").isDefined),
      "an OPTIMIZE under a declaration must re-collect inline")
    // drop: collection stops, reads stay exact via the residual
    TxLog.dropVariantStats(spark, base, "v", "$.id")
    TxLog.append(bronze("c", 2000 until 2005).coalesce(1), base,
      Some("k"))
    val afterDrop = TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1
      .filterNot(e => packed.map(_.path).toSet.contains(e.path))
    assert(afterDrop.nonEmpty &&
      afterDrop.forall(_.statsFor("v$.id").isEmpty),
      "post-drop writes must stop collecting the path")
    assert(TxLog.readVariantRange(spark, base, "v", "$.id", "long",
        10L, 19L).count() == 10L)
  }

  test("SQL surface: COLLECT VARIANT STATS / ALTER TABLE DECLARE " +
    "VARIANT STATS / DROP VARIANT STATS run through the parser " +
    "extension and publish the same commits as the API verbs") {
    val base = "/tmp/graft_txvariant/sqlverbs"
    TxLog.drop(spark, base)
    TxLog.commit(bronze("a", 0 until 40)
      .repartitionByRange(2, col("k")), base, None, Some("k"))
    graft.sources.TxLogSqlDml.ensureInjected(spark)
    val sql = spark.newSession()
    sql.sql("DROP TABLE IF EXISTS txvar_sql")
    sql.sql("CREATE TABLE txvar_sql USING graft.sources.TxLogSource " +
      s"OPTIONS (path '$base')")
    try {
      assert(sql.sql("COLLECT VARIANT STATS txvar_sql (v, '$.id', long)")
        .head().getLong(0) == 2L)
      assert(TxLog.manifest(spark, base, 2L)._1
        .forall(_.statsFor("v$.id").isDefined))
      // the variant_range TVF serves the STATS-PRUNED band read that
      // a SQL expression predicate cannot reach
      org.apache.spark.sql.graftbridge.ColumnBridge
        .registerTableFunction(sql,
          graft.GraftExtensions.variantRangeFunction)
      assert(sql.sql("SELECT count(*) AS n FROM " +
          "variant_range('txvar_sql', 'v', '$.id', 10, 19)")
        .head().getLong(0) == 10L)
      assert(sql.sql("ALTER TABLE txvar_sql DECLARE VARIANT STATS " +
          "(v, '$.nested.d', long)").head().getLong(0) == 3L)
      assert(TxLog.metaOf(spark, base, 3L).varStats ==
        Seq(("v", "$.nested.d", "long")))
      // a declared path collects at write time through the SQL-armed
      // lineage too
      TxLog.append(bronze("b", 100 until 110).coalesce(1), base,
        Some("k"))
      val fresh = TxLog.manifest(spark, base, 4L)._1
        .filter(_.path.nonEmpty)
        .filterNot(e => TxLog.manifestFiles(spark, base, 3L).contains(e.path))
      assert(fresh.nonEmpty &&
        fresh.forall(_.statsFor("v$.nested.d").isDefined))
      // DESCRIBE DETAIL surfaces the standing declaration
      val det = sql.sql("DESCRIBE DETAIL txvar_sql").head()
      assert(det.getAs[String]("variant_stats") == "v$.nested.d:long",
        det.toString)
      // SQL ZORDER over a (plain, variant) key pair re-tiles through
      // the same parser verb; an UNDECLARED path vetoes loudly
      sql.sql("OPTIMIZE txvar_sql ZORDER BY (k, `v$.nested.d`)")
      val zt = TxLog.manifest(spark, base,
        TxLog.latestVersion(spark, base).get)._1
      assert(zt.forall(e => e.statsFor("k").isDefined &&
        e.statsFor("v$.nested.d").isDefined),
        "the SQL ZORDER rewrite must stamp stats on both dimensions")
      val ez = intercept[Exception] {
        sql.sql("OPTIMIZE txvar_sql ZORDER BY (k, `v$.missing`)") }
      assert(ez.getMessage.contains("no declared stats"), ez.getMessage)
      val vDrop = sql.sql("ALTER TABLE txvar_sql DROP VARIANT STATS " +
        "(v, '$.nested.d')").head().getLong(0)
      assert(TxLog.metaOf(spark, base, vDrop).varStats.isEmpty)
    } finally sql.sql("DROP TABLE IF EXISTS txvar_sql")
  }

  test("a GENERATED partition column can derive from a variant path: " +
    "raw ragged bronze lands without the column, the engine computes " +
    "day = variant_get(v, '$.d', 'date'), splits the layout on it, " +
    "and a day predicate prunes to the partition") {
    import org.apache.spark.sql.types._
    val base = "/tmp/graft_txvariant/genpart"
    TxLog.drop(spark, base)
    TxLog.createTable(spark, base, StructType(Seq(
        StructField("k", LongType), StructField("v", VariantType),
        StructField("day", DateType))),
      partitionCols = Seq("day"),
      generated = Seq("day" -> "variant_get(v, '$.d', 'date')"))
    val raw = (0 until 100).map(i => (i.toLong,
        f"""{"id": $i, "d": "2024-01-${i % 5 + 1}%02d"}"""))
      .toDF("k", "js")
      .select(col("k"), parse_json(col("js")).as("v"))
    TxLog.append(raw, base) // no `day` supplied — the engine derives
    val entries = TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1
    assert(entries.size >= 5, s"expected a file per day, got $entries")
    assert(entries.forall(_.statsFor("day").exists(st =>
        st.min == st.max)),
      "every partition file must pin its exact day tuple")
    val (kept, all) = TxLog.pruneRanges(spark, base,
      Seq(("day", "2024-01-03", "2024-01-03")))
    assert(kept.size * 5 <= all.size,
      s"the day predicate must prune: kept ${kept.size} of ${all.size}")
    val got = TxLog.readRange(spark, base, "day",
        java.sql.Date.valueOf("2024-01-03"),
        java.sql.Date.valueOf("2024-01-03"))
      .select(variant_get(col("v"), "$.id", "long")).as[Long]
      .collect().toSet
    assert(got == (0 until 100).filter(_ % 5 == 2).map(_.toLong).toSet)
    // a batch SUPPLYING a wrong derived value is vetoed by the
    // generated-column validation scan
    val bad = (100 until 102).map(i => (i.toLong,
        s"""{"id": $i, "d": "2024-01-01"}""", "2024-02-09"))
      .toDF("k", "js", "day")
      .select(col("k"), parse_json(col("js")).as("v"),
        col("day").cast("date").as("day"))
    val e = intercept[Exception] { TxLog.append(bad, base) }
    assert(e.getMessage.toLowerCase.contains("constraint") ||
      e.getMessage.toLowerCase.contains("generated"), e.getMessage)
  }

  test("scale integration: on a COLUMNAR-checkpoint table the path " +
    "band prunes EXECUTOR-side — the checkpoint's typed smin/smax " +
    "columns cover the variant stats key, so a cold 10^6-entry " +
    "resolution never line-parses the non-overlapping entries") {
    val base = "/tmp/graft_txvariant/ckpt"
    TxLog.drop(spark, base)
    spark.conf.set("spark.graft.txlog.checkpointFormat", "parquet")
    spark.conf.set("spark.graft.txlog.checkpointInterval", "1")
    try {
      TxLog.commit(bronze("a", 0 until 80)
        .repartitionByRange(4, col("k")), base, None, Some("k"))
      TxLog.declareVariantStats(spark, base, "v", "$.id", "long")
      val v = TxLog.latestVersion(spark, base).get
      TxLog.cachePurge(base) // cold driver: the hybrid path engages
      val pruned = graft.operators.TxLogPlan.pruneEntriesForScan(
        spark, base, v, Seq(("v$.id", "10", "19")))
      assert(pruned.isDefined,
        "the columnar base must serve the prune (not the text path)")
      val all = TxLog.manifest(spark, base, v)._1
      assert(pruned.get.size < all.size,
        s"typed-column prune must skip: ${pruned.get.size} of ${all.size}")
      assert(TxLog.readVariantRange(spark, base, "v", "$.id", "long",
        10L, 19L).count() == 10L)
    } finally {
      spark.conf.unset("spark.graft.txlog.checkpointFormat")
      spark.conf.unset("spark.graft.txlog.checkpointInterval")
    }
  }

  test("composition: CHECK constraints and DML residuals reach " +
    "variant paths — a bronze quality gate vetoes bad records at " +
    "land time, and a targeted delete erases by extraction") {
    val base = "/tmp/graft_txvariant/guard"
    TxLog.drop(spark, base)
    TxLog.commit(bronze("a", 0 until 40), base, None, Some("k"))
    TxLog.addConstraint(spark, base, "id_pos",
      "try_variant_get(v, '$.id', 'long') >= 0")
    TxLog.append(bronze("b", 40 until 50), base, Some("k"))
    assert(TxLog.read(spark, base).count() == 50)
    // a crawl record violating the path gate aborts the whole batch
    val bad = Seq((1000L, """{"id": -7, "t": "bad"}"""))
      .toDF("k", "js")
      .select(col("k"), parse_json(col("js")).as("v"))
    val e = intercept[Exception] { TxLog.append(bad, base, Some("k")) }
    assert(e.getMessage.contains("id_pos"), e.getMessage)
    assert(TxLog.read(spark, base).count() == 50,
      "a vetoed batch must land nothing")
    // row-level DML with a variant-extraction residual: erase the
    // EVEN ids inside the k band, odd survivors untouched
    TxLog.deleteRangeMor(spark, base, "k", 0L, 9L,
      residual = expr("variant_get(v, '$.id', 'long') % 2 = 0"))
    val left = TxLog.read(spark, base)
      .select(variant_get(col("v"), "$.id", "long")).as[Long]
      .collect().toSet
    assert(left == (0L until 50L).filterNot(i => i < 10 && i % 2 == 0)
      .toSet)
  }

  test("interaction: a MOR delete masks variant rows without " +
    "rewriting them, and the mask survives OPTIMIZE") {
    val base = "/tmp/graft_txvariant/mor"
    TxLog.drop(spark, base)
    TxLog.commit(bronze("w", 0 until 40), base, None, Some("k"))
    TxLog.deleteRangeMor(spark, base, "k", 5L, 9L)
    def ids() = TxLog.read(spark, base)
      .select(variant_get(col("v"), "$.id", "long")).as[Long]
      .collect().toSet
    assert(ids() == (0L until 40L).toSet -- (5L to 9L))
    TxLog.compact(spark, base, 1L << 20, 1L << 22)
    assert(ids() == (0L until 40L).toSet -- (5L to 9L),
      "masked variant rows must not resurrect through OPTIMIZE")
  }
}
