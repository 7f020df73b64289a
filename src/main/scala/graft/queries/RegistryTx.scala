package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{TableMeta, TxLog, TxLogPlan}
import graft.sources.{Ingest, Tables}

/** Round-14 transaction-log witnesses: columnar (parquet)
  * checkpoints + distributed log planning — the surfaces that keep
  * the log viable at 100-TB small-file pressure (VERDICT r13 next
  * round #1/#2). Each entry pairs with a DuckDB oracle on the same
  * parquet inputs; engine-internal requires pin the MECHANISM
  * (columnar base present, re-base without recompute) while the
  * oracle pins the CONTENT. */
object RegistryTx {
  private type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val defs: Map[String, Q] = Map(
    // Columnar checkpoint lifecycle: interval checkpoints write as
    // parquet datasets (entry lines in columns, meta + reader-5 gate
    // in the marker file), a MOR delete's deletion vector rides the
    // line column across the checkpoint, and the content survives a
    // cold-cache resolution THROUGH the columnar base. The requires
    // pin the mechanism; the oracle pins the surviving rows.
    "s83_parquet_checkpoint" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txpq_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("price"))
      s.conf.set("spark.graft.txlog.checkpointFormat", "parquet")
      s.conf.set("spark.graft.txlog.checkpointInterval", "3")
      try {
        (0 until 4).foreach(i => TxLog.append(
          od.where(col("k") < 2000 && col("k") % 4 === i).coalesce(1),
          base, Some("k")))
        TxLog.deleteRangeMor(s, base, "k", 100L, 199L)
      } finally {
        s.conf.unset("spark.graft.txlog.checkpointFormat")
        s.conf.unset("spark.graft.txlog.checkpointInterval")
      }
      val latest = TxLog.latestVersion(s, base).get
      require(TxLogPlan.hasParquetBase(s, base, latest),
        "the latest version must resolve via the columnar checkpoint")
      val gate = TxLog.linesOf(s, base, TxLog.ckptPath(base, 3L))
      require(gate.exists(_.startsWith("#parquet\t")) &&
        TableMeta.protocolOf(gate).exists(_._1 == 5),
        "marker file must carry the parquet pointer AND the reader-5 " +
          "protocol gate")
      TxLog.cachePurge(base)
      TxLog.read(s, base)
        .groupBy((col("k") % 7).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("grp")
    }),

    // Conflict-granular OCC (Delta's conflict checker): a MERGE that
    // loses its CAS to a DISJOINT-band COW DELETE re-bases — the
    // landed merge output is republished against the winner's
    // entries, zero recompute (pinned by a source-evaluation
    // accumulator against an uncontested CONTROL merge) — while both
    // effects land. Oracle: sequential semantics (control merge, then
    // delete, then merge) over the same inputs.
    "s84_occ_rebase" -> ((s, dir) => {
      import s.implicits._
      val base = Ingest.fixtureDir(dir) + "/txocc_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("price"))
        .where(col("k") < 2400)
      TxLog.commit(od.repartitionByRange(4, col("k")), base, None, Some("k"))
      def counted(rows: Seq[(Long, Double)],
                  acc: org.apache.spark.util.LongAccumulator) =
        s.createDataset(rows).map { r => acc.add(1L); r }
          .toDF("k", "price")
      // control: what an uncontested merge costs in source passes
      val ctlAcc = s.sparkContext.longAccumulator("s84_ctl")
      TxLog.mergeCow(s, base,
        counted(Seq((5L, 55555.0), (6L, 66666.0)), ctlAcc), Seq("k"), "k")
      // the race: attempt 1's seam fires a COW delete in a DISJOINT
      // key band; the merge must re-base, not recompute
      val acc = s.sparkContext.longAccumulator("s84_race")
      var fired = false
      TxLog.mergeCow(s, base,
        counted(Seq((7L, 77777.0), (11L, 11111.0)), acc), Seq("k"), "k",
        onAttempt = a => if (a == 1 && !fired) {
          fired = true
          TxLog.deleteRange(s, base, "k", 2000L, 2399L)
        })
      require(acc.value == ctlAcc.value,
        s"disjoint CAS loss must re-base, not recompute: control " +
          s"${ctlAcc.value} source passes, raced ${acc.value}")
      TxLog.cachePurge(base)
      TxLog.read(s, base)
        .groupBy((col("k") % 7).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("grp")
    }),

    // Nested-field tier 1 (r13 next-round #4): a STRUCT column with a
    // CHECK constraint over a child path AND a partition key GENERATED
    // from a child path — the write computes the band from inside the
    // struct, splits the layout on it, and a band predicate prunes to
    // a file subset. The drop-parent veto (constraint on s.price
    // blocks DROP COLUMN s) rides the same dependency probe
    // (TxLogNestedAuditSpec). Oracle: the per-band aggregate from the
    // raw table.
    "s85_nested_tier" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txnest_orders"
      TxLog.drop(s, base)
      TxLog.createTable(s, base, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("status",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("price",
              org.apache.spark.sql.types.DoubleType)))),
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.IntegerType))),
        partitionCols = Seq("band"),
        generated = Seq("band" -> "cast(floor(s.price / 50000) as int)"))
      TxLog.addConstraint(s, base, "price_pos", "s.price >= 0")
      val od = t(s, dir, "orders").where(col("o_orderkey") < 2000)
        .select(col("o_orderkey").cast("long").as("k"),
          struct(col("o_orderstatus").as("status"),
            col("o_totalprice").cast("double").as("price")).as("s"))
      TxLog.append(od, base, Some("k"))
      // the parent-drop veto is live while the nested constraint is
      require(scala.util.Try(TxLog.dropColumn(s, base, "s")).isFailure,
        "DROP of the parent struct must veto under a child constraint")
      // band pruning: one band touches a strict file subset
      val all = TxLog.manifest(s, base, TxLog.latestVersion(s, base).get)._1
      val pruned = TxLog.pruneRanges(s, base, Seq(("band", 1, 1)))._1
      require(pruned.size < all.size,
        s"band=1 must prune to a subset: ${pruned.size} of ${all.size}")
      TxLog.read(s, base)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          sum(col("s.price").cast("decimal(18,6)")).cast("double")
            .as("sum_price"))
        .orderBy("band")
    }),

    // Nested column mapping tier 2 (r14 next-round #3 — Delta name
    // mode maps nested fields individually): RENAME/DROP COLUMN `s.f`
    // rebinds the leaf against its FROZEN physical subfield —
    // metadata-only commits, zero files moved at any table size — and
    // a dropped-then-re-ADDed field is born under a fresh physical
    // leaf, so the dropped bytes never resurface. Appends then speak
    // the new logical shape, and MOR deletes mask through the mapped
    // surface. The requires pin the mechanism (zero files touched,
    // NULL re-add); the oracle pins the content relationally.
    "s88_nested_colmap" -> ((s, dir) => {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val base = Ingest.fixtureDir(dir) + "/txnestcm_orders"
      TxLog.drop(s, base)
      val od = t(s, dir, "orders").where(col("o_orderkey") < 1600)
        .select(col("o_orderkey").cast("long").as("k"),
          struct(col("o_orderstatus").as("status"),
            col("o_totalprice").cast("double").as("price")).as("s"))
      TxLog.commit(od.where(col("k") < 1200)
        .repartitionByRange(4, col("k")), base, None, Some("k"))
      val files1 = TxLog.manifestFiles(s, base, 1L).toSet
      TxLog.renameColumn(s, base, "s.price", "amount")
      TxLog.dropColumn(s, base, "s.status")
      require(TxLog.manifestFiles(s, base, 3L).toSet == files1,
        "nested RENAME/DROP COLUMN must be metadata-only: zero files " +
          "touched")
      TxLog.alterAddNestedColumns(s, base, "s",
        StructType(Seq(StructField("status", StringType))))
      require(TxLog.read(s, base)
        .where(col("s.status").isNotNull).count() == 0L,
        "a re-ADDed nested field must scan as NULL, never the " +
          "dropped bytes")
      // append in the NEW logical shape: amount everywhere, status
      // only on the fresh rows (the re-ADDed leaf fills from here on)
      TxLog.append(od.where(col("k") >= 1200)
        .select(col("k"), struct(col("s.price").as("amount"),
          col("s.status").as("status")).as("s")), base, Some("k"))
      TxLog.deleteRangeMor(s, base, "k", 100L, 199L)
      TxLog.read(s, base)
        .groupBy((col("k") % 5).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          count(col("s.status")).as("n_status"),
          sum(col("s.amount").cast("decimal(18,6)")).cast("double")
            .as("sum_amount"))
        .orderBy("grp")
    }))

  private val variantDefs: Map[String, Q] = Map(
    // VARIANT semi-structured bronze (r13 next-round #3 — Spark 4's
    // VariantType, the Delta 4.0 feature the reference's crawl layer
    // wants): the ragged crawl JSON lands ONCE as a VARIANT column —
    // parse_json per row, NO whole-corpus two-pass schema inference
    // (the load_bronze_to_table.py:130-133 shape this retires) — and
    // the typed silver extraction happens at QUERY time via
    // variant_get paths. TxLog round-trips the type (no stats on the
    // variant column — skipping on it soundly keeps everything, and
    // asking for variant stats vetoes loudly: TxLogVariantSpec).
    // Oracle: the same extraction recomputed relationally from the
    // documents table.
    "s86_variant_bronze" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txvariant_docs"
      TxLog.drop(s, base)
      val d = t(s, dir, "documents")
      // three ragged shapes, exactly what a crawl feed looks like:
      // flat lang, nested meta.lang, and a lang-less score record
      val raw = d.select(col("doc_id"), (col("doc_id") % 3).as("m"),
          col("lang"), col("n_chars"))
        .select(col("doc_id"), when(col("m") === 0,
            to_json(struct(col("doc_id").as("id"), col("lang"),
              col("n_chars").as("len"))))
          .when(col("m") === 1,
            to_json(struct(col("doc_id").as("id"),
              struct(col("lang")).as("meta"))))
          .otherwise(
            to_json(struct(col("doc_id").as("id"),
              (col("n_chars") * 1.5).as("score")))).as("js"))
      val bronze = raw.select(col("doc_id"),
        parse_json(col("js")).as("v"))
      TxLog.commit(bronze, base, None, Some("doc_id"))
      val entries = TxLog.manifest(s, base, 1L)._1
      require(entries.forall(_.statsFor("v").isEmpty),
        "no stats may be collected for a VARIANT column")
      require(TxLog.pruneRanges(s, base,
          Seq(("v", "a", "z")))._1.size == entries.size,
        "skipping on the variant column must soundly keep every file")
      // typed silver extraction — variant_get paths over the bronze
      TxLog.cachePurge(base)
      TxLog.read(s, base)
        .select(
          variant_get(col("v"), "$.id", "long").as("id"),
          coalesce(
            variant_get(col("v"), "$.lang", "string"),
            variant_get(col("v"), "$.meta.lang", "string"),
            lit("unknown")).as("lang2"),
          coalesce(try_variant_get(col("v"), "$.score", "double"),
            lit(0.0)).as("score"),
          coalesce(try_variant_get(col("v"), "$.len", "long"), lit(0L))
            .as("len"))
        .groupBy("lang2")
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
          sum(col("len")).as("sum_len"),
          sum(col("score").cast("decimal(18,6)")).cast("double")
            .as("sum_score"))
        .orderBy("lang2")
    }),

    // SHREDDED variant adoption (r14 next-round #2): stock Spark 4
    // writes VARIANT with per-field typed_value columns
    // (writeShredding=true is its default) — the layout every
    // directory some OTHER job wrote arrives in. CONVERT TO TXLOG
    // adopts it in place, and Spark's parquet reader (which serves
    // DV-masked files' rows too) REBUILDS each VariantVal from
    // typed_value + residual value — byte-compatible with
    // the writer, so variant_get extraction is identical to the
    // unshredded twin (TxLogVariantSpec pins the equality law; this
    // witness pins the adoption → MOR delete → typed-silver chain
    // against the relational oracle).
    "s87_variant_shredded" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txvariant_shred"
      TxLog.drop(s, base)
      val d = t(s, dir, "documents")
      val raw = d.where(col("doc_id") < 600)
        .select(col("doc_id"), (col("doc_id") % 3).as("m"),
          col("lang"), col("n_chars"))
        .select(col("doc_id"), when(col("m") === 0,
            to_json(struct(col("doc_id").as("id"), col("lang"),
              col("n_chars").as("len"))))
          .when(col("m") === 1,
            to_json(struct(col("doc_id").as("id"),
              struct(col("lang")).as("meta"))))
          .otherwise(
            to_json(struct(col("doc_id").as("id"),
              (col("n_chars") * 1.5).as("score")))).as("js"))
      require(s.conf.get(
        "spark.sql.variant.writeShredding.enabled") == "true",
        "the adoption witness needs stock Spark's SHREDDED default")
      // the directory is written by PLAIN spark.write — not the log's
      // land path — so the variant column shreds
      raw.select(col("doc_id"), parse_json(col("js")).as("v"))
        .repartitionByRange(2, col("doc_id"))
        .write.mode("overwrite").parquet(base)
      require(TxLog.convertParquet(s, base, Seq("doc_id")) == 1L,
        "CONVERT must adopt the shredded directory in one commit")
      // the MOR delete masks rows without rewriting files — every
      // masked file now reads through the ROW decoder, which must
      // rebuild the shredded variants
      TxLog.deleteRangeMor(s, base, "doc_id", 10L, 29L)
      s.read.format("graft.sources.TxLogSource").load(base)
        .select(
          variant_get(col("v"), "$.id", "long").as("id"),
          coalesce(
            variant_get(col("v"), "$.lang", "string"),
            variant_get(col("v"), "$.meta.lang", "string"),
            lit("unknown")).as("lang2"),
          coalesce(try_variant_get(col("v"), "$.score", "double"),
            lit(0.0)).as("score"),
          coalesce(try_variant_get(col("v"), "$.len", "long"), lit(0L))
            .as("len"))
        .groupBy("lang2")
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
          sum(col("len")).as("sum_len"),
          sum(col("score").cast("decimal(18,6)")).cast("double")
            .as("sum_score"))
        .orderBy("lang2")
    }),

    // Variant-path stats (Delta's shredded-leaf skipping, the r14
    // verdict's missing #2 tail): the variant COLUMN itself has no
    // total order so its stats stay vetoed, but a TYPED extraction
    // path does — collectVariantStats lands per-file min/max on
    // `v$.len` as one metadata commit (zero data files move, works on
    // shredded and unshredded layouts alike because it computes
    // through try_variant_get), and readVariantRange turns a typed
    // band over semi-structured bronze into a pruned band scan. The
    // chain pins the maintenance loop: land → collect → later ingest
    // (conservatively scanned, no stats yet) → re-collect → band
    // read. Oracle: the band recomputed relationally from documents.
    "s89_variant_path_stats" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txvariant_pathstats"
      TxLog.drop(s, base)
      val d = t(s, dir, "documents")
      // ragged crawl shapes: one in four records has no `len` at all
      def toBronze(df: DataFrame) = df
        .select(col("doc_id"), (col("doc_id") % 4).as("m"),
          col("lang"), col("n_chars"))
        .select(col("doc_id"), parse_json(
            when(col("m") === 3,
              to_json(struct(col("doc_id").as("id"), col("lang"))))
            .otherwise(to_json(struct(col("doc_id").as("id"),
              col("lang"), col("n_chars").as("len"))))).as("v"))
      // land range-banded on the length so the path band can prune
      TxLog.commit(toBronze(d.where(col("doc_id") % 10 < 8)
          .repartitionByRange(4, col("n_chars"))),
        base, None, Some("doc_id"))
      val files1 = TxLog.manifestFiles(s, base, 1L).toSet
      val v2 = TxLog.collectVariantStats(s, base, "v", "$.len", "long")
      require(v2 == 2L && TxLog.manifestFiles(s, base, v2).toSet == files1,
        "variant-path stats collection must be metadata-only")
      val entries = TxLog.manifest(s, base, v2)._1
      require(entries.forall(_.statsFor("v$.len").isDefined),
        "every banded file must carry min/max on the extraction path")
      require(entries.forall(_.statsFor("v").isEmpty),
        "the variant column's own stats stay vetoed")
      require(entries.count(e =>
          TxLog.touchesRange(e, "v$.len", "150", "299")) < entries.size,
        "the typed path band must prune the banded files")
      // a later ingest batch: no path stats until the next sweep —
      // conservatively scanned, never wrongly skipped
      TxLog.append(toBronze(d.where(col("doc_id") % 10 >= 8))
        .coalesce(1), base, Some("doc_id"))
      TxLog.collectVariantStats(s, base, "v", "$.len", "long")
      TxLog.cachePurge(base)
      TxLog.readVariantRange(s, base, "v", "$.len", "long", 150L, 299L)
        .select(variant_get(col("v"), "$.id", "long").as("id"),
          variant_get(col("v"), "$.lang", "string").as("lang2"),
          variant_get(col("v"), "$.len", "long").as("len"))
        .groupBy("lang2")
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
          sum(col("len")).as("sum_len"))
        .orderBy("lang2")
    }),

    // DECLARED write-time variant stats (the standing twin of s89's
    // sweep): after ALTER TABLE ... DECLARE VARIANT STATS, every
    // write collects the path's min/max in the same scan as its
    // ordinary stats columns — so the band read prunes FRESH ingest
    // with zero maintenance commits in between. The requires pin the
    // mechanism (declare back-fills metadata-only; the append's own
    // files carry the key; the disjoint band excludes them); the
    // oracle pins the band content relationally.
    "s90_variant_declared_stats" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txvariant_declared"
      TxLog.drop(s, base)
      val d = t(s, dir, "documents")
      def toBronze(df: DataFrame) = df
        .select(col("doc_id"), (col("doc_id") % 4).as("m"),
          col("lang"), col("n_chars"))
        .select(col("doc_id"), parse_json(
            when(col("m") === 3,
              to_json(struct(col("doc_id").as("id"), col("lang"))))
            .otherwise(to_json(struct(col("doc_id").as("id"),
              col("lang"), col("n_chars").as("len"))))).as("v"))
      TxLog.commit(toBronze(d.where(col("doc_id") % 10 < 8)
          .repartitionByRange(4, col("n_chars"))),
        base, None, Some("doc_id"))
      val files1 = TxLog.manifestFiles(s, base, 1L).toSet
      val v2 = TxLog.declareVariantStats(s, base, "v", "$.len", "long")
      require(v2 == 2L &&
        TxLog.manifestFiles(s, base, v2).toSet == files1,
        "declare must back-fill as a metadata-only commit")
      // fresh ingest: the write itself collects the declared path's
      // stats — no sweep, and the disjoint band prunes it at once
      TxLog.append(toBronze(d.where(col("doc_id") % 10 >= 8))
        .coalesce(1), base, Some("doc_id"))
      val v3 = TxLog.latestVersion(s, base).get
      val fresh = TxLog.manifest(s, base, v3)._1
        .filterNot(e => files1.contains(e.path))
      require(fresh.nonEmpty &&
        fresh.forall(_.statsFor("v$.len").isDefined),
        "a post-declare write must collect path stats at write time")
      TxLog.cachePurge(base)
      TxLog.readVariantRange(s, base, "v", "$.len", "long", 150L, 299L)
        .select(variant_get(col("v"), "$.id", "long").as("id"),
          variant_get(col("v"), "$.lang", "string").as("lang2"),
          variant_get(col("v"), "$.len", "long").as("len"))
        .groupBy("lang2")
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
          sum(col("len")).as("sum_len"))
        .orderBy("lang2")
    }),

    // CLUSTER BY a VARIANT extraction path (liquid clustering on
    // semi-structured bronze — a layout even Delta doesn't offer on
    // shredded leaves yet): the declared `$.len` path types the
    // interleave, every append RANGE-TILES itself on the extraction
    // with per-file stats landing in the same write, and the band
    // read scans only the touched tiles. The requires pin disjoint
    // tiling + pruning; the oracle pins the band content.
    "s91_variant_cluster_by" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txvariant_cluster"
      TxLog.drop(s, base)
      val d = t(s, dir, "documents")
      def toBronze(df: DataFrame) = df
        .select(col("doc_id"), (col("doc_id") % 4).as("m"),
          col("lang"), col("n_chars"))
        .select(col("doc_id"), parse_json(
            when(col("m") === 3,
              to_json(struct(col("doc_id").as("id"), col("lang"))))
            .otherwise(to_json(struct(col("doc_id").as("id"),
              col("lang"), col("n_chars").as("len"))))).as("v"))
      TxLog.commit(toBronze(d.where(col("doc_id") % 10 < 8))
        .coalesce(1), base, None, Some("doc_id"))
      TxLog.declareVariantStats(s, base, "v", "$.len", "long")
      TxLog.alterClusterBy(s, base, Seq("v$.len"))
      // the ingest batch arrives UNSORTED; the table tiles it itself
      val pre = TxLog.manifestFiles(s, base,
        TxLog.latestVersion(s, base).get).toSet
      TxLog.append(toBronze(d.where(col("doc_id") % 10 >= 8))
        .repartition(4), base, Some("doc_id"))
      val fresh = TxLog.manifest(s, base,
          TxLog.latestVersion(s, base).get)._1
        .filterNot(e => pre.contains(e.path))
      // the ragged quarter (records without `$.len`) range-partitions
      // into its own NULL tile, which correctly carries no path stats
      // (all-NULL ⇒ conservative) — every other tile must band
      require(fresh.size >= 3 &&
        fresh.count(_.statsFor("v$.len").isDefined) >= 2,
        "a clustered append must tile with path stats on the " +
          s"non-null tiles; got ${fresh.map(e => (e.path, e.rows,
            e.stats.map(st => st.column)))}")
      val bands = fresh.flatMap(_.statsFor("v$.len"))
        .map(st => (st.min.toLong, st.max.toLong)).sortBy(_._1)
      require(bands.sliding(2).forall {
          case Seq((_, hi), (lo2, _)) => lo2 > hi
          case _ => true },
        s"clustered tiles must band disjointly, got $bands")
      val (kept, all) = TxLog.pruneRanges(s, base,
        Seq(("v$.len", 150L, 299L)))
      require(kept.size < all.size,
        s"the path band must prune: kept ${kept.size} of ${all.size}")
      TxLog.cachePurge(base)
      TxLog.readVariantRange(s, base, "v", "$.len", "long", 150L, 299L)
        .select(variant_get(col("v"), "$.id", "long").as("id"),
          variant_get(col("v"), "$.lang", "string").as("lang2"),
          variant_get(col("v"), "$.len", "long").as("len"))
        .groupBy("lang2")
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
          sum(col("len")).as("sum_len"))
        .orderBy("lang2")
    }),

    // A GENERATED partition column derived from a VARIANT path — the
    // crawl-bronze layout at rest: raw ragged records land with NO
    // partition value, the engine computes lang =
    // variant_get(v, '$.lang', 'string') at write, splits the layout
    // on it, and a language predicate reads exactly one partition.
    // (Delta can generate from typed columns; generating from a
    // semi-structured PATH removes the silver hop entirely.)
    "s92_variant_generated_partition" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val base = Ingest.fixtureDir(dir) + "/txvariant_genpart"
      TxLog.drop(s, base)
      TxLog.createTable(s, base, StructType(Seq(
          StructField("doc_id", LongType), StructField("v", VariantType),
          StructField("lang", StringType))),
        partitionCols = Seq("lang"),
        generated = Seq("lang" -> "variant_get(v, '$.lang', 'string')"))
      val d = t(s, dir, "documents")
      val raw = d
        .select(col("doc_id"), (col("doc_id") % 4).as("m"),
          col("lang"), col("n_chars"))
        .select(col("doc_id").cast("long").as("doc_id"), parse_json(
            when(col("m") === 3,
              to_json(struct(col("doc_id").as("id"), col("lang"))))
            .otherwise(to_json(struct(col("doc_id").as("id"),
              col("lang"), col("n_chars").as("len"))))).as("v"))
      TxLog.append(raw, base) // no `lang` supplied — derived at write
      val entries = TxLog.manifest(s, base,
        TxLog.latestVersion(s, base).get)._1
      require(entries.forall(_.statsFor("lang").exists(st =>
          st.min == st.max)),
        "every partition file must pin its exact lang tuple")
      val (kept, all) = TxLog.pruneRanges(s, base,
        Seq(("lang", "es", "es")))
      require(kept.size < all.size,
        s"the lang predicate must prune: kept ${kept.size} of ${all.size}")
      TxLog.readRange(s, base, "lang", "es", "es")
        .select(variant_get(col("v"), "$.id", "long").as("id"),
          coalesce(try_variant_get(col("v"), "$.len", "long"), lit(0L))
            .as("len"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
          sum(col("len")).as("sum_len"))
    }))

  private val streamDefs: Map[String, Q] = Map(
    // Streaming VARIANT bronze (the crawl-ingestion shape): ragged
    // payloads land as one variant column through the exactly-once
    // foreachBatch→appendOnce sink, the DECLARED `$.eid` path
    // collects per-file stats inside each micro-batch commit, the
    // replayed final batch no-ops, and the witness reads a TYPED
    // band of the bronze. Oracle: the band recomputed from events.
    "stream_variant_bronze" -> ((s, dir) =>
      graft.streaming.StreamingOps.variantBronzeIngest(s, dir)
        .select(variant_get(col("v"), "$.t", "string").as("t"),
          coalesce(try_variant_get(col("v"), "$.val", "double"),
            lit(0.0)).as("val"))
        .groupBy("t")
        .agg(count(lit(1)).as("n"),
          sum(col("val").cast("decimal(18,6)")).cast("double")
            .as("sum_val"))
        .orderBy("t")),

    // Streaming schema tracking (r13 next-round #5): a checkpointed
    // TxLog stream drains the 2-column era, the table evolves
    // (ADD COLUMNS) and lands data under the new surface, and the
    // SAME checkpoint resumes across the evolution — no re-delivery,
    // no loss, old rows null-filled, new rows carrying values (the
    // log itself is the schema tracker; the non-additive rename/drop
    // case fails loudly — TxLogStreamSpec). Oracle: the evolved union
    // recomputed relationally from events.
    "stream_schema_tracking" -> ((s, dir) => {
      val base = Ingest.fixtureDir(dir) + "/txstream_schema"
      TxLog.drop(s, base)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      TxLog.commit(ev.where(col("event_id") < 300)
        .repartitionByRange(2, col("event_id")), base, None,
        Some("event_id"))
      val outDir = Ingest.fixtureDir(dir) + "/txstream_schema_out"
      TxLog.drop(s, outDir)
      val nonce = "graft_schema_track_" + System.nanoTime()
      val ckpt = "/tmp/graft_stream_ckpt/" + nonce
      def drainOnce(): Unit = {
        val q = s.readStream.format("graft.sources.TxLogSource")
          .load(base)
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .option("mergeSchema", "true")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drainOnce() // the 3-column era
      // additive evolution + data under the NEW 4-column surface
      TxLog.alterAddColumns(s, base, org.apache.spark.sql.types
        .StructType(Seq(org.apache.spark.sql.types.StructField("boosted",
          org.apache.spark.sql.types.DoubleType))))
      TxLog.append(ev.where(col("event_id").between(300, 499))
        .withColumn("boosted", col("value") * 2), base, Some("event_id"))
      drainOnce() // the SAME checkpoint resumes across the evolution
      graft.streaming.StreamTune.dropScratch(ckpt)
      s.read.option("mergeSchema", "true").parquet(outDir)
        .groupBy((col("event_id") % 10).cast("int").as("grp"))
        .agg(count(lit(1)).as("n"),
          count(col("boosted")).as("n_boosted"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"),
          sum(col("boosted").cast("decimal(18,6)")).cast("double")
            .as("sum_boosted"))
        .orderBy("grp")
    }))

  val allDefs: Map[String, Q] = defs ++ variantDefs ++ streamDefs

  val oracles: Map[String, String] = Map(
    "stream_variant_bronze" ->
      """WITH t AS (SELECT event_type AS t,
                           CASE WHEN event_id % 3 <> 0 THEN value
                                ELSE 0.0 END AS val
                    FROM events WHERE event_id BETWEEN 100 AND 499)
         SELECT t, count(*) AS n,
                cast(sum(cast(val AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_val
         FROM t GROUP BY 1 ORDER BY 1""",
    "stream_schema_tracking" ->
      """WITH t AS (SELECT event_id, cast(value AS DOUBLE) AS value,
                           CASE WHEN event_id BETWEEN 300 AND 499
                                THEN cast(value AS DOUBLE) * 2 END
                             AS boosted
                    FROM events WHERE event_id < 500)
         SELECT cast(event_id % 10 AS INTEGER) AS grp, count(*) AS n,
                count(boosted) AS n_boosted,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_value,
                cast(sum(cast(boosted AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_boosted
         FROM t GROUP BY 1 ORDER BY 1""",
    "s86_variant_bronze" ->
      """WITH t AS (SELECT doc_id, doc_id % 3 AS m, lang, n_chars
                    FROM documents),
         x AS (SELECT doc_id AS id,
                      CASE WHEN m IN (0, 1) THEN lang
                           ELSE 'unknown' END AS lang2,
                      CASE WHEN m = 2 THEN n_chars * 1.5
                           ELSE 0.0 END AS score,
                      CASE WHEN m = 0 THEN n_chars ELSE 0 END AS len
               FROM t)
         SELECT lang2, count(*) AS n,
                cast(sum(id) AS BIGINT) AS sum_id,
                cast(sum(len) AS BIGINT) AS sum_len,
                cast(sum(cast(score AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_score
         FROM x GROUP BY 1 ORDER BY 1""",
    "s87_variant_shredded" ->
      """WITH t AS (SELECT doc_id, doc_id % 3 AS m, lang, n_chars
                    FROM documents
                    WHERE doc_id < 600
                      AND doc_id NOT BETWEEN 10 AND 29),
         x AS (SELECT doc_id AS id,
                      CASE WHEN m IN (0, 1) THEN lang
                           ELSE 'unknown' END AS lang2,
                      CASE WHEN m = 2 THEN n_chars * 1.5
                           ELSE 0.0 END AS score,
                      CASE WHEN m = 0 THEN n_chars ELSE 0 END AS len
               FROM t)
         SELECT lang2, count(*) AS n,
                cast(sum(id) AS BIGINT) AS sum_id,
                cast(sum(len) AS BIGINT) AS sum_len,
                cast(sum(cast(score AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_score
         FROM x GROUP BY 1 ORDER BY 1""",
    "s89_variant_path_stats" ->
      """WITH t AS (SELECT doc_id, lang, n_chars FROM documents
                    WHERE doc_id % 4 <> 3
                      AND n_chars BETWEEN 150 AND 299)
         SELECT lang AS lang2, count(*) AS n,
                cast(sum(doc_id) AS BIGINT) AS sum_id,
                cast(sum(n_chars) AS BIGINT) AS sum_len
         FROM t GROUP BY 1 ORDER BY 1""",
    "s90_variant_declared_stats" ->
      """WITH t AS (SELECT doc_id, lang, n_chars FROM documents
                    WHERE doc_id % 4 <> 3
                      AND n_chars BETWEEN 150 AND 299)
         SELECT lang AS lang2, count(*) AS n,
                cast(sum(doc_id) AS BIGINT) AS sum_id,
                cast(sum(n_chars) AS BIGINT) AS sum_len
         FROM t GROUP BY 1 ORDER BY 1""",
    "s91_variant_cluster_by" ->
      """WITH t AS (SELECT doc_id, lang, n_chars FROM documents
                    WHERE doc_id % 4 <> 3
                      AND n_chars BETWEEN 150 AND 299)
         SELECT lang AS lang2, count(*) AS n,
                cast(sum(doc_id) AS BIGINT) AS sum_id,
                cast(sum(n_chars) AS BIGINT) AS sum_len
         FROM t GROUP BY 1 ORDER BY 1""",
    "s92_variant_generated_partition" ->
      """SELECT count(*) AS n,
                cast(sum(doc_id) AS BIGINT) AS sum_id,
                cast(sum(CASE WHEN doc_id % 4 <> 3 THEN n_chars
                              ELSE 0 END) AS BIGINT) AS sum_len
         FROM documents WHERE lang = 'es'""",
    "s83_parquet_checkpoint" ->
      """WITH t AS (SELECT cast(o_orderkey AS BIGINT) AS k,
                           cast(o_totalprice AS DOUBLE) AS price
                    FROM orders
                    WHERE o_orderkey < 2000
                      AND o_orderkey NOT BETWEEN 100 AND 199)
         SELECT cast(k % 7 AS INTEGER) AS grp, count(*) AS n,
                cast(sum(cast(price AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
         FROM t GROUP BY 1 ORDER BY 1""",
    "s84_occ_rebase" ->
      """WITH base AS (SELECT cast(o_orderkey AS BIGINT) AS k,
                              cast(o_totalprice AS DOUBLE) AS price
                       FROM orders WHERE o_orderkey < 2400),
         ctl AS (
           SELECT k, CASE WHEN k = 5 THEN 55555.0
                          WHEN k = 6 THEN 66666.0
                          ELSE price END AS price
           FROM base
           UNION ALL
           SELECT 5, 55555.0 WHERE 5 NOT IN (SELECT k FROM base)
           UNION ALL
           SELECT 6, 66666.0 WHERE 6 NOT IN (SELECT k FROM base)),
         afterdel AS (SELECT * FROM ctl
                      WHERE k NOT BETWEEN 2000 AND 2399),
         merged AS (
           SELECT k, CASE WHEN k = 7 THEN 77777.0
                          WHEN k = 11 THEN 11111.0
                          ELSE price END AS price
           FROM afterdel
           UNION ALL
           SELECT 7, 77777.0 WHERE 7 NOT IN (SELECT k FROM afterdel)
           UNION ALL
           SELECT 11, 11111.0 WHERE 11 NOT IN (SELECT k FROM afterdel))
         SELECT cast(k % 7 AS INTEGER) AS grp, count(*) AS n,
                cast(sum(cast(price AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
         FROM merged GROUP BY 1 ORDER BY 1""",
    "s88_nested_colmap" ->
      """WITH t AS (SELECT cast(o_orderkey AS BIGINT) AS k,
                           cast(o_totalprice AS DOUBLE) AS amount,
                           CASE WHEN o_orderkey >= 1200
                                THEN o_orderstatus END AS status
                    FROM orders
                    WHERE o_orderkey < 1600
                      AND o_orderkey NOT BETWEEN 100 AND 199)
         SELECT cast(k % 5 AS INTEGER) AS grp, count(*) AS n,
                count(status) AS n_status,
                cast(sum(cast(amount AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_amount
         FROM t GROUP BY 1 ORDER BY 1""",
    "s85_nested_tier" ->
      """WITH t AS (SELECT cast(o_totalprice AS DOUBLE) AS price
                    FROM orders WHERE o_orderkey < 2000)
         SELECT cast(floor(price / 50000) AS INTEGER) AS band,
                count(*) AS n,
                cast(sum(cast(price AS DECIMAL(18,6))) AS DOUBLE)
                  AS sum_price
         FROM t GROUP BY 1 ORDER BY 1""")
}
