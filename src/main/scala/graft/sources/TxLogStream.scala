package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{TxLog, TxLogPlan}

/** Streaming source over the [[TxLog]] manifest-commit log — the
  * Delta streaming-source analog (the reference streams FROM its
  * Delta tables downstream of every dbt model; here the same surface
  * is native on the plain-parquet log): each published VERSION is a
  * micro-batch, the checkpointed offset is the last consumed version,
  * and a batch's rows are exactly the files that version ADDED
  * (manifest diff — never a rescan of the table).
  *
  * Why version offsets need none of the paged source's fingerprint
  * machinery: manifests are published by an atomic create-if-absent
  * CAS, version numbers are dense and monotone, and a published
  * manifest is immutable — so "(start, end]" names an immutable set
  * of files forever. The only way history disappears is [[TxLog
  * .vacuum]], which this source surfaces as an explicit
  * reset-your-checkpoint error instead of silently skipping data.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.TxLogSource")
  *     .option("changeFeed", "true")        // + _commit_version column
  *     .option("maxVersionsPerTrigger", 1)  // admission control
  *     .option("startingVersion", 3)        // skip the seed commit
  *     .load(base)
  * }}}
  *
  * Semantics and options:
  *  - default (`changeFeed` unset): rows of every added file, i.e.
  *    the INSERT stream of an append-only table. For COW/compaction
  *    versions rewritten files appear as adds (same caveat
  *    [[TxLog.changesBetween]] documents — dedupe by key downstream).
  *  - `changeFeed=true`: appends a `_commit_version` LONG column so a
  *    downstream consumer can window/dedupe per commit.
  *  - `startingVersion=N`: first consumed version is N+1 — the "seed
  *    commit already loaded, stream the increments" shape.
  *  - `maxVersionsPerTrigger=N`: at most N versions per micro-batch;
  *    with `Trigger.AvailableNow` the backlog target is frozen up
  *    front and drains in N-sized batches, each checkpointed.
  *  - `maxFilesPerTrigger=N`: at most N files per micro-batch, WITHIN
  *    versions too (offsets carry an intra-version index, Delta's
  *    (reservoirVersion, index) shape) — the control that matters at
  *    100 TB, where "version 1" IS the whole table: a stream starting
  *    from scratch backfills the initial snapshot in bounded chunks
  *    instead of one giant micro-batch. The index counts the QUERY's
  *    own stats-surviving files, so (like any Spark stream) the
  *    query's predicates must not change against an in-flight
  *    checkpoint. Not applicable to `changeTypes` CDF streams (each
  *    version's change set ships atomically).
  *  - batch read (`spark.read` on the same format): latest snapshot
  *    (or the full change feed from version 0 under `changeFeed`) —
  *    provided for parity; [[TxLog.read]] through Spark's vectorized
  *    parquet scan remains the fast batch path.
  *  - `versionAsOf=N` (batch only): time travel — the snapshot (or
  *    feed prefix) as of version N, schema inferred from N's own
  *    files so later-added columns don't leak into the past.
  *  - range predicates (`WHERE k BETWEEN lo AND hi`, =, <, >) are
  *    pushed into the scan builder and prune manifest entries by
  *    per-file min/max stats BEFORE any footer is opened — batch and
  *    per-micro-batch alike; every filter stays residual with Spark,
  *    so the skip can only drop provably-dead files.
  *
  * The executor half decodes every file through Spark's own
  * vectorized parquet reader with the column projection pushed into
  * it (pages of unprojected columns are never read); a column missing
  * from an old file reads as NULL, so schema-evolving appends
  * ([[TxLog.readEvolved]]) stream correctly.
  */
class TxLogSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = options.get("path")
    require(base != null, "txlog source requires a path")
    val spark = SparkSession.active
    val latestOpt = TxLog.latestVersion(spark, base)
    require(latestOpt.isDefined,
      s"the txlog source at $base has no committed version — it needs " +
        "at least one published manifest to infer a schema")
    val latest = latestOpt.get
    // time-travel reads infer from the TARGET version's files, so a
    // column added after versionAsOf does not leak into the past
    val asOf = TxLogSource.asOfVersion(spark, base, options)
    asOf.foreach(v => require(v >= 1 && v <= latest,
      s"versionAsOf $v is beyond the latest committed version $latest"))
    val target = asOf.getOrElse(latest)
    // a version's union schema is immutable → cache it, so a `load()`
    // of a many-file table does not re-derive it from every footer
    // (TxLog.readFiles caches those per file). The commit mtime guards
    // against version-number reuse after drop-and-recreate at the
    // same path.
    val snap = TxLogSource.snapshotSchema(spark, base, target)
    var fields = snap.fields
    if (TxLogSource.changeFeed(options))
      fields :+= StructField(TxLogSource.CommitVersionCol, LongType,
        nullable = false)
    if (TxLogSource.changeTypes(options))
      fields :+= StructField(TxLogSource.ChangeTypeCol, StringType,
        nullable = false)
    if (TxLogSource.rowIds(options)) {
      // snapshot reads need tracking at the TARGET (API parity with
      // readVersionWithRowIds); change feeds replay pre-enablement
      // versions too, so they only need tracking at the latest —
      // earlier versions serve ids through the enablement backfill
      // (files still live at enable) or honest NULL (removed before)
      val rv = if (TxLogSource.changeFeed(options)) latest else target
      require(TxLog.metaOf(spark, base, rv).rowIdHighWater.isDefined,
        s"rowIds=true needs row tracking enabled on $base " +
          "(TxLog.enableRowTracking / ALTER TABLE ... SET " +
          "TBLPROPERTIES ('graft.rowTracking'='true'))")
      fields :+= StructField(TxLogSource.RowIdMetaCol, LongType)
    }
    StructType(fields)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val base = properties.get("path")
    require(base != null, "txlog source requires a path")
    new TxLogTable(schema, base)
  }
}

object TxLogSource {
  val CommitVersionCol = "_commit_version"
  val ChangeTypeCol = "_change_type"
  /** Row-tracking lineage surface: `option("rowIds","true")` adds a
    * `_row_id` column — the STABLE id ([[TxLog.readWithRowIds]]
    * semantics: materialized column wins, else file base + row
    * ordinal). Composes with every read shape: batch snapshots,
    * versionAsOf time travel, the batch change feeds, the snapshot
    * stream AND the CDF stream (ids need no per-epoch coordination —
    * they are per-FILE spans, invariant under micro-batch slicing).
    * Pre-enablement versions in a replayed feed serve the id the file
    * was assigned at enablement (same physical rows) or NULL if the
    * file died before tracking began. Requires row tracking enabled. */
  val RowIdMetaCol = "_row_id"

  /** Driver-side LRU of inferred union schemas, keyed by (base,
    * version, commit mtime) — all three immutable for a live version. */
  private val schemaCache =
    new java.util.LinkedHashMap[(String, Long, Long), StructType](
      32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), StructType]): Boolean =
        size() > 64
    }
  /** A version's union schema (mergeSchema over its live files),
    * cached by (base, version, commit mtime). Under column mapping the
    * result is the version's LOGICAL surface: mapped physical columns
    * take their file-inferred types under their logical names (mapping
    * order), just-declared columns NULL-fill from the `#schema` line,
    * and unmapped (DROPped) physical columns vanish — exactly
    * [[TxLog.readVersion]]'s projection. Throws when the version's
    * manifest references no files (fully-deleted snapshot / freshly
    * created empty table) — callers with a declared-schema fallback
    * (the catalog) handle that case. */
  private[graft] def snapshotSchema(spark: SparkSession, base: String,
                                    target: Long): StructType =
    cachedSchema(base, target, TxLog.commitModTime(spark, base, target)) {
      val files = TxLog.manifestFiles(spark, base, target)
        .map(rel => TxLog.resolve(base, rel))
      // the version's DECLARED schema (`#schema` meta line, written by
      // ALTER ADD COLUMNS) widens the union-of-files schema: a
      // declared column no file carries yet scans as NULL. File
      // columns keep their inferred types and order (data is truth
      // for columns that exist on disk); declared-only columns append
      // after, in declared order — versioned with the log, so a
      // time-travel read BEFORE the ALTER stays narrow.
      val m = TxLog.metaOf(spark, base, target)
      val declared = m.schema
      val cmap = m.colMap
      // a widened version's surface IS the declared schema (old files
      // upcast inside the readers); footer inference would serve the
      // narrow type — or crash on the mixed-width union
      if (m.widened.nonEmpty)
        declared.getOrElse(throw new IllegalStateException(
          s"$base carries #widencol lines but no #schema line"))
      else if (files.isEmpty)
        declared.getOrElse(throw new IllegalArgumentException(
          s"version $target of $base references no data files"))
      else {
        // the materialized row-id column is engine-internal: every
        // user-facing surface hides it (TxLog.read drops it the same
        // way) — without this filter a tracked-and-rewritten table
        // would leak `__row_id` as a data column, and a rowIds=true
        // scan would request it TWICE (as a data column and as the
        // materialized id)
        val inferred = StructType(
          TxLog.filesSchema(spark, files)
            .fields.filterNot(
              _.name.equalsIgnoreCase(TxLog.RowIdCol)))
        cmap match {
          case Some(cm) =>
            // mapped table: serve the logical projection in mapping
            // order — file types win for on-disk columns, the declared
            // type backs a just-ALTERed column no file carries yet.
            // Tier-2 nested bindings rebuild the struct TYPE: mapped
            // physical subfields take their leaf logical names in
            // mapping order, unmapped (DROPped) subfields vanish,
            // just-ADDed ones type from the declared schema.
            val byPhys = inferred.fields
              .map(f => f.name.toLowerCase -> f).toMap
            val byDecl = declared.toSeq.flatMap(_.fields)
              .map(f => f.name.toLowerCase -> f).toMap
            StructType(cm.topCols.flatMap { case (l, p) =>
              val nested = cm.nestedUnder(l)
              val flat = byPhys.get(p.toLowerCase).map(_.copy(name = l))
                .orElse(byDecl.get(l.toLowerCase).map(_.copy(name = l)))
              if (nested.isEmpty) flat
              else flat.map { f =>
                val fileStruct = f.dataType match {
                  case s: StructType => Some(s)
                  case _ => None
                }
                val declStruct = byDecl.get(l.toLowerCase)
                  .map(_.dataType).collect { case s: StructType => s }
                f.copy(dataType = StructType(
                  nested.flatMap { case (ll, lp) =>
                    fileStruct.flatMap(_.fields.find(
                        _.name.equalsIgnoreCase(lp)))
                      .map(_.copy(name = ll))
                      .orElse(declStruct.flatMap(_.fields.find(
                          _.name.equalsIgnoreCase(ll)))
                        .map(_.copy(name = ll)))
                  }))
              }
            })
          case None => declared match {
            case Some(ds) =>
              val have = inferred.fieldNames.map(_.toLowerCase).toSet
              StructType(inferred.fields ++
                ds.fields.filterNot(f => have(f.name.toLowerCase)))
            case None => inferred
          }
        }
      }
    }

  /** The logical schema a MERGE targets at snapshot `s`, taken from
    * the log and the cached footers alone (no read plan, so no Spark
    * job and no path check): [[snapshotSchema]], the surface the
    * catalog serves, with mapped, widened and declared-only columns.
    * A version without files (a file-less create, a fully-deleted
    * snapshot) is a legitimate target for the NOT MATCHED half and
    * serves its declared `#schema`; without one the MERGE fails. */
  private[graft] def mergeTargetSchema(s: graft.operators.Snapshot): StructType =
    if (s.entries.nonEmpty || s.meta.widened.nonEmpty)
      snapshotSchema(s.spark, s.base, s.cur)
    else s.meta.schema.getOrElse(throw new IllegalStateException(
      s"MERGE into the empty table at ${s.base} with no declared schema " +
        "— declare one (createTable / CREATE TABLE) or write data first"))

  /** Logical→physical name map of one version (lowercased logical
    * keys; empty = identity — the table has no column mapping). The
    * scan stack resolves this ONCE at plan time and threads it through
    * stats pruning and both partition readers. */
  private[sources] def physMapOf(m: graft.operators.TableMeta)
      : Map[String, String] =
    m.colMap
      .map(_.cols.map { case (l, p) => l.toLowerCase -> p }.toMap)
      .getOrElse(Map.empty)

  /** Translate one logical column name through a [[physMapOf]] map —
    * identity for unmapped tables and the synthesized CDF columns. */
  private[sources] def physOf(m: Map[String, String], name: String): String =
    m.getOrElse(name.toLowerCase, name)

  /** A required (logical) field as THIS table's FILES carry it: the
    * frozen physical top-level name, and — tier-2 nested bindings —
    * struct subfields renamed in place to their physical leaves (the
    * logical field ORDER holds, so positional consumption lines up
    * with readSchema); a just-ADDed subfield no file carries keeps
    * its fresh physical name and null-fills. The requested schema of
    * every DSv2 partition's parquet reader. */
  private[sources] def toFileField(m: Map[String, String],
                                   f: StructField): StructField = {
    val pn = physOf(m, f.name)
    f.dataType match {
      case st: StructType
          if m.keys.exists(_.startsWith(f.name.toLowerCase + ".")) =>
        val pref = f.name.toLowerCase + "."
        f.copy(name = pn, dataType = StructType(st.fields.map(sf =>
          sf.copy(name = m.get(pref + sf.name.toLowerCase)
            .map(pp => pp.substring(pp.indexOf('.') + 1))
            .getOrElse(sf.name)))))
      case _ => f.copy(name = pn)
    }
  }

  private[sources] def cachedSchema(base: String, v: Long, mtime: Long)
                                   (compute: => StructType): StructType = {
    // normalize the path spelling (file:/tmp/t vs /tmp/t) — the same
    // canonicalization the snapshot cache uses (ONE helper, no
    // drift): a pinned-mtime table recreated at the same path must
    // never serve a previous incarnation's schema through an alias
    val key = (TxLog.canonicalBase(base), v, mtime)
    val hit = schemaCache.synchronized(Option(schemaCache.get(key)))
    hit.getOrElse {
      val s = compute
      schemaCache.synchronized(schemaCache.put(key, s))
      s
    }
  }

  /** The batch time-travel target: `versionAsOf` directly, or
    * `timestampAsOf` resolved through [[TxLog.versionAtTimestamp]]
    * (Delta's boundary rule — latest commit at or before the
    * instant). Mutually exclusive, like Delta's reader options. */
  private[sources] def asOfVersion(spark: SparkSession, base: String,
                                   options: CaseInsensitiveStringMap)
      : Option[Long] = {
    val v = Option(options.get("versionAsOf")).map(_.toLong)
    val ts = Option(options.get("timestampAsOf"))
    require(v.isEmpty || ts.isEmpty,
      "specify either versionAsOf or timestampAsOf, not both")
    v.orElse(ts.map(s =>
      TxLog.versionAtTimestamp(spark, base, parseTsMillis(spark, s))))
  }

  /** Accepts epoch millis, `yyyy-MM-dd HH:mm:ss[.f]` interpreted in
    * the SESSION timezone (`spark.sql.session.timeZone`, like a SQL
    * timestamp literal — NOT the JVM default, which can silently
    * shift the resolved instant by hours), or an ISO-8601 instant. */
  private[graft] def parseTsMillis(spark: SparkSession, s: String): Long =
    s.trim.toLongOption.getOrElse {
      val naive = scala.util.Try(
        java.sql.Timestamp.valueOf(s.trim).toLocalDateTime)
      naive match {
        case scala.util.Success(ldt) =>
          val zone = java.time.ZoneId.of(
            spark.conf.get("spark.sql.session.timeZone",
              java.time.ZoneId.systemDefault().getId))
          ldt.atZone(zone).toInstant.toEpochMilli
        case _ => java.time.Instant.parse(s.trim).toEpochMilli
      }
    }

  /** `changeFeedTypes=true` implies the change feed. */
  private[sources] def changeFeed(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("changeFeed")).exists(_.toBoolean) ||
      changeTypes(options)

  /** Row-precise CDF mode (Delta `readChangeFeed` with deletion
    * vectors): adds a `_change_type` column and emits, per version —
    * rows of ADDED files as 'insert', LIVE rows of REMOVED files as
    * 'delete', and for a same-path mask transition exactly the
    * newly-masked rows as 'delete' (newly-unmasked as 'insert'). A
    * MOR delete — invisible to the plain insert feed, which diffs
    * file sets — streams its deleted rows downstream precisely. */
  private[sources] def changeTypes(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("changeFeedTypes")).exists(_.toBoolean)

  /** `rowIds=true`: surface the stable row id ([[RowIdMetaCol]]). */
  private[sources] def rowIds(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("rowIds")).exists(_.toBoolean)

  /** Sorted-array difference a \ b (both sorted ascending). */
  private[sources] def diffSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuilder.make[Long]
    var i = 0; var j = 0
    while (i < a.length) {
      while (j < b.length && b(j) < a(i)) j += 1
      if (j >= b.length || b(j) != a(i)) out += a(i)
      i += 1
    }
    out.result()
  }

  private[sources] def driverHadoopConf(): Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** Hadoop conf for Spark's parquet reader ([[openParquet]]): the
    * session-state variant folds every SQLConf entry in (binaryAsString,
    * int96AsTimestamp, case sensitivity, ...) — the keys Spark's
    * vectorized parquet machinery reads back out of the Configuration
    * on the task side. The plain sparkContext conf lacks them. */
  private[sources] def readerHadoopConf(): Configuration = {
    val spark = SparkSession.active
    val c = spark.sessionState.newHadoopConf()
    // pin the exact keys ParquetToSparkSchemaConverter / ReadSupport
    // parse task-side (a copied session conf can surface unset entries
    // as the literal string "null", which .toBoolean rejects)
    def pin(key: String, default: String): Unit = {
      val v = spark.conf.getOption(key).filter(s => s != null && s != "null")
      c.set(key, v.getOrElse(default))
    }
    pin("spark.sql.parquet.binaryAsString", "false")
    pin("spark.sql.parquet.int96AsTimestamp", "true")
    pin("spark.sql.caseSensitive", "false")
    pin("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    pin("spark.sql.legacy.parquet.nanosAsLong", "false")
    pin("spark.sql.parquet.fieldId.read.enabled", "false")
    c
  }

  /** Rows per batch of [[openParquet]]. */
  private[sources] val BatchRows = 4096

  /** Spark's vectorized parquet reader over one whole file, returning
    * batches of `requested` (names as the file's columns carry them; a
    * column the file lacks reads as a NULL vector), with `consts`
    * appended as constant vectors. No filter is pushed, so every row
    * group is read in file order: a running count of rows is the
    * file's row ordinal, the coordinate deletion vectors use. `conf`
    * comes from [[readerHadoopConf]]. */
  private[sources] def openParquet(file: String, conf: Configuration,
                                   requested: StructType,
                                   consts: StructType = new StructType(),
                                   constRow: InternalRow = InternalRow.empty)
      : VectorizedParquetRecordReader = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    val taskConf = new Configuration(conf)
    taskConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    taskConf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    val path = new HPath(file)
    val len = path.getFileSystem(taskConf).getFileStatus(path).getLen
    // CORRECTED rebase on both clocks: every file in a txlog table was
    // written by this engine's Spark writer in the proleptic calendar;
    // no convertTz (no cross-zone int96)
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, BatchRows)
    var ok = false
    try {
      reader.initialize(
        // the mapred (old-API) split: SpecificParquetRecordReaderBase
        // casts to it internally, same as Spark's own parquet factory
        new org.apache.hadoop.mapred.FileSplit(
          path, 0, len, Array.empty[String]),
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          taskConf, new org.apache.hadoop.mapreduce.TaskAttemptID()))
      reader.initBatch(consts, constRow)
      reader.enableReturningBatches()
      ok = true
    } finally if (!ok) reader.close()
    reader
  }

  /** Wrap a vacuumed-history FileNotFound in the stream's actionable
    * reset-the-checkpoint error. */
  private def vacuumedFriendly[T](base: String, ver: Long)(body: => T): T =
    try body
    catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalStateException(
          s"version $ver's manifest is gone from $base (vacuumed?) — " +
            "the stream cannot replay it; reset the checkpoint or " +
            "raise the vacuum retention above the consumer lag")
    }

  /** Memo of per-version added sets, keyed (canonical base, version,
    * commit mtime): the admission-control walk and every micro-batch
    * plan re-ask the same versions, and commits are immutable — the
    * mtime key catches a cross-process drop-and-recreate reusing
    * version numbers (the snapshot cache guards identically). */
  private val AddedCacheVersions = 64
  private val addedCache =
    new java.util.LinkedHashMap[(String, Long, Long), Seq[TxLog.Entry]](
      32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Seq[TxLog.Entry]])
          : Boolean = size() > AddedCacheVersions
    }

  /** Entries ADDED by version `v` (manifest diff against v-1).
    * Version 1 diffs against the empty set. A missing manifest —
    * vacuumed history — raises a reset-the-checkpoint error instead
    * of a raw FileNotFound.
    *
    * DRIVER-BOUNDED on delta commits (every commit Txn.publish has
    * written since the delta protocol): the added set derives from the
    * commit's own `+` lines — O(changed files) — with one point
    * lookup against the PREVIOUS snapshot to drop replace-by-path
    * re-references (DV/bloom updates on files the stream already
    * delivered). On a columnar-checkpoint table that lookup is a
    * distributed semi-join ([[TxLogPlan.entriesAtPaths]]); the driver
    * never resolves a full snapshot per micro-batch. Legacy full
    * manifests (and text-checkpoint tables, where the local snapshot
    * cache makes resolution cheap) keep the full diff. */
  private[graft] def addedEntries(spark: SparkSession, base: String,
                                  v: Long): Seq[TxLog.Entry] = {
    val key = commitMtime(spark, base, v)
      .map(mt => (TxLog.canonicalBase(base), v, mt))
    key.flatMap(k =>
      addedCache.synchronized(Option(addedCache.get(k))))
      .getOrElse {
        val r = computeAddedEntries(spark, base, v)
        key.foreach(k => addedCache.synchronized(addedCache.put(k, r)))
        r
      }
  }

  private def commitMtime(spark: SparkSession, base: String,
                          v: Long): Option[Long] =
    try Some(TxLog.fs(base, spark)
      .getFileStatus(TxLog.manifestPath(base, v)).getModificationTime)
    catch { case _: java.io.IOException => None }

  private def computeAddedEntries(spark: SparkSession, base: String,
                                  v: Long): Seq[TxLog.Entry] = {
    def entriesOf(ver: Long): Seq[TxLog.Entry] =
      vacuumedFriendly(base, ver)(TxLog.manifest(spark, base, ver)._1)
    val lines = vacuumedFriendly(base, v)(TxLog.manifestLines(spark, base, v))
    // a dataChange=false version (compaction, DV purge) rewrote files
    // without changing any logical row — its "adds" must not re-ship
    // rows the stream already delivered (Delta's streaming source
    // skips dataChange=false AddFiles the same way)
    if (lines.contains("#nodatachange")) return Seq.empty
    def fullDiff(): Seq[TxLog.Entry] = {
      val prev: Set[String] =
        if (v == 1L) Set.empty else entriesOf(v - 1).map(_.path).toSet
      entriesOf(v).filterNot(e => prev.contains(e.path)).sortBy(_.path)
    }
    if (!lines.contains(TxLog.DeltaMarker)) return fullDiff()
    // delta commit: last `+` per path wins (applyDelta's upsert rule)
    val plus = new java.util.LinkedHashMap[String, TxLog.Entry]()
    lines.foreach { l =>
      if (l.startsWith("+\t")) {
        val e = TxLog.parseLine(l.drop(2)); plus.put(e.path, e)
      }
    }
    if (plus.isEmpty) return Seq.empty
    import scala.jdk.CollectionConverters._
    val added = plus.values().asScala.toSeq
    if (v == 1L) return added.sortBy(_.path)
    vacuumedFriendly(base, v - 1)(
      TxLogPlan.entriesAtPaths(spark, base, v - 1, plus.keySet().asScala.toSet)
    ) match {
      case Some(prevAt) =>
        added.filterNot(e => prevAt.contains(e.path)).sortBy(_.path)
      case None => fullDiff()
    }
  }

  /** Hard cap on the total masked-row positions the DSv2 planner, and
    * a MOR verb's mask build, will materialize on the driver (each is a
    * Long, serialized into its file's InputPartition or merged into the
    * verb's sidecar): 16M positions ≈ 128 MB. The manifest
    * carries every entry's dv.rows, so the bound is checked from
    * metadata BEFORE any sidecar byte is read. Override with
    * `spark.graft.txlog.dsv2MaxMaskRows`. */
  private val DefaultMaxMaskRows = 16L * 1000 * 1000

  /** A mask sidecar's columns: (file name, deleted row position). */
  private[graft] val SidecarSchema = StructType(Seq(
    StructField(TxLog.DvFileCol, StringType),
    StructField(TxLog.DvPosCol, LongType)))

  /** The DSv2 driver-side mask limit in effect
    * (`spark.graft.txlog.dsv2MaxMaskRows`, else [[DefaultMaxMaskRows]]). */
  private[graft] def maxMaskRows(spark: SparkSession): Long =
    scala.util.Try(spark.conf.get("spark.graft.txlog.dsv2MaxMaskRows").toLong)
      .getOrElse(DefaultMaxMaskRows)

  /** Sorted deleted-row positions of every masked entry, keyed by the
    * entry's manifest path — loaded driver-side at planning with the
    * same reader the partitions decode through ([[openParquet]]), so
    * masking starts no Spark job. Each DISTINCT sidecar dir is scanned
    * ONCE (positions bucketed by file name as they stream past), so a
    * snapshot whose single MOR commit masked F files costs one
    * O(sidecar rows) pass, not F of them. Serves every DSv2 batch and
    * change-feed scan, the MOR verbs' driver-side mask merges and
    * live-row filters, and [[TxLog.readPoint]]/
    * [[TxLog.readRanges]] ([[pinnedRead]]), which keep
    * [[TxLog.readEntries]]' distributed anti-join for masks over
    * [[maxMaskRows]]; bulk analytics over heavily-masked snapshots
    * belong on [[TxLog.read]], which always masks that way. */
  private[graft] def dvPositionsByFile(base: String,
                                         entries: Seq[TxLog.Entry])
      : Map[String, Array[Long]] = {
    import scala.collection.mutable
    val dved = entries.filter(_.dv.isDefined)
    if (dved.isEmpty) return Map.empty
    // a heavily-masked snapshot (high-churn MOR table) would OOM the
    // driver and bloat task serialization here — refuse from manifest
    // metadata alone and point at the scale-safe paths instead
    val totalMask = dved.map(_.dv.get.rows).sum
    val maxMask = maxMaskRows(SparkSession.active)
    require(totalMask <= maxMask,
      s"snapshot carries $totalMask deletion-vector positions, above " +
        s"the DSv2 driver-side limit $maxMask " +
        "(spark.graft.txlog.dsv2MaxMaskRows): read through TxLog.read " +
        "(distributed anti-join mask), or run TxLog.purgeDeletes to " +
        "materialize the masks first")
    val conf = readerHadoopConf()
    dved.groupBy(_.dv.get.dir).toSeq.flatMap { case (dir, es) =>
      // keyed by the bytes the sidecar's file-name column carries, so a
      // lookup allocates nothing per row
      val wanted: Map[UTF8String, String] = es.map(e =>
        UTF8String.fromString(TxLog.fileName(e.path)) -> e.path).toMap
      val buckets = mutable.Map.empty[String, mutable.ArrayBuilder[Long]]
      val dirPath = new HPath(TxLog.resolve(base, dir))
      dirPath.getFileSystem(conf).listStatus(dirPath).toSeq
        .filter(st => st.isFile && TxLog.isDataFileName(st.getPath.getName))
        .foreach { st =>
          val reader = openParquet(st.getPath.toString, conf, SidecarSchema)
          try {
            val batch = reader.resultBatch()
            val names = batch.column(0)
            val positions = batch.column(1)
            while (reader.nextKeyValue()) {
              var i = 0
              while (i < batch.numRows) {
                wanted.get(names.getUTF8String(i)).foreach(path =>
                  buckets.getOrElseUpdate(path,
                    mutable.ArrayBuilder.make[Long]) += positions.getLong(i))
                i += 1
              }
            }
          } finally reader.close()
        }
      buckets.toSeq.map { case (path, b) =>
        val arr = b.result()
        java.util.Arrays.sort(arr)
        path -> arr
      }
    }.toMap
  }

  /** A batch read of `base` pinned to version `v` and to `kept`, the
    * entries a TxLog verb already pruned at `v`: a `Dataset` over a
    * `DataSourceV2Relation` of a [[TxLogTable]] whose scan plans one
    * partition per kept entry (none for an empty list), masks from
    * [[dvPositionsByFile]], and never resolves the latest version or
    * reads the manifest again. The schema is the table's at `v`
    * ([[snapshotSchema]], what `format("graft.sources.TxLogSource")`
    * serves); filters added with `where` push into the scan. */
  private[graft] def pinnedRead(s: graft.operators.Snapshot,
                                kept: Seq[TxLog.Entry])
      : org.apache.spark.sql.DataFrame = {
    val table = new TxLogTable(snapshotSchema(s.spark, s.base, s.cur), s.base,
      asOf = Some(s.cur), pinned = Some(kept))
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(s.spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(table, None, None, CaseInsensitiveStringMap.empty()))
  }

  /** The (column, lo?, hi?) range constraints a DSv2 filter implies —
    * empty when the filter has no range shape we can use. Only
    * top-level conjunctions contribute (the filters ARRAY is itself a
    * conjunction). IN-lists are NOT ranges — they are disjunctions of
    * points, handled separately by [[inListOf]]; Or/Not stay
    * un-pruned (conservative). */
  private[sources] def rangeOf(f: org.apache.spark.sql.sources.Filter)
      : Seq[(String, Option[Any], Option[Any])] = {
    import org.apache.spark.sql.sources._
    def ok(v: Any): Boolean = v != null && (v.isInstanceOf[Number] ||
      v.isInstanceOf[String] || v.isInstanceOf[java.sql.Date] ||
      v.isInstanceOf[java.time.LocalDate] ||
      v.isInstanceOf[java.sql.Timestamp] ||
      v.isInstanceOf[java.time.Instant])
    f match {
      case EqualTo(c, v) if ok(v) => Seq((c, Some(v), Some(v)))
      case GreaterThan(c, v) if ok(v) => Seq((c, Some(v), None))
      case GreaterThanOrEqual(c, v) if ok(v) => Seq((c, Some(v), None))
      case LessThan(c, v) if ok(v) => Seq((c, None, Some(v)))
      case LessThanOrEqual(c, v) if ok(v) => Seq((c, None, Some(v)))
      case And(l, r) => rangeOf(l) ++ rangeOf(r)
      case _ => Seq.empty
    }
  }

  /** IN-list constraints of a filter: (column, values). Kept separate
    * from [[rangeOf]] because an IN is a DISJUNCTION of points — a
    * file survives if ANY value falls inside its stats range. */
  private[sources] def inListOf(f: org.apache.spark.sql.sources.Filter)
      : Seq[(String, Seq[Any])] = {
    import org.apache.spark.sql.sources._
    def ok(v: Any): Boolean = v != null && (v.isInstanceOf[Number] ||
      v.isInstanceOf[String] || v.isInstanceOf[java.sql.Date] ||
      v.isInstanceOf[java.time.LocalDate] ||
      v.isInstanceOf[java.sql.Timestamp] ||
      v.isInstanceOf[java.time.Instant])
    f match {
      case In(c, vs) if vs.nonEmpty && vs.forall(ok) =>
        Seq((c, vs.toIndexedSeq))
      case And(l, r) => inListOf(l) ++ inListOf(r)
      case _ => Seq.empty
    }
  }

  /** Filter value → the stats-repr string the manifest stores. Floats
    * MUST widen through toDouble (float 1.1f → "1.100000023841858"),
    * because both write paths widened the stats the same way —
    * stringifying the float directly ("1.1") would parse to a
    * DIFFERENT double and unsoundly prune the file holding the
    * matching rows. */
  private[sources] def valueRepr(v: Any): String = v match {
    case f: java.lang.Float => f.floatValue().toDouble.toString
    // timestamp stats are stored as epoch SECONDS (TxLog.statsDtype):
    // the floor on both sides keeps range overlap sound
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L).toString
    case i: java.time.Instant => i.getEpochSecond.toString
    case other => other.toString
  }

  /** V1 Filter → Column translation for the `SupportsDelete` surface.
    * None marks a filter shape we refuse to delete by (canDeleteWhere
    * then answers false and Spark raises its standard "cannot
    * translate" error instead of silently deleting wrong rows). */
  private[sources] def filterToColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    def lit0(v: Any): Column = lit(v)
    f match {
      case EqualTo(a, v) => Some(col(a) === lit0(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit0(v))
      case GreaterThan(a, v) => Some(col(a) > lit0(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit0(v))
      case LessThan(a, v) => Some(col(a) < lit0(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit0(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case _ => None
    }
  }

  /** Can this entry's stats satisfy every pushed filter? Absent stats,
    * non-range filters, and un-comparable value/dtype combinations
    * all answer yes (pruning may only drop PROVABLY dead files; the
    * filters are re-applied row-level by Spark regardless). The
    * strict/inclusive distinction is deliberately ignored — boundary
    * files survive, rows die above. */
  private[sources] def entrySurvives(
      e: TxLog.Entry,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      phys: Map[String, String] = Map.empty): Boolean =
    filters.forall { f =>
      val ranges = rangeOf(f).forall { case (c0, lo, hi) =>
        val c = physOf(phys, c0)
        e.statsFor(c) match {
          case Some(st) => scala.util.Try {
            lo.forall(l => st.overlaps(valueRepr(l), st.max)) &&
              hi.forall(h => st.overlaps(st.min, valueRepr(h)))
          }.getOrElse(true)
          case None => true
        }
      }
      // an IN-list is a disjunction of points: the file survives this
      // filter if ANY value lands inside its stats range
      val inLists = inListOf(f).forall { case (c0, vs) =>
        val c = physOf(phys, c0)
        e.statsFor(c) match {
          case Some(st) => scala.util.Try {
            vs.exists(v => st.overlaps(valueRepr(v), valueRepr(v)))
          }.getOrElse(true)
          case None => true
        }
      }
      ranges && inLists
    }
}

/** `pinned`: the entries a [[TxLogSource.pinnedRead]] scan plans at
  * version `asOf`, instead of the version's manifest. */
class TxLogTable(tableSchema: StructType, base: String,
                 asOf: Option[Long] = None,
                 pinned: Option[Seq[TxLog.Entry]] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  /** Store root — the handle the SQL DML rewrite rule hands to the
    * TxLog verbs. */
  private[sources] def basePath: String = base
  override def name(): String = s"txlog($base)"
  override def schema(): StructType = tableSchema

  /** Surface declared column DEFAULTs (`#defaultcol` lines) as v2
    * `ColumnDefaultValue`s so Spark's analyzer fills them into
    * INSERTs that omit the column (and `DESCRIBE` renders them).
    * schema() stays metadata-free on purpose: the default is a
    * WRITE-time fill — were it in the read schema's field metadata,
    * Spark's parquet readers would apply it as an EXISTENCE default
    * and backfill old files that landed without the column, which
    * must keep reading NULL (Delta's exact semantics). */
  override def columns()
      : Array[org.apache.spark.sql.connector.catalog.Column] = {
    import org.apache.spark.sql.connector.catalog.{Column => V2Column, ColumnDefaultValue}
    import org.apache.spark.sql.connector.expressions.LiteralValue
    val spark = SparkSession.active
    val dflts = scala.util.Try(TxLog.snapshot(spark, base, asOf).meta.defaults)
      .getOrElse(Seq.empty)
    tableSchema.fields.map { f =>
      dflts.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, sql)) =>
          // evalDefaultExpr folds to the Catalyst-INTERNAL constant —
          // exactly the form the connector LiteralValue carries
          V2Column.create(f.name, f.dataType, f.nullable, null,
            new ColumnDefaultValue(sql,
              org.apache.spark.sql.graftbridge.ColumnBridge.v2Literal(
                TxLog.evalDefaultExpr(spark, sql, f.dataType),
                f.dataType)), null)
        case None => V2Column.create(f.name, f.dataType, f.nullable)
      }
    }
  }

  /** The table's CHECK constraints as Spark's native constraint
    * surface (Spark 4 ANSI constraints): every one was validated
    * against existing data when added and is enforced on every write
    * path, so VALID + enforced is the honest status. Resolved at the
    * pinned version for time-travel snapshots. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    val spark = SparkSession.active
    val cons = TxLog.snapshot(spark, base, asOf).meta.constraints
    cons.toSeq.sortBy(_._1).map { case (n, ex) =>
      Constraint.check(n).predicateSql(ex).enforced(true)
        .validationStatus(Constraint.ValidationStatus.VALID)
        .build(): Constraint
    }.toArray
  }
  /** The declared log partitioning (`#partition` meta, resolved at
    * the pinned version for time-travel snapshots), surfaced as
    * identity transforms under LOGICAL names — what DESCRIBE TABLE
    * and SHOW CREATE TABLE render. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val spark = SparkSession.active
    val m = TxLog.snapshot(spark, base, asOf).meta
    m.partitions.map { case (phys, _) =>
      Expressions.identity(m.colMap.map(_.logicalOf(phys)).getOrElse(phys))
    }.toArray
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a TableCatalog time-travel load (SQL `VERSION AS OF` /
    // `TIMESTAMP AS OF`) arrives with EMPTY scan options — the pinned
    // version rides the Table instance instead, injected here so the
    // whole scan stack (schema, pruning, partitions) sees one source
    // of truth. An explicit reader option would conflict, so it wins
    // only when absent.
    val effective = asOf match {
      case Some(v) if options.get("versionAsOf") == null &&
          options.get("timestampAsOf") == null =>
        val m = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
        m.put("versionAsOf", v.toString)
        new CaseInsensitiveStringMap(m)
      case _ => options
    }
    new TxLogScanBuilder(tableSchema, base, effective, pinned)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOf.isEmpty,
      s"cannot write to a time-travel snapshot of txlog($base) " +
        s"pinned at version ${asOf.get} — write to the current table")
    new TxLogWriteBuilder(base, info)
  }

  /** SQL row-level DELETE (`DELETE FROM t WHERE ...` from any SQL/JDBC
    * client — the reference's dbt lifecycle issues row-level DML as
    * SQL through the Thrift server): routed to the merge-on-read
    * delete, so the commit costs O(deleted rows) and zero files are
    * rewritten. Manifest stats pre-prune the candidate files through
    * the same [[TxLogSource.entrySurvives]] check the scan path uses;
    * files the predicate provably misses are never opened. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => TxLogSource.filterToColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    require(asOf.isEmpty,
      s"cannot DELETE from a time-travel snapshot of txlog($base)")
    val spark = SparkSession.active
    val cond = filters.toSeq.flatMap(TxLogSource.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    // the predicate itself evaluates on the logical view inside the
    // MOR delete; only the stats pre-prune needs physical names, taken
    // from each attempt's snapshot
    TxLog.deleteMor(spark, base, cond, { s =>
      val phys = TxLogSource.physMapOf(s.meta)
      e => TxLogSource.entrySurvives(e, filters.toIndexedSeq, phys)
    }, maxAttempts = 5)
  }
}

class TxLogScanBuilder(full: StructType, base: String,
                       options: CaseInsensitiveStringMap,
                       pinned: Option[Seq[TxLog.Entry]] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates {
  private var required: StructType = full
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var aggResult: Option[(StructType, Seq[Any])] = None
  /** Resolved ONCE per scan: a timestampAsOf option costs one
    * timestamp→version resolution here, not one per planning phase. */
  private lazy val asOf: Option[Long] =
    TxLogSource.asOfVersion(SparkSession.active, base, options)
  /** The one snapshot every part of the scan reads — the
    * `versionAsOf`/`timestampAsOf` target (a pinned read's version),
    * else the latest — resolved when the optimizer builds the scan, so
    * a query's version is fixed then, as Delta's `PrepareDeltaScan`
    * fixes it. Mapping, aggregate pushdown, EXPLAIN and partition
    * planning all read it; a commit landing after it serves the next
    * query. */
  private lazy val snapshot: graft.operators.Snapshot =
    TxLog.snapshot(SparkSession.active, base, asOf)
  /** Logical→physical column map of the scan's snapshot (empty =
    * identity) — pushed filters and required columns arrive in
    * LOGICAL names; manifest stats and file columns are keyed on the
    * frozen PHYSICAL names. */
  private lazy val physMap: Map[String, String] =
    TxLogSource.physMapOf(snapshot.meta)
  override def pruneColumns(requiredSchema: StructType): Unit =
    // strip field metadata: the relation's attributes may carry
    // CURRENT_DEFAULT/EXISTS_DEFAULT (from TxLogTable.columns()'s
    // default surface) and an EXISTS_DEFAULT reaching the parquet
    // reader would BACKFILL files that landed without the column —
    // they must keep reading NULL (defaults are write-time only)
    required = StructType(requiredSchema.fields.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))

  /** Metadata-only aggregates (the Delta metadata-query optimization):
    * an un-filtered, un-grouped COUNT(*) / MIN(col) / MAX(col) over
    * the snapshot is answered from the manifest alone — row counts
    * ride every v2+ entry and min/max ride the stats columns — so
    * `SELECT count(*) FROM log_table` opens ZERO data files at any
    * table size. Declared COMPLETE pushdown: the scan returns the one
    * final row. Bails (false) whenever the manifest cannot answer
    * exactly: pushed filters present (Spark also refuses on its side
    * when residuals exist), GROUP BY, change-feed mode, any entry
    * without a row count, or a MIN/MAX column lacking stats on some
    * non-empty file. */
  // the dry-run's computed result, keyed by the Aggregation instance:
  // supportCompletePushDown and pushAggregation receive the same
  // object back-to-back, so the manifest is listed/parsed ONCE per
  // query, not twice. aggResult is only installed by pushAggregation —
  // a support probe that Spark decides not to follow must not flip
  // build() onto the agg scan.
  private var cachedAgg: Option[(AnyRef, (StructType, Seq[Any]))] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = tryPushAggregation(agg, dryRun = true)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = cachedAgg match {
    case Some((key, result)) if key eq agg =>
      aggResult = Some(result); true
    case _ => tryPushAggregation(agg, dryRun = false)
  }

  private def tryPushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      dryRun: Boolean): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    // a pinned scan serves its kept entries, not the version's manifest
    if (pinned.isDefined || pushed.nonEmpty ||
      agg.groupByExpressions.nonEmpty ||
      TxLogSource.changeFeed(options) || TxLogSource.rowIds(options) ||
      Option(options.get("startingVersion")).exists(_.toLong > 0)) return false
    val spark = SparkSession.active
    val target = snapshot.version.getOrElse(return false)
    // COUNT(*)-only aggregations on a columnar-checkpoint table run
    // as ONE DataFrame aggregate (Σ live rows over the checkpoint) —
    // a metadata count on a 10^6-file table never materializes the
    // entry list. MIN/MAX need per-column stats inspection and keep
    // the driver sweep.
    val exprsAll = agg.aggregateExpressions.toSeq
    if (exprsAll.nonEmpty && exprsAll.forall(_.isInstanceOf[CountStar]) &&
        TxLog.cachedSnapshot(spark, base, target).isEmpty &&
        graft.operators.TxLogPlan.hasParquetBase(spark, base, target)) {
      graft.operators.TxLogPlan.liveRowCount(spark, base, target) match {
        case Some(n) =>
          val fields = exprsAll.indices.map(i =>
            StructField(s"agg_$i", LongType, nullable = true))
          val result = (StructType(fields),
            exprsAll.map(_ => n: Any))
          if (dryRun) cachedAgg = Some((agg, result))
          else aggResult = Some(result)
          return true
        case None => return false // unknown-count entries: scan
      }
    }
    val entries = snapshot.entries
    if (entries.exists(_.rows < 0)) return false // v1 entries: count unknown
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        Some(f.fieldNames.head)
      case _ => None
    }
    val dataEntries = entries.filter(_.liveRows > 0L)
    val values = agg.aggregateExpressions.toSeq.map {
      // deletion-vector rows subtract from COUNT without opening a
      // file — the mask size rides the manifest entry
      case _: CountStar =>
        Some((LongType: DataType, entries.map(_.liveRows).sum: Any))
      case m: Min => colOf(m.column).flatMap(c => statsExtreme(c, dataEntries,
        takeMax = false))
      case m: Max => colOf(m.column).flatMap(c => statsExtreme(c, dataEntries,
        takeMax = true))
      case _ => None
    }
    if (values.exists(_.isEmpty)) return false
    val fields = values.flatten.zipWithIndex.map { case ((dt, _), i) =>
      StructField(s"agg_$i", dt, nullable = true) }
    val result = (StructType(fields), values.flatten.map(_._2))
    if (dryRun) cachedAgg = Some((agg, result))
    else aggResult = Some(result)
    true
  }

  /** MIN or MAX of `column` across the snapshot, from manifest stats:
    * sound only when EVERY non-empty file carries stats on the column
    * (an uncovered file could hide the true extreme). SQL MIN/MAX
    * ignore NULLs, and a file whose column is all-NULL carries no
    * stats for it — so all-NULL files are the one acceptable gap; we
    * cannot distinguish them from stat-less v2 single-column entries,
    * hence the conservative bail when ANY non-empty entry lacks the
    * column. Returns (sparkType, internal value). */
  private def statsExtreme(column: String, dataEntries: Seq[TxLog.Entry],
                           takeMax: Boolean): Option[(DataType, Any)] = {
    if (dataEntries.isEmpty) return None
    // a deletion vector can mask the extreme row on ANY column while
    // the file's stats band still claims it — manifest MIN/MAX is
    // unsound under masks, fall back to the scan (which applies them)
    if (dataEntries.exists(_.dv.isDefined)) return None
    val field = full.fields.find(_.name == column).getOrElse(return None)
    // stats are keyed on the column's frozen physical name
    val stats = dataEntries.map(_.statsFor(TxLogSource.physOf(physMap, column)))
    if (stats.exists(_.isEmpty)) return None
    val cs = stats.flatten
    val dtype = cs.head.dtype
    val reprs = cs.map(c => if (takeMax) c.max else c.min)
    val pick = scala.util.Try {
      val ord: Ordering[String] = dtype match {
        case "long" => Ordering.by((s: String) => s.toLong)
        case "double" => Ordering.by((s: String) => s.toDouble)
        // ISO dates + strings: UNSIGNED UTF-8 byte order — the same
        // ordering Spark's own string MIN/MAX (UTF8String) uses, and
        // the ordering the stats were computed under
        case _ => Ordering.by((s: String) => UTF8String.fromString(s))
      }
      if (takeMax) reprs.max(ord) else reprs.min(ord)
    }.toOption.getOrElse(return None)
    val value: Option[Any] = field.dataType match {
      case LongType => scala.util.Try(pick.toLong: Any).toOption
      case IntegerType => scala.util.Try(pick.toInt: Any).toOption
      case ShortType => scala.util.Try(pick.toShort: Any).toOption
      case DoubleType => scala.util.Try(pick.toDouble: Any).toOption
      case FloatType => scala.util.Try(pick.toFloat: Any).toOption
      case StringType => Some(UTF8String.fromString(pick))
      case DateType => scala.util.Try(
        java.time.LocalDate.parse(pick).toEpochDay.toInt: Any).toOption
      case _ => None // timestamps/decimals never carry stats (statsDtype)
    }
    value.map(v => (field.dataType, v))
  }
  /** Range-shaped predicates prune manifest entries before any footer
    * is opened ([[TxLogSource.entrySurvives]]); EVERY filter stays
    * residual (returned back to Spark), so the skip can only remove
    * files that cannot hold a matching row — never change results. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(f =>
      TxLogSource.rangeOf(f).nonEmpty || TxLogSource.inListOf(f).nonEmpty)
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed
  override def build(): Scan = aggResult match {
    case Some((schema, values)) => new TxLogAggScan(base, schema, values)
    case None => buildRowScan()
  }

  private def buildRowScan(): Scan = {
    val maxVersions =
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong)
    maxVersions.foreach(n => require(n >= 1,
      s"maxVersionsPerTrigger must be >= 1, got $n"))
    val maxFiles =
      Option(options.get("maxFilesPerTrigger")).map(_.toLong)
    maxFiles.foreach(n => require(n >= 1,
      s"maxFilesPerTrigger must be >= 1, got $n"))
    require(maxFiles.isEmpty || maxVersions.isEmpty,
      "set maxFilesPerTrigger OR maxVersionsPerTrigger, not both")
    require(maxFiles.isEmpty || !TxLogSource.changeTypes(options),
      "maxFilesPerTrigger does not apply to row-precise CDF streams " +
        "(changeTypes=true) — each version's change set ships " +
        "atomically; use maxVersionsPerTrigger")
    // Delta's stream-start controls: an explicit version, or a
    // timestamp resolved by the START-bound ceiling rule (the first
    // commit at or after the instant is the first one CONSUMED)
    val startingTs = Option(options.get("startingTimestamp"))
    require(startingTs.isEmpty || options.get("startingVersion") == null,
      "set startingVersion OR startingTimestamp, not both")
    val startingVersion = startingTs match {
      case Some(raw) =>
        val sp = SparkSession.active
        val ts = TxLogSource.parseTsMillis(sp, raw)
        // empty log: same contract as startingVersion=0 on an empty
        // table — the stream starts and consumes whatever commits in
        // the future (versionAtOrAfterTimestamp would throw, making
        // the two stream-start spellings inconsistent)
        if (graft.operators.TxLog.latestVersion(sp, base).isEmpty) 0L
        // startingVersion semantics: first consumed version is N+1
        else graft.operators.TxLog.versionAtOrAfterTimestamp(sp, base, ts)
          .map(_ - 1L)
          .getOrElse(graft.operators.TxLog.latestVersion(sp, base)
            .getOrElse(0L)) // after every commit: only FUTURE versions
      case None =>
        Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L)
    }
    require(startingVersion >= 0,
      s"startingVersion must be >= 0, got $startingVersion")
    val versionAsOf = asOf
    versionAsOf.foreach(v => require(v >= 1,
      s"versionAsOf must be >= 1, got $v"))
    new TxLogScan(required, base, TxLogSource.changeFeed(options),
      maxVersions, startingVersion, versionAsOf, pushed,
      TxLogSource.changeTypes(options), Some(snapshot), maxFiles,
      rowIds = TxLogSource.rowIds(options),
      allowSchemaChange =
        Option(options.get("allowSchemaChange")).exists(_.toBoolean),
      pinned = pinned)
  }
}

class TxLogScan(required: StructType, base: String, changeFeed: Boolean,
                maxVersionsPerTrigger: Option[Long], startingVersion: Long,
                versionAsOf: Option[Long] = None,
                pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                changeTypes: Boolean = false,
                snapshot: Option[graft.operators.Snapshot] = None,
                maxFilesPerTrigger: Option[Long] = None,
                private[sources] val rowIds: Boolean = false,
                private[sources] val allowSchemaChange: Boolean = false,
                pinned: Option[Seq[TxLog.Entry]] = None)
    extends Scan with Batch {

  /** Logical→physical column map of the builder's snapshot (identity
    * for a scan made without one: only a micro-batch stream, which
    * resolves per trigger, runs without one). */
  private val physMap: Map[String, String] =
    snapshot.map(s => TxLogSource.physMapOf(s.meta)).getOrElse(Map.empty)

  /** Enablement-backfill map (path → base row id), resolved lazily
    * and only when a PRE-enablement version must serve ids: enable
    * stamps a span onto every file live at that version, so a file
    * replayed at v < vE carries the span it was assigned at vE (the
    * same physical rows); a file removed before vE never had ids —
    * its rows serve NULL. vE is found by binary search (tracked
    * versions form a suffix — tracking is never disabled), so the
    * cost is O(log versions) manifest-line reads + ONE manifest parse
    * per scan, not per micro-batch. */
  private lazy val enableBaseIds: Map[String, Long] = {
    val spark = SparkSession.active
    TxLog.latestVersion(spark, base) match {
      case None => Map.empty
      case Some(latest) =>
        def tracked(v: Long): Boolean = scala.util.Try(
          TxLog.metaOf(spark, base, v).rowIdHighWater.isDefined)
          .getOrElse(false)
        if (!tracked(latest)) Map.empty
        else {
          var lo = 1L; var hi = latest
          while (lo < hi) {
            val mid = lo + (hi - lo) / 2
            if (tracked(mid)) hi = mid else lo = mid + 1
          }
          TxLog.manifest(spark, base, lo)._1
            .flatMap(e => e.baseRowId.map(b => e.path -> b))
            .toMap
        }
    }
  }

  /** The base row id this entry's partition serves (None = rowIds off
    * or the file never got ids). */
  private[sources] def ridOf(e: TxLog.Entry): Option[Long] =
    if (!rowIds) None
    else e.baseRowId.orElse(enableBaseIds.get(e.path))
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** kept/total after manifest-stats pruning of the scan's snapshot —
    * shown in EXPLAIN so a SQL/JDBC user can SEE the file skipping
    * their predicate bought (VERDICT r10 #7). Any failure degrades to
    * no annotation, never a planning error. */
  private def pruneSummary(): String =
    try {
      if (pinned.isDefined)
        s", pinnedFiles=${pinned.get.size} pruned at version ${versionAsOf.get}"
      else if (changeFeed || changeTypes || pushed.isEmpty) ""
      else snapshot.filter(_.version.isDefined).map { s =>
        s", prunedFiles=${survivors(s.entries).size}/${s.entries.size} " +
          "kept by manifest stats"
      }.getOrElse("")
    } catch { case _: Exception => "" }

  override def description(): String =
    s"TxLogScan base=$base, changeFeed=$changeFeed, " +
      s"changeTypes=$changeTypes, " +
      s"readSchema=${required.simpleString}, " +
      s"pushedFilters=[${pushed.mkString(", ")}]" + pruneSummary()

  private[sources] def survivors(entries: Seq[TxLog.Entry]): Seq[TxLog.Entry] =
    entries.filter(e =>
      TxLogSource.entrySurvives(e, pushed.toIndexedSeq, physMap))

  /** Row-precise CDF partitions for ONE version transition (v-1 → v):
    * added files emit live rows as 'insert', removed files emit their
    * live rows as 'delete', and same-path mask transitions emit
    * exactly the newly-masked positions as 'delete' (newly-unmasked
    * as 'insert') via keepOnly partitions. Pushed range filters prune
    * each group by its manifest stats as usual. */
  private[sources] def transitionPartitions(spark: SparkSession,
                                            v: Long): Seq[InputPartition] = {
    def entriesOf(ver: Long): Seq[TxLog.Entry] =
      if (ver == 0L) Seq.empty
      else try TxLog.manifest(spark, base, ver)._1
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"version $ver's manifest is gone from $base (vacuumed?) — " +
              "the stream cannot replay it; reset the checkpoint or " +
              "raise the vacuum retention above the consumer lag")
      }
    val lines =
      try TxLog.manifestLines(spark, base, v)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"version $v's manifest is gone from $base (vacuumed?) — " +
              "the stream cannot replay it; reset the checkpoint or " +
              "raise the vacuum retention above the consumer lag")
      }
    // pure physical rewrites changed no logical row: no CDF slices
    if (lines.contains("#nodatachange")) return Seq.empty
    // DRIVER-BOUNDED diff on delta commits: the transition's added/
    // removed/changed sets derive from the commit's own +/- lines
    // (O(changed files)), with ONE point lookup against the previous
    // snapshot for the old entries — a distributed semi-join on
    // columnar-checkpoint tables (TxLogPlan.entriesAtPaths). The
    // driver never resolves two full snapshots per micro-batch.
    val fast: Option[(Seq[TxLog.Entry], Seq[TxLog.Entry],
        Seq[(TxLog.Entry, TxLog.Entry)])] =
      if (!lines.contains(TxLog.DeltaMarker)) None
      else {
        val plus = new java.util.LinkedHashMap[String, TxLog.Entry]()
        val minus = scala.collection.mutable.LinkedHashSet.empty[String]
        lines.foreach { l =>
          if (l.startsWith("+\t")) {
            val e = TxLog.parseLine(l.drop(2)); plus.put(e.path, e)
          } else if (l.startsWith("-\t")) minus += l.drop(2)
        }
        import scala.jdk.CollectionConverters._
        val plusKeys = plus.keySet().asScala.toSet
        val touched = plusKeys ++ minus
        (try TxLogPlan.entriesAtPaths(spark, base, v - 1, touched)
         catch {
           case _: java.io.FileNotFoundException =>
             throw new IllegalStateException(
               s"version ${v - 1}'s manifest is gone from $base " +
                 "(vacuumed?) — the stream cannot replay it; reset " +
                 "the checkpoint or raise the vacuum retention above " +
                 "the consumer lag")
         }).map { prevAt =>
          val plusEs = plus.values().asScala.toSeq
          (plusEs.filterNot(e => prevAt.contains(e.path)),
            // a path both -'d and +'d in one commit is a replace, not
            // a removal (applyDelta's upsert rule)
            minus.toSeq.filterNot(plusKeys).flatMap(prevAt.get),
            plusEs.flatMap(e => prevAt.get(e.path)
              .filter(_.dv != e.dv).map(old => (old, e))))
        }
      }
    val (added0, removed0, changed0) = fast.getOrElse {
      val cur = entriesOf(v)
      val prev = entriesOf(v - 1)
      val prevByPath = prev.map(e => e.path -> e).toMap
      val curPaths = cur.map(_.path).toSet
      (cur.filterNot(e => prevByPath.contains(e.path)),
        prev.filterNot(e => curPaths.contains(e.path)),
        cur.filter(e => prevByPath.get(e.path).exists(_.dv != e.dv))
          .map(e => (prevByPath(e.path), e)))
    }
    val added = survivors(added0)
    val removed = survivors(removed0)
    val changed = {
      val keep = survivors(changed0.map(_._2)).map(_.path).toSet
      changed0.filter { case (_, e) => keep.contains(e.path) }
    }
    // MOR-update gate (same as the batch feed): the writer-stamped
    // `#cdfop update` hint — never a structural inference, which
    // would mislabel fully-masked drops and, worse, make the label
    // depend on the CONSUMER's pushed filters (survivors pruning the
    // transitioned files would flip postimages to 'insert'). Emits
    // newly-masked rows (and fully-masked dropped files) as
    // 'update_preimage', added files as 'update_postimage'. COW
    // updates carry no hint and keep delete+insert.
    val morUpdate = TxLog.cdfOpOf(spark, base, v).contains("update")
    val (delKind, insKind) =
      if (morUpdate) ("update_preimage", "update_postimage")
      else ("delete", "insert")
    def masked(es: Seq[TxLog.Entry], kind: String): Seq[InputPartition] = {
      val masks = TxLogSource.dvPositionsByFile(base, es)
      es.map(e => TxLogInputPartition(TxLog.resolve(base, e.path), v,
        masks.getOrElse(e.path, Array.emptyLongArray),
        changeType = kind, baseRowId = ridOf(e)): InputPartition)
    }
    val oldMasks = TxLogSource.dvPositionsByFile(base, changed.map(_._1))
    val newMasks = TxLogSource.dvPositionsByFile(base, changed.map(_._2))
    val deltas = changed.flatMap { case (oldE, newE) =>
      val o = oldMasks.getOrElse(oldE.path, Array.emptyLongArray)
      val n = newMasks.getOrElse(newE.path, Array.emptyLongArray)
      val dead = TxLogSource.diffSorted(n, o)
      val back = TxLogSource.diffSorted(o, n)
      (if (dead.nonEmpty)
        Some(TxLogInputPartition(TxLog.resolve(base, newE.path), v,
          keepOnly = dead, changeType = delKind,
          baseRowId = ridOf(newE)): InputPartition)
      else None) ++
      (if (back.nonEmpty)
        Some(TxLogInputPartition(TxLog.resolve(base, newE.path), v,
          keepOnly = back, changeType = "insert",
          baseRowId = ridOf(newE)): InputPartition)
      else None)
    }
    masked(removed, delKind) ++ deltas ++ masked(added, insKind)
  }

  /** Batch read: the snapshot's files — latest version, or the
    * `versionAsOf` time-travel target — each tagged with that version
    * (plain mode ignores the tag); under changeFeed the feed from
    * version 0 through the target, each file tagged the version that
    * added it. Either way, files whose manifest stats cannot satisfy
    * the pushed range filters are skipped before any footer opens. */
  override def planInputPartitions(): Array[InputPartition] = {
    require(startingVersion == 0L,
      "startingVersion is a streaming-only option (it positions the " +
        "stream's initial offset); for a batch read use versionAsOf " +
        "or changeFeed")
    require(maxFilesPerTrigger.isEmpty,
      "maxFilesPerTrigger is a streaming-only option (admission " +
        "control has no meaning for a one-shot batch read)")
    def parts(es: Seq[TxLog.Entry], v: Long): Seq[InputPartition] = {
      val masks = TxLogSource.dvPositionsByFile(base, es)
      es.map(e => TxLogInputPartition(TxLog.resolve(base, e.path), v,
        masks.getOrElse(e.path, Array.emptyLongArray),
        baseRowId = ridOf(e)): InputPartition)
    }
    val s = snapshot.get // the builder's; a batch scan always has one
    // pinned: exactly the entries the TxLog verb kept at its version
    if (pinned.isDefined)
      return TxLogInputPartition.uniform(parts(pinned.get, s.cur))
    val spark = SparkSession.active
    val target = s.cur
    TxLogInputPartition.uniform(
      if (changeTypes)
        (1L to target).flatMap(v => transitionPartitions(spark, v))
      else if (changeFeed)
        (1L to target).flatMap(v =>
          parts(survivors(TxLogSource.addedEntries(spark, base, v)), v))
      else {
        // columnar-checkpoint tables prune pushed filters EXECUTOR-
        // side and collect only the survivors (the scan's working
        // set); no filters, warm cache, or text bases keep the
        // driver sweep — cheaper than a job there
        val ps = pushed.toIndexedSeq
        val pm = physMap
        // the range-shaped conjuncts, physical-named and repr'd, ride
        // the checkpoint's typed stats columns (native Catalyst
        // comparisons + parquet row-group skipping); entrySurvives
        // re-checks ALL pushed filters on the collected survivors
        val rangePreds = ps.flatMap(TxLogSource.rangeOf).map {
          case (c, lo, hi) => (TxLogSource.physOf(pm, c),
            lo.map(TxLogSource.valueRepr), hi.map(TxLogSource.valueRepr))
        }
        val es =
          (if (ps.nonEmpty)
            graft.operators.TxLogPlan.pruneEntriesHybrid(spark, base,
              target, rangePreds,
              e => TxLogSource.entrySurvives(e, ps, pm))
          else None)
            .getOrElse(survivors(s.entries))
        parts(es, target)
      })
  }

  /** The reader conf is broadcast, as Spark's own file scans do: a
    * conf serialized into the factory is deserialized by every task
    * (about 10 ms a task, measured on a 4-vCPU local run), a broadcast
    * once per executor. */
  private[sources] def readerFactory(): PartitionReaderFactory =
    new TxLogReaderFactory(required,
      SparkSession.active.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          TxLogSource.readerHadoopConf())), physMap)
  override def createReaderFactory(): PartitionReaderFactory = readerFactory()

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(versionAsOf.isEmpty,
      "versionAsOf is a batch-only option (a stream has no fixed " +
        "target version); use startingVersion to begin after a known " +
        "version")
    new TxLogMicroBatchStream(this, base, maxVersionsPerTrigger,
      startingVersion, changeTypes, maxFilesPerTrigger)
  }
}

/** One data file to decode. `dvPositions` (sorted) are row ordinals
  * to SKIP (the deletion-vector mask); `keepOnly` (sorted), when
  * non-empty, inverts the contract — emit ONLY those ordinals (the
  * CDF mask-transition slices). `changeType` fills `_change_type`
  * when the scan projects it. `columnar` is the scan's row-or-batch
  * answer, stamped by [[TxLogInputPartition.uniform]]. */
case class TxLogInputPartition(file: String, commitVersion: Long,
                               dvPositions: Array[Long] = Array.emptyLongArray,
                               keepOnly: Array[Long] = Array.emptyLongArray,
                               changeType: String = "insert",
                               baseRowId: Option[Long] = None,
                               columnar: Boolean = false)
    extends InputPartition

object TxLogInputPartition {
  /** Spark requires every partition of one scan exec to agree on
    * row-vs-columnar ("Cannot mix..."). The answer is batches when no
    * partition masks a row, and rows otherwise: skipping row ordinals
    * (deletion vectors, CDF keepOnly slices) needs a per-row filter
    * over the same batches, so a mask-free sibling serves rows too.
    * Called once per planInputPartitions (batch and per-micro-batch
    * alike — each exec checks its own partitions). */
  private[sources] def uniform(parts: Seq[InputPartition])
      : Array[InputPartition] = {
    val columnar = parts.forall {
      case p: TxLogInputPartition =>
        p.dvPositions.isEmpty && p.keepOnly.isEmpty
      case _ => false
    }
    parts.map {
      case p: TxLogInputPartition => p.copy(columnar = columnar): InputPartition
      case other => other
    }.toArray
  }
}

/** The completely-pushed-aggregate scan: ONE partition, ONE row,
  * computed on the driver from manifest metadata — zero data files
  * opened. `values` hold Catalyst-internal representations of
  * manifest-derived primitives (Long/Int/Double/UTF8String/date
  * days), all JVM-serializable. */
class TxLogAggScan(base: String, aggSchema: StructType, values: Seq[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"TxLogAggScan base=$base (metadata-only aggregate, zero files read)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(TxLogAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          private val row = new GenericInternalRow(
            p.asInstanceOf[TxLogAggPartition].values.toArray)
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow = row
          override def close(): Unit = ()
        }
    }
}

case class TxLogAggPartition(values: Seq[Any]) extends InputPartition

/** Every partition decodes through Spark's vectorized parquet reader
  * ([[TxLogSource.openParquet]]): whole row groups land in
  * ColumnarBatches at native scan cost. A clean scan hands Spark the
  * batches; a scan with masked partitions serves rows over the same
  * batches, skipping or keeping each row ordinal. */
class TxLogReaderFactory(
    required: StructType,
    conf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration],
    physMap: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {

  /** The metadata columns this source synthesizes per partition (the
    * commit tag and CDF change type) — constant vectors. */
  private val constNames =
    Set(TxLogSource.CommitVersionCol, TxLogSource.ChangeTypeCol)
  private val constSchema =
    StructType(required.fields.filter(f => constNames.contains(f.name)))
  private val fileFields = required.fields.filterNot(f =>
    constNames.contains(f.name) || f.name == TxLogSource.RowIdMetaCol)
  /** `_row_id` requested: a rewrite-MATERIALIZED `__row_id` in the file
    * wins; else the partition's base span + the row ordinal (exactly
    * [[TxLog.readWithRowIds]]'s coalesce). */
  private val needRowId =
    required.fieldNames.contains(TxLogSource.RowIdMetaCol)
  /** The projection as the FILES know it: each file column under the
    * frozen physical name the parquet columns carry (column mapping),
    * plus the materialized id column when `_row_id` is asked for. */
  private val requestedSchema = StructType(
    fileFields.map(TxLogSource.toFileField(physMap, _)) ++
      (if (needRowId) Seq(StructField(TxLog.RowIdCol, LongType)) else Nil))

  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.asInstanceOf[TxLogInputPartition].columnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val b = new FileBatches(partition.asInstanceOf[TxLogInputPartition])
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = b.next()
      override def get(): ColumnarBatch = b.batch
      override def close(): Unit = b.close()
    }
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TxLogInputPartition]
    val b = new FileBatches(p)
    new PartitionReader[InternalRow] {
      private var i = 0 // next row of the current batch
      private var dvPtr = 0
      private var keepPtr = 0
      private var row: InternalRow = _
      /** Should this ordinal be emitted? The sorted arrays are walked by
        * forward pointers (ordinals strictly increase): `keepOnly`
        * (CDF mask slices) emits only its ordinals, `dvPositions`
        * skips its own. */
      private def emitAt(ord: Long): Boolean =
        if (p.keepOnly.nonEmpty) {
          while (keepPtr < p.keepOnly.length && p.keepOnly(keepPtr) < ord)
            keepPtr += 1
          keepPtr < p.keepOnly.length && p.keepOnly(keepPtr) == ord
        } else {
          while (dvPtr < p.dvPositions.length && p.dvPositions(dvPtr) < ord)
            dvPtr += 1
          !(dvPtr < p.dvPositions.length && p.dvPositions(dvPtr) == ord)
        }
      override def next(): Boolean = {
        while (true) {
          if (i < b.batch.numRows) {
            val r = i
            i += 1
            if (emitAt(b.start + r)) { row = b.batch.getRow(r); return true }
          } else if (b.next()) i = 0
          else return false
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = b.close()
    }
  }

  /** One partition's file as batches of `required`, in required order:
    * the reader's file and constant vectors, plus the `_row_id` vector
    * filled per batch. `start` is the file row ordinal of the batch's
    * first row. */
  private final class FileBatches(p: TxLogInputPartition) {
    private val reader = TxLogSource.openParquet(p.file, conf.value.value,
      requestedSchema, constSchema,
      new GenericInternalRow(constSchema.fields.map { f =>
        if (f.name == TxLogSource.CommitVersionCol) p.commitVersion: Any
        else UTF8String.fromString(p.changeType): Any
      }))
    private val src = reader.resultBatch()
    private val materialized: ColumnVector =
      if (needRowId) src.column(fileFields.length) else null
    private val rowIds =
      if (needRowId) new OnHeapColumnVector(TxLogSource.BatchRows, LongType)
      else null
    val batch = new ColumnarBatch(required.fields.map { f =>
      if (f.name == TxLogSource.RowIdMetaCol) rowIds
      else if (constNames.contains(f.name))
        src.column(requestedSchema.length + constSchema.fieldIndex(f.name))
      else src.column(fileFields.indexWhere(_.name == f.name))
    })
    var start = 0L

    def next(): Boolean = {
      start += batch.numRows
      val more = reader.nextKeyValue()
      batch.setNumRows(if (more) src.numRows else 0)
      if (more && rowIds != null) {
        rowIds.reset()
        var r = 0
        while (r < src.numRows) {
          if (!materialized.isNullAt(r))
            rowIds.putLong(r, materialized.getLong(r))
          else p.baseRowId match {
            case Some(b) => rowIds.putLong(r, b + start + r)
            case None => rowIds.putNull(r)
          }
          r += 1
        }
      }
      more
    }

    def close(): Unit = {
      reader.close()
      if (rowIds != null) rowIds.close()
    }
  }
}

/** The committed VERSION as a streaming offset. Versions are dense,
  * monotone (CAS-assigned), and immutable once published, so the
  * offset alone fully determines every batch's contents — restart
  * resumes at checkpointed-version + 1 with no listing-identity
  * checks needed. */
/** Stream position: versions <= `version` fully consumed, except
  * when `index >= 0` — then version `version` is PARTIALLY consumed
  * (its first `index` stats-surviving files delivered, more remain).
  * Delta's (reservoirVersion, index) shape: the intra-version index
  * is what lets `maxFilesPerTrigger` chunk a 10^5-file initial
  * snapshot across micro-batches instead of ingesting it whole.
  * Complete offsets serialize in the legacy `{"version":N}` form, so
  * existing checkpoints resume unchanged. */
class TxLogOffset(val version: Long, val index: Long = -1L)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    if (index < 0) s"""{"version":$version}"""
    // `"raw":true` stamps WHAT the index counts (raw manifest
    // positions — predicate-independent). Partial offsets from the
    // earlier build counted stats-SURVIVING files and carry no stamp;
    // deserializeOffset refuses them rather than silently re-reading
    // or skipping files under the new meaning.
    else s"""{"version":$version,"index":$index,"raw":true}"""
  override def equals(o: Any): Boolean = o match {
    case t: TxLogOffset => t.version == version && t.index == index
    case _ => false
  }
  override def hashCode(): Int = (version * 31 + index).toInt
}

class TxLogMicroBatchStream(scan: TxLogScan, base: String,
                            maxVersionsPerTrigger: Option[Long],
                            startingVersion: Long,
                            changeTypes: Boolean = false,
                            maxFilesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  private def spark = SparkSession.active
  private var availableNowTarget: Option[Long] = None

  private def latestCommitted(): Long =
    TxLog.latestVersion(spark, base).getOrElse(0L)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestCommitted())

  // both admission options surface as ReadMaxFiles (Spark's only
  // count-shaped limit); `limitIsFiles` records which unit the number
  // means, since WE are also the one interpreting it in latestOffset
  private val limitIsFiles = maxFilesPerTrigger.isDefined

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.orElse(maxVersionsPerTrigger)
      // clamp, don't truncate: a value above Int.MaxValue would
      // overflow .toInt to a NEGATIVE budget and the walk would admit
      // nothing — the stream silently stalls forever instead of
      // behaving as "effectively unlimited"
      .map(n => ReadLimit.maxFiles(math.min(n, Int.MaxValue.toLong).toInt))
      .getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = new TxLogOffset(startingVersion)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  /** The added files of one version, in manifest order — the SAME
    * ordered list planInputPartitions slices, so the offset index and
    * the shipped files can never disagree. Deliberately UNFILTERED:
    * the index counts raw manifest entries, never stats-pruned
    * survivors, because pushdown is not user-controlled — a Spark
    * upgrade or plan change that pushes more/fewer filters would
    * silently re-interpret an in-flight checkpoint offset (skipping
    * or re-delivering files). Pruning applies AFTER slicing, in
    * planInputPartitions, where it only saves IO. Derived from
    * immutable manifests: stable across retries and restarts. */
  private def versionFiles(v: Long): Seq[TxLog.Entry] =
    TxLogSource.addedEntries(spark, base, v)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[TxLogOffset]
    val avail = availableNowTarget.getOrElse(latestCommitted())
    limit match {
      case mf: ReadMaxFiles if limitIsFiles =>
        // file-budget walk with intra-version positions: consume the
        // remainder of a partially-read version first, then whole (or
        // partial) versions until the budget or the backlog runs out.
        // Budget >= 1, so progress is guaranteed whenever files remain.
        var budget = mf.maxFiles().toLong
        var v = if (from.index >= 0) from.version else from.version + 1
        var idx = if (from.index >= 0) from.index else 0L
        var outV = from.version; var outIdx = from.index
        while (budget > 0 && v <= avail) {
          val total = versionFiles(v).size.toLong
          val remaining = math.max(0L, total - idx)
          if (remaining <= budget) { // finish this version
            budget -= remaining
            outV = v; outIdx = -1L
            v += 1; idx = 0L
          } else { // budget dies inside this version
            outV = v; outIdx = idx + budget
            budget = 0L
          }
        }
        new TxLogOffset(outV, outIdx)
      case mf: ReadMaxFiles => // maxVersionsPerTrigger (version unit)
        val to = math.min(avail, from.version + mf.maxFiles())
        // a PARTIAL start (an option switch between restarts) must
        // still make progress: finishing its version counts as one
        if (to > from.version) new TxLogOffset(to)
        else if (from.index >= 0) new TxLogOffset(from.version)
        else from
      case _ =>
        // unlimited: everything available — including the remainder
        // of a partially-consumed version
        if (avail > from.version) new TxLogOffset(avail)
        else if (from.index >= 0) new TxLogOffset(from.version)
        else from
    }
  }

  override def reportLatestOffset(): Offset =
    new TxLogOffset(latestCommitted())

  override def deserializeOffset(json: String): Offset = {
    val full = """\{"version":(\d+)\}""".r
    val part = """\{"version":(\d+),"index":(\d+),"raw":true\}""".r
    val legacyPart = """\{"version":(\d+),"index":(\d+)\}""".r
    json.trim match {
      case full(v) => new TxLogOffset(v.toLong)
      case part(v, i) => new TxLogOffset(v.toLong, i.toLong)
      case legacyPart(v, i) => throw new IllegalStateException(
        s"checkpoint offset {version:$v,index:$i} was written by an " +
          "earlier build whose index counted stats-SURVIVING files; " +
          "this build's indexes count raw manifest entries " +
          "(predicate-independent) — replaying it could skip or " +
          "re-deliver files. Drain the stream with the old build to a " +
          "complete (index-free) offset, or reset the checkpoint")
      case other => throw new IllegalArgumentException(
        s"malformed txlog offset: $other")
    }
  }

  /** Schema tracking, log-derived (Delta's schemaTrackingLocation
    * equivalent — here the LOG is the tracker: `#schema`/`#colmap`/
    * `#widencol` lines are versioned with every commit, so the schema
    * at any offset is always reconstructible). ADDITIVE evolution
    * (ADD COLUMNS, type widening) replays fine across a restart: old
    * files decode under their own footer schema and null-fill /
    * widen into the latest surface. NON-ADDITIVE evolution — a
    * RENAME/DROP/re-ADD under column mapping between the checkpointed
    * offset and the restart — changes what the replayed logical
    * columns MEAN: the sink built under the old surface would
    * silently receive re-bound or vanished columns. Delta fails this
    * stream unless the user opts in; so do we
    * (option("allowSchemaChange", "true")). */
  private def guardNonAdditive(consumedV: Long): Unit = {
    if (scan.allowSchemaChange) return
    // a FRESH stream (nothing consumed yet) binds to the latest
    // surface by definition — only a RESUME can straddle a change
    if (consumedV < 1L) return
    val latest = latestCommitted()
    if (latest == 0L || consumedV >= latest) return
    def mapAt(v: Long): Option[Set[(String, String)]] =
      TxLog.metaOf(spark, base, v).colMap
        .map(_.cols.map { case (l, p) => (l.toLowerCase, p) }.toSet)
    val nowM = mapAt(latest)
    // the checkpointed version's manifest may be GONE (vacuumed while
    // the stream lagged): on an unmapped table the guard has nothing
    // to compare and must not turn a resume into a raw FileNotFound —
    // skip it; on a MAPPED table an unverifiable history is exactly
    // the unsafe case, so raise the explanatory error instead
    val thenM = scala.util.Try(mapAt(consumedV)).getOrElse {
      if (nowM.isEmpty) return
      None // unresolvable old version on a mapped table: fail below
    }
    if (thenM != nowM) throw new IllegalStateException(
      s"the column mapping of $base changed between the stream's " +
        s"checkpointed position (version $consumedV) and the current " +
        s"table (version $latest) — a RENAME/DROP/re-ADD is a " +
        "non-additive schema change: replayed columns would " +
        "silently re-bind under the new surface. Restart the stream " +
        "from a fresh checkpoint, or opt in with " +
        ".option(\"allowSchemaChange\", \"true\") after updating the " +
        "sink (additive ADD COLUMNS / type widening never trips this)")
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TxLogOffset]
    val e = end.asInstanceOf[TxLogOffset]
    guardNonAdditive(s.version)
    // stats-pruning applies per batch too: a filtered stream never
    // ships files the pushed ranges prove dead (filters stay residual)
    if (changeTypes) // version-atomic (maxFilesPerTrigger is rejected)
      return TxLogInputPartition.uniform((s.version + 1 to e.version)
        .flatMap(v => scan.transitionPartitions(spark, v)))
    val firstV = if (s.index >= 0) s.version else s.version + 1
    TxLogInputPartition.uniform((firstV to e.version).flatMap { v =>
      val es0 = versionFiles(v)
      val fromIdx = if (v == s.version && s.index >= 0) s.index.toInt else 0
      val toIdx = if (v == e.version && e.index >= 0) e.index.toInt
                  else es0.size
      // prune AFTER slicing: the offset index addresses the raw
      // manifest list (predicate-independent — see versionFiles);
      // stats-pruning here only drops dead IO from the shipped batch
      val es = scan.survivors(es0.slice(fromIdx, toIdx))
      val masks = TxLogSource.dvPositionsByFile(base, es)
      es.map(en => TxLogInputPartition(TxLog.resolve(base, en.path), v,
        masks.getOrElse(en.path, Array.emptyLongArray),
        baseRowId = scan.ridOf(en)): InputPartition)
    })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.readerFactory()
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
