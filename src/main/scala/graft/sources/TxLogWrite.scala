package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TxLog

/** The WRITE half of the DSv2 log table: `df.write.format(...)`
  * (append / overwrite-as-truncate), SQL `INSERT INTO` over the
  * catalog table, and a native STREAMING SINK with exactly-once
  * epochs — the surfaces that previously required calling the TxLog
  * API directly or wrapping appendOnce in foreachBatch.
  *
  * Protocol, mapped onto DSv2's two-phase commit:
  *  - executors write parquet files under a fresh per-write txn dir
  *    (`data/<uuid>[-e<epoch>]/part-<partition>-<task>.parquet`) via
  *    the public parquet-mr Group writer, tracking rows + per-column
  *    min/max INLINE — stats ride the commit messages, so no
  *    read-back scan is needed (cheaper than [[TxLog.landEntries]]);
  *  - `BatchWrite.commit` publishes one manifest from the collected
  *    messages under the same CAS retry as [[TxLog.append]]: a
  *    conflict re-reads ONE manifest, the landed data is reused;
  *    `abort` deletes the txn dir — uncommitted files were never
  *    referenced, so readers cannot have seen them;
  *  - overwrite (`SaveMode.Overwrite` → [[SupportsTruncate]])
  *    publishes ONLY the new files — the old version stays readable
  *    until vacuum, exactly like every other rewrite verb;
  *  - the streaming sink commits one version per epoch and carries
  *    the (queryId → epochId) high-water in the manifest's txn map —
  *    [[TxLog.appendOnce]]'s exactly-once contract without the
  *    foreachBatch detour: a replayed epoch discards its re-landed
  *    files and publishes nothing.
  *
  * Write options: `statsColumns` (comma-separated) selects the
  * inline-stats columns; it defaults to none — callers who want
  * skipping name their cluster keys, same as the TxLog API.
  */
/** How a batch write combines with the prior snapshot. Every variant
  * is O(new data + manifest): removed files DROP from the manifest by
  * reference — never read, never rewritten. */
sealed trait TxLogWriteMode
case object TxLogAppendMode extends TxLogWriteMode
case object TxLogTruncateMode extends TxLogWriteMode
/** `INSERT OVERWRITE ... PARTITION (...)` / static-mode overwrite:
  * drop prior files matching the partition filters, append the new
  * ones. Exact at FILE level because partitioned files are pure
  * (min==max), so this is Delta's replaceWhere-on-partition-columns —
  * metadata-only deletes. */
final case class TxLogOverwriteWhere(
    filters: Array[org.apache.spark.sql.sources.Filter])
  extends TxLogWriteMode
/** `partitionOverwriteMode=dynamic` / `overwritePartitions()`: replace
  * exactly the partition tuples PRESENT in the incoming batch —
  * discovered from the landed files' own exact stats, so no extra
  * pass over the data. */
case object TxLogDynamicOverwrite extends TxLogWriteMode

class TxLogWriteBuilder(base: String, info: LogicalWriteInfo)
    extends WriteBuilder
    with SupportsOverwrite with SupportsDynamicOverwrite {
  private var mode: TxLogWriteMode = TxLogAppendMode
  override def truncate(): WriteBuilder = { mode = TxLogTruncateMode; this }
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    mode =
      if (filters.isEmpty || filters.forall(
          _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
        TxLogTruncateMode
      else TxLogOverwriteWhere(filters)
    this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = TxLogDynamicOverwrite; this
  }
  override def build(): Write = new TxLogWrite(base, info, mode)
}

class TxLogWrite(base: String, info: LogicalWriteInfo,
                 mode: TxLogWriteMode)
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  private val statsCols: Seq[String] =
    Option(info.options.get("statsColumns")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
  statsCols.foreach { c =>
    require(info.schema().fieldNames.contains(c),
      s"statsColumns entry $c is not a column of ${info.schema().simpleString}")
    // fail fast on the DRIVER for unsupported stats types — the
    // executor-side writer would otherwise kill every task late, with
    // retry noise (the TxLog API path fails before writing too)
    TxLogWriteSupport.statsDtype(info.schema()(c).dataType)
  }

  /** The table's declared partition columns under the LOGICAL names
    * this write's schema speaks — what the distribution/ordering
    * requirement below is phrased in. Resolved once at plan time:
    * partitioning is fixed at table birth, so a replanned stream
    * restart sees the identical answer (no replay hazard). */
  private val logicalPartitionCols: Seq[String] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val m = TxLog.latestMeta(spark, base)
    m.partitions.map { case (phys, _) =>
      m.colMap.map(_.logicalOf(phys)).getOrElse(phys)
    }
  }

  /** The table's `#cluster` keys under this write's LOGICAL names
    * (empty when unclustered) — folded into the distribution/ordering
    * requirement so DSv2 INSERTs land band-per-file on the keys (the
    * Delta optimized-write shape; the API verbs tile by the full
    * interleave, and the incremental OPTIMIZE sweep perfects both). */
  private val logicalClusterCols: Seq[String] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val m = TxLog.latestMeta(spark, base)
    m.cluster.map(p => m.colMap.map(_.logicalOf(p)).getOrElse(p))
      .filter(c => info.schema().fieldNames
        .exists(_.equalsIgnoreCase(c)))
  }

  /** Partitioned tables ask Spark to CLUSTER incoming rows by the
    * partition columns and SORT them within tasks — so each tuple
    * arrives contiguously in (usually) one task and the rolling
    * writer emits one file per tuple per task, Spark's own
    * dynamic-partition write shape. CLUSTER BY keys join the same
    * requirement, so clustered INSERTs land key-banded files with
    * sharp stats. Purity never depends on it: the writer rolls on ANY
    * tuple change, so an engine that ignored the hint would produce
    * more (still pure) files, never mixed ones. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.distributions.Distributions
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
    val cols = (logicalPartitionCols ++ logicalClusterCols).distinct
    if (cols.isEmpty) Distributions.unspecified()
    else Distributions.clustered(cols
      .map(c => Expressions.identity(c): Expression).toArray)
  }

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
    (logicalPartitionCols ++ logicalClusterCols).distinct.map(c =>
      Expressions.sort(Expressions.identity(c), SortDirection.ASCENDING,
        NullOrdering.NULLS_FIRST)).toArray
  }

  /** Physical partition-column indices in `pSchema` + stats columns
    * widened to always track the partition columns (their per-file
    * exact value IS the pruning index). Loud error when the write is
    * missing one — partitioning is declared at birth, so this is
    * deterministic across stream restarts too. */
  private def partitionPlan(pSchema: StructType, pStats: Seq[String])
      : (Seq[Int], Seq[String]) = {
    val spark = org.apache.spark.sql.SparkSession.active
    val m = TxLog.latestMeta(spark, base)
    val pPhys = m.partitions.map(_._1)
    val idx = pPhys.map { p =>
      val i = pSchema.fieldNames.indexWhere(_.equalsIgnoreCase(p))
      require(i >= 0,
        s"write to a partitioned table must supply partition column " +
          s"'$p' (write schema: ${pSchema.simpleString})")
      i
    }
    // stats are recorded under the MANIFEST's frozen physical casing
    // (pPhys), not the write schema's — Entry.statsFor is exact-match,
    // so a batch supplying 'REGION' for partition column 'region' must
    // still land stats every reader resolves. CLUSTER BY keys always
    // stat too (their per-file band IS the layout's pruning index).
    val cPhys = m.cluster.filter(c =>
      pSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
    val widened = (pPhys ++ cPhys ++
      pStats.filterNot(s => (pPhys ++ cPhys)
        .exists(_.equalsIgnoreCase(s)))).distinct
    (idx, widened)
  }

  override def toBatch: BatchWrite = {
    val spark = org.apache.spark.sql.SparkSession.active
    // column mapping: files must land under the frozen PHYSICAL names
    // (the incoming schema speaks logical ones). Strict for batch — an
    // unmapped column is a plan-time error pointing at ADD COLUMNS.
    val (pSchema, pStats) = TxLogWriteSupport.toPhysical(
      spark, base, info.schema(), statsCols, strict = true)
    // GENERATED ALWAYS: the sink is an insert path — a batch providing
    // an identity column would bypass the high-water and collide with
    // later appendIdentity allocations; checked eagerly on the driver
    // for BATCH writes only (identity lines key on physical names).
    // The streaming path defers the check to commit time
    // (publishEpochWithRetry): a restarted stream replaying an
    // already-committed epoch must stay a silent no-op even if the
    // table gained a matching identity column since — failing at plan
    // time would break exactly-once restart recovery.
    TxLog.requireNoIdentityColumns(spark, base, pSchema.fieldNames.toSeq)
    val (pIdx, allStats) = partitionPlan(pSchema, pStats)
    new TxLogBatchWrite(base, pSchema, allStats, mode, pIdx)
  }
  override def toStreaming: StreamingWrite = {
    require(mode == TxLogAppendMode,
      "the txlog streaming sink is append-only (complete/update output " +
        "modes would truncate history); use append mode")
    // lenient translation (unknown logical names pass through): every
    // write-shape veto is deferred to the epoch commit so a replayed
    // epoch against a since-evolved table stays a silent no-op
    val (pSchema, pStats) = TxLogWriteSupport.toPhysical(
      org.apache.spark.sql.SparkSession.active, base, info.schema(),
      statsCols, strict = false)
    // partitioning is safe to require at plan time even for streams:
    // declared at birth and immutable, a replayed epoch was planned
    // under the identical spec
    val (pIdx, allStats) = partitionPlan(pSchema, pStats)
    new TxLogStreamingWrite(base, pSchema, allStats,
      info.queryId(), autoCompact,
      logicalCols = info.schema().fieldNames.toSeq, pIdx = pIdx)
  }

  /** Auto-compaction policy for the streaming sink (Delta
    * auto-compaction analog): a long-running stream writes one file
    * per partition per epoch — without maintenance a month of
    * 1-minute triggers is 10^5 tiny files. `autoCompact=true` runs a
    * best-effort [[TxLog.compact]] after an epoch commit whenever at
    * least `autoCompactMinFiles` (default 8) live files sit under
    * `autoCompactSmallRows` (default 2^18) rows, binning to
    * `autoCompactTargetRows` (default 2^20). dataChange=false, so the
    * change feeds and exactly-once replay are untouched. */
  private def autoCompact: Option[(Long, Long, Int)] =
    if (!Option(info.options.get("autoCompact")).exists(_.toBoolean)) None
    else {
      val small = Option(info.options.get("autoCompactSmallRows"))
        .map(_.toLong).getOrElse(1L << 18)
      val target = Option(info.options.get("autoCompactTargetRows"))
        .map(_.toLong).getOrElse(1L << 20)
      val minFiles = Option(info.options.get("autoCompactMinFiles"))
        .map(_.toInt).getOrElse(8)
      // validate EAGERLY at stream start: inside the per-epoch
      // best-effort swallow, an inverted pair would silently disable
      // compaction forever — the exact file accretion it exists to stop
      require(target >= small && small >= 1 && minFiles >= 2,
        s"autoCompact thresholds invalid: smallRows=$small " +
          s"targetRows=$target minFiles=$minFiles (need target >= " +
          "small >= 1, minFiles >= 2)")
      Some((small, target, minFiles))
    }
}

/** Serializable per-file result: path (base-relative), rows, and one
  * (column, dtype, minRepr, maxRepr) per stats column that saw at
  * least one non-null value. */
case class TxLogFileResult(path: String, rows: Long,
                           stats: Seq[(String, String, String, String)])

/** One task's commit message — SEVERAL files when the table is
  * partitioned (the rolling writer emits one per partition tuple). */
case class TxLogWriterMessage(files: Seq[TxLogFileResult])
    extends WriterCommitMessage

object TxLogWriteSupport {
  /** parquet schema for the supported types (same set the read side
    * decodes) — nested struct/array/map build recursively in the
    * STANDARD layouts (3-level LIST, MAP key_value) that both Spark's
    * vectorized reader and the txlog row decoder consume. */
  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(parquetType(f.dataType, f.name)))
    b.named("graft_txlog_row")
  }

  private def parquetType(dt: org.apache.spark.sql.types.DataType,
                          name: String,
                          required: Boolean = false)
      : org.apache.parquet.schema.Type = {
    def prim(t: PrimitiveTypeName) =
      if (required) Types.required(t) else Types.optional(t)
    dt match {
      case LongType => prim(PrimitiveTypeName.INT64).named(name)
      case IntegerType => prim(PrimitiveTypeName.INT32).named(name)
      case ShortType => prim(PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.intType(16, true)).named(name)
      case ByteType => prim(PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.intType(8, true)).named(name)
      case DoubleType => prim(PrimitiveTypeName.DOUBLE).named(name)
      case FloatType => prim(PrimitiveTypeName.FLOAT).named(name)
      case BooleanType => prim(PrimitiveTypeName.BOOLEAN).named(name)
      case StringType => prim(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(name)
      case BinaryType => prim(PrimitiveTypeName.BINARY).named(name)
      case DateType => prim(PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.dateType()).named(name)
      case TimestampType => prim(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
      case TimestampNTZType => prim(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
      // decimals: unscaled INT64 up to 18 digits (Spark's own
      // compact layout), variable BINARY above — both physical
      // encodings Spark's readers take natively
      case d: DecimalType if d.precision <= 18 =>
        prim(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
          .named(name)
      case d: DecimalType =>
        prim(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
          .named(name)
      case st: org.apache.spark.sql.types.StructType =>
        val gb = Types.optionalGroup()
        st.fields.foreach(f => gb.addField(parquetType(f.dataType, f.name)))
        gb.named(name)
      case at: org.apache.spark.sql.types.ArrayType =>
        Types.optionalGroup().as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup()
            .addField(parquetType(at.elementType, "element"))
            .named("list"))
          .named(name)
      case mt: org.apache.spark.sql.types.MapType =>
        Types.optionalGroup().as(LogicalTypeAnnotation.mapType())
          .addField(Types.repeatedGroup()
            .addField(parquetType(mt.keyType, "key", required = true))
            .addField(parquetType(mt.valueType, "value"))
            .named("key_value"))
          .named(name)
      case other => throw new IllegalArgumentException(
        s"txlog sink does not support column type $other " +
          "(numeric/string/bool/date/timestamp/decimal/struct/array/" +
          "map schemas only)")
    }
  }

  /** Fill group field `i` of `g` from `src` at `ord` — one writer for
    * rows, array elements and map entries (InternalRow/ArrayData both
    * speak SpecializedGetters), recursing through nested shapes in
    * exactly the layouts [[parquetType]] declared. Callers null-check
    * before calling (a parquet optional field is expressed by absence). */
  private[sources] def addTo(
      g: org.apache.parquet.example.data.Group, i: Int,
      dt: org.apache.spark.sql.types.DataType,
      src: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      ord: Int): Unit = dt match {
    case LongType => g.add(i, src.getLong(ord))
    case IntegerType | DateType => g.add(i, src.getInt(ord))
    case ShortType => g.add(i, src.getShort(ord).toInt)
    case ByteType => g.add(i, src.getByte(ord).toInt)
    case DoubleType => g.add(i, src.getDouble(ord))
    case FloatType => g.add(i, src.getFloat(ord))
    case BooleanType => g.add(i, src.getBoolean(ord))
    case StringType => g.add(i, src.getUTF8String(ord).toString)
    case BinaryType => g.add(i,
      org.apache.parquet.io.api.Binary.fromConstantByteArray(
        src.getBinary(ord)))
    case TimestampType | TimestampNTZType => g.add(i, src.getLong(ord))
    case d: DecimalType =>
      val dec = src.getDecimal(ord, d.precision, d.scale)
      if (d.precision <= 18) g.add(i, dec.toUnscaledLong)
      else g.add(i,
        org.apache.parquet.io.api.Binary.fromConstantByteArray(
          dec.toJavaBigDecimal.unscaledValue().toByteArray))
    case st: org.apache.spark.sql.types.StructType =>
      val child = g.addGroup(i)
      val row = src.getStruct(ord, st.length)
      var j = 0
      while (j < st.length) {
        if (!row.isNullAt(j)) addTo(child, j, st.fields(j).dataType, row, j)
        j += 1
      }
    case at: org.apache.spark.sql.types.ArrayType =>
      val listG = g.addGroup(i)
      val arr = src.getArray(ord)
      var j = 0
      while (j < arr.numElements()) {
        val entry = listG.addGroup(0)
        if (!arr.isNullAt(j)) addTo(entry, 0, at.elementType, arr, j)
        j += 1
      }
    case mt: org.apache.spark.sql.types.MapType =>
      val mapG = g.addGroup(i)
      val m = src.getMap(ord)
      val ks = m.keyArray(); val vs = m.valueArray()
      var j = 0
      while (j < m.numElements()) {
        val entry = mapG.addGroup(0)
        addTo(entry, 0, mt.keyType, ks, j)
        if (!vs.isNullAt(j)) addTo(entry, 1, mt.valueType, vs, j)
        j += 1
      }
    case other => throw new IllegalArgumentException(
      s"unsupported type $other")
  }

  /** TxLog's stats dtype of a Spark type (one comparator for both
    * write paths — drift between the write-side tracker and the
    * read-side overlap check would make pruning unsound). */
  def statsDtype(dt: DataType): String = TxLog.statsDtype(dt)

  /** Translate a write schema + stats columns to the frozen PHYSICAL
    * names on a mapped table (identity when the table has no column
    * mapping). `strict` errors on a logical column the mapping does
    * not know (the batch plan-time veto); lenient passes it through
    * untranslated — the streaming path's epoch commit vetoes NEW
    * epochs via [[TxLog.requireMappedColumns]] while replays stay
    * no-ops. */
  def toPhysical(spark: org.apache.spark.sql.SparkSession, base: String,
                 schema: StructType, statsCols: Seq[String],
                 strict: Boolean): (StructType, Seq[String]) =
    TxLog.latestMeta(spark, base).colMap match {
      case Some(cm) =>
        if (strict) {
          val unknown = schema.fieldNames.filterNot(cm.hasLogical)
          require(unknown.isEmpty,
            s"column(s) ${unknown.mkString(", ")} are not in this " +
              "table's column mapping — on a mapped table, declare new " +
              "columns with ALTER TABLE ... ADD COLUMNS before writing " +
              "them")
        }
        (StructType(schema.fields.map { f =>
          val pn = cm.physicalOf(f.name).getOrElse(f.name)
          val nested = cm.nestedUnder(f.name)
          f.dataType match {
            // tier-2 nested bindings: rows are positional past this
            // point, so renaming the subfields IN PLACE in the write
            // schema lands the frozen physical leaf names on disk
            case st: org.apache.spark.sql.types.StructType
                if nested.nonEmpty =>
              if (strict) {
                val unknownF = st.fieldNames.filterNot(fn =>
                  nested.exists(_._1.equalsIgnoreCase(fn)))
                require(unknownF.isEmpty,
                  s"nested column(s) ${unknownF.map(x => s"${f.name}.$x")
                    .mkString(", ")} are not in this table's column " +
                    "mapping — declare them with alterAddNestedColumns " +
                    "before writing them")
              }
              f.copy(name = pn, dataType =
                org.apache.spark.sql.types.StructType(st.fields.map(sf =>
                  sf.copy(name = nested.find(_._1.equalsIgnoreCase(sf.name))
                    .map(_._2).getOrElse(sf.name)))))
            case _ => f.copy(name = pn)
          }
        }), statsCols.map(c => cm.physicalOf(c).getOrElse(c)))
      case None => (schema, statsCols)
    }

  def cmp(dtype: String, a: String, b: String): Int = TxLog.cmp(dtype, a, b)
}

class TxLogBatchWrite(base: String, schema: StructType,
                      statsCols: Seq[String],
                      mode: TxLogWriteMode = TxLogAppendMode,
                      pIdx: Seq[Int] = Seq.empty)
    extends BatchWrite {
  private val txn = java.util.UUID.randomUUID().toString

  def this(base: String, schema: StructType, statsCols: Seq[String],
           truncate: Boolean) =
    this(base, schema, statsCols,
      if (truncate) TxLogTruncateMode else TxLogAppendMode)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new TxLogWriterFactory(base, s"data/$txn", schema, statsCols,
      new org.apache.spark.util.SerializableConfiguration(
        TxLogSource.driverHadoopConf()), pIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val entries = TxLogWriteCommit.toEntries(messages)
    TxLogWriteCommit.publishWithRetry(spark, base, entries,
      mode = mode, schemaCols = schema.fieldNames.toSeq)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TxLogWriteCommit.dropTxn(base, s"data/$txn")
}

class TxLogStreamingWrite(base: String, schema: StructType,
                          statsCols: Seq[String], queryId: String,
                          autoCompact: Option[(Long, Long, Int)] = None,
                          logicalCols: Seq[String] = Seq.empty,
                          pIdx: Seq[Int] = Seq.empty)
    extends StreamingWrite {
  private val writeId = java.util.UUID.randomUUID().toString

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new TxLogStreamingWriterFactory(base, s"data/$writeId", schema, statsCols,
      new org.apache.spark.util.SerializableConfiguration(
        TxLogSource.driverHadoopConf()), pIdx)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val entries = TxLogWriteCommit.toEntries(messages)
    TxLogWriteCommit.publishEpochWithRetry(spark, base, entries,
      appId = s"sink-$queryId", epochId = epochId,
      schemaCols = schema.fieldNames.toSeq,
      logicalCols = logicalCols)
    // post-commit auto-compaction: best-effort, AFTER the epoch is
    // durable — a compaction failure (or CAS storm) must never fail
    // the stream; dataChange=false keeps feeds and replay semantics
    autoCompact.foreach { case (smallRows, targetRows, minFiles) =>
      try {
        val latest = graft.operators.TxLog.latestVersion(spark, base)
        val smalls = latest.map(v =>
          graft.operators.TxLog.manifest(spark, base, v)._1
            .count(e => e.rows >= 0 && e.liveRows < smallRows))
          .getOrElse(0)
        if (smalls >= minFiles)
          graft.operators.TxLog.compact(spark, base, smallRows, targetRows,
            statsCols.headOption)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    TxLogWriteCommit.dropTxn(base, s"data/$writeId-e$epochId")
}

/** File-level matchers for the partition-scoped overwrite modes —
  * EXACT (not conservative) because partitioned files are pure: every
  * partition column's stats are min==max, the tuple itself. A file
  * that somehow spans values (impossible on a born-partitioned table;
  * defensive for hand-built manifests) matches nothing, so it is
  * carried — the safe direction. */
object TxLogOverwriteSupport {
  import org.apache.spark.sql.sources._

  /** The file's partition tuple (inner None = that column is
    * all-NULL). Outer None = the file SPANS values on some partition
    * column (impossible on a born-partitioned table; defensive for
    * hand-built manifests) — such a file matches no tuple, so dynamic
    * overwrite always CARRIES it, never conflating it with the
    * legitimate all-NULL tuple. */
  def tupleOf(e: TxLog.Entry, pspec: Seq[(String, String)])
      : Option[Seq[Option[String]]] = TxLog.entryTuple(e, pspec)

  /** A filter tree over partition columns → an exact per-file
    * predicate. Supports And / EqualTo / EqualNullSafe / IsNull / In —
    * the shapes Spark emits for `INSERT OVERWRITE ... PARTITION (...)`
    * and static-mode overwrite. Anything else (ranges, non-partition
    * columns) errors loudly toward the row-level verbs. */
  def partitionMatcher(spark: org.apache.spark.sql.SparkSession,
                       base: String, pspec: Seq[(String, String)],
                       filters: Array[Filter]): TxLog.Entry => Boolean = {
    require(pspec.nonEmpty,
      "INSERT OVERWRITE with a predicate needs a PARTITIONED txlog " +
        "table; row-level replacement on unpartitioned tables is " +
        "REPLACE WHERE (TxLog.replaceRange) or DELETE + INSERT")
    val cm = TxLog.latestMeta(spark, base).colMap
    def phys(name: String): (String, String) = {
      val p = cm.flatMap(_.physicalOf(name)).getOrElse(name)
      pspec.find(_._1.equalsIgnoreCase(p)).getOrElse(
        throw new IllegalArgumentException(
          "INSERT OVERWRITE predicates may reference only partition " +
            s"column(s) ${pspec.map(_._1).mkString(", ")}; got '$name'"))
    }
    def valueOf(e: TxLog.Entry, c: String): Option[String] =
      e.statsFor(c).filter(st => st.min == st.max).map(_.min)
    def compile(f: Filter): TxLog.Entry => Boolean = f match {
      case And(l, r) =>
        val (cl, cr) = (compile(l), compile(r)); e => cl(e) && cr(e)
      case EqualTo(a, null) => _ => false // SQL: = NULL matches nothing
      case EqualTo(a, v) =>
        val (c, dt) = phys(a); val repr = TxLog.reprOf(v)
        e => valueOf(e, c).exists(x => TxLog.cmp(dt, x, repr) == 0)
      case EqualNullSafe(a, null) =>
        val (c, _) = phys(a); e => e.statsFor(c).isEmpty
      case EqualNullSafe(a, v) => compile(EqualTo(a, v))
      case IsNull(a) =>
        val (c, _) = phys(a); e => e.statsFor(c).isEmpty
      case In(a, vs) =>
        val (c, dt) = phys(a)
        val reprs = vs.toSeq.filter(_ != null).map(TxLog.reprOf)
        e => valueOf(e, c).exists(x =>
          reprs.exists(r => TxLog.cmp(dt, x, r) == 0))
      case other => throw new IllegalArgumentException(
        s"INSERT OVERWRITE supports partition equality predicates " +
          s"(=, IN, IS NULL, AND); got: $other — use REPLACE WHERE / " +
          "DELETE for row-level shapes")
    }
    val compiled = filters.map(compile)
    e => compiled.forall(_(e))
  }
}

/** Driver-side commit logic shared by the batch and streaming writes:
  * messages → manifest entries, one transaction ([[TxLog.txn]]) per
  * commit (data reused on conflict, exactly like [[TxLog.append]]). */
object TxLogWriteCommit {
  def toEntries(messages: Array[WriterCommitMessage]): Seq[TxLog.Entry] =
    messages.toSeq
      .collect { case m: TxLogWriterMessage => m.files }.flatten
      .collect {
        case f if f.rows > 0 =>
          TxLog.Entry(f.path, f.rows, f.stats.map { case (c, t, mn, mx) =>
            TxLog.ColStats(c, t, mn, mx)
          })
      }

  def dropTxn(base: String, txnRel: String): Unit = {
    val p = new HPath(s"$base/$txnRel")
    val fs = p.getFileSystem(TxLogSource.driverHadoopConf())
    fs.delete(p, true)
  }

  def publishWithRetry(spark: org.apache.spark.sql.SparkSession,
                       base: String, entries: Seq[TxLog.Entry],
                       mode: TxLogWriteMode, maxAttempts: Int = 5,
                       onAttempt: Int => Unit = _ => (),
                       schemaCols: Seq[String] = Seq.empty): Long = {
    // GENERATED ALWAYS at COMMIT time (the plan-time check alone would
    // let an identity column established after planning slip through)
    TxLog.requireNoIdentityColumns(spark, base, schemaCols)
    // partition purity backstop (same plan-vs-commit drift class)
    TxLog.requirePartitionPure(spark, base, entries)
    // `checked` records the set enforcement ACTUALLY ran under, so a
    // drop-then-re-add between reads cannot slip past the comparison
    var checked = TxLog.latestMeta(spark, base).constraints
    TxLog.txn(spark, base, maxAttempts, onAttempt) { t =>
      val (matcher, indexed) = t.once {
        // the executor-landed files are this commit's to delete if it
        // never publishes (abort() drops the same txn dir)
        t.stage(entries)
        // CHECK constraints veto the write here, before any manifest
        // publishes — same contract as the API verbs. GENERATED ALWAYS
        // AS: this path cannot compute (data is already landed
        // executor-side) — require the columns supplied and validate
        // them through the same constraint scan
        TxLog.enforceConstraints(spark, base, entries,
          checked ++ TxLog.generatedChecksFor(spark, base, schemaCols))
        // partition-scoped overwrites resolve their matcher ONCE (the
        // spec is immutable); replaceWhere additionally validates the
        // NEW data up front — Delta's own rule: every written row must
        // satisfy the overwrite predicate, or the statement is rejected
        // whole
        val pspec = TxLog.latestMeta(spark, base).partitions
        val matcher: Option[TxLog.Entry => Boolean] = mode match {
          case TxLogOverwriteWhere(filters) =>
            val m = TxLogOverwriteSupport.partitionMatcher(spark, base,
              pspec, filters)
            entries.foreach(e => require(m(e),
              s"INSERT OVERWRITE: written file ${e.path} does not satisfy " +
                s"the partition filters ${filters.mkString(", ")} — rows " +
                "outside the overwritten partitions are rejected whole"))
            Some(m)
          case TxLogDynamicOverwrite =>
            require(pspec.nonEmpty,
              "dynamic partition overwrite needs a partitioned table " +
                "(unpartitioned tables: use plain overwrite)")
            val newTuples = entries
              .flatMap(e => TxLogOverwriteSupport.tupleOf(e, pspec)).toSet
            Some(e => TxLogOverwriteSupport.tupleOf(e, pspec)
              .exists(newTuples.contains))
          case _ => None
        }
        // incremental bloom coverage, same as TxLog.append: new files
        // join the table's existing bloom groups so point lookups stay
        // sharp
        (matcher, TxLog.indexNewEntries(t, entries))
      }
      // losing the CAS to a concurrent ADD CONSTRAINT re-validates the
      // landed data under the winner's constraint set
      checked = TxLog.reEnforceIfChanged(t, indexed, checked)
      // replaced files DROP from the manifest by reference — the
      // overwrite variants never read or rewrite a prior byte
      val all = mode match {
        case TxLogAppendMode => t.entries ++ indexed
        case TxLogTruncateMode => indexed
        case _ => t.entries.filterNot(matcher.get) ++ indexed
      }
      t.publish(all,
        operation = mode match {
          case TxLogAppendMode => "WRITE"
          case TxLogTruncateMode => "OVERWRITE"
          case _: TxLogOverwriteWhere => "REPLACE WHERE"
          case TxLogDynamicOverwrite => "OVERWRITE PARTITIONS"
        })
    }
  }

  /** Exactly-once epoch commit: the manifest's txn map carries the
    * sink's (appId → epochId) high-water; a replayed epoch publishes
    * nothing, and its re-landed files are deleted. */
  def publishEpochWithRetry(spark: org.apache.spark.sql.SparkSession,
                            base: String, entries: Seq[TxLog.Entry],
                            appId: String, epochId: Long,
                            maxAttempts: Int = 5,
                            schemaCols: Seq[String] = Seq.empty,
                            logicalCols: Seq[String] = Seq.empty): Long = {
    // the constraint set the epoch was validated under; None until the
    // epoch is KNOWN not to be a replay
    var checked: Option[Map[String, String]] = None
    TxLog.txn(spark, base, maxAttempts) { t =>
      if (t.txns.getOrElse(appId, -1L) >= epochId) {
        // replay after restart: this epoch already landed
        t.stage(entries)
        t.cur
      } else {
        // enforcement is deferred until we KNOW the epoch is not a
        // replay: a replayed epoch must stay a silent no-op even if the
        // table gained a constraint its (already-committed, possibly
        // since-deleted) rows would now violate — failing there would
        // crash the stream on every restart and break exactly-once
        // recovery. The same holds for identity and column-mapping
        // metadata added later, so the GENERATED ALWAYS and
        // mapped-column checks wait too (schemaCols are the as-landed
        // physical names; the mapping check speaks the stream's logical
        // names). Reused by every later attempt, like the data files.
        val firstTime = checked.isEmpty
        val indexed = t.once {
          t.stage(entries)
          TxLog.requireMappedColumns(spark, base, logicalCols)
          TxLog.requireNoIdentityColumns(spark, base, schemaCols)
          TxLog.requirePartitionPure(spark, base, entries)
          val cons = TxLog.latestMeta(spark, base).constraints
          TxLog.enforceConstraints(spark, base, entries,
            cons ++ TxLog.generatedChecksFor(spark, base, schemaCols))
          checked = Some(cons)
          TxLog.indexNewEntries(t, entries)
        }
        if (!firstTime)
          checked = Some(TxLog.reEnforceIfChanged(t, entries, checked.get))
        t.publish(t.entries ++ indexed, t.txns + (appId -> epochId),
          operation = "STREAMING UPDATE")
      }
    }
  }
}

/** Typed running min/max for one stats column — primitive comparisons
  * on the per-row hot path, string reprs produced ONCE at commit.
  * UTF8String values from an UnsafeRow point into the row's reused
  * buffer, so a new string extreme is CLONED when stored. */
class StatsTracker(idx: Int, name: String, dt: DataType)
    extends Serializable {
  private val dtype = TxLogWriteSupport.statsDtype(dt)
  private var seen = false
  private var minL = Long.MaxValue; private var maxL = Long.MinValue
  private var minD = Double.NaN; private var maxD = Double.NaN
  private var minU: UTF8String = _; private var maxU: UTF8String = _

  def update(row: InternalRow): Unit = {
    if (row.isNullAt(idx)) return
    dt match {
      case LongType | IntegerType | ShortType | ByteType | DateType |
           TimestampType =>
        val v = dt match {
          case LongType => row.getLong(idx)
          // timestamp stats are epoch SECONDS everywhere (TxLog
          // .statsDtype / valueRepr) — the internal value is MICROS;
          // writing micros here would silently break pruning
          case TimestampType => Math.floorDiv(row.getLong(idx), 1000000L)
          case IntegerType | DateType => row.getInt(idx).toLong
          case ShortType => row.getShort(idx).toLong
          case _ => row.getByte(idx).toLong
        }
        if (v < minL) minL = v
        if (v > maxL) maxL = v
      case DoubleType | FloatType =>
        val v = if (dt == DoubleType) row.getDouble(idx)
                else row.getFloat(idx).toDouble
        if (minD.isNaN || v < minD) minD = v
        if (maxD.isNaN || v > maxD) maxD = v
      case StringType =>
        val v = row.getUTF8String(idx)
        if (minU == null || v.compareTo(minU) < 0) minU = v.clone()
        if (maxU == null || v.compareTo(maxU) > 0) maxU = v.clone()
      case other => throw new IllegalArgumentException(s"$other")
    }
    seen = true
  }

  /** (column, dtype, minRepr, maxRepr) — None when every row was NULL. */
  def result: Option[(String, String, String, String)] =
    if (!seen) None
    else Some(dt match {
      case DateType => (name, dtype,
        java.time.LocalDate.ofEpochDay(minL).toString,
        java.time.LocalDate.ofEpochDay(maxL).toString)
      case LongType | IntegerType | ShortType | ByteType =>
        (name, dtype, minL.toString, maxL.toString)
      case DoubleType | FloatType =>
        (name, dtype, minD.toString, maxD.toString)
      case _ => (name, dtype, minU.toString, maxU.toString)
    })
}

class TxLogWriterFactory(base: String, txnRel: String, schema: StructType,
                         statsCols: Seq[String],
                         conf: org.apache.spark.util.SerializableConfiguration,
                         pIdx: Seq[Int] = Seq.empty)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TxLogDataWriter(base, txnRel, f"part-$partitionId%05d-$taskId",
      schema, statsCols, conf.value, pIdx)
}

class TxLogStreamingWriterFactory(base: String, txnRelPrefix: String,
                                  schema: StructType, statsCols: Seq[String],
                                  conf: org.apache.spark.util.SerializableConfiguration,
                                  pIdx: Seq[Int] = Seq.empty)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new TxLogDataWriter(base, s"$txnRelPrefix-e$epochId",
      f"part-$partitionId%05d-$taskId", schema, statsCols, conf.value, pIdx)
}

/** One task's parquet output, written through the public parquet-mr
  * Group writer, with rows + per-stats-column min/max tracked INLINE
  * (Catalyst-internal comparisons on the fly; reprs match the
  * landEntries cast path so both write routes prune identically).
  * Files are created lazily on the first row — an empty task commits
  * an empty message, never an empty file.
  *
  * On a PARTITIONED table (`pIdx` non-empty) the writer ROLLS to a
  * fresh file whenever the partition tuple changes — with the
  * required clustering+ordering each tuple arrives contiguously, so
  * one file per tuple per task (Spark's dynamic-partition write
  * shape). Purity is unconditional: unsorted input would yield MORE
  * files, never a mixed one. */
class TxLogDataWriter(base: String, txnRel: String, fileStem: String,
                      schema: StructType, statsCols: Seq[String],
                      conf: Configuration, pIdx: Seq[Int] = Seq.empty)
    extends DataWriter[InternalRow] {
  private val mt = TxLogWriteSupport.messageType(schema)
  private val factory = new SimpleGroupFactory(mt)
  private var rel: String = _
  private var writer: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _
  private var rows = 0L
  private var tracked: Seq[StatsTracker] = Seq.empty
  private var fileSeq = 0
  private var curKey: Seq[Any] = _
  private val done =
    scala.collection.mutable.ArrayBuffer.empty[TxLogFileResult]

  /** The row's partition tuple as stable values (UTF8String points
    * into the row's reused buffer — clone before keeping). */
  private def keyOf(row: InternalRow): Seq[Any] =
    pIdx.map { i =>
      if (row.isNullAt(i)) null
      else schema.fields(i).dataType match {
        case StringType => row.getUTF8String(i).clone()
        case dt => row.get(i, dt)
      }
    }

  private def finishFile(): Unit = if (writer != null) {
    writer.close()
    done += TxLogFileResult(rel, rows, tracked.flatMap(_.result))
    writer = null
  }

  private def openFile(): Unit = {
    rel = s"$txnRel/$fileStem" +
      (if (pIdx.isEmpty) "" else s"-s$fileSeq") + ".parquet"
    fileSeq += 1
    rows = 0L
    // resolve case-insensitively but record stats under the REQUESTED
    // name — the manifest's frozen physical casing, which exact-match
    // readers (Entry.statsFor) key on regardless of this batch's casing
    tracked = statsCols.map { c =>
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
      require(i >= 0, s"stats column '$c' is not in the write schema")
      new StatsTracker(i, c, schema.fields(i).dataType)
    }
    writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(new HPath(s"$base/$rel"), conf))
      .withType(mt)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }

  override def write(row: InternalRow): Unit = {
    if (pIdx.nonEmpty) {
      val k = keyOf(row)
      if (writer == null || curKey != k) {
        finishFile(); openFile(); curKey = k
      }
    } else if (writer == null) openFile()
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i))
        TxLogWriteSupport.addTo(g, i, schema.fields(i).dataType, row, i)
      i += 1
    }
    writer.write(g)
    rows += 1L
    tracked.foreach(_.update(row))
  }

  override def commit(): WriterCommitMessage = {
    finishFile()
    TxLogWriterMessage(done.toSeq)
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    val open = Option(rel).toSeq
    (done.map(_.path) ++ open).distinct.foreach { r =>
      val p = new HPath(s"$base/$r")
      p.getFileSystem(conf).delete(p, false)
    }
  }

  override def close(): Unit = ()
}
