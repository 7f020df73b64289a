package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Columnar (parquet) checkpoints and DISTRIBUTED log planning — the
  * piece that keeps [[TxLog]] viable at 100-TB small-file pressure.
  *
  * The text checkpoint materializes every manifest entry on the
  * driver: fine at 10^4 files, the first structural ceiling at 10^6+
  * (the reference's own Delta stack solves this identically with
  * `.checkpoint.parquet` files replayed as a DataFrame). Here:
  *
  *   base/_log/v<20d>.ckpt.txt       discovery + meta lines (exactly
  *                                   as before — vacuum re-pointing,
  *                                   `_last_checkpoint` advancement
  *                                   and existence probes stay
  *                                   format-blind) plus a
  *                                   `#parquet\t<dir>` marker and a
  *                                   reader-version-5 protocol gate
  *   base/_log/v<20d>.ckpt.parquet/  the entry list as a parquet
  *                                   dataset: (path, rows, dv_rows,
  *                                   line) — `line` is the exact
  *                                   serialized manifest line, so one
  *                                   parser serves both formats and
  *                                   the columnar checkpoint loses
  *                                   NOTHING the text one carries
  *                                   (stats, DVs, blooms, rid spans)
  *
  * The protocol gate matters: an older engine reading the marker file
  * would see only meta lines and resolve an EMPTY snapshot — silent
  * data loss. Stamping the checkpoint file itself `#protocol 5` turns
  * that into the loud "upgrade the engine" error at the one choke
  * point every checkpoint read passes through (TxLog.linesOf).
  *
  * Planning verbs ([[snapshotDF]], [[pruneEntriesForScan]],
  * [[vacuumLite]]) replay log-over-checkpoint AS A DATAFRAME: the
  * parquet base is scanned executor-side, the delta commits after it
  * (driver-small by construction — each is O(changed files)) compose
  * into one net (removed-paths, added-lines) pair, and only the
  * SURVIVORS of a prune ever reach the driver. A narrow range scan on
  * a 10^6-entry table collects its handful of matching files; a
  * VACUUM LITE never holds the dead list at all — the reclaim set
  * flows straight from the anti-join into the executor-side delete
  * fan-out. */
object TxLogPlan {

  /** Marker line in the checkpoint text file: entries live in the
    * sibling parquet dataset. */
  private[graft] val PqMarkerPrefix = "#parquet\t"

  /** Log reader version a columnar checkpoint demands (see gate
    * rationale above). */
  private[graft] val PqReaderVersion = 5

  private def pqDirName(v: Long) = f"v$v%020d.ckpt.parquet"
  private[graft] def pqDirPath(base: String, v: Long): Path =
    new Path(s"$base/${TxLog.LogDir}/${pqDirName(v)}")

  /** Session switch: `spark.graft.txlog.checkpointFormat=parquet`
    * makes every periodic and vacuum-re-base checkpoint columnar.
    * Default stays text — small tables keep their zero-job commits;
    * mixed histories read fine (resolution dispatches per file). */
  private[graft] def parquetCheckpoints(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.txlog.checkpointFormat")
      .exists(_.trim.equalsIgnoreCase("parquet"))

  private val ckptSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("rows",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("dv_rows",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("line",
      org.apache.spark.sql.types.StringType, nullable = false)))

  // ---- typed stats columns (Delta checkpoints' stats_parsed) --------
  //
  // The line column carries everything, but pruning through it costs a
  // per-row parse UDF that reads 100% of checkpoint bytes and blocks
  // codegen. Alongside it the checkpoint stores each stats key's
  // min/max as NATIVE-typed columns (`smin_<hex(col)>`/`smax_<hex..>`,
  // hex of the frozen physical name — unambiguous for any name),
  // sorted by the first key so parquet row-group min/max skip whole
  // stripes of a 10^6-entry checkpoint on a narrow band. NULL = no
  // stats on that column (always-keep, exactly touchesRange's rule).
  // Comparison parity with TxLog.cmp: "long"→LongType, "double"→
  // DoubleType, everything else (date/string reprs compare as
  // unsigned UTF-8 bytes) → StringType, whose Spark comparison IS
  // binary. Legacy 4-column checkpoints keep the line-UDF path.

  /** Bound on typed stats keys per checkpoint — past this (no real
    * table clusters on 16+ dimensions) extra keys stay line-only. */
  private val MaxTypedStatsKeys = 16

  private def statColHex(c: String): String =
    c.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
  private[graft] def sminName(c: String): String = "smin_" + statColHex(c)
  private[graft] def smaxName(c: String): String = "smax_" + statColHex(c)

  private def nativeStatsType(dtype: String): org.apache.spark.sql.types.DataType =
    dtype match {
      case "long"   => org.apache.spark.sql.types.LongType
      case "double" => org.apache.spark.sql.types.DoubleType
      case _        => org.apache.spark.sql.types.StringType
    }

  /** A stats repr under its key's native type — the exact parse
    * [[TxLog.cmp]] would apply, so typed and line-path pruning can
    * never disagree. */
  private def typedRepr(dt: org.apache.spark.sql.types.DataType,
                        repr: String): Any = dt match {
    case org.apache.spark.sql.types.LongType => repr.toLong
    case org.apache.spark.sql.types.DoubleType => repr.toDouble
    case _ => repr
  }

  /** The typed stats keys of an entry population: distinct
    * (physical column, dtype), dropping any column seen under TWO
    * dtypes (ambiguous — stays line-only), sorted for determinism,
    * capped at [[MaxTypedStatsKeys]]. */
  private def statsKeysOf(pairs: Iterator[(String, String)])
      : Seq[(String, String)] = {
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.Set[String]]
    pairs.foreach { case (c, dt) =>
      seen.getOrElseUpdate(c, scala.collection.mutable.Set.empty) += dt }
    seen.iterator.collect { case (c, dts) if dts.size == 1 => (c, dts.head) }
      .toSeq.sortBy(_._1).take(MaxTypedStatsKeys)
  }

  private def ckptSchemaFor(keys: Seq[(String, String)])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      ckptSchema.fields.toSeq ++ keys.flatMap { case (c, dt) =>
        val t = nativeStatsType(dt)
        Seq(org.apache.spark.sql.types.StructField(sminName(c), t),
          org.apache.spark.sql.types.StructField(smaxName(c), t))
      })

  /** Entry lines → the checkpoint dataset's typed rows. The planning
    * columns (path, rows, dv_rows, per-key min/max) are DERIVED from
    * `line` at write time so the line stays the single source of
    * truth. */
  private def linesToCkptDF(spark: SparkSession, lines: DataFrame,
                            keys: Seq[(String, String)] = Nil): DataFrame = {
    import spark.implicits._
    if (keys.isEmpty)
      lines.select("line").as[String].map { l =>
        val e = TxLog.parseLine(l)
        (e.path, e.rows, e.dv.map(_.rows).getOrElse(0L), l)
      }.toDF("path", "rows", "dv_rows", "line")
    else {
      val schema = ckptSchemaFor(keys)
      val ks = keys.map { case (c, dt) => (c, dt, nativeStatsType(dt)) }
      lines.select("line").as[String].map { l =>
        val e = TxLog.parseLine(l)
        val vals = new Array[Any](4 + 2 * ks.size)
        vals(0) = e.path; vals(1) = e.rows
        vals(2) = e.dv.map(_.rows).getOrElse(0L); vals(3) = l
        var i = 0
        ks.foreach { case (c, dt, t) =>
          e.statsFor(c) match {
            case Some(st) if st.dtype == dt =>
              vals(4 + 2 * i) = typedRepr(t, st.min)
              vals(5 + 2 * i) = typedRepr(t, st.max)
            case _ => () // no stats (or drifted dtype): NULL = keep
          }
          i += 1
        }
        org.apache.spark.sql.Row.fromSeq(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }(org.apache.spark.sql.Encoders.row(schema))
    }
  }

  /** Meta lines for the checkpoint TEXT file of a columnar
    * checkpoint: the protocol line's READER floor is raised to
    * [[PqReaderVersion]] (the writer floor carries unchanged), and
    * the `#parquet` marker is appended. */
  private def gateMeta(metaLines: Seq[String], v: Long): Seq[String] =
    TableMeta.withReaderFloor(metaLines, PqReaderVersion) :+
      s"$PqMarkerPrefix${pqDirName(v)}"

  /** Write a columnar checkpoint from a driver entry list (the
    * commit-path bridge: Txn.publish already holds the list). The
    * parquet job distributes the WRITE; [[writeCheckpointParquetDF]]
    * is the fully driver-bounded path for maintenance verbs. */
  private[graft] def writeCheckpointParquet(spark: SparkSession,
                                            base: String, v: Long,
                                            metaLines: Seq[String],
                                            entries: Seq[TxLog.Entry]): Unit = {
    import spark.implicits._
    val parts = math.max(1, math.min(256, entries.size / 200000 + 1))
    val keys = statsKeysOf(entries.iterator.flatMap(
      _.stats.iterator.map(cs => (cs.column, cs.dtype))))
    // partitioning happens ON the built rows (range-clustered by the
    // first key) inside the DF path — no pre-shuffle of the lines
    val lines = spark.createDataset(entries.map(TxLog.serLine))
      .toDF("line")
    writeCheckpointParquetDF(spark, base, v, metaLines, lines,
      keysKnown = Some(keys), partsHint = Some(parts))
  }

  /** Write a columnar checkpoint from a DataFrame of entry `line`s —
    * nothing materializes on the driver. Install order matters: the
    * parquet dataset lands first (tmp dir + rename), the marker file
    * second — a reader can never see the marker without its data. */
  private[graft] def writeCheckpointParquetDF(spark: SparkSession,
                                              base: String, v: Long,
                                              metaLines: Seq[String],
                                              lines: DataFrame,
                                              keysKnown: Option[Seq[(String, String)]] =
                                                None,
                                              partsHint: Option[Int] = None): Unit = {
    val f = TxLog.fs(base, spark)
    val dst = pqDirPath(base, v)
    if (!f.exists(dst)) {
      val tmp = new Path(s"$base/${TxLog.LogDir}/" +
        s".ckpt-pq-tmp-${java.util.UUID.randomUUID()}")
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      // the typed stats keys: known up front on the driver-entries
      // path, derived by one lightweight pass otherwise (checkpoint
      // writes are rare; the read-side prune savings repay it)
      val keys = keysKnown.getOrElse(statsKeysOf(
        lines.select("line").as[String].flatMap(l =>
            TxLog.parseLine(l).stats.map(cs => (cs.column, cs.dtype)))
          .distinct().collect().iterator))
      val df0 = linesToCkptDF(spark, lines, keys)
      // cluster the checkpoint itself on the first key: row groups get
      // tight min/max bands, so a narrow native prune skips stripes
      val df = (keys.headOption, partsHint) match {
        case (Some((c, _)), Some(p)) =>
          df0.repartitionByRange(p, col(sminName(c)))
            .sortWithinPartitions(sminName(c))
        case (Some((c, _)), None) => df0.sortWithinPartitions(sminName(c))
        case (None, Some(p)) => df0.repartition(p)
        case _ => df0
      }
      df.write.mode("overwrite").parquet(tmp.toString)
      // checkpoint content for a version is deterministic (derived
      // from the immutable commit chain): a racing writer installed
      // the same rows — losing the rename is success
      if (!f.rename(tmp, dst)) {
        f.delete(tmp, true)
        if (!f.exists(dst)) throw new java.io.IOException(
          s"could not install columnar checkpoint at $dst")
      }
    }
    TxLog.writeCkptTextLines(spark, base, v, gateMeta(metaLines, v))
  }

  /** The checkpoint dataset of version `v` as a DataFrame
    * (path, rows, dv_rows, line) — the planning-verb surface, typed
    * stats columns projected away so unions with delta adds line up. */
  private[graft] def readCheckpointDF(spark: SparkSession, base: String,
                                      v: Long): DataFrame =
    readCheckpointDFFull(spark, base, v)
      .select("path", "rows", "dv_rows", "line")

  /** The checkpoint dataset WITH whatever typed stats columns its
    * writer derived (self-describing parquet schema; legacy
    * checkpoints read as the bare 4 columns). */
  private[graft] def readCheckpointDFFull(spark: SparkSession, base: String,
                                          v: Long): DataFrame =
    spark.read.parquet(pqDirPath(base, v).toString)

  /** Driver-side collect of a columnar checkpoint's entry lines — the
    * compatibility bridge for TxLog.snapshotEntries (bounded verbs);
    * planning verbs never call this. */
  private[graft] def collectCheckpointLines(spark: SparkSession,
                                            base: String,
                                            v: Long): Seq[String] = {
    import spark.implicits._
    readCheckpointDF(spark, base, v).select("line").as[String]
      .collect().toSeq
  }

  // ---- log-over-checkpoint replay as a DataFrame -------------------

  /** How a snapshot's BASE resolves (nearest resolvable at-or-below
    * the target), plus the delta commits to replay on top of it,
    * oldest-first. */
  private sealed trait Base
  private case class PqBase(v: Long) extends Base
  private case class LocalLines(entryLines: Seq[String]) extends Base

  private def resolveBase(spark: SparkSession, base: String,
                          v: Long): (Base, Seq[(Long, Seq[String])]) = {
    val f = TxLog.fs(base, spark)
    // prepend during the downward walk keeps this list OLDEST-first —
    // exactly the order composeDeltas must fold in
    val deltas = scala.collection.mutable.ListBuffer.empty[(Long, Seq[String])]
    var cur = v
    while (true) {
      if (cur == 0L) return (LocalLines(Seq.empty), deltas.toList)
      val ck = TxLog.ckptPath(base, cur)
      if (f.exists(ck)) {
        val ckLines = TxLog.linesOf(spark, base, ck)
        return (
          if (ckLines.exists(_.startsWith(PqMarkerPrefix))) PqBase(cur)
          else LocalLines(ckLines.filterNot(_.startsWith("#"))),
          deltas.toList)
      }
      val lines = TxLog.manifestLines(spark, base, cur)
      if (lines.contains(TxLog.DeltaMarker)) {
        deltas.prepend((cur, lines)); cur -= 1
      } else return (LocalLines(lines.filterNot(_.startsWith("#"))),
        deltas.toList)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fold an ordered run of delta commits into one net effect:
    * `affected` paths must drop from the base; `adds` re-enter with
    * their final line. Entry SETS are the semantic content (the
    * in-order applyDelta and this net composition produce the same
    * set — a path's last operation wins). */
  private def composeDeltas(deltas: Seq[(Long, Seq[String])])
      : (Set[String], Seq[String]) = {
    val net = new java.util.LinkedHashMap[String, Option[String]]()
    deltas.foreach { case (_, lines) =>
      lines.filterNot(_.startsWith("#")).foreach { l =>
        if (l.startsWith("-\t")) net.put(l.drop(2), None)
        else if (l.startsWith("+\t")) {
          val entry = l.drop(2)
          net.put(entry.takeWhile(_ != '\t'), Some(entry))
        }
      }
    }
    import scala.jdk.CollectionConverters._
    val affected = net.keySet().asScala.toSet
    val adds = net.values().asScala.toSeq.flatten
    (affected, adds)
  }

  /** The resolved entry list of version `v` as a DataFrame
    * (path, rows, dv_rows, line) — never materialized on the driver.
    * Cost: one parquet scan of the nearest columnar checkpoint (or a
    * local relation for text bases) plus O(changed-since-checkpoint)
    * driver work for the delta lines; INDEPENDENT of how many
    * versions the log holds. */
  def snapshotDF(spark: SparkSession, base: String, v: Long): DataFrame = {
    val (b, deltas) = resolveBase(spark, base, v)
    val baseDF = b match {
      case PqBase(cv) => readCheckpointDF(spark, base, cv)
      case LocalLines(lines) =>
        import spark.implicits._
        linesToCkptDF(spark, spark.createDataset(lines).toDF("line"))
    }
    val (affected, adds) = composeDeltas(deltas)
    if (affected.isEmpty) return baseDF
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col}
    // small affected sets stay a literal NOT-IN (no extra stage);
    // large ones become a broadcast anti-join
    val pruned =
      if (affected.size <= 1000)
        baseDF.where(!col("path").isin(affected.toSeq: _*))
      else baseDF.join(
        broadcast(affected.toSeq.toDF("path")), Seq("path"), "left_anti")
    val addsDF = linesToCkptDF(spark, spark.createDataset(adds).toDF("line"))
    pruned.unionByName(addsDF)
  }

  /** True when resolving `v` would land on a columnar-checkpoint
    * base — the signal that distributed planning pays for itself. */
  private[graft] def hasParquetBase(spark: SparkSession, base: String,
                                    v: Long): Boolean =
    resolveBase(spark, base, v)._1.isInstanceOf[PqBase]

  /** The entries of version `v` at exactly `paths` — the streaming
    * planner's point lookup. Resolution is DISTRIBUTED (one semi-join
    * against the columnar snapshot); the driver holds only the
    * matches, so a micro-batch diff on a 10^6-file table costs
    * O(changed files) driver memory, never two snapshot resolutions.
    * Some(cached sweep) when the snapshot is already driver-warm (a
    * local filter beats a cluster job); None when the table has no
    * columnar base — the caller keeps its legacy full-resolution
    * path (text-checkpoint tables are the small-table world). */
  private[graft] def entriesAtPaths(spark: SparkSession, base: String,
                                    v: Long, paths: Set[String])
      : Option[Map[String, TxLog.Entry]] = {
    if (v == 0L || paths.isEmpty) return Some(Map.empty)
    TxLog.cachedSnapshot(spark, base, v) match {
      case Some(es) =>
        Some(es.iterator.filter(e => paths.contains(e.path))
          .map(e => e.path -> e).toMap)
      case None =>
        if (!hasParquetBase(spark, base, v)) None
        else {
          import spark.implicits._
          import org.apache.spark.sql.functions.{broadcast, col}
          val df = snapshotDF(spark, base, v)
          // small sets stay a literal IN (pushes to parquet row-group
          // stats); large ones become a broadcast semi-join
          val hit =
            if (paths.size <= 1000)
              df.where(col("path").isin(paths.toSeq: _*))
            else df.join(broadcast(paths.toSeq.toDF("path")),
              Seq("path"), "left_semi")
          Some(hit.select("line").as[String].collect().iterator
            .map(TxLog.parseLine).map(e => e.path -> e).toMap)
        }
    }
  }

  /** Distributed file skipping: the entries of version `v` whose
    * stats overlap EVERY (physical column, lo-repr, hi-repr)
    * predicate, pruned executor-side; only the SURVIVORS are
    * collected (the judge of a narrow scan on a 10^6-file table is
    * the size of this working set). None when the table has no
    * columnar base (or the snapshot is already resolved in the
    * driver cache — a local sweep is cheaper than a job then). */
  def pruneEntriesForScan(spark: SparkSession, base: String, v: Long,
                          preds: Seq[(String, String, String)])
      : Option[Seq[TxLog.Entry]] = {
    val ps = preds // stable local for the closure
    pruneEntriesHybrid(spark, base, v,
      ps.map { case (c, lo, hi) => (c, Some(lo), Some(hi)) },
      e => ps.forall { case (c, lo, hi) => TxLog.touchesRange(e, c, lo, hi) })
  }

  /** Hybrid executor-side prune: the checkpoint's NATIVE typed stats
    * columns filter on every `rangePreds` key they cover — Catalyst
    * comparisons with parquet pushdown, so row-group min/max skip
    * checkpoint I/O that the line-parse UDF must read — and `pred`
    * (the full residual test, e.g. the DSv2 scan's entrySurvives over
    * ALL pushed filters) re-checks the collected survivors on the
    * driver, a bounded sweep by construction. Falls back to the
    * line-UDF [[pruneEntriesWith]] when the checkpoint predates typed
    * stats (or covers none of the keys); None when the table has no
    * columnar base or the snapshot is driver-warm. */
  private[graft] def pruneEntriesHybrid(spark: SparkSession, base: String,
      v: Long, rangePreds: Seq[(String, Option[String], Option[String])],
      pred: TxLog.Entry => Boolean): Option[Seq[TxLog.Entry]] = {
    if (TxLog.cachedSnapshot(spark, base, v).isDefined) return None
    val (b, deltas) = resolveBase(spark, base, v)
    val cv = b match {
      case PqBase(x) => x
      case _ => return None
    }
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val df = readCheckpointDFFull(spark, base, cv)
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // one overlap condition per COVERED key: NULL stats keep the
    // entry (touchesRange's rule); an unparseable repr (cmp would
    // throw on it too) drops the key back to the residual
    val conds = rangePreds.flatMap { case (c, lo, hi) =>
      byName.get(sminName(c)).flatMap { t =>
        scala.util.Try {
          val lc = lo.map(r => col(smaxName(c)) >= lit(typedRepr(t, r)))
          val hc = hi.map(r => col(sminName(c)) <= lit(typedRepr(t, r)))
          (lc.toSeq ++ hc.toSeq).reduceOption(_ && _)
            .map(col(sminName(c)).isNull || _)
        }.toOption.flatten
      }
    }
    if (conds.isEmpty) // legacy checkpoint / uncovered keys
      return pruneEntriesWith(spark, base, v, pred)
    val (affected, adds) = composeDeltas(deltas)
    var basePruned = df.where(conds.reduce(_ && _))
    if (affected.nonEmpty)
      basePruned =
        if (affected.size <= 1000)
          basePruned.where(!col("path").isin(affected.toSeq: _*))
        else basePruned.join(
          broadcast(affected.toSeq.toDF("path")), Seq("path"), "left_anti")
    val p = pred
    val baseSurv = basePruned.select("line").as[String].collect()
      .iterator.map(TxLog.parseLine).filter(p).toSeq
    val addSurv = adds.map(TxLog.parseLine).filter(p)
    Some(baseSurv ++ addSurv)
  }

  /** Generic executor-side entry prune: keep entries satisfying
    * `pred` (a serializable closure over the parsed Entry) and
    * collect ONLY them. None when the table has no columnar base, or
    * the snapshot is already resolved in the driver cache — a local
    * sweep beats a cluster job then. The DSv2 scan routes its pushed
    * filters through this, so a filtered SQL query on a 10^6-file
    * table holds just the surviving working set driver-side. */
  def pruneEntriesWith(spark: SparkSession, base: String, v: Long,
                       pred: TxLog.Entry => Boolean)
      : Option[Seq[TxLog.Entry]] = {
    if (TxLog.cachedSnapshot(spark, base, v).isDefined) return None
    if (!hasParquetBase(spark, base, v)) return None
    import org.apache.spark.sql.functions.udf
    val p = pred
    val keep = udf((line: String) => p(TxLog.parseLine(line)))
    import spark.implicits._
    Some(snapshotDF(spark, base, v).where(keep($"line"))
      .select("line").as[String].collect().toSeq.map(TxLog.parseLine))
  }

  /** Distributed OPTIMIZE binning input: the entries whose LIVE rows
    * fall under the small-file threshold (optionally scoped to a
    * stats range), selected executor-side and collected ALONE — the
    * bin-packer's working set, never the table. None when no
    * columnar base (or a warm driver cache) makes the job worth
    * launching. */
  private[graft] def smallEntriesForCompact(spark: SparkSession,
      base: String, v: Long, thresholdRows: Long,
      range: Option[(String, String, String)]): Option[Seq[TxLog.Entry]] = {
    if (TxLog.cachedSnapshot(spark, base, v).isDefined) return None
    if (!hasParquetBase(spark, base, v)) return None
    import org.apache.spark.sql.functions.udf
    val th = thresholdRows
    val rg = range
    val keep = udf((line: String) => {
      val e = TxLog.parseLine(line)
      (e.rows < 0 || e.liveRows < th) &&
        rg.forall { case (c, lo, hi) => TxLog.touchesRange(e, c, lo, hi) }
    })
    import spark.implicits._
    Some(snapshotDF(spark, base, v).where(keep($"line"))
      .select("line").as[String].collect().toSeq.map(TxLog.parseLine))
  }

  /** Metadata COUNT(*) as ONE DataFrame aggregate over the columnar
    * checkpoint: Σ(rows − dv_rows), no entry list, no data file.
    * None when any entry's count is unknown (v1 manifests) — the
    * caller falls back to the scan. */
  private[graft] def liveRowCount(spark: SparkSession, base: String,
                                  v: Long): Option[Long] = {
    import org.apache.spark.sql.functions.{col, min, sum}
    val r = snapshotDF(spark, base, v)
      .agg(min(col("rows")).as("mn"),
        sum(col("rows") - col("dv_rows")).as("live")).head()
    if (r.isNullAt(0)) Some(0L) // empty snapshot
    else if (r.getLong(0) < 0) None
    else Some(r.getLong(1))
  }

  /** Distributed RESTORE planning: the declared change set that turns
    * version `vCur` into version `vTarget` — (entries to upsert,
    * paths to remove) — computed as a full-outer join of the two
    * snapshot DataFrames; only the DIFFERENCE is collected (bounded
    * by the churn since vTarget, never the table). None when neither
    * side has a columnar base (or both are cache-warm) — the driver
    * diff is cheaper then. */
  private[graft] def restoreDelta(spark: SparkSession, base: String,
                                  vTarget: Long, vCur: Long)
      : Option[(Seq[TxLog.Entry], Seq[String])] = {
    if (TxLog.cachedSnapshot(spark, base, vTarget).isDefined &&
        TxLog.cachedSnapshot(spark, base, vCur).isDefined) return None
    if (!hasParquetBase(spark, base, vTarget) &&
        !hasParquetBase(spark, base, vCur)) return None
    import org.apache.spark.sql.functions.col
    val a = snapshotDF(spark, base, vTarget)
      .select(col("path"), col("line").as("vline"))
    val b = snapshotDF(spark, base, vCur)
      .select(col("path"), col("line").as("cline"))
    val diff = a.join(b, Seq("path"), "full_outer")
      .where(col("vline").isNull || col("cline").isNull ||
        col("vline") =!= col("cline"))
      .select("path", "vline").collect()
    val removes = diff.filter(_.isNullAt(1)).map(_.getString(0)).toSeq
    val upserts = diff.filterNot(_.isNullAt(1))
      .map(r => TxLog.parseLine(r.getString(1))).toSeq
    Some((upserts, removes))
  }

  // ---- distributed VACUUM LITE -------------------------------------

  /** Log-driven vacuum with the reclaim set computed AS A DATAFRAME:
    * references of the dropped versions = dropped-base snapshot plus
    * the delta adds between it and the newest dropped version (the
    * union identity: every file any dropped version references either
    * was in the oldest dropped snapshot or entered via a delta add);
    * liveness of the kept range likewise. The dead set — refs minus
    * live minus a last-instant re-reference check against the latest
    * manifest (a racing RESTORE may have re-referenced a dropped
    * version's files) — flows straight from the anti-join into the
    * executor-side delete fan-out; the driver holds only counters.
    * Semantics identical to TxLog.vacuumLite, including the
    * oldest-kept re-base checkpoint (written columnar, from the
    * DataFrame) and the documented orphan restriction. */
  private[graft] def vacuumLite(spark: SparkSession, base: String,
                                keepLast: Int): (Seq[Long], Long) = {
    require(keepLast >= 1,
      s"vacuum must retain at least one version, got keepLast=$keepLast")
    val f = TxLog.fs(base, spark)
    val logDir = new Path(s"$base/${TxLog.LogDir}")
    if (!f.exists(logDir)) return (Seq.empty, 0L)
    val versions = f.listStatus(logDir).toSeq
      .flatMap(st => TxLog.parseVersion(st.getPath.getName)).sorted
    val (drop, keep) = versions.splitAt(
      math.max(0, versions.length - keepLast))
    if (drop.isEmpty) return (keep, 0L)
    import org.apache.spark.sql.functions.{col, explode, udf}
    import spark.implicits._
    // refs(drop) = snapshot(minDrop) ∪ delta-adds in (minDrop, maxDrop]
    // — full manifests inside the range contribute their whole entry
    // list (legacy tables only; Txn.publish always writes deltas)
    def refsOver(lo: Long, hi: Long): DataFrame = {
      var df = snapshotDF(spark, base, lo)
      val extra = scala.collection.mutable.ListBuffer.empty[String]
      ((lo + 1) to hi).foreach { v =>
        val lines = TxLog.manifestLines(spark, base, v)
        if (lines.contains(TxLog.DeltaMarker))
          extra ++= lines.collect { case l if l.startsWith("+\t") => l.drop(2) }
        else extra ++= lines.filterNot(_.startsWith("#"))
      }
      if (extra.nonEmpty)
        df = df.unionByName(
          linesToCkptDF(spark, spark.createDataset(extra.toSeq).toDF("line")))
      df
    }
    // (path | dv dir | bloom dir) triples per entry, exploded — the
    // reclaim universe includes sidecars, exactly like the text path
    def refUnits(df: DataFrame): DataFrame = {
      val units = udf((line: String) => {
        val e = TxLog.parseLine(line)
        (Seq(("f", e.path)) ++ e.dv.map(d => ("d", d.dir)) ++
          e.blooms.map(b => ("d", b.dir))).toArray
      })
      df.select(explode(units(col("line"))).as("u"))
        .select(col("u._1").as("kind"), col("u._2").as("ref"))
        .distinct()
    }
    val deadUnits0 = refUnits(refsOver(drop.head, drop.last))
      .join(refUnits(refsOver(keep.head, keep.last)), Seq("ref"),
        "left_anti")
    // the oldest kept version must stay resolvable after its delta
    // ancestry is gone — re-base it on a columnar checkpoint, built
    // from the DataFrame (nothing materializes on the driver)
    if (!f.exists(TxLog.ckptPath(base, keep.head))) {
      val meta = TxLog.manifestLines(spark, base, keep.head)
        .filter(l => l.startsWith("#") && l != TxLog.DeltaMarker)
      writeCheckpointParquetDF(spark, base, keep.head, meta,
        snapshotDF(spark, base, keep.head).select("line"))
    }
    // last-instant re-reference guard (mirrors the driver-side LITE):
    // a RESTORE that committed since our listing re-references old
    // files — subtract the CURRENT latest snapshot's refs
    val deadUnits = TxLog.snapshot(spark, base).version match {
      case Some(lv) if lv > keep.last =>
        deadUnits0.join(refUnits(snapshotDF(spark, base, lv)), Seq("ref"),
          "left_anti")
      case _ => deadUnits0
    }
    // relative references only (absolute = another table's files,
    // clone semantics); resolve and fan the deletes out to executors.
    // The fan-out runs BEFORE the dropped manifests/checkpoints go:
    // the dead-set plan reads them lazily (a dropped version's own
    // columnar checkpoint may be the scan's base), so execution must
    // precede their deletion.
    val work = deadUnits
      .where(!col("ref").startsWith("/") && !col("ref").contains("://"))
      .select(col("kind"), col("ref"))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val baseStr = base
    val reclaimed = spark.sparkContext.longAccumulator("graft.vacuumLite")
    work.as[(String, String)].rdd.foreachPartition { it =>
      it.foreach { case (kind, ref) =>
        val p = new Path(TxLog.resolve(baseStr, ref))
        // count PLANNED dead files, not successful deletes — the text
        // vacuumLite reports its planned dead-file count, and the two
        // dispatch targets of one public verb must agree (a file some
        // other process already removed still counts as reclaimed)
        if (kind == "f") reclaimed.add(1L)
        p.getFileSystem(conf.value).delete(p, kind == "d")
      }
    }
    drop.foreach { v =>
      f.delete(TxLog.manifestPath(base, v), false)
      f.delete(TxLog.ckptPath(base, v), false)
      f.delete(pqDirPath(base, v), true)
    }
    TxLog.purgeCaches(base)
    f.listStatus(logDir).toSeq
      .flatMap(st => TxLog.parseCkptVersion(st.getPath.getName)).maxOption
      .foreach(TxLog.advancePointer(spark, base, _))
    (keep, reclaimed.value)
  }

  /** Maintenance verb: materialize a columnar checkpoint for the
    * LATEST version without ever holding the entry list on the driver
    * — the migration path for an existing large table (after this,
    * every snapshot resolution and planning verb goes distributed).
    * Returns the checkpointed version. */
  def checkpointParquet(spark: SparkSession, base: String): Long = {
    val v = TxLog.snapshot(spark, base).cur
    val meta = TxLog.manifestLines(spark, base, v)
      .filter(l => l.startsWith("#") && l != TxLog.DeltaMarker)
    writeCheckpointParquetDF(spark, base, v, meta,
      snapshotDF(spark, base, v).select("line"))
    TxLog.advancePointer(spark, base, v)
    TxLog.purgeCaches(base)
    v
  }
}
