package graft.operators

import org.apache.hadoop.fs.{Options, Path}
import org.apache.spark.sql.SparkSession

import TxLog.{CommitConflictException, Entry}

/** One attempt of an optimistic transaction on the table at `base` —
  * Delta's `OptimisticTransaction`, and the only way anything writes
  * the log: every TxLog verb, the DSv2 sink commits and the catalog's
  * create/replace run their body through [[TxLog.txn]]. An attempt
  * reads one snapshot (`read`, resolved on first use — the verb's
  * `onAttempt` test seam fires right after), stages the dirs it lands
  * (`stage`, `stageDir`, `once`, `rebase`) and publishes at most once,
  * as `read + 1` (`publish`).
  *
  * Four rules hold for every writer because they live only here:
  *
  *  1. Retry. A lost CAS ([[CommitConflictException]]) and a raw
  *     [[java.io.FileNotFoundException]] retry in one loop. The only
  *     way a writer's snapshot read misses a manifest is a concurrent
  *     vacuum deleting the ancestry it was replaying, so the attempt's
  *     world is stale and its CAS would lose anyway; a fresh attempt
  *     resolves off the vacuum's checkpoint. Out of attempts, the
  *     caller sees the conflict, never the raw FileNotFound.
  *  2. Cleanup. Before the next attempt, a lost attempt's staged dirs
  *     are deleted, except those the verb kept for reuse (`once`, and
  *     a `rebase` land). On exit, every staged dir the published
  *     entries do not reference is deleted — all of them when nothing
  *     published — whatever ended the body: a gate refusal, a
  *     constraint veto, a failed `Par.all` sibling, an interrupt, an
  *     already-applied batch. So a failed write leaves no orphan, and
  *     vacuum's grace window only has to cover crashed drivers.
  *  3. Never delete a published file. The CAS win is recorded before
  *     the best-effort tail (snapshot cache, checkpoint) runs, so a
  *     fatal error out of that tail (an interrupted checkpoint job)
  *     still leaves every file the new manifest references on disk,
  *     and the attempt is not retried: the version is durable.
  *  4. One re-base rule. A land a lost attempt kept is published
  *     against the winner's snapshot, with zero recompute, only when
  *     the table metadata's re-base key is unchanged, every entry the
  *     land read is still present with an identical line, and no
  *     entry added or replaced since the kept snapshot matches the
  *     verb's `overlaps` predicate. Anything else could have changed
  *     what the land computed, so it is deleted and the verb runs
  *     fresh — concurrent writers still serialize (sequential
  *     equivalence) while disjoint ones commit past each other. */
final class Txn private (val spark: SparkSession, val base: String,
                         attempt: Int, onAttempt: Int => Unit,
                         pinned: Option[Option[Long]], run: Txn.Run) {
  import TxLog._

  /** The version this attempt builds on; None for an empty store. */
  lazy val read: Option[Long] = {
    val r = pinned.getOrElse(latestVersion(spark, base))
    onAttempt(attempt)
    r
  }

  /** [[read]] of a table that must exist. */
  def cur: Long = read.getOrElse(throw noVersion(base))

  lazy val entries: Seq[Entry] =
    read.map(snapshotEntries(spark, base, _)).getOrElse(Seq.empty)
  lazy val txns: Map[String, Long] =
    read.map(txnsOf(spark, base, _)).getOrElse(Map.empty)
  lazy val meta: TableMeta =
    read.map(metaOf(spark, base, _)).getOrElse(TableMeta.empty)

  /** Stage the txn dirs of just-landed `es` (base-relative paths; a
    * file directly under the table root has no dir of its own). */
  def stage(es: Seq[Entry]): Seq[Entry] = {
    run.stage(es.map(_.path).filter(_.contains('/'))
      .map(p => p.substring(0, p.lastIndexOf('/'))))
    es
  }

  /** Stage one base-relative dir (a sidecar, before it is written). */
  def stageDir(dir: String): String = { run.stage(Seq(dir)); dir }

  /** `land`, run by the first attempt that gets here and reused by
    * every later one; the dirs it stages survive lost attempts. One
    * `once` per transaction (it has one slot). */
  def once[L](land: => L): L = run.onceValue match {
    case Some(v) => v.asInstanceOf[L]
    case None =>
      val v = run.keeping(land)._1
      run.onceValue = Some(v)
      v
  }

  /** Rule 4: the land a lost attempt kept, when it still applies to
    * this snapshot, else `land` run fresh (the stale land deleted
    * first) and kept for the next attempt. `land` returns its result
    * and the entries it read, or None when there is nothing to do.
    * `overlaps` = None (maintenance: the winner's adds simply wait for
    * the next sweep) checks the inputs by point lookup, so a
    * columnar-checkpoint table never materializes its entry list. */
  def rebase[L](overlaps: Option[Entry => Boolean])(
      land: => Option[(L, Seq[Entry])]): Option[Txn.Land[L]] = {
    val key = meta.rebaseKey
    run.kept.filter(k => k.key == key && stillApplies(k, overlaps)) match {
      case Some(k) => Some(Txn.Land(k.value.asInstanceOf[L], k.inputs,
        rebased = true))
      case None =>
        run.dropKept(spark, base)
        val (fresh, dirs) = run.keeping(land)
        fresh.foreach { case (v, inputs) =>
          run.kept = Some(Txn.Kept(v, inputs,
            inputs.map(e => e.path -> serLine(e)).toMap, key,
            if (overlaps.isEmpty) Map.empty
            else entries.map(e => e.path -> serLine(e)).toMap, dirs))
        }
        fresh.map { case (v, inputs) => Txn.Land(v, inputs, rebased = false) }
    }
  }

  private def stillApplies(k: Txn.Kept,
                           overlaps: Option[Entry => Boolean]): Boolean = {
    val curBy: Map[String, String] = overlaps match {
      case None =>
        TxLogPlan.entriesAtPaths(spark, base, cur, k.lines.keySet)
          .map(_.map { case (p, e) => p -> serLine(e) })
          .getOrElse(entries.filter(e => k.lines.contains(e.path))
            .map(e => e.path -> serLine(e)).toMap)
      case Some(_) => entries.map(e => e.path -> serLine(e)).toMap
    }
    k.lines.forall { case (p, l) => curBy.get(p).contains(l) } &&
      overlaps.forall(o => entries.forall(e =>
        k.snapshot.get(e.path).contains(curBy(e.path)) || !o(e)))
  }

  /** Publish `entries` as version `read + 1` (see [[publishEntries]]
    * for the arguments). Returns that version. */
  def publish(entries: Seq[Entry], txns: Map[String, Long] = this.txns,
              dataChange: Boolean = true, operation: String = "WRITE",
              cdfOp: Option[String] = None,
              deltaChange: Option[Seq[String]] = None,
              meta: TableMeta => TableMeta = identity): Long = {
    require(run.published.isEmpty, "a transaction publishes at most once")
    val v = read.getOrElse(0L) + 1L
    publishEntries(v, entries, txns, dataChange, operation, cdfOp,
      deltaChange, meta)
    v
  }

  /** Publish a manifest. The table metadata ([[TableMeta]]) is
    * carried forward from the latest published version — every
    * DML/maintenance verb republishes without knowing about it; a DDL
    * verb passes `meta`, its edit of that carried value (applied here,
    * inside the CAS, to the latest version's metadata).
    * `dataChange=false` (compaction, DV purge — pure physical
    * rewrites) stamps a `#nodatachange` line so the change feeds skip
    * the version instead of emitting phantom delete+insert pairs for
    * rows that never logically changed (Delta's dataChange flag). */
  private def publishEntries(v: Long, entries: Seq[Entry],
                             txns: Map[String, Long], dataChange: Boolean,
                             operation: String, cdfOp: Option[String],
                             deltaChange: Option[Seq[String]],
                             meta: TableMeta => TableMeta): Unit = {
    // ONE read of the latest manifest serves the carried metadata and
    // the parent's in-commit timestamp
    val latestLines: Seq[String] = latestVersion(spark, base)
      .map(manifestLines(spark, base, _)).getOrElse(Seq.empty)
    val latest = TableMeta.parse(latestLines)
    // writer gate: a table stamped by a newer engine with a higher
    // required writer version must not be committed to by this one —
    // the meta lines below are RECONSTRUCTED from the kinds this
    // writer knows, so an ignorant commit would silently drop the
    // newer table features (Delta's minWriterVersion exists for
    // exactly this). Checked on the carried floor, before the edit.
    if (latest.protocol._2 > WriterVersion) throw new IllegalStateException(
      s"$base requires log writer version ${latest.protocol._2}; this " +
        s"engine implements $WriterVersion — upgrade the engine before writing")
    val edited = meta(latest)
    // row tracking: the ONE assignment choke point — every commit to
    // a tracked table gives each new known-count file a contiguous id
    // span above the high-water and republishes the advanced water.
    // Runs inside the CAS (a lost race re-reads the winner's water),
    // so spans never collide across writers.
    val (entriesR, next) = edited.rowIdHighWater match {
      case None => (entries, edited)
      case Some(hw0) =>
        var hw = hw0
        val es = entries.map { e =>
          if (e.baseRowId.isDefined || e.rows < 0) e
          else { val b = hw; hw += e.rows; e.copy(baseRowId = Some(b)) }
        }
        (es, edited.copy(rowIdHighWater = Some(hw)))
    }
    // in-commit timestamp (Delta 4.0 ICT): every commit writes its own
    // wall-clock millis, clamped STRICTLY above the parent's stamp —
    // monotonic even across clock skew, and `TIMESTAMP AS OF` stays
    // correct after a table copy/migration rewrites every mtime.
    // Per-commit like #op, never carried; recomputed on CAS retry.
    val ict = math.max(
      parseIctLines(latestLines).getOrElse(0L) + 1L,
      System.currentTimeMillis())
    val metaLines =
      (if (dataChange) Seq.empty else Seq("#nodatachange")) ++
      // per-commit provenance (Delta history's `operation`): NOT
      // carried forward — each version records what produced IT
      Seq(s"#op\t${enc(operation)}", s"#ict\t$ict") ++
      // per-commit CDF hint (also not carried): a merge-on-read
      // UPDATE stamps `#cdfop update`, the EXPLICIT signal the change
      // feeds read to emit update_preimage/update_postimage. The
      // writer stamps its own semantics instead of readers inferring
      // them from manifest shape — structural inference mislabels the
      // fully-masked-drop case (no surviving mask transition) and
      // would make stream labels depend on the consumer's pushdown.
      cdfOp.toSeq.map(h => s"#cdfop\t${enc(h)}") ++
      next.lines ++
      txns.toSeq.sortBy(_._1).map { case (a, b) => s"#txn\t${enc(a)}\t$b" }
    // O(change) delta commit: only the entries that differ from the
    // v-1 snapshot are written — an append to a 10^5-file table
    // writes its handful of new lines, not megabytes of carried paths,
    // and a streaming sink's per-epoch commit cost stops growing with
    // table size. Meta lines stay full (they are O(constraints+apps)).
    // DECLARED-delta commits (deltaChange=Some(removedPaths):
    // `entries` holds ONLY the added/replaced entries, landed under
    // fresh txn dirs so paths can never collide) skip the v-1
    // resolution entirely — a blind append (removed=Nil) or an
    // OPTIMIZE that knows exactly which files it superseded never
    // materializes the table's entry list on the driver; the diff
    // below is what the prev snapshot was FOR.
    val (removes, upserts) =
      if (deltaChange.isDefined) (deltaChange.get, entriesR)
      else {
        val prev = if (v <= 1L) Seq.empty[Entry]
                   else snapshotEntries(spark, base, v - 1)
        val prevSer = prev.map(e => e.path -> serLine(e)).toMap
        val newPaths = entriesR.map(_.path).toSet
        (prev.map(_.path).filterNot(newPaths.contains),
          entriesR.filter(e => !prevSer.get(e.path).contains(serLine(e))))
      }
    val lines = DeltaMarker +: (metaLines ++
      removes.map(p => s"-\t$p") ++
      upserts.map(e => s"+\t${serLine(e)}"))
    val f = fs(base, spark)
    f.mkdirs(new Path(s"$base/$LogDir"))
    val tmp = new Path(
      s"$base/$LogDir/.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = manifestPath(base, v)
    // decide by the RESOLVED filesystem, not the raw path's scheme: a
    // scheme-less path on a cluster resolves to fs.defaultFS (HDFS),
    // where the rename branch is the correct — and atomic — one
    val scheme = f.getUri.getScheme
    if (scheme == "file") {
      // Local FS: FileContext's rename-if-absent is check-then-act —
      // the POSIX rename(2) underneath OVERWRITES an existing
      // destination, so two racing writers can both believe they won
      // (a lost update, plus a torn checksum sidecar for concurrent
      // readers; caught by TxLogScaleSpec's 8-writer race). link(2)
      // via Files.createLink is the kernel-atomic fail-if-exists
      // primitive, the same trick Delta's local LogStore documents.
      val rawTmp = java.nio.file.Paths.get(tmp.toUri.getPath)
      val rawDst = java.nio.file.Paths.get(dst.toUri.getPath)
      try java.nio.file.Files.createLink(rawDst, rawTmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false)
          throw new CommitConflictException(v)
      }
      f.delete(tmp, false) // also removes tmp's .crc; dst carries none
    } else {
      // HDFS-like stores: rename-if-absent IS atomic server-side (the
      // primitive Spark's streaming checkpoint manager relies on).
      // Raw S3 has neither and needs a coordinating catalog — the
      // identical caveat Delta documents.
      try fc(base, spark).rename(tmp, dst, Options.Rename.NONE)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false)
          throw new CommitConflictException(v)
        case _: java.io.IOException if f.exists(dst) =>
          // some FileContext impls signal an existing destination as a
          // bare IOException — same CAS outcome
          f.delete(tmp, false)
          throw new CommitConflictException(v)
      }
    }
    run.published = Some(entries) // rule 3: recorded before the tail
    // the commit is durable from here: cache the snapshot we just
    // built, and checkpoint periodically. EVERYTHING below is
    // best-effort — NonFatal, not just IOException: a bad interval
    // conf or cache hiccup must not fail a durable commit.
    try {
      // entriesR, not entries: the row-id assignment above is part of
      // what the manifest durably says — caching the unassigned list
      // would serve NULL ids until the first cold read. Declared-delta
      // commits extend the cached v-1 snapshot when it is warm and
      // stay out of the cache otherwise (never resolve just to cache).
      deltaChange match {
        case Some(removed) =>
          cacheGet(spark, base, v - 1).foreach { prev =>
            val gone = removed.toSet ++ entriesR.map(_.path)
            cachePut(spark, base, v,
              prev.filterNot(e => gone.contains(e.path)) ++ entriesR)
          }
        case None => cachePut(spark, base, v, entriesR)
      }
      if (v % checkpointInterval(spark) == 0) {
        if (deltaChange.isDefined && TxLogPlan.parquetCheckpoints(spark))
          // build the checkpoint FROM the log as a DataFrame — the
          // driver-bounded path end to end
          TxLogPlan.writeCheckpointParquetDF(spark, base, v, metaLines,
            TxLogPlan.snapshotDF(spark, base, v).select("line"))
        else writeCheckpoint(spark, base, v, metaLines,
          if (deltaChange.isDefined) snapshotEntries(spark, base, v)
          else entriesR)
        advancePointer(spark, base, v)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}

object Txn {

  /** A land returned by [[Txn.rebase]]: the verb's result, the entries
    * it read, and whether it was reused from a lost attempt. */
  final case class Land[L](value: L, inputs: Seq[Entry], rebased: Boolean)

  /** A land kept across a lost attempt: its input lines, the re-base
    * key and (for an `overlaps` check) the snapshot it was built on. */
  private[operators] final case class Kept(value: Any, inputs: Seq[Entry],
                                lines: Map[String, String], key: TableMeta,
                                snapshot: Map[String, String],
                                dirs: Seq[String])

  /** State shared by the attempts of one transaction. Staging may come
    * from several `Par.all` threads at once. */
  private[operators] final class Run {
    private val staged = scala.collection.mutable.LinkedHashMap
      .empty[String, Boolean] // dir -> kept across lost attempts
    var onceValue: Option[Any] = None
    var kept: Option[Kept] = None
    @volatile var published: Option[Seq[Entry]] = None

    def stage(dirs: Seq[String]): Unit = synchronized(
      dirs.foreach(d => if (!staged.contains(d)) staged(d) = false))

    /** Run `land`, marking every dir it stages as kept. */
    def keeping[L](land: => L): (L, Seq[String]) = {
      val before = synchronized(staged.keySet.toSet)
      val v = land
      synchronized {
        val dirs = staged.keys.filterNot(before).toSeq
        dirs.foreach(staged(_) = true)
        (v, dirs)
      }
    }

    def dropKept(spark: SparkSession, base: String): Unit =
      kept.foreach { k =>
        kept = None
        delete(spark, base, synchronized {
          k.dirs.foreach(staged.remove); k.dirs })
      }

    /** Rule 2, between attempts: the lost attempt's own dirs go. */
    def dropLost(spark: SparkSession, base: String): Unit =
      delete(spark, base, synchronized {
        val lost = staged.collect { case (d, false) => d }.toSeq
        lost.foreach(staged.remove)
        lost
      })

    /** Rule 2, on exit: every staged dir no published entry uses. */
    def cleanup(spark: SparkSession, base: String): Unit = {
      val dirs = synchronized(staged.keys.toSeq)
      if (dirs.nonEmpty) {
        val used: Set[String] = published.toSeq.flatten.flatMap(e =>
          e.path.substring(0, math.max(0, e.path.lastIndexOf('/'))) +:
            (e.dv.map(_.dir).toSeq ++ e.blooms.map(_.dir))).toSet
        delete(spark, base, dirs.filterNot(used))
      }
    }

    /** Best-effort: an orphan left by a failed delete is vacuum's to
      * reclaim, and must not mask the outcome of the transaction. */
    private def delete(spark: SparkSession, base: String,
                       dirs: Seq[String]): Unit =
      if (dirs.nonEmpty) {
        val f = TxLog.fs(base, spark)
        dirs.foreach(d =>
          try f.delete(new Path(s"$base/$d"), true)
          catch { case scala.util.control.NonFatal(_) => () })
      }
  }

  /** Run `body` as one optimistic transaction (rules 1–3; see the
    * class doc). `pinned` fixes the first attempt's snapshot version
    * instead of reading the latest (an explicit-version commit). */
  private[graft] def run[T](spark: SparkSession, base: String,
                                maxAttempts: Int, onAttempt: Int => Unit,
                                pinned: Option[Option[Long]] = None)(
      body: Txn => T): T = {
    val state = new Run
    try {
      var attempt = 0
      while (true) {
        attempt += 1
        val t = new Txn(spark, base, attempt, onAttempt,
          if (attempt == 1) pinned else None, state)
        try return body(t)
        catch {
          case e @ (_: CommitConflictException |
                    _: java.io.FileNotFoundException)
              if state.published.isEmpty =>
            val conflict = e match {
              case c: CommitConflictException => c
              case f: java.io.FileNotFoundException =>
                CommitConflictException.staleRead(f)
            }
            if (attempt >= maxAttempts) throw conflict
            state.dropLost(spark, base)
        }
      }
      throw new IllegalStateException("unreachable")
    } finally state.cleanup(spark, base)
  }
}
