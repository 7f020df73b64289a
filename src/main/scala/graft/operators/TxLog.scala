package graft.operators

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Atomic manifest-commit log over plain parquet — the ACID half of
  * the reference's Delta surface (`_delta_log` commit protocol,
  * scripts/load_bronze_to_table.py:158-163) that [[Versioned]]'s
  * partition-per-version store lacks: there a reader overlapping a
  * writer can observe a partially-landed directory; here it cannot.
  *
  * Protocol (single-table, full-snapshot manifests):
  *
  *   base/data/<txn>/part-*.parquet   landed data files — inert until
  *                                    some manifest references them
  *   base/_log/v<20-digit>.txt        manifest: newline-separated
  *                                    base-relative paths of EVERY
  *                                    file in that version (a full
  *                                    snapshot, so resolving any
  *                                    version reads ONE manifest)
  *
  * - WRITE: land all files under a fresh txn dir, then publish the
  *   manifest for version v+1 with an ATOMIC create-if-absent
  *   install: [[FileContext]] + `Options.Rename.NONE` on HDFS-like
  *   stores (the same primitive Spark's streaming checkpoint manager
  *   relies on), `Files.createLink` (POSIX link(2), kernel-atomic
  *   fail-if-exists) on the local FS — where rename-if-absent is
  *   check-then-act and two racers could both "win" (TxLogScaleSpec's
  *   8-writer race caught exactly that). Raw S3 has neither and needs
  *   a coordinating catalog — the identical caveat Delta documents.
  * - READ: resolve the highest published manifest, read only its
  *   files. A reader interleaved anywhere inside a write sees the
  *   previous complete version — never a partial directory
  *   (TxLogSpec pins the interleaving).
  * - CONFLICT: the manifest name IS the compare-and-swap: two racing
  *   writers both targeting v+1 cannot both win the rename; the loser
  *   gets [[TxLog.CommitConflictException]], discards its landed
  *   files, and [[transact]] recomputes against the winner's table —
  *   so concurrent MERGEs serialize instead of last-write-winning
  *   (TxLogSpec proves final state equals sequential application).
  *
  * Scale notes: a manifest lists file PATHS (one short line per
  * file), so at 100 TB / ~1 GB files it is ~10^5 lines — megabytes,
  * listed and parsed on the driver in milliseconds; data files never
  * move or rewrite on commit, so commit cost is independent of table
  * size. Full-snapshot manifests trade Delta's log-replay (read all
  * deltas since a checkpoint) for one-file resolution.
  *
  * The v2 manifest line carries optional per-file min/max stats on a
  * designated clustering column plus idempotency metadata, unlocking
  * the operations that make the log viable AT 100 TB rather than
  * merely correct (each a Delta surface the reference relies on —
  * add-only commits, data skipping, txn actions, OPTIMIZE, CDF):
  *
  *  - [[append]]: insert-only commit that re-publishes prior entries
  *    verbatim and lands only the new files — commit work is O(new
  *    data); a CAS loss costs one manifest re-read, never a re-land.
  *  - [[readRange]]: file skipping — prune manifest entries by
  *    min/max overlap BEFORE the scan, so a narrow range query on a
  *    clustered 10^5-file table opens a handful of files.
  *  - [[mergeCow]]: copy-on-write MERGE — only files whose stats
  *    range overlaps the source's key range are rewritten; the rest
  *    are carried into the new manifest by reference. A daily CDC
  *    batch against a key-clustered 100 TB table rewrites GBs, not
  *    the table.
  *  - [[appendOnce]]: exactly-once streaming sink — the manifest
  *    carries an (appId → batchId) high-water map forward, so a
  *    foreachBatch replay after a driver restart is a no-op instead
  *    of a duplicate (Delta's `txn` action).
  */
object TxLog {

  /** The CAS lost: another writer published this version first. */
  final class CommitConflictException private[TxLog] (
      msg: String, cause: Throwable)
    extends RuntimeException(msg, cause) {
    def this(version: Long) = this(
      s"concurrent writer already committed version $version; " +
        "re-read the table and retry (see TxLog.transact)", null)
  }
  private[operators] object CommitConflictException {
    /** A snapshot read inside a writer's retry body hit a manifest a
      * concurrent vacuum deleted: the body's world is stale — its CAS
      * would lose anyway — so surface the same conflict a lost CAS
      * gives and let the retry re-resolve off the vacuum's
      * materialized checkpoint. */
    def staleRead(cause: java.io.FileNotFoundException) =
      new CommitConflictException(
        "a concurrent vacuum removed manifests this commit's snapshot " +
          "was resolving against; re-read the table and retry " +
          "(see TxLog.transact)", cause)
  }

  /** A write produced rows failing a CHECK constraint; the landed
    * files were discarded and nothing was published. */
  final class ConstraintViolationException(val name: String,
                                           val expr: String, val bad: Long)
    extends RuntimeException(
      s"CHECK constraint '$name' ($expr) violated by $bad written " +
        "row(s); the write was discarded, nothing was published")

  // the layout literal is shared with the DSv2 catalog (isTableDir /
  // schema sidecar probes) — one definition, no silent drift
  private[graft] val LogDir = "_log"
  private val DataDir = "data"

  /** Single-column min/max file statistics. `dtype` picks the
    * comparison semantics: "long"/"double" numeric, "date"/"string"
    * lexicographic (ISO dates order correctly as strings). Values are
    * stored as their string representation. */
  final case class ColStats(column: String, dtype: String,
                            min: String, max: String) {
    def overlaps(lo: String, hi: String): Boolean =
      TxLog.cmp(dtype, max, lo) >= 0 && TxLog.cmp(dtype, min, hi) <= 0
  }

  /** Deletion-vector reference (Delta's DV / merge-on-read DELETE):
    * `dir` is a (base-relative, or absolute for clones) parquet
    * dataset of (`__file`, `__pos`) rows naming deleted row positions;
    * `rows` is how many of THIS entry's positions it holds — what
    * metadata COUNT(*) subtracts without opening a file. */
  final case class Dv(dir: String, rows: Long)

  /** Bloom-filter index reference (Delta `CREATE BLOOMFILTER INDEX`
    * analog): `dir` is a sidecar parquet dataset of (`__file`,
    * `__pos`) rows — the SET bit positions of each file's bloom over
    * `column` — shared by every entry of one [[buildBloomIndex]] run;
    * `m` bits, `k` hashes. `dtype` is the column's Catalyst type at
    * build time: the probe casts its literal through it BEFORE the
    * string hash, so a long-typed lookup against a double column
    * hashes "42.0", not "42" — the same positions the build wrote.
    * Point lookups probe the k positions of the value and keep only
    * files holding ALL of them. */
  final case class BloomRef(dir: String, column: String, m: Long, k: Int,
                            dtype: String)

  /** One manifest entry: a base-relative data file, its row count
    * (-1 when unknown, e.g. a v1 manifest), per-column min/max
    * stats (empty when the writer collected none; one PER clustering
    * column under [[commitMulti]], so a Z-ordered table can skip on
    * EITHER dimension at the manifest level), and an optional
    * deletion vector ([[deleteRangeMor]]) masking rows without
    * rewriting the file. */
  final case class Entry(path: String, rows: Long, stats: Seq[ColStats],
                         dv: Option[Dv] = None,
                         blooms: Seq[BloomRef] = Nil,
                         baseRowId: Option[Long] = None) {
    def statsFor(column: String): Option[ColStats] =
      stats.find(_.column == column)
    def bloomFor(column: String): Option[BloomRef] =
      blooms.find(_.column == column)
    /** Live (undeleted) rows; -1 when the physical count is unknown. */
    def liveRows: Long =
      if (rows < 0) -1L else rows - dv.map(_.rows).getOrElse(0L)
  }

  /** Column-mapping indirection (Delta column mapping, name mode):
    * the manifest's `#colmap` meta line carries an ordered
    * logical→physical name map. PHYSICAL names are frozen at column
    * birth and are what data files, manifest stats, bloom refs and
    * identity high-waters are keyed on; LOGICAL names are the user
    * surface. RENAME COLUMN rebinds a logical name to its unchanged
    * physical column (zero data rewritten); DROP COLUMN removes the
    * binding (the physical bytes stay until files are naturally
    * rewritten — and can never resurface, because a re-ADDed column
    * of the same name gets a FRESH physical name from `nextId`).
    * Absent line = identity mapping (pre-mapping tables are untouched
    * byte-for-byte). Lookup is case-insensitive, matching Spark's
    * default column resolution. */
  final case class ColMap(cols: Seq[(String, String)], nextId: Int) {
    private val physByLowerLogical: Map[String, String] =
      cols.map { case (l, p) => l.toLowerCase -> p }.toMap
    def physicalOf(logical: String): Option[String] =
      physByLowerLogical.get(logical.toLowerCase).orElse {
        // dotted path on a struct WITHOUT tier-2 bindings: subfield
        // names are physical as-is — translate the head, keep the
        // leaf. A nested-MAPPED struct must resolve through its own
        // bindings (an unbound leaf there is dropped/unknown: None).
        val i = logical.indexOf('.')
        if (i <= 0) None
        else {
          val top = logical.substring(0, i)
          if (cols.exists(c => c._1.length > top.length &&
              c._1.charAt(top.length) == '.' &&
              c._1.substring(0, top.length).equalsIgnoreCase(top))) None
          else physByLowerLogical.get(top.toLowerCase)
            .map(p => s"$p.${logical.substring(i + 1)}")
        }
      }
    /** Translate a user-facing column name, failing loudly on names
      * the table does not have — a silent pass-through would read or
      * stat a nonexistent physical column. */
    def physical(logical: String): String =
      physicalOf(logical).getOrElse(throw new IllegalArgumentException(
        s"column '$logical' does not exist " +
          s"(table columns: ${cols.map(_._1).mkString(", ")})"))
    def hasLogical(name: String): Boolean =
      physByLowerLogical.contains(name.toLowerCase)
    def logicalNames: Seq[String] = cols.map(_._1)
    /** Reverse lookup: the logical name bound to a physical column
      * (the physical name itself when unmapped) — the translation the
      * partition surfaces present to users. */
    def logicalOf(physical: String): String =
      cols.collectFirst {
        case (l, p) if p.equalsIgnoreCase(physical) => l
      }.getOrElse(physical)
    /** Top-level bindings (tier-2 nested entries carry a dotted
      * logical path and live alongside their parent's binding). */
    def topCols: Seq[(String, String)] = cols.filterNot(_._1.contains("."))
    /** Nested bindings under top-level logical `top`, as
      * (leafLogical, leafPhysical) in mapping order — one struct
      * level (the tier-2 surface). Empty = the struct is unmapped
      * inside: serve it verbatim. */
    def nestedUnder(top: String): Seq[(String, String)] =
      cols.collect {
        case (l, p) if l.length > top.length + 1 &&
            l.charAt(top.length) == '.' &&
            l.substring(0, top.length).equalsIgnoreCase(top) =>
          (l.substring(top.length + 1), p.substring(p.indexOf('.') + 1))
      }
    def hasNested: Boolean = cols.exists(_._1.contains("."))
  }

  private[graft] def cmp(dtype: String, a: String, b: String): Int = dtype match {
    case "long"   => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _        => utf8Cmp(a, b)
  }

  /** Unsigned UTF-8 byte comparison — the ordering Spark's UTF8String
    * min/max used to produce the stats. String.compareTo (UTF-16 code
    * units) disagrees above the BMP (surrogates sort below U+E000..
    * U+FFFF), which would make overlap checks unsound for e.g. emoji
    * keys. */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private def castType(dtype: String): String = dtype match {
    case "long" => "long"; case "double" => "double"; case _ => "string"
  }

  /** Resolve a manifest path: relative entries live under this
    * table's base; ABSOLUTE entries (leading "/" or a URI scheme) are
    * zero-copy references into ANOTHER table — the shallow-clone
    * mechanism ([[cloneShallow]]). */
  def resolve(base: String, path: String): String =
    if (isAbsolute(path)) path else s"$base/$path"

  private[graft] def isAbsolute(path: String): Boolean =
    // a URI scheme can arrive in single-slash form ("file:/tmp/x" —
    // what Path.toUri.toString prints) as well as "scheme://host/…";
    // the DSv2 route hands scheme-qualified bases to the clone verbs,
    // so both must read as absolute or a cloned-in reference would
    // silently resolve RELATIVE to the clone and break every read
    path.startsWith("/") || path.contains("://") ||
      (path.contains(":/") && new Path(path).toUri.getScheme != null)

  /** Does this file possibly hold rows with `column` in [lo, hi]?
    * Entries without stats on that column must be answered yes. */
  private[graft] def touchesRange(e: Entry, column: String,
                           lo: String, hi: String): Boolean =
    e.statsFor(column) match {
      case Some(st) => st.overlaps(lo, hi)
      case None => true
    }

  /** Run `body` as one optimistic transaction on `base`: every log
    * write goes through here ([[Txn]] holds the snapshot, staging, CAS
    * retry, re-base and cleanup rules). */
  private[graft] def txn[T](spark: SparkSession, base: String,
                            maxAttempts: Int = 5,
                            onAttempt: Int => Unit = _ => ())(
      body: Txn => T): T =
    Txn.run(spark, base, maxAttempts, onAttempt)(body)

  private[graft] def noVersion(base: String) =
    new IllegalStateException(s"no committed version at $base")

  private[graft] def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private[graft] def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** Line format: `path[\trows[\t(dtype\tcol\tmin\tmax)+]]` — 2 + 4k
    * fields. The single-stats v2 line (6 fields) is the k=1 case, so
    * older manifests parse unchanged. A deletion vector rides as one
    * reserved 4-field group with dtype `dv`
    * (`dv\t<encoded dir>\t<rows>\t-`) — the group slot keeps the
    * parser uniform, and `dv` never collides with [[statsDtype]]'s
    * output so pre-DV manifests are unaffected. */
  private[graft] def serLine(e: Entry): String =
    if (e.rows == -1L && e.stats.isEmpty && e.dv.isEmpty &&
        e.blooms.isEmpty && e.baseRowId.isEmpty)
      e.path // v1-compatible bare path
    else if (e.stats.isEmpty && e.dv.isEmpty && e.blooms.isEmpty &&
        e.baseRowId.isEmpty)
      s"${e.path}\t${e.rows}"
    else {
      val groups = e.stats.map(cs =>
        s"${cs.dtype}\t${enc(cs.column)}\t${enc(cs.min)}\t${enc(cs.max)}") ++
        e.blooms.map(b =>
          s"bf\t${enc(b.dir)}\t${enc(b.column)}\t${b.m},${b.k},${b.dtype}") ++
        e.dv.map(d => s"dv\t${enc(d.dir)}\t${d.rows}\t-") ++
        // row tracking: this file's FRESH rows carry stable ids
        // [base, base + rows); reader-gated (protocol 4) because an
        // ignorant reader would parse the group as column stats
        e.baseRowId.map(b => s"rid\t$b\t-\t-")
      s"${e.path}\t${e.rows}\t" + groups.mkString("\t")
    }

  private[graft] def parseLine(line: String): Entry = {
    val f = line.split('\t')
    if (f.length == 1) Entry(f(0), -1L, Nil)
    else if (f.length == 2) Entry(f(0), f(1).toLong, Nil)
    else if ((f.length - 2) % 4 == 0) {
      val groups = f.drop(2).grouped(4).toList
      val dvGroups = groups.filter(_.head == "dv")
      val bfGroups = groups.filter(_.head == "bf")
      val ridGroups = groups.filter(_.head == "rid")
      val statGroups = groups.filterNot(g =>
        g.head == "dv" || g.head == "bf" || g.head == "rid")
      require(dvGroups.size <= 1,
        s"manifest line carries ${dvGroups.size} deletion vectors: $line")
      require(ridGroups.size <= 1,
        s"manifest line carries ${ridGroups.size} row-id bases: $line")
      Entry(f(0), f(1).toLong,
        statGroups.map(g => ColStats(dec(g(1)), g(0), dec(g(2)), dec(g(3)))),
        dvGroups.headOption.map(g => Dv(dec(g(1)), g(2).toLong)),
        bfGroups.map { g =>
          // limit 3: the dtype itself may hold commas (decimal(p,s))
          val parts = g(3).split(",", 3)
          BloomRef(dec(g(1)), dec(g(2)), parts(0).toLong, parts(1).toInt,
            if (parts.length > 2) parts(2) else "string")
        },
        ridGroups.headOption.map(g => g(1).toLong))
    } else throw new IllegalStateException(
      s"malformed manifest line: $line (${f.length} fields)")
  }

  private[graft] def fc(base: String, spark: SparkSession): FileContext =
    FileContext.getFileContext(new Path(base).toUri,
      spark.sparkContext.hadoopConfiguration)

  private[graft] def fs(base: String, spark: SparkSession) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def manifestPath(base: String, v: Long) =
    new Path(f"$base/$LogDir/v$v%020d.txt")

  /** Periodic full-snapshot checkpoint of version v (the Delta
    * `.checkpoint.parquet` analog): every entry line of the snapshot,
    * in the legacy full-manifest format. Readers resolve a snapshot
    * from the nearest checkpoint plus the delta commits after it —
    * never by replaying the whole log. */
  private[graft] def ckptPath(base: String, v: Long) =
    new Path(f"$base/$LogDir/v$v%020d.ckpt.txt")

  /** `_last_checkpoint` pointer (Delta's identical file): one line
    * holding the newest checkpointed version, so [[latestVersion]]
    * probes forward from it instead of listing the whole `_log` dir.
    * Purely a HINT — missing/stale/torn pointers fall back to a full
    * listing; correctness never depends on it. */
  private def pointerPath(base: String) =
    new Path(s"$base/$LogDir/_last_checkpoint")

  /** Marker line that makes a commit file a DELTA (changes against
    * version v-1) instead of a full snapshot. Delta data lines are
    * `-\t<path>` (file removed) and `+\t<entry line>` (file added, or
    * replaced when the path already exists — a DV/bloom re-reference).
    * Meta lines (`#constraint`/`#identity`/`#txn`/`#nodatachange`)
    * stay FULL in every commit — they are O(apps + constraints), not
    * O(files), so the latest commit alone answers every meta read. */
  private[graft] val DeltaMarker = "#delta"

  private[graft] def checkpointInterval(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.txlog.checkpointInterval")
      .flatMap(_.trim.toIntOption).filter(_ >= 1).getOrElse(10)

  private[graft] def parseVersion(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".txt") &&
        !name.endsWith(".ckpt.txt"))
      name.stripPrefix("v").stripSuffix(".txt").toLongOption
    else None

  private[graft] def parseCkptVersion(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".ckpt.txt"))
      name.stripPrefix("v").stripSuffix(".ckpt.txt").toLongOption
    else None

  private[graft] def readPointer(spark: SparkSession, base: String): Option[Long] = {
    val f = fs(base, spark)
    val p = pointerPath(base)
    try {
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val line = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList.headOption
        finally in.close()
        line.flatMap(_.trim.toLongOption)
      }
    } catch { case _: java.io.IOException => None } // torn/racing: hint only
  }

  /** Point `_last_checkpoint` at `v` — monotone (never regress a
    * fresher writer's pointer) and best-effort: the pointer is a hint,
    * so an IO failure here must never fail a committed write. Written
    * by [[replaceFile]], so a concurrent [[latestVersion]] reads the
    * old pointer or the new one, never a truncated or missing file. */
  private[graft] def advancePointer(spark: SparkSession, base: String,
                             v: Long): Unit =
    try {
      if (readPointer(spark, base).forall(_ < v))
        replaceFile(spark, base, pointerPath(base), ".pointer-tmp",
          s"$v\n".getBytes("UTF-8"))
    } catch { case _: java.io.IOException => () }

  /** Install `bytes` as the `_log` file `dst`, replacing it whole: they
    * go to a uniquely named temp file (`tmpPrefix` + a uuid — not a
    * version name, [[parseVersion]] ignores it), which is renamed over
    * `dst` and deleted on failure. A concurrent reader sees the old
    * file or the new one, never neither. On the local FS the rename is
    * a raw rename(2) (`ATOMIC_MOVE`): Hadoop's local `FileContext`
    * overwrite deletes the destination before it renames and renames
    * the `.crc` sidecar separately (`AbstractFileSystem.renameInternal`,
    * `ChecksumFs`), so `dst` carries no sidecar there (the temp file is
    * written through the raw local FS, and a stale sidecar goes first).
    * Other stores rename with `FileContext`'s `OVERWRITE`. */
  private def replaceFile(spark: SparkSession, base: String, dst: Path,
                          tmpPrefix: String, bytes: Array[Byte]): Unit = {
    val f = fs(base, spark)
    val tmp = new Path(
      s"$base/$LogDir/$tmpPrefix-${java.util.UUID.randomUUID()}")
    if (f.getUri.getScheme == "file") {
      val raw = (p: Path) => java.nio.file.Paths.get(p.toUri.getPath)
      try {
        val out = (f match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
          case other => other
        }).create(tmp, true)
        try out.write(bytes) finally out.close()
        java.nio.file.Files.deleteIfExists(raw(
          new Path(dst.getParent, s".${dst.getName}.crc")))
        java.nio.file.Files.move(raw(tmp), raw(dst),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } finally java.nio.file.Files.deleteIfExists(raw(tmp))
    } else
      try {
        val out = f.create(tmp, true)
        try out.write(bytes) finally out.close()
        fc(base, spark).rename(tmp, dst, Options.Rename.OVERWRITE)
      } catch {
        case e: java.io.IOException => f.delete(tmp, false); throw e
      }
  }

  /** Highest published version, or None for an empty store. With a
    * `_last_checkpoint` pointer the resolution is O(commits since the
    * checkpoint) existence probes — never a listing of the whole
    * `_log` dir (which grows with history on a long-lived table);
    * versions are dense (CAS-assigned), so probing forward from the
    * pointer until the first gap is exact. */
  def latestVersion(spark: SparkSession, base: String): Option[Long] = {
    val f = fs(base, spark)
    readPointer(spark, base) match {
      case Some(c) if f.exists(manifestPath(base, c)) =>
        var v = c
        while (f.exists(manifestPath(base, v + 1))) v += 1
        Some(v)
      case _ => // no/torn/vacuum-stale pointer: full listing fallback
        val dir = new Path(s"$base/$LogDir")
        if (!f.exists(dir)) None
        else f.listStatus(dir).toSeq
          .flatMap(st => parseVersion(st.getPath.getName))
          .maxOption
    }
  }

  /** The [[Snapshot]] a read or a write attempt works on: version
    * `asOf`, or the latest one — the one place a read resolves the
    * latest version ([[latestVersion]]). */
  def snapshot(spark: SparkSession, base: String,
               asOf: Option[Long] = None): Snapshot =
    Snapshot(spark, base, asOf.orElse(latestVersion(spark, base)))

  /** Protocol versions THIS engine implements (Delta's protocol
    * action, minReaderVersion/minWriterVersion): a manifest stamped
    * with a higher required reader version fails loudly at read time
    * instead of silently mis-parsing a future format; a higher
    * required writer version blocks commits that would drop meta
    * kinds this writer does not know how to carry forward. Absence of
    * the line (pre-protocol tables) means (1, 1). Any future change
    * to the line format, a new meta-line kind, or a new entry-group
    * dtype MUST bump the matching version here. These are the engine's
    * CAPABILITY ceilings; the version a table REQUIRES is
    * feature-derived at commit time ([[TableMeta.stampedProtocol]]) — (2, 2) only
    * when column mapping is active, (1, 1) otherwise — so enabling a
    * v2 feature on one table never locks older engines out of the
    * rest of the lake. Version 2 = `#colmap` column-mapping
    * indirection (logical names are rebindable; physical names key
    * the data). Writer version 3 (reader stays 2) = `#partition`
    * declared partitioning: partition columns live physically in the
    * files and prune through ordinary stats lines, so ANY reader
    * handles a partitioned table — but an ignorant writer would land
    * unsplit multi-value files and drop the `#partition` line,
    * silently un-partitioning the table, so writes are gated. Writer
    * version 4 (reader stays 2) = `#generatedcol` GENERATED ALWAYS AS
    * columns: an ignorant writer would land un-computed, un-validated
    * values and drop the declaration. Reader version 3 = `#widencol`
    * type widening: correct reads REQUIRE the declared (widened)
    * requested schema — an ignorant reader would footer-infer a
    * narrow/mixed schema and fail with CANNOT_MERGE_SCHEMAS (or
    * silently serve one file's width), so widening is reader-visible,
    * exactly as Delta models its type-widening table feature. Writer
    * version 6 (reader stays) = `#cluster` declared clustering keys
    * (Delta liquid clustering's registration half): clustered files
    * are ordinary files with ordinary stats — any reader prunes them —
    * but an ignorant writer would reconstruct the meta lines without
    * `#cluster`, silently un-clustering every future write and
    * OPTIMIZE. Reader version 4 + writer version 7 = `#rowid` row
    * tracking (Delta 4.0 row IDs): entry lines grow a `rid` group an
    * ignorant reader would mis-parse as column stats (unsound
    * pruning), and an ignorant writer would land files without
    * assigned id spans and drop the high-water line. Reader version 5
    * = columnar (parquet) checkpoints: the checkpoint TEXT file holds
    * only meta lines plus a `#parquet` marker — an ignorant reader
    * would resolve an EMPTY snapshot from it (silent data loss), so
    * every columnar checkpoint file stamps reader 5 and older engines
    * fail loudly at the linesOf gate (TxLogPlan). */
  private[graft] val ReaderVersion = 5
  private[graft] val WriterVersion = 8 // 8 = column DEFAULT values

  private[graft] def linesOf(spark: SparkSession, base: String,
                      p: Path): Seq[String] = {
    val in = fs(base, spark).open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    // the reader gate lives at the ONE choke point every manifest and
    // checkpoint read passes through — a too-new table errors here,
    // before any line is interpreted
    TableMeta.protocolOf(lines).foreach { case (r, _) =>
      if (r > ReaderVersion) throw new IllegalStateException(
        s"$p requires log reader version $r; this engine implements " +
          s"$ReaderVersion — upgrade the engine to read this table")
    }
    lines
  }

  private[graft] def manifestLines(spark: SparkSession, base: String,
                            v: Long): Seq[String] =
    linesOf(spark, base, manifestPath(base, v))

  // ---- snapshot resolution (checkpoint + delta replay) -------------

  /** Driver-side LRU of resolved snapshots. Commit files are immutable
    * once published, so caching is sound; every hit re-stats the
    * commit file and compares its MTIME to the cached one — one RPC
    * that catches both another process's vacuum (file gone → same
    * FileNotFound a cold read gives) AND a cross-process
    * drop-and-recreate at the same path reusing version numbers (new
    * file, new mtime → miss; the schema cache guards the same way).
    * Oversized snapshots are not cached (bounding driver memory at
    * ~LRU×cap entry objects). */
  private val SnapCacheSnapshots = 16
  private val SnapCacheMaxEntries = 200000
  private val snapCache =
    new java.util.LinkedHashMap[(String, Long), (Long, Seq[Entry])](
      32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (Long, Seq[Entry])])
          : Boolean = size() > SnapCacheSnapshots
    }
  private def commitMtimeOpt(spark: SparkSession, base: String,
                             v: Long): Option[Long] =
    try Some(fs(base, spark)
      .getFileStatus(manifestPath(base, v)).getModificationTime)
    catch { case _: java.io.IOException => None }
  /** ONE canonical spelling per table dir: the SQL surfaces hand
    * URI-qualified paths (`file:/tmp/t`) where the API uses raw ones
    * (`/tmp/t`) — a raw-string key would cache the SAME table twice,
    * and a purge through one spelling would miss the other's entries
    * (caught by the bench's repeated s55 runs: a pinned-mtime table
    * recreated at the same path revived the PREVIOUS incarnation's
    * entry list through the alias). Qualification is pure URI math —
    * no filesystem RPC. */
  /** ONE canonical spelling per local table dir, shared with the
    * DSv2 schema cache: `file:/tmp/t`, `file:///tmp/t` and `/tmp/t`
    * all canonicalize to the raw path (the URI path component), so
    * no cache can alias one table under two keys. Non-file schemes
    * keep their qualified spelling. The file:-collapse is gated on
    * the DEFAULT filesystem also being file: — on a cluster whose
    * default FS is HDFS/S3, `file:/tmp/t` (local) and `/tmp/t`
    * (default-FS) are two DIFFERENT tables, so there the scheme-less
    * spelling qualifies against the default FS instead (pure URI
    * math, no filesystem RPC). */
  private[graft] def canonicalBase(base: String): String = {
    val p = new Path(base)
    val u = p.toUri
    lazy val defaultIsFile = defaultFsScheme == "file"
    if (u.getScheme == null) {
      if (defaultIsFile) p.toString
      else new Path(new Path(defaultFsUri), base).toString
    }
    else if (u.getScheme == "file" && defaultIsFile) u.getPath
    else p.toString
  }
  private def defaultFsUri: String =
    scala.util.Try(SparkSession.active.sparkContext.hadoopConfiguration
      .get("fs.defaultFS", "file:///")).getOrElse("file:///")
  private def defaultFsScheme: String =
    Option(new Path(defaultFsUri).toUri.getScheme).getOrElse("file")
  private def cacheKey(base: String): String = canonicalBase(base)
  private[operators] def cacheGet(spark: SparkSession, base: String,
                       v: Long): Option[Seq[Entry]] =
    snapCache.synchronized(Option(snapCache.get((cacheKey(base), v))))
      .flatMap { case (mt, es) =>
        if (commitMtimeOpt(spark, base, v).contains(mt)) Some(es) else None
      }
  private[operators] def cachePut(spark: SparkSession, base: String, v: Long,
                       es: Seq[Entry]): Unit =
    if (es.size <= SnapCacheMaxEntries)
      commitMtimeOpt(spark, base, v).foreach(mt =>
        snapCache.synchronized(snapCache.put((cacheKey(base), v), (mt, es))))
  /** Peek the driver snapshot cache (planning verbs: a cached
    * snapshot makes a local sweep cheaper than a cluster job). */
  private[graft] def cachedSnapshot(spark: SparkSession, base: String,
                                    v: Long): Option[Seq[Entry]] =
    cacheGet(spark, base, v)

  private[graft] def cachePurge(base: String): Unit = {
    val key = cacheKey(base)
    snapCache.synchronized {
      val it = snapCache.keySet.iterator()
      while (it.hasNext) if (it.next()._1 == key) it.remove()
    }
    physSchemaCache.synchronized {
      val it = physSchemaCache.keySet.iterator()
      while (it.hasNext) if (it.next()._1 == key) it.remove()
    }
    metaCache.synchronized {
      val it = metaCache.keySet.iterator()
      while (it.hasNext) if (it.next()._1 == key) it.remove()
    }
    footerSchemaCache.synchronized {
      val it = footerSchemaCache.keySet.iterator()
      while (it.hasNext) if (it.next().startsWith(s"$key/")) it.remove()
    }
  }

  /** Apply one delta commit's data lines to the previous snapshot:
    * removes drop by path, upserts replace-by-path or append. Carried
    * entries keep their relative order; upserted ones follow, in delta
    * order (entry sets, not order, are the semantic content). */
  private def applyDelta(prev: Seq[Entry], lines: Seq[String]): Seq[Entry] = {
    val data = lines.filterNot(_.startsWith("#"))
    val removes = data.collect { case l if l.startsWith("-\t") => l.drop(2) }
      .toSet
    val upserts = data.collect { case l if l.startsWith("+\t") =>
      parseLine(l.drop(2)) }
    val upsertPaths = upserts.map(_.path).toSet
    prev.filterNot(e => removes.contains(e.path) ||
      upsertPaths.contains(e.path)) ++ upserts
  }

  /** The resolved entry list of version `v`: nearest base at or below
    * v (snapshot cache hit, checkpoint file, or full-snapshot commit
    * — legacy manifests and pre-delta tables), plus the delta commits
    * after it, applied ITERATIVELY oldest-first. No recursion: a
    * pathological chain (checkpoint writes kept failing, or a huge
    * configured interval) costs memory-bounded loop iterations, never
    * a StackOverflowError. Every intermediate version resolved on the
    * way is cached, so sequential walks (history, CDF) are O(1)
    * amortized per version. Version 0 is the empty store. */
  private[graft] def snapshotEntries(spark: SparkSession, base: String,
                              v: Long): Seq[Entry] = {
    if (v == 0L) return Seq.empty
    val f = fs(base, spark)
    // walk back to the nearest resolvable base, stacking delta lines
    val pendingDeltas = scala.collection.mutable.Stack.empty[(Long, Seq[String])]
    var cur = v
    var baseEntries: Seq[Entry] = null
    var baseFromCache = false
    while (baseEntries == null) {
      if (cur == 0L) baseEntries = Seq.empty
      else cacheGet(spark, base, cur) match {
        case Some(es) => baseEntries = es; baseFromCache = true
        case None =>
          val ck = ckptPath(base, cur)
          if (f.exists(ck)) {
            val ckLines = linesOf(spark, base, ck)
            baseEntries =
              if (ckLines.exists(_.startsWith(TxLogPlan.PqMarkerPrefix)))
                // columnar checkpoint: entry lines live in the sibling
                // parquet dataset (collected here for the driver-side
                // verbs; the planning verbs go through TxLogPlan and
                // never materialize this list)
                TxLogPlan.collectCheckpointLines(spark, base, cur)
                  .map(parseLine)
              else ckLines.filterNot(_.startsWith("#")).map(parseLine)
          }
          else {
            val lines = manifestLines(spark, base, cur) // FNFE: vacuumed
            if (lines.contains(DeltaMarker)) {
              pendingDeltas.push((cur, lines))
              cur -= 1
            } else baseEntries = lines.filterNot(_.startsWith("#"))
              .map(parseLine)
          }
      }
    }
    // don't re-put a value that just came FROM the cache: the warm
    // path stays at exactly one metadata RPC (cacheGet's mtime stat)
    if (!baseFromCache) cachePut(spark, base, cur, baseEntries)
    var es = baseEntries
    while (pendingDeltas.nonEmpty) {
      val (ver, lines) = pendingDeltas.pop()
      es = applyDelta(es, lines)
      cachePut(spark, base, ver, es)
    }
    es
  }

  /** Entries plus idempotency metadata (appId → highest applied
    * batchId) of one published version. */
  def manifest(spark: SparkSession, base: String,
               v: Long): (Seq[Entry], Map[String, Long]) = {
    val lines = manifestLines(spark, base, v)
    // entry resolution goes through snapshotEntries (cache + nearest
    // checkpoint): after a vacuum, a delta commit's ancestry is gone
    // and only the checkpoint can resolve it
    (snapshotEntries(spark, base, v), parseTxnLines(lines))
  }

  /** Idempotency metadata (appId → highest applied batchId) of one
    * version — txn lines ride every commit full, so this never
    * resolves the entry list (the add-only commit paths depend on
    * that: a blind append must stay O(new files) on the driver). */
  def txnsOf(spark: SparkSession, base: String, v: Long): Map[String, Long] =
    parseTxnLines(manifestLines(spark, base, v))

  private def parseTxnLines(lines: Seq[String]): Map[String, Long] =
    lines.collect { case l if l.startsWith("#txn\t") =>
      l.split('\t') match {
        case Array(_, app, b) => dec(app) -> b.toLong
        case other => throw new IllegalStateException(
          s"malformed txn line: $l (${other.length} fields)")
      }
    }.toMap

  /** The table metadata of one published version (schema, column
    * mapping, partitioning, constraints, … — see [[TableMeta]]).
    * Served from a driver-side LRU keyed like the snapshot/schema
    * caches by (canonical base, version, commit mtime): metadata sits
    * on every read and write path, so after the first probe of a
    * version it costs one cached lookup guarded by a stat RPC, never a
    * manifest open+parse. A vacuumed version fails with the same
    * FileNotFound a manifest read gives. */
  def metaOf(spark: SparkSession, base: String, v: Long): TableMeta = {
    val key = (canonicalBase(base), v, commitModTime(spark, base, v))
    metaCache.synchronized(Option(metaCache.get(key))).getOrElse {
      val m = TableMeta.parse(manifestLines(spark, base, v))
      metaCache.synchronized(metaCache.put(key, m))
      m
    }
  }

  private val metaCache =
    new java.util.LinkedHashMap[(String, Long, Long), TableMeta](
      32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), TableMeta]): Boolean =
        size() > 256
    }

  private def parseOpLines(lines: Seq[String]): Option[String] =
    lines.find(_.startsWith("#op\t")).map(_.split('\t') match {
      case Array(_, op) => dec(op)
      case other => throw new IllegalStateException(
        s"malformed op line (${other.length} fields)")
    })

  /** The operation that produced version `v` (`#op` meta line, Delta
    * history's `operation` column): WRITE, MERGE, DELETE, UPDATE,
    * OPTIMIZE, RESTORE, … None for pre-provenance manifests. */
  def operationOf(spark: SparkSession, base: String, v: Long): Option[String] =
    parseOpLines(manifestLines(spark, base, v))

  /** The version's per-commit CDF hint (`#cdfop`): Some("update") on
    * merge-on-read UPDATE commits — the explicit writer-stamped signal
    * the change feeds use to emit update images (never inferred from
    * manifest shape; see Txn.publish). */
  private[graft] def cdfOpOf(spark: SparkSession, base: String,
                             v: Long): Option[String] =
    manifestLines(spark, base, v).find(_.startsWith("#cdfop\t"))
      .map(l => dec(l.split('\t')(1)))

  /** Rename a user-facing (logical-named) DataFrame to physical names
    * for landing. A column the mapping does not know is a loud error:
    * write-side schema evolution on a mapped table must go through
    * [[alterAddColumns]] first (which assigns the fresh physical name
    * that keeps a dropped column's old bytes from resurfacing). */
  private[graft] def toPhysicalDf(df: DataFrame, cm: ColMap): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    // the materialized row-id column is engine-internal (attached by
    // the rewrite read half, never user-supplied — the write verbs
    // reject it at entry): it passes through untranslated
    val unknown = df.columns.filterNot(c =>
      cm.hasLogical(c) || c.equalsIgnoreCase(RowIdCol))
    require(unknown.isEmpty,
      s"column(s) ${unknown.mkString(", ")} are not in this table's " +
        "column mapping — on a mapped table, declare new columns with " +
        "ALTER TABLE ... ADD COLUMNS before writing them")
    df.select(df.columns.toIndexedSeq.map { c =>
      if (c.equalsIgnoreCase(RowIdCol)) col(c)
      else {
        val nested = cm.nestedUnder(c)
        if (nested.isEmpty) col(c).as(cm.physical(c))
        else {
          // tier-2 nested mapping: rebuild the struct under PHYSICAL
          // leaf names (frozen at field birth, like top-level). The
          // batch may carry a subset of the logical subfields (schema
          // flexibility mirrors top-level); an UNKNOWN subfield is the
          // same loud error as an unknown column — its physical birth
          // never happened. NULL structs stay NULL.
          val st = df.schema(c).dataType match {
            case s: org.apache.spark.sql.types.StructType => s
            case other => throw new IllegalArgumentException(
              s"column '$c' carries nested mappings but the batch " +
                s"writes it as $other")
          }
          val unknownF = st.fieldNames.filterNot(fn =>
            nested.exists(_._1.equalsIgnoreCase(fn)))
          require(unknownF.isEmpty,
            s"nested column(s) ${unknownF.map(f => s"$c.$f").mkString(", ")} " +
              "are not in this table's column mapping — declare them " +
              "with alterAddNestedColumns before writing them")
          val fields = nested.flatMap { case (ll, lp) =>
            st.fieldNames.find(_.equalsIgnoreCase(ll))
              .map(actual => col(c).getField(actual).as(lp))
          }
          when(col(c).isNull, lit(null))
            .otherwise(struct(fields: _*)).as(cm.physical(c))
        }
      }
    }: _*)
  }

  /** Project a physical-named DataFrame (a raw file read) onto the
    * logical surface: mapped physical columns alias to their logical
    * names in mapping order; a mapped column no live file carries yet
    * (just ALTERed) scans as a typed NULL from the declared schema;
    * unmapped physical columns (DROPped) vanish. `keep` appends
    * pass-through columns (CDF tags, DV coordinates) verbatim. */
  private[graft] def toLogicalDf(df: DataFrame, cm: ColMap,
                                 declared: Option[org.apache.spark.sql.types.StructType],
                                 keep: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    import org.apache.spark.sql.types.StructType
    val present = df.columns.map(c => c.toLowerCase -> c).toMap
    def declaredField(l: String) =
      declared.flatMap(_.fields.find(_.name.equalsIgnoreCase(l)))
    val mapped = cm.topCols.flatMap { case (l, p) =>
      val nested = cm.nestedUnder(l)
      present.get(p.toLowerCase) match {
        case Some(actual) if nested.isEmpty => Some(col(actual).as(l))
        case Some(actual) =>
          // tier-2 nested mapping: rebuild the struct on the logical
          // surface — mapped physical subfields alias to their leaf
          // logical names in mapping order; a subfield no live file
          // carries yet (just ALTERed) scans as a typed NULL from the
          // declared schema; unmapped physical subfields (DROPped)
          // vanish. NULL structs stay NULL (a rename must never
          // invent a non-null struct of nulls).
          val st = df.schema(actual).dataType match {
            case s: StructType => s
            case other => throw new IllegalStateException(
              s"column '$l' carries nested mappings but the files " +
                s"store it as $other")
          }
          val declStruct = declaredField(l).map(_.dataType).collect {
            case s: StructType => s }
          val fields = nested.map { case (ll, lp) =>
            st.fieldNames.find(_.equalsIgnoreCase(lp)) match {
              case Some(actualF) =>
                col(actual).getField(actualF).as(ll)
              case None =>
                val dt = declStruct.flatMap(_.fields.find(
                    _.name.equalsIgnoreCase(ll))).map(_.dataType)
                  .getOrElse(throw new IllegalStateException(
                    s"nested column '$l.$ll' has no physical bytes " +
                      "and no declared type"))
                lit(null).cast(dt).as(ll)
            }
          }
          Some(when(col(actual).isNull, lit(null))
            .otherwise(struct(fields: _*)).as(l))
        case None => declaredField(l)
          .map(f => lit(null).cast(f.dataType).as(l))
      }
    }
    df.select(mapped ++ keep.flatMap(k =>
      present.get(k.toLowerCase).map(col)): _*)
  }

  /** In-commit timestamp of one manifest (Delta 4.0 ICT): the commit
    * WROTE its own wall-clock millis as a `#ict` line, clamped
    * strictly above the parent's — so `TIMESTAMP AS OF` resolution is
    * a property of the LOG, not of file-system modification times
    * (which a copy, a backup restore, or a storage migration
    * rewrites). None = a pre-ICT commit (resolution falls back to the
    * manifest's mtime for exactly that version). */
  private[graft] def parseIctLines(lines: Seq[String]): Option[Long] =
    lines.find(_.startsWith("#ict\t")).map(_.split('\t')(1).toLong)

  /** In-commit timestamp of one published version (None = the
    * version predates ICT stamping). */
  def ictOf(spark: SparkSession, base: String, v: Long): Option[Long] =
    parseIctLines(manifestLines(spark, base, v))

  /** The timestamp `TIMESTAMP AS OF` / DESCRIBE HISTORY serve for one
    * version: the in-commit stamp when the commit carries one, else
    * the manifest file's mtime (pre-ICT versions only). */
  def commitTimestamp(spark: SparkSession, base: String, v: Long): Long =
    ictOf(spark, base, v).getOrElse(commitModTime(spark, base, v))

  /** The materialized row-id column rewrites stamp into data files.
    * Hidden from every user-facing read surface (dropped like the DV
    * coordinates); surfaced explicitly by [[readWithRowIds]]. */
  private[graft] val RowIdCol = "__row_id"

  /** The write verbs REJECT a user batch carrying the reserved
    * materialized row-id column — accepting one would forge/collide
    * stable ids (only the engine's rewrite reads attach it). */
  private def requireNoRowIdColumn(df: DataFrame): Unit =
    require(!df.columns.exists(_.equalsIgnoreCase(RowIdCol)),
      s"column name $RowIdCol is reserved for row tracking")

  /** Hide the materialized row-id column from a user-facing frame
    * (the same treatment the DV coordinates get). */
  private def dropRowId(df: DataFrame): DataFrame =
    df.columns.find(_.equalsIgnoreCase(RowIdCol))
      .map(df.drop(_)).getOrElse(df)

  /** Read `entries` with each row's STABLE id attached as
    * [[RowIdCol]]: `coalesce(materialized column, file base + parquet
    * row index)` — a rewrite-materialized id wins; a fresh file's
    * rows take their assigned span. The per-file base map is O(files)
    * driver metadata broadcast-joined on the file name (the exact
    * shape the DV mask join uses); deletion vectors apply as usual.
    * This is both the [[readWithRowIds]] surface and the read half of
    * rewrite materialization. */
  private def rowIdReadRaw(spark: SparkSession, base: String,
                           entries: Seq[Entry],
                           requested: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    require(entries.nonEmpty,
      s"cannot read an empty entry list at $base (fully-deleted snapshot)")
    // the requested surface always includes the materialized column —
    // a widened table's declared schema (or a never-rewritten union)
    // does not carry it, and files that lack it serve typed NULLs
    val reqExt = requested.map(s =>
      if (s.fieldNames.exists(_.equalsIgnoreCase(RowIdCol))) s
      else org.apache.spark.sql.types.StructType(s.fields :+
        org.apache.spark.sql.types.StructField(RowIdCol,
          org.apache.spark.sql.types.LongType)))
    val raw = readFiles(spark, entries.map(e => resolve(base, e.path)), reqExt)
      .withColumn(DvFileCol, col("_metadata.file_name"))
      .withColumn(DvPosCol, col("_metadata.row_index"))
    import spark.implicits._
    val baseDf = broadcast(entries
      .flatMap(e => e.baseRowId.map(b => (fileName(e.path), b)))
      .toDF(DvFileCol, "__rid_base"))
    val mat =
      if (raw.columns.exists(_.equalsIgnoreCase(RowIdCol))) col(RowIdCol)
      else lit(null).cast("long")
    val withId = raw.join(baseDf, Seq(DvFileCol), "left")
      .withColumn(RowIdCol,
        coalesce(mat, col("__rid_base") + col(DvPosCol)))
      .drop("__rid_base")
    val masked = dvFrame(spark, base, entries) match {
      case Some(m) => withId.join(m, Seq(DvFileCol, DvPosCol), "left_anti")
      case None => withId
    }
    masked.drop(DvFileCol, DvPosCol)
  }

  /** Attach each row's stable id as [[RowIdCol]] to a DML verb's
    * tagged read (a frame still carrying the DV coordinates): the
    * rewrite-materialized column wins, else entry base + row ordinal
    * — [[rowIdReadRaw]]'s coalesce, for frames whose coordinates must
    * SURVIVE (mask computation reads them downstream). Caller checks
    * the table is row-tracked. */
  private def attachRowIds(spark: SparkSession, touched: Seq[Entry],
                           tagged: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    import spark.implicits._
    val baseDf = broadcast(touched
      .flatMap(e => e.baseRowId.map(b => (fileName(e.path), b)))
      .toDF(DvFileCol, "__rid_base"))
    val mat =
      if (tagged.columns.exists(_.equalsIgnoreCase(RowIdCol))) col(RowIdCol)
      else lit(null).cast("long")
    tagged.join(baseDf, Seq(DvFileCol), "left")
      .withColumn(RowIdCol, coalesce(mat, col("__rid_base") + col(DvPosCol)))
      .drop("__rid_base")
  }

  /** Row tracking across MERGE (Delta preserves ids through UPDATE):
    * a matched source row logically UPDATES its target row, so the
    * landed image inherits that row's stable id by ON-key lookup
    * against the LIVE touched rows (min() elects the survivor if the
    * target held duplicate keys — the others are masked away by the
    * merge). Unmatched (insert) rows carry NULL and take their file's
    * fresh span id at read. Caller checks the table is row-tracked. */
  private def inheritMergeIds(source: DataFrame, liveTarget: DataFrame,
                              keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, min}
    source.join(
      liveTarget.groupBy(keys.map(col): _*)
        .agg(min(col(RowIdCol)).as(RowIdCol)),
      keys, "left")
  }

  /** Enable row tracking (Delta 4.0 row IDs): one metadata-only
    * commit BACKFILLS a contiguous id span onto every live file and
    * stamps the `#rowid` high-water; from then on every commit
    * assigns fresh spans and every rewrite MATERIALIZES ids, so a
    * row keeps its id for the table's whole life. Requires known
    * per-file row counts (run OPTIMIZE once on a converted v1 table
    * first). Idempotent. */
  def enableRowTracking(spark: SparkSession, base: String,
                        maxAttempts: Int = 5): Long =
    txn(spark, base, maxAttempts) { t =>
      if (t.meta.rowIdHighWater.isDefined) t.cur
      else {
        require(t.entries.forall(_.rows >= 0),
          "row tracking needs known per-file row counts — OPTIMIZE " +
            "the table once to record them, then enable")
        var hw = 0L
        val backfilled = t.entries.map { e =>
          val b = hw; hw += e.rows; e.copy(baseRowId = Some(b))
        }
        t.publish(backfilled, dataChange = false,
          operation = "ENABLE ROW TRACKING",
          meta = _.copy(rowIdHighWater = Some(hw)))
      }
    }

  /** Snapshot read with each row's STABLE id surfaced as `_row_id` —
    * the lineage surface row tracking exists for: the id survives
    * compaction, ZORDER, and COW UPDATE, so two snapshots join on it
    * to diff a row's life. Mapped tables serve logical names as
    * usual. */
  def readWithRowIds(spark: SparkSession, base: String): DataFrame =
    rowIdsRead(snapshot(spark, base))

  /** [[readWithRowIds]] of one published version — lineage time
    * travel: a row's id is stable across versions, so two snapshots
    * join on `_row_id` to diff its life. */
  def readVersionWithRowIds(spark: SparkSession, base: String,
                            v: Long): DataFrame =
    rowIdsRead(Snapshot(spark, base, Some(v)))

  private def rowIdsRead(s: Snapshot): DataFrame = {
    val (spark, base, v, m) = (s.spark, s.base, s.cur, s.meta)
    require(m.rowIdHighWater.isDefined,
      s"row tracking is not enabled on $base at version $v " +
        "(enableRowTracking first)")
    val requested = m.widenedPhysSchema
      .orElse(Some(cachedPhysUnionSchema(spark, base, v)))
    val df = rowIdReadRaw(spark, base, s.entries, requested)
    val out = m.colMap match {
      case Some(cm) => toLogicalDf(df, cm, m.schema, keep = Seq(RowIdCol))
      case None => df
    }
    out.withColumnRenamed(RowIdCol, "_row_id")
  }

  /** A file's partition tuple under `pspec` (inner None = all-NULL
    * component); outer None = the file SPANS values on some partition
    * column — impossible on a born-partitioned table, defensive for
    * hand-built manifests. The ONE extraction the overwrite matchers
    * and the partition inventory share. */
  private[graft] def entryTuple(e: Entry, pspec: Seq[(String, String)])
      : Option[Seq[Option[String]]] = {
    val parts = pspec.map { case (c, _) =>
      e.statsFor(c) match {
        case Some(st) if st.min == st.max => Some(Some(st.min))
        case Some(_) => None // spans values: no tuple
        case None => Some(None) // all-NULL component
      }
    }
    if (parts.contains(None)) None else Some(parts.map(_.get))
  }

  /** Partition inventory (Delta/Hive `SHOW PARTITIONS` analog), pure
    * manifest metadata — zero data files opened: one row per live
    * partition tuple with its file and live-row counts. Tuples render
    * Hive-style (`day=2024-01-01/region=ea`; NULL components as
    * `__HIVE_DEFAULT_PARTITION__`), under LOGICAL column names. */
  def showPartitions(spark: SparkSession, base: String): DataFrame = {
    val s = snapshot(spark, base)
    s.cur // a table that must exist
    val m = s.meta
    val pspec = m.partitions
    require(pspec.nonEmpty,
      s"SHOW PARTITIONS: txlog($base) is not a partitioned table")
    val cm = m.colMap
    val names = pspec.map { case (p, _) =>
      cm.map(_.logicalOf(p)).getOrElse(p) }
    val entries = s.entries
    val rows = entries.groupBy(entryTuple(_, pspec)).toSeq
      .map { case (tuple, es) =>
        val rendered = tuple match {
          case Some(vals) => names.zip(vals).map { case (n, ov) =>
            s"$n=${ov.getOrElse("__HIVE_DEFAULT_PARTITION__")}"
          }.mkString("/")
          // impossible on a born-partitioned table; surfaced, never
          // conflated with the legitimate all-NULL tuple
          case None => "__MIXED_VALUES__"
        }
        (rendered, es.size.toLong,
          if (es.forall(_.rows >= 0)) es.map(_.liveRows).sum else -1L)
      }
      .sortBy(_._1)
    import spark.implicits._
    rows.toDF("partition", "num_files", "num_rows")
  }

  /** Stats dtype for a PARTITION column — [[statsDtype]] minus
    * TimestampType: timestamp stats floor to epoch SECONDS (sound for
    * range pruning, where a row-level residual reapplies exactly),
    * but partition-scoped OVERWRITE drops whole files by exact tuple
    * match with no residual — two sub-second-distinct tuples would
    * conflate and the drop would lose rows. Partition on DATE or a
    * derived column instead (Delta's own guidance). */
  private[graft] def partitionDtype(dt: org.apache.spark.sql.types.DataType)
      : String = {
    require(dt != org.apache.spark.sql.types.TimestampType &&
        dt != org.apache.spark.sql.types.TimestampNTZType,
      "TIMESTAMP partition columns are not supported (exact tuple " +
        "matching would conflate sub-second values) — partition on a " +
        "DATE or a derived column, and cluster on the timestamp instead")
    // same spirit for binary floats: partition tuple identity is exact
    // string-repr equality across two independent stats pipelines, and
    // -0.0 vs 0.0 render as DISTINCT tuples that numeric comparison
    // treats as equal — a dynamic overwrite could then fail to drop a
    // matching partition's old file, leaving duplicate rows. Partition
    // on a derived DECIMAL/STRING instead.
    require(dt != org.apache.spark.sql.types.FloatType &&
        dt != org.apache.spark.sql.types.DoubleType,
      "FLOAT/DOUBLE partition columns are not supported (exact tuple " +
        "matching is unsound for binary floats: -0.0 vs 0.0 land as " +
        "distinct tuples that compare equal) — partition on a derived " +
        "DECIMAL or STRING column instead")
    statsDtype(dt)
  }

  /** Commit-time backstop for the DSv2 writes: on a partitioned table
    * every landed file must be partition-PURE (min==max stats per
    * partition column — the rolling writer's invariant). Catches a
    * writer planned before the table took this shape (exotic
    * drop-and-recreate races); stats absent on a column passes — that
    * is the all-NULL tuple, pure by construction. */
  private[graft] def requirePartitionPure(s: Snapshot,
                                          entries: Seq[Entry]): Unit = {
    val ps = s.meta.partitions
    if (ps.isEmpty) return
    for { (c, _) <- ps; e <- entries; st <- e.statsFor(c) }
      require(st.min == st.max,
        s"file ${e.path} spans partition values [${st.min}, ${st.max}] " +
          s"on '$c' — the write was planned against a different table " +
          "shape; restart it against the current (partitioned) table")
  }

  /** `ALTER TABLE ... ALTER COLUMN col TYPE <wider>` (Delta's type
    * widening): a METADATA-ONLY commit — the declared `#schema`
    * carries the widened type, a `#widencol` line switches every
    * reader to an explicit requested schema (old narrow files upcast
    * per file inside Spark's parquet readers), and not one data byte
    * moves. Safe set only: byte→short→int→long, float→double, and
    * decimal growth that loses no integral digits or scale — anything
    * else (narrowing, cross-family) would lie about bytes on disk and
    * fails loudly. Time travel below the ALTER serves the old type
    * (the widen line is versioned with the log). Returns the
    * published version. */
  def alterWidenColumn(spark: SparkSession, base: String, column: String,
                       newType: org.apache.spark.sql.types.DataType,
                       maxAttempts: Int = 5): Long = {
    import org.apache.spark.sql.types._
    txn(spark, base, maxAttempts) { t =>
      val cur = t.cur
      val (entries, m) = (t.entries, t.meta)
      // the declared surface: the versioned #schema line, else the
      // current snapshot's logical schema synthesized once — from the
      // ALTER on, the declared schema IS the read surface. Because
      // widened reads PIN that surface, it must cover every column
      // the live files carry: writes may have evolved file schemas
      // beyond a stale #schema (mergeSchema-on-write is the documented
      // evolution path), and publishing the stale declared schema
      // here would silently hide each file-only column from every
      // subsequent read — metadata-only DDL causing data loss. So the
      // file union's extra columns FOLD into the published schema
      // (appended, nullable — exactly what readEvolved served before
      // the ALTER). Mapped tables are exempt: their live surface is
      // the colmap by construction (toPhysicalDf vetoes unmapped
      // writes), so any extra physical file column is a DROPped
      // column's bytes, which must stay hidden.
      val declared0 = {
        val stated = m.schema.getOrElse(readVersion(spark, base, cur).schema)
        if (entries.isEmpty || m.colMap.isDefined) stated
        else {
          val union = cachedPhysUnionSchema(spark, base, cur)
          val have = stated.fieldNames.map(_.toLowerCase).toSet
          StructType(stated.fields ++ union.fields
            .filterNot(f => have(f.name.toLowerCase))
            .map(_.copy(nullable = true)))
        }
      }
      val idx = declared0.fieldNames.indexWhere(_.equalsIgnoreCase(column))
      require(idx >= 0, s"column '$column' is not in the table schema " +
        s"(${declared0.fieldNames.mkString(", ")})")
      val f = declared0.fields(idx)
      // Delta 4.0's full type-widening matrix — every promotion here
      // is verified against Spark's parquet readers (both vectorized
      // and row-based take each path; long→double and date→timestamp
      // (with TZ) are excluded exactly as Delta excludes them: the
      // former loses precision, the latter changes semantics).
      // Integer→decimal demands enough INTEGRAL digits for the source
      // family's full range (byte 3, short 5, int 10, long 20).
      def intDigits(t: DataType): Option[Int] = t match {
        case ByteType => Some(3); case ShortType => Some(5)
        case IntegerType => Some(10); case LongType => Some(20)
        case _ => None
      }
      def widens(from: DataType, to: DataType): Boolean = (from, to) match {
        case (a, b) if a == b => false
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType) => true
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case (ByteType | ShortType | IntegerType, DoubleType) => true
        case (a, b: DecimalType) if intDigits(a).isDefined =>
          b.precision - b.scale >= intDigits(a).get
        case (DateType, TimestampNTZType) => true
        case (a: DecimalType, b: DecimalType) =>
          b.scale >= a.scale &&
            b.precision - b.scale >= a.precision - a.scale &&
            (b.precision > a.precision || b.scale > a.scale)
        case _ => false
      }
      require(widens(f.dataType, newType),
        s"ALTER COLUMN ${f.name} TYPE ${newType.simpleString}: only safe " +
          s"widenings of ${f.dataType.simpleString} are supported " +
          "(byte<short<int<long, float<double, byte/short/int->double, " +
          "integer->decimal with enough integral digits, " +
          "date->timestamp_ntz, decimal precision growth losing no " +
          "integral digits) — narrowing, long->double, or " +
          "date->timestamp-with-TZ would lie about the bytes on disk")
      val phys = t.snapshot.physical(f.name)
      // partition tuple identity and generated-column validation are
      // typed at declaration; widening under them would need re-stamped
      // metadata this verb does not rewrite — loud veto, not drift
      require(!m.partitions.exists(_._1.equalsIgnoreCase(phys)),
        s"cannot widen partition column '${f.name}' — partition tuple " +
          "identity is typed at declaration")
      require(!m.generated.exists(_._1.equalsIgnoreCase(f.name)),
        s"cannot widen GENERATED column '${f.name}' — its type is fixed " +
          "by the generation expression")
      require(!m.cluster.exists(_.equalsIgnoreCase(phys)),
        s"cannot widen CLUSTER BY key '${f.name}' — the layout's " +
          "interleave and stats family are typed at declaration; drop " +
          "clustering first (alterClusterBy(..., Seq.empty))")
      val declared = StructType(
        declared0.fields.updated(idx, f.copy(dataType = newType)))
      val widen = m.widened
        .filterNot(_._1.equalsIgnoreCase(phys)) :+ (phys -> newType)
      // manifest stats carried across a CROSS-FAMILY widen must stay
      // sound against the NEW family's predicate reprs: integer→
      // double stats RETAG (integer repr strings parse as doubles —
      // skipping keeps its full sharpness); integer→decimal and
      // date→timestamp_ntz stats STRIP (no stats family exists for
      // those types, and a long-family compare against "3.50" would
      // throw mid-prune) — stripped files conservatively always scan
      // for that column's predicates, correctness unchanged.
      // Within-family widens (int→long, float→double, decimal growth)
      // share their family's repr and carry untouched — the commit
      // stays O(1) manifest lines.
      val entriesAdj = (f.dataType, newType) match {
        case ((ByteType | ShortType | IntegerType), DoubleType) =>
          entries.map(e => e.copy(stats = e.stats.map(s =>
            if (s.column.equalsIgnoreCase(phys) && s.dtype == "long")
              s.copy(dtype = "double") else s)))
        case ((_, _: DecimalType) | (DateType, TimestampNTZType)) =>
          entries.map(e => e.copy(stats =
            e.stats.filterNot(_.column.equalsIgnoreCase(phys))))
        case _ => entries
      }
      t.publish(entriesAdj, dataChange = false, operation = "ALTER COLUMN",
        meta = _.copy(schema = Some(declared), widened = widen))
    }
  }

  /** The null-safe validation predicate for a SUPPLIED generated
    * column — rides the existing constraint scan over the landed
    * files, so validation costs one shared aggregate pass. */
  private def generatedCheckExpr(c: String, ex: String): String =
    s"`$c` <=> ($ex)"

  /** Synthetic constraint entries validating every generated column
    * PRESENT in `cols`; errors on one that is ABSENT (the DSv2/SQL
    * write shape, where compute is impossible). */
  private[graft] def generatedChecksFor(s: Snapshot, cols: Seq[String])
      : Map[String, String] = {
    val m = s.meta
    val gens = m.generated
    if (gens.isEmpty) return Map.empty
    val cm = m.colMap
    val have = cols.map(_.toLowerCase).toSet
    gens.map { case (c, ex) =>
      // landed files carry PHYSICAL names; `cols` is as-landed
      val phys = cm.map(_.physical(c)).getOrElse(c)
      require(have.contains(phys.toLowerCase) || have.contains(c.toLowerCase),
        s"column '$c' is GENERATED ALWAYS AS ($ex) — this write path " +
          "cannot compute it; include the column in the written data " +
          "(the TxLog API verbs compute it automatically)")
      s"_generated_$c" -> generatedCheckExpr(c, ex)
    }.toMap
  }

  /** Compute every declared generated column a batch OMITS; validation
    * of supplied ones happens on the landed files via the constraint
    * scan. `df` is in PHYSICAL namespace (the verb-entry translation
    * already ran); generation expressions speak logical names, so a
    * mapped table computes on the logical view and translates back. */
  private def applyGeneratedColumns(spark: SparkSession, base: String,
                                    df: DataFrame,
                                    gens: Seq[(String, String)],
                                    cm: Option[ColMap]): DataFrame = {
    import org.apache.spark.sql.functions.expr
    if (gens.isEmpty) return df
    def missing(d: DataFrame, logical: String): Boolean = {
      val phys = cm.map(_.physical(logical)).getOrElse(logical)
      !d.columns.exists(x => x.equalsIgnoreCase(phys) ||
        x.equalsIgnoreCase(logical))
    }
    val toCompute = gens.filter { case (c, _) => missing(df, c) }
    if (toCompute.isEmpty) df
    else cm match {
      case None =>
        toCompute.foldLeft(df) { case (d, (c, ex)) =>
          d.withColumn(c, expr(ex)) }
      case Some(m) =>
        val logical = toLogicalDf(df, m, None)
        val computed = toCompute.foldLeft(logical) { case (d, (c, ex)) =>
          d.withColumn(c, expr(ex)) }
        toPhysicalDf(computed, m)
    }
  }

  /** Materialize every declared column DEFAULT a batch OMITS —
    * write-time fill only (supplied values, including explicit NULL,
    * always win; nothing is validated — a default is a fallback, not
    * an invariant). Mirrors [[applyGeneratedColumns]]'s namespace
    * handling: `df` is physical, default expressions are constants so
    * no logical view is needed, but the landed column name must be
    * the PHYSICAL one and the value casts to the declared type. */
  private def applyDefaultColumns(spark: SparkSession, df: DataFrame,
                                  dflts: Seq[(String, String)],
                                  cm: Option[ColMap],
                                  declared: Option[org.apache.spark.sql.types.StructType],
                                  unionFallback: => Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    import org.apache.spark.sql.functions.expr
    if (dflts.isEmpty) return df
    // the fill MUST land at the column's existing type: an uncast
    // `expr("7")` next to LONG footers would poison the table with
    // unmergeable mixed-type files. Declared schema first; UNDECLARED
    // tables resolve the type from the cached physical-union schema —
    // computed lazily, only when a default column is actually missing
    lazy val union = unionFallback
    dflts.foldLeft(df) { case (d, (c, ex)) =>
      val phys = cm.map(_.physical(c)).getOrElse(c)
      if (d.columns.exists(x => x.equalsIgnoreCase(phys) ||
          x.equalsIgnoreCase(c))) d
      else {
        val e0 = expr(ex)
        val dt = declared.flatMap(_.fields.find(_.name.equalsIgnoreCase(c))
            .map(_.dataType))
          .orElse(union.flatMap(_.fields.find(f =>
            f.name.equalsIgnoreCase(phys) || f.name.equalsIgnoreCase(c))
            .map(_.dataType)))
        d.withColumn(phys, dt.map(e0.cast).getOrElse(e0))
      }
    }
  }

  /** Did version `v` change data logically? False for pure physical
    * rewrites (compaction, DV purge) stamped `#nodatachange` — the
    * change feeds skip those versions. */
  def dataChangeOf(spark: SparkSession, base: String, v: Long): Boolean =
    !manifestLines(spark, base, v).contains("#nodatachange")

  /** GENERATED ALWAYS guard for INSERT-shaped writes (append,
    * appendOnce, applyChanges inserts, the DSv2 sink): a batch that
    * explicitly provides an identity column is rejected — otherwise
    * the high-water would not cover its ids and later [[appendIdentity]]
    * calls would collide. NOT applied to rewrite verbs (purge,
    * compaction, COW DML): those republish EXISTING ids. Merges run
    * GENERATED-BY-DEFAULT instead — the id column is legitimately
    * present (it can BE the merge key), and the high-water ADVANCES
    * past any id the source carries ([[mergeIdentityAdvance]]). */
  private[graft] def requireNoIdentityColumns(s: Snapshot,
                                              columns: Seq[String]): Unit =
    failOnIdentityClash(s.meta.identity.keySet, columns)

  /** Write-side column-mapping gate for the DSv2 sink's COMMIT phase:
    * on a mapped table every incoming (logical) column must be bound
    * in the mapping — an unknown name means the physical birth
    * ([[alterAddColumns]]) never happened, and the files just landed
    * carry a name no reader would ever serve. Checked at commit, not
    * plan, so a restarted stream replaying an already-committed epoch
    * against a since-mapped table stays a silent no-op. */
  private[graft] def requireMappedColumns(s: Snapshot,
                                          columns: Seq[String]): Unit =
    s.meta.colMap.foreach { cm =>
      val unknown = columns.filterNot(cm.hasLogical)
      require(unknown.isEmpty,
        s"column(s) ${unknown.mkString(", ")} are not in this table's " +
          "column mapping — on a mapped table, declare new columns with " +
          "ALTER TABLE ... ADD COLUMNS before writing them")
    }

  /** GENERATED ALWAYS on the UPDATE surface (Delta's identical rule):
    * assigning an identity column would mint ids the high-water never
    * covered, so later [[appendIdentity]] calls could silently
    * re-issue them. Case-insensitive, like the insert guard. */
  private def requireNoIdentityAssignment(s: Snapshot,
                                          cols: Seq[String]): Unit = {
    val lower = s.meta.identity.keySet.map(_.toLowerCase)
    val clash = cols.filter(c => lower.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"UPDATE may not assign IDENTITY column(s) ${clash.mkString(", ")} " +
        "(GENERATED ALWAYS — ids are system-assigned)")
  }

  /** Case-INSENSITIVE identity-vs-batch-columns clash check: Spark
    * resolves columns case-insensitively by default, so a batch
    * providing ROW_ID must not slip past a guard on row_id (ids the
    * high-water never covered would collide with later
    * [[appendIdentity]] calls). Mirrors the lowercase matching the
    * constraint missing-column check uses. */
  private def failOnIdentityClash(identityCols: Set[String],
                                  columns: Seq[String]): Unit = {
    val lower = identityCols.map(_.toLowerCase)
    val clash = columns.filter(c => lower.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"IDENTITY column(s) ${clash.mkString(", ")} are system-assigned " +
        "(GENERATED ALWAYS); an insert batch must not provide them — " +
        "use appendIdentity")
  }

  /** The per-identity-column maxima a merge SOURCE carries (one agg),
    * for advancing the high-water at publish: a not-matched insert
    * with an explicit id must never be re-issued by a later
    * [[appendIdentity]]. Empty when the table has no identity column
    * in the source's schema. */
  private def sourceIdentityMaxes(s: Snapshot,
                                  source: DataFrame): Map[String, Long] = {
    import org.apache.spark.sql.functions.{col, max}
    // case-insensitive match (Spark's default column resolution): the
    // high-water must advance even when the source spells the identity
    // column ROW_ID — but the map key stays the table's canonical name
    val byLower = s.meta.identity.keySet
      .map(c => c.toLowerCase -> c).toMap
    val present = source.columns.toSeq
      .flatMap(sc => byLower.get(sc.toLowerCase).map(canon => (sc, canon)))
      .sortBy(_._2)
    if (present.isEmpty) Map.empty
    else {
      val row = source.agg(
        max(col(present.head._1)).cast("long"),
        present.tail.map { case (sc, _) => max(col(sc)).cast("long") }: _*)
        .head()
      present.zipWithIndex.flatMap { case ((_, canon), i) =>
        if (row.isNullAt(i)) None else Some(canon -> row.getLong(i))
      }.toMap
    }
  }

  /** A merge publish's metadata edit: the high-waters advanced past
    * the source's maxima (applied inside the CAS, so a lost race
    * advances the winner's water). */
  private def mergeIdentityAdvance(maxes: Map[String, Long])
      : TableMeta => TableMeta = m =>
    m.copy(identity = maxes.foldLeft(m.identity) { case (id, (c, mx)) =>
      id + (c -> math.max(id.getOrElse(c, 0L), mx))
    })

  /** Modification time of version `v`'s commit file — the commit's
    * wall-clock stamp ([[versionAtTimestamp]]'s clock) and a cheap
    * validity token for caches keyed on (base, version): a
    * drop-and-recreate at the same path can reuse version numbers,
    * but not their commit mtimes. */
  private[graft] def commitModTime(spark: SparkSession, base: String,
                                   v: Long): Long =
    fs(base, spark).getFileStatus(manifestPath(base, v)).getModificationTime

  /** The file list of one published version (base-relative paths). */
  def manifestFiles(spark: SparkSession, base: String, v: Long): Seq[String] =
    manifest(spark, base, v)._1.map(_.path)

  /** Driver-side LRU of a version's PHYSICAL union-of-files schema,
    * keyed by (canonical base, version, commit mtime) — all three
    * immutable for a live version (the same validity contract as the
    * snapshot cache and the DSv2 schema cache). This is what keeps a
    * mapped table's API reads from paying the mergeSchema footer pass
    * (O(files) driver IO) once per QUERY: the first read computes the
    * union, every later plan of the same version reads with the
    * cached schema and opens zero footers (VERDICT r11 #6). */
  private val physSchemaCache =
    new java.util.LinkedHashMap[(String, Long, Long),
        org.apache.spark.sql.types.StructType](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long),
            org.apache.spark.sql.types.StructType]): Boolean = size() > 64
    }
  /** Cache-miss counter — the observable the spec law pins (a timing
    * probe would be flaky; a miss count is exact). */
  private[graft] val physSchemaMisses =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def cachedPhysUnionSchema(spark: SparkSession,
                                           base: String, v: Long)
      : org.apache.spark.sql.types.StructType = {
    val key = (canonicalBase(base), v, commitModTime(spark, base, v))
    val hit = physSchemaCache.synchronized(Option(physSchemaCache.get(key)))
    hit.getOrElse {
      physSchemaMisses.incrementAndGet()
      val files = manifest(spark, base, v)._1.map(e => resolve(base, e.path))
      val s = readFiles(spark, files, None).schema
      physSchemaCache.synchronized(physSchemaCache.put(key, s))
      s
    }
  }

  /** Snapshot read of version `v`: only that manifest's files, with
    * each file's deletion vector (if any) applied, projected onto the
    * version's OWN logical column names (its `#colmap` line — time
    * travel below a RENAME shows the old names). */
  def readVersion(spark: SparkSession, base: String, v: Long): DataFrame =
    readAt(Snapshot(spark, base, Some(v)))

  /** [[readVersion]] of one snapshot. */
  private def readAt(s: Snapshot): DataFrame = {
    val (spark, base, v, m) = (s.spark, s.base, s.cur, s.meta)
    // widened tables read through the declared schema explicitly
    // (narrow old files upcast per file); see TableMeta.widenedPhysSchema
    val wide = m.widenedPhysSchema
    m.colMap match {
      // the logical projection must see the UNION of the files'
      // physical columns — a plain read infers from one footer, and a
      // column only newer files carry would silently NULL-fill from
      // the declared schema. Mapped tables read with the CACHED union
      // schema (the mergeSchema footer pass runs once per version,
      // not once per query); unmapped tables keep the plain read
      // byte-for-byte.
      case Some(cm) => toLogicalDf(
        readEntries(spark, base, s.entries,
          requested = wide.orElse(
            Some(cachedPhysUnionSchema(spark, base, v)))),
        cm, m.schema)
      case None => readEntries(spark, base, s.entries, requested = wide)
    }
  }

  /** Resolve a wall-clock instant to a version (Delta `TIMESTAMP AS
    * OF` boundary rule): the LATEST version whose commit time is at
    * or before `tsMillis`; an instant before the first surviving
    * commit is an error (Delta's identical contract — an instant
    * after the last commit resolves to the latest version). Commit
    * times are the log files' modification times, the same clock
    * Delta's own timestamp resolution reads. A maintenance verb (one
    * `_log` listing), not a query-path one. */
  def versionAtTimestamp(spark: SparkSession, base: String,
                         tsMillis: Long): Long = {
    val f = fs(base, spark)
    val dir = new Path(s"$base/$LogDir")
    val versions: Seq[Long] =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq
        .flatMap(st => parseVersion(st.getPath.getName)).sorted
    require(versions.nonEmpty, noVersion(base).getMessage)
    // resolve by [[commitTimestamp]] — the in-commit stamp when the
    // version carries one (correct across table copies/migrations
    // that rewrite every mtime), the manifest mtime for pre-ICT
    // versions. Stamps are non-decreasing (ICT is clamped strictly
    // above the parent; the pre-ICT prefix's mtimes were written in
    // commit order — Delta's identical assumption), so a binary
    // search costs O(log versions) manifest reads instead of parsing
    // every version's lines.
    def stamp(i: Int): Long = commitTimestamp(spark, base, versions(i))
    if (stamp(0) > tsMillis)
      throw new IllegalArgumentException(
        s"timestamp $tsMillis (${java.time.Instant.ofEpochMilli(tsMillis)}) " +
          s"is before the earliest available version ${versions.head} " +
          s"(committed ${java.time.Instant.ofEpochMilli(stamp(0))})")
    // largest index with stamp <= tsMillis
    var lo = 0
    var hi = versions.length - 1
    while (lo < hi) {
      val mid = lo + (hi - lo + 1) / 2
      if (stamp(mid) <= tsMillis) lo = mid else hi = mid - 1
    }
    versions(lo)
  }

  /** Time-travel read at a wall-clock instant ([[versionAtTimestamp]]
    * + [[readVersion]]). */
  def readTimestampAsOf(spark: SparkSession, base: String,
                        tsMillis: Long): DataFrame =
    readVersion(spark, base, versionAtTimestamp(spark, base, tsMillis))

  /** First version whose in-commit stamp is >= `tsMillis` — the
    * START-bound ceiling rule (a floor there would leak changes
    * committed BEFORE the requested start into a feed). Some(1) when
    * the instant predates the log; None when it is after every
    * commit. */
  def versionAtOrAfterTimestamp(spark: SparkSession, base: String,
                                tsMillis: Long): Option[Long] = {
    val latest = snapshot(spark, base).cur
    val floor =
      try Some(versionAtTimestamp(spark, base, tsMillis))
      catch { case _: IllegalArgumentException => None }
    floor match {
      case None => Some(1L) // before the first commit: everything
      case Some(v) if commitTimestamp(spark, base, v) >= tsMillis =>
        Some(v)
      case Some(v) if v >= latest => None // after the last commit
      case Some(v) => Some(v + 1L)
    }
  }

  /** Pin version `v`'s commit instant (the commit file's mtime — the
    * clock [[versionAtTimestamp]] reads). Fixture/test seam: lets a
    * deterministic harness ask timestamp-travel questions without
    * sleeping between commits. The snapshot cache is purged for the
    * table: its staleness guard IS the commit mtime, so rewriting the
    * clock must drop the cached entries — a drop-and-recreate that
    * pins the SAME instants would otherwise revive the PREVIOUS
    * table's entry list (caught by the bench's repeated-invocation
    * runs: RESTORE republished a prior incarnation's dead paths). */
  def setCommitTime(spark: SparkSession, base: String, v: Long,
                    tsMillis: Long): Unit = {
    val f = fs(base, spark)
    val p = manifestPath(base, v)
    // both clocks: the in-commit `#ict` stamp (what TIMESTAMP AS OF
    // resolves by) and the file mtime (the pre-ICT fallback) — an
    // administration verb that moved only the mtime would silently
    // stop working the moment the commit carries its own stamp
    val lines = linesOf(spark, base, p)
    if (lines.exists(_.startsWith("#ict\t"))) {
      val out = f.create(p, true)
      try out.write((lines.map(l =>
        if (l.startsWith("#ict\t")) s"#ict\t$tsMillis" else l)
        .mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    f.setTimes(p, tsMillis, -1)
    cachePurge(base)
  }

  /** Snapshot read of the latest published version. */
  def read(spark: SparkSession, base: String): DataFrame =
    readAt(snapshot(spark, base))

  /** Schema-evolving snapshot read (Delta `mergeSchema` on the read
    * side): the snapshot's schema is the UNION of every live file's
    * schema — a column introduced by a later [[append]] surfaces as
    * NULL on rows from older files, matching the reference's
    * `mergeSchema=true` loads (load_bronze_to_table.py:158). Costs a
    * footer read per file at planning (why it is not the default
    * `read`): at 10^5 files that is a driver-side metadata pass, the
    * same price Spark's own mergeSchema pays. */
  def readEvolved(spark: SparkSession, base: String): DataFrame = {
    val s = snapshot(spark, base)
    val (v, m) = (s.cur, s.meta)
    val df = readEntries(spark, base, s.entries,
      requested = m.widenedPhysSchema
        .orElse(Some(cachedPhysUnionSchema(spark, base, v))))
    m.colMap match {
      // an active mapping subsumes the declared-NULL step: the logical
      // projection fills just-ALTERed columns from the declared schema
      case Some(cm) => return toLogicalDf(df, cm, m.schema)
      case None => ()
    }
    // a column DECLARED (ALTER ADD COLUMNS) but not yet present in any
    // file scans as a typed NULL, appended after the file columns —
    // the same surface Delta gives between the ALTER and the first
    // write carrying the column
    m.schema match {
      case Some(ds) =>
        val have = df.columns.map(_.toLowerCase).toSet
        ds.fields.filterNot(f => have(f.name.toLowerCase))
          .foldLeft(df)((d, f) => d.withColumn(f.name,
            org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
      case None => df
    }
  }

  /** Deletion-vector sidecar column names. The sidecar is an ordinary
    * parquet dataset of one (file-name, row-position) row per deleted
    * row, landed under its own txn dir like data files — so vacuum
    * liveness, shallow clones, and retention all treat it uniformly. */
  private[graft] val DvFileCol = "__file"
  private[graft] val DvPosCol = "__pos"

  /** Sum of dv-masked rows at/under which the anti-join side is
    * broadcast: positions are 2 small columns, so 4M rows is ~100 MB
    * serialized — inside Spark's default broadcast comfort zone. */
  private val DvBroadcastMaxRows = 4L * 1000 * 1000

  private[graft] def fileName(path: String): String = path.split('/').last

  /** Is this directory member a data part file (not a _SUCCESS marker
    * or a hidden checksum)? The one visibility rule every dir listing
    * — land, sidecar scans, existence checks — must share. */
  private[graft] def isDataFileName(n: String): Boolean =
    !n.startsWith("_") && !n.startsWith(".")

  /** The deleted (file-name, position) rows of `entries`' deletion
    * vectors — one union branch per DISTINCT sidecar dir (number of
    * MOR commits since the last purge, small), each filtered to the
    * file names that actually reference it. None when no entry has a
    * DV. */
  private[graft] def dvFrame(spark: SparkSession, base: String,
                             entries: Seq[Entry]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val dved = entries.filter(_.dv.isDefined)
    if (dved.isEmpty) None
    else Some(dved.groupBy(_.dv.get.dir).toSeq.sortBy(_._1).map {
      case (dir, es) =>
        // the name filter only trims positions of files NOT being read
        // (they can never match the anti-join) — an optimization, so
        // skip it rather than build a huge literal IN at scale
        val dirDf = readFiles(spark, Seq(resolve(base, dir)), None,
          mergeSchema = false)
        val trimmed =
          if (es.size <= 256)
            dirDf.where(col(DvFileCol).isin(es.map(e => fileName(e.path)): _*))
          else dirDf
        trimmed.select(col(DvFileCol), col(DvPosCol))
    }.reduce(_.unionAll(_)))
  }

  /** Driver-side LRU of the Spark schema in each TxLog-written parquet
    * path's footer (a sidecar dir: its files' one schema), keyed by
    * canonical path. TxLog never rewrites a published path, so an
    * entry holds until [[cachePurge]]. Only footers carrying Spark's
    * row-metadata key are cached: inference returns that stored schema
    * under any session conf. Lands seed it ([[seedFooterSchemas]]). */
  private val footerSchemaCache =
    new java.util.LinkedHashMap[String, StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean = size() > 8192
    }

  /** Cache `schema` — what Spark's parquet writer stores in a footer's
    * row-metadata key — for each just-landed base-relative file in
    * `rels` and for their dirs, whose files all share it: a sidecar
    * dir is read whole. */
  private[graft] def seedFooterSchemas(base: String, rels: Seq[String],
                                       schema: StructType): Unit = {
    val paths = rels ++ rels.map(r => r.substring(0, r.lastIndexOf('/')))
    footerSchemaCache.synchronized(paths.distinct.foreach(r =>
      footerSchemaCache.put(canonicalBase(resolve(base, r)), schema)))
  }

  /** The cached footer schema of `path`, if any. */
  private[graft] def cachedFooterSchema(path: String): Option[StructType] =
    footerSchemaCache.synchronized(
      Option(footerSchemaCache.get(canonicalBase(path))))

  /** The one schema-less read of TxLog-written parquet `paths` (data
    * files or sidecar dirs). `requested` (widened tables) wins. Else,
    * when every path's footer schema is known and identical up to
    * nullability (a file read makes every column nullable), the read
    * is pinned to it — exactly what Spark's one-footer or mergeSchema
    * inference returns, without the Spark job inference starts. Else
    * (a schema-evolved subset, a foreign footer, a failed footer read
    * such as a vacuumed file) Spark infers as before, over every file
    * when `mergeSchema`, so those reads serve and fail unchanged. */
  private[graft] def readFiles(spark: SparkSession, paths: Seq[String],
                               requested: Option[StructType],
                               mergeSchema: Boolean = true): DataFrame =
    (requested.orElse(footerSchema(spark, paths)) match {
      case Some(s) => spark.read.schema(s)
      case None if mergeSchema => spark.read.option("mergeSchema", "true")
      case None => spark.read
    }).parquet(paths: _*)

  /** The schema [[readFiles]]`(spark, paths, None)` serves, without
    * building that read when every path's footer schema is known: the
    * read's file listing starts a Spark job past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths. */
  private[graft] def filesSchema(spark: SparkSession,
                                 paths: Seq[String]): StructType =
    footerSchema(spark, paths)
      .map(org.apache.spark.sql.graftbridge.ColumnBridge.asNullable)
      .getOrElse(readFiles(spark, paths, None).schema)

  /** The one footer schema all `paths` share, if known; misses are read
    * on the driver ([[readFooters]]). */
  private def footerSchema(spark: SparkSession,
                           paths: Seq[String]): Option[StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetReadSupport, ParquetToSparkSchemaConverter}
    def onlyOne(ss: Seq[Option[StructType]]): Option[StructType] =
      ss.distinct match {
        case Some(one) +: rest if rest.forall(_.exists(s =>
            DataTypeUtils.equalsIgnoreNullability(one, s))) => Some(one)
        case _ => None
      }
    lazy val conf = spark.sessionState.newHadoopConf()
    lazy val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    // one path's footer schema as Spark's inference reads it; a dir's
    // when all its data files share one. None without Spark's stored
    // schema; a nested dir fails the footer read
    def pathSchema(path: String): Option[StructType] = {
      val p = new Path(path)
      val f = p.getFileSystem(conf)
      val st = f.getFileStatus(p)
      val files = if (!st.isDirectory) Seq(st)
        else f.listStatus(p).toSeq.filter(k => isDataFileName(k.getPath.getName))
      onlyOne(files.map { fst =>
        val meta = ParquetFileReader.readFooter(HadoopInputFile.fromStatus(
          fst, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        if (!meta.getFileMetaData.getKeyValueMetaData
            .containsKey(ParquetReadSupport.SPARK_METADATA_KEY)) None
        else Some(ParquetFileFormat.readSchemaFromFooter(
          new Footer(fst.getPath, meta), converter))
      })
    }
    val keys = paths.map(canonicalBase).distinct
    val cached = footerSchemaCache.synchronized(
      keys.flatMap(k => Option(footerSchemaCache.get(k)).map(k -> _))).toMap
    val missing = keys.filterNot(cached.contains)
    val found = scala.util.Try(readFooters(missing)(pathSchema))
      .getOrElse(Seq.empty).zip(missing).collect { case (Some(s), k) => k -> s }
    footerSchemaCache.synchronized(
      found.foreach { case (k, s) => footerSchemaCache.put(k, s) })
    val read = found.toMap
    onlyOne(keys.map(k => cached.get(k).orElse(read.get(k))))
  }

  /** Read `entries`' files with deletion vectors applied: DV-free
    * files scan untouched; DV'd files anti-join their (file, position)
    * mask on parquet's `_metadata` row index — no data file is ever
    * rewritten to serve a read. The mask is broadcast when its total
    * row count (known from the manifest) is small, so at scale the
    * common case adds a map-side filter, not a shuffle. Serves [[read]],
    * [[readVersion]] and the rewrite verbs, and [[readPoint]]/
    * [[readRanges]] only when their survivors' masks exceed the DSv2
    * driver-side limit ([[readKept]]); the mask costs its own Spark job
    * and a join-and-union plan, which the pinned DSv2 scan avoids. */
  private[graft] def readEntries(spark: SparkSession, base: String,
                                 entries: Seq[Entry],
                                 mergeSchema: Boolean = false,
                                 requested: Option[org.apache.spark.sql.types.StructType] =
                                   None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(entries.nonEmpty,
      s"cannot read an empty entry list at $base (fully-deleted snapshot)")
    // `requested` (widened tables) pins the read to an explicit
    // schema: Spark's parquet readers upcast each file to it, the
    // only shape that can serve a narrow-old/wide-new file mix
    def rd(es: Seq[Entry]) = readFiles(spark,
      es.map(e => resolve(base, e.path)), requested, mergeSchema)
    val (dved, plain) = entries.partition(_.dv.isDefined)
    val plainDf =
      if (plain.isEmpty) None
      else Some(rd(plain))
    val dvedDf =
      if (dved.isEmpty) None
      else {
        val mask0 = dvFrame(spark, base, dved).get
        val mask =
          if (dved.map(_.dv.get.rows).sum <= DvBroadcastMaxRows)
            broadcast(mask0)
          else mask0
        val raw = rd(dved)
        require(!raw.columns.contains(DvFileCol) &&
          !raw.columns.contains(DvPosCol),
          s"table schema collides with DV helper columns $DvFileCol/$DvPosCol")
        Some(raw
          .withColumn(DvFileCol, col("_metadata.file_name"))
          .withColumn(DvPosCol, col("_metadata.row_index"))
          .join(mask, Seq(DvFileCol, DvPosCol), "left_anti")
          .drop(DvFileCol, DvPosCol))
      }
    val out = (plainDf, dvedDf) match {
      // allowMissingColumns unconditionally: the two subset reads each
      // infer from their OWN files, so on a schema-evolved table whose
      // mask boundary splits old from new files they can disagree even
      // without mergeSchema — fill the gap with NULLs (what one read
      // over all files would have produced) instead of crashing
      case (Some(p), Some(d)) => p.unionByName(d, allowMissingColumns = true)
      case (Some(p), None) => p
      case (None, Some(d)) => d
      case (None, None) => throw new IllegalStateException("unreachable")
    }
    // the materialized row-id column is never part of a user surface
    dropRowId(out)
  }

  /** [[readEntries]] under snapshot `s`'s metadata. A widened table
    * (`#widencol` lines) reads through its declared schema. Any other
    * table reads the union of `entries`' own footers, by the
    * [[readFiles]] rule: when every file's cached footer schema is the
    * same, that schema is passed explicitly (no inference job); when
    * they differ, Spark's mergeSchema runs over this subset only —
    * proportional to the files being read, never O(table files) for an
    * O(band) rewrite. Every rewrite/scan verb (compact, zorder, COW
    * DML, purge, bloom, colmap seeding, constraint backfill scans)
    * reads through this with its attempt's snapshot, and
    * [[readKept]]'s fallback with its read's: a one-footer inferred
    * read of a schema-evolved (mergeSchema-on-write) subset would
    * silently DROP the columns the other footers carry, and a REWRITE
    * verb would then land the loss permanently. */
  private def readEntriesCurrent(s: Snapshot, entries: Seq[Entry],
                                 withRowIds: Boolean = false): DataFrame = {
    val (spark, base, m) = (s.spark, s.base, s.meta)
    val wide = m.widenedPhysSchema
    // REWRITE verbs (withRowIds) on a tracked table read each row's
    // stable id attached, so their landed output MATERIALIZES it —
    // ids survive compaction/ZORDER/COW DML. Scan verbs drop the
    // materialized column like every user surface.
    if (withRowIds && m.rowIdHighWater.isDefined)
      rowIdReadRaw(spark, base, entries, wide)
    else dropRowId(readEntries(spark, base, entries,
      mergeSchema = wide.isEmpty, requested = wide))
  }

  /** A fresh base-relative txn dir for one land. */
  private def newTxnDir(): String = s"$DataDir/${java.util.UUID.randomUUID()}"

  /** The one land routine: every file TxLog writes outside the DSv2
    * sink — data files and (file, position) sidecars — lands here, in
    * ONE Spark job over `df`'s `queryExecution.toRdd` whose tasks write
    * through [[graft.sources.TxLogDataWriter]] into the base-relative
    * txn `dir` and return one [[graft.sources.TxLogFileResult]] per
    * file: path, rows and the inline stats on the top-level
    * `statsCols`. The parquet writer ([[graft.sources.TxLogParquetOut]])
    * reaches the tasks as a broadcast, destroyed after the job. There
    * is no commit protocol: names are unique per task attempt, a failed
    * attempt deletes its own files, and one listing after the job
    * deletes any file no result names. The files reference no manifest
    * yet, so readers cannot see them; a transaction stages `dir` before
    * calling, so a failed land is its cleanup's to delete. `pIdx` (the
    * partition columns' indices) rolls a file per tuple, so callers
    * cluster and sort the input by them first. Each file's footer
    * schema seeds [[readFiles]]' cache, so the first read of a fresh
    * file opens no footer. */
  private[graft] def landFiles(df: DataFrame, base: String, dir: String,
                               statsCols: Seq[String] = Seq.empty,
                               pIdx: Seq[Int] = Seq.empty)
      : Seq[graft.sources.TxLogFileResult] = {
    import graft.sources.{TxLogDataWriter, TxLogParquetOut}
    val spark = df.sparkSession
    val qe = df.queryExecution
    // the optimized plan's schema, as `df.write` writes: the optimizer
    // may prove a column non-null that the analyzed plan could not
    val schema = qe.optimizedPlan.schema
    val out = spark.sparkContext.broadcast(TxLogParquetOut(schema, spark))
    val files = try {
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
          qe, Some(s"txlog land $dir")) {
        val rdd = qe.toRdd
        // an unpartitioned land always leaves a file (partition 0's,
        // empty when the batch is), as Spark's own writer does: it
        // carries the batch's schema for readers of an empty version
        val parts = if (rdd.partitions.nonEmpty) rdd
          else spark.sparkContext.parallelize(
            Seq.empty[org.apache.spark.sql.catalyst.InternalRow], 1)
        parts.mapPartitionsWithIndex { (pid, rows) =>
          val w = new TxLogDataWriter(base, dir, TxLogDataWriter.stem(dir,
              pid, org.apache.spark.TaskContext.get().taskAttemptId()),
            schema, statsCols, out.value, pIdx,
            eager = pid == 0 && pIdx.isEmpty)
          try {
            rows.foreach(w.write)
            Iterator.single(w.commit()
              .asInstanceOf[graft.sources.TxLogWriterMessage].files)
          } catch { case e: Throwable => w.abort(); throw e }
        }.collect().toSeq.flatten
      }
    } finally out.destroy()
    val f = fs(base, spark)
    val named = files.map(r => fileName(r.path)).toSet
    val root = new Path(s"$base/$dir")
    if (f.exists(root)) f.listStatus(root).foreach(st =>
      if (!named.contains(st.getPath.getName)) f.delete(st.getPath, true))
    seedFooterSchemas(base, files.map(_.path), schema)
    files
  }

  /** [[landFiles]] of `df` split by the partition columns `pcols` (none:
    * as it comes): a hash shuffle on the tuple, sorted within each
    * task, so each tuple lands as one file per commit (more only past
    * `spark.sql.files.maxRecordsPerFile` — every piece carries the same
    * exact stats). */
  private def landSplit(df: DataFrame, base: String, dir: String,
                        pcols: Seq[String], statsCols: Seq[String])
      : Seq[graft.sources.TxLogFileResult] =
    if (pcols.isEmpty) landFiles(df, base, dir, statsCols)
    else {
      import org.apache.spark.sql.functions.col
      val keys = pcols.map(col)
      landFiles(df.repartition(keys: _*).sortWithinPartitions(keys: _*),
        base, dir, statsCols,
        pcols.map(c => df.schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))))
    }

  /** Land `df`'s files under a fresh txn dir, no stats collected
    * ([[landFiles]]), and return their base-relative paths, for
    * [[publish]]. */
  private[graft] def land(df: DataFrame, base: String,
                          pcols: Seq[String] = Seq.empty): Seq[String] =
    landSplit(df, base, newTxnDir(), pcols, Seq.empty).map(_.path)

  private[graft] def statsDtype(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => "long"
      case FloatType | DoubleType => "double"
      case DateType => "date"
      case StringType => "string"
      // event-time clustering, THE 100 TB fact layout: stats stored as
      // epoch SECONDS (cast to long floors sub-second — sound for
      // range overlap because floor is monotone, and the row-level
      // residual still applies exactly)
      case TimestampType => "long"
      case other => throw new IllegalArgumentException(
        s"unsupported stats column type $other (long/double/date/string)")
    }
  }

  /** A predicate value's stats-repr string. Floats MUST widen through
    * toDouble: the stats themselves were collected via a double cast
    * (1.1f → "1.100000023841858"), so stringifying the float directly
    * ("1.1") would parse to a DIFFERENT double and unsoundly prune —
    * or fail to touch — the files holding the matching rows (the same
    * hazard TxLogSource.valueRepr documents for the DSv2 path). */
  private[graft] def reprOf(v: Any): String = v match {
    case f: java.lang.Float => f.floatValue().toDouble.toString
    // timestamp predicates compare against epoch-SECONDS stats (the
    // floor both sides keeps range overlap sound — see statsDtype)
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L).toString
    case i: java.time.Instant => i.getEpochSecond.toString
    case other => other.toString
  }

  /** Land `df` with per-file (rows, min, max) on each of `statsCols`
    * ([[landEntriesChecked]]). */
  private[graft] def landEntriesMulti(t: Txn, df: DataFrame,
                                      statsCols: Seq[String],
                                      recomputeGenerated: Boolean = false,
                                      pendingDeclared: Set[String] = Set.empty)
      : Seq[Entry] =
    landEntriesChecked(t, df, statsCols,
      recomputeGenerated = recomputeGenerated,
      pendingDeclared = pendingDeclared)._1

  /** [[landEntriesMulti]] that also returns the CHECK-constraint set
    * the landed batch was enforced under — the CAS retry loops compare
    * against it to detect concurrent constraint changes (including a
    * drop-then-re-add of the same name, which a before-land snapshot
    * would miss). The landed files are staged to `t` before the
    * constraint scan, so a veto leaves nothing behind. */
  private[graft] def landEntriesChecked(t: Txn, df: DataFrame,
                                        statsCols: Seq[String],
                                        guardIdentity: Boolean = false,
                                        recomputeGenerated: Boolean = false,
                                        pendingDeclared: Set[String] =
                                          Set.empty)
      : (Seq[Entry], Map[String, String]) = {
    val spark = df.sparkSession
    val base = t.base
    // the attempt's snapshot serves every meta check below
    val m = t.meta
    if (guardIdentity)
      failOnIdentityClash(m.identity.keySet, df.columns.toSeq)
    // GENERATED ALWAYS AS: compute every declared column the batch
    // omits (before landing — the computed value may also be the
    // partition split key); supplied ones validate below via the
    // constraint scan (`col <=> expr`, one shared aggregate pass).
    // Rewrite paths (UPDATE/MERGE images whose SOURCE columns may
    // have changed) pass recomputeGenerated — the stale derived value
    // is dropped and re-derived instead of failing validation,
    // Delta's own recompute-on-update rule.
    val gens = m.generated
    val cmapParsed = m.colMap
    val df0 =
      if (!recomputeGenerated || gens.isEmpty) df
      else {
        val genPhys = gens.map { case (c, _) =>
          cmapParsed.map(_.physical(c)).getOrElse(c) }
        df.drop(df.columns.filter(x => genPhys.exists(_.equalsIgnoreCase(x))
          || gens.exists(_._1.equalsIgnoreCase(x))).toIndexedSeq: _*)
      }
    val df2x = applyGeneratedColumns(spark, base, df0, gens, cmapParsed)
    // column DEFAULTs: fill whatever the batch omits AFTER generated
    // compute (a generated column never takes a default — the ALTER
    // vetoes the combination, so order is only about clarity)
    val df2 = applyDefaultColumns(spark, df2x, m.defaults, cmapParsed,
      m.schema, t.read.flatMap(v =>
        scala.util.Try(cachedPhysUnionSchema(spark, base, v)).toOption))
    // widened tables pin every read to the DECLARED schema — a batch
    // carrying a column outside it would land bytes no read can ever
    // serve (silently unreachable data, where an unwidened table
    // surfaces the column via union reads). Loud veto: declare the
    // column first (ALTER TABLE ... ADD COLUMNS), then write.
    m.widenedPhysSchema.foreach { wide =>
      // `pendingDeclared` (physical, lowercased) are columns the
      // CALLING verb will declare in the SAME commit that references
      // these files (merge schema evolution) — readable the instant
      // they are visible, so the veto admits them
      val declaredPhys = wide.fieldNames.map(_.toLowerCase).toSet ++
        pendingDeclared + RowIdCol.toLowerCase // engine-internal
      val extra = df2.columns.filterNot(c =>
        declaredPhys.contains(c.toLowerCase))
      require(extra.isEmpty,
        s"write to the widened table at $base carries column(s) " +
          s"${extra.mkString(", ")} outside the declared schema — " +
          "widened tables read through the declared schema, so these " +
          "bytes would be unreachable; ALTER TABLE ... ADD COLUMNS " +
          "first, then write")
    }
    val cons = m.constraints
    val entries = landEntriesRaw(df2, base, statsCols, m.partitions,
      m.varStats, t.stageDir(newTxnDir()))
    // the one choke point every data write passes through — CHECK
    // constraints veto the batch here, before any manifest publishes
    val genChecks = gens.map { case (c, ex) =>
      s"_generated_$c" -> generatedCheckExpr(c, ex) }.toMap
    enforceConstraints(t.snapshot, entries.filter(_.rows != 0L),
      cons ++ genChecks)
    (entries, cons)
  }

  /** Land `df` into the base-relative txn `dir` ([[landFiles]], split by
    * the partition columns `pcols`) and return its manifest entries:
    * per-file row counts (always — metadata COUNT(*), live-row
    * compaction sizing and full-mask entry drops run on them) and
    * min/max on the partition columns plus `statsCols`, plus the
    * declared variant-path stats `varStats` whose column the batch
    * carries. The writer tracks the stats inline; [[landedEntries]]
    * re-collects them by scan when it cannot render them exactly. No
    * constraint enforcement — the DSv2 sink's shape (executors land,
    * the driver commit enforces); tests use it to mimic that path. API
    * verbs go through [[landEntriesChecked]]. */
  private[graft] def landEntriesRaw(df: DataFrame, base: String,
                                    statsCols: Seq[String],
                                    pcols: Seq[(String, String)] = Seq.empty,
                                    varStats: Seq[(String, String, String)] =
                                      Seq.empty,
                                    dir: String = newTxnDir())
      : Seq[Entry] = {
    import org.apache.spark.sql.functions.{col, try_variant_get}
    // a partitioned table's batches MUST carry every partition column
    // (Delta rejects the same), and partition columns are always
    // stats-collected (their per-file exact value — min==max by the
    // one-tuple-per-file split — IS the partition pruning index)
    val have = df.columns.map(_.toLowerCase).toSet
    val missingP = pcols.map(_._1).filterNot(c => have.contains(c.toLowerCase))
    require(missingP.isEmpty,
      s"write to a partitioned table must supply partition column(s) " +
        s"${missingP.mkString(", ")}")
    // fail fast: a missing column or unsupported type must surface
    // BEFORE the (possibly huge) data write, not orphan a landed dir.
    // Stats columns may be NESTED paths ("s.x" — Delta skips on
    // nested-leaf stats too): the dtype resolves by path walk, and
    // the collection aggregate's col("s.x") reaches the leaf.
    val pNames = pcols.map(_._1.toLowerCase).toSet
    val dtypes = pcols ++ statsCols.filterNot(c => pNames.contains(c.toLowerCase))
      .map(c => c -> statsDtype(dataTypeAt(df.schema, c)))
    // a declared path whose column this batch doesn't carry (schema
    // evolution) is skipped — its entries stay conservatively scanned,
    // sound, until the column lands again or a maintenance re-collect
    val variants = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.VariantType] =>
        f.name.toLowerCase -> f.name
    }.toMap
    val varSpecs = varStats.flatMap { case (c, p, t) =>
      // the KEY keeps the declared physical casing (Entry.statsFor is
      // exact-match); only column RESOLUTION follows the batch's
      variants.get(c.toLowerCase).map { actual =>
        val (dtype, sparkT) = variantStatsTarget(t)
        (s"$c$p", try_variant_get(col(actual), p, sparkT), dtype)
      }
    }
    // the writer tracks top-level columns whose batch type has the
    // declared dtype; nested leaves and variant paths take the scan
    val tracked = varSpecs.isEmpty && dtypes.forall { case (c, t) =>
      df.schema.fields.exists(f => f.name.equalsIgnoreCase(c) &&
        scala.util.Try(statsDtype(f.dataType)).toOption.contains(t))
    }
    val files = landSplit(df, base, dir, pcols.map(_._1),
      if (tracked) dtypes.map(_._1) else Seq.empty)
    landedEntries(df.sparkSession, base, files,
      dtypes.map { case (c, t) => (c, col(c), t) } ++ varSpecs, tracked)
  }

  /** Manifest entries for just-landed `files`, stats keyed by `specs`
    * (stats key, source expression, dtype). The writer's inline stats
    * serve when `tracked` and every file's are exact; otherwise one
    * [[statsByFile]] scan of the files' dirs re-collects them all. That
    * scan is what the stats strings are defined by — inline stats are
    * byte-equal to it (TxFooterStatsSpec pins the pair per type), and
    * the shapes the tracker cannot render exactly (NaN, ±0.0, dates
    * outside 0001–9999, nested leaves, variant paths) take it. A file
    * that is all-NULL in a stats column gets no stats FOR THAT COLUMN
    * and is treated as always-overlapping there. */
  private[graft] def landedEntries(spark: SparkSession, base: String,
                                   files: Seq[graft.sources.TxLogFileResult],
                                   specs: Seq[(String,
                                     org.apache.spark.sql.Column, String)],
                                   tracked: Boolean = true): Seq[Entry] =
    if (files.isEmpty) Seq.empty
    else if (tracked && files.forall(_.exact))
      files.map(f => Entry(f.path, f.rows, f.stats.map {
        case (c, t, mn, mx) => ColStats(c, t, mn, mx) }))
    else {
      val dirs = files.map(f =>
        resolve(base, f.path.substring(0, f.path.lastIndexOf('/')))).distinct
      val byFile = statsByFile(spark.read.parquet(dirs: _*), specs)
      val keys = specs.map { case (k, _, t) => (k, t) }
      files.map(f => entryFromStats(f.path, byFile, keys))
    }

  /** Per-file row counts and min/max stats for `raw` (any parquet
    * read), keyed by file NAME: one aggregate scan with map-side
    * combine, one tiny row per file back on the driver. Shared by
    * [[landedEntries]]' fallback and [[convertParquet]]. Each spec is
    * (stats key, source EXPRESSION, dtype) — plain columns pass
    * `col(c)`; the declared variant-path stats ([[declareVariantStats]])
    * pass the `try_variant_get` extraction, so a semi-structured batch
    * collects typed skipping stats in the SAME single scan as its
    * siblings. */
  private def statsByFile(raw: DataFrame,
                          specs: Seq[(String, org.apache.spark.sql.Column, String)])
      : Map[String, org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    val aggs = count(lit(1)).as("__rows") +:
      specs.zipWithIndex.flatMap { case ((_, ex, t), i) =>
        val castT = castType(t)
        Seq(min(ex.cast(castT)).cast("string").as(s"__min$i"),
          max(ex.cast(castT)).cast("string").as(s"__max$i"))
      }
    raw.groupBy(element_at(split(col("_metadata.file_path"), "/"), -1)
        .as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per file — bounded driver metadata
      .map(r => r.getString(0) -> r)
      .toMap
  }

  /** The one footer harvest ([[readFiles]]): `f` over `paths` on a
    * bounded driver pool, so 10⁴ files pay O(files/threads) open
    * round-trips; one path runs inline. The first failure is rethrown
    * unwrapped and cancels the queued reads. */
  private def readFooters[T](paths: Seq[String])(f: String => T): Seq[T] =
    if (paths.size <= 1) paths.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(paths.size, Runtime.getRuntime.availableProcessors))
      var done = false
      try {
        val futs = paths.map(p => pool.submit(
          new java.util.concurrent.Callable[T] { def call(): T = f(p) }))
        val out = futs.map(_.get())
        done = true
        out
      } catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      } finally if (done) pool.shutdown() else pool.shutdownNow()
    }

  private def entryFromStats(rel: String,
                             byFile: Map[String, org.apache.spark.sql.Row],
                             keys: Seq[(String, String)]): Entry =
    byFile.get(rel.split('/').last) match {
      case Some(r) =>
        val cols = keys.zipWithIndex.flatMap { case ((c, t), i) =>
          (Option(r.getString(2 + 2 * i)), Option(r.getString(3 + 2 * i))) match {
            case (Some(mn), Some(mx)) => Some(ColStats(c, t, mn, mx))
            case _ => None // all-NULL column in this file
          }
        }
        Entry(rel, r.getLong(1), cols)
      case None => Entry(rel, 0L, Nil) // empty file: no rows scanned
    }

  /** In-place conversion of an existing flat parquet directory into a
    * txlog table (Delta `CONVERT TO DELTA` analog): publish a v1
    * manifest referencing the part files WHERE THEY ARE — zero data
    * copied or moved, one metadata scan computes per-file row counts
    * and min/max stats on `statsCols` so skipping works immediately.
    * From then on every verb (append, DML, OPTIMIZE, streaming)
    * behaves as if the table were born on the log; rewrites land
    * under `data/` and supersede the root files, and [[vacuum]]
    * reclaims superseded root-level files the same way it reclaims
    * txn dirs. Hive-partitioned layouts (`k=v/` subdirs) are out of
    * scope — their partition values live in paths, not files; read
    * and re-commit those once. Fails on a directory that already has
    * committed versions. Returns the published version (1). */
  def convertParquet(spark: SparkSession, base: String,
                     statsCols: Seq[String] = Nil): Long =
    txn(spark, base, maxAttempts = 1) { t =>
      require(t.read.isEmpty,
        s"$base already has committed versions — convert targets a plain " +
          "parquet directory")
      val f = fs(base, spark)
      val root = new Path(base)
      require(f.exists(root), s"$base does not exist")
      val rootFiles = f.listStatus(root).toSeq
        .filter(st => st.isFile && isDataFileName(st.getPath.getName))
        .map(_.getPath.getName).sorted
      require(rootFiles.nonEmpty,
        s"no parquet part files directly under $base (hive-partitioned " +
          "subdirectory layouts are not convertible in place)")
      val paths = rootFiles.map(n => s"$base/$n")
      val schema = spark.read.parquet(paths: _*).schema
      val dtypes = statsCols.map(c => c -> statsDtype(schema(c).dataType))
      val byFile = statsByFile(spark.read.parquet(paths: _*),
        dtypes.map { case (c, dt) =>
          (c, org.apache.spark.sql.functions.col(c), dt) })
      val entries = rootFiles.map(entryFromStats(_, byFile, dtypes))
      t.publish(entries, Map.empty, operation = "CONVERT")
    }

  /** Verify every row of `newEntries`' just-landed files against the
    * GIVEN CHECK-constraint set (SQL semantics: a row fails only when
    * the expression is FALSE — NULL/unknown passes; a column the new
    * files lack — an older-schema producer after evolution — reads as
    * NULL and passes too). One aggregate scan over the NEW files
    * only, and only when constraints exist. A violation (or an error
    * evaluating a constraint) throws; the caller's transaction deletes
    * the staged files. The caller supplies `cons` (one
    * read it already did); recording WHICH set was enforced is what
    * lets the CAS retry loops detect a drop-then-re-add of the same
    * constraint between their read and the land (the ABA shape). */
  private[graft] def enforceConstraints(s: Snapshot, newEntries: Seq[Entry],
                                        cons0: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    if (newEntries.isEmpty) return
    val cons = cons0.toSeq.sortBy(_._1)
    if (cons.isEmpty) return
    // constraint expressions are stored in LOGICAL names; landed
    // files carry physical ones — evaluate on the logical view
    // (identity when the table has no mapping)
    val (spark, base) = (s.spark, s.base)
    val raw = s.logical(
      readFiles(spark, newEntries.map(e => resolve(base, e.path)), None,
        mergeSchema = false))
    // columns a constraint references but the new files lack (an
    // older-schema batch) evaluate as NULL — SQL CHECK passes
    val present = raw.columns.map(_.toLowerCase).toSet
    val missing = cons.flatMap { case (_, ex) =>
      spark.sessionState.sqlParser.parseExpression(ex).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 => a.name
      }
    }.distinct.filterNot(c => present.contains(c.toLowerCase))
    val df = missing.foldLeft(raw)((d, c) => d.withColumn(c, lit(null)))
    val aggs = cons.zipWithIndex.map { case ((_, ex), i) =>
      sum(when(!coalesce(expr(ex), lit(true)), 1L).otherwise(0L))
        .as(s"__vio_$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cons.zipWithIndex.foreach { case ((n, ex), i) =>
      if (!row.isNullAt(i) && row.getLong(i) > 0)
        throw new ConstraintViolationException(n, ex, row.getLong(i))
    }
  }

  /** Re-verify `entries` when the table's constraint set changed
    * since `checked` (the set enforcement ACTUALLY ran under) — the
    * concurrent-ADD-CONSTRAINT race: a writer that landed and was
    * checked under the old set, lost the CAS to a constraint publish,
    * and is about to republish its data under the NEW set. Returns
    * the set in force at `t`'s snapshot — the version the data
    * publishes on top of — for the next retry. Mirrors Delta's
    * metadata-conflict handling, but re-validates instead of
    * aborting. */
  private[graft] def reEnforceIfChanged(t: Txn, entries: Seq[Entry],
                                        checked: Map[String, String])
      : Map[String, String] = {
    val now = t.meta.constraints
    if (now != checked)
      enforceConstraints(t.snapshot, entries, now)
    now
  }

  /** Add a CHECK constraint (Delta `ALTER TABLE … ADD CONSTRAINT`
    * analog): the EXISTING table is validated first — exactly like
    * Delta, a table already violating the expression rejects the
    * constraint — then the same entries republish with the new
    * `#constraint` meta line. Every subsequent write (commit, append,
    * the exactly-once sink, `df.write`, COW rewrites, MOR appended
    * images) is checked against it at land time and aborts cleanly on
    * violation. Returns the published version. */
  def addConstraint(spark: SparkSession, base: String, name: String,
                    checkExpr: String, maxAttempts: Int = 5): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    require(name.trim.nonEmpty && checkExpr.trim.nonEmpty,
      "constraint name and expression must be non-empty")
    // the prefix is reserved for the synthetic generated-column
    // validation entries — a user constraint under it would be
    // silently shadowed at land time (map-key collision)
    require(!name.startsWith("_generated_"),
      s"constraint name '$name' uses the reserved _generated_ prefix")
    expr(checkExpr) // parse up front: an unparseable expression must
                    // fail HERE, not poison every later write — the
                    // empty-table path below never evaluates it
    txn(spark, base, maxAttempts) { t =>
      val (cur, entries) = (t.cur, t.entries)
      val m = t.meta
      require(!m.constraints.contains(name),
        s"constraint '$name' already exists")
      val bad =
        if (entries.isEmpty) 0L
        else t.snapshot.logical(readEntriesCurrent(t.snapshot, entries))
          .where(!coalesce(expr(checkExpr), lit(true))).count()
      if (bad > 0) throw new ConstraintViolationException(name, checkExpr, bad)
      t.publish(entries,
        operation = "ADD CONSTRAINT",
        meta = _.copy(constraints = m.constraints + (name -> checkExpr)))
    }
  }

  /** Widen the declared schema (Delta `ALTER TABLE … ADD COLUMNS`
    * analog): publish a metadata-only commit whose `#schema` line is
    * the current schema extended with `cols` — no data file moves or
    * rewrites, the new columns scan as NULL until something writes
    * them, and time travel to an earlier version shows that version's
    * own (narrower) schema because the line is versioned with the
    * log. New columns must be nullable (there is no backfill — the
    * same restriction Delta enforces for columns without defaults)
    * and must not collide case-insensitively with existing ones.
    * `baseSchema` seeds the current schema for callers that know it
    * from a richer source (the catalog's declared-schema sidecar);
    * otherwise it is the prior `#schema` line, falling back to the
    * union-of-files schema. Stamped `#nodatachange`: no row changed,
    * so the change feeds skip the version. Returns it. */
  def alterAddColumns(spark: SparkSession, base: String,
                      cols: org.apache.spark.sql.types.StructType,
                      baseSchema: Option[org.apache.spark.sql.types.StructType] =
                        None,
                      maxAttempts: Int = 5): Long = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    cols.foreach(f => require(f.nullable,
      s"new column '${f.name}' must be nullable — existing rows have " +
        "no value for it (Delta's identical restriction)"))
    require(cols.map(_.name.toLowerCase).distinct.size == cols.size,
      "duplicate names in the ADD COLUMNS list")
    txn(spark, base, maxAttempts) { t =>
      val (cur, entries) = (t.cur, t.entries)
      val m = t.meta
      val cmOpt = m.colMap
      val existing = m.schema
        .orElse(baseSchema)
        .getOrElse {
          require(entries.nonEmpty,
            s"cannot ALTER an empty table at $base with no declared " +
              "schema — create it with one, or write data first")
          val raw = readEntriesCurrent(t.snapshot, entries)
          // under a mapping the declared schema must carry LOGICAL
          // names — the raw file schema is physical
          cmOpt.map(cm => toLogicalDf(raw, cm, None)).getOrElse(raw).schema
        }
      val have = existing.fieldNames.map(_.toLowerCase).toSet ++
        cmOpt.toSeq.flatMap(_.logicalNames.map(_.toLowerCase))
      cols.foreach(f => require(!have(f.name.toLowerCase),
        s"column '${f.name}' already exists (resolution is " +
          "case-insensitive, like Spark's)"))
      // with active column mapping every new column is born under a
      // FRESH physical name (`c<id>_<name>`): a column DROPped and
      // later re-ADDed must scan as NULL, never as the dropped bytes.
      val cmExt = cmOpt.map(cm =>
        colMapWithAdded(t.snapshot, entries, cm, cols.fields.toSeq))
      t.publish(entries,
        dataChange = false, operation = "ADD COLUMNS",
        meta = _.copy(schema = Some(org.apache.spark.sql.types.StructType(
          existing.fields ++ cols.fields)), colMap = cmExt))
    }
  }

  /** Extend a column mapping with FRESH physical names for `added`
    * logical columns (the ADD COLUMNS / merge-schema-evolution rule):
    * `c<id>_<name>`, collision-probed against both current physicals
    * and any column a live file carries — a column DROPped and later
    * re-ADDed must scan as NULL, never as the dropped bytes. */
  private def colMapWithAdded(s: Snapshot, entries: Seq[Entry], cm: ColMap,
                              added: Seq[org.apache.spark.sql.types.StructField])
      : ColMap = {
    val taken = scala.collection.mutable.Set[String](
      cm.cols.map(_._2.toLowerCase) ++
        (if (entries.isEmpty) Nil
         else readEntriesCurrent(s, entries)
           .columns.map(_.toLowerCase).toSeq): _*)
    var next = cm.nextId
    val newCols = added.map { f =>
      var p = s"c${next}_${f.name}"
      next += 1
      while (taken.contains(p.toLowerCase)) {
        p = s"c${next}_${f.name}"; next += 1
      }
      taken += p.toLowerCase
      f.name -> p
    }
    cm.copy(cols = cm.cols ++ newCols, nextId = next)
  }

  /** TOP-LEVEL column names a CHECK-constraint expression references
    * (lowercased) — the dependency probe RENAME/DROP COLUMN runs. A
    * multi-part reference (`s.x`, a struct path) depends on its HEAD
    * column: dropping or renaming the parent struct would silently
    * orphan the nested reference, so `s.x` registers a dependency on
    * `s` (the r13 nested audit's veto rule, extended to the
    * dependency probe). */
  private def constraintRefLowers(spark: SparkSession, ex: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(ex).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head.toLowerCase
    }.toSet

  /** RENAME/DROP guard: the column must not be referenced by a CHECK
    * constraint (its stored expression would silently stop matching —
    * Delta blocks dependent constraints identically) and must not be
    * an IDENTITY column (the high-water line is keyed on it). */
  private def requireNoDependents(s: Snapshot, logical: String,
                                  physical: String, verb: String): Unit = {
    val (spark, m) = (s.spark, s.meta)
    val dependents = m.constraints.filter {
      case (_, ex) => constraintRefLowers(spark, ex)
        .contains(logical.toLowerCase)
    }.keys.toSeq.sorted
    require(dependents.isEmpty,
      s"cannot $verb column '$logical': CHECK constraint(s) " +
        s"${dependents.mkString(", ")} reference it — drop them first")
    require(!m.identity.keySet.exists(_.equalsIgnoreCase(physical)),
      s"cannot $verb column '$logical': it is a GENERATED ALWAYS " +
        "IDENTITY column")
    // a dangling #generatedcol line (unresolvable expression, or a
    // vanished target column) would brick every later write — the
    // exact dependency rule Delta applies to generated columns
    val gens = m.generated
    require(!gens.exists(_._1.equalsIgnoreCase(logical)),
      s"cannot $verb column '$logical': it is GENERATED ALWAYS AS")
    val genDeps = gens.filter { case (_, ex) =>
      constraintRefLowers(spark, ex).contains(logical.toLowerCase)
    }.map(_._1)
    require(genDeps.isEmpty,
      s"cannot $verb column '$logical': generated column(s) " +
        s"${genDeps.mkString(", ")} derive from it")
  }

  /** FULL dotted attribute paths a CHECK/generated expression
    * references (lowercased) — the nested verbs' dependency probe:
    * renaming `s.x` must be blocked both by a constraint on `s.x`
    * (its reference would dangle) and by one on `s` alone (the whole-
    * struct comparison's shape changes). */
  private def constraintRefPaths(spark: SparkSession, ex: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(ex).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.map(_.toLowerCase).mkString(".")
    }.toSet

  /** Nested RENAME/DROP guard: veto when a CHECK constraint or
    * generated column references the exact path OR its parent struct. */
  private def requireNoNestedDependents(s: Snapshot, path: String,
                                        verb: String): Unit = {
    val spark = s.spark
    val lower = path.toLowerCase
    val top = lower.takeWhile(_ != '.')
    def hits(ex: String): Boolean = {
      val refs = constraintRefPaths(spark, ex)
      refs.contains(lower) || refs.contains(top)
    }
    val m = s.meta
    val dependents = m.constraints
      .filter { case (_, ex) => hits(ex) }.keys.toSeq.sorted
    require(dependents.isEmpty,
      s"cannot $verb nested column '$path': CHECK constraint(s) " +
        s"${dependents.mkString(", ")} reference it (or its parent " +
        "struct) — drop them first")
    val genDeps = m.generated.filter {
      case (c, ex) => c.equalsIgnoreCase(path) || hits(ex) }.map(_._1)
    require(genDeps.isEmpty,
      s"cannot $verb nested column '$path': generated column(s) " +
        s"${genDeps.mkString(", ")} depend on it")
  }

  /** Split-and-validate a tier-2 nested path: exactly one struct
    * level (`a.b`), parent bound in the mapping. Returns the STORED
    * spelling of the parent's logical name plus the leaf. */
  private def nestedParts(cm: ColMap, path: String): (String, String) = {
    val parts = path.split('.')
    require(parts.length == 2,
      s"nested column paths support exactly one struct level " +
        s"(parent.field), got '$path'")
    val top = cm.topCols.find(_._1.equalsIgnoreCase(parts(0)))
      .getOrElse(throw new IllegalArgumentException(
        s"column '${parts(0)}' does not exist " +
          s"(table columns: ${cm.topCols.map(_._1).mkString(", ")})"))._1
    (top, parts(1))
  }

  /** Seed the tier-2 identity bindings for struct `top` (physical
    * subfield names frozen as-is — the first nested verb's lazy
    * upgrade, zero data moves): one (`top.f` → `phys.f`) entry per
    * subfield the files or the declared schema carry. No-op when the
    * struct already has nested bindings. */
  private def seedNested(s: Snapshot, cm: ColMap, top: String): ColMap = {
    if (cm.nestedUnder(top).nonEmpty) return cm
    val m = s.meta
    require(m.widened.isEmpty,
      "nested column mapping on a type-widened table is not supported")
    val p = cm.physical(top)
    val fileFields: Seq[String] =
      if (s.entries.isEmpty) Seq.empty
      else readEntriesCurrent(s, s.entries)
        .schema.fields.find(_.name.equalsIgnoreCase(p))
        .map(_.dataType).toSeq.flatMap {
          case st: org.apache.spark.sql.types.StructType =>
            st.fieldNames.toSeq
          case other => throw new IllegalArgumentException(
            s"'$top' is not a struct column (files store $other)")
        }
    val declOnly = m.schema
      .flatMap(_.fields.find(_.name.equalsIgnoreCase(top)))
      .map(_.dataType).toSeq.flatMap {
        case st: org.apache.spark.sql.types.StructType =>
          st.fieldNames.toSeq
        case _ => Seq.empty
      }.filterNot(n => fileFields.exists(_.equalsIgnoreCase(n)))
    val all = fileFields ++ declOnly
    require(all.nonEmpty, s"'$top' is not a struct column")
    cm.copy(cols = cm.cols ++ all.map(n => s"$top.$n" -> s"$p.$n"))
  }

  /** The version's column mapping, or the identity seed derived from
    * its current schema — the lazy upgrade a first RENAME/DROP COLUMN
    * performs (existing physical names are frozen as-is; zero data
    * moves). */
  private def colMapOrSeed(s: Snapshot): ColMap = {
    val m = s.meta
    m.colMap.getOrElse {
      val fileFields: Seq[String] =
        if (s.entries.isEmpty) Seq.empty
        else readEntriesCurrent(s, s.entries)
          .schema.fieldNames.toSeq
      val declaredOnly = m.schema
        .map(_.fieldNames.toSeq).getOrElse(Seq.empty)
        .filterNot(d => fileFields.exists(_.equalsIgnoreCase(d)))
      val all = fileFields ++ declaredOnly
      require(all.nonEmpty,
        s"cannot derive a schema for ${s.base} (no files, no declared schema)")
      ColMap(all.map(n => n -> n), 1)
    }
  }

  /** RENAME COLUMN (Delta column-mapping name mode): rebind `from`'s
    * logical name to `to` — a metadata-only commit; ZERO data files
    * move or rewrite, because files, manifest stats, bloom refs and
    * identity lines are keyed on the column's frozen PHYSICAL name.
    * The first rename upgrades the table to column mapping (protocol
    * (2,2) — pre-mapping engines fail loudly instead of serving stale
    * names). Time travel below the rename shows the old name (the
    * `#colmap` line is versioned with the log). Blocked while a CHECK
    * constraint references the column or it is an IDENTITY column —
    * Delta's identical dependency rule. Returns the published
    * version. */
  def renameColumn(spark: SparkSession, base: String, from: String,
                   to: String, maxAttempts: Int = 5): Long = {
    if (from.contains("."))
      return renameNestedColumn(spark, base, from, to, maxAttempts)
    require(to.trim.nonEmpty && !to.contains(".") && !to.contains("\t") &&
      !to.contains("\n"), s"invalid column name '$to'")
    txn(spark, base, maxAttempts) { t =>
      val (cur, entries) = (t.cur, t.entries)
      val cm = colMapOrSeed(t.snapshot)
      require(cm.hasLogical(from), s"column '$from' does not exist " +
        s"(table columns: ${cm.logicalNames.mkString(", ")})")
      require(from.equalsIgnoreCase(to) || !cm.hasLogical(to),
        s"column '$to' already exists (resolution is case-insensitive)")
      requireNoDependents(t.snapshot, from, cm.physical(from),
        "rename")
      val renamed = cm.copy(cols = cm.cols.map { case (l, p) =>
        if (l.equalsIgnoreCase(from)) (to, p) else (l, p)
      })
      val m = t.meta
      val newDeclared = m.schema.map(ds =>
        org.apache.spark.sql.types.StructType(ds.fields.map(f =>
          if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f)))
      // the DEFAULT binding follows the rename (Delta preserves
      // column metadata through renames) — leaving it under the old
      // name would dangle and silently stop filling
      val newDefaults = m.defaults.map {
        case (c, ex) if c.equalsIgnoreCase(from) => (to, ex)
        case other => other
      }
      t.publish(entries,
        dataChange = false, operation = "RENAME COLUMN",
        meta = _.copy(colMap = Some(renamed), schema = newDeclared,
          defaults = newDefaults))
    }
  }

  /** DROP COLUMN (Delta column-mapping name mode): remove the logical
    * binding — metadata-only; the physical bytes stay in existing
    * files (reclaimed as files naturally rewrite) but can never
    * resurface, because [[alterAddColumns]] gives a re-ADDed column of
    * the same name a fresh physical name. Upgrades to column mapping
    * like [[renameColumn]]; same dependency blocks; cannot drop the
    * last column. Returns the published version. */
  def dropColumn(spark: SparkSession, base: String, name: String,
                 maxAttempts: Int = 5): Long = {
    if (name.contains("."))
      return dropNestedColumn(spark, base, name, maxAttempts)
    txn(spark, base, maxAttempts) { t =>
      val (cur, entries) = (t.cur, t.entries)
      val cm = colMapOrSeed(t.snapshot)
      require(cm.hasLogical(name), s"column '$name' does not exist " +
        s"(table columns: ${cm.logicalNames.mkString(", ")})")
      require(cm.cols.size > 1, "cannot drop the last column")
      requireNoDependents(t.snapshot, name, cm.physical(name), "drop")
      val m = t.meta
      // partition columns are structural: every write splits and
      // stats-indexes on them — dropping one would orphan the layout
      require(!m.partitions.exists(_._1.equalsIgnoreCase(cm.physical(name))),
        s"cannot drop column '$name': it is a partition column")
      require(!m.cluster.exists(_.equalsIgnoreCase(cm.physical(name))),
        s"cannot drop column '$name': it is a CLUSTER BY key — drop " +
          "clustering first (alterClusterBy(..., Seq.empty))")
      val dropped = cm.copy(cols =
        cm.cols.filterNot(_._1.equalsIgnoreCase(name)))
      val newDeclared = m.schema.map(ds =>
        org.apache.spark.sql.types.StructType(
          ds.fields.filterNot(_.name.equalsIgnoreCase(name))))
      t.publish(entries,
        dataChange = false, operation = "DROP COLUMN",
        // the column's DEFAULT binding dies with it — a dangling
        // #defaultcol line would re-materialize the dropped name on
        // the next write
        meta = _.copy(colMap = Some(dropped), schema = newDeclared,
          defaults = m.defaults.filterNot(_._1.equalsIgnoreCase(name))))
    }
  }

  /** Apply `f` to `top`'s StructType inside a declared schema (no-op
    * on non-struct or absent fields) — the nested verbs' declared-
    * schema maintenance. */
  private def mapDeclaredStruct(
      declared: Option[org.apache.spark.sql.types.StructType], top: String)(
      f: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] =
    declared.map(ds => org.apache.spark.sql.types.StructType(
      ds.fields.map(fd =>
        if (fd.name.equalsIgnoreCase(top)) fd.dataType match {
          case s: org.apache.spark.sql.types.StructType =>
            fd.copy(dataType = f(s))
          case _ => fd
        } else fd)))

  /** RENAME COLUMN, tier-2 nested (`a.b` → `a.c`; Delta column-mapping
    * name mode maps nested fields individually): rebinds the leaf's
    * logical name to its unchanged physical subfield — metadata-only,
    * ZERO files move. The first nested verb on a struct lazily seeds
    * identity bindings for all its subfields (frozen as-is). Time
    * travel below the rename serves the old nested name. Blocked while
    * a CHECK constraint or generated column references the path or its
    * parent struct. `to` is the new leaf name (optionally spelled
    * `a.c` — the parent must match; nested fields cannot move between
    * structs). */
  private def renameNestedColumn(spark: SparkSession, base: String,
                                 from: String, to0: String,
                                 maxAttempts: Int): Long =
    txn(spark, base, maxAttempts) { t =>
      val (cur, entries) = (t.cur, t.entries)
      val cm0 = colMapOrSeed(t.snapshot)
      val (top, fromLeaf) = nestedParts(cm0, from)
      val to = if (to0.contains(".")) {
        val p = to0.split('.')
        require(p.length == 2 && p(0).equalsIgnoreCase(top),
          s"nested RENAME must stay under the same parent: $from -> $to0")
        p(1)
      } else to0
      require(to.trim.nonEmpty && !to.contains(".") && !to.contains("\t") &&
        !to.contains("\n"), s"invalid column name '$to'")
      val cm = seedNested(t.snapshot, cm0, top)
      val fromPath = s"$top.$fromLeaf"
      require(cm.hasLogical(fromPath),
        s"column '$fromPath' does not exist (nested columns of $top: " +
          s"${cm.nestedUnder(top).map(_._1).mkString(", ")})")
      val toPath = s"$top.$to"
      require(fromPath.equalsIgnoreCase(toPath) || !cm.hasLogical(toPath),
        s"column '$toPath' already exists (resolution is case-insensitive)")
      requireNoNestedDependents(t.snapshot, fromPath, "rename")
      val renamed = cm.copy(cols = cm.cols.map { case (l, p) =>
        if (l.equalsIgnoreCase(fromPath)) (toPath, p) else (l, p)
      })
      val newDeclared = mapDeclaredStruct(
        t.meta.schema, top)(s =>
        org.apache.spark.sql.types.StructType(s.fields.map(fd =>
          if (fd.name.equalsIgnoreCase(fromLeaf)) fd.copy(name = to)
          else fd)))
      t.publish(entries,
        dataChange = false, operation = "RENAME COLUMN",
        meta = _.copy(colMap = Some(renamed), schema = newDeclared))
    }

  /** DROP COLUMN, tier-2 nested: removes the leaf's logical binding —
    * metadata-only; the physical subfield's bytes stay in existing
    * files but can never resurface, because [[alterAddNestedColumns]]
    * gives a re-ADDed field a FRESH physical leaf name. Cannot drop
    * the parent's last nested field (drop the parent column instead). */
  private def dropNestedColumn(spark: SparkSession, base: String,
                               name: String, maxAttempts: Int): Long =
    txn(spark, base, maxAttempts) { t =>
      val (cur, entries) = (t.cur, t.entries)
      val cm0 = colMapOrSeed(t.snapshot)
      val (top, leaf) = nestedParts(cm0, name)
      val cm = seedNested(t.snapshot, cm0, top)
      val path = s"$top.$leaf"
      require(cm.hasLogical(path),
        s"column '$path' does not exist (nested columns of $top: " +
          s"${cm.nestedUnder(top).map(_._1).mkString(", ")})")
      require(cm.nestedUnder(top).size > 1,
        s"cannot drop the last nested column of '$top' — drop the " +
          "parent column instead")
      requireNoNestedDependents(t.snapshot, path, "drop")
      // structural guard, mirroring top-level DROP: a clustered leaf
      // keys every write's tiling and the manifest's pruning index
      val m = t.meta
      require(!m.cluster.exists(_.equalsIgnoreCase(cm.physical(path))),
        s"cannot drop column '$path': it is a CLUSTER BY key — drop " +
          "clustering first (alterClusterBy(..., Seq.empty))")
      val dropped = cm.copy(cols =
        cm.cols.filterNot(_._1.equalsIgnoreCase(path)))
      val newDeclared = mapDeclaredStruct(m.schema, top)(s =>
        org.apache.spark.sql.types.StructType(
          s.fields.filterNot(_.name.equalsIgnoreCase(leaf))))
      t.publish(entries,
        dataChange = false, operation = "DROP COLUMN",
        meta = _.copy(colMap = Some(dropped), schema = newDeclared))
    }

  /** ADD COLUMNS inside a struct (tier-2 nested; Delta
    * `ADD COLUMNS (parent.field TYPE)`): each new field is born under
    * a FRESH physical leaf name, collision-probed against both the
    * mapping and any subfield a live file still carries — so a field
    * DROPped and re-ADDed under the same name scans as NULL, never as
    * the dropped bytes. Metadata-only commit; new files land the
    * subfield, old files null-fill. */
  def alterAddNestedColumns(spark: SparkSession, base: String,
                            parent: String,
                            cols: org.apache.spark.sql.types.StructType,
                            maxAttempts: Int = 5): Long = {
    require(cols.fields.nonEmpty, "ADD COLUMNS needs at least one column")
    txn(spark, base, maxAttempts) { t =>
      val (cur, entries) = (t.cur, t.entries)
      val cm0 = colMapOrSeed(t.snapshot)
      val top = cm0.topCols.find(_._1.equalsIgnoreCase(parent))
        .getOrElse(throw new IllegalArgumentException(
          s"column '$parent' does not exist (table columns: " +
            s"${cm0.topCols.map(_._1).mkString(", ")})"))._1
      val cm = seedNested(t.snapshot, cm0, top)
      val p = cm.physical(top)
      val fileSub: Set[String] =
        if (entries.isEmpty) Set.empty
        else readEntriesCurrent(t.snapshot, entries)
          .schema.fields.find(_.name.equalsIgnoreCase(p))
          .map(_.dataType).toSeq.flatMap {
            case s: org.apache.spark.sql.types.StructType =>
              s.fieldNames.toSeq
            case _ => Seq.empty
          }.map(_.toLowerCase).toSet
      val taken = scala.collection.mutable.Set[String](
        cm.nestedUnder(top).map(_._2.toLowerCase) ++ fileSub: _*)
      var next = cm.nextId
      val newCols = cols.fields.toSeq.map { f =>
        require(!f.name.contains("."),
          s"nested column names may not contain dots: '${f.name}'")
        require(!cm.hasLogical(s"$top.${f.name}"),
          s"nested column '$top.${f.name}' already exists")
        var ph = s"c${next}_${f.name}"
        next += 1
        while (taken.contains(ph.toLowerCase)) {
          ph = s"c${next}_${f.name}"; next += 1
        }
        taken += ph.toLowerCase
        (s"$top.${f.name}" -> s"$p.$ph", f)
      }
      val cmExt = cm.copy(cols = cm.cols ++ newCols.map(_._1),
        nextId = next)
      // the declared schema is what types a just-added field's NULL
      // fill — derive the full logical surface when the table never
      // declared one
      val declared0 = t.meta.schema.getOrElse {
        require(entries.nonEmpty,
          s"cannot derive a schema for $base (no files, no declared " +
            "schema)")
        toLogicalDf(readEntriesCurrent(t.snapshot, entries), cm, None)
          .schema
      }
      val newDeclared = org.apache.spark.sql.types.StructType(
        declared0.fields.map(fd =>
          if (fd.name.equalsIgnoreCase(top)) fd.dataType match {
            case s: org.apache.spark.sql.types.StructType =>
              fd.copy(dataType = org.apache.spark.sql.types.StructType(
                s.fields.toSeq ++ newCols.map(_._2)))
            case other => throw new IllegalArgumentException(
              s"'$parent' is not a struct column ($other)")
          } else fd))
      t.publish(entries,
        dataChange = false, operation = "ADD COLUMNS",
        meta = _.copy(colMap = Some(cmExt), schema = Some(newDeclared)))
    }
  }

  /** Drop a CHECK constraint by name. Returns the published version. */
  def dropConstraint(spark: SparkSession, base: String, name: String,
                     maxAttempts: Int = 5): Long =
    txn(spark, base, maxAttempts) { t =>
      val (cur, entries) = (t.cur, t.entries)
      val cons = t.meta.constraints
      require(cons.contains(name), s"no constraint named '$name'")
      t.publish(entries,
        operation = "DROP CONSTRAINT",
        meta = _.copy(constraints = cons - name))
    }

  /** Publish `files` (no stats) as version `v` — a test seam pairing
    * with [[land]]: a reader interleaved between the two sees the
    * previous complete version. */
  private[graft] def publish(spark: SparkSession, base: String,
                             v: Long, files: Seq[String]): Unit =
    txn(spark, base, maxAttempts = 1) { t =>
      if (t.read.getOrElse(0L) + 1L != v) throw new CommitConflictException(v)
      t.publish(files.map(Entry(_, -1L, Nil)), Map.empty)
    }

  /** Write the full-snapshot checkpoint for version `v` (tmp +
    * rename-overwrite: v's CAS winner is the unique writer, the
    * rename only shields readers from a torn file). Content is the
    * legacy full-manifest format, so a checkpoint doubles as a
    * self-contained manifest. */
  /** Checkpoint dispatcher: columnar (parquet) checkpoints when
    * `spark.graft.txlog.checkpointFormat=parquet`, the legacy text
    * format otherwise. Both are discovered through the same
    * `v*.ckpt.txt` file, so vacuum re-pointing, `_last_checkpoint`
    * advancement and checkpoint existence probes are format-blind. */
  private[graft] def writeCheckpoint(spark: SparkSession, base: String,
                                     v: Long, metaLines: Seq[String],
                                     entries: Seq[Entry]): Unit =
    if (TxLogPlan.parquetCheckpoints(spark))
      TxLogPlan.writeCheckpointParquet(spark, base, v, metaLines, entries)
    else writeCheckpointFile(spark, base, v, metaLines, entries)

  private def writeCheckpointFile(spark: SparkSession, base: String, v: Long,
                                  metaLines: Seq[String],
                                  entries: Seq[Entry]): Unit =
    writeCkptTextLines(spark, base, v, metaLines ++ entries.map(serLine))

  /** Install the text half of a checkpoint through [[replaceFile]]:
    * v's CAS winner is the unique writer, and a vacuum that re-installs
    * a kept version's checkpoint replaces it whole, so a racing reader
    * never finds it missing or torn. */
  private[graft] def writeCkptTextLines(spark: SparkSession, base: String,
                                        v: Long, lines: Seq[String]): Unit =
    try replaceFile(spark, base, ckptPath(base, v), ".ckpt-tmp",
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    catch {
      case e: java.io.IOException =>
        // checkpoint content for a version is DETERMINISTIC (derived
        // from the immutable commit chain), so a concurrent writer —
        // two racing vacuums both re-basing the same oldest-kept
        // version — already installed the same bytes: done
        if (!fs(base, spark).exists(ckptPath(base, v))) throw e
    }

  /** One optimistic commit: land `df`, publish as `expected`+1 (or
    * version 1 of an empty store). Throws [[CommitConflictException]]
    * after cleaning up the landed files if another writer got there
    * first. Returns the published version. */
  def commit(df: DataFrame, base: String, expected: Option[Long],
             statsCol: Option[String] = None): Long =
    commitMulti(df, base, expected, statsCol.toSeq)

  /** [[commit]] with stats on SEVERAL columns — the pairing for a
    * Z-ordered layout: each file of a Z-clustered table covers a
    * small tile of the key plane, so manifest min/max on BOTH
    * dimensions lets [[readRanges]] skip files for a 2-D box
    * predicate before any footer is opened. */
  def commitMulti(df: DataFrame, base: String, expected: Option[Long],
                  statsCols: Seq[String]): Long =
    Txn.run(df.sparkSession, base, maxAttempts = 1, onAttempt = _ => (),
      pinned = Some(expected))(commitIn(_, df, statsCols))

  /** Land `df` as the whole new table contents of `t`'s version. The
    * txn high-water map of the version built on is carried: a
    * maintenance rewrite (transact/commit) must never reset
    * appendOnce's exactly-once state. */
  private def commitIn(t: Txn, df: DataFrame, statsCols: Seq[String]): Long = {
    requireNoRowIdColumn(df)
    val (tiled, ckeys) = clusterTile(t.snapshot, t.snapshot.toPhysical(df))
    t.publish(landEntriesMulti(t, tiled,
      (statsCols.map(t.snapshot.physical) ++ ckeys).distinct))
  }

  /** Create an EMPTY table with declared metadata: `partitionCols`
    * ([[createPartitioned]] semantics) and/or `generated` GENERATED
    * ALWAYS AS columns (column → SQL expression over the OTHER
    * columns; must be deterministic — a non-deterministic expression
    * fails its own `col <=> expr` validation at first write). The
    * flagship combination is a generated `CAST(ts AS DATE)` day
    * column AS the partition column — every append supplies raw
    * events with a timestamp and the engine derives, splits, and
    * stats-indexes the day automatically. */
  def createTable(spark: SparkSession, base: String,
                  schema: org.apache.spark.sql.types.StructType,
                  partitionCols: Seq[String] = Seq.empty,
                  generated: Seq[(String, String)] = Seq.empty,
                  clusterBy: Seq[String] = Seq.empty): Long =
    txn(spark, base, maxAttempts = 1) { t =>
      require(t.read.isEmpty,
        s"$base already has committed versions — table metadata is " +
          "declared at birth")
      def fieldOf(c: String) = schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"column '$c' is not in the declared schema"))
      val pspec = partitionCols.map { c =>
        val f = fieldOf(c); f.name -> partitionDtype(f.dataType)
      }
      val gens = generated.map { case (c, ex) => fieldOf(c).name -> ex }
      validateGeneratedExprs(spark, schema, gens)
      val ckeys = resolveClusterKeys(schema, clusterBy, pspec.map(_._1))
      t.publish(Seq.empty, Map.empty, operation = "CREATE TABLE",
        meta = _.copy(schema = Some(schema), partitions = pspec,
          generated = gens, cluster = ckeys))
    }

  /** Resolve + validate CLUSTER BY key names against a declared
    * schema (shared with the DSv2 catalog's CREATE): returns the
    * schema-cased names. */
  private[graft] def resolveClusterKeys(
      schema: org.apache.spark.sql.types.StructType,
      clusterBy: Seq[String], partitionCols: Seq[String]): Seq[String] = {
    // nested LEAVES ("s.ts") cluster too — resolved by path walk,
    // declared under the path as typed (same as alterClusterBy)
    clusterBy.foreach(c => require(variantKeySplit(c).isEmpty,
      s"CLUSTER BY variant key '$c' needs its stats declaration " +
        "first, and declarations attach to a committed table — " +
        "create the table, declareVariantStats on the path, then " +
        "ALTER TABLE ... CLUSTER BY"))
    val fields = clusterBy.map { c =>
      if (c.contains("."))
        scala.util.Try(dataTypeAt(schema, c)).toOption
          .map(dt => org.apache.spark.sql.types.StructField(c, dt))
          .getOrElse(throw new IllegalArgumentException(
            s"CLUSTER BY key '$c' is not in the declared schema " +
              s"(${schema.fieldNames.mkString(", ")})"))
      else schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"CLUSTER BY key '$c' is not in the declared schema " +
            s"(${schema.fieldNames.mkString(", ")})"))
    }
    validateClusterKeys(fields, partitionCols)
    fields.map(_.name)
  }

  /** CLUSTER BY key validation, shared by CREATE and ALTER: the
    * interleave normalizes numeric/timestamp keys only, and a
    * partition column is constant per file (min==max) so clustering
    * on it buys nothing — both fail at declaration, not mid-write. */
  private def validateClusterKeys(
      keys: Seq[org.apache.spark.sql.types.StructField],
      partitionCols: Seq[String]): Unit = {
    require(keys.map(_.name.toLowerCase).distinct.size == keys.size,
      "duplicate CLUSTER BY keys")
    keys.foreach { f =>
      require(
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          !f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] ||
          f.dataType == org.apache.spark.sql.types.TimestampType,
        s"CLUSTER BY key '${f.name}' has type ${f.dataType.simpleString} " +
          "— the interleave normalizes integral/floating/timestamp " +
          "keys; cluster strings via a derived numeric key (hash, " +
          "dictionary id) instead")
      require(!partitionCols.exists(_.equalsIgnoreCase(f.name)),
        s"CLUSTER BY key '${f.name}' is a partition column — it is " +
          "constant per file already (one tuple per file), clustering " +
          "on it buys nothing")
    }
  }

  /** `ALTER TABLE ... CLUSTER BY (keys...)` / `CLUSTER BY NONE`
    * (empty keys): registers (or drops) the clustering keys as one
    * metadata-only commit. Existing files keep their layout — the
    * next OPTIMIZE re-tiles incrementally; new writes tile
    * immediately. Returns the published version. */
  def alterClusterBy(spark: SparkSession, base: String,
                     clusterBy: Seq[String],
                     maxAttempts: Int = 5): Long = {
    txn(spark, base, maxAttempts) { t =>
      val (cur, entries) = (t.cur, t.entries)
      val declared = undeclaredFallbackSchema(spark, base, cur)
      val m = t.meta
      val cm = m.colMap
      val varDecls = m.varStats
      // keys may be NESTED leaves ("s.ts" — the event-time-inside-a-
      // struct fact shape): resolve by path walk, cluster on the
      // leaf. A VARIANT extraction key ("v$.price") must already be
      // DECLARED for write-time stats with a numeric target: the
      // declaration is what types the interleave AND what guarantees
      // every tiled file lands with the skipping stats the layout
      // exists to serve.
      require(clusterBy.map(_.toLowerCase).distinct.size == clusterBy.size,
        "duplicate CLUSTER BY keys")
      val (variantKeys, plainKeys0) =
        clusterBy.partition(k => variantKeySplit(k).isDefined)
      val variantPhys = variantKeys.map { k =>
        val (c, p) = variantKeySplit(k).get
        val physC = cm.flatMap(_.physicalOf(c)).getOrElse(c)
        val d = varDecls.find(d =>
          d._1.equalsIgnoreCase(physC) && d._2 == p).getOrElse(
          throw new IllegalArgumentException(
            s"CLUSTER BY variant key '$k' has no declared stats — " +
              "run declareVariantStats (ALTER TABLE ... DECLARE " +
              "VARIANT STATS) on the path first; the declaration " +
              "types the interleave and keeps every write's stats " +
              "fresh"))
        require(d._3 == "long" || d._3 == "double",
          s"CLUSTER BY variant key '$k' is declared ${d._3} — the " +
            "interleave normalizes numeric keys; declare the path as " +
            "long or double")
        k -> s"${d._1}${d._2}"
      }.toMap
      val fields = plainKeys0.map { c =>
        if (c.contains("."))
          scala.util.Try(dataTypeAt(declared, c)).toOption
            .map(dt => org.apache.spark.sql.types.StructField(c, dt))
            .getOrElse(throw new IllegalArgumentException(
              s"CLUSTER BY key '$c' is not in the table schema " +
                s"(${declared.fieldNames.mkString(", ")})"))
        else declared.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"CLUSTER BY key '$c' is not in the table schema " +
              s"(${declared.fieldNames.mkString(", ")})"))
      }
      validateClusterKeys(fields, m.partitions.map(p =>
        cm.map(_.logicalOf(p._1)).getOrElse(p._1)))
      val physByPlain = plainKeys0.zip(fields.map(f =>
        cm.map(_.physical(f.name)).getOrElse(f.name))).toMap
      // keep the caller's key order — interleave order is meaningful
      val phys = clusterBy.map(k =>
        variantPhys.getOrElse(k, physByPlain(k)))
      t.publish(entries,
        dataChange = false, operation = "CLUSTER BY",
        meta = _.copy(cluster = phys))
    }
  }

  /** The LOGICAL schema a metadata verb should validate against when
    * the table has no declared `#schema` line: the UNION of the live
    * files' schemas — never a one-footer read, whose arbitrary footer
    * order can MISS file-evolved columns and make the verb's
    * existence checks nondeterministic. Unmapped tables answer from
    * the cached physical union (physical == logical); mapped tables
    * pay the mergeSchema read for the translated logical view. */
  private def undeclaredFallbackSchema(spark: SparkSession, base: String,
                                       cur: Long)
      : org.apache.spark.sql.types.StructType = {
    val m = metaOf(spark, base, cur)
    m.schema.getOrElse(scala.util.Try {
      if (m.colMap.isEmpty) cachedPhysUnionSchema(spark, base, cur)
      else readEvolved(spark, base).schema
    }.getOrElse(throw new IllegalStateException(
      s"cannot resolve a schema for $base")))
  }

  /** DDL-time validation of a column DEFAULT expression: it must
    * parse, resolve against ZERO columns (constant — Delta's own
    * restriction on `allowColumnDefaults`), and cast to the column's
    * declared type. Returns nothing; throws loudly, so a typo fails
    * the ALTER/CREATE, never a later write. */
  private[graft] def validateDefaultExpr(
      spark: SparkSession, column: String, ex: String,
      dtype: org.apache.spark.sql.types.DataType): Unit = {
    try spark.sessionState.sqlParser.parseExpression(ex)
    catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalArgumentException(
        s"DEFAULT ($ex) for column '$column' does not parse: " +
          e.getMessage)
    }
    // analysis against an EMPTY schema enforces constancy: any column
    // reference fails resolution (no job, no IO)
    val analyzed =
      try spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Nil))
        .select(org.apache.spark.sql.functions.expr(ex).cast(dtype))
        .queryExecution.analyzed
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"DEFAULT ($ex) for column '$column' must be a constant " +
            s"expression castable to ${dtype.sql}: ${e.getMessage}")
      }
    val e = analyzed.expressions.head.children.headOption
      .getOrElse(analyzed.expressions.head)
    require(e.foldable,
      s"DEFAULT ($ex) for column '$column' is not a constant " +
        "(foldable) expression — column defaults cannot reference " +
        "other columns or non-deterministic functions")
  }

  /** Evaluate a validated DEFAULT expression to a Catalyst-INTERNAL
    * constant of the column's type (what the v2 `ColumnDefaultValue`
    * literal wants; also proves evaluability at DDL time). Pure
    * driver-side constant folding — analysis over an empty local
    * frame plus `eval()`, NO Spark job: `columns()` calls this during
    * query analysis, where launching a job per table load would be
    * absurd overhead. */
  // LRU, bounded (a runaway DDL generator must not grow the driver
  // heap forever), and keyed on the session TIMEZONE as well as the
  // (sql, type) pair: a zone-dependent constant (current_date(),
  // a timestamp literal without an offset) folds to DIFFERENT values
  // under different spark.sql.session.timeZone settings — a global
  // key would serve one session's fold verbatim to another's.
  private val DefaultEvalCacheMax = 1024
  private val defaultEvalCache =
    new java.util.LinkedHashMap[(String, String, String), Any](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, String), Any]): Boolean =
        size() > DefaultEvalCacheMax
    }

  private[graft] def evalDefaultExpr(
      spark: SparkSession, ex: String,
      dtype: org.apache.spark.sql.types.DataType): Any = {
    // memoized: columns() folds the same (sql, type) on every table
    // load during analysis — a constant's value never changes WITHIN
    // one timezone binding, so one parse+analyze per distinct triple
    val key = (ex, dtype.catalogString,
      spark.sessionState.conf.sessionLocalTimeZone)
    val hit = defaultEvalCache.synchronized(defaultEvalCache.get(key))
    if (hit != null) return hit
    val analyzed = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Nil))
      .select(org.apache.spark.sql.functions.expr(ex).cast(dtype))
      .queryExecution.analyzed
    val e = analyzed.expressions.head match {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
      case x => x
    }
    require(e.foldable,
      s"DEFAULT ($ex) must fold to a constant, got: ${e.sql}")
    val v = e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    if (v != null)
      defaultEvalCache.synchronized(defaultEvalCache.put(key, v))
    v
  }

  /** `ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr>` / `DROP
    * DEFAULT` (Delta's `allowColumnDefaults`): a metadata-only commit
    * binding (or unbinding) a CONSTANT fill for future writes that
    * omit the column. Existing rows are untouched and files that
    * landed without the column keep reading NULL — the default is a
    * write-time fill, never a read-time one (Delta's exact line; its
    * ALTER ADD COLUMN refuses DEFAULT for the same reason). Vetoed on
    * generated and identity columns (both already own their value).
    */
  def alterColumnDefault(spark: SparkSession, base: String,
                         column: String, sqlExpr: Option[String],
                         maxAttempts: Int = 5): Long = {
    txn(spark, base, maxAttempts) { t =>
      val (cur, entries) = (t.cur, t.entries)
      val declared = undeclaredFallbackSchema(spark, base, cur)
      val field = declared.fields.find(_.name.equalsIgnoreCase(column))
        .getOrElse(throw new IllegalArgumentException(
          s"DEFAULT target '$column' is not in the table schema " +
            s"(${declared.fieldNames.mkString(", ")})"))
      val m = t.meta
      require(!m.generated.exists(_._1.equalsIgnoreCase(column)),
        s"column '$column' is GENERATED ALWAYS AS — it computes its " +
          "own value; a DEFAULT would never apply")
      require(!m.identity.keys.exists(_.equalsIgnoreCase(column)),
        s"column '$column' is an IDENTITY column — the high-water " +
          "allocates its value; a DEFAULT would never apply")
      sqlExpr.foreach { ex =>
        validateDefaultExpr(spark, field.name, ex, field.dataType)
        evalDefaultExpr(spark, ex, field.dataType) // must evaluate NOW
      }
      val cur0 = m.defaults
      val kept = cur0.filterNot(_._1.equalsIgnoreCase(column))
      val next = kept ++ sqlExpr.map(field.name -> _).toSeq
      if (sqlExpr.isEmpty)
        require(kept.size != cur0.size,
          s"column '$column' has no DEFAULT to drop")
      t.publish(entries,
        dataChange = false,
        operation = if (sqlExpr.isDefined) "SET DEFAULT" else "DROP DEFAULT",
        meta = _.copy(defaults = next))
    }
  }

  /** DDL-time validation of GENERATED ALWAYS AS expressions: parse
    * each and fully analyze it against the NON-generated columns. A
    * typo'd expression (or one referencing a missing/generated
    * column) must fail the CREATE/REPLACE statement itself — left
    * unchecked it creates a table whose every write fails at land
    * time, and the no-dependents guard forbids dropping a GENERATED
    * column, so the table would be permanently unwritable short of
    * REPLACE TABLE. Analysis runs over an empty local frame: no job,
    * no IO. */
  private[graft] def validateGeneratedExprs(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      gens: Seq[(String, String)]): Unit = {
    if (gens.isEmpty) return
    val genNames = gens.map(_._1)
    // generation expressions may reference only NON-generated columns
    // (Delta's own constraint — a generated column depending on
    // another would make compute order ambiguous)
    val others = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(f =>
        genNames.exists(_.equalsIgnoreCase(f.name))))
    gens.foreach { case (c, ex) =>
      // parse EAGERLY (functions.expr defers to analysis) so a syntax
      // error reports as such, not as a resolution failure
      try spark.sessionState.sqlParser.parseExpression(ex)
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"GENERATED ALWAYS AS ($ex) for column '$c' does not " +
            s"parse: ${e.getMessage}")
      }
      val parsed = org.apache.spark.sql.functions.expr(ex)
      try spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          others)
        .select(parsed).queryExecution.analyzed
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"GENERATED ALWAYS AS ($ex) for column '$c' does not resolve " +
            "against the table's non-generated columns (" +
            s"${others.fieldNames.mkString(", ")}): ${e.getMessage}")
      }
    }
  }

  /** Create an EMPTY partitioned table (Delta `CREATE TABLE …
    * PARTITIONED BY` analog): publishes a file-less v1 manifest whose
    * `#partition` meta line — carried forward by every later commit —
    * makes EVERY subsequent data write split one-file-per-partition-
    * tuple and stamp exact (min==max) stats on the partition columns.
    * Partition pruning then IS the existing manifest stats skipping:
    * an equality or range predicate on a partition column prunes
    * files before any footer opens, through [[readRange]], the DSv2
    * scan, and SQL alike. Partitioning is declared at table birth and
    * immutable, exactly like Delta. Choose LOW-cardinality columns —
    * one file per tuple per commit is the classic partitioning trade;
    * high-cardinality layouts belong to clustered commits / OPTIMIZE
    * ZORDER instead. */
  def createPartitioned(spark: SparkSession, base: String,
                        schema: org.apache.spark.sql.types.StructType,
                        partitionCols: Seq[String]): Long = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    createTable(spark, base, schema, partitionCols)
  }

  /** Data-first creation of a partitioned table: land `df` split by
    * `partitionCols` and publish it as v1 with the `#partition`
    * declaration (CTAS shape). `statsCols` adds ordinary clustering
    * stats on top of the automatic exact partition-column stats. */
  def commitPartitioned(df: DataFrame, base: String,
                        partitionCols: Seq[String],
                        statsCols: Seq[String] = Seq.empty): Long = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    txn(df.sparkSession, base, maxAttempts = 1) { t =>
      require(t.read.isEmpty,
        s"$base already has committed versions — partitioning is declared " +
          "at table birth (append/merge/overwrite keep the declared split)")
      // same case-insensitive resolution as createPartitioned/the
      // catalog; the schema field's own casing is what freezes
      val pspec = partitionCols.map { c =>
        val f = df.schema.fields.find(_.name.equalsIgnoreCase(c))
          .getOrElse(throw new IllegalArgumentException(
            s"partition column '$c' is not in the DataFrame's schema"))
        f.name -> partitionDtype(f.dataType)
      }
      t.publish(landEntriesRaw(df, base, statsCols, pspec,
          dir = t.stageDir(newTxnDir())),
        Map.empty, operation = "CREATE TABLE AS SELECT",
        meta = _.copy(schema = Some(df.schema), partitions = pspec))
    }
  }

  /** Insert-only commit: lands ONLY `df`'s files and republishes the
    * previous manifest's entries by reference — commit work is O(new
    * data) regardless of table size, the daily-ingest shape at 100 TB.
    * A CAS loss is retried by re-reading the winner's manifest (one
    * small file); the landed data is reused, never rewritten. */
  /** Tile a batch by the table's declared `#cluster` keys before
    * landing: one range shuffle on the keys' interleave (the same
    * cost shape as any sorted write), so every landed file covers a
    * tight box of the key space and stamps sharp multi-dim stats —
    * an append-heavy clustered table keeps its box-query skip
    * sharpness WITHOUT waiting for OPTIMIZE. Returns the (possibly
    * tiled) frame plus the resolved keys to auto-stat. Degenerate
    * batches (all-NULL keys, keys not in this frame) land untiled —
    * the incremental OPTIMIZE folds them later. */
  /** Split a key of the form `<physCol>$<path>` — the spelling a
    * VARIANT extraction path takes everywhere stats/cluster keys
    * live (`v$.price`, `v$[0]`). None for ordinary (flat or
    * dotted-struct) keys — including columns that merely CONTAIN a
    * `$` (`x$1`): only a `$.`/`$[` suffix reads as a path, the same
    * prefix shapes `variant_get` itself accepts. */
  private[graft] def variantKeySplit(key: String): Option[(String, String)] = {
    val i = math.min(
      key.indexOf("$.") match { case -1 => Int.MaxValue case n => n },
      key.indexOf("$[") match { case -1 => Int.MaxValue case n => n })
    if (i <= 0 || i == Int.MaxValue) None
    else Some((key.substring(0, i), key.substring(i)))
  }

  /** The extraction Column for a DECLARED variant key: resolves the
    * `#varstats` declaration (which fixes the typed target) and
    * builds the same `try_variant_get` the stats collection and the
    * range reads use — tiling, collection, and skipping all compute
    * the ONE expression. None when the key is not variant-shaped or
    * not declared. */
  private def variantKeyExpr(key: String,
                             varDecls: Seq[(String, String, String)])
      : Option[org.apache.spark.sql.Column] =
    variantKeySplit(key).flatMap { case (c, p) =>
      varDecls.find(d => d._1.equalsIgnoreCase(c) && d._2 == p).map { d =>
        val (_, sparkT) = variantStatsTarget(d._3)
        org.apache.spark.sql.functions.try_variant_get(
          org.apache.spark.sql.functions.col(c), p, sparkT)
      }
    }

  private def clusterTile(s: Snapshot,
                          df: DataFrame): (DataFrame, Seq[String]) = {
    val m = s.meta
    val keys = m.cluster
    if (keys.isEmpty) return (df, Seq.empty)
    val varDecls = m.varStats
    // keys are PHYSICAL; the df is in physical namespace here. A
    // dotted key resolves by path walk (nested leaf clustering); a
    // `col$path` key resolves through its varstats declaration to
    // the typed extraction expression (variant-leaf clustering)
    val resolved: Seq[(String, org.apache.spark.sql.Column)] =
      keys.flatMap { k =>
        variantKeySplit(k) match {
          case Some((c, _)) =>
            if (df.columns.exists(_.equalsIgnoreCase(c)))
              variantKeyExpr(k, varDecls).map(k -> _)
            else None
          case None if k.contains(".") =>
            if (hasPath(df.schema, k))
              Some(k -> org.apache.spark.sql.functions.col(k))
            else None
          case None => df.columns.find(_.equalsIgnoreCase(k))
            .map(n => n -> org.apache.spark.sql.functions.col(n))
        }
      }
    if (resolved.size != keys.size) return (df, Seq.empty)
    val exprMap = resolved.toMap
    val n = math.max(1, df.rdd.getNumPartitions)
    val tiled =
      try {
        if (resolved.size == 1)
          df.repartitionByRange(n, resolved.head._2)
            .sortWithinPartitions(resolved.head._2)
        else Layout.zorderClusterK(df, resolved.map(_._1), n,
          k => if (variantKeySplit(k).isDefined) exprMap.get(k) else None)
      } catch { case scala.util.control.NonFatal(_) => df }
    // variant keys do NOT join the ordinary statsCols (their stats
    // ride the declared write-time collection under the same key)
    (tiled, resolved.map(_._1).filter(variantKeySplit(_).isEmpty))
  }

  /** The blind-append land ([[append]], [[appendOnce]], [[copyInto]]):
    * the user batch is renamed to physical names and tiled on the
    * clustering keys under the attempt's snapshot, lands, is enforced
    * and joins the table's bloom groups (incremental coverage: one
    * O(batch) pass, no rebuild) once per transaction. `statsCols` are
    * logical names. Every attempt re-enforces it when its snapshot
    * carries another constraint set than the one last enforced — a
    * CAS loss to a concurrent ADD CONSTRAINT must not republish data
    * checked only under the OLD set. */
  private def appendLand(t: Txn, df: DataFrame,
                         statsCols: Seq[String]): Seq[Entry] = {
    requireNoRowIdColumn(df)
    val (entries, checked) = t.once {
      val s = t.snapshot
      val (tiled, ckeys) = clusterTile(s, s.toPhysical(df))
      val (es, cons) = landEntriesChecked(t, tiled,
        (statsCols.map(s.physical) ++ ckeys).distinct, guardIdentity = true)
      (indexNewEntries(t, es),
        new java.util.concurrent.atomic.AtomicReference(cons))
    }
    checked.set(reEnforceIfChanged(t, entries, checked.get))
    entries
  }

  def append(df: DataFrame, base: String, statsCol: Option[String] = None,
             maxAttempts: Int = 5): Long = {
    txn(df.sparkSession, base, maxAttempts) { t =>
      val entries = appendLand(t, df, statsCol.toSeq)
      // add-only: neither the txn map nor the publish needs the
      // table's entry list — an append stays O(new files) driver-side
      // no matter how many files the table holds
      t.publish(entries, deltaChange = Some(Nil))
    }
  }

  /** Reserved txn-map prefix for [[copyInto]] per-file idempotency
    * (`copy#<absolute file path>` → source mtime). Riding the `#txn`
    * map — a v1 protocol feature every writer carries — makes the
    * loaded-file state exactly-once, checkpoint-durable across
    * vacuum, and safe against ignorant writers with NO protocol
    * bump (a new meta kind would need a writer gate to avoid being
    * reconstructed away). */
  private[graft] val CopyTxnPrefix = "copy#"

  /** `COPY INTO` (the Databricks/Delta idempotent bulk-load verb —
    * and the reference's bronze-load shape, `load_bronze_to_table.py`,
    * as ONE SQL statement): load every file under `srcDir` matching
    * `pattern` that has NOT been loaded before, in one ACID append.
    * Already-loaded files (tracked per absolute path in the txn map)
    * are skipped, so re-running after a crash or on a schedule is
    * exactly-once per file. The batch rides the full append choke
    * point — constraints, generated-column compute/validation,
    * DEFAULT fill, identity guard, widen pinning, partition split,
    * cluster tiling. When the target declares a schema, source
    * columns cast to it by NAME; columns the target does not declare
    * fail loudly (a typo'd source column must not silently evolve the
    * target); declared columns the source omits fill through the
    * ordinary NULL/DEFAULT path. Returns (version, filesLoaded,
    * rowsLoaded) — (current, 0, 0) when everything is already
    * loaded.
    *
    * Racing loaders: when a concurrent COPY INTO marked only SOME of
    * this batch's files while we were landing, the mixed batch is
    * discarded and the load RETRIES with the survivors only — a
    * partial overlap must never report (v, 0, 0) as if everything
    * were already loaded (a one-shot caller would silently
    * under-ingest). Total overlap is the genuine everything-loaded
    * signal and returns (current, 0, 0). */
  def copyInto(spark: SparkSession, base: String, srcDir: String,
               format: String, options: Map[String, String] = Map.empty,
               pattern: Option[String] = None,
               maxAttempts: Int = 5): (Long, Long, Long) = {
    var pass = 0
    while (true) {
      pass += 1
      val r = copyIntoOnce(spark, base, srcDir, format, options, pattern,
        maxAttempts)
      if (r != null) return r
      require(pass < maxAttempts,
        s"COPY INTO at $base kept racing concurrent loaders over " +
          s"$maxAttempts passes; re-run to load the remaining files")
    }
    throw new IllegalStateException("unreachable")
  }

  /** One optimistic pass of [[copyInto]]: null signals "a racer took
    * part of the batch — recompute the fresh set and go again". */
  private def copyIntoOnce(spark: SparkSession, base: String, srcDir: String,
                           format: String, options: Map[String, String],
                           pattern: Option[String],
                           maxAttempts: Int): (Long, Long, Long) = {
    val s0 = snapshot(spark, base)
    val curV0 = s0.version.getOrElse(
      throw new IllegalStateException(
        s"COPY INTO target $base does not exist — CREATE TABLE first"))
    val f = fs(srcDir, spark)
    val glob = new Path(s"$srcDir/${pattern.getOrElse("*")}")
    val all = Option(f.globStatus(glob)).map(_.toSeq).getOrElse(Seq.empty)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    val loadedAt = s0.txns
    val freshAll = all.filterNot(st =>
      loadedAt.contains(CopyTxnPrefix + st.getPath.toString))
    if (freshAll.isEmpty) return (curV0, 0L, 0L)
    val df0 = spark.read.format(format).options(options)
      .load(freshAll.map(_.getPath.toString): _*)
    val df = s0.meta.schema match {
      case Some(ds) =>
        import org.apache.spark.sql.functions.col
        val unknown = df0.columns.filterNot(c =>
          ds.fieldNames.exists(_.equalsIgnoreCase(c)))
        require(unknown.isEmpty,
          s"COPY INTO: source column(s) ${unknown.mkString(", ")} are " +
            s"not in the target schema (${ds.fieldNames.mkString(", ")})" +
            " — COPY never evolves the target; ALTER TABLE ADD COLUMNS " +
            "first")
        df0.select(ds.fields.toIndexedSeq
          .filter(fd => df0.columns.exists(_.equalsIgnoreCase(fd.name)))
          .map(fd => col(fd.name).cast(fd.dataType).as(fd.name)): _*)
      case None => df0
    }
    // the ordinary append choke point, plus the per-file txn markers
    // in the SAME commit — the load and its idempotency state are one
    // atomic publish. The first attempt builds on `s0`'s version.
    val result = Txn.run(spark, base, maxAttempts, _ => (),
        pinned = Some(s0.version)) { t =>
      val entries = appendLand(t, df, Nil)
      // a RACING COPY INTO may have loaded (some of) our files while
      // we were landing; the landed batch mixes all files, so any
      // overlap means this batch as a whole cannot publish (exactly-
      // once preserved; the transaction deletes it). TOTAL overlap is
      // the genuine "already loaded" outcome; PARTIAL overlap leaves
      // survivors unloaded, so signal the outer loop to re-land just
      // them (reporting zero here would silently under-ingest).
      val survivors = freshAll.filterNot(st =>
        t.txns.contains(CopyTxnPrefix + st.getPath.toString))
      if (survivors.isEmpty) (t.read.getOrElse(curV0), 0L, 0L)
      else if (survivors.size < freshAll.size) RetryNarrower
      else (t.publish(entries,
          t.txns ++ freshAll.map(st =>
            (CopyTxnPrefix + st.getPath.toString) ->
              st.getModificationTime),
          operation = "COPY INTO", deltaChange = Some(Nil)),
        freshAll.size.toLong, entries.map(_.rows).filter(_ >= 0).sum)
    }
    if (result eq RetryNarrower) null else result
  }

  /** Sentinel: a COPY INTO pass lost part of its batch to a racer and
    * must re-land the survivors (reference identity checked — never a
    * real result). */
  private val RetryNarrower: (Long, Long, Long) = (-1L, -1L, -1L)

  /** Bound the COPY INTO idempotency state: drop `copy#` markers whose
    * recorded source mtime is older than `cutoffMs`. The markers ride
    * every manifest (meta lines are O(apps)), so a years-long daily
    * ingestion would otherwise grow each commit by its total file
    * history; ingestion directories are typically rotated, making
    * ancient markers dead weight. Tradeoff, stated loudly: a pruned
    * file that still exists in the directory would RELOAD on the next
    * COPY INTO — prune only past your source-retention window (the
    * same contract as Delta's bounded COPY INTO state). Metadata-only
    * commit; returns (version, markersDropped). */
  def vacuumCopyState(spark: SparkSession, base: String, cutoffMs: Long,
                      maxAttempts: Int = 5): (Long, Long) =
    txn(spark, base, maxAttempts) { t =>
      val (stale, keep) = t.txns.partition { case (k, mtime) =>
        k.startsWith(CopyTxnPrefix) && mtime < cutoffMs }
      if (stale.isEmpty) (t.cur, 0L)
      else (t.publish(t.entries, keep, dataChange = false,
        operation = "VACUUM COPY STATE"), stale.size.toLong)
    }

  /** Exactly-once append for streaming foreachBatch sinks (Delta's
    * `txn` action): the manifest carries an (appId → batchId)
    * high-water map forward; re-delivering an already-applied batch —
    * the at-least-once contract of foreachBatch after a restart — is
    * a no-op. Returns the version that published the batch, or the
    * current latest version when the batch was already applied. */
  def appendOnce(df: DataFrame, base: String, appId: String, batchId: Long,
                 statsCol: Option[String] = None, maxAttempts: Int = 5): Long = {
    txn(df.sparkSession, base, maxAttempts) { t =>
      // already applied (a re-delivery, or a racing replica): no land
      if (t.txns.getOrElse(appId, -1L) >= batchId) t.cur
      else t.publish(appendLand(t, df, statsCol.toSeq),
        t.txns + (appId -> batchId),
        operation = "STREAMING UPDATE", deltaChange = Some(Nil))
    }
  }

  /** Manifest-level file skipping: entries of the latest version whose
    * stats range overlaps [lo, hi] (entries without stats, or with
    * stats on another column, always qualify). Returns (kept, all) so
    * callers can audit the skip rate. Single-predicate sugar over
    * [[pruneRanges]]. */
  def pruneRange(spark: SparkSession, base: String, column: String,
                 lo: Any, hi: Any): (Seq[Entry], Seq[Entry]) =
    pruneRanges(spark, base, Seq((column, lo, hi)))

  /** Range read with data skipping: prune files by manifest stats,
    * then scan only the survivors (the residual predicate still
    * applies row-level). On a clustered table a narrow range opens a
    * handful of the table's files — the 10^5-file scan killer.
    * Single-predicate sugar over [[readRanges]]. */
  def readRange(spark: SparkSession, base: String, column: String,
                lo: Any, hi: Any): DataFrame =
    readRanges(spark, base, Seq((column, lo, hi)))

  /** Multi-range file skipping: entries of the latest version whose
    * stats overlap EVERY (column, lo, hi) predicate — the conjunction
    * a 2-D box query puts on a Z-ordered table. Per-column absence of
    * stats is conservative (that predicate passes). */
  def pruneRanges(spark: SparkSession, base: String,
                  preds: Seq[(String, Any, Any)]): (Seq[Entry], Seq[Entry]) = {
    require(preds.nonEmpty, "pruneRanges needs at least one predicate")
    val s = snapshot(spark, base)
    s.cur // a table that must exist
    (inRanges(s.entries, physicalPreds(s, preds)), s.entries)
  }

  /** Range predicates as manifest stats see them: each (logical)
    * column translated once to its PHYSICAL name under `s`, each bound
    * to its stats representation. */
  private def physicalPreds(s: Snapshot, preds: Seq[(String, Any, Any)])
      : Seq[(String, String, String)] =
    preds.map { case (c, lo, hi) => (s.physical(c), reprOf(lo), reprOf(hi)) }

  /** The `entries` whose stats overlap every [[physicalPreds]] range. */
  private def inRanges(entries: Seq[Entry],
                       preds: Seq[(String, String, String)]): Seq[Entry] =
    entries.filter(e => preds.forall { case (c, lo, hi) =>
      touchesRange(e, c, lo, hi) })

  /** Box read with 2-D (or n-D) data skipping: prune files by ALL the
    * range predicates' manifest stats, then scan only the survivors
    * with the residual row-level predicate applied. On a Z-ordered
    * table ([[Layout.zorderCluster]] + [[commitMulti]]) a box that
    * covers a sliver of the key plane opens a handful of the table's
    * files — pruned on BOTH dimensions, which a single-column sort
    * can never give. The latest version `v` is resolved once; the
    * survivors are served by [[readKept]] (the DSv2 scan pinned to
    * them at `v`, deletion vectors masked inside the scan) with the
    * residual as a `where` that pushes into the scan. The schema is
    * the table's at `v` ([[graft.sources.TxLogSource]]'s): survivors
    * that all predate a mergeSchema append serve its columns as NULL. */
  def readRanges(spark: SparkSession, base: String,
                 preds: Seq[(String, Any, Any)]): DataFrame =
    readRanges(snapshot(spark, base), preds)

  /** [[readRanges]] on snapshot `s`. */
  private[graft] def readRanges(s: Snapshot,
                                preds: Seq[(String, Any, Any)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(preds.nonEmpty, "readRanges needs at least one predicate")
    // the residual references LOGICAL names, like the served schema
    readKept(s, keptInRanges(s, physicalPreds(s, preds)))
      .where(preds.map { case (c, lo, hi) =>
        col(c).between(lit(lo), lit(hi))
      }.reduce(_ && _))
  }

  /** The entries of `s` whose stats overlap every range. Columnar-
    * checkpoint tables prune EXECUTOR-side and collect only the
    * survivors (the kept working set); text tables (or a warm snapshot
    * cache) keep the driver sweep — cheaper than a job. */
  private def keptInRanges(s: Snapshot,
                           phys: Seq[(String, String, String)]): Seq[Entry] =
    TxLogPlan.pruneEntriesForScan(s.spark, s.base, s.cur, phys)
      .getOrElse(inRanges(s.entries, phys))

  /** `kept`, entries of `s` already pruned, as a logical DataFrame
    * under `s`'s schema and names: the DSv2 scan pinned to them
    * ([[graft.sources.TxLogSource.pinnedRead]] — one partition per
    * entry, masks applied inside the scan, no second resolution of the
    * log). When their deletion vectors carry more positions than the
    * DSv2 driver-side limit (`spark.graft.txlog.dsv2MaxMaskRows`,
    * checked from the manifest's `dv.rows` before any sidecar is
    * read), [[readEntries]]' distributed anti-join serves them. */
  private[graft] def readKept(s: Snapshot, kept: Seq[Entry]): DataFrame =
    if (kept.flatMap(_.dv).map(_.rows).sum <=
        graft.sources.TxLogSource.maxMaskRows(s.spark))
      graft.sources.TxLogSource.pinnedRead(s, kept)
    else s.logical(readEntriesCurrent(s, kept))

  /** Copy-on-write MERGE: rewrite ONLY the files whose `statsCol`
    * range overlaps the source's key range; carry every other file
    * into the new manifest by reference. `statsCol` must be one of
    * the merge keys (that containment is what makes skipping sound:
    * a target row matching a source key can only live in a file whose
    * range covers that key). Files without stats are conservatively
    * rewritten. A CAS loss re-bases onto a disjoint winner and
    * recomputes against any other ([[Txn]] rule 4). `onAttempt` is a
    * test seam for deterministic race interleaving. */
  def mergeCow(spark: SparkSession, base: String, source0: DataFrame,
               keys0: Seq[String], statsCol0: String, maxAttempts: Int = 5,
               onAttempt: Int => Unit = _ => ()): Long = {
    require(keys0.contains(statsCol0),
      s"statsCol $statsCol0 must be a merge key (got $keys0) — range " +
        "skipping is only sound when pruning on the match key")
    requireNoRowIdColumn(source0)
    val (lo, hi) = keySpan(source0, statsCol0).getOrElse(
      // empty / all-null source: nothing to merge
      return snapshot(spark, base).cur)
    txn(spark, base, maxAttempts, onAttempt) { t =>
      // mapped tables: the merge runs entirely in PHYSICAL namespace —
      // source renamed, keys/statsCol translated, target files already
      // physical (readEntries below is the raw read)
      val s = t.snapshot
      val source = s.toPhysical(source0)
      val keys = keys0.map(s.physical)
      val statsCol = s.physical(statsCol0)
      // GENERATED BY DEFAULT on merges: the high-water advances past
      // any explicit id the source carries
      val idMaxes = sourceIdentityMaxes(s, source)
      // a CAS loss to a winner disjoint from the source key range
      // re-bases the landed output (Txn rule 4): a daily MERGE racing a
      // disjoint-partition DELETE costs one extra commit attempt, not a
      // second pass over the band
      val overlaps: Entry => Boolean = touchesRange(_, statsCol, lo, hi)
      val land = t.rebase(Some(overlaps)) {
        val touched = t.entries.filter(overlaps)
        val merged =
          if (touched.isEmpty) source
          else {
            val target = readEntriesCurrent(s, touched,
              withRowIds = true) // masks applied: deletes never resurrect
            // tracked tables: matched source rows inherit their target
            // row's stable id (Delta preserves ids through MERGE UPDATE)
            val src =
              if (target.columns.exists(_.equalsIgnoreCase(RowIdCol)))
                inheritMergeIds(source, target, keys)
              else source
            Upsert.merge(target, src, keys)
          }
        Some((landEntriesMulti(t, merged,
          preservedStatsCols(touched, Seq(statsCol), merged.schema),
          recomputeGenerated = true), touched))
      }.get
      t.publish(withoutInputs(t.entries, land) ++ land.value,
        operation = "MERGE", meta = mergeIdentityAdvance(idMaxes))
    }
  }

  /** The (min, max) of `source`'s `column` as stats reprs — the key
    * span a merge prunes the target by; None when `source` is empty or
    * the column all-NULL. */
  private def keySpan(source: DataFrame,
                      column: String): Option[(String, String)] = {
    import org.apache.spark.sql.functions.{col, max, min}
    val castT = castType(statsDtype(source.select(column).schema.head.dataType))
    val b = source.agg(min(col(column).cast(castT)).cast("string"),
      max(col(column).cast(castT)).cast("string")).head()
    if (b.isNullAt(0)) None else Some((b.getString(0), b.getString(1)))
  }

  /** A merge or apply source's keys, collected on the driver.
    * `values(i)` holds key `i`'s distinct non-NULL values (what the hit
    * scan pushes as `In`), `tuples` the distinct key tuples without a
    * NULL, `dupes` the tuples the source holds more than once, `rows`
    * the source's row count and `types` the keys' source types. Tuples
    * compare by [[keyNorm]]. */
  private final case class KeySet(values: Seq[Seq[Any]], tuples: Set[Seq[Any]],
                                  dupes: Set[Seq[Any]], rows: Long,
                                  types: Seq[org.apache.spark.sql.types.DataType])

  /** The most source keys a key-matching verb collects: the largest key
    * set measured at which the pushed `In` list still matched the
    * semi-join (BENCH_NOTES, "Driver-side bounds"). */
  private val MaxKeySetRows = 3000L

  /** `source`'s [[KeySet]] on `keys`, or None when it holds more rows
    * than Spark would broadcast in a join:
    * `spark.sql.autoBroadcastJoinThreshold` divided by the key row's
    * size, and at most [[MaxKeySetRows]], checked by collecting at most
    * that many rows ([[collectCapped]]: a persisted micro-batch reports
    * no size to check up front). A threshold of -1 disables the driver
    * path. */
  private def collectKeySet(source: DataFrame,
                            keys: Seq[String]): Option[KeySet] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.functions.col
    val sel = source.select(keys.map(col): _*)
    val threshold = source.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val rowSize = org.apache.spark.sql.catalyst.plans.logical.statsEstimation
      .EstimationUtils.getSizePerRow(sel.queryExecution.analyzed.output)
    val cap = (BigInt(threshold) / rowSize).min(MaxKeySetRows).toLong
    val toRow = CatalystTypeConverters.createToScalaConverter(sel.schema)
    if (threshold <= 0) None
    else collectCapped(sel, cap, rowSize.toLong).map { rows0 =>
      val tuples = rows0.map(r =>
        toRow(r).asInstanceOf[org.apache.spark.sql.Row].toSeq)
      val full = tuples.filterNot(_.contains(null)).map(_.map(keyNorm))
      KeySet(keys.indices.map(i => tuples.map(_(i)).filter(_ != null).distinct),
        full.toSet,
        full.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }.toSet,
        tuples.size.toLong, sel.schema.fields.toSeq.map(_.dataType))
    }
  }

  private val LongMin = java.math.BigDecimal.valueOf(Long.MinValue)
  private val LongMax = java.math.BigDecimal.valueOf(Long.MaxValue)

  /** A key value in the form two equal keys share whatever their
    * numeric types (the target's INT and the source's BIGINT, an
    * integral DECIMAL and a BIGINT). Decimals stay exact: an integral
    * one within BIGINT's range becomes a Long, any other loses only its
    * trailing zeros; only FLOAT and DOUBLE go through a double. */
  private def keyNorm(v: Any): Any = v match {
    case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
              _: java.lang.Long) => n.asInstanceOf[Number].longValue
    case f: java.lang.Float => keyNorm(f.toDouble)
    case d: java.lang.Double if math.abs(d) < 9.0e18 && d == math.rint(d) =>
      d.longValue
    case d: java.math.BigDecimal =>
      val s = d.stripTrailingZeros
      if (s.scale <= 0 && s.compareTo(LongMin) >= 0 && s.compareTo(LongMax) <= 0)
        s.longValue
      else s
    case d: scala.math.BigDecimal => keyNorm(d.bigDecimal)
    case other => other
  }

  /** The hit predicate for a [[KeySet]]: each key column IN its values
    * (`keys` are the physical names), which pushes into the parquet
    * read. Exact for one key; for several it admits tuples the source
    * lacks, which [[landMaskKeyed]] drops on the driver. */
  private def keyFilter(keys: Seq[String], ks: KeySet): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    keys.zip(ks.values).map { case (k, vs) => col(k).isin(vs: _*) }.reduce(_ && _)
  }

  /** Does an entry's stats range on one column admit any of the key
    * values `reprs` (stats reprs)? Binary search over the keys sorted
    * in each stats type's order, so a file costs O(log keys). */
  private final class KeyProbe(reprs: Seq[String]) {
    private val sorted = scala.collection.mutable.Map.empty[String, Array[String]]
    def admits(st: ColStats): Boolean = {
      val a = sorted.getOrElseUpdate(st.dtype,
        reprs.toArray.sortWith(cmp(st.dtype, _, _) < 0))
      var (lo, hi) = (0, a.length)
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (cmp(st.dtype, a(m), st.min) < 0) lo = m + 1 else hi = m
      }
      lo < a.length && cmp(st.dtype, a(lo), st.max) <= 0
    }
  }

  /** The touched files of a key-matching verb, split from the rest of
    * `entries` (both in log order), on physical stats column `statsCol`
    * (none: every file is touched): with the source's keys `ks`, the
    * entries whose stats admit some key and whose bloom index on the
    * column, if any, admits one too ([[bloomAdmitted]]); else (a source
    * too large to collect) the entries overlapping the source's key
    * `span`. Entries without stats on the column are touched too,
    * unless the source has no key on it at all. */
  private def keyTouched(s: Snapshot, entries: Seq[Entry],
                         statsCol: Option[String], ks: Option[KeySet],
                         statsIdx: Int, span: => Option[(String, String)])
      : (Seq[Entry], Seq[Entry]) = {
    val byStats: Entry => Boolean = (statsCol, ks) match {
      case (None, _) => _ => true
      case (Some(_), Some(k)) if k.values(statsIdx).isEmpty => _ => false
      case (Some(c), Some(k)) =>
        val probe = new KeyProbe(k.values(statsIdx).map(reprOf))
        _.statsFor(c).forall(probe.admits)
      case (Some(c), None) => span match {
        case Some((lo, hi)) => touchesRange(_, c, lo, hi)
        case None => _ => false // empty / all-NULL source
      }
    }
    val split = entries.partition(byStats)
    (statsCol, ks) match {
      case (Some(c), Some(k)) if split._1.exists(_.bloomFor(c).isDefined) =>
        val kept = bloomAdmitted(s, split._1, c, k.values(statsIdx),
          k.types(statsIdx)).map(_.path).toSet
        entries.partition(e => kept(e.path))
      case _ => split
    }
  }

  /** Of `entries`, those whose bloom index on physical `column` may
    * hold one of `values` (of Spark type `dtype`): every value's k bit
    * positions are computed in one local projection (no Spark job), one
    * job per bloom sidecar reads just the rows at those positions, and
    * a file stays when it holds all k positions of some value. Entries
    * without a bloom on the column stay. */
  private def bloomAdmitted(s: Snapshot, entries: Seq[Entry], column: String,
                            values: Seq[Any],
                            dtype: org.apache.spark.sql.types.DataType)
      : Seq[Entry] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StructField, StructType}
    val valuesDf = s.spark.createDataFrame(
      java.util.Arrays.asList(values.map(Row(_)): _*),
      StructType(Seq(StructField("__v", dtype))))
    val kept = entries.filter(_.bloomFor(column).isDefined)
      .groupBy(_.bloomFor(column).get).toSeq.flatMap { case (ref, es) =>
        val wanted = valuesDf.select(bloomPosCols(col("__v"), ref.m, ref.k,
          ref.dtype): _*).collect().map(r => (0 until ref.k).map(r.getLong).toSet)
        val present = readFiles(s.spark, Seq(resolve(s.base, ref.dir)), None,
            mergeSchema = false)
          .where(col(DvPosCol).isin(wanted.flatten.distinct: _*) &&
            col(DvFileCol).isin(es.map(e => fileName(e.path)): _*))
          .select(DvFileCol, DvPosCol).collect()
          .groupMap(_.getString(0))(_.getLong(1)).view.mapValues(_.toSet)
        es.filter(e => present.get(fileName(e.path))
          .exists(ps => wanted.exists(_.subsetOf(ps))))
      }.map(_.path).toSet
    entries.filter(e => e.bloomFor(column).isEmpty || kept(e.path))
  }

  private def cardinalityViolation = new IllegalStateException(
    "MERGE: a target row matched multiple source rows with a " +
      "firing WHEN MATCHED clause — nondeterministic result " +
      "(Delta's cardinality violation); de-duplicate the source " +
      "on the ON keys first")

  /** Mask the rows of the tagged raw read `tagged` (of `touched`, on
    * physical `keys`) that `exactHits`, the verb's key join, finds. With
    * a collected key set `keySet` the mask is merged on the driver: one
    * scan job collects each hit's coordinates and keys ([[keyFilter]]
    * pushed into it), several-key hits outside the set are dropped, and
    * [[landMaskDriver]] lands the merged sidecar. With a `cardinality`
    * source, a LIVE hit (not already masked) whose tuple that source
    * holds twice fails the merge (the MERGE cardinality law). Without a
    * key set, or with hits beyond the driver-side limits
    * ([[maskRoom]], [[collectCapped]]), the mask is the distributed
    * build over `exactHits`, and the law runs as Spark jobs
    * ([[requireCardinality]]). */
  private def landMaskKeyed(t: Txn, touched: Seq[Entry], tagged: DataFrame,
                            keys: Seq[String], keySet: Option[KeySet],
                            cardinality: Option[DataFrame],
                            exactHits: => DataFrame)
      : Option[(String, Map[String, Long])] = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.functions.col
    def distributed(dupes: Boolean) = {
      if (dupes) cardinality.foreach(
        requireCardinality(t.snapshot, touched, exactHits, _, keys))
      landMaskDistributed(t, touched, exactHits)
    }
    keySet match {
      case None => distributed(dupes = true)
      case Some(ks) =>
        val hits = tagged.where(keyFilter(keys, ks))
          .select((Seq(DvFileCol, DvPosCol) ++ keys).map(col): _*)
        maskRoom(t.spark, touched)
          .flatMap(collectCapped(hits, _, hitRowBytes(hits, touched))) match {
          case None => distributed(ks.dupes.nonEmpty)
          case Some(rows0) =>
            val keyTypes = hits.schema.fields.toSeq.drop(2).map(_.dataType)
            val toScala = keyTypes.map(CatalystTypeConverters.createToScalaConverter)
            def tuple(r: InternalRow) = keyTypes.indices.map(i =>
              keyNorm(toScala(i)(r.get(i + 2, keyTypes(i)))))
            val rows =
              if (keys.size == 1) rows0 else rows0.filter(r => ks.tuples(tuple(r)))
            val prior = priorMasks(t.base, touched)
            if (cardinality.isDefined && ks.dupes.nonEmpty && rows.exists { r =>
                !prior.get(r.getUTF8String(0).toString)
                  .exists(java.util.Arrays.binarySearch(_, r.getLong(1)) >= 0) &&
                  ks.dupes(tuple(r)) }) throw cardinalityViolation
            landMaskDriver(t, touched, prior, hitPositions(rows))
        }
    }
  }

  /** The MERGE cardinality law as Spark jobs, for hits or sources too
    * large to collect: no live row of `hits` (tagged rows of `touched`
    * matching `source` on physical `keys`) may match a key tuple
    * `source` holds twice. */
  private def requireCardinality(s: Snapshot, touched: Seq[Entry],
                                 hits: DataFrame, source: DataFrame,
                                 keys: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dupKeys = source.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > 1).drop("__n")
    if (!liveRows(s, touched, hits).join(dupKeys, keys, "left_semi").isEmpty)
      throw cardinalityViolation
  }

  /** `tagged` (a raw tagged read of `touched`) without the rows their
    * prior masks delete. While the positions fit the driver-side limits
    * ([[maskRoom]]; every task ships them) they come from [[priorMasks]]
    * and filter each task's rows, no Spark job; above them, the
    * anti-join against [[dvFrame]]. */
  private def liveRows(s: Snapshot, touched: Seq[Entry],
                       tagged: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    val dved = touched.filter(_.dv.isDefined)
    if (dved.isEmpty) tagged
    else if (maskRoom(s.spark, dved).isDefined) {
      val masks = priorMasks(s.base, dved)
      val dead = udf((f: String, p: Long) =>
        masks.get(f).exists(java.util.Arrays.binarySearch(_, p) >= 0))
      tagged.where(!dead(col(DvFileCol), col(DvPosCol)))
    } else tagged.join(dvFrame(s.spark, s.base, dved).get,
      Seq(DvFileCol, DvPosCol), "left_anti")
  }

  /** `entries` minus the inputs a land replaces. */
  private def withoutInputs(entries: Seq[Entry],
                            land: Txn.Land[_]): Seq[Entry] = {
    val replaced = land.inputs.map(_.path).toSet
    entries.filterNot(e => replaced.contains(e.path))
  }

  /** Copy-on-write DELETE (Delta `DELETE WHERE` analog): remove rows
    * with `column` in [lo, hi] that also satisfy `residual`. Only the
    * files whose manifest stats range overlaps [lo, hi] are rewritten;
    * every other file is carried into the new version by reference —
    * the same skipping soundness as [[mergeCow]]: a row matching the
    * predicate can only live in a file whose range covers its key, so
    * at 100 TB a targeted erasure rewrites the touched band, not the
    * table. A touched file whose every row dies is dropped from the
    * manifest rather than republished empty. Files without stats are
    * conservatively rewritten. Returns the published version (the
    * current one when no file overlaps the range). */
  def deleteRange(spark: SparkSession, base: String, column: String,
                  lo: Any, hi: Any,
                  residual: org.apache.spark.sql.Column =
                    org.apache.spark.sql.functions.lit(true),
                  maxAttempts: Int = 5,
                  onAttempt: Int => Unit = _ => ()): Long =
    rewriteRange(spark, base, column, lo, hi, maxAttempts,
      "DELETE", onAttempt = onAttempt) { touched =>
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      // survivors: NOT (in-range AND residual). The negation is taken
      // over a null-safe coalesce so residual=NULL rows (SQL unknown)
      // survive, matching DELETE WHERE three-valued semantics.
      touched.where(!coalesce(
        col(column).between(lit(lo), lit(hi)) && residual, lit(false)))
    }

  /** Land a (file, position) sidecar dataset — deletion vector or
    * bloom index — under its own txn dir (same placement as data
    * files, so vacuum/clone treat it uniformly), staged to `t` before
    * the write, and return its base-relative dir. */
  private def landDvDir(t: Txn, df: DataFrame): String = {
    val dir = t.stageDir(newTxnDir())
    landFiles(df, t.base, dir)
    dir
  }

  /** Merge-on-read DELETE (Delta deletion-vectors analog): rows with
    * `column` in [lo, hi] satisfying `residual` are masked by writing
    * their (file, `_metadata.row_index`) positions to a sidecar — NO
    * data file is rewritten or dropped from disk, so at 100 TB a
    * delete commits in O(deleted rows), not O(touched files), and a
    * high-churn delete workload stops amplifying writes the way
    * [[deleteRange]]'s copy-on-write does. While the hits and the
    * touched files' masks fit the driver-side limits ([[maskRoom]]: at
    * most 10,000 new hits) the delete is two Spark jobs: one scan
    * collects the hit positions, and the merged mask lands as one
    * sidecar file ([[landMaskSidecar]]). Reads apply the mask inside
    * the DSv2 scan or as an anti-join on the row index ([[readEntries]]);
    * [[purgeDeletes]] (Delta `REORG … APPLY (PURGE)`) later folds masks
    * into rewritten files. A file already carrying a mask gets a
    * MERGED sidecar (old positions stay deleted); a file whose every
    * row is masked is dropped from the manifest. File skipping stays sound — stats
    * ranges only widen truth (a masked row no longer exists but its
    * stats band remains), which can never un-skip a live row. Returns
    * the published version (the current one when nothing matches). */
  def deleteRangeMor(spark: SparkSession, base: String, column: String,
                     lo: Any, hi: Any,
                     residual: org.apache.spark.sql.Column =
                       org.apache.spark.sql.functions.lit(true),
                     maxAttempts: Int = 5): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val (l, h) = (reprOf(lo), reprOf(hi))
    deleteMor(spark, base, col(column).between(lit(lo), lit(hi)) && residual,
      s => touchesRange(_, s.physical(column), l, h), maxAttempts)
  }

  /** Merge-on-read DELETE with an ARBITRARY predicate — the SQL
    * `DELETE FROM ... WHERE` surface ([[sources.TxLogTable]] routes
    * DSv2 `SupportsDelete` here, so a Thrift/JDBC client's DELETE
    * commits in O(deleted rows) like every MOR verb). `touchedFilter`
    * pre-selects candidate entries from manifest stats (the caller's
    * translation of the predicate into per-entry stats checks);
    * entries it rejects are carried by reference and never scanned —
    * pass `_ => true` when nothing can be proven. NULL predicate
    * values follow SQL three-valued DELETE semantics: unknown rows
    * survive. */
  def deleteWhereMor(spark: SparkSession, base: String,
                     cond: org.apache.spark.sql.Column,
                     touchedFilter: Entry => Boolean = _ => true,
                     maxAttempts: Int = 5): Long =
    deleteMor(spark, base, cond, _ => touchedFilter, maxAttempts)

  /** [[deleteWhereMor]], its stats pre-selection built from the
    * attempt's snapshot (`touchedAt`). */
  private[graft] def deleteMor(spark: SparkSession, base: String,
                        cond: org.apache.spark.sql.Column,
                        touchedAt: Snapshot => Entry => Boolean,
                        maxAttempts: Int): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    // a CAS loss to a winner the touched predicate cannot see re-bases
    // the landed sidecar (Txn rule 4) instead of re-scanning the band
    txn(spark, base, maxAttempts) { t =>
      val touchedFilter = touchedAt(t.snapshot)
      val land = t.rebase(Some(touchedFilter)) {
        val touched = t.entries.filter(touchedFilter)
        if (touched.isEmpty) None
        else {
          // positions are computed over the RAW files: already-masked
          // rows re-match and the union+distinct below folds them into
          // the merged sidecar — old deletions can never resurrect.
          // `cond` references LOGICAL names — evaluate on the logical
          // view with the DV coordinates carried through (the
          // projection sees the files' UNION of physical columns)
          val raw = t.snapshot.logical(taggedRead(t.snapshot, touched),
            Seq(DvFileCol, DvPosCol))
          // None: no hits, no prior masks — nothing to publish
          landMaskSidecar(t, touched, raw.where(coalesce(cond, lit(false))))
            .map((_, touched))
        }
      }
      land match {
        case None => t.cur
        case Some(l) =>
          val (dvDir, counts) = l.value
          t.publish(withoutInputs(t.entries, l) ++
            remask(l.inputs, dvDir, counts), operation = "DELETE")
      }
    }
  }

  /** The raw (mask-ignoring) tagged read of `entries`' files: all
    * table columns plus ([[DvFileCol]], [[DvPosCol]]) from parquet's
    * `_metadata` — the coordinates masks are expressed in. */
  private def taggedRead(s: Snapshot, entries: Seq[Entry]): DataFrame = {
    import org.apache.spark.sql.functions.col
    // widened tables: every DML verb's raw read requests the declared
    // (widened) physical schema — the mixed-width file set reads no
    // other way (see TableMeta.widenedPhysSchema). All OTHER tables read the
    // touched SUBSET's union (mergeSchema over the files at hand —
    // already being fully read, so the footer pass is proportional to
    // the work): the projection must see the UNION of those files'
    // physical columns (absent columns NULL-fill per file) — one
    // footer's inference on a schema-evolved touched subset would
    // silently DROP the other footers' columns from the landed images.
    readFiles(s.spark, entries.map(e => resolve(s.base, e.path)),
        s.meta.widenedPhysSchema)
      .withColumn(DvFileCol, col("_metadata.file_name"))
      .withColumn(DvPosCol, col("_metadata.row_index"))
  }

  /** Land one merged mask sidecar for `touched`: new hit positions
    * (from the tagged `hits0`, any extra columns ignored) unioned with
    * the entries' EXISTING masks, distinct. Returns the sidecar dir
    * and the per-file mask sizes, or None when there is nothing to
    * mask. While the touched files' prior positions plus the hits fit
    * the driver-side limits ([[maskRoom]]), one scan job collects the
    * hits and [[landMaskDriver]] merges and lands them; above them,
    * [[landMaskDistributed]] builds the mask as Spark jobs. */
  private def landMaskSidecar(t: Txn, touched: Seq[Entry], hits0: DataFrame)
      : Option[(String, Map[String, Long])] = {
    val hits = hits0.select(DvFileCol, DvPosCol)
    maskRoom(t.spark, touched)
      .flatMap(collectCapped(hits, _, hitRowBytes(hits, touched))) match {
      case Some(rows) => landMaskDriver(t, touched, priorMasks(t.base, touched),
        hitPositions(rows))
      case None => landMaskDistributed(t, touched, hits)
    }
  }

  /** The most bytes a MOR verb brings to the driver in one collection
    * (source keys, mask hits) or ships to every task of one scan (prior
    * mask positions): a quarter of `spark.driver.maxResultSize` (unless
    * 0, unlimited) and of `spark.rpc.message.maxSize`. */
  private def driverCollectBytes(spark: SparkSession): Long = {
    val conf = spark.sparkContext.getConf
    val maxResult = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val rpc = conf.getSizeAsMb("spark.rpc.message.maxSize", "128") << 20
    if (maxResult > 0) math.min(maxResult, rpc) / 4 else rpc / 4
  }

  /** The most new hits a mask merges on the driver: the largest hit set
    * measured at which the driver-side build still matched the
    * distributed one (BENCH_NOTES, "Driver-side bounds"). */
  private val MaxDriverHits = 10000L

  /** The bytes one collected row of the hit scan `hits` is estimated to
    * take: Spark's per-row estimate for its columns plus the longest
    * file name among `touched`, which its file column carries. */
  private def hitRowBytes(hits: DataFrame, touched: Seq[Entry]): Long =
    org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
      .getSizePerRow(hits.queryExecution.analyzed.output).toLong +
      touched.map(e => fileName(e.path).length).maxOption.getOrElse(0)

  /** The new hits the driver may still merge into `touched`' masks: at
    * most [[MaxDriverHits]], and with the prior positions (counted from
    * the manifest's `dv.rows`) within
    * `spark.graft.txlog.dsv2MaxMaskRows`. None when the prior positions
    * alone pass that limit or, at 8 bytes each, [[driverCollectBytes]]. */
  private def maskRoom(spark: SparkSession, touched: Seq[Entry]): Option[Long] = {
    val prior = touched.flatMap(_.dv).map(_.rows).sum
    Some(math.min(MaxDriverHits,
        graft.sources.TxLogSource.maxMaskRows(spark) - prior))
      .filter(_ >= 0 && 8 * prior <= driverCollectBytes(spark))
  }

  /** `touched`' prior mask positions by file name, read on the driver
    * ([[graft.sources.TxLogSource.dvPositionsByFile]], no Spark job). */
  private def priorMasks(base: String,
                         touched: Seq[Entry]): Map[String, Array[Long]] =
    graft.sources.TxLogSource.dvPositionsByFile(base, touched)
      .map { case (path, ps) => fileName(path) -> ps }

  /** Collected hit rows (file name, position, …) as positions by file
    * name, without a boxed value per row. */
  private def hitPositions(rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : Map[String, Array[Long]] = {
    import scala.collection.mutable
    val byFile = mutable.HashMap.empty[
      org.apache.spark.unsafe.types.UTF8String, mutable.ArrayBuilder.ofLong]
    rows.foreach(r => byFile.getOrElseUpdate(r.getUTF8String(0),
      new mutable.ArrayBuilder.ofLong) += r.getLong(1))
    byFile.iterator.map { case (n, ps) => n.toString -> ps.result() }.toMap
  }

  /** The positions one task of [[landMaskDriver]] lands: 8 MiB of
    * them, far below Spark's RPC message limit. */
  private val MaskSliceRows = 1 << 20

  /** The driver-side mask build: each touched file's `prior` positions
    * (by file name) unioned with its new `hits`, landed in one Spark job
    * ([[landDvDir]]) whose tasks each serve at most [[MaskSliceRows]]
    * merged positions, so a mask of up to that size is ONE sidecar
    * file. The sidecar is the same (file, position) parquet dataset the
    * distributed build lands, and the per-file counts are the merged
    * sets' sizes. */
  private def landMaskDriver(t: Txn, touched: Seq[Entry],
                             prior: Map[String, Array[Long]],
                             hits: Map[String, Array[Long]])
      : Option[(String, Map[String, Long])] = {
    val masks = touched.map(e => fileName(e.path)).flatMap { n =>
      val ps = sortedDistinct(Array.concat(prior.getOrElse(n, Array.emptyLongArray),
        hits.getOrElse(n, Array.emptyLongArray)))
      if (ps.isEmpty) None else Some(n -> ps)
    }
    if (masks.isEmpty) None
    else {
      // consecutive slices of the (file, positions) list, each at most
      // MaskSliceRows positions: one land task each
      val slices = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Array[Long])]]
      var (cur, room) = (Vector.empty[(String, Array[Long])], MaskSliceRows)
      for ((n, ps) <- masks) {
        var from = 0
        while (from < ps.length) {
          val part = ps.slice(from, from + room)
          cur :+= n -> part
          room -= part.length
          from += part.length
          if (room == 0) { slices += cur; cur = Vector.empty; room = MaskSliceRows }
        }
      }
      if (cur.nonEmpty) slices += cur
      val rows = t.spark.sparkContext.parallelize(slices.toSeq, slices.size)
        .flatMap(_.iterator.flatMap { case (n, ps) =>
          ps.iterator.map(p => org.apache.spark.sql.Row(n, p))
        })
      val dir = landDvDir(t, t.spark.createDataFrame(rows,
        graft.sources.TxLogSource.SidecarSchema))
      Some(dir -> masks.map { case (n, ps) => n -> ps.length.toLong }.toMap)
    }
  }

  /** `a`, sorted in place, without repeats. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    for (p <- a) if (n == 0 || a(n - 1) != p) { a(n) = p; n += 1 }
    java.util.Arrays.copyOf(a, n)
  }

  /** Up to `cap` rows of `df`, copied, collected in ONE Spark job;
    * None when `df` holds more. Each task returns at most `cap` rows,
    * and fewer when the job's partitions times `rowBytes` (the estimated
    * size of one collected row) would pass [[driverCollectBytes]]: a
    * task holding more than its share returns none, and the result is
    * None. */
  private def collectCapped(df: DataFrame, cap: Long, rowBytes: Long)
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    val qe = df.queryExecution
    val parts = scala.collection.mutable.ArrayBuffer.empty[Array[InternalRow]]
    var (n, over) = (0L, false)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
        qe, Some("txlog driver collect")) {
      val rdd = qe.toRdd
      val share = math.min(cap, driverCollectBytes(df.sparkSession) /
        math.max(rowBytes, 1) / math.max(rdd.getNumPartitions, 1))
      val take = math.min(share + 1, Int.MaxValue.toLong).toInt
      df.sparkSession.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => {
          val rows = it.take(take).map(_.copy()).toArray
          if (rows.length > share) null else rows
        },
        (_: Int, rows: Array[InternalRow]) => if (!over) {
          if (rows != null) n += rows.length
          over = rows == null || n > cap
          if (over) parts.clear() else parts += rows
        })
    }
    if (over) None else Some(parts.toSeq.flatten)
  }

  /** `df`, holding `rows` rows, coalesced to as many partitions as its
    * estimated size needs at `spark.sql.files.maxPartitionBytes` each
    * (the bytes Spark reads as one partition), so a small source lands
    * as one file however many partitions it was read in. */
  private def coalesceToSize(df: DataFrame, rows: Long): DataFrame = {
    val rowSize = org.apache.spark.sql.catalyst.plans.logical.statsEstimation
      .EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output)
    val perPart = BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    df.coalesce((BigInt(rows) * rowSize / perPart + 1).min(Int.MaxValue).toInt)
  }

  /** The distributed mask build: the new hits (of the tagged `hits0`)
    * unioned with the prior masks ([[dvFrame]]), distinct, landed one
    * file per shuffle partition, with the per-file counts from the same
    * cached frame. None when there is nothing to mask (the landed empty
    * dir stays staged to `t`, unreferenced, so the transaction deletes
    * it). */
  private def landMaskDistributed(t: Txn, touched: Seq[Entry],
                                  hits0: DataFrame)
      : Option[(String, Map[String, Long])] = {
    import org.apache.spark.sql.functions.col
    val (spark, base) = (t.spark, t.base)
    val newHits = hits0.select(DvFileCol, DvPosCol)
    val allDv = (dvFrame(spark, base, touched) match {
      case Some(old) => newHits.unionByName(old).distinct()
      case None => newHits // raw positions are unique by construction
    }).persist()
    try {
      // per-file counts come from the SAME cached frame the write
      // lands (identical rows by construction), and the two actions
      // overlap on driver threads (guide §2.6) — the old spelling
      // wrote the sidecar, then re-LISTED and re-READ the just-written
      // files back for the counts: one extra read of written bytes
      // plus a full sequential job latency, every masked commit
      var dvDir: String = null
      var counts: Map[String, Long] = Map.empty
      Par.all(
        () => dvDir = landDvDir(t, allDv.repartition(col(DvFileCol))),
        () => counts = allDv.groupBy(DvFileCol).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
      if (counts.isEmpty) None else Some((dvDir, counts))
    } finally allDv.unpersist(false)
  }

  /** Touched entries re-pointed at the merged sidecar: fully-masked
    * files drop from the manifest; files the mask never reached carry
    * verbatim. */
  private def remask(touched: Seq[Entry], dvDir: String,
                     counts: Map[String, Long]): Seq[Entry] =
    touched.flatMap { e =>
      counts.get(fileName(e.path)) match {
        case Some(n) if e.rows >= 0 && n >= e.rows => None // fully dead
        case Some(n) => Some(e.copy(dv = Some(Dv(dvDir, n))))
        case None => Some(e) // no hits, no prior mask: carry verbatim
      }
    }

  /** Merge-on-read UPDATE (Delta's DV update path — mask + append):
    * rows with `column` in [lo, hi] satisfying `residual` are MASKED
    * in place and their updated images land as NEW files in the same
    * commit — zero existing files rewritten, write cost O(updated
    * rows). Unlike the COW [[updateRange]], `set` MAY reassign the
    * clustering column: the appended files carry their own fresh
    * min/max stats, so skipping stays sound wherever the rows move.
    * Already-masked rows are excluded from the update set (a deleted
    * row must not resurrect as its updated image). Returns the
    * published version. */
  def updateRangeMor(spark: SparkSession, base: String, column: String,
                     lo: Any, hi: Any,
                     set: Map[String, org.apache.spark.sql.Column],
                     residual: org.apache.spark.sql.Column =
                       org.apache.spark.sql.functions.lit(true),
                     maxAttempts: Int = 5): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val (l, h) = (reprOf(lo), reprOf(hi))
    updateMor(spark, base, col(column).between(lit(lo), lit(hi)) && residual,
      set, s => touchesRange(_, s.physical(column), l, h), Seq(column),
      maxAttempts)
  }

  /** Merge-on-read UPDATE with an ARBITRARY predicate — the SQL
    * `UPDATE ... SET ... WHERE` surface. Same mask+append shape as
    * [[updateRangeMor]]; `touchedFilter` pre-selects candidate
    * entries from manifest stats (conservative default: all). */
  def updateWhereMor(spark: SparkSession, base: String,
                     cond: org.apache.spark.sql.Column,
                     set: Map[String, org.apache.spark.sql.Column],
                     touchedFilter: Entry => Boolean = _ => true,
                     primaryStats: Seq[String] = Seq.empty,
                     maxAttempts: Int = 5): Long =
    updateMor(spark, base, cond, set, _ => touchedFilter, primaryStats,
      maxAttempts)

  /** [[updateWhereMor]], its stats pre-selection built from the
    * attempt's snapshot (`touchedAt`). */
  private def updateMor(spark: SparkSession, base: String,
                        cond: org.apache.spark.sql.Column,
                        set: Map[String, org.apache.spark.sql.Column],
                        touchedAt: Snapshot => Entry => Boolean,
                        primaryStats: Seq[String],
                        maxAttempts: Int): Long = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    require(!set.keys.exists(_.equalsIgnoreCase(RowIdCol)),
      s"column name $RowIdCol is reserved for row tracking")
    txn(spark, base, maxAttempts) { t =>
      val s = t.snapshot
      requireNoIdentityAssignment(s, set.keys.toSeq)
      val (touched, carried) = t.entries.partition(touchedAt(s))
      if (touched.isEmpty) t.cur
      else {
        // `cond` and the SET expressions reference LOGICAL names —
        // the whole hit/update computation runs on the logical view
        // (DV coordinates carried through; the union read lets the
        // projection see every file's physical columns); the updated
        // images rename back to physical just before landing
        val m = t.meta
        val raw0 = s.logical(taggedRead(s, touched),
          Seq(DvFileCol, DvPosCol, RowIdCol))
        // row tracking: an UPDATE logically keeps the row, so the
        // appended post-image MATERIALIZES each hit's stable id
        // (materialized column wins, else file base + row ordinal) —
        // without this the masked-old/appended-new shape would
        // silently re-identify every updated row
        val raw =
          if (m.rowIdHighWater.isEmpty) dropRowId(raw0)
          else attachRowIds(spark, touched, raw0)
        val hits0 = raw.where(coalesce(cond, lit(false)))
        // live hits only: a previously-masked (deleted) row matching
        // the predicate must not come back as an updated image
        val live = liveRows(s, touched, hits0)
        // SQL UPDATE semantics: every SET expression evaluates against
        // the OLD row simultaneously (SET a = b, b = a swaps) — one
        // select, never a sequential withColumn fold (which would feed
        // each assignment the previous one's output, in Map hash
        // order). Assignments to columns the schema lacks append.
        val updated = {
          import org.apache.spark.sql.functions.col
          val dataCols = live.columns.toSeq
            .filterNot(c => c == DvFileCol || c == DvPosCol)
          val appended = set.keys.toSeq.sorted
            .filterNot(k => dataCols.exists(_.equalsIgnoreCase(k)))
          live.select(dataCols.map(c =>
            set.find(_._1.equalsIgnoreCase(c))
              .map { case (_, e) => e.as(c) }.getOrElse(col(c))) ++
            appended.map(k => set(k).as(k)): _*)
        }
        val updatedP = s.toPhysical(updated)
        // the post-image land and the mask-sidecar build are
        // independent actions — overlap them (guide §2.6)
        var newEntries: Seq[Entry] = null
        var maskRes: Option[(String, Map[String, Long])] = None
        Par.all(
          () => newEntries = landEntriesMulti(t, updatedP,
            preservedStatsCols(touched, primaryStats.map(s.physical),
              updatedP.schema),
            recomputeGenerated = true)
            .filter(_.rows != 0L),
          () => maskRes = landMaskSidecar(t, touched, hits0))
        maskRes match {
          case None => t.cur // no hits anywhere: the (empty) append goes too
          case Some((dvDir, counts)) =>
            t.publish(carried ++ remask(touched, dvDir, counts) ++ newEntries,
              operation = "UPDATE", cdfOp = Some("update"))
        }
      }
    }
  }

  /** Merge-on-read MERGE (Delta's DV merge path — mask matched rows,
    * append the source): target rows whose `keys` appear in `source`
    * are masked; ALL source rows land as new files in the same commit.
    * Row-level result is identical to [[mergeCow]] / [[Upsert.merge]]
    * (target-anti-source ∪ source), but zero target files are
    * rewritten — write cost is O(source), the shape that keeps a
    * continuous CDC feed against a 100 TB table from amplifying every
    * batch into band rewrites. `statsCol` must be a merge key (the
    * same skipping-soundness containment as [[mergeCow]]). Returns the
    * published version. */
  def mergeMor(spark: SparkSession, base: String, source: DataFrame,
               keys: Seq[String], statsCol: String,
               maxAttempts: Int = 5): Long = {
    require(keys.contains(statsCol),
      s"statsCol $statsCol must be a merge key (got $keys) — range " +
        "skipping is only sound when pruning on the match key")
    mergeMorWhere(spark, base, source, keys, (_, _) => Some(statsCol),
      maxAttempts, cardinality = false)
  }

  /** [[mergeMor]] that picks its own pruning column — the SQL
    * `MERGE INTO … UPDATE SET * … INSERT *` surface, where the caller
    * supplies only the ON keys: the first key carrying manifest stats
    * (on the snapshot the call starts from) prunes the touched set; a
    * table with no stats on any key merges un-pruned (every file
    * checked for the keys, still zero files rewritten). With
    * `cardinality`, a target row matching two source rows fails the
    * merge, as [[mergeClauses]]' does. */
  def mergeMorAuto(spark: SparkSession, base: String, source0: DataFrame,
                   keys0: Seq[String], maxAttempts: Int = 5,
                   cardinality: Boolean = false): Long =
    mergeMorWhere(spark, base, source0, keys0, (s, cast) => {
      val source = s.toPhysical(cast)
      keys0.find { k0 =>
        val k = s.physical(k0)
        source.columns.contains(k) &&
          scala.util.Try(statsDtype(source.schema(k).dataType)).isSuccess &&
          s.entries.exists(_.statsFor(k).isDefined)
      }
    }, maxAttempts, cardinality)

  /** Shared MOR-merge core: mask target rows whose `keys` appear in
    * `source`, land the whole source as new files, publish in one
    * commit. The source, `keys` and `statsCol` speak logical names;
    * each attempt translates them under its snapshot. A source of at
    * most [[MaxKeySetRows]] rows within Spark's broadcast threshold has
    * its keys collected once ([[collectKeySet]]): the touched files are
    * those whose `statsCol` stats admit some key, the hit scan pushes
    * the keys into the read, and the mask merges on the driver
    * ([[landMaskKeyed]]). A larger source prunes by its key span, finds
    * hits with a semi-join and builds the mask as Spark jobs. Only an
    * empty source merges nothing; a source row with a NULL key matches
    * no target row and lands as an insert. Each source column the
    * target declares is cast to the target's type and spelling first,
    * so the landed files and the collected keys carry the table's
    * types. `statsColOf` picks the pruning key from the snapshot the
    * call starts from and the cast source. */
  private def mergeMorWhere(spark: SparkSession, base: String,
                            input: DataFrame, keys0: Seq[String],
                            statsColOf: (Snapshot, DataFrame) => Option[String],
                            maxAttempts: Int, cardinality: Boolean): Long = {
    import org.apache.spark.sql.functions.col
    requireNoRowIdColumn(input)
    val s0 = snapshot(spark, base)
    s0.cur // the target must exist
    val source0 =
      if (s0.entries.isEmpty && s0.meta.schema.isEmpty) input // no shape yet
      else {
        val target = graft.sources.TxLogSource.mergeTargetSchema(s0)
        input.select(input.columns.toSeq.map { c =>
          target.fields.find(_.name.equalsIgnoreCase(c)) match {
            case Some(f) => col(c).cast(f.dataType).as(f.name)
            case None => col(c)
          }
        }: _*)
      }
    val statsCol0 = statsColOf(s0, source0)
    val keySet = collectKeySet(source0, keys0)
    val statsIdx = statsCol0.map(keys0.indexOf(_)).getOrElse(0)
    lazy val span = statsCol0.flatMap(keySpan(source0, _))
    val nothing = keySet match {
      case Some(ks) => ks.rows == 0
      case None => (statsCol0.isEmpty || span.isEmpty) && source0.isEmpty
    }
    if (nothing) return s0.cur
    txn(spark, base, maxAttempts) { t =>
      t.cur // the target must exist
      val s = t.snapshot
      val source = s.toPhysical(source0)
      val keys = keys0.map(s.physical)
      // GENERATED BY DEFAULT on merges: advance the high-water past any
      // explicit id the source carries
      val idMaxes = sourceIdentityMaxes(s, source)
      val (touched, carried) = keyTouched(s, t.entries,
        statsCol0.map(s.physical), keySet, statsIdx, span)
      val primaryStats = statsCol0.toSeq.map(s.physical)
      lazy val tagged = taggedRead(s, touched)
      // target rows whose key tuple appears in the source
      lazy val exactHits = tagged.join(
        source.select(keys.map(col): _*).distinct(), keys, "left_semi")
      lazy val keyHits = keySet.fold(exactHits)(ks => tagged.where(keyFilter(keys, ks)))
      // tracked tables: matched source rows inherit their target
      // row's stable id (Delta preserves ids through MERGE UPDATE);
      // unmatched rows land NULL and take the file's fresh span
      val sourceW =
        if (touched.isEmpty || t.meta.rowIdHighWater.isEmpty) source
        else inheritMergeIds(source,
          liveRows(s, touched, attachRowIds(spark, touched, keyHits)), keys)
      // a collected source lands as the files its size needs: the
      // source of a small MERGE is one file, not one per partition
      val landed = keySet.fold(sourceW)(ks => coalesceToSize(sourceW, ks.rows))
      var newEntries: Seq[Entry] = null
      val doLand = () => newEntries = landEntriesMulti(t, landed,
        preservedStatsCols(touched, primaryStats, landed.schema),
        recomputeGenerated = true)
        .filter(_.rows != 0L)
      val masked =
        if (touched.isEmpty) { doLand(); Seq.empty }
        else {
          // the source land and the mask build are independent
          // actions — overlap them on driver threads (guide §2.6)
          var maskRes: Option[(String, Map[String, Long])] = None
          val check = if (cardinality) Some(source) else None
          Par.all(doLand, () => maskRes =
            landMaskKeyed(t, touched, tagged, keys, keySet, check, exactHits))
          maskRes match {
            case None => touched // insert-only batch
            case Some((dvDir, counts)) => remask(touched, dvDir, counts)
          }
        }
      t.publish(carried ++ masked ++ newEntries, operation = "MERGE",
        meta = mergeIdentityAdvance(idMaxes))
    }
  }

  /** One WHEN clause of a conditional multi-clause MERGE
    * ([[mergeClauses]] — Delta's full `MERGE INTO` clause surface).
    * Conditions and assignment values are Columns over the JOINED
    * row: TARGET columns by bare logical name, SOURCE columns via
    * [[sourceCol]]. `condition = None` always fires; clauses are
    * evaluated in declaration order, first match wins (Delta's
    * ordering rule). */
  sealed trait MergeWhen {
    def condition: Option[org.apache.spark.sql.Column]
  }
  /** `WHEN [NOT] MATCHED [BY SOURCE] AND cond THEN UPDATE SET k = v,
    * …` — assignments evaluate SIMULTANEOUSLY against the old row
    * (SQL UPDATE semantics); unassigned columns carry through. */
  final case class MergeUpdate(condition: Option[org.apache.spark.sql.Column],
                               set: Map[String, org.apache.spark.sql.Column])
      extends MergeWhen
  /** `WHEN MATCHED [BY SOURCE] AND cond THEN DELETE`. */
  final case class MergeDelete(condition: Option[org.apache.spark.sql.Column])
      extends MergeWhen
  /** `WHEN NOT MATCHED AND cond THEN INSERT (cols) VALUES (exprs)` —
    * values reference SOURCE columns ([[sourceCol]]); target columns
    * the map omits insert as NULL (SQL's rule). */
  final case class MergeInsert(condition: Option[org.apache.spark.sql.Column],
                               values: Map[String, org.apache.spark.sql.Column])
      extends MergeWhen

  /** Namespace prefix SOURCE columns take inside [[MergeWhen]]
    * expressions (the joined row carries target columns bare and
    * source columns prefixed, so `t.x` vs `s.x` can never collide). */
  private[graft] val MergeSrcPrefix = "__src_"
  /** Reference a SOURCE column inside a [[MergeWhen]] condition or
    * assignment — the `s.x` of SQL MERGE. */
  def sourceCol(name: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(MergeSrcPrefix + name)

  /** Conditional multi-clause merge-on-read MERGE — the full Delta
    * `MERGE INTO` clause surface over the log (the dbt soft-delete /
    * `incremental_predicates` recipes emit exactly these shapes):
    *
    *   - `matched`: `WHEN MATCHED [AND cond] THEN UPDATE SET …/DELETE`,
    *     any number, first-match-wins per (target row, source row)
    *     pair. A target row that would be modified by MORE THAN ONE
    *     source row fails loudly (Delta's cardinality violation) —
    *     nondeterministic last-write-wins is never silently picked.
    *     As in Delta, a lone unconditional `WHEN MATCHED THEN DELETE`
    *     is exempt: deleting a row twice is deterministic.
    *   - `notMatched`: `WHEN NOT MATCHED [AND cond] THEN INSERT …`,
    *     conditions/values over SOURCE columns only.
    *   - `notMatchedBySource`: `WHEN NOT MATCHED BY SOURCE [AND cond]
    *     THEN UPDATE …/DELETE`, conditions/values over TARGET columns
    *     only (no source row exists to reference).
    *
    * Execution is ONE mask+append commit, Delta's DV merge shape:
    * fired matched/not-matched-by-source rows are MASKED in place
    * (row-precise — a conditional clause firing on one of two
    * same-key rows masks exactly that row), their updated images and
    * the fired inserts land as new files, zero existing files
    * rewritten. Write cost O(changed rows). Scale levers carried
    * over from the star-shaped verbs: the matched half prunes
    * candidate files by manifest stats on the first ON key carrying
    * them; with no NOT-MATCHED-BY-SOURCE clause, span-disjoint files
    * are never read at all; with exactly `WHEN NOT MATCHED BY SOURCE
    * THEN DELETE` (unconditional), span-disjoint files drop
    * METADATA-ONLY (every row provably vanished); a CONDITIONAL
    * by-source clause must read
    * them once (absence of a key is unprovable from stats; the write
    * stays O(fired rows)). The fired matched pairs are persisted for
    * the commit's duration — they feed the cardinality check, the
    * mask, and each update clause's images (Delta materializes the
    * same set). Identity columns follow the merge verbs' GENERATED BY
    * DEFAULT rule: images may carry existing ids, the high-water
    * advances past any id in the batch.
    *
    * `evolveSchema` (Delta `schema.autoMerge` / dbt-spark
    * `on_schema_change: append_new_columns`): source columns absent
    * from the target ADD to its declared schema in the SAME commit —
    * old rows read NULL, time travel below the merge stays narrow,
    * clause assignments/inserts may target the new columns, and on a
    * mapped table each gets a fresh physical name (the ADD COLUMNS
    * rule). Off (default): extra source columns are ordinary
    * unreferenced inputs — clause conditions read them, the target
    * shape never changes. Returns the published version. */
  def mergeClauses(spark: SparkSession, base: String, source: DataFrame,
                   keys: Seq[String],
                   matched: Seq[MergeWhen] = Seq.empty,
                   notMatched: Seq[MergeInsert] = Seq.empty,
                   notMatchedBySource: Seq[MergeWhen] = Seq.empty,
                   maxAttempts: Int = 5,
                   evolveSchema: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    import org.apache.spark.sql.Column
    require(keys.nonEmpty, "MERGE needs at least one ON key")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "MERGE with no WHEN clauses")
    matched.foreach {
      case _: MergeInsert => throw new IllegalArgumentException(
        "WHEN MATCHED takes UPDATE/DELETE, not INSERT")
      case _ => ()
    }
    notMatchedBySource.foreach {
      case _: MergeInsert => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE takes UPDATE/DELETE, not INSERT")
      case _ => ()
    }
    val missingKeys = keys.filterNot(k =>
      source.columns.exists(_.equalsIgnoreCase(k)))
    require(missingKeys.isEmpty,
      s"MERGE source lacks ON key(s) ${missingKeys.mkString(", ")}")
    require(!source.columns.exists(_.startsWith(MergeSrcPrefix)),
      s"source columns may not start with the reserved $MergeSrcPrefix")
    requireNoRowIdColumn(source)
    // first firing clause's index (first-match-wins), NULL when none;
    // a NULL condition is false (SQL three-valued WHEN)
    def fireIdx(clauses: Seq[MergeWhen]): Column =
      clauses.zipWithIndex.foldRight(lit(null).cast("int"): Column) {
        case ((cl, i), els) =>
          when(cl.condition.map(c => coalesce(c, lit(false)))
            .getOrElse(lit(true)), lit(i)).otherwise(els)
      }
    // unconditional by-source DELETE is the one by-source shape where
    // span-disjoint files can drop metadata-only
    val uncondSyncDelete = notMatchedBySource == Seq(MergeDelete(None))
    val deleteOnly = matched == Seq(MergeDelete(None))
    // the source's keys, collected once when small enough
    // ([[collectKeySet]])
    val keySet = collectKeySet(source, keys)
    txn(spark, base, maxAttempts) { t =>
      t.cur // the target must exist
      val entries = t.entries
      // GENERATED BY DEFAULT advance (like mergeMorWhere)
      val idMaxes = sourceIdentityMaxes(t.snapshot, source)
      // the target surface is the EVOLVED one (union of live files ∪
      // declared schema): a one-footer schema on a schema-evolved
      // unmapped table could miss file-evolved columns, and the image
      // projection below would then land their loss permanently
      val baseSchema = graft.sources.TxLogSource.mergeTargetSchema(t.snapshot)
      // MERGE schema evolution (Delta `schema.autoMerge` / dbt-spark
      // `on_schema_change: append_new_columns`): source columns
      // absent from the target ADD to its schema in the SAME commit
      // as the merge — old rows read NULL, time travel below the
      // merge stays narrow (the #schema line is versioned). Off by
      // default: without the flag, extra source columns are ordinary
      // unreferenced SQL inputs (clause conditions read them) and the
      // target shape never changes behind the caller's back.
      val extras: Seq[org.apache.spark.sql.types.StructField] =
        if (!evolveSchema) Seq.empty
        else source.schema.fields.toSeq
          .filterNot(f => baseSchema.fieldNames
            .exists(_.equalsIgnoreCase(f.name)))
          .map(f => org.apache.spark.sql.types.StructField(
            f.name, f.dataType, nullable = true))
      val targetSchema =
        if (extras.isEmpty) baseSchema
        else org.apache.spark.sql.types.StructType(
          baseSchema.fields ++ extras)
      val targetCols = targetSchema.fieldNames.toSeq
      require(!targetCols.exists(_.startsWith(MergeSrcPrefix)),
        s"target columns may not start with the reserved $MergeSrcPrefix")
      // an assignment/insert targeting a column outside the (possibly
      // evolved) target schema would be dropped SILENTLY by the image
      // projection below — fail loudly instead, naming the columns
      // and the flag that would admit them
      locally {
        val assigned = (matched ++ notMatchedBySource).flatMap {
          case MergeUpdate(_, set) => set.keys
          case _ => Nil
        } ++ notMatched.flatMap(_.values.keys)
        val unknown = assigned.filterNot(k =>
          targetCols.exists(_.equalsIgnoreCase(k))).distinct
        require(unknown.isEmpty,
          s"MERGE assigns column(s) ${unknown.mkString(", ")} that are " +
            "not in the target schema — add them first (ALTER TABLE " +
            "... ADD COLUMNS), or pass evolveSchema=true to evolve the " +
            "target from the source's columns")
      }
      def castTo(c: String, v: Column): Column =
        v.cast(targetSchema(targetSchema.fieldIndex(c)).dataType).as(c)
      // pruning on the first ON key carrying stats in BOTH the source
      // and some manifest entry (mergeMorAuto's rule): files whose
      // stats admit some source key, else (a source too large to
      // collect) files overlapping the source's key span. With an
      // EMPTY source nothing can match, so only by-source clauses act
      val statsKey = keys.find { k0 =>
        val k = t.snapshot.physical(k0)
        source.columns.find(_.equalsIgnoreCase(k0)).exists(n =>
          scala.util.Try(statsDtype(source.schema(n).dataType)).isSuccess) &&
          entries.exists(_.statsFor(k).isDefined)
      }
      val (touched0, rest) = keyTouched(t.snapshot, entries,
        statsKey.map(t.snapshot.physical), keySet,
        statsKey.map(keys.indexOf(_)).getOrElse(0),
        statsKey.flatMap(keySpan(source, _)))
      val needAllForBySource = notMatchedBySource.nonEmpty
      // dropped: provably every row is by-source-not-matched and the
      // only by-source clause is an unconditional DELETE
      val (dropped, outOfSpan) =
        if (needAllForBySource && uncondSyncDelete) (rest, Seq.empty[Entry])
        else if (needAllForBySource) (Seq.empty[Entry], rest)
        else (Seq.empty[Entry], Seq.empty[Entry])
      val touched = touched0 ++ outOfSpan
      val carried =
        if (needAllForBySource) Seq.empty[Entry]
        else rest
      val mCur = t.meta
      val cmCur = mCur.colMap
      // evolution on a MAPPED table assigns the new columns fresh
      // physical names (the ADD COLUMNS rule — a re-ADD of a DROPped
      // name must scan as NULL, never as the dropped bytes)
      val cmNew: Option[ColMap] =
        if (extras.isEmpty) cmCur
        else cmCur.map(cm => colMapWithAdded(t.snapshot, entries, cm,
          extras))
      def toPhysLocal(df: DataFrame): DataFrame =
        cmNew.map(toPhysicalDf(df, _)).getOrElse(df)
      // the joined namespace: target columns bare (+ DV coordinates),
      // source columns prefixed
      val srcP = source.select(source.columns.toIndexedSeq.map(c =>
        col(c).as(MergeSrcPrefix + c)): _*)
      def keyEq: Column = keys.map(k =>
        col(k) === col(MergeSrcPrefix +
          source.columns.find(_.equalsIgnoreCase(k)).get)).reduce(_ && _)
      // row tracking: every landed image class carries the stable-id
      // column — update images INHERIT the fired target row's id
      // (Delta preserves ids through MERGE UPDATE), insert images
      // carry NULL and take the file's fresh span at read
      val tracked = mCur.rowIdHighWater.isDefined
      // without a by-source clause only rows matching some source key
      // can fire or block an insert: the collected keys push into the
      // read
      val live: Option[DataFrame] =
        if (touched.isEmpty) None
        else {
          val tagged = taggedRead(t.snapshot, touched)
          val raw0 = t.snapshot.logical(keySet match {
            case Some(ks) if !needAllForBySource =>
              tagged.where(keyFilter(keys.map(t.snapshot.physical), ks))
            case _ => tagged
          }, Seq(DvFileCol, DvPosCol, RowIdCol))
          val raw =
            if (tracked) attachRowIds(spark, touched, raw0)
            else dropRowId(raw0)
          Some(liveRows(t.snapshot, touched, raw))
        }
      val fired: Option[DataFrame] = live.filter(_ => matched.nonEmpty)
        .map(_.join(srcP, keyEq, "inner")
          .withColumn("__fire", fireIdx(matched))
          .where(col("__fire").isNotNull)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      try {
        // Delta's cardinality law: a target row modified by the merge
        // must match at most ONE source row, unless the one matched
        // clause is an unconditional DELETE
        if (!deleteOnly) fired.foreach { f =>
          val dup = f.groupBy(col(DvFileCol), col(DvPosCol)).count()
            .where(col("count") > 1).limit(1)
          if (!dup.isEmpty) throw cardinalityViolation
        }
        // not-matched-by-source rows and their firing clause
        val nmbsFired: Option[DataFrame] =
          live.filter(_ => notMatchedBySource.nonEmpty).map { lv =>
            val srcKeys = srcP.select(keys.map(k => col(MergeSrcPrefix +
              source.columns.find(_.equalsIgnoreCase(k)).get).as(k)): _*)
              .distinct()
            lv.join(srcKeys, keys, "left_anti")
              .withColumn("__fire", fireIdx(notMatchedBySource))
              .where(col("__fire").isNotNull)
          }
        // update images: per update clause, assignments evaluate
        // simultaneously against the OLD (joined) row
        def updateImages(firedDf: DataFrame, clauses: Seq[MergeWhen])
            : Seq[DataFrame] =
          clauses.zipWithIndex.collect {
            case (MergeUpdate(_, set), i) =>
              firedDf.where(col("__fire") === i)
                .select(targetCols.map(c =>
                  set.find(_._1.equalsIgnoreCase(c))
                    .map { case (_, v) => castTo(c, v) }
                    .getOrElse {
                      // a just-EVOLVED column has no old value in the
                      // live frame: unassigned, it updates to NULL —
                      // exactly what the old row reads post-evolution
                      if (firedDf.columns.exists(_.equalsIgnoreCase(c)))
                        col(c)
                      else lit(null).cast(targetSchema(
                        targetSchema.fieldIndex(c)).dataType).as(c)
                    }) ++
                  (if (tracked) Seq(col(RowIdCol)) else Nil): _*)
          }
        // insert images: source rows matching NO live target key, per
        // first firing insert clause; omitted columns insert as NULL
        val insertImages: Seq[DataFrame] =
          if (notMatched.isEmpty) Seq.empty
          else {
            val unmatched = live match {
              case Some(lv) =>
                srcP.join(lv.select(keys.map(col): _*), keyEq, "left_anti")
              case None => srcP // no candidate files: nothing matches
            }
            val uf = unmatched.withColumn("__fire", fireIdx(notMatched))
              .where(col("__fire").isNotNull)
            notMatched.zipWithIndex.map { case (MergeInsert(_, values), i) =>
              uf.where(col("__fire") === i)
                .select(targetCols.map(c =>
                  values.find(_._1.equalsIgnoreCase(c))
                    .map { case (_, v) => castTo(c, v) }
                    .getOrElse(lit(null).cast(
                      targetSchema(targetSchema.fieldIndex(c)).dataType)
                      .as(c))) ++
                  (if (tracked) // fresh rows: NULL → the file's span id
                    Seq(lit(null).cast("long").as(RowIdCol)) else Nil): _*)
            }
          }
        val images: Seq[DataFrame] =
          fired.toSeq.flatMap(updateImages(_, matched)) ++
            insertImages ++
            nmbsFired.toSeq.flatMap(updateImages(_, notMatchedBySource))
        val allImages = images.reduceLeftOption(_.unionByName(_))
        val pendingPhys = extras.map(f =>
          cmNew.map(_.physical(f.name)).getOrElse(f.name).toLowerCase).toSet
        val newEntries = allImages match {
          case None => Seq.empty[Entry]
          case Some(img) =>
            val phys = toPhysLocal(img)
            landEntriesMulti(t, phys,
              preservedStatsCols(touched,
                statsKey.toSeq.map(t.snapshot.physical), phys.schema),
              recomputeGenerated = true,
              pendingDeclared = pendingPhys).filter(_.rows != 0L)
        }
        // mask: fired matched rows ∪ fired by-source rows
        val maskParts =
          fired.map { f => // deleteOnly: a row may have fired twice
            val hits = f.select(DvFileCol, DvPosCol)
            if (deleteOnly) hits.distinct() else hits
          }.toSeq ++
            nmbsFired.map(_.select(DvFileCol, DvPosCol)).toSeq
        val maskHits = maskParts.reduceLeftOption(_.unionByName(_))
        val masked = maskHits.flatMap(landMaskSidecar(t, touched, _)) match {
          case None => touched // nothing fired
          case Some((dvDir, counts)) => remask(touched, dvDir, counts)
        }
        t.publish(carried ++ masked ++ newEntries, operation = "MERGE",
          // schema evolution rides the SAME commit: the evolved
          // #schema (and the extended mapping) become visible
          // atomically with the files that carry the new columns
          meta = mergeIdentityAdvance(idMaxes).andThen(m =>
            if (extras.isEmpty) m
            else m.copy(schema = Some(targetSchema), colMap = cmNew)))
      } finally fired.foreach(_.unpersist())
    }
  }

  /** Append with a system-assigned IDENTITY column (Delta `GENERATED
    * ALWAYS AS IDENTITY` semantics): `idCol` must NOT be in `df` —
    * the engine assigns ids above the table's high-water, UNIQUE and
    * INCREASING across commits, with gaps allowed (Delta's identical
    * contract — an aborted attempt may skip ids, but a successful
    * commit consumes exactly batch-size ids). Assignment is
    * `high-water + per-partition cumulative offset + within-partition
    * row index` — no global sort, one tiny per-partition count
    * aggregate plus ONE hash shuffle of the batch (by captured
    * partition id — parallelism matches the input), so the append
    * stays O(batch) at any table size;
    * the new high-water is read back from the landed files' own idCol stats
    * (the bytes later readers trust) and rides the manifest as an
    * `#identity` meta line that every verb carries forward. A CAS
    * loss to a concurrent identity append RE-ASSIGNS from the
    * winner's high-water (the landed batch is discarded and re-landed
    * — two winners must never share an id range). `onAttempt` is a
    * test seam. Returns the published version. */
  def appendIdentity(df0: DataFrame, base: String, idCol0: String,
                     statsCol0: Option[String] = None, maxAttempts: Int = 5,
                     onAttempt: Int => Unit = _ => ()): Long = {
    import org.apache.spark.sql.functions.{col, count, lit,
      monotonically_increasing_id, row_number, spark_partition_id}
    val spark = df0.sparkSession
    txn(spark, base, maxAttempts, onAttempt) { t =>
      // mapped tables: ids assign and land under the identity column's
      // PHYSICAL name (on a mapped table the column must be declared
      // with ALTER ADD COLUMNS first — same birth rule as every column)
      val df = t.snapshot.toPhysical(df0)
      val idCol = t.snapshot.physical(idCol0)
      val statsCol = statsCol0.map(t.snapshot.physical)
      require(!df.columns.contains(idCol),
        s"IDENTITY column $idCol0 is system-assigned; the batch must not " +
          "provide it (GENERATED ALWAYS semantics)")
      val ident = t.meta.identity
      val water = ident.getOrElse(idCol, 0L)
      // DENSE allocation: per-partition cumulative offsets (one tiny
      // count aggregate — ≤ nPartitions rows to the driver) plus the
      // WITHIN-partition row index (the low 33 bits of Spark's
      // monotonic id). The naive `water + monotonic id` would burn
      // ~2^33 ids per partition per commit and eventually wrap Long;
      // this consumes exactly batch-size ids per commit. The batch is
      // PERSISTED across the count and the land — a source that
      // changed (or a nondeterministic plan) between two evaluations
      // would otherwise overrun a partition's offset range (duplicate
      // ids) or drop rows whose partition the count never saw.
      val withPid = df.withColumn("__pid", spark_partition_id()).persist()
      val entries =
        try {
          val counts = withPid.groupBy("__pid").agg(count(lit(1)).as("__n"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
          val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) =>
            (pid, acc + n)
          }
          val offMap = counts.map(_._1).zip(offsets.map(_._2)).toMap
          import spark.implicits._
          val offDf = offMap.toSeq.toDF("__pid", "__off")
          // WITHIN-partition index via row_number over the captured
          // __pid: ranks are distinct by construction under ANY plan
          // shape. The previous monotonically_increasing_id low-bits
          // trick assumed the broadcast join preserved the persisted
          // partitioning — an assumption the post-land uniqueness veto
          // caught breaking on small local-relation plans. Costs one
          // hash shuffle of the batch (by __pid — parallelism and
          // skew match the input partitioning); order within a
          // partition is arbitrary, which is fine: ids are arbitrary,
          // they only must be UNIQUE and above the high-water.
          val rowInPart = row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("__pid"))
              .orderBy(monotonically_increasing_id()))
            .cast("long") - lit(1L)
          val assigned = withPid
            .join(org.apache.spark.sql.functions.broadcast(offDf), "__pid")
            .withColumn(idCol, lit(water) + lit(1L) + col("__off") + rowInPart)
            .drop("__pid", "__off")
          landEntriesMulti(t, assigned, (Seq(idCol) ++ statsCol).distinct)
        } finally withPid.unpersist()
      // the new high-water comes from the LANDED files' stats — the
      // same bytes any later reader or skip decision will trust. Every
      // landed min must sit ABOVE the old water: a Long wrap (or any
      // allocation bug) surfaces as an id at/below it and vetoes the
      // commit before anything publishes.
      val landedIds = entries.flatMap(_.statsFor(idCol))
      landedIds.find(_.min.toLong <= water).foreach { bad =>
        throw new IllegalStateException(
          s"identity overflow/misallocation: landed min ${bad.min} is " +
            s"not above the high-water $water")
      }
      // uniqueness is load-bearing (a duplicate id silently corrupts
      // every downstream join), and the assignment above leans on the
      // broadcast join preserving the persisted batch's partition
      // order — so verify the LANDED bytes directly: distinct ids must
      // equal rows. One single-column scan + distinct over the NEW
      // batch only (O(batch), like the stats pass), vetoing the commit
      // before anything publishes if the plan shape ever breaks.
      locally {
        val totalRows = entries.map(_.rows).sum
        val distinctIds =
          if (entries.isEmpty) 0L
          else readFiles(spark, entries.map(e => resolve(base, e.path)),
              None, mergeSchema = false)
            .select(idCol).distinct().count()
        if (distinctIds != totalRows) {
          throw new IllegalStateException(
            s"identity misallocation: $distinctIds distinct ids over " +
              s"$totalRows landed rows — duplicate ids vetoed before " +
              "publish")
        }
      }
      val newWater = landedIds.map(_.max.toLong).foldLeft(water)(math.max)
      // a CAS loss deletes this land: a racer may have consumed ids
      // from the SAME water mark, so the retry re-assigns from the
      // winner's high-water
      t.publish(t.entries ++ entries,
        meta = _.copy(identity = ident + (idCol -> newWater)))
    }
  }

  /** Apply one CDC batch exactly-once (the Delta Live Tables `APPLY
    * CHANGES INTO` shape, built from the MOR primitives): target rows
    * whose `keys` appear in `deleteKeys` are MASKED, `inserts` lands
    * as new files, and the (appId → batchId) high-water rides the
    * SAME commit — so a foreachBatch replay after a restart is a
    * silent no-op on both halves. This is the replica-maintenance
    * loop over a row-precise change feed ([[sources.TxLogSource]]
    * `changeFeedTypes`): per-batch work is O(changed rows), zero
    * target files rewritten, and the replica never rebuilds.
    * `statsCol` must be a key (skipping soundness, as [[mergeCow]]).
    * Works against an EMPTY store (the bootstrap batch). Returns the
    * published version. */
  def applyChanges(spark: SparkSession, base: String,
                   deleteKeys: DataFrame, inserts: DataFrame,
                   keys: Seq[String], statsCol: String,
                   appId: String, batchId: Long,
                   maxAttempts: Int = 5): Long = {
    require(keys.contains(statsCol),
      s"statsCol $statsCol must be a key (got $keys)")
    import org.apache.spark.sql.functions.col
    var checkedCons = Map.empty[String, String]
    var keySet: Option[KeySet] = None
    var keyRange: Option[(String, String)] = None
    val statsIdx = keys.indexOf(statsCol)
    txn(spark, base, maxAttempts) { t =>
      val (entries, txns) = (t.entries, t.txns)
      // already applied: a replay after a restart, or a racing replica
      if (txns.getOrElse(appId, -1L) >= batchId) t.cur
      else {
        // mapped tables: both CDC halves run in PHYSICAL namespace
        // (same translation as the merge verbs)
        val s = t.snapshot
        val deleteKeysP = s.toPhysical(deleteKeys)
        val insertsP = s.toPhysical(inserts)
        val keysP = keys.map(s.physical)
        val statsColP = s.physical(statsCol)
        val newEntries = t.once {
          // appended replica files keep every stats dimension the
          // snapshot's entries carry (same contract as the other
          // MOR/merge verbs' preservedStatsCols) — a Z-ordered source's
          // 2-D skipping must survive replication, not decay one batch
          // at a time
          val statsCols = (Seq(statsColP) ++ entries.flatMap(_.stats.map(_.column)))
            .distinct.filter(insertsP.schema.fieldNames.contains)
          // the inserts land and the delete-key collection (or the
          // delete key-bound aggregate) are independent actions on
          // different inputs: overlap them on driver threads (guide
          // §2.6) instead of paying both latencies back to back on
          // every CDC batch
          var landed: Seq[Entry] = null
          Par.all(
            () => {
              val (es, checked) = landEntriesChecked(t, insertsP, statsCols,
                guardIdentity = true)
              landed = es.filter(_.rows != 0L)
              checkedCons = checked
            },
            () => {
              // a small delete-key set is collected ([[collectKeySet]]):
              // it selects the touched files and pushes into the hit scan
              keySet = collectKeySet(deleteKeysP, keysP)
              if (keySet.isEmpty)
                keyRange = keySpan(deleteKeysP, statsColP) // None: no deletes
            })
          landed
        }
        checkedCons = reEnforceIfChanged(t, newEntries, checkedCons)
        val (touched, carried) = keyTouched(s, entries, Some(statsColP), keySet,
          statsIdx, keyRange)
        val masked =
          if (touched.isEmpty) touched
          else {
            val read = taggedRead(s, touched)
            landMaskKeyed(t, touched, read, keysP, keySet, None,
              read.join(deleteKeysP.select(keysP.map(col): _*).distinct(),
                keysP, "left_semi")) match {
              case None => touched // no key actually present
              case Some((dvDir, counts)) => remask(touched, dvDir, counts)
            }
          }
        t.publish(carried ++ masked ++ newEntries, txns + (appId -> batchId),
          operation = "APPLY CHANGES")
      }
    }
  }

  /** Materialize deletion vectors (Delta `REORG TABLE … APPLY (PURGE)`
    * analog): rewrite ONLY the files carrying a mask, applying it, and
    * drop the sidecar references; every clean file rides into the new
    * version untouched. After the old versions age out, [[vacuum]]
    * reclaims the orphaned sidecar dirs. Returns the published version
    * (the current one when no file carries a mask). */
  def purgeDeletes(spark: SparkSession, base: String,
                   maxAttempts: Int = 5): Long =
    txn(spark, base, maxAttempts) { t =>
      // columnar-checkpoint tables select the masked files EXECUTOR-
      // side (the purge's working set is the DV'd files, never the
      // table) and publish a declared delta
      val (dved, carriedOpt) =
        TxLogPlan.pruneEntriesWith(spark, base, t.cur, _.dv.isDefined) match {
          case Some(ds) => (ds, None)
          case None =>
            val (ds, ca) = t.entries.partition(_.dv.isDefined)
            (ds, Some(ca))
        }
      if (dved.isEmpty) t.cur
      else {
        val cleaned = readEntriesCurrent(t.snapshot, dved,
          withRowIds = true)
        val newEntries = landEntriesMulti(t, cleaned,
          preservedStatsCols(dved, Seq.empty, cleaned.schema))
          .filter(_.rows != 0L)
        t.publish(carriedOpt.map(_ ++ newEntries).getOrElse(newEntries),
          dataChange = false, // mask materialization only: CDF skips
          operation = "REORG PURGE",
          deltaChange =
            if (carriedOpt.isEmpty) Some(dved.map(_.path)) else None)
      }
    }

  /** The k bloom bit positions of a value: double hashing via Spark's
    * codegen'd xxhash64 with the hash index as seed, over the value's
    * STRING form (aligning the probe literal's type with the stored
    * column's). Used identically at build (distributed, per row) and
    * probe (one local row), so cross-engine hash drift is impossible
    * by construction. */
  private def bloomPosCols(c: org.apache.spark.sql.Column, m: Long, k: Int,
                           dtype: String): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    // the cast through the BUILD-TIME column type is what makes a
    // differently-typed probe literal (42L against a double column)
    // hash the same string the build hashed ("42.0")
    (0 until k).map(i =>
      pmod(xxhash64(lit(i), c.cast(dtype).cast("string")), lit(m)))
  }

  /** Evaluate deterministic column expressions DRIVER-SIDE: project
    * them over a one-row LOCAL relation, which the optimizer's
    * ConvertToLocalRelation rule folds at plan time, so `head()` takes
    * from a LocalTableScan without launching a Spark job. The
    * `spark.range(1).select(...).head()` spelling this replaces paid
    * one single-task job per evaluation — pure scheduler tax on probe
    * paths that may run per lookup. Semantics are identical: the SAME
    * Column expressions go through the same analysis and cast rules. */
  private[graft] def evalLocal(spark: SparkSession,
      cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Row = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    spark.createDataFrame(
      java.util.Collections.singletonList(org.apache.spark.sql.Row(0)),
      StructType(Seq(StructField("__one", IntegerType))))
      .select(cols: _*).head()
  }

  private def probePositions(spark: SparkSession, value: Any,
                             ref: BloomRef): Seq[Long] = {
    import org.apache.spark.sql.functions.lit
    val row = evalLocal(spark,
      bloomPosCols(lit(value), ref.m, ref.k, ref.dtype))
    (0 until ref.k).map(row.getLong)
  }

  /** Build a bloom-filter index over `column` (Delta `CREATE
    * BLOOMFILTER INDEX` analog): ONE distributed pass computes each
    * file's set bit positions (k xxhash64 probes per row, `bitsPerRow
    * × largest file` bits, distinct), lands them as a (file, position)
    * sidecar, and republishes the SAME data entries carrying the
    * reference — zero data files rewritten. Point lookups
    * ([[readPoint]]) on a NON-clustered high-cardinality column then
    * skip every file whose bloom misses any of the value's k
    * positions — the lookup shape min/max band stats can never serve
    * (a random key's range overlaps every file). Files rewritten by
    * later DML lose the reference (conservatively scanned) until the
    * index is rebuilt; deletion-vector masks only over-approximate
    * membership, which can never skip a live row. Entries with
    * unknown row counts are left unindexed. Returns the published
    * version. */
  def buildBloomIndex(spark: SparkSession, base: String, column0: String,
                      bitsPerRow: Int = 16, k: Int = 5,
                      maxAttempts: Int = 5): Long = {
    import org.apache.spark.sql.functions.{col, explode, array}
    require(bitsPerRow >= 2 && k >= 1, s"degenerate bloom: $bitsPerRow/$k")
    txn(spark, base, maxAttempts) { t =>
      // bloom refs key on the PHYSICAL name (what the raw files carry) —
      // a later RENAME costs nothing, probes translate at lookup
      val column = t.snapshot.physical(column0)
      val indexable = t.entries.filter(_.rows > 0L)
      if (indexable.isEmpty) t.cur
      else {
        val m = math.max(64L, bitsPerRow.toLong * indexable.map(_.rows).max)
        // mergeSchema: on a schema-evolved table the column may be
        // absent from older files — plain inference from an arbitrary
        // footer could miss it (AnalysisException) or pick a stale
        // dtype for the BloomRef, breaking probe-time cast alignment;
        // the union schema is the one readEvolved serves readers. A
        // WIDENED table pins the read to the declared schema instead
        // (mergeSchema cannot merge a narrow/wide mix), so the bloom
        // positions hash the WIDENED dtype — the same one probes see.
        val raw = readFiles(spark, indexable.map(e => resolve(base, e.path)),
          t.meta.widenedPhysSchema)
        val dtype = raw.schema(column).dataType.catalogString
        val bits = raw
          .where(col(column).isNotNull)
          .select(col("_metadata.file_name").as(DvFileCol),
            explode(array(bloomPosCols(col(column), m, k, dtype): _*))
              .as(DvPosCol))
          .distinct()
        val dir = landDvDir(t, bits.repartition(col(DvFileCol)))
        val ref = BloomRef(dir, column, m, k, dtype)
        t.publish(t.entries.map(e =>
          if (e.rows > 0L)
            e.copy(blooms = e.blooms.filterNot(_.column == column) :+ ref)
          else e), operation = "CREATE BLOOM INDEX")
      }
    }
  }

  /** Index NEWLY-landed files into the table's existing bloom groups
    * at commit time (incremental coverage — VERDICT r10 #5): for each
    * column ANY current entry carries a [[BloomRef]] on, one pass over
    * the new files lands a fresh sidecar (its own m sized to the new
    * batch, the existing group's k/dtype) and attaches refs — so
    * point lookups stay sharp on streaming/append tables with no
    * rebuild. Refs are per-entry self-describing, so mixed (old-dir /
    * new-dir) groups probe independently and correctly. A column
    * absent from the new files' schema (older-schema producer) is
    * skipped — those entries stay conservatively scanned, sound.
    * Returns the ref-carrying entries; the sidecars are staged to
    * `t`. */
  private[graft] def variantStatsTarget(targetType: String): (String, String) =
    targetType.toLowerCase match {
      case "long" | "bigint" | "int" | "integer" => ("long", "bigint")
      case "double" | "float" => ("double", "double")
      case "string" => ("string", "string")
      case "date" => ("date", "date")
      case other => throw new IllegalArgumentException(
        s"unsupported variant stats type '$other' " +
          "(long/double/string/date)")
    }

  /** One aggregate scan over `entries`' files computing min/max of
    * `try_variant_get(phys, path)` per file, merged back into each
    * entry under the stats key `<phys><path>`. All-NULL (or no-row)
    * files keep no stats — conservatively scanned, sound. */
  private def mergeVariantPathStats(spark: SparkSession, base: String,
                                    entries: Seq[Entry], phys: String,
                                    path: String, dtype: String,
                                    sparkT: String): Seq[Entry] = {
    import org.apache.spark.sql.functions._
    val key = s"$phys$path"
    val statable = entries.filter(_.rows != 0L)
    if (statable.isEmpty) entries
    else {
      val raw = spark.read
        .parquet(statable.map(e => resolve(base, e.path)): _*)
      val ext = try_variant_get(col(phys), path, sparkT)
      val castT = castType(dtype)
      // one aggregate scan, one tiny row per file on the driver.
      // Keyed by the path's last components (txn-dir/filename —
      // part names carry job UUIDs), an O(1) lookup per entry
      def sfx(p: String, n: Int) =
        p.split('/').takeRight(n).mkString("/")
      val byFile = raw
        .groupBy(col("_metadata.file_path").as("__fp"))
        .agg(min(ext.cast(castT)).cast("string").as("__min"),
          max(ext.cast(castT)).cast("string").as("__max"))
        .collect()
        .flatMap { r =>
          val v2 = (Option(r.getString(1)), Option(r.getString(2)))
          Seq(sfx(r.getString(0), 2) -> v2, sfx(r.getString(0), 1) -> v2)
        }.toMap
      entries.map { e =>
        byFile.get(sfx(e.path, if (e.path.contains('/')) 2 else 1)) match {
          case Some((Some(mn), Some(mx))) =>
            e.copy(stats = e.stats.filterNot(_.column == key) :+
              ColStats(key, dtype, mn, mx))
          case _ => e // all-NULL path (or no rows): no stats = keep
        }
      }
    }
  }

  /** One-shot sweep collecting per-file min/max stats on a VARIANT
    * extraction path — Delta collects stats on shredded variant
    * leaves for skipping; here the collection is an explicit
    * maintenance verb (the [[buildBloomIndex]] pattern) that works on
    * SHREDDED and unshredded files alike, because the stats compute
    * through `try_variant_get` — the exact expression queries skip
    * with. The stats key is `<physCol><path>` (e.g. "v$.id"): a TYPED
    * scalar key distinct from the variant column itself, whose stats
    * stay vetoed (a ragged variant has no total order; a typed path
    * does). Sound by construction: files landing AFTER the collection
    * carry no path stats and never skip until a re-collection, and
    * physical rewrites (OPTIMIZE / COW DML) drop the key the same
    * conservative way. One metadata commit republishes the entries
    * with the merged stats — zero data files move.
    *
    * Scale posture: the sweep is a FULL-TABLE maintenance verb — it
    * must scan every live file and republish every statable entry, so
    * its cost is a table scan plus an O(entries) commit. At the
    * 10^6-file scale prefer [[declareVariantStats]] (write-time
    * collection, O(batch) forever after one backfill) and reserve
    * this verb for adoption backfills of directories written before
    * the declaration existed. */
  def collectVariantStats(spark: SparkSession, base: String,
                          column0: String, path: String,
                          targetType: String,
                          maxAttempts: Int = 5): Long = {
    require(path.startsWith("$"),
      s"variant path must start with '$$' (got '$path')")
    val (dtype, sparkT) = variantStatsTarget(targetType)
    txn(spark, base, maxAttempts) { t =>
      val phys = t.snapshot.physical(column0)
      if (t.entries.forall(_.rows == 0L)) t.cur
      else t.publish(mergeVariantPathStats(spark, base, t.entries, phys,
        path, dtype, sparkT), dataChange = false, operation = "COLLECT STATS")
    }
  }

  /** DECLARE a variant extraction path for write-time stats (the
    * standing twin of the one-shot [[collectVariantStats]] sweep —
    * Delta's shredded-leaf stats collected AT WRITE): one commit
    * back-fills min/max on every existing file AND lands the
    * `#varstats` meta line, after which every API-verb write collects
    * the path's stats on its new files in the same scan as its
    * ordinary stats columns — [[readVariantRange]] prunes fresh
    * ingest immediately, no maintenance sweep needed. The DSv2 sink
    * path (executor-side stats) does not collect declared paths; its
    * files stay conservatively scanned until the next sweep — sound.
    * Declared on the frozen PHYSICAL name, so a later logical rename
    * of the column keeps collection and old stats keys aligned. */
  def declareVariantStats(spark: SparkSession, base: String,
                          column0: String, path: String,
                          targetType: String,
                          maxAttempts: Int = 5): Long = {
    require(path.startsWith("$"),
      s"variant path must start with '$$' (got '$path')")
    val (dtype, sparkT) = variantStatsTarget(targetType)
    txn(spark, base, maxAttempts) { t =>
      val phys = t.snapshot.physical(column0)
      val declared = t.meta.varStats
      require(!declared.exists(d => d._1 == phys && d._2 == path),
        s"variant stats already declared for $phys$path")
      t.publish(mergeVariantPathStats(spark, base, t.entries, phys,
          path, dtype, sparkT),
        dataChange = false, operation = "DECLARE VARIANT STATS",
        meta = _.copy(varStats = declared :+ ((phys, path, dtype))))
    }
  }

  /** Undeclare a variant stats path: one metadata commit drops the
    * `#varstats` line so future writes stop collecting. Existing
    * per-file stats stay — they remain TRUE of their (immutable)
    * files, so leaving them costs nothing and keeps the drop O(1)
    * instead of republishing every entry of a large table. */
  def dropVariantStats(spark: SparkSession, base: String,
                       column0: String, path: String,
                       maxAttempts: Int = 5): Long = {
    txn(spark, base, maxAttempts) { t =>
      val phys = t.snapshot.physical(column0)
      val m = t.meta
      val declared = m.varStats
      require(declared.exists(d => d._1 == phys && d._2 == path),
        s"no declared variant stats for $phys$path")
      // the layout depends on the declaration (it types the tiling
      // interleave and keeps every tile's skipping stats fresh):
      // un-cluster first, then drop
      require(!m.cluster.exists(_.equalsIgnoreCase(s"$phys$path")),
        s"$phys$path is a registered CLUSTER BY key — " +
          "ALTER TABLE ... CLUSTER BY NONE (or re-cluster without " +
          "it) before dropping its stats declaration")
      t.publish(t.entries, dataChange = false,
        operation = "DROP VARIANT STATS",
        meta = _.copy(varStats = declared.filterNot(d =>
          d._1 == phys && d._2 == path)))
    }
  }

  /** Range read over a VARIANT extraction path: prune files whose
    * collected path stats ([[collectVariantStats]]) cannot overlap
    * [lo, hi] — unstatted files conservatively survive — then scan
    * only the survivors with the row-level `variant_get` residual.
    * At 100 TB this turns a typed query over semi-structured bronze
    * ("$.price between …") into a band scan, exactly what Delta's
    * shredded-leaf stats buy. Like [[readRanges]], the latest version
    * is resolved once and the survivors are served by [[readKept]]
    * under the table's schema at that version. */
  def readVariantRange(spark: SparkSession, base: String, column0: String,
                       path: String, targetType: String,
                       lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions._
    val s = snapshot(spark, base)
    readKept(s, keptInRanges(s,
        Seq((s"${s.physical(column0)}$path", reprOf(lo), reprOf(hi)))))
      .where(try_variant_get(col(column0), path, targetType)
        .between(lit(lo), lit(hi)))
  }

  private[graft] def indexNewEntries(t: Txn, entries: Seq[Entry])
      : Seq[Entry] = {
    import org.apache.spark.sql.functions.{array, col, explode}
    val (spark, base) = (t.spark, t.base)
    val indexable = entries.filter(_.rows > 0L)
    if (indexable.isEmpty) return entries
    val existing = t.entries.flatMap(_.blooms)
    if (existing.isEmpty) return entries
    val raw = readFiles(spark, indexable.map(e => resolve(base, e.path)),
      None, mergeSchema = false)
    val byColumn = existing.groupBy(_.column).toSeq.sortBy(_._1)
      .filter { case (c, _) => raw.columns.contains(c) }
    if (byColumn.isEmpty) return entries
    var out = entries
    byColumn.foreach { case (column, refs) =>
      val proto = refs.maxBy(_.m) // densest group sets k and dtype
      // build-time bitsPerRow is not recorded; the default (16) keeps
      // the fpp in the same regime, and m sizes to the NEW batch only
      val m = math.max(64L, 16L * indexable.map(_.rows).max)
      val bits = raw
        .where(col(column).isNotNull)
        .select(col("_metadata.file_name").as(DvFileCol),
          explode(array(
            bloomPosCols(col(column), m, proto.k, proto.dtype): _*))
            .as(DvPosCol))
        .distinct()
      val dir = landDvDir(t, bits.repartition(col(DvFileCol)))
      val ref = BloomRef(dir, column, m, proto.k, proto.dtype)
      out = out.map(e =>
        if (e.rows > 0L)
          e.copy(blooms = e.blooms.filterNot(_.column == column) :+ ref)
        else e)
    }
    out
  }

  /** Point-lookup pruning: entries of the latest version that can hold
    * `column` = `value`, filtered FIRST by min/max stats and then by
    * the bloom index (a file survives only if its bloom holds ALL k
    * positions of the value). Probing reads only the tiny position
    * rows matching the value's k positions from the sidecar — at 10^5
    * files that is k rows per file worst case, one pushed-filter scan.
    * Entries without a bloom on the column pass conservatively.
    * Returns (kept, all). */
  def prunePoint(spark: SparkSession, base: String, column0: String,
                 value: Any): (Seq[Entry], Seq[Entry]) =
    prunePoint(snapshot(spark, base), column0, value)

  /** [[prunePoint]] on snapshot `s`. */
  private def prunePoint(s: Snapshot, column0: String,
                         value: Any): (Seq[Entry], Seq[Entry]) = {
    import org.apache.spark.sql.functions.{col, countDistinct, lit}
    val (spark, base) = (s.spark, s.base)
    s.cur // a table that must exist
    require(value != null, "point lookup value must be non-null")
    val column = s.physical(column0)
    val entries = s.entries
    val repr = reprOf(value)
    val statsKept = entries.filter(touchesRange(_, column, repr, repr))
    val (bloomable, rest) = statsKept.partition(_.bloomFor(column).isDefined)
    if (bloomable.isEmpty) return (statsKept, entries)
    val kept = bloomable.groupBy(_.bloomFor(column).get).toSeq
      .sortBy(_._1.dir).flatMap { case (ref, es) =>
        val positions = probePositions(spark, value, ref)
        val need = positions.distinct.size
        val nameFilter =
          if (es.size <= 256)
            col(DvFileCol).isin(es.map(e => fileName(e.path)): _*)
          else lit(true) // optimization only — extra names never match
        val present = readFiles(spark, Seq(resolve(base, ref.dir)), None,
            mergeSchema = false)
          .where(col(DvPosCol).isin(positions.distinct: _*) && nameFilter)
          .groupBy(DvFileCol)
          .agg(countDistinct(col(DvPosCol)).as("__n"))
          .collect()
          .filter(_.getLong(1) >= need).map(_.getString(0)).toSet
        es.filter(e => present.contains(fileName(e.path)))
      }
    (kept ++ rest, entries)
  }

  /** Bloom-indexed point read: prune by stats + bloom at the latest
    * version `v` (resolved once), then scan only the survivors with the
    * equality predicate residual. The survivors are served by
    * [[readKept]]: the DSv2 scan pinned to them at `v`, deletion
    * vectors masked inside the scan, so the read is one Spark job
    * whether or not its files are masked, and no survivor means zero
    * partitions. The residual is a `where` that pushes into the scan.
    * The schema is the table's at `v` ([[graft.sources.TxLogSource]]'s):
    * a key whose files all predate a mergeSchema append serves that
    * append's columns as NULL. */
  def readPoint(spark: SparkSession, base: String, column: String,
                value: Any): DataFrame =
    readPoint(snapshot(spark, base), column, value)

  /** [[readPoint]] on snapshot `s`. */
  private[graft] def readPoint(s: Snapshot, column: String,
                               value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    readKept(s, prunePoint(s, column, value)._1)
      .where(col(column) === lit(value))
  }

  /** Copy-on-write UPDATE (Delta `UPDATE SET` analog): for rows with
    * `column` in [lo, hi] satisfying `residual`, replace each column
    * in `set` with its expression; all other rows — and all files
    * outside the stats range — are carried unchanged (untouched files
    * by reference, like [[deleteRange]]). `set` may not assign the
    * pruning column itself: moving a row's cluster key would invalidate
    * the band layout the skipping relies on (Delta has the same
    * restriction on partition columns via rewrite). Returns the
    * published version. */
  def updateRange(spark: SparkSession, base: String, column: String,
                  lo: Any, hi: Any,
                  set: Map[String, org.apache.spark.sql.Column],
                  residual: org.apache.spark.sql.Column =
                    org.apache.spark.sql.functions.lit(true),
                  maxAttempts: Int = 5,
                  onAttempt: Int => Unit = _ => ()): Long = {
    require(!set.contains(column),
      s"UPDATE may not assign the clustering column $column — " +
        "rewriting the band key would break manifest-stats skipping")
    rewriteRange(spark, base, column, lo, hi, maxAttempts,
      "UPDATE", assigned = Some(set.keys.toSeq), onAttempt = onAttempt) {
      touched =>
      import org.apache.spark.sql.functions.{coalesce, col, lit, when}
      val hit = coalesce(
        col(column).between(lit(lo), lit(hi)) && residual, lit(false))
      // simultaneous evaluation against the OLD row, same SQL UPDATE
      // semantics as updateWhereMor (a sequential withColumn fold
      // would feed later assignments earlier ones' outputs, in Map
      // hash order — SET a = b, b = a must swap)
      touched.select(touched.columns.toSeq.map(c =>
        set.find(_._1.equalsIgnoreCase(c))
          .map { case (_, e) => when(hit, e).otherwise(col(c)).as(c) }
          .getOrElse(col(c))): _*)
    }
  }

  /** Atomic range replacement (Delta `replaceWhere` analog — the
    * daily-reload shape): in ONE published version, every existing
    * row with `column` in [lo, hi] is dropped and `df`'s rows take
    * their place. Validated like Delta: `df` may only contain rows
    * inside the replaced range (a misrouted row would silently
    * corrupt a neighboring band). Files outside the range ride by
    * reference; in-range survivors of PARTIALLY overlapping files are
    * rewritten. The replacement lands once and is reused across CAS
    * retries — a conflict re-reads one manifest, never re-lands the
    * batch. */
  def replaceRange(spark: SparkSession, base: String, column0: String,
                   lo: Any, hi: Any, df0: DataFrame,
                   maxAttempts: Int = 5): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val (l, h) = (reprOf(lo), reprOf(hi))
    txn(spark, base, maxAttempts) { t =>
      // the whole verb runs in PHYSICAL namespace: batch renamed, range
      // column translated (survivor filter + stats + landed validation
      // all use the same name)
      val df = t.snapshot.toPhysical(df0)
      val column = t.snapshot.physical(column0)
      val dtype = statsDtype(df.schema(column).dataType)
      // land FIRST, validate from the landed files' own stats: one
      // evaluation of df (a separate validation count would re-evaluate
      // a non-deterministic plan, letting a misrouted row slip between
      // the check and the land), and the landed min/max is exactly what
      // later skipping will trust. A file without stats on the column
      // holds all-NULL keys — NULL is not inside any range, reject too.
      // The batch is reused by every attempt; the survivor rewrite is
      // per attempt.
      val newEntries = t.once {
        val landed = landEntriesMulti(t, df, Seq(column))
          .filter(_.rows != 0L)
        val misrouted = landed.filterNot(e =>
          e.statsFor(column).exists(st =>
            cmp(dtype, st.min, l) >= 0 && cmp(dtype, st.max, h) <= 0))
        if (misrouted.nonEmpty) throw new IllegalArgumentException(
          s"replaceRange: replacement rows must satisfy $column BETWEEN " +
            s"$lo AND $hi (landed files ${misrouted.map(_.path).mkString(",")} " +
            "fall outside — Delta's replaceWhere constraint, which keeps " +
            "band skipping sound; nothing was published)")
        landed
      }
      t.cur // the target must exist
      val (touched, carried) =
        t.entries.partition(touchesRange(_, column, l, h))
      val survivors =
        if (touched.isEmpty) Seq.empty
        else {
          val kept = readEntriesCurrent(t.snapshot, touched,
              withRowIds = true)
            .where(!coalesce(
              col(column).between(lit(lo), lit(hi)), lit(false)))
          landEntriesMulti(t, kept,
            preservedStatsCols(touched, Seq(column), kept.schema))
            .filter(_.rows != 0L)
        }
      t.publish(carried ++ survivors ++ newEntries,
        operation = "REPLACE WHERE")
    }
  }

  /** Stats columns to re-collect when rewriting `touched` files:
    * `primary` plus every column the touched entries already carried
    * stats on (a DML rewrite must not erase a commitMulti table's
    * other skipping dimensions), limited to columns the rewritten
    * schema still has. */
  private def preservedStatsCols(touched: Seq[Entry], primary: Seq[String],
                                 schema: org.apache.spark.sql.types.StructType)
      : Seq[String] =
    (primary ++ touched.flatMap(_.stats.map(_.column))).distinct
      .filter(c => hasPath(schema, c))

  /** Does `path` (possibly dotted, case-insensitive) resolve inside
    * `schema`? */
  private[graft] def hasPath(schema: org.apache.spark.sql.types.StructType,
                             path: String): Boolean =
    scala.util.Try(dataTypeAt(schema, path)).isSuccess

  /** The data type at a (possibly dotted) path — loud on a missing
    * segment or a non-struct parent. */
  private[graft] def dataTypeAt(schema: org.apache.spark.sql.types.StructType,
                                path: String)
      : org.apache.spark.sql.types.DataType =
    path.split('.').foldLeft(
      schema: org.apache.spark.sql.types.DataType) { (dt, part) =>
      dt match {
        case s: org.apache.spark.sql.types.StructType =>
          s.fields.find(_.name.equalsIgnoreCase(part)).getOrElse(
            throw new IllegalArgumentException(
              s"no field '$part' of path '$path' in $s")).dataType
        case other => throw new IllegalArgumentException(
          s"path '$path' descends into non-struct type $other")
      }
    }

  /** Shared COW rewrite loop for the row-level DML verbs: partition
    * the manifest by stats overlap with [lo, hi], run `transform` over
    * ONLY the touched files, land the result re-clustered with fresh
    * stats on the predicate column PLUS whatever columns the touched
    * entries carried (2-D skipping survives DML), and publish
    * carried ++ new under CAS retry. Zero-row outputs land no files
    * (parquet still writes an empty part; its rows==0 entry is
    * dropped). `assigned` is an UPDATE's SET columns (None for a
    * DELETE). */
  private def rewriteRange(spark: SparkSession, base: String, column: String,
                           lo: Any, hi: Any, maxAttempts: Int,
                           op: String, assigned: Option[Seq[String]] = None,
                           onAttempt: Int => Unit = _ => ())
                          (transform: DataFrame => DataFrame): Long = {
    val (l, h) = (reprOf(lo), reprOf(hi))
    txn(spark, base, maxAttempts, onAttempt) { t =>
      val s = t.snapshot
      // an UPDATE (`assigned` columns) may not assign IDENTITY columns
      assigned.foreach(requireNoIdentityAssignment(s, _))
      // entry stats are keyed physical; the caller's transform (and its
      // captured `column`/`residual` references) runs on the logical view
      val physCol = s.physical(column)
      // a CAS loss to a winner that added nothing overlapping [lo, hi]
      // re-bases the landed rewrite (Txn rule 4): a COW DELETE of a cold
      // band racing the streaming sink's appends costs one extra commit
      // attempt, not a second rewrite job
      val overlaps: Entry => Boolean = touchesRange(_, physCol, l, h)
      t.rebase(Some(overlaps)) {
        val touched = t.entries.filter(overlaps)
        if (touched.isEmpty) None
        else {
          val rewritten = s.toPhysical(transform(s.logical(
            readEntriesCurrent(s, touched, withRowIds = true),
            Seq(RowIdCol))))
          Some((landEntriesMulti(t, rewritten,
            preservedStatsCols(touched, Seq(physCol), rewritten.schema))
            .filter(_.rows != 0L), touched))
        }
      } match {
        case None => t.cur
        case Some(land) =>
          // a row-tracked COW UPDATE stamps the same writer hint the MOR
          // update does: with stable ids materialized, the change feed
          // can pair each rewritten row's pre/post images by id
          t.publish(withoutInputs(t.entries, land) ++ land.value,
            operation = op, cdfOp =
              if (assigned.isDefined && t.meta.rowIdHighWater.isDefined)
                Some("update_cow") else None)
      }
    }
  }

  /** Small-file compaction (Delta OPTIMIZE analog): bin-pack every
    * file below `smallThresholdRows` into few large files and publish
    * the result as a new version; files at/above the threshold — and
    * that is the point — are carried by REFERENCE, so a stream that
    * appended ten thousand tiny batches is repaired by rewriting only
    * those tiny files, never the big ones. Content-identical,
    * snapshot-isolated (older versions keep reading the old files
    * until vacuum), txn high-water map carried forward so
    * [[appendOnce]] idempotency survives maintenance. Files with
    * unknown row counts (v1 manifests) are conservatively rewritten.
    * Returns the new version, or the current one if nothing to do. */
  def compact(spark: SparkSession, base: String, smallThresholdRows: Long,
              targetRows: Long, statsCol0: Option[String] = None,
              maxAttempts: Int = 5,
              range0: Option[(String, Any, Any)] = None,
              onAttempt: Int => Unit = _ => ()): Long = {
    require(targetRows >= smallThresholdRows,
      "targetRows must be at least the small-file threshold")
    // a CLUSTER BY table's OPTIMIZE is INCREMENTAL by construction:
    // plain compact delegates to the zorder sweep on the registered
    // keys, which re-tiles ONLY weak/polluted files and leaves the
    // healthy tiled layout by reference — the liquid-clustering
    // shape. (The sweep subsumes OPTIMIZE ... WHERE scoping: cold
    // well-tiled history is never touched regardless.) A single
    // registered key degenerates to band-per-file compaction on it.
    val m = snapshot(spark, base).meta
    m.cluster match {
      case ck if ck.size >= 2 =>
        return compactZorderPhys(spark, base, ck, smallThresholdRows,
          targetRows, maxAttempts, onAttempt)
      case Seq(one) if statsCol0.isEmpty &&
          variantKeySplit(one).isDefined =>
        // a single VARIANT cluster key cannot band through the plain
        // statsCol path (the key is an expression, not a column) —
        // the sweep re-tiles on its declared extraction instead
        return compactZorderPhys(spark, base, Seq(one),
          smallThresholdRows, targetRows, maxAttempts, onAttempt)
      case Seq(one) if statsCol0.isEmpty =>
        return compact(spark, base, smallThresholdRows, targetRows,
          Some(m.colMap.map(_.logicalOf(one)).getOrElse(one)),
          maxAttempts, range0, onAttempt)
      case _ => ()
    }
    // a CAS loss to a winner that left every small INPUT unchanged
    // re-bases the bin-packed output as a declared delta (Txn rule 4,
    // no overlaps check — Delta's conflict checker lets OPTIMIZE commit
    // past a blind append): the winner's own adds wait for the next
    // OPTIMIZE, so racing a busy streaming sink costs one extra commit
    // attempt, not a second rewrite job
    txn(spark, base, maxAttempts, onAttempt) { t =>
      // the rewrite runs on raw (physical) reads; stats/range columns
      // translate here — passthrough when the name is already physical
      // (the DSv2 sink's auto-compaction passes those)
      def phys(c: String) = t.meta.colMap.flatMap(_.physicalOf(c)).getOrElse(c)
      val statsCol = statsCol0.map(phys)
      val range = range0.map { case (c, lo, hi) => (phys(c), lo, hi) }
      var carriedOpt: Option[Seq[Entry]] = None
      t.rebase(None) {
        // LIVE rows drive the small-file test: a big file hollowed out
        // by deletion vectors is exactly what compaction should fold in
        // (the rewrite applies its mask and drops the sidecar ref).
        // An OPTIMIZE ... WHERE range additionally scopes the candidate
        // set to files whose stats overlap it — at 100 TB you compact
        // the band the streaming sink is actively fragmenting, not the
        // years of cold history behind it. Stats-less files
        // conservatively stay in scope (they might overlap).
        // Columnar-checkpoint tables select the candidates EXECUTOR-side
        // and collect only them (the bin-packer's working set); the
        // publish then declares its exact change set, so OPTIMIZE on a
        // 10^6-file table never materializes the entry list either.
        val rangeRepr = range.map { case (c, lo, hi) =>
          (c, reprOf(lo), reprOf(hi)) }
        val small = TxLogPlan.smallEntriesForCompact(spark, base, t.cur,
            smallThresholdRows, rangeRepr).getOrElse {
          val inScope: Entry => Boolean = rangeRepr match {
            case Some((c, lo, hi)) => e => touchesRange(e, c, lo, hi)
            case None => _ => true
          }
          val (sm, ca) = t.entries.partition(e =>
            (e.rows < 0 || e.liveRows < smallThresholdRows) && inScope(e))
          carriedOpt = Some(ca)
          sm
        }
        if (small.size <= 1) None // nothing to bin-pack
        else {
          // unknown-row (v1) files are rewritten but can't be sized —
          // budget one output file each so a whole unknown table never
          // funnels into a single task; the rewrite records row counts,
          // so a second compact() can then bin-pack them for real
          val unknown = small.count(_.rows < 0)
          val knownRows = small.filter(_.rows >= 0).map(_.liveRows).sum
          val nOut = math.max(1L,
            (knownRows + targetRows - 1) / targetRows + unknown).toInt
          val smallDf = readEntriesCurrent(t.snapshot, small,
            withRowIds = true)
          // keep the cluster layout when the caller has one: range
          // repartition re-establishes band-per-file so stats skipping
          // stays sharp after compaction
          val packed = statsCol match {
            case Some(c) => smallDf.repartitionByRange(
              nOut, org.apache.spark.sql.functions.col(c))
            case None => smallDf.repartition(nOut)
          }
          Some((landEntriesMulti(t, packed,
            preservedStatsCols(small, statsCol.toSeq, packed.schema)), small))
        }
      } match {
        case None => t.cur
        case Some(land) =>
          // a re-base (or a columnar table) declares the change set; a
          // fresh text-table pack republishes the carried entries
          t.publish(carriedOpt.fold(land.value)(_ ++ land.value),
            dataChange = false, // bin-pack moves bytes, not rows: CDF skips
            operation = "OPTIMIZE",
            deltaChange =
              if (carriedOpt.isEmpty) Some(land.inputs.map(_.path)) else None)
      }
    }
  }

  /** Z-order maintenance (Delta `OPTIMIZE ... ZORDER BY (a, b)`
    * analog, unifying [[Layout.zorderCluster]] with the log): rewrite
    * the files that blunt 2-D skipping — small files, files missing
    * stats on either key, and files whose (aCol, bCol) stats box
    * OVERLAPS another file's — into fresh Z-tiles carrying min/max on
    * BOTH dimensions; disjoint well-sized tiles ride by reference.
    * Content-identical, `dataChange=false` (change feeds skip it),
    * txn high-waters carried. The overlap test is a driver-side sweep
    * over manifest stats (sorted on aCol min; only a-active pairs
    * compare b ranges) — O(n log n + n·k) metadata work, no data
    * read. Returns the new version, or the current one when the
    * layout is already tiled. */
  def compactZorder(spark: SparkSession, base: String,
                    aCol0: String, bCol0: String,
                    smallThresholdRows: Long, targetRows: Long,
                    maxAttempts: Int): Long =
    compactZorder(spark, base, Seq(aCol0, bCol0),
      smallThresholdRows, targetRows, maxAttempts)
  def compactZorder(spark: SparkSession, base: String,
                    aCol0: String, bCol0: String,
                    smallThresholdRows: Long, targetRows: Long): Long =
    compactZorder(spark, base, Seq(aCol0, bCol0),
      smallThresholdRows, targetRows, 5)

  /** k-column [[compactZorder]] (Delta's `ZORDER BY (a, b, c, …)`
    * arity): same weak/polluted sweep and convergence contract with
    * the overlap test applied on ALL k dimensions, and the rewrite
    * clustered by the k-ary interleave ([[Layout.zvalueK]] — 16
    * bits/dim at k≤3, thinning as k grows, Delta's own trade). */
  def compactZorder(spark: SparkSession, base: String,
                    cols0: Seq[String],
                    smallThresholdRows: Long, targetRows: Long,
                    maxAttempts: Int = 5): Long = {
    require(targetRows >= smallThresholdRows,
      "targetRows must be at least the small-file threshold")
    require(cols0.size >= 2,
      s"ZORDER takes at least two columns (got ${cols0.size}) — a " +
        "single-key layout is a plain sort: use compact + a sorted write")
    // loud verb-entry veto for non-interleavable key types: the
    // normalize step casts to LONG, and a runtime CAST_INVALID_INPUT
    // mid-rewrite (ANSI) would be baffling. Schema RESOLUTION is
    // best-effort (a file-less / fully-deleted table has no schema to
    // resolve and no-ops below — its resolution failure must not
    // masquerade as a veto), but a resolved non-numeric key always
    // errors.
    val s = snapshot(spark, base)
    scala.util.Try(readAt(s).schema).toOption.foreach { sch =>
      cols0.filter(variantKeySplit(_).isEmpty).foreach { c0 =>
        sch.fields.find(_.name.equalsIgnoreCase(c0)).foreach { f =>
          require(
            f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
              f.dataType == org.apache.spark.sql.types.TimestampType,
            s"ZORDER BY column '$c0' has type ${f.dataType.simpleString} " +
              "— the bit-interleave normalizes numeric/timestamp keys; " +
              "cluster strings via a derived numeric key (hash, " +
              "dictionary id) instead")
        }
      }
    }
    // a variant key keeps its path; only the column half translates.
    // Loud entry veto when the path is UNDECLARED: the re-tile needs
    // the declaration to type its extraction (and to keep the new
    // tiles' stats fresh) — a one-shot collectVariantStats sweep is
    // not enough, its keys die with the first rewrite
    val varDecls = s.meta.varStats
    val phys = cols0.map { c =>
      variantKeySplit(c) match {
        case Some((vc, p)) =>
          val physC = s.physical(vc)
          val d = varDecls.find(d =>
            d._1.equalsIgnoreCase(physC) && d._2 == p).getOrElse(
            throw new IllegalArgumentException(
              s"ZORDER BY variant key '$c' has no declared stats — " +
                "declareVariantStats (ALTER TABLE ... DECLARE VARIANT " +
                "STATS) on the path first"))
          require(d._3 == "long" || d._3 == "double",
            s"ZORDER BY variant key '$c' is declared ${d._3} — the " +
              "bit-interleave normalizes numeric keys")
          s"$physC$p"
        case None => s.physical(c)
      }
    }
    compactZorderPhys(spark, base, phys,
      smallThresholdRows, targetRows, maxAttempts)
  }

  /** [[compactZorder]] body over PHYSICAL key names (the `#cluster`
    * registration stores physicals, so the clustered-OPTIMIZE
    * delegation skips the logical translation and the declare-time
    * type veto — both already ran when the keys were registered). */
  private[graft] def compactZorderPhys(spark: SparkSession, base: String,
                                       cols: Seq[String],
                                       smallThresholdRows: Long,
                                       targetRows: Long,
                                       maxAttempts: Int = 5,
                                       onAttempt: Int => Unit = _ => ())
      : Long = {
    // a CAS loss to a winner that left every input tile unchanged
    // re-bases the tiled output as a declared delta (Txn rule 4, no
    // overlaps check, as compact): the winner's adds wait for the next
    // sweep
    txn(spark, base, maxAttempts, onAttempt) { t =>
      t.rebase(None) {
        val entries = t.entries
        // rewrite candidates: WEAK files (small, unknown-row, or
        // stat-less on any key) plus every well-tiled file whose
        // stats box a weak file's box POLLUTES — those tiles would keep
        // co-answering box probes with the straggler forever. Adjacent
        // tiles of a healthy layout legitimately touch boxes, so
        // big-vs-big overlap is deliberately NOT a trigger: a fully
        // tiled table is a fixpoint and the verb converges.
        val weak = entries.filter(e => e.rows < 0 ||
          e.liveRows < smallThresholdRows ||
          cols.exists(c => e.statsFor(c).isEmpty)).toSet
        def boxOf(e: Entry): Option[Seq[ColStats]] = {
          val ss = cols.flatMap(e.statsFor)
          if (ss.size == cols.size) Some(ss) else None
        }
        val weakBoxes = weak.toSeq.flatMap(boxOf)
        val polluted = entries.filterNot(weak).filter { e =>
          boxOf(e).exists(box => weakBoxes.exists(wb =>
            box.zip(wb).forall { case (s, w) => s.overlaps(w.min, w.max) }))
        }.map(_.path).toSet
        val touched = entries.filter(e =>
          weak.contains(e) || polluted.contains(e.path))
        if (weak.isEmpty || touched.size <= 1) None
        else {
          val unknown = touched.count(_.rows < 0)
          val knownRows = touched.filter(_.rows >= 0).map(_.liveRows).sum
          // FLOOR sizing (unlike compact's ceil): an output tile may run
          // up to ~2× targetRows, but never systematically UNDER the
          // small threshold — undersized outputs would re-trigger the
          // verb forever (convergence beats tile-size precision here)
          val nOut = math.max(1L, knownRows / targetRows + unknown).toInt
          val touchedDf = readEntriesCurrent(t.snapshot, touched,
            withRowIds = true)
          // variant keys re-tile on their declared extraction — the
          // same expression the write path collects stats through
          val varDecls = t.meta.varStats
          def exprOf(k: String) =
            if (variantKeySplit(k).isDefined) variantKeyExpr(k, varDecls)
            else None
          val tiled =
            try {
              if (cols.size == 1) { // single-variant-key cluster sweep
                val ex = exprOf(cols.head).getOrElse(
                  org.apache.spark.sql.functions.col(cols.head))
                touchedDf.repartitionByRange(nOut, ex)
                  .sortWithinPartitions(ex)
              } else Layout.zorderClusterK(touchedDf, cols, nOut, exprOf)
            } catch { // all-NULL keys: nothing to tile on, plain bin-pack
              case _: IllegalArgumentException => touchedDf.repartition(nOut)
            }
          Some((landEntriesMulti(t, tiled,
            preservedStatsCols(touched, cols, tiled.schema))
            .filter(_.rows != 0L), touched))
        }
      } match {
        case None => t.cur
        case Some(land) if land.rebased =>
          t.publish(land.value, dataChange = false,
            operation = "OPTIMIZE ZORDER",
            deltaChange = Some(land.inputs.map(_.path)))
        case Some(land) =>
          t.publish(withoutInputs(t.entries, land) ++ land.value,
            dataChange = false, // physical re-tiling only: CDF skips
            operation = "OPTIMIZE ZORDER")
      }
    }
  }

  /** The append-only change feed: rows of every file ADDED in versions
    * (fromExclusive, toInclusive], tagged `_commit_version`. For
    * append/appendOnce versions this is exactly the rows committed by
    * each version — the incremental-consumer surface (Delta CDF's
    * insert case). For COW/compaction versions rewritten files appear
    * as adds too, so consumers of mixed workloads must dedupe by key —
    * the same caveat Delta documents for CDF without deletion vectors. */
  def changesBetween(spark: SparkSession, base: String,
                     fromExclusive: Long, toInclusive: Long): DataFrame =
    changeSlices(spark, base, fromExclusive, toInclusive,
      withDeletes = false).drop("_change_type")

  /** Shared version-diff scaffolding of the two change feeds: one
    * tagged slice per (version, add/remove) transition, unioned BY
    * NAME with missing columns allowed — a schema-evolving append's
    * new column surfaces as NULL on older slices, matching
    * [[readEvolved]]. Deletion vectors make the feed row-precise:
    * slices read through [[readEntries]] (only LIVE rows of a removed
    * or added file appear), and a same-path mask change emits exactly
    * the newly-masked rows as 'delete' markers — the precision Delta
    * CDF gains from DVs — plus newly-UNmasked rows (a RESTORE across
    * a MOR delete) as re-'insert's. `withDeletes=false` never reads
    * removed files or mask transitions. */
  /** TRUE update images for a row-tracked COW UPDATE version
    * (`#cdfop update_cow`): the removed and added file sets pair
    * row-for-row by the stable id, so the feed emits
    * update_preimage/update_postimage for exactly the VALUE-CHANGED
    * rows — unchanged rows merely moved files during the rewrite and
    * are no logical change. Change detection is an (id, row-hash)
    * anti-join in both directions (hash over the canonical JSON of
    * the data columns — null-safe and column-order-stable); each
    * image carries `_row_id`, the lineage key. */
  private def cowUpdateSlices(spark: SparkSession, base: String, v: Long,
                              removedE: Seq[Entry], added: Seq[Entry],
                              wide: Option[org.apache.spark.sql.types.StructType])
      : Seq[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit, struct, to_json, xxhash64}
    if (removedE.isEmpty || added.isEmpty) return Seq.empty
    val r = rowIdReadRaw(spark, base, removedE, wide)
    val a = rowIdReadRaw(spark, base, added, wide)
    val dataCols = a.columns.toSeq
      .filterNot(_.equalsIgnoreCase(RowIdCol))
    def keyed(df: DataFrame) = df.select(col(RowIdCol),
      xxhash64(to_json(struct(dataCols.map(col): _*))).as("__h"))
    val changedIds = keyed(r)
      .join(keyed(a), Seq(RowIdCol, "__h"), "left_anti")
      .select(RowIdCol)
      .unionByName(keyed(a)
        .join(keyed(r), Seq(RowIdCol, "__h"), "left_anti")
        .select(RowIdCol))
      .distinct()
    def img(df: DataFrame, kind: String) =
      df.join(changedIds, Seq(RowIdCol), "left_semi")
        .withColumn("_commit_version", lit(v))
        .withColumn("_change_type", lit(kind))
        .withColumnRenamed(RowIdCol, "_row_id")
    Seq(img(r, "update_preimage"), img(a, "update_postimage"))
  }

  private def changeSlices(spark: SparkSession, base: String,
                           fromExclusive: Long, toInclusive: Long,
                           withDeletes: Boolean): DataFrame = {
    require(fromExclusive < toInclusive, "empty version range")
    import org.apache.spark.sql.functions.{col, lit}
    val perVersion: Map[Long, Seq[Entry]] = (fromExclusive to toInclusive)
      .map(v => v -> (if (v == 0L) Seq.empty[Entry]
                      else manifest(spark, base, v)._1)).toMap
    // the feed is served in the END version's surface; a widened end
    // version pins every slice read to its declared physical schema
    val end = metaOf(spark, base, toInclusive)
    val wide = end.widenedPhysSchema
    def slice(v: Long, es: Seq[Entry], kind: String): Option[DataFrame] =
      if (es.isEmpty) None
      else Some(readEntries(spark, base, es,
        mergeSchema = wide.isEmpty, requested = wide)
        .withColumn("_commit_version", lit(v))
        .withColumn("_change_type", lit(kind)))
    def maskOf(es: Seq[Entry]): DataFrame =
      dvFrame(spark, base, es).getOrElse {
        import spark.implicits._
        Seq.empty[(String, Long)].toDF(DvFileCol, DvPosCol)
      }
    // rows whose mask membership changed between two manifests of the
    // SAME file: dead=true → newly masked, dead=false → newly
    // unmasked. Position-set difference, then a semi-join pins the
    // actual rows. `kind` is the emitted label (an UPDATE version
    // labels its dead rows 'update_preimage', not 'delete').
    def dvDelta(v: Long, changed: Seq[(Entry, Entry)],
                kind: String, dead: Boolean = true): Option[DataFrame] =
      if (changed.isEmpty) None
      else {
        val (oldEs, newEs) = changed.unzip
        val delta =
          if (dead) maskOf(newEs).exceptAll(maskOf(oldEs))
          else maskOf(oldEs).exceptAll(maskOf(newEs))
        val raw = readFiles(spark, newEs.map(e => resolve(base, e.path)), wide)
        Some(raw
          .withColumn(DvFileCol, col("_metadata.file_name"))
          .withColumn(DvPosCol, col("_metadata.row_index"))
          .join(delta, Seq(DvFileCol, DvPosCol), "left_semi")
          .drop(DvFileCol, DvPosCol)
          .withColumn("_commit_version", lit(v))
          .withColumn("_change_type", lit(kind)))
      }
    val dfs = (fromExclusive + 1 to toInclusive).flatMap { v =>
      // pure physical rewrites (compaction, DV purge) changed no
      // logical row: the feed skips them entirely — later versions
      // still diff against the rewritten file set
      if (!dataChangeOf(spark, base, v)) Seq.empty
      else {
      val prev = perVersion(v - 1).map(e => e.path -> e).toMap
      val curP = perVersion(v).map(_.path).toSet
      val added = perVersion(v).filterNot(e => prev.contains(e.path))
      val removedE = perVersion(v - 1).filterNot(e => curP.contains(e.path))
      val changed = perVersion(v).flatMap(e =>
        prev.get(e.path).filter(_.dv != e.dv).map(o => (o, e)))
      // a `#cdfop update` commit is a MOR update (the WRITER stamps
      // it — never inferred from manifest shape, which mislabels the
      // fully-masked-drop case): its newly-masked rows are the
      // UPDATE's preimages, its added files the postimages, and a
      // fully-masked file that dropped from the manifest held only
      // preimages (Delta CDF's update_preimage/update_postimage
      // contract). A COW UPDATE carries no hint and keeps the
      // documented delete+insert materialization (its removed files
      // also carry unchanged rows, which MUST NOT be claimed as
      // updated).
      val morUpdate = withDeletes &&
        cdfOpOf(spark, base, v).contains("update")
      // a ROW-TRACKED COW UPDATE stamps `update_cow`: its removed and
      // added files pair row-for-row by the STABLE id, so the feed
      // emits TRUE update images (value-changed rows only — unchanged
      // rows merely moved files and are no logical change at all),
      // tagged with `_row_id` for lineage-aware consumers. Without
      // row ids a COW update keeps the documented delete+insert.
      val cowUpdate = withDeletes &&
        cdfOpOf(spark, base, v).contains("update_cow") &&
        metaOf(spark, base, v).rowIdHighWater.isDefined
      if (cowUpdate)
        cowUpdateSlices(spark, base, v, removedE, added, wide)
      else {
      val (delKind, insKind) =
        if (morUpdate) ("update_preimage", "update_postimage")
        else ("delete", "insert")
      val deletes =
        if (!withDeletes) Seq.empty
        else slice(v, removedE, delKind).toSeq ++
          dvDelta(v, changed, delKind, dead = true).toSeq
      val inserts = slice(v, added, insKind).toSeq ++
        (if (withDeletes) dvDelta(v, changed, "insert", dead = false).toSeq
         else Seq.empty)
      deletes ++ inserts
      }
      }
    }
    val feed = dfs
      .reduceLeftOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        return read(spark, base)
          .withColumn("_commit_version", lit(0L))
          .withColumn("_change_type", lit("insert"))
          .where(lit(false))
      }
    // the feed's slices read raw files (physical names); project onto
    // the END version's logical surface (Delta CDF's contract — the
    // feed is served in the latest schema of the requested range),
    // CDF tag columns carried through
    end.colMap match {
      case Some(cm) => toLogicalDf(feed, cm, end.schema,
        keep = Seq("_commit_version", "_change_type"))
      case None => feed
    }
  }

  /** Full change feed WITH delete markers (Delta CDF's shape without
    * stored deletion vectors): for each version in (fromExclusive,
    * toInclusive], rows of files ADDED by the version carry
    * `_change_type`='insert' and rows of files REMOVED carry
    * `_change_type`='delete', both tagged `_commit_version`. Applying
    * the feed in order — delete by key, then insert — reconstructs
    * the table. A COW rewrite reports its rewritten file as a
    * delete+insert PAIR for every unchanged row (the file is the unit
    * of change); that is the materialization caveat Delta documents
    * when CDF is not stored at write time — consumers reconcile by
    * key. A [[deleteRangeMor]] version, by contrast, is row-precise:
    * exactly the newly-masked rows appear as deletes (and a RESTORE
    * that unmasks rows re-inserts exactly those) — the CDF precision
    * Delta gets from deletion vectors. Removed files stay readable
    * until a vacuum drops the last
    * manifest referencing them — the same retention contract as
    * [[changesBetween]]. */
  def changesWithDeletes(spark: SparkSession, base: String,
                         fromExclusive: Long, toInclusive: Long): DataFrame =
    changeSlices(spark, base, fromExclusive, toInclusive, withDeletes = true)

  /** Optimistic-concurrency transaction: `body` receives the current
    * snapshot (None for an empty store) and returns the FULL new
    * table contents; on a CAS loss the landed files are discarded and
    * `body` re-runs against the winner's table — so a concurrent
    * MERGE never silently last-write-wins. A stale read (the
    * snapshot vacuumed underneath) retries as a conflict too. Returns
    * the version published. */
  def transact(spark: SparkSession, base: String, maxAttempts: Int = 5)
              (body: Option[DataFrame] => DataFrame): Long =
    txn(spark, base, maxAttempts) { t =>
      commitIn(t, body(t.read.map(readVersion(spark, base, _))), Seq.empty)
    }

  /** Version history (Delta DESCRIBE HISTORY analog): one row per
    * surviving published version — file count, row count (NULL when
    * any entry predates row-counted manifests), files added vs the
    * previous version, and the txn high-water app count. Driver-side
    * manifest metadata only; with full-snapshot manifests this is
    * O(versions × files) parse work, the price of one-file resolution
    * everywhere else (a maintenance verb, not a query-path one). */
  def history(spark: SparkSession, base: String): DataFrame = {
    val dir = new Path(s"$base/$LogDir")
    val f = fs(base, spark)
    val versions: Seq[Long] =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq
        .flatMap(st => parseVersion(st.getPath.getName)).sorted
    // one sequential pass, each manifest parsed once: the previous
    // iteration's path set rides forward (a per-version re-parse of
    // v-1 would make this O(V²) manifest I/O at 10^3 versions)
    var prevVersion = -1L
    var prevPaths: Set[String] = Set.empty
    val rows = versions.map { v =>
      // ONE raw read serves txns, operation, and (via the snapshot
      // cache) entry resolution
      val lines = manifestLines(spark, base, v)
      val entries = snapshotEntries(spark, base, v)
      val txns = parseTxnLines(lines)
      // after a vacuum gap the previous version is gone: every file of
      // the oldest surviving version counts as added (diff base empty)
      val diffBase = if (v == prevVersion + 1) prevPaths else Set.empty[String]
      val nRows: Option[Long] = // LIVE rows: masked deletions excluded
        if (entries.forall(_.rows >= 0)) Some(entries.map(_.liveRows).sum)
        else None
      val row = (v,
        parseIctLines(lines).getOrElse(commitModTime(spark, base, v)),
        parseOpLines(lines).orNull,
        entries.size.toLong, nRows,
        entries.count(e => !diffBase.contains(e.path)).toLong,
        txns.size.toLong)
      prevVersion = v
      prevPaths = entries.map(_.path).toSet
      row
    }
    import spark.implicits._
    rows.toDF("version", "timestamp_ms", "operation", "n_files", "n_rows",
      "n_added_files", "n_txn_apps")
  }

  /** One-row table detail (Delta `DESCRIBE DETAIL` analog): current
    * version, live file/row counts, masked-row total, physical bytes,
    * constraint/identity/bloom metadata counts, the set of
    * stats-indexed columns, and the latest checkpoint version.
    * Driver-side manifest metadata plus one file-status RPC per live
    * file for byte sizes — a maintenance verb, not a query-path one
    * (Delta's own DESCRIBE DETAIL pays the same listing). */
  def describeDetail(spark: SparkSession, base: String): DataFrame = {
    val s = snapshot(spark, base)
    val v = s.cur
    val (m, entries, txns) = (s.meta, s.entries, s.txns)
    val f = fs(base, spark)
    val sizeBytes = entries.map { e =>
      scala.util.Try(
        f.getFileStatus(new Path(resolve(base, e.path))).getLen)
        .getOrElse(0L)
    }.sum
    val nRows: Option[Long] =
      if (entries.forall(_.rows >= 0)) Some(entries.map(_.liveRows).sum)
      else None
    val statsCols = entries.flatMap(_.stats.map(_.column)).distinct.sorted
    val ckptV: Option[Long] = {
      val dir = new Path(s"$base/$LogDir")
      if (!f.exists(dir)) None
      else f.listStatus(dir).toSeq
        .flatMap(st => parseCkptVersion(st.getPath.getName)).maxOption
    }
    val lastModified = f.getFileStatus(manifestPath(base, v))
      .getModificationTime
    val (protoR, protoW) = m.protocol
    import spark.implicits._
    Seq((
      "txlog", base, v, lastModified,
      entries.size.toLong, nRows, entries.flatMap(_.dv).map(_.rows).sum,
      sizeBytes, statsCols.mkString(","),
      m.constraints.size.toLong, m.identity.size.toLong,
      entries.flatMap(_.blooms.map(_.column)).distinct.size.toLong,
      txns.size.toLong, ckptV, protoR, protoW,
      m.partitions.map(_._1).mkString(","), m.cluster.mkString(","),
      m.rowIdHighWater.isDefined, m.defaults.map(_._1).mkString(","),
      m.widened.map(_._1).mkString(","),
      m.varStats.map { case (c, p, t) => s"$c$p:$t" }.mkString(",")
    )).toDF("format", "location", "version", "last_modified_ms",
      "num_files", "num_rows", "num_masked_rows", "size_bytes",
      "stats_columns", "num_constraints", "num_identity_cols",
      "num_bloom_cols", "num_txn_apps", "checkpoint_version",
      "min_reader_version", "min_writer_version", "partition_columns",
      "clustering_columns", "row_tracking", "default_columns",
      "widened_columns", "variant_stats")
  }

  /** RESTORE (Delta `RESTORE TABLE ... VERSION AS OF` analog): roll
    * the table back to version `v` by republishing v's entries as a
    * NEW version — the rolled-back versions stay readable until
    * vacuum (history is never rewritten), the data files never move,
    * and the CURRENT txn high-water map is carried so an exactly-once
    * sink's replay protection survives the rollback. Fails if v's
    * files were already vacuumed. Returns the new version. */
  def restore(spark: SparkSession, base: String, v: Long,
              maxAttempts: Int = 5): Long =
    txn(spark, base, maxAttempts) { t =>
      val cur = t.cur
      require(v >= 1 && v <= cur,
        s"cannot restore version $v of a table at version $cur")
      // restore the TARGET version's constraint set too (table state =
      // data + metadata at v, like Delta): every version's data was
      // validated against ITS OWN set, so carrying the CURRENT set
      // instead could publish data that violates an advertised
      // constraint added after v.
      // Columnar-checkpoint tables diff the two snapshots AS
      // DATAFRAMES and publish the DECLARED change set — a restore on
      // a 10^6-file table collects only the churn since v, never the
      // entry list
      val restored: TableMeta => TableMeta =
        _.copy(constraints = metaOf(spark, base, v).constraints)
      TxLogPlan.restoreDelta(spark, base, v, cur) match {
        case Some((upserts, removes)) =>
          t.publish(upserts, operation = "RESTORE",
            deltaChange = Some(removes), meta = restored)
        case None =>
          t.publish(snapshotEntries(spark, base, v), operation = "RESTORE",
            meta = restored)
      }
    }

  /** The source snapshot a clone materializes: the latest version, or
    * an explicit `VERSION AS OF` pin (Delta clones a time-travel
    * snapshot identically — the clone then carries THAT version's
    * metadata: schema, constraints, widen lines, everything). */
  private def cloneSourceVersion(spark: SparkSession, srcBase: String,
                                 versionAsOf: Option[Long]): Long = {
    val latest = snapshot(spark, srcBase).cur
    versionAsOf match {
      case Some(v) =>
        require(v >= 1 && v <= latest,
          s"cannot clone version $v of a table at version $latest")
        v
      case None => latest
    }
  }

  /** The metadata edit a clone of `srcBase`'s version `v` publishes:
    * the source's value, minus its variant-stats declarations, on the
    * new table's own protocol floor. */
  private def cloneMeta(spark: SparkSession, srcBase: String,
                        v: Long): TableMeta => TableMeta = {
    val src = metaOf(spark, srcBase, v)
    m => src.copy(varStats = Seq.empty, protocol = m.protocol)
  }

  /** Shallow clone (Delta `CREATE TABLE ... SHALLOW CLONE` analog):
    * publish a version-1 manifest at `dstBase` whose entries
    * REFERENCE the source's current files by ABSOLUTE path — zero
    * data copied, stats carried verbatim so skipping works on the
    * clone immediately. Writes to the clone (append, COW DML, MERGE)
    * land locally and diverge; the source is never touched, and the
    * clone's vacuum never deletes source files ([[vacuum]] skips
    * absolute entries). Caveat — the same one Delta documents:
    * vacuuming the SOURCE can delete files a live clone still
    * references; retain source history at least as long as clones
    * live. The clone starts with an empty txn map (it is a new table
    * for exactly-once purposes). */
  def cloneShallow(spark: SparkSession, srcBase: String,
                   dstBase: String, versionAsOf: Option[Long] = None): Long =
    txn(spark, dstBase, maxAttempts = 1) { t =>
      require(t.read.isEmpty,
        s"clone destination $dstBase already has committed versions")
      val v = cloneSourceVersion(spark, srcBase, versionAsOf)
      // qualify the source base so the clone's references stay valid
      // from any working directory / filesystem resolution
      val srcAbs = {
        val p = new Path(srcBase)
        if (p.toUri.getScheme == null)
          fs(srcBase, spark).makeQualified(p).toUri.getPath
        else p.toString
      }
      val (entries, _) = manifest(spark, srcBase, v)
      val cloned = entries.map(e => e.copy(
        path = resolve(srcAbs, e.path),
        dv = e.dv.map(d => d.copy(dir = resolve(srcAbs, d.dir))),
        blooms = e.blooms.map(b => b.copy(dir = resolve(srcAbs, b.dir)))))
      // the clone inherits the source version's table metadata (Delta
      // clones carry it): a writable dev copy must neither accept rows
      // the source would veto, nor restart identity allocation at 1 over
      // cloned-in ids, nor serve a mapped source's PHYSICAL names, nor
      // drop the partition/generated/widen/cluster declarations or the
      // row-id high-water its entries' id spans depend on
      t.publish(cloned, Map.empty, operation = "CLONE",
        meta = cloneMeta(spark, srcBase, v))
    }

  /** Deep clone (Delta `CREATE TABLE ... DEEP CLONE`): materialize an
    * INDEPENDENT copy of the source's latest snapshot. Every live
    * data file plus every referenced DV/bloom sidecar dir is copied
    * into the destination executor-side — one Spark job over the
    * file list, because at 100 TB the copy IS the job and a
    * driver-side loop would serialize days of IO through one machine
    * — and the manifest publishes DESTINATION-relative paths, so the
    * clone's lifecycle fully decouples: vacuuming or even dropping
    * the source can never invalidate it (the shallow clone's
    * documented hazard, closed here). All table metadata rides
    * exactly as [[cloneShallow]]: constraints, identity high-waters,
    * column mapping, partition spec, generated columns, widen lines,
    * clustering keys and the row-id high-water. Entries keep their
    * stats verbatim (skipping works immediately) and their id spans —
    * the copied rows ARE the same rows, so row lineage survives the
    * clone. */
  def cloneDeep(spark: SparkSession, srcBase: String,
                dstBase: String, versionAsOf: Option[Long] = None): Long =
    txn(spark, dstBase, maxAttempts = 1) { t =>
      require(t.read.isEmpty,
        s"clone destination $dstBase already has committed versions")
      val v = cloneSourceVersion(spark, srcBase, versionAsOf)
      def qualify(b: String): String = {
        val p = new Path(b)
        if (p.toUri.getScheme == null)
          fs(b, spark).makeQualified(p).toUri.getPath
        else p.toString
      }
      val srcAbs = qualify(srcBase)
      val dstAbs = qualify(dstBase)
      val (entries, _) = manifest(spark, srcBase, v)
      // Destination-relative home for each source path: relative source
      // paths keep their shape (txn-dir grouping stays intact, so the
      // clone's own vacuum liveness walk sees the same structure);
      // absolute entries (the source was itself a shallow clone) are
      // re-homed under synthetic txn dirs, indexed so names are unique
      // by construction.
      def rehome(path: String, i: Int): String =
        if (!isAbsolute(path)) path
        else s"$DataDir/deepclone-$i/${new Path(path).getName}"
      val filePairs = entries.zipWithIndex.map { case (e, i) =>
        (resolve(srcAbs, e.path), rehome(e.path, i)) }
      // Sidecar dirs (DV masks, bloom indexes) copy at dir granularity:
      // a handful per table, so the driver-side file listing is bounded
      // metadata, never data.
      val dirPairs = (entries.flatMap(_.dv.map(_.dir)) ++
        entries.flatMap(_.blooms.map(_.dir))).distinct.zipWithIndex.map {
        case (d, i) =>
          val dRel = if (!isAbsolute(d)) d else s"$DataDir/deepclone-dv-$i"
          (d, resolve(srcAbs, d), dRel)
      }
      val sidecarFiles = dirPairs.flatMap { case (_, sAbs, dRel) =>
        // resolve the FS per DIR: an absolute (cloned-in) sidecar may
        // live on a different filesystem than the source base
        val sp = new Path(sAbs)
        sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listStatus(sp).toSeq.filter(_.isFile).map(st =>
            (st.getPath.toString, s"$dRel/${st.getPath.getName}"))
      }
      val dirMap = dirPairs.map { case (orig, _, dRel) => orig -> dRel }.toMap
      val allPairs = (filePairs ++ sidecarFiles).map { case (s0, dRel) =>
        (s0, s"$dstAbs/$dRel") }
      val cloned = entries.zipWithIndex.map { case (e, i) => e.copy(
        path = rehome(e.path, i),
        dv = e.dv.map(d => d.copy(dir = dirMap(d.dir))),
        blooms = e.blooms.map(b => b.copy(dir = dirMap(b.dir))))
      }
      // the copies land in the clone's own txn dirs: staged, so a
      // failed copy leaves no partial clone behind
      t.stage(cloned)
      dirPairs.foreach { case (_, _, dRel) => t.stageDir(dRel) }
      if (allPairs.nonEmpty) {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        val slices = math.max(1, math.min(allPairs.size,
          spark.sparkContext.defaultParallelism * 2))
        spark.sparkContext.parallelize(allPairs, slices).foreach {
          case (srcP, dstP) =>
            val sp = new Path(srcP)
            val dp = new Path(dstP)
            org.apache.hadoop.fs.FileUtil.copy(
              sp.getFileSystem(conf.value), sp,
              dp.getFileSystem(conf.value), dp,
              false, true, conf.value)
        }
      }
      t.publish(cloned, Map.empty, operation = "CLONE DEEP",
        meta = cloneMeta(spark, srcBase, v))
    }

  /** `ALTER TABLE t DROP FEATURE <name>` (Delta 3.4's protocol
    * downgrade): remove a table feature AND lower the protocol floors
    * back to what the remaining features demand, so older engine
    * builds can read/write the table again. The drop is sound only
    * when no live state still needs the feature, so each branch does
    * its cleanup in the SAME commit that removes the meta lines:
    *
    *  - `rowTracking`: the `#rowid` water and per-entry id spans drop
    *    (materialized `__row_id` file columns stay physically but are
    *    reserved-name-hidden from every read surface — same as Delta,
    *    where dropped row-id columns linger until natural rewrites).
    *  - `typeWidening`: every live file that may still hold NARROW
    *    bytes (= files surviving from the first widen version — later
    *    writes land at the declared width) is rewritten through the
    *    declared schema; after that one commit, plain footer
    *    inference serves the table and the `#widencol` pinning is
    *    genuinely unnecessary — the reader floor falls with it.
    *  - `clustering` / `columnDefaults`: pure metadata unbinding.
    *
    * Because the protocol is stamped PER VERSION, history below the
    * drop stays sound: time travel to a widened version re-applies
    * that version's own gates. (Delta needs TRUNCATE HISTORY for
    * this; here it is an optional storage-reclaim follow-up, not a
    * correctness requirement.) Returns the published version. */
  def dropFeature(spark: SparkSession, base: String, feature0: String,
                  maxAttempts: Int = 5): Long = {
    val supported =
      Seq("rowTracking", "typeWidening", "clustering", "columnDefaults")
    val canon = supported.find(_.equalsIgnoreCase(feature0.trim)).getOrElse(
      throw new IllegalArgumentException(
        s"unknown table feature '$feature0' — droppable features: " +
          supported.mkString(", ")))
    txn(spark, base, maxAttempts) { t =>
      val (cur, entries, m) = (t.cur, t.entries, t.meta)
      // DROP FEATURE is the one verb allowed to LOWER the protocol
      // floor: it resets it to (1, 1) and the publish re-derives the
      // stamp from the features still present (the writer gate has
      // already proved this engine knows every feature the table has)
      def dropping(edit: TableMeta => TableMeta): TableMeta => TableMeta =
        edit.andThen(_.copy(protocol = (1, 1)))
      canon match {
        case "rowTracking" =>
          require(m.rowIdHighWater.isDefined,
            s"$base does not have rowTracking enabled")
          t.publish(entries.map(_.copy(baseRowId = None)),
            dataChange = false, operation = "DROP FEATURE rowTracking",
            meta = dropping(_.copy(rowIdHighWater = None)))
        case "clustering" =>
          require(m.cluster.nonEmpty, s"$base has no clustering keys")
          t.publish(entries, dataChange = false,
            operation = "DROP FEATURE clustering",
            meta = dropping(_.copy(cluster = Seq.empty)))
        case "columnDefaults" =>
          require(m.defaults.nonEmpty, s"$base has no column defaults")
          t.publish(entries, dataChange = false,
            operation = "DROP FEATURE columnDefaults",
            meta = dropping(_.copy(defaults = Seq.empty)))
        case "typeWidening" =>
          require(m.widened.nonEmpty, s"$base has no widened columns")
          // files that can still hold narrow bytes are exactly those
          // carried from the FIRST widen version (the widen commit is
          // metadata-only, and every later write lands at the declared
          // width). A vacuumed-away first-widen snapshot degrades to
          // the conservative full rewrite — Delta's worst case too.
          val firstWiden = (1L to cur).find(v =>
            scala.util.Try(metaOf(spark, base, v).widened)
              .toOption.exists(_.nonEmpty))
          val narrowPaths: Option[Set[String]] = firstWiden.flatMap(w =>
            scala.util.Try(
              snapshotEntries(spark, base, w).map(_.path).toSet).toOption)
          val (narrow, carried) = narrowPaths match {
            case Some(ps) => entries.partition(e => ps.contains(e.path))
            case None => (entries, Seq.empty[Entry])
          }
          val rewritten =
            if (narrow.isEmpty) Seq.empty
            else {
              val df = readEntriesCurrent(t.snapshot, narrow,
                withRowIds = true)
              landEntriesMulti(t, df,
                preservedStatsCols(narrow, Seq.empty, df.schema))
                .filter(_.rows != 0L)
            }
          t.publish(carried ++ rewritten, dataChange = false,
            operation = "DROP FEATURE typeWidening",
            meta = dropping(_.copy(widened = Seq.empty)))
      }
    }
  }

  /** Retention vacuum: drop all but the newest `keepLast` manifests,
    * then delete every unreferenced txn dir older than `graceMs` (the
    * grace window protects a CONCURRENT writer's not-yet-published
    * dir; younger orphans survive until a later vacuum — pass
    * `graceMs=0` in a controlled maintenance window to force full
    * reclamation). Returns the surviving versions, ascending.
    *
    * Vacuum-vs-vacuum: a racer that finished first may have deleted
    * manifests THIS run's liveness walk still needed (it listed
    * earlier, against live appends, so its kept set can sit lower
    * than the racer's checkpoint). That surfaces as a
    * FileNotFoundException mid-resolution — handled by restarting
    * from a FRESH listing, which resolves off the racer's
    * materialized checkpoint (TxLogScaleSpec's 2-vacuum race law). */
  def vacuum(spark: SparkSession, base: String, keepLast: Int,
             graceMs: Long = 3600000L): Seq[Long] = {
    // the CURRENT version is never vacuumable (Delta's identical
    // guard) — keepLast=0 would silently destroy the whole table
    require(keepLast >= 1,
      s"vacuum must retain at least one version, got keepLast=$keepLast")
    var attempt = 0
    while (true) {
      attempt += 1
      try return vacuumOnce(spark, base, keepLast, graceMs)
      catch {
        case _: java.io.FileNotFoundException if attempt < 5 =>
          cachePurge(base)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Everything one vacuum pass would touch, resolved read-only:
    * versions to drop vs keep, the checkpoint that must materialize
    * first, and the stale txn dirs / root-level files past the grace
    * cutoff. Shared verbatim by the destructive pass and DRY RUN, so
    * the preview can never drift from the delete. */
  private case class VacuumPlan(drop: Seq[Long], keep: Seq[Long],
                                needCkpt: Option[Long],
                                staleDirs: Seq[Path],
                                staleRootFiles: Seq[Path],
                                staleCkpts: Seq[Long])

  private def vacuumPlan(spark: SparkSession, base: String, keepLast: Int,
                         graceMs: Long): Option[VacuumPlan] = {
    val f = fs(base, spark)
    val logDir = new Path(s"$base/$LogDir")
    if (!f.exists(logDir)) return None
    val versions = f.listStatus(logDir).toSeq
      .flatMap(st => parseVersion(st.getPath.getName)).sorted
    val (drop, keep) = versions.splitAt(math.max(0, versions.length - keepLast))
    // absolute (cloned-in) entries are another table's files: they
    // contribute nothing to LOCAL liveness and are never deleted here.
    // A referenced deletion-vector or bloom sidecar dir is as live as
    // the data files it serves — dropping a DV would resurrect
    // deleted rows; dropping a bloom would break referenced probes.
    // (Resolved BEFORE any delete: delta commits replay off older
    // files that may be about to go.)
    val liveEntries = keep.flatMap(v => manifest(spark, base, v)._1)
    val sidecarDirs =
      liveEntries.flatMap(_.dv).map(_.dir) ++
        liveEntries.flatMap(_.blooms).map(_.dir)
    val live = (liveEntries.map(_.path).filterNot(isAbsolute)
        .map(rel => new Path(s"$base/$rel").getParent.getName) ++
      sidecarDirs.filterNot(isAbsolute)
        .map(rel => new Path(s"$base/$rel").getName)).toSet
    // unreferenced GC honors a grace window (Delta's retention-hours
    // idea): a CONCURRENT writer's txn dir is unreferenced until its
    // manifest publishes — deleting a fresh dir would kill an
    // in-flight land mid-write (caught by the vacuum-race law).
    // graceMs=0 is for tests/controlled maintenance windows only.
    val cutoff = System.currentTimeMillis() - graceMs
    val dataDir = new Path(s"$base/$DataDir")
    val staleDirs =
      if (!f.exists(dataDir)) Seq.empty
      else f.listStatus(dataDir).toSeq.filter(_.isDirectory)
        .filterNot(st => live.contains(st.getPath.getName))
        .filter(_.getModificationTime < cutoff)
        .map(_.getPath)
    // ROOT-level part files exist only on [[convertParquet]]ed tables
    // (entries whose base-relative path has no directory component);
    // once superseded by a rewrite they are unreferenced like any txn
    // dir and reclaim under the same grace rule — Delta's vacuum
    // deletes unreferenced files under the table root identically
    val liveRoot = liveEntries.map(_.path)
      .filter(p => !isAbsolute(p) && !p.contains('/')).toSet
    val staleRootFiles = f.listStatus(new Path(base)).toSeq
      .filter(st => st.isFile && isDataFileName(st.getPath.getName))
      .filterNot(st => liveRoot.contains(st.getPath.getName))
      .filter(_.getModificationTime < cutoff)
      .map(_.getPath)
    val needCkpt = keep.headOption.filter(v =>
      drop.nonEmpty && !f.exists(ckptPath(base, v)))
    // checkpoint retention hygiene (r14 stretch): SUPERSEDED
    // checkpoints of kept versions — everything strictly between the
    // oldest kept version's base (which anchors the whole kept range's
    // replay) and the NEWEST kept checkpoint (what `_last_checkpoint`
    // points latest reads at) — are pure bytes: every kept version
    // still resolves by replaying the kept manifests from a surviving
    // base. Reclaim them past the same grace cutoff (an in-flight
    // reader of a mid version retries off the older base).
    val keptCkpts = keep.filter(v => f.exists(ckptPath(base, v)))
    val staleCkpts = keptCkpts
      .filter(v => !keep.headOption.contains(v) &&
        !keptCkpts.lastOption.contains(v))
      .filter(v =>
        f.getFileStatus(ckptPath(base, v)).getModificationTime < cutoff)
    Some(VacuumPlan(drop, keep, needCkpt, staleDirs, staleRootFiles,
      staleCkpts))
  }

  /** VACUUM LITE (Delta 3.3's log-driven vacuum): reclaim data files
    * and sidecar dirs using ONLY the log — the dropped versions'
    * snapshots minus the kept versions' liveness — with ZERO
    * directory listing of the data tree. At 100 TB the full vacuum's
    * dataDir listing is the slow call on object stores (one LIST per
    * thousand keys); LITE's cost is O(versions) manifest reads plus
    * one delete per reclaimed file, issued EXECUTOR-side (the delete
    * fan-out is the job, exactly like the deep-clone copy). The
    * documented tradeoff, same as Delta's: files no surviving
    * manifest ever referenced (crashed writers' orphan txn dirs) are
    * NOT found — run the full [[vacuum]] occasionally to sweep
    * orphans. Returns (survivingVersions, filesReclaimed). */
  def vacuumLite(spark: SparkSession, base: String,
                 keepLast: Int): (Seq[Long], Long) = {
    require(keepLast >= 1,
      s"vacuum must retain at least one version, got keepLast=$keepLast")
    val f = fs(base, spark)
    val logDir = new Path(s"$base/$LogDir")
    if (!f.exists(logDir)) return (Seq.empty, 0L)
    // columnar-checkpoint tables (or sessions writing them) plan the
    // reclaim set DISTRIBUTED — the driver never holds the dead list
    // (TxLogPlan.vacuumLite, semantics identical)
    if (TxLogPlan.parquetCheckpoints(spark) ||
        f.listStatus(logDir).exists(
          _.getPath.getName.endsWith(".ckpt.parquet")))
      return TxLogPlan.vacuumLite(spark, base, keepLast)
    val versions = f.listStatus(logDir).toSeq
      .flatMap(st => parseVersion(st.getPath.getName)).sorted
    val (drop, keep) = versions.splitAt(
      math.max(0, versions.length - keepLast))
    if (drop.isEmpty) return (keep, 0L)
    // resolve BEFORE deleting anything: delta commits replay off
    // manifests that are about to go
    val keptEntries = keep.flatMap(v => manifest(spark, base, v)._1)
    val live: Set[String] = (keptEntries.map(_.path) ++
      keptEntries.flatMap(_.dv.map(_.dir)) ++
      keptEntries.flatMap(_.blooms.map(_.dir))).toSet
    val droppedRefs = drop.flatMap(v =>
      scala.util.Try(snapshotEntries(spark, base, v)).getOrElse(Seq.empty))
    val deadFiles = droppedRefs.map(_.path).distinct
      .filterNot(live).filterNot(isAbsolute)
      .map(p => resolve(base, p))
    val deadDirs = (droppedRefs.flatMap(_.dv.map(_.dir)) ++
      droppedRefs.flatMap(_.blooms.map(_.dir))).distinct
      .filterNot(live).filterNot(isAbsolute)
      .map(p => resolve(base, p))
    // the oldest kept version must stay resolvable after its delta
    // ancestry is deleted (same rule as the full vacuum)
    keep.headOption.filter(v => !f.exists(ckptPath(base, v)))
      .foreach { v =>
        val meta = manifestLines(spark, base, v)
          .filter(l => l.startsWith("#") && l != DeltaMarker)
        writeCheckpoint(spark, base, v, meta,
          snapshotEntries(spark, base, v))
      }
    drop.foreach { v =>
      f.delete(manifestPath(base, v), false)
      f.delete(ckptPath(base, v), false)
      f.delete(TxLogPlan.pqDirPath(base, v), true)
    }
    cachePurge(base)
    f.listStatus(logDir).toSeq
      .flatMap(st => parseCkptVersion(st.getPath.getName)).maxOption
      .foreach(advancePointer(spark, base, _))
    // RE-REFERENCE GUARD (the full vacuum's conservatism, mirrored):
    // the dead set was computed from a point-in-time log listing, and
    // a concurrent RESTORE (or a clone of this table committing here)
    // may have published a NEWER version that re-references a dropped
    // version's files between our resolution and the delete fan-out.
    // Re-resolve the latest snapshot immediately before deleting and
    // subtract anything it references — one O(latest-manifest) read,
    // closing all but a vanishing commit-after-this-stat window
    // (which the full vacuum's grace window covers; LITE documents
    // the same restriction: don't race RESTORE against it).
    val latest = snapshot(spark, base)
    val reRef: Set[String] = latest.version
      .map { _ =>
        val es = scala.util.Try(latest.entries).getOrElse(Seq.empty)
        (es.map(_.path) ++ es.flatMap(_.dv.map(_.dir)) ++
          es.flatMap(_.blooms.map(_.dir)))
          .filterNot(isAbsolute).map(p => resolve(base, p)).toSet
      }.getOrElse(Set.empty)
    val deadFiles2 = deadFiles.filterNot(reRef)
    val deadDirs2 = deadDirs.filterNot(reRef)
    // executor-side delete fan-out; dirs (bounded per table) recurse
    if (deadFiles2.nonEmpty || deadDirs2.nonEmpty) {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val work = deadFiles2.map((_, false)) ++ deadDirs2.map((_, true))
      val slices = math.max(1, math.min(work.size,
        spark.sparkContext.defaultParallelism * 2))
      spark.sparkContext.parallelize(work, slices).foreach {
        case (path, recursive) =>
          val p = new Path(path)
          p.getFileSystem(conf.value).delete(p, recursive)
      }
    }
    (keep, deadFiles2.size.toLong)
  }

  private def vacuumOnce(spark: SparkSession, base: String, keepLast: Int,
                         graceMs: Long): Seq[Long] = {
    val plan = vacuumPlan(spark, base, keepLast, graceMs)
      .getOrElse(return Seq.empty)
    val f = fs(base, spark)
    val logDir = new Path(s"$base/$LogDir")
    // the oldest kept version must stay resolvable after its delta
    // ancestry is deleted: materialize its checkpoint first (a later
    // kept version without its own checkpoint then replays from it)
    plan.needCkpt.foreach { v =>
      val meta = manifestLines(spark, base, v)
        .filter(l => l.startsWith("#") && l != DeltaMarker)
      writeCheckpoint(spark, base, v, meta,
        snapshotEntries(spark, base, v))
    }
    plan.drop.foreach { v =>
      f.delete(manifestPath(base, v), false)
      f.delete(ckptPath(base, v), false)
      f.delete(TxLogPlan.pqDirPath(base, v), true)
    }
    // vacuumed versions must FAIL to resolve from every process,
    // including this one — purge the snapshot cache for the table
    cachePurge(base)
    // repoint the hint at the newest surviving checkpoint (a pointer
    // left at a dropped version would demote every latestVersion call
    // to the listing fallback)
    f.listStatus(logDir).toSeq
      .flatMap(st => parseCkptVersion(st.getPath.getName)).maxOption
      .foreach(advancePointer(spark, base, _))
    plan.staleDirs.foreach(p => f.delete(p, true))
    plan.staleRootFiles.foreach(p => f.delete(p, false))
    // superseded mid-range checkpoints (bytes only — every kept
    // version keeps resolving off the surviving bases); purge caches
    // again so no reader trusts a vanished checkpoint file
    if (plan.staleCkpts.nonEmpty) {
      plan.staleCkpts.foreach { v =>
        f.delete(ckptPath(base, v), false)
        f.delete(TxLogPlan.pqDirPath(base, v), true)
      }
      cachePurge(base)
      f.listStatus(logDir).toSeq
        .flatMap(st => parseCkptVersion(st.getPath.getName)).maxOption
        .foreach(advancePointer(spark, base, _))
    }
    plan.keep
  }

  /** `VACUUM … DRY RUN` (Delta's identical verb): everything the same
    * vacuum WOULD remove — dropped manifest versions, stale txn dirs,
    * superseded root-level files — as (kind, path) rows, touching
    * nothing. Computed by the exact planner the destructive pass
    * executes, so the preview cannot drift from the delete. */
  def vacuumDryRun(spark: SparkSession, base: String, keepLast: Int,
                   graceMs: Long = 3600000L): DataFrame = {
    require(keepLast >= 1,
      s"vacuum must retain at least one version, got keepLast=$keepLast")
    import spark.implicits._
    vacuumPlan(spark, base, keepLast, graceMs) match {
      case None => Seq.empty[(String, String)].toDF("kind", "path")
      case Some(p) =>
        (p.drop.map(v => "manifest" -> manifestPath(base, v).toString) ++
          p.staleDirs.map(d => "txn_dir" -> d.toString) ++
          p.staleRootFiles.map(f => "root_file" -> f.toString) ++
          p.staleCkpts.map(v =>
            "checkpoint" -> ckptPath(base, v).toString))
          .toDF("kind", "path")
    }
  }

  /** Purge process-local snapshot caches for a store without touching
    * disk — for relocations (catalog RENAME) where the bytes move but
    * live on under a new base. */
  private[graft] def purgeCaches(base: String): Unit = cachePurge(base)

  /** Remove the whole store (test/fixture reset). */
  def drop(spark: SparkSession, base: String): Unit = {
    cachePurge(base)
    fs(base, spark).delete(new Path(base), true)
  }
}
