package graft.operators

import org.apache.spark.sql.types.{DataType, StructType}

import TxLog.{ColMap, dec, enc}

/** The table metadata one published version carries (Delta's
  * `Metadata` + `Protocol` actions as one typed value). Every commit
  * re-states all of it in full: `Txn.publish` parses the latest
  * version's value, applies the committing verb's edit, and writes
  * [[lines]] — so the latest commit alone answers every metadata read,
  * and time travel sees each version's own metadata. Column names are
  * PHYSICAL (frozen at column birth, so RENAME COLUMN is a zero-rewrite
  * rebind) unless a kind says LOGICAL.
  *
  * Carry and reset rule of each kind, and why it holds:
  *  - `schema` (`#schema`, the declared StructType): set by CREATE and
  *    by every column DDL, carried otherwise, replaced by REPLACE
  *    TABLE. A declared column no file carries yet scans as NULL, and
  *    a widened table reads through it (see `widened`).
  *  - `colMap` (`#colmap`, logical → physical names plus the next
  *    fresh id): born by the first RENAME/DROP COLUMN, rewritten by
  *    column DDL, carried otherwise. REPLACE TABLE drops it: the new
  *    definition's names bind fresh, and the old mapping is keyed on
  *    the old files' physical names. Reader/writer 2 — an ignorant
  *    reader would serve physical names and resurrect dropped columns.
  *  - `partitions` (`#partition`, column → stats dtype): declared at
  *    CREATE, carried, replaced by REPLACE TABLE (empty clears).
  *    Writer 3 — an ignorant writer would land unsplit files and drop
  *    the line, silently un-partitioning the table.
  *  - `cluster` (`#cluster`, clustering keys): set by CREATE/ALTER
  *    CLUSTER BY, cleared by CLUSTER BY NONE and DROP FEATURE
  *    clustering, carried otherwise. REPLACE TABLE clears it (keyed on
  *    the old definition's physical columns). Writer 6 — an ignorant
  *    writer would silently un-cluster every future write.
  *  - `widened` (`#widencol`, column → declared wider type): appended
  *    by ALTER COLUMN TYPE, cleared by DROP FEATURE typeWidening and by
  *    REPLACE TABLE (old physical columns), carried otherwise. Reader
  *    3 / writer 5 — narrow and wide files only read correctly through
  *    the declared schema, never through footer inference.
  *  - `generated` (`#generatedcol`, LOGICAL column → SQL expression):
  *    declared at CREATE, carried, replaced by REPLACE TABLE. Writer 4
  *    — an ignorant writer would land un-computed, un-validated values.
  *  - `defaults` (`#defaultcol`, LOGICAL column → constant SQL
  *    expression): set by CREATE/ALTER COLUMN SET DEFAULT, re-keyed by
  *    RENAME COLUMN, dropped with their column, cleared by DROP FEATURE
  *    columnDefaults, replaced by REPLACE TABLE. Writer 8 — an ignorant
  *    writer would land NULLs where the user declared a fill.
  *  - `varStats` (`#varstats`, variant column, path, dtype): set by
  *    declare/drop variant stats, carried, cleared by REPLACE TABLE and
  *    not carried by clones. Not gated and not in [[rebaseKey]]: a
  *    writer that drops it only loses skipping freshness — files
  *    without path stats are scanned, never wrongly pruned.
  *  - `constraints` (`#constraint`, name → CHECK expression): ADD/DROP
  *    CONSTRAINT edit it, RESTORE puts back the target version's set
  *    (each version's data was validated against its own), REPLACE
  *    TABLE clears it, carried otherwise.
  *  - `identity` (`#identity`, column → high-water): seeded by CREATE,
  *    advanced by identity appends and merges inside their CAS,
  *    re-seeded by REPLACE TABLE, carried otherwise. Not in
  *    [[rebaseKey]]: a re-based merge recomputes its advance from the
  *    winner's water.
  *  - `rowIdHighWater` (`#rowid`, next fresh row id): enabled by
  *    ENABLE ROW TRACKING, advanced by every commit (new files get id
  *    spans inside the CAS, so spans never collide), unbound by DROP
  *    FEATURE rowTracking, dropped by REPLACE TABLE. Reader 4 / writer
  *    7 — entry lines grow a `rid` group and an ignorant writer would
  *    land span-less files.
  *  - `protocol` (`#protocol`, the (reader, writer) floor): carried as
  *    a floor that never regresses by accident, kept by REPLACE TABLE;
  *    only DROP FEATURE lowers it, to (1, 1), after proving the feature
  *    gone. The version a commit stamps is [[stampedProtocol]]: the
  *    floor raised to what the present features require, so enabling
  *    a feature on one table never locks older engines out of others. */
final case class TableMeta(
    schema: Option[StructType] = None,
    colMap: Option[ColMap] = None,
    partitions: Seq[(String, String)] = Seq.empty,
    cluster: Seq[String] = Seq.empty,
    widened: Seq[(String, DataType)] = Seq.empty,
    generated: Seq[(String, String)] = Seq.empty,
    defaults: Seq[(String, String)] = Seq.empty,
    varStats: Seq[(String, String, String)] = Seq.empty,
    constraints: Map[String, String] = Map.empty,
    identity: Map[String, Long] = Map.empty,
    rowIdHighWater: Option[Long] = None,
    protocol: (Int, Int) = (1, 1)) {

  /** The (reader, writer) versions the present features require. */
  def requiredProtocol: (Int, Int) = {
    def at(on: Boolean, v: Int) = if (on) v else 1
    (Seq(at(colMap.isDefined, 2), at(widened.nonEmpty, 3),
      at(rowIdHighWater.isDefined, 4)).max,
      Seq(at(colMap.isDefined, 2), at(partitions.nonEmpty, 3),
        at(generated.nonEmpty, 4), at(widened.nonEmpty, 5),
        at(cluster.nonEmpty, 6), at(rowIdHighWater.isDefined, 7),
        at(defaults.nonEmpty, 8)).max)
  }

  /** The protocol line a commit writes: the carried floor raised to
    * [[requiredProtocol]]. */
  def stampedProtocol: (Int, Int) = {
    val (r, w) = requiredProtocol
    (math.max(protocol._1, r), math.max(protocol._2, w))
  }

  /** The carried meta lines, in manifest order: one tab-separated
    * line per single-valued kind (`#colmap\t<nextId>(\t<logical>\t<physical>)*`,
    * `#partition(\t<col>\t<dtype>)+`, `#cluster(\t<col>)+`, …) and one
    * per entry of the others (`#constraint\t<name>\t<expr>`, …); names
    * and expressions are URL-encoded, so they may hold tabs. */
  def lines: Seq[String] = {
    val (r, w) = stampedProtocol
    Seq(s"#protocol\t$r\t$w") ++
      schema.map(s => s"#schema\t${enc(s.json)}") ++
      Option.when(partitions.nonEmpty)(("#partition" +:
        partitions.map { case (c, t) => s"${enc(c)}\t$t" }).mkString("\t")) ++
      Option.when(cluster.nonEmpty)(("#cluster" +: cluster.map(enc))
        .mkString("\t")) ++
      widened.map { case (c, dt) => s"#widencol\t${enc(c)}\t${enc(dt.json)}" } ++
      generated.map { case (c, ex) => s"#generatedcol\t${enc(c)}\t${enc(ex)}" } ++
      defaults.map { case (c, ex) => s"#defaultcol\t${enc(c)}\t${enc(ex)}" } ++
      varStats.map { case (c, p, t) => s"#varstats\t${enc(c)}\t${enc(p)}\t$t" } ++
      colMap.map(cm => (s"#colmap\t${cm.nextId}" +: cm.cols.map {
        case (l, p) => s"${enc(l)}\t${enc(p)}" }).mkString("\t")) ++
      constraints.toSeq.sortBy(_._1).map { case (n, ex) =>
        s"#constraint\t${enc(n)}\t${enc(ex)}" } ++
      identity.toSeq.sortBy(_._1).map { case (c, hw) =>
        s"#identity\t${enc(c)}\t$hw" } ++
      rowIdHighWater.map(hw => s"#rowid\t$hw")
  }

  /** The explicit PHYSICAL read schema of a widened table (None when
    * nothing is widened): the declared schema, which carries the wide
    * types, under physical names. Old files keep their narrow bytes
    * and new ones land wide; neither footer inference (first footer
    * wins) nor mergeSchema (CANNOT_MERGE_SCHEMAS on int vs long) can
    * serve that mix, only an explicit requested schema — Spark's
    * parquet readers upcast per file. */
  def widenedPhysSchema: Option[StructType] =
    if (widened.isEmpty) None
    else {
      val declared = schema.getOrElse(throw new IllegalStateException(
        "the table carries #widencol lines but no #schema line — the " +
          "declared schema is the widened read surface"))
      Some(StructType(declared.fields.map(f =>
        f.copy(name = colMap.map(_.physical(f.name)).getOrElse(f.name)))))
    }

  /** The part of the metadata a re-based commit must find unchanged:
    * any drift here means its landed output was produced under
    * assumptions the winner invalidated, so it recomputes instead.
    * `identity` and `varStats` are left out (see the class doc). */
  def rebaseKey: TableMeta = copy(identity = Map.empty, varStats = Seq.empty)
}

object TableMeta {
  val empty: TableMeta = TableMeta()

  private def malformed(kind: String, f: Array[String]) =
    new IllegalStateException(s"malformed $kind line (${f.length} fields)")

  private def protocolFields(f: Array[String]): (Int, Int) = f match {
    case Array(_, r, w) => (r.toInt, w.toInt)
    case _ => throw malformed("#protocol", f)
  }

  /** The `#protocol` (reader, writer) stamp of a manifest or checkpoint
    * (None for a pre-protocol file) — the reader gate's only input. */
  def protocolOf(lines: Seq[String]): Option[(Int, Int)] =
    lines.find(_.startsWith("#protocol\t")).map(l => protocolFields(l.split('\t')))

  /** `lines` with the protocol's reader floor raised to at least `r`
    * (a `(r, 1)` line leads when the lines carry none). */
  def withReaderFloor(lines: Seq[String], r: Int): Seq[String] =
    protocolOf(lines) match {
      case Some((r0, w)) => lines.map(l =>
        if (l.startsWith("#protocol\t")) s"#protocol\t${math.max(r0, r)}\t$w"
        else l)
      case None => s"#protocol\t$r\t1" +: lines
    }

  /** The metadata a manifest's lines carry; an absent kind is empty,
    * an absent protocol is (1, 1). */
  def parse(lines: Seq[String]): TableMeta = {
    val meta = lines.filter(_.startsWith("#")).map(_.split('\t'))
    def all(kind: String) = meta.filter(f => f(0) == kind && f.length > 1)
    def first(kind: String) = all(kind).headOption
    def pairs(kind: String): Seq[(String, String)] = all(kind).map {
      case Array(_, a, b) => dec(a) -> dec(b)
      case f => throw malformed(kind, f)
    }
    TableMeta(
      schema = first("#schema").map {
        case Array(_, json) =>
          DataType.fromJson(dec(json)).asInstanceOf[StructType]
        case f => throw malformed("#schema", f)
      },
      colMap = first("#colmap").map { f =>
        if (f.length % 2 != 0) throw malformed("#colmap", f)
        ColMap(f.drop(2).grouped(2).map(p => dec(p(0)) -> dec(p(1))).toSeq,
          f(1).toInt)
      },
      partitions = first("#partition").map { f =>
        if (f.length % 2 != 1) throw malformed("#partition", f)
        f.drop(1).grouped(2).map(p => dec(p(0)) -> p(1)).toSeq
      }.getOrElse(Seq.empty),
      cluster = first("#cluster").map(_.drop(1).map(dec).toSeq)
        .getOrElse(Seq.empty),
      widened = pairs("#widencol").map { case (c, tj) =>
        c -> DataType.fromJson(tj) },
      generated = pairs("#generatedcol"),
      defaults = pairs("#defaultcol"),
      varStats = all("#varstats").map {
        case Array(_, c, p, t) => (dec(c), dec(p), t)
        case f => throw malformed("#varstats", f)
      },
      constraints = pairs("#constraint").toMap,
      identity = pairs("#identity").map { case (c, hw) => c -> hw.toLong }
        .toMap,
      rowIdHighWater = first("#rowid").map(_(1).toLong),
      protocol = first("#protocol").map(protocolFields).getOrElse((1, 1)))
  }
}
