package graft.sources

import java.util

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableCatalogCapability, TableChange}
import org.apache.spark.sql.connector.catalog.constraints.{Check => V2Check}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{TableMeta, TxLog}

/** A DSv2 `TableCatalog` over [[TxLog]] tables — the catalog rung of
  * the connector ladder (the Delta analog is `DeltaCatalog`), and the
  * piece that makes Spark's NATIVE time-travel SQL work end-to-end:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.TxLogCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft_warehouse
  *
  *   CREATE NAMESPACE graft.lake;
  *   CREATE TABLE graft.lake.t (k INT, v DOUBLE)
  *     USING graft.sources.TxLogSource;
  *   INSERT INTO graft.lake.t ...;
  *   SELECT * FROM graft.lake.t VERSION AS OF 3;          -- loadTable(v)
  *   SELECT * FROM graft.lake.t TIMESTAMP AS OF '2024-…'; -- loadTable(ts)
  * }}}
  *
  * Identifier → directory mapping is pure layout: table
  * `graft.a.b.t` lives at `<warehouse>/a/b/t`; a table is any
  * directory holding a `_log`. Everything durable is in the store —
  * the catalog keeps NO state of its own, so any number of sessions
  * (or engines) resolve the same warehouse identically, and a table
  * created by the path-based API under the warehouse root is
  * immediately visible. Time-travel loads return a read-only
  * snapshot Table (writes and DELETEs on it fail loudly).
  *
  * CREATE TABLE persists the declared schema as a `_schema.json`
  * sidecar and publishes an EMPTY v1 manifest, so a freshly created
  * table scans as zero rows (the sidecar supplies the schema until
  * the first files land; after that the union-of-files schema — the
  * same read-side evolution every txlog read uses — takes over).
  * `PARTITIONED BY (col, ...)` (identity transforms) declares log
  * partitioning: a `#partition` meta line every commit carries, a
  * one-file-per-tuple split on every write, and partition pruning
  * through the ordinary manifest stats skipping. */
class TxLogCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
  }
  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  private def spark: SparkSession = SparkSession.active
  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Layout mapping with path-escape hardening: an identifier part
    * must be a plain directory name. */
  private def checkPart(p: String): String = {
    require(p.nonEmpty && !p.contains("/") && !p.contains("\\") &&
      p != "." && p != "..",
      s"illegal identifier part '$p' (must be a plain directory name)")
    p
  }
  private def nsDir(namespace: Array[String]): Path =
    new Path((warehouse +: namespace.map(checkPart)).mkString("/"))
  private def tableDir(ident: Identifier): Path =
    new Path(nsDir(ident.namespace()), checkPart(ident.name()))
  /** Where `ident` lives (whether or not it exists yet) — the CLONE
    * command resolves its destination through this, since the layout
    * IS the catalog and a table materializes by writing there. */
  private[sources] def tableLocation(ident: Identifier): String =
    tableDir(ident).toString
  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, TxLog.LogDir))

  // ---- tables -----------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && isTableDir(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(tableDir(ident))

  override def loadTable(ident: Identifier): Table =
    loadAt(ident, None)

  /** SQL `VERSION AS OF <v>` (Spark passes the literal as a string). */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(version.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF takes a version number, got '$version'"))))

  /** SQL `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds;
    * resolution is Delta's boundary rule (latest commit ≤ instant). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val base = existingBase(ident)
    loadAt(ident,
      Some(TxLog.versionAtTimestamp(spark, base, timestamp / 1000L)))
  }

  private def existingBase(ident: Identifier): String = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()).toSeq)
    dir.toString
  }

  private def loadAt(ident: Identifier, asOf: Option[Long]): Table = {
    val base = existingBase(ident)
    val latest = TxLog.latestVersion(spark, base).getOrElse(
      throw new NoSuchTableException(
        (catalogName +: ident.namespace().toSeq :+ ident.name()).toSeq))
    asOf.foreach(v => require(v >= 1 && v <= latest,
      s"version $v is not in ${ident.name()}'s committed range [1, $latest]"))
    val target = asOf.getOrElse(latest)
    new TxLogTable(schemaAt(base, target), base, asOf)
  }

  /** Union-of-files schema of `target`; a file-less snapshot (fresh
    * CREATE, fully-deleted table) falls back to the declared-schema
    * sidecar, then to the newest older version that still has files
    * (the last schema the table was ever seen with). */
  private def schemaAt(base: String, target: Long): StructType = {
    def inferred(v: Long): Option[StructType] =
      if (TxLog.manifestFiles(spark, base, v).isEmpty) None
      else Some(TxLogSource.snapshotSchema(spark, base, v))
    inferred(target)
      // the version's OWN `#schema` line beats the CREATE-time sidecar:
      // it is versioned (ALTER ADD COLUMNS publishes a new one), the
      // sidecar is the birth snapshot
      .orElse(TxLog.metaOf(spark, base, target).schema)
      .orElse(readSchemaSidecar(base))
      .orElse(((target - 1) to 1L by -1L).iterator.flatMap { v =>
        try inferred(v) catch { case NonFatal(_) => None }
      }.nextOption())
      .getOrElse(throw new IllegalStateException(
        s"cannot resolve a schema for $base at version $target: no data " +
          "files in any resolvable version and no _schema.json sidecar"))
  }

  private def schemaPath(base: String): Path =
    new Path(s"$base/${TxLog.LogDir}/_schema.json")
  private def readSchemaSidecar(base: String): Option[StructType] =
    if (!fs.exists(schemaPath(base))) None
    else {
      val in = fs.open(schemaPath(base))
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, false)
        Some(org.apache.spark.sql.types.DataType.fromJson(
          new String(bytes.toByteArray, "UTF-8")).asInstanceOf[StructType])
      } finally in.close()
    }

  /** The modern entry Spark actually calls: v2 `Column`s carry the
    * `GENERATED ALWAYS AS` expression first-class (the StructType
    * bridge drops it), so extract here and delegate. */
  /** v2 `Column`s → (schema, generated exprs, identity seeds): the
    * generation expression and identity spec ride the Column
    * first-class (the StructType bridge drops them).
    * `id BIGINT GENERATED ALWAYS AS IDENTITY` seeds the log's
    * #identity high-water so the first allocation is `start`; step 1 /
    * ALWAYS only — the high-water protocol allocates dense increments
    * and vetoes explicit inserts (BY DEFAULT arrives via the
    * merge/CDC verbs, which advance the water past source ids). */
  private def columnsMeta(
      columns: Array[org.apache.spark.sql.connector.catalog.Column])
      : (StructType, Seq[(String, String)], Map[String, Long],
         Seq[(String, String)]) = {
    val gens = columns.toSeq.flatMap(c =>
      Option(c.generationExpression()).map(c.name -> _))
    // `c INT DEFAULT 7` rides the v2 Column first-class; persist the
    // SQL text — the log re-validates and re-evaluates per version
    val dflts = columns.toSeq.flatMap(c =>
      Option(c.defaultValue()).flatMap(d => Option(d.getSql))
        .map(c.name -> _))
    val idents = columns.toSeq.flatMap(c =>
      Option(c.identityColumnSpec()).map(c.name -> _))
    idents.foreach { case (n, spec) =>
      require(spec.getStep == 1,
        s"identity column '$n': only INCREMENT BY 1 is supported " +
          "(the log allocates dense high-water increments)")
      require(!spec.isAllowExplicitInsert,
        s"identity column '$n': only GENERATED ALWAYS AS IDENTITY is " +
          "supported (BY DEFAULT values arrive via MERGE/applyChanges, " +
          "which advance the high-water past explicit ids)")
    }
    val schema = StructType(columns.map { c =>
      val f = org.apache.spark.sql.types.StructField(
        c.name, c.dataType, c.nullable)
      Option(c.comment()).fold(f)(f.withComment)
    })
    (schema, gens,
      idents.map { case (n, spec) => n -> (spec.getStart - 1L) }.toMap,
      dflts)
  }

  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val (schema, gens, seeds, dflts) = columnsMeta(columns)
    createTableImpl(ident, schema, partitions, properties, gens, seeds,
      dflts)
  }

  // ---- atomic CREATE OR REPLACE (StagingTableCatalog) --------------

  /** `[CREATE OR] REPLACE TABLE ... [AS SELECT]`: the staged table
    * collects the written files under an inert txn dir; NOTHING
    * publishes until `commitStagedChanges`, which lands the swap as
    * ONE manifest commit. On an existing table the replace is a new
    * VERSION — history (and time travel below it) survives, exactly
    * like Delta's REPLACE; the old definition's constraints, identity
    * waters, column mapping and partitioning reset to the new DDL's. */
  override def stageCreate(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()).toSeq)
    stage(ident, columns, partitions, mustExist = false,
      allowReplace = false)
  }

  override def stageReplace(ident: Identifier,
                            columns: Array[org.apache.spark.sql.connector.catalog.Column],
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()).toSeq)
    stage(ident, columns, partitions, mustExist = true,
      allowReplace = true)
  }

  override def stageCreateOrReplace(ident: Identifier,
                                    columns: Array[org.apache.spark.sql.connector.catalog.Column],
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, columns, partitions, mustExist = false,
      allowReplace = true)

  private def stage(ident: Identifier,
                    columns: Array[org.apache.spark.sql.connector.catalog.Column],
                    partitions: Array[Transform],
                    mustExist: Boolean, allowReplace: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val (schema, gens, seeds, dflts) = columnsMeta(columns)
    // fail the DDL statement itself on a bad generation expression —
    // never stage (let alone publish) a table whose writes cannot land
    TxLog.validateGeneratedExprs(spark, schema, gens)
    validateDefaults(schema, gens, seeds.keySet, dflts)
    val pspec = pspecOf(schema, partitions)
    val dir = tableDir(ident)
    if (!isTableDir(dir) && fs.exists(dir))
      throw new IllegalArgumentException(
        s"cannot CREATE TABLE at ${ident.namespace().mkString(".")}" +
          s".${ident.name()}: a namespace directory already exists there")
    new StagedTxLogTable(dir.toString, ident, schema, pspec, gens, seeds,
      mustExist, allowReplace, this, dflts)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    createTableImpl(ident, schema, partitions, properties,
      schema.fields.toSeq.flatMap(f =>
        org.apache.spark.sql.catalyst.util.GeneratedColumn
          .getGenerationExpression(f).map(f.name -> _)),
      Map.empty,
      schema.fields.toSeq.flatMap(f =>
        if (f.metadata.contains("CURRENT_DEFAULT"))
          Some(f.name -> f.metadata.getString("CURRENT_DEFAULT"))
        else None))

  /** PARTITIONED BY (col, ...) — identity transforms only (Delta's
    * own constraint): each declared column becomes a `#partition`
    * meta entry, every write splits one-file-per-tuple with exact
    * min==max stats, and partition pruning rides the ordinary
    * manifest stats skipping. Bucket/hours/days transforms would
    * need value derivation at read time — use clustered commits /
    * OPTIMIZE ZORDER for those layouts instead. */
  private def pspecOf(schema: StructType, partitions: Array[Transform])
      : Seq[(String, String)] = partitions.toSeq.map {
    case t if t.name() == "identity" && t.references().length == 1 &&
        t.references()(0).fieldNames().length == 1 =>
      val c = t.references()(0).fieldNames()(0)
      val f = schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"partition column '$c' is not in the declared schema"))
      f.name -> TxLog.partitionDtype(f.dataType)
    case other => throw new UnsupportedOperationException(
      s"txlog tables support only PARTITIONED BY (column) identity " +
        s"transforms, got: $other — derived layouts (bucket, " +
        "hours/days) belong to clustered commits / OPTIMIZE ZORDER")
  }

  /** Write the declared-schema sidecar (shared by CREATE and the
    * staged commit paths). */
  private[sources] def writeSchemaSidecar(base: String,
                                          schema: StructType): Unit = {
    val out = fs.create(schemaPath(base), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
  }

  /** DDL-time default validation: constant, castable, and never on a
    * generated or identity column (both own their value). */
  private def validateDefaults(schema: StructType,
                               gens: Seq[(String, String)],
                               identNames: Set[String],
                               dflts: Seq[(String, String)]): Unit =
    dflts.foreach { case (c, ex) =>
      require(!gens.exists(_._1.equalsIgnoreCase(c)),
        s"column '$c' is GENERATED ALWAYS AS — a DEFAULT would never apply")
      require(!identNames.exists(_.equalsIgnoreCase(c)),
        s"column '$c' is an IDENTITY column — a DEFAULT would never apply")
      val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"DEFAULT target '$c' is not in the declared schema"))
      TxLog.validateDefaultExpr(spark, c, ex, f.dataType)
    }

  private def createTableImpl(ident: Identifier, schema: StructType,
                              partitions: Array[Transform],
                              properties: util.Map[String, String],
                              gens: Seq[(String, String)],
                              identitySeeds: Map[String, Long],
                              dflts: Seq[(String, String)] = Seq.empty)
      : Table = {
    // a typo'd GENERATED ALWAYS AS fails the CREATE statement, not
    // every later write against a permanently-poisoned table
    TxLog.validateGeneratedExprs(spark, schema, gens)
    validateDefaults(schema, gens, identitySeeds.keySet, dflts)
    // `CREATE TABLE ... CLUSTER BY (a, b)` arrives as Spark's
    // cluster_by transform alongside identity partition transforms —
    // split it out and register the keys as the `#cluster` meta line
    val (clusterT, partT) =
      partitions.partition(_.name() == "cluster_by")
    val ckeys = TxLog.resolveClusterKeys(schema,
      clusterT.flatMap(_.references().toSeq).map { r =>
        require(r.fieldNames().length == 1,
          s"nested CLUSTER BY is not supported: ${r.fieldNames().mkString(".")}")
        r.fieldNames()(0)
      }.toSeq,
      partT.flatMap(_.references().toSeq)
        .flatMap(_.fieldNames().headOption).toSeq)
    val pspec = pspecOf(schema, partT)
    val dir = tableDir(ident)
    if (isTableDir(dir)) throw new TableAlreadyExistsException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()).toSeq)
    // a bare existing directory at this identifier is a NAMESPACE:
    // planting _log inside it would silently convert it into a table
    // and hide its child tables from every listing (isTableDir
    // filters namespaces out) — loud error, not catalog corruption
    if (fs.exists(dir)) throw new IllegalArgumentException(
      s"cannot CREATE TABLE at ${ident.namespace().mkString(".")}" +
        s".${ident.name()}: a namespace directory already exists there " +
        "(drop the namespace first, or pick another name)")
    fs.mkdirs(new Path(dir, TxLog.LogDir))
    writeSchemaSidecar(dir.toString, schema)
    // an EMPTY v1 manifest: the table exists, scans as zero rows, and
    // every later write is an ordinary append on the chain. The
    // declared schema is stamped as a versioned `#schema` meta line
    // (carried forward by every commit) in addition to the sidecar —
    // ALTER ADD COLUMNS republishes the line, so time travel sees
    // each version's own schema.
    // `day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))` persists as a
    // #generatedcol line the write verbs compute and every write path
    // validates. Pairs with PARTITIONED BY (day): the Delta-recommended
    // derived-partition pattern.
    graft.operators.Txn.run(spark, dir.toString, maxAttempts = 1,
        onAttempt = _ => (), pinned = Some(None)) { t => // a fresh dir
      t.publish(Seq.empty, Map.empty, operation = "CREATE TABLE",
        meta = _.copy(schema = Some(schema), partitions = pspec,
          generated = gens, identity = identitySeeds, cluster = ckeys,
          defaults = dflts))
    }
    new TxLogTable(schema, dir.toString)
  }

  /** Spark's native constraint DDL (`ALTER TABLE … ADD CONSTRAINT c
    * CHECK (…)`) and `GENERATED ALWAYS AS (…)` column DDL route here
    * only when the catalog declares them. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** `ALTER TABLE … ADD COLUMNS` → [[TxLog.alterAddColumns]] (a
    * metadata-only versioned commit); `ADD CONSTRAINT c CHECK (…)` /
    * `DROP CONSTRAINT` → [[TxLog.addConstraint]]/[[TxLog.dropConstraint]]
    * (Spark 4's native ANSI-constraint grammar, no custom parser
    * needed). Everything else — RENAME/DROP COLUMN need Delta-style
    * column mapping (physical-name indirection) the log does not
    * carry; type changes would lie about bytes on disk; UNIQUE/PK/FK
    * are informational constraints the log does not enforce — fails
    * loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val base = existingBase(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    changes.foreach {
      case _: TableChange.AddColumn => ()
      // RENAME/DROP COLUMN ride the log's column-mapping indirection
      // (Delta name mode): metadata-only commits — logical names
      // rebind, the frozen physical names keep keying every data file,
      // manifest stat, bloom ref and identity line, so ZERO bytes move
      case rc: TableChange.RenameColumn =>
        // 2-part paths ride the tier-2 nested mapping (one struct
        // level); deeper nesting stays vetoed in nestedParts
        require(rc.fieldNames().length <= 2,
          s"RENAME COLUMN supports one struct level: " +
            rc.fieldNames().mkString("."))
        TxLog.renameColumn(spark, base, rc.fieldNames().mkString("."),
          rc.newName())
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames().length <= 2,
          s"DROP COLUMN supports one struct level: " +
            dc.fieldNames().mkString("."))
        val name = dc.fieldNames().mkString(".")
        if (dc.fieldNames().length == 2)
          try TxLog.dropColumn(spark, base, name) // existence checked inside
          catch {
            case e: IllegalArgumentException
                if dc.ifExists() && e.getMessage.contains("does not exist") =>
              () // DROP COLUMN IF EXISTS on a missing nested field: no-op
          }
        else if (TxLog.latestVersion(spark, base).exists(v =>
            TxLog.metaOf(spark, base, v).colMap.exists(
              _.hasLogical(name)) ||
              schemaAt(base, v).fieldNames
                .exists(_.equalsIgnoreCase(name))))
          TxLog.dropColumn(spark, base, name)
        else if (!dc.ifExists()) throw new IllegalArgumentException(
          s"column '$name' does not exist on " +
            s"${ident.namespace().mkString(".")}.${ident.name()}")
      case ac: TableChange.AddConstraint => ac.constraint() match {
        case chk: V2Check =>
          TxLog.addConstraint(spark, base, chk.name(), chk.predicateSql())
        case other => throw new UnsupportedOperationException(
          "only CHECK constraints are enforceable on txlog tables " +
            s"(UNIQUE/PRIMARY KEY/FOREIGN KEY are not): ${other.toDDL}")
      }
      case dc: TableChange.DropConstraint =>
        if (TxLog.latestMeta(spark, base).constraints.contains(dc.name()))
          TxLog.dropConstraint(spark, base, dc.name())
        else if (!dc.ifExists()) throw new IllegalArgumentException(
          s"constraint '${dc.name()}' does not exist on " +
            s"${ident.namespace().mkString(".")}.${ident.name()}")
      // ALTER COLUMN x TYPE <wider> → metadata-only type widening
      // (Delta's safe set); narrowing fails inside the verb
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames().length == 1,
          s"nested ALTER COLUMN is not supported: " +
            ut.fieldNames().mkString("."))
        TxLog.alterWidenColumn(spark, base, ut.fieldNames()(0),
          ut.newDataType())
      // native `ALTER TABLE t CLUSTER BY (a, b)` / `CLUSTER BY NONE`
      case cb: TableChange.ClusterBy =>
        TxLog.alterClusterBy(spark, base,
          cb.clusteringColumns().toSeq.map { r =>
            require(r.fieldNames().length == 1,
              s"nested CLUSTER BY is not supported: " +
                r.fieldNames().mkString("."))
            r.fieldNames()(0)
          })
      // ALTER COLUMN c SET DEFAULT <expr> / DROP DEFAULT → a
      // metadata-only commit; Spark encodes DROP as an empty SQL text
      case ud: TableChange.UpdateColumnDefaultValue =>
        require(ud.fieldNames().length == 1,
          s"nested ALTER COLUMN is not supported: " +
            ud.fieldNames().mkString("."))
        val sql = Option(ud.newCurrentDefault())
          .flatMap(d => Option(d.getSql))
          .orElse(Option(ud.newDefaultValue()))
          .map(_.trim).filter(_.nonEmpty)
        TxLog.alterColumnDefault(spark, base, ud.fieldNames()(0), sql)
      // `ALTER TABLE t SET TBLPROPERTIES ('graft.rowTracking'='true')`
      // — the Delta enableRowTracking-property shape
      case sp: TableChange.SetProperty
          if sp.property() == "graft.rowTracking" =>
        require(sp.value().equalsIgnoreCase("true"),
          "row tracking cannot be disabled once enabled (ids are " +
            "load-bearing for lineage consumers); only 'true' is valid")
        TxLog.enableRowTracking(spark, base)
      case other => throw new UnsupportedOperationException(
        "only ADD COLUMNS / ALTER COLUMN ... TYPE (widening) / " +
          "CLUSTER BY / SET TBLPROPERTIES ('graft.rowTracking') / ADD " +
          "CONSTRAINT ... CHECK / DROP CONSTRAINT are supported on " +
          "txlog tables (RENAME/DROP COLUMN would need column-mapping " +
          "indirection; data-file schema otherwise evolves on WRITE " +
          s"via mergeSchema); got: $other")
    }
    if (adds.nonEmpty) {
      val newCols = adds.map { a =>
        require(a.fieldNames().length == 1,
          s"nested ADD COLUMN is not supported: ${a.fieldNames().mkString(".")}")
        // Delta's identical refusal: a default on a NEW column is
        // ambiguous (would it backfill existing rows? Delta and this
        // log both say no backfills, ever) — ADD first, SET DEFAULT
        // second, so the no-backfill semantics are explicit
        require(a.defaultValue() == null,
          s"ADD COLUMNS cannot carry a DEFAULT (existing rows would " +
            s"NOT be backfilled — Delta's identical rule); add column " +
            s"'${a.fieldNames()(0)}' first, then ALTER COLUMN ... SET " +
            "DEFAULT for future writes")
        org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), nullable = a.isNullable)
      }
      val latest = TxLog.latestVersion(spark, base).getOrElse(
        throw new NoSuchTableException(
          (catalogName +: ident.namespace().toSeq :+ ident.name()).toSeq))
      TxLog.alterAddColumns(spark, base,
        org.apache.spark.sql.types.StructType(newCols.toArray),
        baseSchema = Some(schemaAt(base, latest)))
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) false
    else {
      TxLog.drop(spark, dir.toString) // purges snapshot/schema caches
      fs.delete(dir, true)
      true
    }
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val src = tableDir(oldIdent)
    val dst = tableDir(newIdent)
    if (!isTableDir(src)) throw new NoSuchTableException(
      (catalogName +: oldIdent.namespace().toSeq :+ oldIdent.name()).toSeq)
    if (fs.exists(dst)) throw new TableAlreadyExistsException(
      (catalogName +: newIdent.namespace().toSeq :+ newIdent.name()).toSeq)
    // drop cached snapshots under the OLD path before the move (the
    // mtime guard would catch stale hits, but a rename should not
    // rely on it)
    TxLog.purgeCaches(src.toString)
    fs.mkdirs(dst.getParent)
    require(fs.rename(src, dst), s"rename $src -> $dst failed")
  }

  // ---- namespaces ---------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && !isTableDir(st.getPath))
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && !isTableDir(st.getPath))
      .map(st => namespace :+ st.getPath.getName).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val dir = nsDir(namespace)
      fs.exists(dir) && !isTableDir(dir)
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    val m = new util.HashMap[String, String]()
    m.put(SupportsNamespaces.PROP_LOCATION, nsDir(namespace).toString)
    m
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val dir = nsDir(namespace)
    if (fs.exists(dir)) throw new NamespaceAlreadyExistsException(
      (catalogName +: namespace.toSeq).toArray)
    fs.mkdirs(dir)
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "txlog namespaces are plain directories — nothing to alter")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!namespaceExists(namespace)) false
    else {
      if (!cascade)
        require(fs.listStatus(dir).isEmpty,
          s"namespace ${namespace.mkString(".")} is not empty " +
            "(use CASCADE)")
      fs.delete(dir, true)
      true
    }
  }
}

/** A staged `[CREATE OR] REPLACE TABLE` target: executors land files
  * under an inert `data/<txn>` dir through the same rolling writer
  * the ordinary DSv2 sink uses (partition split + inline stats), the
  * BatchWrite stashes the entries HERE instead of publishing, and
  * `commitStagedChanges` swaps the table in ONE manifest commit —
  * readers see the old table until that instant, and on an existing
  * table the swap is a new VERSION (history and time travel below it
  * survive, like Delta's REPLACE). `abortStagedChanges` discards the
  * landed txn; a brand-new table's dir vanishes entirely. */
class StagedTxLogTable(base: String, ident: Identifier,
                       tableSchema: StructType,
                       pspec: Seq[(String, String)],
                       gens: Seq[(String, String)],
                       identitySeeds: Map[String, Long],
                       mustExist: Boolean,
                       allowReplace: Boolean,
                       catalog: TxLogCatalog,
                       dflts: Seq[(String, String)] = Seq.empty)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.write._

  private val txn = java.util.UUID.randomUUID().toString
  @volatile private var staged: Seq[TxLog.Entry] = Seq.empty
  private val existedAtStage =
    TxLog.latestVersion(SparkSession.active, base).isDefined

  override def name(): String = s"txlog($base) [staged]"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // REPLACE ... AS SELECT arrives as a truncate-overwrite of the
      // (empty) staged target — same landing either way
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write
          with RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
        import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NullOrdering, SortDirection, SortOrder}
        override def requiredDistribution(): Distribution =
          if (pspec.isEmpty) Distributions.unspecified()
          else Distributions.clustered(pspec.map(p =>
            Expressions.identity(p._1): Expression).toArray)
        override def requiredOrdering(): Array[SortOrder] =
          pspec.map(p => Expressions.sort(Expressions.identity(p._1),
            SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(info: PhysicalWriteInfo)
              : DataWriterFactory = {
            val pIdx = pspec.map { case (c, _) =>
              tableSchema.fieldNames.indexWhere(_.equalsIgnoreCase(c)) }
            new TxLogWriterFactory(base, s"data/$txn", tableSchema,
              pspec.map(_._1),
              new org.apache.spark.util.SerializableConfiguration(
                TxLogSource.driverHadoopConf()), pIdx)
          }
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            staged = TxLogWriteCommit.toEntries(messages) // defer publish
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            TxLogWriteCommit.dropTxn(base, s"data/$txn")
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    val spark = SparkSession.active
    TxLog.txn(spark, base) { t =>
      // the landed CTAS/RTAS files are reused by every attempt
      val entries = t.once(t.stage(staged))
      // a pure CTAS losing a creation race must FAIL, never silently
      // replace the winner's table
      if (t.read.isDefined && !allowReplace)
        throw new TableAlreadyExistsException(Seq(ident.toString))
      if (t.read.isEmpty) {
        require(!mustExist,
          s"REPLACE TABLE $ident: the table vanished while staged")
        val f = new Path(base)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        f.mkdirs(new Path(s"$base/${TxLog.LogDir}"))
        catalog.writeSchemaSidecar(base, tableSchema)
      } else {
        // schema sidecar follows the NEW definition (versioned #schema
        // lines keep time travel seeing each version's own)
        catalog.writeSchemaSidecar(base, tableSchema)
      }
      // the new definition's metadata replaces the old wholesale; only
      // the protocol floor carries (requirements never regress);
      // exactly-once sink cursors survive, like RESTORE
      t.publish(entries,
        operation =
          if (t.read.isEmpty) "CREATE TABLE AS SELECT" else "REPLACE TABLE",
        meta = m => TableMeta(schema = Some(tableSchema), partitions = pspec,
          generated = gens, defaults = dflts, identity = identitySeeds,
          protocol = m.protocol))
    }
  }

  override def abortStagedChanges(): Unit = {
    val spark = SparkSession.active
    TxLogWriteCommit.dropTxn(base, s"data/$txn")
    if (!existedAtStage) { // a brand-new table's dir vanishes whole
      val f = new Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (TxLog.latestVersion(spark, base).isEmpty) f.delete(new Path(base), true)
    }
  }
}
