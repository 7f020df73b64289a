package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.DotProduct

/** SparkSessionExtensions hook (SURVEY §4.3 / builder-brief custom
  * operator ladder): registers the engine's native expressions with
  * the SQL function registry, so `spark.sql("... graft_dot(a, b) ...")`
  * plans the codegen'd Catalyst expression. Activate with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectFunction(GraftExtensions.topkFunction)
    // Delta's SQL CDF surface: SELECT * FROM table_changes('t', 2, 5).
    // A table-valued function (the injectTableFunction rung) whose
    // builder resolves the table through the session catalog and
    // returns the row-precise change-feed plan.
    ext.injectTableFunction(GraftExtensions.tableChangesFunction)
    // typed band reads over semi-structured bronze: SQL has no way to
    // push an expression predicate into the DSv2 scan's entry
    // pruning, so `WHERE variant_get(v, '$.p') BETWEEN ...` reads
    // every file — this TVF routes through readVariantRange's
    // stats-pruned plan instead.
    ext.injectTableFunction(GraftExtensions.variantRangeFunction)
    // Ladder rung (c): whole-operator planner extension. The strategy
    // self-scopes (fires only on broadcast-declared point-in-interval
    // inner joins, returns Nil otherwise) so injecting it session-wide
    // is safe for every other plan shape.
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    // Ladder rung (b'): logical optimizer rule — derived min/max
    // pre-filter on the probe side of point-in-interval joins. Also
    // self-scoping (same pattern match as the strategy, Inner/LeftSemi
    // only, marker-aliased for fixed-point idempotency).
    ext.injectOptimizerRule(_ => graft.plans.IntervalPrefilterRule)
    // SQL UPDATE / MERGE INTO on txlog tables: resolution rule
    // rewriting the two row-level-DML shapes (which plain DSv2 tables
    // cannot serve) into merge-on-read commands. Self-scoping: fires
    // only when the target relation is a TxLogTable. Routed through
    // the guarded injector so TxLogSqlDml.ensureInjected on the same
    // lineage never adds a second copy.
    graft.sources.TxLogSqlDml.injectInto(ext)
  }
}

object GraftExtensions {
  val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_dot(a, b) takes two arguments")
      DotProduct(children.head, children(1))
    })

  /** The bounded-heap top-k typed Aggregator as an injectable SQL
    * function: `graft_topk(value, id[, k])` with k a literal (default
    * 3, matching the session-registry face in RegistryLlm). Injected
    * builders run at resolution per call site, so a literal k can pick
    * the aggregator's heap bound — something `udf.register` (fixed
    * instance) cannot do. */
  val topkFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_topk"),
    new ExpressionInfo(classOf[graft.functions.TopKAggregator].getName, "graft_topk"),
    (children: Seq[Expression]) => {
      require(children.length == 2 || children.length == 3,
        "graft_topk(value, id[, k]) takes two or three arguments")
      val k = children.drop(2) match {
        case Seq(org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
        case Seq() => 3
        case other => throw new IllegalArgumentException(
          s"graft_topk k must be an integer literal, got $other")
      }
      // Build the ScalaAggregator expression directly: a Column-API
      // detour (udaf(...).apply) yields an unconverted ColumnNode
      // wrapper that the analyzer rejects when returned from a
      // registry builder.
      val agg = new graft.functions.TopKAggregator(k)
      org.apache.spark.sql.execution.aggregate.ScalaAggregator(
        children.take(2), agg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)](),
        agg.bufferEncoder.asInstanceOf[
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]])
        .toAggregateExpression()
    })

  /** `table_changes('<table>', startVersion [, endVersion])` — Delta's
    * SQL change-data-feed access, as a table-valued function. Both
    * bounds are INCLUSIVE commit versions (Delta's contract);
    * endVersion defaults to the table's latest. Output = the
    * row-precise batch feed ([[graft.operators.TxLog.changesWithDeletes]]:
    * inserts, deletes, update pre/post images) plus Delta's three
    * audit columns `_change_type`, `_commit_version`,
    * `_commit_timestamp` (the in-commit stamp, so the value is a
    * property of the log, not of file mtimes). The builder runs at
    * analysis: args must be literals, the table must resolve to a
    * txlog store through the CURRENT session catalog. */
  val tableChangesFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = (
    FunctionIdentifier("table_changes"),
    new ExpressionInfo("graft.operators.TxLog", "table_changes"),
    (args: Seq[Expression]) => {
      require(args.size == 2 || args.size == 3,
        "table_changes(table, start [, end]) takes a table name and " +
          "one or two literal bounds (version numbers or timestamps)")
      def evalLit(e: Expression, what: String): Any = {
        require(e.foldable, s"table_changes: $what must be a literal")
        e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      }
      val spark = org.apache.spark.sql.SparkSession.active
      val name = String.valueOf(evalLit(args(0), "the table name"))
      val base = graft.sources.TxLogSqlParser.resolveBase(spark,
        graft.sources.TxLogSqlParser.parts(name))
      val latest = graft.operators.TxLog.requireLatest(spark, base)
      // Delta's contract: each bound is a version number OR a
      // timestamp literal, disambiguated by TYPE (an epoch-millis
      // STRING is a timestamp). Timestamp resolution differs per
      // side: the END bound is the floor (latest commit <= ts —
      // versionAtTimestamp's rule), but the START bound is the
      // CEILING (first commit >= ts): floor semantics there would
      // leak changes committed BEFORE the requested start into the
      // feed. A start before the first commit clamps to version 1.
      // decide the spelling ONCE, here: (resolved version, was it a
      // timestamp?). Integral literals are versions; string/timestamp/
      // date literals are timestamps; anything else (a float/decimal
      // "version") is rejected loudly instead of silently becoming an
      // overshooting timestamp with an empty feed.
      def ver(e: Expression, what: String,
              isStart: Boolean): (Long, Boolean) = {
        val raw = String.valueOf(evalLit(e, what))
        e.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => (raw.toLong, false)
          case org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType |
               org.apache.spark.sql.types.DateType =>
            val ts = graft.sources.TxLogSource.parseTsMillis(spark, raw)
            if (!isStart)
              (graft.operators.TxLog.versionAtTimestamp(spark, base, ts),
                true)
            else (graft.operators.TxLog
              .versionAtOrAfterTimestamp(spark, base, ts)
              // a start INSTANT after the last commit asks for changes
              // none of which have happened yet: an empty feed (the
              // version spelling of the same overshoot stays an error
              // — a version number names a commit that must exist)
              .getOrElse(latest + 1L), true)
          case other => throw new IllegalArgumentException(
            s"table_changes: $what must be an integer version or a " +
              s"string/timestamp literal, got ${other.simpleString}")
        }
      }
      val (start, startIsTs) = ver(args(1), "start", isStart = true)
      val end = args.lift(2).map(ver(_, "end", isStart = false)._1)
        .getOrElse(latest)
      val emptyFeed = startIsTs && start == latest + 1L && end == latest
      if (!emptyFeed)
        require(start >= 1 && end >= start && end <= latest,
          s"table_changes: version range [$start, $end] outside the " +
            s"committed range [1, $latest]")
      val df =
        if (emptyFeed)
          // full-schema feed over the newest committed change, emptied:
          // the caller gets zero rows under the exact CDF surface
          graft.operators.TxLog.changesWithDeletes(
            spark, base, latest - 1L, latest).limit(0)
        else graft.operators.TxLog.changesWithDeletes(
          spark, base, start - 1L, end)
      // ICT stamps ride a tiny broadcast map — never a per-row lookup
      import org.apache.spark.sql.functions.{broadcast, col, timestamp_millis}
      val stamps = spark.createDataFrame(
        (start to end).map(v => (v, graft.operators.TxLog
          .commitTimestamp(spark, base, v))).toList)
        .toDF("_commit_version", "__ts_ms")
      val dataCols = df.columns.filterNot(c =>
        c == "_commit_version" || c == "_change_type").toSeq
      df.join(broadcast(stamps), Seq("_commit_version"), "left")
        .withColumn("_commit_timestamp", timestamp_millis(col("__ts_ms")))
        .select((dataCols ++ Seq("_change_type", "_commit_version",
          "_commit_timestamp")).map(col): _*)
        .queryExecution.analyzed
    })

  /** `variant_range('<table>', '<col>', '<path>', lo, hi)` — the
    * typed band read over a VARIANT extraction path as a
    * table-valued function. SQL expression predicates
    * (`WHERE variant_get(v, '$.p') BETWEEN lo AND hi`) cannot reach
    * the DSv2 scan's entry pruning (pushed filters are column
    * filters), so they scan every file; this TVF plans through
    * [[graft.operators.TxLog.readVariantRange]] — files whose
    * collected/declared path stats cannot overlap the band are never
    * opened, and the row-level residual keeps the read exact. The
    * band's TYPE derives from the bound literals (integral → long,
    * fractional → double, string → string), matching the declared
    * stats family. */
  val variantRangeFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = (
    FunctionIdentifier("variant_range"),
    new ExpressionInfo("graft.operators.TxLog", "variant_range"),
    (args: Seq[Expression]) => {
      require(args.size == 5,
        "variant_range(table, column, path, lo, hi) takes a table " +
          "name, a variant column, an extraction path, and two " +
          "literal bounds")
      def evalLit(e: Expression, what: String): Any = {
        require(e.foldable, s"variant_range: $what must be a literal")
        e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      }
      val spark = org.apache.spark.sql.SparkSession.active
      val name = String.valueOf(evalLit(args(0), "the table name"))
      val colName = String.valueOf(evalLit(args(1), "the column"))
      val path = String.valueOf(evalLit(args(2), "the path"))
      val base = graft.sources.TxLogSqlParser.resolveBase(spark,
        graft.sources.TxLogSqlParser.parts(name))
      def bound(e: Expression, what: String): (Any, String) = {
        val raw = evalLit(e, what)
        e.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType =>
            (raw.asInstanceOf[Number].longValue(), "long")
          case org.apache.spark.sql.types.FloatType |
               org.apache.spark.sql.types.DoubleType =>
            (raw.asInstanceOf[Number].doubleValue(), "double")
          case org.apache.spark.sql.types.StringType =>
            (String.valueOf(raw), "string")
          case other => throw new IllegalArgumentException(
            s"variant_range: $what must be an integral, fractional " +
              s"or string literal, got ${other.simpleString}")
        }
      }
      val (lo, tLo) = bound(args(3), "lo")
      val (hi, tHi) = bound(args(4), "hi")
      require(tLo == tHi,
        s"variant_range: bounds must share a type family (got $tLo " +
          s"and $tHi)")
      graft.operators.TxLog
        .readVariantRange(spark, base, colName, path, tLo, lo, hi)
        .queryExecution.analyzed
    })
}
