package lakebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TxLog

/** `upsert_cdc`: a closed loop with one client running a seeded mix of
  * small commits and reads against one TxLog table seeded from `orders`,
  * while a change-feed stream keeps a downstream replica.
  *
  * Each round first runs its writes: one SQL MERGE of a small batch
  * (half restated keys, half new), one MOR update and one MOR delete on
  * narrow key ranges, and seven appends, with a compaction after every
  * `compactEvery` commits. Then it vacuums the table down to its last
  * `keepLast` versions and runs the round's reads in a seeded order: point lookups (five on keys the
  * run wrote, three over the whole table), a range read, a read of a
  * version drawn uniformly over the retained history (missing the
  * latest-snapshot cache), a SQL aggregate, and a SQL read of the
  * replica `VERSION AS OF` its latest applied version.
  *
  * A `TxLogSource` stream with `changeFeedTypes=true` applies each
  * micro-batch to the replica with `TxLog.applyChanges` (the
  * `stream_txlog_replica` shape), one source version per batch. The
  * client waits for each commit to reach the replica before its next op,
  * so each commit's freshness (its start until the batch holding its
  * version is applied) is taken on an idle stream, no commit competes
  * with a batch for the cores, and no read overlaps a batch.
  *
  * The driver side of TxLog does most of the work (snapshot resolution,
  * manifest and checkpoint I/O, publish, skipping), and it is the only
  * workload that runs the micro-batch framework and the DSv2 change-feed
  * source. A driver-side model (key -> row, and a digest per version)
  * checks every result. */
final class UpsertCdc(ctx: Ctx, ns: String, rounds: Int) extends Workload {
  import ctx.{spark, tx}
  import UpsertCdc._

  private val seedRows = Inputs.orders(ctx)
  private val nOrders = seedRows.size
  private val batchSize = math.max(4, nOrders / 750)
  private val span = math.max(4, nOrders / 3000)
  private val (compactEvery, keepLast) = (4, 6)
  // every round runs the same ops, so every round has the same mix and
  // the medians stay comparable across seeds; the seed draws the keys,
  // the rows and the order of the reads
  private val writeKinds = Seq("merge", "update", "delete") ++ Seq.fill(7)("append") :+ "vacuum"
  private val readKinds = Seq.fill(5)("recent") ++ Seq.fill(3)("point") ++
    Seq("range", "version", "sql", "replica")

  private val in = ctx.newDir(s"in_$ns")
  private val ckpt = ctx.root.resolve(s"ckpt_$ns")
  private val base = ctx.warehouse.resolve(ns).resolve("orders").toString
  private val rep = ctx.warehouse.resolve(ns).resolve("replica").toString
  def tables: Seq[String] = Seq(base, rep)

  private val model = mutable.TreeMap[Long, ORow]()
  private val digests = new ConcurrentHashMap[Long, Digest]()
  private var plan: Vector[Op] = Vector.empty
  private val batchRows = mutable.ArrayBuffer[Seq[Inputs.Order]]()
  private var batches: DataFrame = _
  private var hash = ""
  def opHash: String = hash
  def inputBytes: Long = plan.collect {
    case Merge(b) => Files2.du(in.resolve(s"batches/batch=$b"))
    case Append(b) => Files2.du(in.resolve(s"batches/batch=$b"))
  }.sum

  /** The op sequence. A written row takes the values of a seeded
    * `orders` row, its own key and a later order date. */
  private def generate(): Unit = {
    val r = Inputs.rnd(ctx.seed, 21)
    val last = seedRows.map(_.o_orderdate).maxBy(_.getTime)
    var next = seedRows.last.o_orderkey + 1
    val recent = mutable.ArrayBuffer[Long]()
    def newBatch(keys: Seq[Long]): Int = {
      batchRows += keys.map(k => seedRows(r.nextInt(nOrders))
        .copy(o_orderkey = k, o_orderdate = Inputs.dayAfter(last, 1 + r.nextInt(600))))
      recent ++= keys
      batchRows.size - 1
    }
    val kinds = (1 to rounds).flatMap(_ =>
      writeKinds ++ Inputs.shuffle(r, readKinds))
    plan = kinds.toVector.map {
      case "merge" =>
        val old = mutable.LinkedHashSet[Long]()
        while (old.size < batchSize / 2)
          old += (if (r.nextBoolean() && recent.nonEmpty) recent(r.nextInt(recent.size))
                  else r.nextLong(next))
        val fresh = (0 until batchSize - old.size).map(i => next + i)
        next += fresh.size
        Merge(newBatch(old.toSeq ++ fresh))
      case "append" =>
        val fresh = (0 until batchSize).map(i => next + i)
        next += fresh.size
        Append(newBatch(fresh))
      case "delete" => Delete(r.nextLong(next - span))
      case "update" =>
        val lo = r.nextLong(next - span); recent ++= (lo to lo + span); Update(lo)
      case "vacuum" => Vacuum
      case "recent" => Point(recent(r.nextInt(recent.size)), "read_recent")
      case "point" => Point(r.nextLong(next), "read_point")
      case "range" => Range(r.nextLong(next - 10 * span), 10 * span)
      case "version" => Version(r.nextDouble())
      case "sql" => SqlAgg
      case "replica" => ReplicaRead
    }
    hash = Files2.sha256(s"upsert_cdc|$nOrders|${plan.mkString(",")}|${batchRows.hashCode}")
  }

  private def record(v: Long): Unit =
    digests.put(v, Digest.of(model.iterator.map { case (k, r) => k -> r.cents }))
  private def setModel(o: Inputs.Order): Unit = model(o.o_orderkey) = ORow.of(o)

  // ---- replication --------------------------------------------------

  private var stream: StreamingQuery = _
  private val appliedAt = new ConcurrentHashMap[Long, java.lang.Long]()
  private val lastApplied = new AtomicLong()

  /** Apply one change-feed micro-batch; it holds source version `bid + 1`
    * and must publish replica version `bid + 1`. */
  private def applyBatch(batch: DataFrame, bid: Long): Unit =
    ctx.tracer.op(1000000L + bid, "stream_batch")(ctx.tracer.span("streaming", "apply") {
      val b = batch.persist()
      try {
        val v = tx("applyChanges")(TxLog.applyChanges(spark, rep,
          deleteKeys = b.where(col("_change_type").isin("delete", "update_preimage")).select("o_orderkey"),
          inserts = b.where(col("_change_type").isin("insert", "update_postimage"))
            .drop("_commit_version", "_change_type"),
          keys = Seq("o_orderkey"), statsCol = "o_orderkey", appId = "replica", batchId = bid))
        if (v != bid + 1) {
          ctx.failed.incrementAndGet(); ctx.warn(s"upsert_cdc: batch $bid published replica v$v")
        }
      } finally b.unpersist(false)
      appliedAt.put(bid + 1, System.nanoTime())
      lastApplied.set(bid + 1)
    })

  private def awaitApplied(v: Long, timeoutMs: Long): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (lastApplied.get < v && System.currentTimeMillis() < end && stream.exception.isEmpty)
      Thread.sleep(2)
    lastApplied.get >= v
  }

  /** Derive the op sequence, write the batches it commits, seed the
    * table from `orders`, start the replica stream and let it bootstrap
    * the replica from the seed version. */
  def setup(): Unit = {
    generate()
    seedRows.foreach(setModel)
    batches = Inputs.writeParts(spark,
      batchRows.zipWithIndex.flatMap { case (rows, b) => rows.map(b -> _) }.toSeq,
      "batch", in.resolve("batches").toString)
    record(tx("commit")(TxLog.commit(Inputs.load(ctx, "orders").repartitionByRange(16, col("o_orderkey")),
      base, None, Some("o_orderkey"))))
    stream = spark.readStream.format("graft.sources.TxLogSource")
      .option("changeFeedTypes", "true")
      .option("maxVersionsPerTrigger", "1")
      .load(base)
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch((b: DataFrame, bid: Long) => applyBatch(b, bid))
      .start()
    require(awaitApplied(latest, 120000),
      s"upsert_cdc: the replica did not catch up during set-up (${stream.exception})")
  }

  override def stop(): Unit = if (stream != null) { stream.stop(); stream.awaitTermination() }

  // ---- the client ---------------------------------------------------

  def run(): Unit = plan.zipWithIndex.foreach { case (o, i) => step(o, i.toLong) }

  private var commitsDone = 0
  private var oldestRetained = 1L

  private def latest: Long = tx("latestVersion")(TxLog.latestVersion(spark, base).get)
  private def liveFiles: Int =
    TxLog.manifest(spark, base, TxLog.latestVersion(spark, base).get)._1.size
  private def batchDf(b: Int): DataFrame = batches.where(col("batch") === b).drop("batch")

  /** Aggregates compared against [[Digest]]. */
  private def digestOf(df: DataFrame): Digest = {
    val r = ctx.collectScan(df.agg(count(lit(1)), coalesce(sum(col("o_orderkey")), lit(0L)),
      coalesce(sum(round(col("o_totalprice") * 100).cast("long")), lit(0L))), liveFiles).head
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** A committing op: timed, applied to the model, its version's digest
    * recorded and replicated; then the compaction that is due. */
  private def commit(n: Long, name: String)(body: => Long)(apply: => Unit): Unit = {
    commitOp(n, name)(body)(apply)
    commitsDone += 1
    if (commitsDone % compactEvery == 0)
      commitOp(n, "compact")(tx("compact")(
        TxLog.compact(spark, base, batchSize * 4L, nOrders / 8L, Some("o_orderkey"))))(())
  }

  private def commitOp(n: Long, name: String)(body: => Long)(apply: => Unit): Unit = {
    val t0 = System.nanoTime()
    ctx.op(n, name)(ctx.timed(ctx.commits)(body)) { v =>
      apply; record(v)
      replicated(v) && {
        // a commit that changed nothing (an empty delete range) has no batch of its own
        if (appliedAt.get(v) > t0) ctx.freshness.add((appliedAt.get(v) - t0) / 1e6)
        true
      }
    }
  }

  /** Wait until version `v` is applied to the replica; a replica that
    * does not catch up within a minute fails the op. */
  private def replicated(v: Long): Boolean =
    awaitApplied(v, 60000) || { ctx.warn(s"upsert_cdc: replica stuck at ${lastApplied.get} < $v"); false }

  private def query[T](n: Long, name: String)(run: => T)(check: T => Boolean): Unit =
    ctx.op(n, name)(ctx.timed(ctx.queries)(run))(check)

  private def step(o: Op, n: Long): Unit = o match {
    case Vacuum =>
      // keep the last `keepLast` versions; with no other writer on the
      // table, delete the files no retained version references at once
      ctx.op(n, "vacuum")(tx("vacuum")(TxLog.vacuum(spark, base, keepLast, graceMs = 0)))(
        vs => { oldestRetained = vs.min; vs.contains(latest) })
    case Merge(b) =>
      val view = s"${ns}_merge_src"
      commit(n, "merge") {
        batchDf(b).createOrReplaceTempView(view)
        ctx.sql(s"""MERGE INTO graft.$ns.orders t USING $view s ON t.o_orderkey = s.o_orderkey
                   |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        latest
      }(batchRows(b).foreach(setModel))
    case Append(b) =>
      commit(n, "append")(tx("append")(TxLog.append(batchDf(b), base, Some("o_orderkey"))))(
        batchRows(b).foreach(setModel))
    case Delete(lo) =>
      val (l, h) = (lo.toString, (lo + span).toString)
      commit(n, "delete")(tx("deleteWhereMor")(TxLog.deleteWhereMor(spark, base,
        col("o_orderkey").between(lo, lo + span),
        e => e.statsFor("o_orderkey").forall(_.overlaps(l, h)))))(
        model.range(lo, lo + span + 1).keys.toVector.foreach(model.remove))
    case Update(lo) =>
      commit(n, "update")(tx("updateRangeMor")(TxLog.updateRangeMor(spark, base,
        "o_orderkey", lo, lo + span,
        Map("o_totalprice" -> (col("o_totalprice") + 1.0), "o_orderstatus" -> lit("U")))))(
        model.range(lo, lo + span + 1).toVector.foreach { case (k, row) =>
          model(k) = row.copy(status = "U", cents = row.cents + 100)
        })
    case Point(key, name) =>
      query(n, name)(ctx.collectScan(
        tx("readPoint")(TxLog.readPoint(spark, base, "o_orderkey", key)), liveFiles))(
        rows => rows.map(ORow.of).toSeq == model.get(key).toSeq)
    case Range(lo, width) =>
      query(n, "read_range")(digestOf(
        tx("readRange")(TxLog.readRange(spark, base, "o_orderkey", lo, lo + width - 1))))(
        _ == Digest.of(model.range(lo, lo + width).iterator.map { case (k, r) => k -> r.cents }))
    case Version(u) =>
      val last = latest
      val v = oldestRetained + math.min((u * (last - oldestRetained + 1)).toLong, last - oldestRetained)
      query(n, "read_version")(digestOf(tx("readVersion")(TxLog.readVersion(spark, base, v))))(
        d => digests.get(v) == d)
    case SqlAgg =>
      query(n, "sql_aggregate")(ctx.sqlCollect(
        s"""SELECT o_orderstatus, count(*), sum(cast(round(o_totalprice * 100) AS BIGINT))
           |FROM graft.$ns.orders GROUP BY o_orderstatus""".stripMargin))(rows =>
        rows.map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap ==
          model.values.groupMapReduce(_.status)(x => (1L, x.cents))((a, b) => (a._1 + b._1, a._2 + b._2)))
    case ReplicaRead =>
      val r = lastApplied.get
      query(n, "replica_read")(ctx.sqlCollect(
        s"""SELECT count(*), coalesce(sum(o_orderkey), 0),
           |       coalesce(sum(cast(round(o_totalprice * 100) AS BIGINT)), 0)
           |FROM graft.$ns.replica VERSION AS OF $r""".stripMargin))(rows =>
        Digest(rows.head.getLong(0), rows.head.getLong(1), rows.head.getLong(2)) == digests.get(r))
  }

  /** The final snapshot equals the model row for row; after draining,
    * the replica equals the source, with as many versions (exactly
    * once) and the last batch id as its high-water. */
  def verify(): Boolean = {
    val rows = TxLog.read(spark, base).collect().map(r => r.getAs[Long]("o_orderkey") -> ORow.of(r))
    val modelOk = rows.length == model.size && rows.forall { case (k, row) => model.get(k).contains(row) }
    val sv = TxLog.latestVersion(spark, base).get
    val rv = TxLog.latestVersion(spark, rep).get
    val same = Gate.sameRows(TxLog.read(spark, base), TxLog.read(spark, rep))
    val hw = TxLog.manifest(spark, rep, rv)._2 == Map("replica" -> (rv - 1))
    if (!modelOk) ctx.warn(s"upsert_cdc gate: snapshot (${rows.length} rows) differs from the model (${model.size})")
    if (!same) ctx.warn("upsert_cdc gate: the replica differs from the source")
    if (sv != rv || !hw) ctx.warn(s"upsert_cdc gate: source v$sv, replica v$rv, high-water ok=$hw")
    modelOk && same && sv == rv && hw
  }
}

object UpsertCdc {
  sealed trait Op
  final case class Merge(batch: Int) extends Op
  final case class Append(batch: Int) extends Op
  final case class Delete(lo: Long) extends Op
  final case class Update(lo: Long) extends Op
  final case class Point(key: Long, name: String) extends Op
  final case class Range(lo: Long, width: Long) extends Op
  final case class Version(u: Double) extends Op
  case object Vacuum extends Op
  case object SqlAgg extends Op
  case object ReplicaRead extends Op

  /** The model's row; prices are kept in cents, exactly. */
  final case class ORow(cust: Long, status: String, cents: Long, dateMs: Long, priority: String)
  object ORow {
    def of(o: Inputs.Order): ORow = ORow(o.o_custkey, o.o_orderstatus,
      math.round(o.o_totalprice * 100), o.o_orderdate.getTime, o.o_orderpriority)
    def of(r: Row): ORow = ORow(r.getAs[Long]("o_custkey"), r.getAs[String]("o_orderstatus"),
      math.round(r.getAs[Double]("o_totalprice") * 100),
      r.getAs[java.sql.Timestamp]("o_orderdate").getTime, r.getAs[String]("o_orderpriority"))
  }

  /** Row count, key sum and price sum (cents) of a set of rows. */
  final case class Digest(rows: Long, keys: Long, cents: Long)
  object Digest {
    def of(keyCents: Iterator[(Long, Long)]): Digest = {
      var (n, k, c) = (0L, 0L, 0L)
      keyCents.foreach { case (key, cents) => n += 1; k += key; c += cents }
      Digest(n, k, c)
    }
  }
}
