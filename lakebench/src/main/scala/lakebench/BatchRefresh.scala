package lakebench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.models.RealEstate
import graft.operators.{Dedup, NearDup, TextAnalysis, TxLog}

/** `batch_refresh`: the reference's daily medallion ELT as a closed loop
  * with one client. Each day appends its raw slice to bronze, MERGEs it
  * into silver through the `graft` SQL catalog (the dbt incremental
  * shape), rebuilds the gold models as new TxLog versions, curates the
  * day's documents with the LLM operators and runs the analyst queries.
  * Spark execution, planning, the models and the operators do most of
  * the work; TxLog makes a few large commits per day.
  *
  * Set-up splits the inputs into days, loads day 0 and builds gold and
  * the document stores from it; the timed phase runs `days` more. */
final class BatchRefresh(ctx: Ctx, ns: String, days: Int) extends Workload {
  import ctx.{spark, tx}

  private var perDay, docsPerDay = 0
  private val quality = 0.3
  private val (shingle, tau) = (2, 0.8)

  private val in = ctx.newDir(s"in_$ns")
  private val wh = ctx.warehouse.resolve(ns)
  private def table(t: String) = wh.resolve(t).toString
  private val Seq(bronze, silver, dimLoc, dimLegal, fct, summary, dq, docStore, sigStore) =
    Seq("bronze", "silver", "dim_locations", "dim_legal_status", "fct_properties",
      "fct_daily_summary", "data_quality_report", "docs", "doc_signatures").map(table)
  def tables: Seq[String] = Seq(bronze, silver, dimLoc, dimLegal, fct, summary, dq, docStore, sigStore)

  // per day: keys and expected prices of new listings the point lookups must find
  private val probes = mutable.Map[Int, Seq[(String, Double)]]()
  private val lookupsPerDay = 46
  private var distinctKeys = 0L
  private var hash = ""
  def opHash: String = hash
  private var inputs: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = _

  /** Expected `price_in_billions` of a listing built from order `o`
    * (RealEstate.rawListings' price strings, parsed as RealEstate.silver
    * parses them), or None when the listing fails the fact's filters. */
  private def expectedPrice(o: Inputs.Order): Option[Double] = {
    val pi = math.floor(o.o_totalprice).toLong % 900 + 1
    val pd = o.o_orderkey % 10
    if (o.o_orderkey % 4 == 2 || o.o_custkey % 5 == 4) None
    else if (o.o_orderkey % 4 == 1) Some(s"${pi * 1000 + pd * 100}".toDouble / 1000.0)
    else Some(s"$pi.$pd".toDouble)
  }

  /** Split the orders and documents into days in a seeded order. Day 0
    * holds an eighth of each, every later day a sixteenth of the orders
    * as new listings plus restatements of earlier keys: the same row
    * with a later timestamp and the price of another order. Returns
    * the (day, order) and (day, document) pairs. */
  private def split(): (Seq[(Int, Inputs.Order)], Seq[(Int, Inputs.Doc)]) = {
    val all = Inputs.orders(ctx)
    val nOrders = all.size
    val initial = nOrders / 8
    val restatedPerDay = math.max(2, nOrders / 160)
    perDay = math.max(4, nOrders / 16)
    val r = Inputs.rnd(ctx.seed, 11)
    val order = Inputs.shuffle(r, all)
    val last = all.map(_.o_orderdate).maxBy(_.getTime)
    distinctKeys = initial
    val orders = mutable.ArrayBuffer[(Int, Inputs.Order)]()
    var next = 0
    for (d <- 0 to days) {
      val n = if (d == 0) initial else perDay
      val fresh = order.slice(next, next + n)
      val restated = if (d == 0) Nil else {
        val idx = mutable.LinkedHashSet[Int]()
        while (idx.size < restatedPerDay) idx += r.nextInt(next)
        idx.toSeq.map(i => order(i).copy(o_orderdate = Inputs.dayAfter(last, d),
          o_totalprice = all(r.nextInt(nOrders)).o_totalprice))
      }
      next += n
      probes(d) = fresh.iterator.flatMap(o => expectedPrice(o).map(md5(o.o_orderkey.toString) -> _))
        .take(lookupsPerDay).toSeq
      orders ++= (fresh ++ restated).map(d -> _)
    }
    val docs = Inputs.shuffle(r, Inputs.documents(ctx))
    docsPerDay = math.max(4, docs.size / 16)
    val docDays = docs.zipWithIndex.flatMap { case (doc, i) =>
      val d = if (i < docs.size / 8) 0 else 1 + (i - docs.size / 8) / docsPerDay
      if (d <= days) Some(d -> doc) else None
    }
    (orders.toSeq, docDays)
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  def inputBytes: Long = (1 to days).map { d =>
    Files2.du(in.resolve(s"orders/day=$d")) + Files2.du(in.resolve(s"documents/day=$d"))
  }.sum

  private def raw(d: Int): DataFrame = {
    val (orders, customer, nation, region, _) = inputs
    RealEstate.rawListings(orders.where(col("day") === d).drop("day"), customer, nation, region)
  }
  private def docsOf(d: Int): DataFrame =
    inputs._5.where(col("day") === d).select("doc_id", "text")

  private def latest(base: String): Long = tx("latestVersion")(TxLog.latestVersion(spark, base).get)
  private def liveRows(base: String, v: Long): Long =
    TxLog.manifest(spark, base, v)._1.map(_.liveRows).sum

  /** Write a model's full result as the table's next version. */
  private def rebuild(df: DataFrame, base: String, statsCol: String): Long =
    ctx.timed(ctx.commits)(tx("commit")(
      TxLog.commit(df, base, tx("latestVersion")(TxLog.latestVersion(spark, base)), Some(statsCol))))

  private def buildGold(): Unit = ctx.tracer.span("models", "gold_build") {
    val s = tx("read")(TxLog.read(spark, silver))
    rebuild(RealEstate.dimLocations(s), dimLoc, "location_id")
    rebuild(RealEstate.dimLegalStatus(s), dimLegal, "legal_status_id")
    rebuild(RealEstate.fctProperties(s, tx("read")(TxLog.read(spark, dimLoc)),
      tx("read")(TxLog.read(spark, dimLegal))), fct, "property_id")
    rebuild(RealEstate.fctDailySummary(tx("read")(TxLog.read(spark, fct))), summary, "date_key")
    rebuild(RealEstate.dataQualityReport(s), dq, "report_date")
  }

  /** The day's documents: quality filter, exact dedup within the batch,
    * then near-dup pairs against the kept history; survivors and their
    * signatures are appended to the stores. Returns (kept, pairs). */
  private def curate(d: Int): (Long, Long) = ctx.tracer.span("operators", "curate") {
    val batch = docsOf(d)
    val exact = Dedup.exactByContent(
      batch.where(TextAnalysis.qualityScore(col("text")) >= quality), "doc_id", Seq("text"))
      .persist()
    try {
      val pairs = NearDup.incrementalMinhashPairs(tx("read")(TxLog.read(spark, docStore)),
        exact, "doc_id", "text", n = shingle, tau = tau, histBanded = tx("read")(TxLog.read(spark, sigStore)))
        .collect()
      require(pairs.forall(_.getDouble(2) >= tau), "a near-dup pair below tau")
      val dup = pairs.map(_.getLong(0)).distinct.toSeq
      val kept = exact.where(!col("doc_id").isin(dup: _*))
      val v0 = latest(docStore)
      val v = ctx.timed(ctx.commits)(tx("append")(TxLog.append(kept, docStore, Some("doc_id"))))
      ctx.timed(ctx.commits)(tx("append")(TxLog.append(
        NearDup.bandedSignatures(kept, "doc_id", "text", shingle), sigStore)))
      (liveRows(docStore, v) - liveRows(docStore, v0), pairs.length.toLong)
    } finally exact.unpersist()
  }

  private var prevFct: (Long, Long) = (0L, 0L) // (version, rows) of yesterday's fact

  /** The analyst queries over gold, each checked. */
  private def analyst(d: Int, opBase: Long): Unit = {
    val g = s"graft.$ns"
    val fctV = latest(fct)
    val fctRows = liveRows(fct, fctV)
    def query[T](n: Int, name: String)(run: => T)(check: T => Boolean): Unit =
      ctx.op(opBase + n, name)(ctx.timed(ctx.queries)(run))(check)
    query(1, "star_join")(ctx.sqlCollect(
      s"""SELECT l.region, f.legal_status_category, count(*) AS n,
         |       sum(f.price_in_billions) AS total
         |FROM $g.fct_properties f JOIN $g.dim_locations l ON f.location_id = l.location_id
         |GROUP BY l.region, f.legal_status_category""".stripMargin))(
      rows => rows.map(_.getLong(2)).sum == fctRows)
    query(2, "top_districts")(ctx.sqlCollect(
      s"""SELECT l.district, count(*) AS n, avg(f.price_per_m2_millions) AS ppm
         |FROM $g.fct_properties f JOIN $g.dim_locations l ON f.location_id = l.location_id
         |GROUP BY l.district ORDER BY n DESC, l.district LIMIT 10""".stripMargin))(
      rows => rows.nonEmpty && rows.length <= 10 &&
        rows.map(_.getLong(1)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    if (prevFct._1 > 0) query(3, "version_as_of")(ctx.sqlCollect(
      s"SELECT count(*) FROM $g.fct_properties VERSION AS OF ${prevFct._1}"))(
      rows => rows.head.getLong(0) == prevFct._2)
    query(4, "recent_summary")(ctx.sqlCollect(
      s"SELECT date_key, total_new_listings FROM $g.fct_daily_summary ORDER BY date_key DESC LIMIT 7"))(
      rows => rows.length == 7 && rows.map(_.getDate(0).getTime).sliding(2).forall(p => p(0) > p(1)))
    probes(d).zipWithIndex.foreach { case ((key, price), i) =>
      query(5 + i, "point_lookup")(ctx.sqlCollect(
        s"SELECT property_id, price_in_billions FROM $g.fct_properties WHERE property_id = '$key'"))(
        rows => rows.length == 1 && rows.head.getDouble(1) == price)
    }
    prevFct = (fctV, fctRows)
  }

  /** Split the inputs into days and write them, load day 0 into bronze
    * and silver, then build gold and the document stores from it. */
  def setup(): Unit = {
    val (orders, docs) = split()
    hash = Files2.sha256(s"batch_refresh|$days|${orders.map(o => (o._1, o._2)).hashCode}|" +
      s"${docs.map(d => (d._1, d._2.doc_id)).hashCode}")
    inputs = (
      Inputs.writeParts(spark, orders, "day", in.resolve("orders").toString),
      Inputs.load(ctx, "customer"), Inputs.load(ctx, "nation"), Inputs.load(ctx, "region"),
      Inputs.writeParts(spark, docs, "day", in.resolve("documents").toString))
    val raw0 = raw(0)
    tx("commit")(TxLog.commit(raw0, bronze, None, Some("listing_id")))
    tx("commit")(TxLog.commit(RealEstate.silver(raw0), silver, None, Some("property_id")))
    buildGold()
    val hist = Dedup.exactByContent(
      docsOf(0).where(TextAnalysis.qualityScore(col("text")) >= quality), "doc_id", Seq("text"))
    tx("commit")(TxLog.commit(hist, docStore, None, Some("doc_id")))
    tx("commit")(TxLog.commit(NearDup.bandedSignatures(TxLog.read(spark, docStore),
      "doc_id", "text", shingle), sigStore, None))
    prevFct = (latest(fct), liveRows(fct, latest(fct)))
  }

  def run(): Unit = for (d <- 1 to days) {
    val opBase = d * 100L
    val t0 = System.nanoTime()
    val rawD = raw(d)
    val bv = latest(bronze)
    ctx.op(opBase, "bronze_append")(ctx.timed(ctx.commits)(
      tx("append")(TxLog.append(rawD, bronze, Some("listing_id")))))(_ == bv + 1)
    distinctKeys += perDay
    ctx.op(opBase + 5, "silver_merge")(ctx.tracer.span("models", "silver_merge") {
      RealEstate.silver(rawD).createOrReplaceTempView(s"${ns}_silver_src")
      ctx.timed(ctx.commits)(ctx.sql(
        s"""MERGE INTO graft.$ns.silver t USING ${ns}_silver_src s
           |ON t.property_id = s.property_id
           |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      liveRows(silver, latest(silver))
    })(_ == distinctKeys)
    ctx.op(opBase + 6, "gold_build")(buildGold())(_ => true)
    ctx.freshness.add((System.nanoTime() - t0) / 1e6)
    ctx.op(opBase + 7, "curate")(curate(d)) { case (kept, pairs) =>
      ctx.count("operators.docs_in", docsPerDay.toDouble)
      ctx.count("operators.docs_kept", kept.toDouble)
      ctx.count("operators.pairs", pairs.toDouble)
      kept <= docsPerDay
    }
    analyst(d, opBase + 10)
  }

  /** Gold must equal a one-shot rebuild from the final raw state, and
    * the curated store must hold no two identical texts. */
  def verify(): Boolean = {
    val rawAll = TxLog.read(spark, bronze)
    val s1 = Dedup.latestByKey(RealEstate.silver(rawAll), Seq("property_id"),
      Seq(col("updated_at_ts").desc)).persist()
    val l1 = RealEstate.dimLocations(s1)
    val g1 = RealEstate.dimLegalStatus(s1)
    val f1 = RealEstate.fctProperties(s1, l1, g1).persist()
    val checks = Seq(
      "dim_locations" -> (TxLog.read(spark, dimLoc), l1),
      "dim_legal_status" -> (TxLog.read(spark, dimLegal), g1),
      "fct_properties" -> (TxLog.read(spark, fct), f1),
      "fct_daily_summary" -> (TxLog.read(spark, summary), RealEstate.fctDailySummary(f1)),
      "data_quality_report" -> (TxLog.read(spark, dq), RealEstate.dataQualityReport(s1)))
    s1.count() // fill the cache the comparisons share
    // the comparisons are independent: run them side by side
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val same = checks.map { case (n, (a, b)) => n -> Future(Gate.sameRows(a, b)) }
    val dups = Future(TxLog.read(spark, docStore).groupBy("text").count().where(col("count") > 1).count())
    val bad = same.filterNot { case (_, f) => Await.result(f, scala.concurrent.duration.Duration.Inf) }
    bad.foreach { case (n, _) => ctx.warn(s"batch_refresh gate: $n differs from a one-shot rebuild") }
    val dupTexts = Await.result(dups, scala.concurrent.duration.Duration.Inf)
    if (dupTexts != 0) ctx.warn(s"batch_refresh gate: $dupTexts duplicate texts kept")
    Seq(f1, s1).foreach(_.unpersist())
    bad.isEmpty && dupTexts == 0
  }
}
