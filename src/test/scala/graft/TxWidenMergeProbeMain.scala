package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.operators.TxLog
import graft.operators.TxLog.{MergeDelete, MergeInsert, MergeUpdate, sourceCol}

/** 100 TB-shape probes for the two round-12 headline paths.
  *
  * 1. TYPE WIDENING: 20M-row int-keyed table → `ALTER COLUMN k TYPE
  *    BIGINT` — measure the ALTER's commit bytes (should be a few
  *    hundred — metadata only), full-scan cost before/after (the
  *    explicit-requested-schema read vs plain inference; also proves
  *    the per-file upcast adds no measurable scan tax), and the
  *    mixed-width scan after a wide append.
  * 2. CONDITIONAL MULTI-CLAUSE MERGE: same table, 100k-row (0.5%)
  *    batch through a 3-clause conditional merge (delete-flagged /
  *    conditional update / conditional insert) — measure seconds and
  *    new bytes vs the unconditional star merge (mergeMor) and vs a
  *    full rebuild, and prove the write stays O(changed rows).
  *
  * Run: sbt -batch "Test/runMain graft.TxWidenMergeProbeMain"
  * Numbers go to BENCH_NOTES.md. */
object TxWidenMergeProbeMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nRows = 20_000_000L
    def table = spark.range(0, nRows)
      .select(col("id").cast("int").as("k"),
        (col("id") % 97).cast("double").as("v"),
        md5(col("id").cast("string")).as("payload"))
      .repartitionByRange(64, col("k"))

    def timed(label: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label%-52s $s%.2f s")
      s
    }
    def fsOf(base: String) = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def commitBytes(base: String, v: Long): Long = {
      val dir = new org.apache.hadoop.fs.Path(s"$base/_log")
      fsOf(base).listStatus(dir).toSeq
        .filter(_.getPath.getName.contains(f"v$v%020d"))
        .map(_.getLen).sum
    }
    def newBytes(base: String, beforePaths: Set[String]): Long =
      TxLog.manifest(spark, base, TxLog.latestVersion(spark, base).get)._1
        .filterNot(e => beforePaths.contains(e.path))
        .map(e => fsOf(base).getFileStatus(
          new org.apache.hadoop.fs.Path(TxLog.resolve(base, e.path)))
          .getLen).sum
    def scan(base: String): Unit = {
      TxLog.read(spark, base)
        .agg(count(lit(1)), sum(col("k").cast("long"))).collect()
      ()
    }

    // ---- probe 1: type widening ------------------------------------
    println("== widening ==")
    val w = "/tmp/graft_widen_probe/t"
    TxLog.drop(spark, w)
    timed("seed 20M (int key, clustered, stats on k)") {
      TxLog.commit(table, w, None, Some("k")); ()
    }
    timed("full scan, BEFORE widen (plain inference)") { scan(w) }
    timed("full scan, warm repeat") { scan(w) }
    timed("ALTER COLUMN k TYPE BIGINT") {
      TxLog.alterWidenColumn(spark, w, "k", LongType); ()
    }
    val alterV = TxLog.latestVersion(spark, w).get
    println(f"    ALTER commit bytes: ${commitBytes(w, alterV)} B " +
      "(metadata only — zero data bytes moved)")
    timed("full scan, AFTER widen (requested schema, upcast)") { scan(w) }
    timed("full scan, warm repeat (widen lookup cached)") { scan(w) }
    timed("wide append (k beyond int range)") {
      import spark.implicits._
      TxLog.append((0 until 1000).map(i => (30_000_000_000L + i, 0.5,
        s"wide$i")).toDF("k", "v", "payload"), w, Some("k"))
      ()
    }
    timed("full scan over the MIXED-width file set") { scan(w) }
    val (kept, all) = TxLog.pruneRanges(spark, w,
      Seq(("k", 29_999_999_999L, 40_000_000_000L)))
    println(s"    wide-band prune: ${kept.size}/${all.size} files kept " +
      "(stats skipping width-agnostic)")

    // ---- probe 2: conditional multi-clause merge ---------------------
    println("== conditional merge ==")
    val nBatch = 100_000L
    // the dbt soft-delete batch: 50k updates to an existing band,
    // 25k delete-flagged existing keys, 25k new keys (half flagged —
    // flagged new keys must NOT insert)
    def cdc = spark.range(5_000_000L, 5_000_000L + nBatch)
      .select(col("id").cast("long").as("k"),
        lit(-1.0).as("v"),
        md5(concat(lit("u"), col("id").cast("string"))).as("payload"),
        (col("id") % 4 === 0).as("deleted"))
      .unionByName(spark.range(30_000_000L, 30_000_000L + nBatch / 2)
        .select(col("id").cast("long").as("k"), lit(9.0).as("v"),
          md5(col("id").cast("string")).as("payload"),
          (col("id") % 2 === 0).as("deleted")))
    val m = "/tmp/graft_condmerge_probe/t"
    TxLog.drop(spark, m)
    TxLog.commit(table.select(col("k").cast("long").as("k"), col("v"),
      col("payload")), m, None, Some("k"))
    val beforeM = TxLog.manifestFiles(spark, m, 1L).toSet
    timed("(a) 3-clause conditional mergeClauses, 150k batch") {
      TxLog.mergeClauses(spark, m, cdc, Seq("k"),
        matched = Seq(
          MergeDelete(Some(sourceCol("deleted"))),
          MergeUpdate(Some(col("v") >= 0),
            Map("v" -> sourceCol("v"), "payload" -> sourceCol("payload")))),
        notMatched = Seq(
          MergeInsert(Some(!sourceCol("deleted")),
            Map("k" -> sourceCol("k"), "v" -> sourceCol("v"),
              "payload" -> sourceCol("payload")))))
      ()
    }
    println(f"    new bytes written: ${newBytes(m, beforeM) / 1e6}%.1f MB " +
      "(vs ~700 MB for a full rebuild at this scale, BENCH_NOTES.md)")
    // sanity: deletes deleted, inserts gated by the flag
    val snap = TxLog.read(spark, m)
    val nNow = snap.count()
    val expected = nRows - 25_000L + 25_000L
    println(s"    rows: $nNow (expected $expected) " +
      s"match=${nNow == expected}")

    // baseline: the unconditional star merge of the same volume
    val m2 = "/tmp/graft_condmerge_probe/star"
    TxLog.drop(spark, m2)
    TxLog.commit(table.select(col("k").cast("long").as("k"), col("v"),
      col("payload")), m2, None, Some("k"))
    val beforeM2 = TxLog.manifestFiles(spark, m2, 1L).toSet
    timed("(b) unconditional star mergeMor, same batch") {
      TxLog.mergeMor(spark, m2, cdc.drop("deleted"), Seq("k"), "k"); ()
    }
    println(f"    new bytes written: ${newBytes(m2, beforeM2) / 1e6}%.1f MB")
    spark.stop()
  }
}
