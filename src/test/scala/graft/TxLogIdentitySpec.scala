package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TxLog

/** Laws for IDENTITY columns on the manifest log (Delta `GENERATED
  * ALWAYS AS IDENTITY`): system-assigned, unique, increasing across
  * commits, gaps allowed; the high-water rides the manifest and
  * survives every verb; a CAS race re-assigns so two writers never
  * share an id range. */
class TxLogIdentitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def df(n: Int, tag: String) = {
    import spark.implicits._
    (1 to n).map(i => s"$tag-$i").toDF("s").repartition(4)
  }
  private def ids(base: String): Seq[Long] =
    TxLog.read(spark, base).select("id").collect().map(_.getLong(0)).toSeq

  test("ids are unique and increasing across commits; the high-water " +
    "rides the manifest and survives maintenance verbs") {
    val base = "/tmp/graft_txid/basic"
    TxLog.drop(spark, base)
    TxLog.appendIdentity(df(100, "a"), base, "id")
    val batch1 = ids(base)
    assert(batch1.distinct.size == 100 && batch1.min >= 1L)
    val water1 = TxLog.metaOf(spark, base, 1L).identity("id")
    assert(water1 == batch1.max)
    TxLog.appendIdentity(df(50, "b"), base, "id")
    val all = ids(base)
    assert(all.distinct.size == 150, "ids must stay unique across commits")
    val batch2 = all.filterNot(batch1.toSet)
    assert(batch2.min > batch1.max,
      "a later batch's ids must all exceed the earlier high-water")
    // the meta line survives unrelated verbs
    TxLog.deleteRangeMor(spark, base, "id", batch1.min, batch1.min + 9)
    TxLog.compact(spark, base, smallThresholdRows = 10_000L,
      targetRows = 10_000L, statsCol0 = Some("id"))
    val waterNow = TxLog.metaOf(spark, base,
      TxLog.latestVersion(spark, base).get).identity("id")
    assert(waterNow == all.max,
      s"identity high-water must survive MOR delete + compact: $waterNow")
    // a third append still allocates above the water mark
    TxLog.appendIdentity(df(10, "c"), base, "id")
    assert(ids(base).distinct.size == 150) // 10 masked, 10 added
    // GENERATED ALWAYS: a batch providing the column is rejected
    import spark.implicits._
    intercept[IllegalArgumentException] {
      TxLog.appendIdentity(Seq((1L, "x")).toDF("id", "s"), base, "id")
    }
  }

  test("allocation is DENSE: a successful commit consumes exactly " +
    "batch-size ids, so the id space cannot burn out") {
    val base = "/tmp/graft_txid/dense"
    TxLog.drop(spark, base)
    TxLog.appendIdentity(df(100, "a"), base, "id") // 4 partitions
    assert(TxLog.metaOf(spark, base, 1L).identity("id") == 100L,
      "100 rows must consume exactly ids 1..100")
    TxLog.appendIdentity(df(37, "b"), base, "id")
    assert(TxLog.metaOf(spark, base, 2L).identity("id") == 137L)
    assert(ids(base).sorted == (1L to 137L))
  }

  test("GENERATED ALWAYS holds on every insert path: append and the " +
    "DSv2 sink reject batches providing the identity column; a " +
    "shallow clone carries the high-water") {
    val src = "/tmp/graft_txid/guard"
    val dst = "/tmp/graft_txid/guard_clone"
    TxLog.drop(spark, src)
    TxLog.appendIdentity(df(100, "a"), src, "id")
    import spark.implicits._
    val withId = Seq((9999L, "x")).toDF("id", "s")
    intercept[IllegalArgumentException] {
      TxLog.append(withId, src)
    }
    intercept[IllegalArgumentException] {
      withId.write.format("graft.sources.TxLogSource")
        .mode("append").save(src)
    }
    // the guard is case-INSENSITIVE, matching Spark's default column
    // resolution: ROW-cased ids must not slip past a lowercase guard
    // (ids outside the high-water would collide later)
    intercept[IllegalArgumentException] {
      TxLog.append(Seq((9999L, "x")).toDF("ID", "s"), src)
    }
    intercept[IllegalArgumentException] {
      Seq((9999L, "x")).toDF("Id", "s")
        .write.format("graft.sources.TxLogSource").mode("append").save(src)
    }
    // a batch WITHOUT the column still appends fine... via the
    // identity verb (a plain append would leave id NULL in new files)
    TxLog.appendIdentity(df(5, "b"), src, "id")
    assert(ids(src).distinct.size == 105)
    // the clone inherits the high-water: its next identity append
    // starts ABOVE the cloned-in ids
    TxLog.drop(spark, dst)
    TxLog.cloneShallow(spark, src, dst)
    TxLog.appendIdentity(df(10, "c"), dst, "id")
    val cloneIds = ids(dst)
    assert(cloneIds.distinct.size == 115,
      s"clone identity must not collide: ${cloneIds.size} rows, " +
        s"${cloneIds.distinct.size} distinct")
  }

  test("merges run GENERATED BY DEFAULT: explicit ids in a CDC source " +
    "advance the high-water, so later appends never re-issue them") {
    val base = "/tmp/graft_txid/merge"
    TxLog.drop(spark, base)
    TxLog.appendIdentity(df(100, "a"), base, "id") // water 100
    import spark.implicits._
    // a CDC batch keyed BY the identity column: one update of an
    // existing id, one not-matched insert far above the water
    val source = Seq((50L, "updated"), (500L, "migrated"))
      .toDF("id", "s")
    TxLog.mergeMor(spark, base, source, Seq("id"), "id")
    val water = TxLog.metaOf(spark, base,
      TxLog.latestVersion(spark, base).get).identity("id")
    assert(water == 500L,
      s"the high-water must advance past the source's ids: $water")
    TxLog.appendIdentity(df(10, "b"), base, "id")
    val all = ids(base)
    assert(all.distinct.size == all.size && all.max == 510L,
      s"post-merge appends must allocate above 500: max ${all.max}")
  }

  test("a CAS loss to a concurrent identity append re-assigns from " +
    "the winner's high-water — no shared id ranges") {
    val base = "/tmp/graft_txid/race"
    TxLog.drop(spark, base)
    TxLog.appendIdentity(df(100, "seed"), base, "id")
    var raced = false
    TxLog.appendIdentity(df(100, "loser"), base, "id", onAttempt = { a =>
      if (a == 1 && !raced) {
        raced = true
        // the racer wins the CAS and consumes ids from the same water
        TxLog.appendIdentity(df(100, "winner"), base, "id")
      }
    })
    val all = ids(base)
    assert(all.size == 300 && all.distinct.size == 300,
      s"racing identity appends must never share ids: " +
        s"${all.size} rows, ${all.distinct.size} distinct")
  }
}
