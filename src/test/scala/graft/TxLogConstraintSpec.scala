package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TxLog

/** Laws for CHECK constraints on the manifest log (Delta `ALTER TABLE
  * … ADD CONSTRAINT` analog): write-time enforcement at every write
  * surface (append, commit, exactly-once sink path, `df.write`, MOR
  * appended images), SQL NULL-passes semantics, add-time validation
  * of existing data, constraint survival across DML/maintenance, and
  * clean aborts (no orphan files, no published version). */
class TxLogConstraintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def df(rows: Seq[(Long, java.lang.Long)]) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }
  private def seed(base: String): Unit = {
    TxLog.drop(spark, base)
    TxLog.commit(df((1L to 100L).map(i => i -> java.lang.Long.valueOf(i))),
      base, None, Some("k"))
  }
  private def txnDirsOnDisk(base: String): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/data"))
      .map(_.getPath.getName).toSet
  }

  test("a violating append aborts cleanly: exception, no new version, " +
    "no orphan files; a valid append lands; NULL passes the check") {
    val base = "/tmp/graft_txcons/append"
    seed(base)
    assert(TxLog.addConstraint(spark, base, "v_pos", "v > 0") == 2L)
    assert(TxLog.latestMeta(spark, base).constraints == Map("v_pos" -> "v > 0"))
    val dirsBefore = txnDirsOnDisk(base)
    val ex = intercept[TxLog.ConstraintViolationException] {
      TxLog.append(df(Seq(200L -> java.lang.Long.valueOf(-5L))), base)
    }
    assert(ex.name == "v_pos" && ex.bad == 1L)
    assert(TxLog.latestVersion(spark, base).contains(2L),
      "a vetoed write must publish nothing")
    assert(txnDirsOnDisk(base) == dirsBefore,
      "a vetoed write must leave no orphan txn dirs")
    // NULL is SQL unknown — it PASSES a CHECK (only FALSE fails)
    TxLog.append(df(Seq(201L -> java.lang.Long.valueOf(7L),
      202L -> null.asInstanceOf[java.lang.Long])), base)
    assert(TxLog.read(spark, base).count() == 102L)
  }

  test("adding a constraint the existing table violates is rejected " +
    "with the violation count; nothing publishes") {
    val base = "/tmp/graft_txcons/addfail"
    seed(base)
    val ex = intercept[TxLog.ConstraintViolationException] {
      TxLog.addConstraint(spark, base, "v_big", "v > 50")
    }
    assert(ex.bad == 50L)
    assert(TxLog.latestVersion(spark, base).contains(1L))
    assert(TxLog.latestMeta(spark, base).constraints.isEmpty)
  }

  test("constraints survive DML and maintenance, gate MOR appended " +
    "images, and dropConstraint lifts the gate") {
    val base = "/tmp/graft_txcons/dml"
    seed(base)
    TxLog.addConstraint(spark, base, "v_pos", "v > 0")
    // survival: MOR delete, COW merge, compaction all republish it
    TxLog.deleteRangeMor(spark, base, "k", 10L, 20L)
    TxLog.mergeCow(spark, base,
      df(Seq(50L -> java.lang.Long.valueOf(500L))), Seq("k"), "k")
    TxLog.compact(spark, base, smallThresholdRows = 1000L,
      targetRows = 1000L, statsCol0 = Some("k"))
    assert(TxLog.latestMeta(spark, base).constraints == Map("v_pos" -> "v > 0"))
    // a MOR update whose images violate must abort with no new version
    val before = TxLog.latestVersion(spark, base)
    val dirsBefore = txnDirsOnDisk(base)
    intercept[TxLog.ConstraintViolationException] {
      TxLog.updateRangeMor(spark, base, "k", 30L, 40L,
        set = Map("v" -> lit(-1L)))
    }
    assert(TxLog.latestVersion(spark, base) == before)
    assert(txnDirsOnDisk(base) == dirsBefore,
      "a vetoed MOR update must leave no orphan dir — the DV sidecar " +
        "its Par.all sibling landed included")
    // drop the gate: the same update now lands
    TxLog.dropConstraint(spark, base, "v_pos")
    TxLog.updateRangeMor(spark, base, "k", 30L, 40L,
      set = Map("v" -> lit(-1L)))
    assert(TxLog.read(spark, base).where(col("v") === -1L).count() == 11L)
  }

  test("losing the CAS to a concurrent ADD CONSTRAINT re-validates " +
    "the landed batch under the winner's constraint set") {
    val base = "/tmp/graft_txcons/race"
    seed(base)
    // the batch is valid under the EMPTY set a writer would check at
    // land time, but violates the constraint a racer installs between
    // the writer's snapshot read and its publish
    val batch = df(Seq(500L -> java.lang.Long.valueOf(-9L)))
    val entries = TxLog.landEntriesRaw(batch, base, Seq("k"))
    var raced = false
    val ex = intercept[TxLog.ConstraintViolationException] {
      graft.sources.TxLogWriteCommit.publishWithRetry(spark, base, entries,
        mode = graft.sources.TxLogAppendMode, onAttempt = { attempt =>
          if (attempt == 1 && !raced) {
            raced = true
            TxLog.addConstraint(spark, base, "v_pos", "v > 0") // CAS winner
          }
        })
    }
    assert(ex.name == "v_pos")
    // nothing republished the stale batch; the constraint publish won
    assert(TxLog.latestVersion(spark, base).contains(2L))
    assert(TxLog.read(spark, base).where(col("k") === 500L).count() == 0)
  }

  test("a replayed sink epoch stays a silent no-op even when a " +
    "later-added constraint would reject its (already-committed) rows") {
    val base = "/tmp/graft_txcons/replay"
    seed(base)
    val batch = df(Seq(600L -> java.lang.Long.valueOf(-3L)))
    // epoch 7 commits while no constraint exists (raw land mimics the
    // sink: executors land, the driver commit enforces)
    val e1 = TxLog.landEntriesRaw(batch, base, Seq("k"))
    graft.sources.TxLogWriteCommit.publishEpochWithRetry(spark, base, e1,
      appId = "sinkA", epochId = 7L)
    // the violating row is later erased, so the constraint validates
    TxLog.deleteRange(spark, base, "k", 600L, 600L)
    TxLog.addConstraint(spark, base, "v_pos", "v > 0")
    val vBefore = TxLog.latestVersion(spark, base)
    // at-least-once replay of epoch 7 after a restart: re-land, retry
    val e2 = TxLog.landEntriesRaw(batch, base, Seq("k"))
    val got = graft.sources.TxLogWriteCommit.publishEpochWithRetry(spark,
      base, e2, appId = "sinkA", epochId = 7L)
    assert(got == vBefore.get && TxLog.latestVersion(spark, base) == vBefore,
      "a replayed epoch must no-op, not fail enforcement")
    assert(TxLog.read(spark, base).where(col("k") === 600L).count() == 0)
  }

  test("RESTORE brings back the target version's constraint set " +
    "alongside its data — the two stay consistent") {
    val base = "/tmp/graft_txcons/restore"
    TxLog.drop(spark, base)
    TxLog.commit(df(Seq(1L -> java.lang.Long.valueOf(-5L),
      2L -> java.lang.Long.valueOf(3L))), base, None, Some("k"))   // v1
    TxLog.deleteRange(spark, base, "k", 1L, 1L)                    // v2
    TxLog.addConstraint(spark, base, "v_pos", "v > 0")             // v3
    TxLog.restore(spark, base, 1L)                                 // v4
    // v1 had no constraints; restoring its data must restore its
    // metadata too — else the table would advertise v > 0 while
    // holding v = -5
    assert(TxLog.latestMeta(spark, base).constraints.isEmpty,
      "restore must republish the TARGET version's constraint set")
    assert(TxLog.read(spark, base).where(col("v") < 0).count() == 1)
  }

  test("a shallow clone inherits the source's constraints") {
    val src = "/tmp/graft_txcons/clone_src"
    val dst = "/tmp/graft_txcons/clone_dst"
    seed(src)
    TxLog.addConstraint(spark, src, "v_pos", "v > 0")
    TxLog.drop(spark, dst)
    TxLog.cloneShallow(spark, src, dst)
    assert(TxLog.latestMeta(spark, dst).constraints == Map("v_pos" -> "v > 0"))
    intercept[TxLog.ConstraintViolationException] {
      TxLog.append(df(Seq(700L -> java.lang.Long.valueOf(-1L))), dst)
    }
  }

  test("an older-schema batch lacking a constrained column passes: " +
    "the missing column reads NULL, and SQL CHECK passes on NULL") {
    val base = "/tmp/graft_txcons/evolve"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit((1L to 50L).map(i => (i, i, i * 10))
      .toDF("k", "v", "c2"), base, None, Some("k"))
    TxLog.addConstraint(spark, base, "c2_pos", "c2 > 0")
    // an upstream producer still on the pre-evolution schema
    TxLog.append(df(Seq(900L -> java.lang.Long.valueOf(1L))), base)
    assert(TxLog.readEvolved(spark, base).count() == 51L,
      "the old-schema batch must land (its c2 is NULL → CHECK passes)")
  }

  test("the DSv2 df.write path is gated too: a violating batch aborts " +
    "before any manifest publishes") {
    val base = "/tmp/graft_txcons/dsv2"
    seed(base)
    TxLog.addConstraint(spark, base, "v_pos", "v > 0")
    // TWO gates can fire here: since TxLogTable.constraints() surfaces
    // the set through Spark's native ANSI-constraint API, Spark's own
    // executor-side enforcement rejects the row (SparkRuntimeException,
    // CHECK_VIOLATION) before our land-time gate would — and if that
    // layer is ever bypassed (path writes, older clients), the
    // land-time ConstraintViolationException still holds the line.
    // Either way: nothing publishes.
    val ex = intercept[Exception] {
      df(Seq(300L -> java.lang.Long.valueOf(-1L)))
        .write.format("graft.sources.TxLogSource")
        .mode("append").save(base)
    }
    assert(ex.isInstanceOf[TxLog.ConstraintViolationException] ||
      ex.getMessage.contains("v_pos") ||
      Option(ex.getCause).exists(_.getMessage.contains("v_pos")),
      s"violation must surface the constraint: ${ex.getMessage}")
    assert(TxLog.latestVersion(spark, base).contains(2L))
    df(Seq(300L -> java.lang.Long.valueOf(3L)))
      .write.format("graft.sources.TxLogSource")
      .mode("append").save(base)
    assert(TxLog.read(spark, base).count() == 101L)
  }
}
