package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TxLog

/** The transaction contract every TxLog writer runs on ([[TxLog.txn]]):
  * the retry rule for stale reads, cleanup of staged dirs when nothing
  * publishes, and that a published version survives a fatal error
  * thrown after its CAS won. Re-base and conflict recompute are pinned
  * by TxLogOccSpec; verb-level orphan checks by TxLogSpec and
  * TxLogConstraintSpec. */
class TxnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def df(keys: Range) = {
    import spark.implicits._
    keys.map(i => (i, s"v-$i")).toDF("k", "s")
  }
  private def dataDirs(base: String): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/data"))
      .map(_.getPath.getName).toSet
  }

  test("txn treats a raw FileNotFoundException as a stale-snapshot " +
    "conflict: retried while attempts remain, surfaced as a " +
    "CommitConflictException — never a raw FNFE — on the last one") {
    // a vacuum racing a writer deletes manifests the writer's snapshot
    // resolution is replaying; the conversion lives in the retry loop
    // so EVERY verb (append, merge, transact, appendOnce...) gets the
    // re-read-the-winner's-world behavior
    val base = "/tmp/graft_txn/stale"
    var calls = 0
    val got = TxLog.txn(spark, base, maxAttempts = 5) { _ =>
      calls += 1
      if (calls < 3) throw new java.io.FileNotFoundException("manifest gone")
      42
    }
    assert(got == 42 && calls == 3)
    val ex = intercept[TxLog.CommitConflictException] {
      TxLog.txn(spark, base, maxAttempts = 2) { _ =>
        throw new java.io.FileNotFoundException("manifest gone")
      }
    }
    assert(ex.getMessage.contains("vacuum"))
    assert(ex.getCause.isInstanceOf[java.io.FileNotFoundException])
  }

  test("a body that stages files and then fails with a non-conflict " +
    "exception leaves no staged dir and publishes nothing") {
    val base = "/tmp/graft_txn/refused"
    TxLog.drop(spark, base)
    TxLog.commit(df(1 to 10), base, None)
    val before = dataDirs(base)
    intercept[IllegalArgumentException] {
      TxLog.txn(spark, base) { t =>
        TxLog.landEntriesMulti(t, df(11 to 20), Seq("k"))
        require(false, "refused after landing")
      }
    }
    assert(dataDirs(base) == before, "the staged land must be deleted")
    assert(TxLog.latestVersion(spark, base).contains(1L))
  }

  test("a body that publishes and then throws InterruptedException " +
    "keeps every file the new version references: it reads back whole") {
    val base = "/tmp/graft_txn/interrupted"
    TxLog.drop(spark, base)
    TxLog.commit(df(1 to 10), base, None)
    intercept[InterruptedException] {
      TxLog.txn(spark, base) { t =>
        t.publish(t.entries ++ TxLog.landEntriesMulti(t, df(11 to 20),
          Seq("k")))
        throw new InterruptedException("after the CAS won")
      }
    }
    assert(TxLog.latestVersion(spark, base).contains(2L))
    assert(TxLog.read(spark, base).count() == 20L)
  }
}
