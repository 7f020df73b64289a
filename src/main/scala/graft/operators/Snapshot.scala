package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import TxLog.Entry

/** One published version of the table at `base`, as a read sees it —
  * Delta's `Snapshot`. `version` is fixed when the value is made
  * ([[TxLog.snapshot]] resolves the latest version there, once; None =
  * an empty store), and everything a read or a write attempt needs is
  * derived from it alone: the entries, the idempotency txns, the
  * metadata and the logical↔physical column mapping. Published
  * versions are immutable (a commit never rewrites a manifest, and a
  * vacuumed one fails with FileNotFound rather than changing), so the
  * lazy fields stay valid for the life of the value, however many
  * commits land meanwhile: a read planned on a snapshot serves that
  * version's rows under that version's names. A [[Txn]] attempt holds
  * one (`Txn.snapshot`) and builds on it. */
final case class Snapshot(spark: SparkSession, base: String,
                          version: Option[Long]) {
  import TxLog._

  /** [[version]] of a table that must exist. */
  def cur: Long = version.getOrElse(throw noVersion(base))

  lazy val entries: Seq[Entry] =
    version.map(snapshotEntries(spark, base, _)).getOrElse(Seq.empty)
  lazy val txns: Map[String, Long] =
    version.map(txnsOf(spark, base, _)).getOrElse(Map.empty)
  lazy val meta: TableMeta =
    version.map(metaOf(spark, base, _)).getOrElse(TableMeta.empty)

  /** One user-facing column name, translated to its physical name
    * (identity without a mapping). */
  def physical(column: String): String =
    meta.colMap.map(_.physical(column)).getOrElse(column)

  /** A physical-named frame (a raw file read) projected onto this
    * version's logical names ([[toLogicalDf]]). Identity when the
    * table has no mapping. */
  def logical(df: DataFrame): DataFrame = logical(df, Nil)

  /** [[logical]], with the `keep` columns (CDF tags, DV coordinates)
    * passed through verbatim. */
  def logical(df: DataFrame, keep: Seq[String]): DataFrame =
    meta.colMap match {
      case Some(cm) => toLogicalDf(df, cm, meta.schema, keep)
      case None => df
    }

  /** A user frame renamed to physical names for landing
    * ([[toPhysicalDf]]); identity without a mapping, so unmapped tables
    * keep their exact plans. */
  def toPhysical(df: DataFrame): DataFrame = meta.colMap match {
    case Some(cm) => toPhysicalDf(df, cm)
    case None => df
  }
}
