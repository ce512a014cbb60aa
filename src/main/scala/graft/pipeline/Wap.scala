package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Expectations
import graft.sources.Snapshots

/** Write-Audit-Publish — the lakehouse admission pattern (Iceberg WAP /
  * Delta Live Tables expectations): a candidate batch is STAGED and
  * AUDITED against declarative rules before any reader can see it, and
  * only a passing state is PUBLISHED as a new [[Snapshots]] version.
  * Readers pin versions, so a refused batch is not merely rolled back —
  * it never existed in the read path.
  *
  * Two enforcement modes, mirroring `expect_or_fail` / `expect_or_drop`:
  *  - [[publishOrRefuse]]: ANY violation refuses the whole batch (the
  *    atomic-ingest contract for financial/ledger tables);
  *  - [[publishDropping]]: clean rows publish, violating rows return as
  *    a quarantine frame tagged with their failed rule names (the
  *    high-volume telemetry contract).
  *
  * At 100 TB the audit is one map-side-combinable scan of the BATCH
  * (never the table), the publish is [[Snapshots]]' overwrite-free
  * version dir + commit marker, and the only driver state is the
  * violation count. The served history keeps every refused batch OUT of
  * `DESCRIBE HISTORY` — versions are facts, not attempts.
  */
object Wap {

  final case class Outcome(published: Option[Long], violations: Long)

  /** All-or-nothing admission: audit `batch`, and publish
    * `current ∪ batch` as a new version ONLY on zero violations.
    */
  def publishOrRefuse(spark: SparkSession, path: String, batch0: DataFrame,
      rules: Seq[Expectations.Rule]): Outcome = {
    val batch = graft.CacheScope.cache(batch0)
    val (_, bad) = Expectations.quarantine(batch, rules)
    val nBad = bad.count()
    if (nBad == 0L) Outcome(Some(publish(spark, path, batch)), 0L)
    else Outcome(None, nBad)
  }

  /** Drop-mode admission: clean rows publish as a new version, violating
    * rows come back tagged with `failed_expectations` for the caller's
    * quarantine sink. @return (new version, quarantined rows)
    */
  def publishDropping(spark: SparkSession, path: String, batch0: DataFrame,
      rules: Seq[Expectations.Rule]): (Long, DataFrame) = {
    val batch = graft.CacheScope.cache(batch0)
    val (good, bad) = Expectations.quarantine(batch, rules)
    (publish(spark, path, good), bad)
  }

  private def publish(spark: SparkSession, path: String,
      rows: DataFrame): Long = {
    val next = Snapshots.latestVersion(spark, path) match {
      case Some(_) => Snapshots.read(spark, path).unionByName(rows)
      case None => rows
    }
    Snapshots.write(next, path)
  }
}
