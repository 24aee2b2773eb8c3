package graft

import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
import graft.sources.GraftScanAudit.Decision

/** Filter shapes and count views for the specs that drive
  * `VersionedTable.pruneDecision` / `readLivePruned`.
  */
object PruneFilters {
  /** `c BETWEEN lo AND hi` as pushdown filters. */
  def between(c: String, lo: Any, hi: Any): Seq[Filter] =
    Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

  /** (files scanned, files total). */
  def files(d: Decision): (Int, Int) = (d.filesScanned, d.filesTotal)

  /** (partitions scanned, partitions total, files scanned, files in
    * the scanned partitions).
    */
  def twoLevel(d: Decision): (Int, Int, Int, Int) =
    (d.partitionsScanned, d.partitionsTotal, d.filesScanned, d.filesTotal)
}
