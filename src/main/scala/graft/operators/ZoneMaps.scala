package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** File-level zone maps (min/max column statistics per physical file)
  * plus the pruning decision a scan planner makes with them — the
  * mechanism behind parquet row-group skipping, Delta/Iceberg file
  * stats, and every "reads 1% of files" claim about z-ordered layout.
  *
  * `statsAndPrune` simulates the physical layout with `ntile(files)`
  * over the provided layout ordering (exactly how a range-partitioned
  * writer assigns rows to files; computed by [[Layout.ntileBy]], not a
  * one-reducer global window), computes each file's zone map over
  * the predicate columns in one aggregate pass, and evaluates
  * range-overlap pruning for a conjunctive interval predicate:
  * a file can be skipped iff ANY predicate interval misses the file's
  * [min,max] — sound (never skips a matching row), and exact on the
  * zone-map level so the whole decision table is oracle-replayable.
  *
  * Scale: stats are one groupBy over (file, 2×k extrema) — at real
  * scale this is parquet footer metadata read for free; the point the
  * operator proves is the LAYOUT: clustered (z-ordered) layouts
  * produce tight zone maps that prune, random layouts produce
  * full-range maps that don't (q116 pairs it with
  * [[ZOrder.interleave]] and the spec contrasts both layouts).
  */
object ZoneMaps {

  /** @param df       input rows
    * @param layout   ordering columns that define file assignment
    * @param files    number of equal-size files (ntile)
    * @param ranges   (column, lo, hi) inclusive predicate intervals
    */
  def statsAndPrune(df: DataFrame, layout: Seq[Column], files: Int,
                    ranges: Seq[(String, Long, Long)]): DataFrame = {
    val assigned = Layout.ntileBy(df, layout, files,
      keep = ranges.map(_._1).distinct, tileCol = "file_id")
    val stats = ranges.flatMap { case (c, _, _) =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    }
    val aggs = count(lit(1)).as("n_rows") +: stats
    val zone = assigned.groupBy("file_id")
      .agg(aggs.head, aggs.tail: _*)
    val overlaps = ranges.map { case (c, lo, hi) =>
      col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)
    }
    zone.withColumn("would_scan", overlaps.reduce(_ && _))
  }
}
