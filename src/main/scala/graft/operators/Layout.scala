package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType

/** Scale-safe fixture layout helpers. */
object Layout {

  /** Exactly `ntile(n) OVER (ORDER BY orderCols)` — same tile ids,
    * same quotas (the first N mod n tiles take one extra row) —
    * WITHOUT the global window's single-partition sort: a
    * `Window.orderBy` with no partitioning serializes the whole
    * input onto one task (`WindowExec: No Partition Defined`), which
    * at 100 TB is a one-reducer job. Here the input is
    * range-partitioned on the order key and sorted within
    * partitions, so every task holds a contiguous rank range; a
    * per-partition count pass (driver-side, |partitions|-bounded)
    * gives each task its global rank offset, and the tile id is
    * closed-form from the rank (ntile's quotas are deterministic
    * functions of N and n).
    *
    * The frame is localCheckpoint'ed so the count pass and the tile
    * pass read the SAME materialized partitioning (repartitionByRange
    * re-samples boundaries per execution otherwise). Boundaries
    * themselves cannot affect the result: with a total order (unique
    * composite key — same requirement the window form has for
    * deterministic output) the global rank, and hence the tile, is
    * partitioning-independent.
    */
  def globalNtile(df: DataFrame, n: Int, orderCols: Seq[String],
                  tileCol: String): DataFrame = {
    require(n > 0, s"ntile over $n tiles")
    val spark = df.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    val ranged = df
      .repartitionByRange(parts, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .localCheckpoint()
    val counts = ranged.rdd
      .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size.toLong)))
      .collect().toMap
    val nParts = ranged.rdd.getNumPartitions
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L)).toArray
    val total = offsets.last
    val q = total / n
    val r = total % n
    val bcOff = spark.sparkContext.broadcast(offsets)
    val out = df.schema.add(tileCol, IntegerType, nullable = false)
    val rdd = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var i = bcOff.value(pid)
      it.map { row =>
        val tile =
          if (q == 0L || i < r * (q + 1)) i / (q + 1) + 1
          else r + (i - r * (q + 1)) / q + 1
        i += 1
        Row.fromSeq(row.toSeq :+ tile.toInt)
      }
    }
    spark.createDataFrame(rdd, out)
  }

  /** [[globalNtile]] over order EXPRESSIONS (ascending, like a plain
    * `Window.orderBy(layout)`): each expression is materialized as a
    * hidden key column, the tiles are assigned, and only the `keep`
    * columns plus `tileCol` come back — the checkpointed frame holds
    * just what the caller reads.
    */
  def ntileBy(df: DataFrame, layout: Seq[Column], n: Int,
              keep: Seq[String], tileCol: String): DataFrame = {
    val keys = layout.indices.map(i => s"__ntile_key_$i")
    val keyed = df.select(keep.map(col) ++
      layout.zip(keys).map { case (c, k) => c.as(k) }: _*)
    globalNtile(keyed, n, keys, tileCol).drop(keys: _*)
  }
}
