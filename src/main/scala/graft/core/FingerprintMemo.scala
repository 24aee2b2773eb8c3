package graft.core

/** Schema helpers shared by the schema memos (Tables.load,
  * VersionedTable.memoSchema).
  */
object SchemaMemoUtil {
  /** Nullable-relaxed, matching Spark's own file-source inference
    * (`StructType.asNullable` is private[sql]): a user schema is
    * trusted verbatim, and a `required` footer field fed to Catalyst
    * as nullable=false lets it constant-fold null checks that real
    * data (MoR mask null-fills, quality null-count aggregates) needs.
    */
  def relaxNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(dataType = relaxNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = relaxNullable(a.elementType),
        containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = relaxNullable(m.keyType),
        valueType = relaxNullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }
}

/** Bounded driver-side memo for metadata derived from an EXACT
  * version fingerprint (manifest versions, file mtimes): a hit can
  * only return what recomputation would — any commit moves the
  * fingerprint and misses. Shared by the always-on planner rules
  * ([[graft.plans.GraftScanStats]]'s size/row/column-stat memos,
  * `GraftScanPlanner.liveBytes`), which probe every graft relation on
  * every optimizer pass: the memo turns a per-plan metadata walk into
  * O(1) map lookups.
  *
  * Bounding evicts a QUARTER of the entries (whatever the map's
  * iteration order surfaces first — effectively an arbitrary subset)
  * instead of a wholesale clear, so overflow under a many-table
  * workload degrades smoothly rather than discarding every hot
  * planner entry at once. The compute runs OUTSIDE any map lock
  * (compute-then-putIfAbsent, first writer wins): these computes do
  * driver-side filesystem IO — seconds at object-store latency — and
  * running them under a ConcurrentHashMap bin lock would serialize
  * unrelated keys sharing a bin (one table's slow metadata walk
  * stalling another table's planning) and throw on any re-entrant
  * compute. Concurrent same-key computes may duplicate work; both
  * produce the identical fingerprint-derived value.
  */
final class FingerprintMemo[K, V <: AnyRef](cap: Int = 4096) {
  private val m = new java.util.concurrent.ConcurrentHashMap[K, V]()
  private val hitCount, missCount =
    new java.util.concurrent.atomic.LongAdder
  /** Lookups served from the memo / computed, since JVM start. */
  def hits: Long = hitCount.sum
  def misses: Long = missCount.sum
  def getOrElseUpdate(k: K)(compute: => V): V = {
    val hit = m.get(k)
    if (hit != null) { hitCount.increment(); hit }
    else {
      missCount.increment()
      val v = compute
      if (m.size > cap) {
        val it = m.keySet.iterator
        var n = cap / 4
        while (n > 0 && it.hasNext) { it.next(); it.remove(); n -= 1 }
      }
      val prev = m.putIfAbsent(k, v)
      if (prev != null) prev else v
    }
  }
}
