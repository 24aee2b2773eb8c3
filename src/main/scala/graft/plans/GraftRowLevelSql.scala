package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlShims
import graft.sinks.VersionedTable
import graft.sources.GraftTable

/** SQL `UPDATE` / `MERGE INTO` / `DELETE`-with-subquery for graft
  * tables — the Delta-shaped extension path: the stock analyzer fully
  * resolves the command (assignments aligned, star clauses expanded,
  * subqueries planned), then this post-hoc rule swaps the resolved
  * node for a runnable command that executes the copy-on-write
  * rewrite through the versioned-commit protocol.
  *
  * Why a plan rewrite and not Spark's `SupportsRowLevelOperations`:
  * the group-based framework requires a native `Batch` scan (the
  * rewrite planner builds its own `DataSourceV2ScanRelation`, which
  * never wraps a `V1Scan`), i.e. a bespoke executor-side parquet
  * reader plus per-task delete-file application — redundant machinery
  * when the observable-snapshot READ already exists as a plan. The
  * command path reuses that read: condition and assignment
  * expressions stay exprId-bound to the original relation, the new
  * table content is computed as `Filter`/`Project`/`Join` plans over
  * it, and the commit pins + CAS-checks the (manifest, pos-delete)
  * versions it read. Delta shipped UPDATE/MERGE this exact way for
  * years before the DSv2 row-level API existed.
  *
  * Semantics:
  *   - UPDATE: matching rows take their assignments (all evaluated
  *     against the PRE-update row), NULL-condition rows are kept
  *     unchanged; flat tables rewrite the live snapshot, partitioned
  *     tables rewrite ONLY the partitions holding matching rows (plus
  *     destination partitions when an assignment moves a row's
  *     partition value).
  *   - DELETE: the rule takes over only when the predicate is beyond
  *     the V1-translatable surface (subqueries, arithmetic) — simple
  *     predicates keep the existing zero-rewrite merge-on-read
  *     position-delete fast path.
  *   - MERGE: full clause set — WHEN MATCHED [AND cond] THEN
  *     UPDATE/DELETE, WHEN NOT MATCHED [AND cond] THEN INSERT, WHEN
  *     NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE; first
  *     applicable clause wins; a target row matched by MORE than one
  *     source row with an applicable clause raises the standard
  *     cardinality violation. Partitioned tables rewrite only the
  *     touched partitions.
  *
  * Wiring: `graft.functions.GraftExtensions` (everything) or
  * `graft.plans.GraftSqlExtensions` (just this rule) via
  * `spark.sql.extensions`.
  */
case class GraftSqlRules(spark: SparkSession) extends Rule[LogicalPlan] {

  private def graftTarget(plan: LogicalPlan): Option[GraftTable] =
    plan match {
      case SubqueryAlias(_, child) => graftTarget(child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable => Some(t)
        case _ => None
      }
      case _ => None
    }

  /** Is this condition inside the V1 Filter surface the DELETE fast
    * path (merge-on-read position deletes) can translate? Mirrors
    * [[graft.sources.GraftFilterColumns]] — conservative: false routes
    * to the row-level rewrite, which is always correct, just heavier.
    */
  private def v1Translatable(e: Expression): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      v1Translatable(l) && v1Translatable(r)
    case org.apache.spark.sql.catalyst.expressions.Or(l, r) =>
      v1Translatable(l) && v1Translatable(r)
    case org.apache.spark.sql.catalyst.expressions.Not(c) =>
      v1Translatable(c)
    // foldable, not Literal: at analysis time a SQL literal often
    // still wears its implicit cast (id >= CAST(8 AS BIGINT)) — the
    // optimizer folds it before the V1 path translates, so the fast
    // path handles it
    case b: org.apache.spark.sql.catalyst.expressions.BinaryComparison =>
      (b.left, b.right) match {
        case (_: AttributeReference, r) => r.foldable
        case (l, _: AttributeReference) => l.foldable
        case _ => false
      }
    case org.apache.spark.sql.catalyst.expressions.In(
        _: AttributeReference, vs) => vs.forall(_.foldable)
    case org.apache.spark.sql.catalyst.expressions.InSet(
        _: AttributeReference, _) => true
    case org.apache.spark.sql.catalyst.expressions.IsNull(
        _: AttributeReference) => true
    case org.apache.spark.sql.catalyst.expressions.IsNotNull(
        _: AttributeReference) => true
    case org.apache.spark.sql.catalyst.expressions.StartsWith(
        _: AttributeReference, _: Literal) => true
    case org.apache.spark.sql.catalyst.expressions.EndsWith(
        _: AttributeReference, _: Literal) => true
    case org.apache.spark.sql.catalyst.expressions.Contains(
        _: AttributeReference, _: Literal) => true
    case _: Literal => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && graftTarget(target).isDefined =>
      GraftUpdateCommand(target, graftTarget(target).get, assignments,
        condition)
    case d @ DeleteFromTable(target, condition)
        if d.resolved && graftTarget(target).isDefined &&
          !v1Translatable(condition) =>
      GraftDeleteCommand(target, graftTarget(target).get, condition)
    case m: MergeIntoTable
        if m.resolved && graftTarget(m.targetTable).isDefined =>
      require(!m.withSchemaEvolution,
        "MERGE ... WITH SCHEMA EVOLUTION is not supported on graft " +
          "tables — evolve via upsert(schemaMode=sync) first")
      GraftMergeCommand(m.targetTable,
        graftTarget(m.targetTable).get, m.sourceTable,
        m.mergeCondition, m.matchedActions, m.notMatchedActions,
        m.notMatchedBySourceActions)
    case _ => plan
  }
}

/** Just the row-level SQL rule — what test/embedding sessions wire
  * when they don't want the full [[graft.functions.GraftExtensions]]
  * surface (function registry + stats-broadcast optimizer rule).
  */
class GraftSqlExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(GraftSqlRules(_))
    // persisted views (stock 4.1 has the ViewCatalog API but no DDL
    // execs and no SELECT resolution — the Iceberg extension seam)
    ext.injectHintResolutionRule(GraftViewSubstitution(_))
    ext.injectHintResolutionRule(GraftViewDdl(_))
  }
}

private[plans] object GraftRowLevelExec {

  /** Statement-level optimistic retry: the new content is a PLAN
    * over the live snapshot, so re-running the whole statement
    * against the moved table is the correct (and deterministic-
    * input-safe) conflict answer — the same contract the library
    * upsert gives. Delegates to the versioned store's full protocol
    * (randomized backoff, merge-lock escalation, retention-race FNF
    * classified as a conflict), so a storm of concurrent DML settles
    * exactly like a storm of library upserts.
    */
  def withCowRetries[T](root: String)(body: => T): T =
    // escalate=false: a MERGE into a never-committed target calls
    // append() inside the body, whose own retry loop would spin its
    // full timeout against OUR held merge lock (non-reentrant);
    // backoff-only with a deeper budget settles storms instead
    VersionedTable.withWriteRetries(root, maxRetries = 20,
      escalate = false)(body)

  def guardLiveTarget(table: GraftTable, what: String): Unit = {
    val o = table.opts
    require(o.versionAsOf.isEmpty && o.changes.isEmpty &&
      o.metadata.isEmpty,
      s"$what on a time-travel/change-feed/metadata read is not a " +
        "thing — address the live table")
  }

  def attrName(key: Expression, what: String): String = key match {
    case a: AttributeReference => a.name
    case other => throw new UnsupportedOperationException(
      s"$what assigns to a nested field ($other) — graft table " +
        "schemas are flat; assign the whole column")
  }

  /** `cond` as a tri-state Column, and its definite-match projection
    * (NULL counts as no-match, the SQL rule for UPDATE/DELETE/MERGE).
    */
  def matchCol(cond: Option[Expression]): Column =
    coalesce(cond.map(SqlShims.column).getOrElse(lit(true)), lit(false))

  /** The PUSHABLE match predicate: `Filter` already treats NULL as
    * no-match, so the matched side uses the raw condition — wrapping
    * it in coalesce() would make every conjunct untranslatable and
    * the statement's own predicate would stop pruning the scan. The
    * KEPT side genuinely needs the coalesce (NULL rows are kept).
    */
  def rawCond(cond: Option[Expression]): Column =
    cond.map(SqlShims.column).getOrElse(lit(true))

  def requireDeterministic(e: Expression, what: String): Unit =
    require(e.deterministic,
      s"$what must be deterministic — the statement evaluates it in " +
        "more than one Spark job (matched/kept/no-op probes), and a " +
        "value that changes between evaluations (rand(), shuffle-" +
        "order-dependent exprs) would silently drop or duplicate rows")

  def hasSubquery(e: Expression): Boolean =
    org.apache.spark.sql.catalyst.expressions.SubqueryExpression
      .hasSubquery(e)

  private val MatchFlag = "__graft_match_flag"

  /** (matched, kept, cleanup): single-evaluation split of `df` by the
    * statement condition. Subquery-free conditions keep the plain
    * double-filter (each side pushes into the scan — two PRUNED scans
    * beat one full-table materialization at any scale). A condition
    * WITH a subquery is deterministic per-snapshot but not per-job: a
    * concurrent commit to the subquery's table between the matched
    * and kept jobs would put rows in neither/both branches — so the
    * match flag is materialized ONCE (localCheckpoint; the subquery
    * made pushdown impossible anyway, so the full scan was already
    * being paid) and both branches derive from it. Callers must run
    * `cleanup` after the final write job.
    */
  def splitMatched(df: DataFrame, cond: Option[Expression])
      : (DataFrame, DataFrame, () => Unit) = {
    cond.foreach(c => requireDeterministic(c, "the statement condition"))
    if (!cond.exists(hasSubquery))
      (df.filter(rawCond(cond)), df.filter(!matchCol(cond)), () => ())
    else {
      val flagged = df.withColumn(MatchFlag, matchCol(cond))
        .localCheckpoint()
      (flagged.filter(col(MatchFlag)).drop(MatchFlag),
        flagged.filter(!col(MatchFlag)).drop(MatchFlag),
        () => SqlShims.unpersistCheckpointed(flagged))
    }
  }

  /** The CAS tokens of a COW statement: the snapshot view it rewrites
    * and both delete-set versions.
    */
  final case class Pin(view: VersionedTable.PartitionedManifest,
                       pos: Long, eq: Long)

  /** Take the statement's [[Pin]] — BEFORE its first materialization
    * (a subquery match flag, MERGE's joined checkpoint): a commit that
    * lands after the pin fails the rewrite's CAS and the statement
    * re-runs, one that lands before is in what it reads. A pin taken
    * after a materialization would pass commits the materialized rows
    * never saw, and the rewrite would drop them. None = declared,
    * never committed.
    */
  def pin(root: String): Option[Pin] =
    VersionedTable.snapshotView(root).map(v =>
      Pin(v, VersionedTable.posDeleteVersion(root),
        VersionedTable.eqDeleteVersion(root)))

  /** One pass of UPDATE: build (kept, transformed) from the resolved
    * relation plan, commit COW. Returns true when a commit happened
    * (false = no matching rows, no-op).
    */
  def runUpdate(spark: SparkSession, target: LogicalPlan,
                table: GraftTable, assignments: Seq[Assignment],
                condition: Option[Expression]): Boolean = {
    guardLiveTarget(table, "UPDATE")
    val root = table.opts.root
    val df = SqlShims.ofRows(spark, target)
    val assignMap: Map[String, Column] = assignments.map { a =>
      val name = attrName(a.key, "UPDATE SET")
      requireDeterministic(a.value, s"UPDATE SET $name")
      require(!hasSubquery(a.value),
        s"UPDATE SET $name: subqueries in assignment values are not " +
          "supported — they would re-evaluate per job; compute the " +
          "value via MERGE INTO with a source query instead")
      val field = df.schema.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"UPDATE SET $name: no such column in $root"))
      name -> SqlShims.column(a.value).cast(field.dataType)
    }.toMap
    GraftMorExec.tryUpdate(spark, target, table, assignments,
        condition).foreach(return _)
    val outCols = df.schema.fieldNames.toSeq.map(c =>
      assignMap.getOrElse(c, col(c)).as(c))
    val p = pin(root).getOrElse(
      return false) // declared, never committed: nothing matches
    val (matched, kept, cleanup) = splitMatched(df, condition)
    val transformed = matched.select(outCols: _*)

    try {
      val pc = p.view.partitionColumns
      if (pc.nonEmpty) {
        // touched = source partitions of matching rows + destination
        // partitions of their post-images (an assignment may move a
        // row across partitions)
        val affected = matched.select(pc.map(matched(_)): _*)
          .unionByName(transformed.select(pc.map(col): _*))
        VersionedTable.touchedCover(spark, p.view, affected) match {
          case None => false
          case Some((touchedPred, covered)) =>
            val replacement =
              kept.filter(touchedPred).unionByName(transformed)
            VersionedTable.rewritePartitionsCovered(spark, root,
              replacement, covered, p.view.version, p.pos, p.eq)
            true
        }
      } else {
        if (matched.limit(1).isEmpty) return false
        VersionedTable.rewriteLive(spark, root,
          kept.unionByName(transformed), p.view.version, p.pos, p.eq)
        true
      }
    } finally cleanup()
  }

  def runDelete(spark: SparkSession, target: LogicalPlan,
                table: GraftTable, condition: Expression): Boolean = {
    guardLiveTarget(table, "DELETE")
    val root = table.opts.root
    requireDeterministic(condition, "the statement condition")
    GraftMorExec.tryDelete(spark, target, table, condition)
      .foreach(return _)
    val df = SqlShims.ofRows(spark, target)
    val p = pin(root).getOrElse(return false)
    val (matched, kept, cleanup) = splitMatched(df, Some(condition))
    try {
      val pc = p.view.partitionColumns
      if (pc.nonEmpty) {
        val affected = matched.select(pc.map(matched(_)): _*)
        VersionedTable.touchedCover(spark, p.view, affected) match {
          case None => false
          case Some((touchedPred, covered)) =>
            VersionedTable.rewritePartitionsCovered(spark, root,
              kept.filter(touchedPred), covered, p.view.version, p.pos,
              p.eq)
            true
        }
      } else {
        if (matched.limit(1).isEmpty) return false
        VersionedTable.rewriteLive(spark, root, kept, p.view.version,
          p.pos, p.eq)
        true
      }
    } finally cleanup()
  }

  // ---- MERGE ---------------------------------------------------------

  private[plans] val Tid = "__graft_merge_tid"
  private[plans] val TPresent = "__graft_merge_tp"
  private[plans] val SPresent = "__graft_merge_sp"
  private[plans] val ActM = "__graft_merge_act_m"
  private[plans] val ActB = "__graft_merge_act_b"
  private[plans] val ActI = "__graft_merge_act_i"

  /** Index of the first action whose condition definitely holds;
    * -1 = no clause applies (keep the row / drop the insert).
    * `bind` turns an action expression into a Column — identity
    * (SqlShims.column) for the COW path whose frame IS the resolved
    * plan; name-rebinding for the MoR path's fresh addressed frame.
    */
  private[plans] def firstApplicable(actions: Seq[MergeAction],
      bind: Expression => Column = SqlShims.column): Column =
    actions.zipWithIndex.foldRight(lit(-1): Column) {
      case ((a, i), acc) =>
        when(coalesce(a.condition.map(bind).getOrElse(lit(true)),
          lit(false)), lit(i)).otherwise(acc)
    }

  private[plans] def deleteIndices(actions: Seq[MergeAction]): Seq[Int] =
    actions.zipWithIndex.collect {
      case (_: DeleteAction, i) => i
    }

  /** The output value of column `name` under the branch taken by the
    * action column: UPDATE actions project their assignment (cast to
    * the column type), anything else keeps `orig`.
    */
  private[plans] def branched(actions: Seq[MergeAction], act: Column,
                       name: String,
                       dt: org.apache.spark.sql.types.DataType,
                       orig: Column,
                       bind: Expression => Column = SqlShims.column)
      : Column =
    actions.zipWithIndex.foldRight(orig) {
      case ((u: UpdateAction, i), acc) =>
        u.assignments.find(a =>
            attrName(a.key, "MERGE UPDATE SET") == name) match {
          case Some(a) =>
            when(act === lit(i), bind(a.value).cast(dt))
              .otherwise(acc)
          case None => acc
        }
      case (_, acc) => acc
    }

  private[plans] def insertProjection(actions: Seq[MergeAction],
      act: Column,
      schema: org.apache.spark.sql.types.StructType,
      bind: Expression => Column = SqlShims.column): Seq[Column] =
    schema.fields.toSeq.map { f =>
      val c = actions.zipWithIndex.foldRight(
          lit(null).cast(f.dataType)) {
        case ((ins: InsertAction, i), acc) =>
          ins.assignments.find(a =>
              attrName(a.key, "MERGE INSERT") == f.name) match {
            case Some(a) =>
              when(act === lit(i), bind(a.value)
                .cast(f.dataType)).otherwise(acc)
            case None => acc
          }
        case ((other, _), _) => throw new UnsupportedOperationException(
          s"unsupported WHEN NOT MATCHED action: $other")
      }
      c.as(f.name)
    }

  def runMerge(spark: SparkSession, target: LogicalPlan,
               table: GraftTable, source: LogicalPlan,
               mergeCondition: Expression,
               matchedActions: Seq[MergeAction],
               notMatchedActions: Seq[MergeAction],
               notMatchedBySourceActions: Seq[MergeAction]): Boolean = {
    guardLiveTarget(table, "MERGE INTO")
    val root = table.opts.root
    (matchedActions ++ notMatchedBySourceActions).foreach {
      case _: UpdateAction | _: DeleteAction => ()
      case other => throw new UnsupportedOperationException(
        s"unsupported matched/by-source MERGE action: $other " +
          "(star actions should have been expanded by the analyzer)")
    }
    // The joined frame is checkpointed, so the ON condition evaluates
    // exactly once — but clause conditions and assignment values run
    // in SEVERAL jobs over the checkpoint (cardinality check, no-op
    // probes, touched-cover, write): nondeterminism or an embedded
    // subquery (re-scanned per job against a possibly-moved table)
    // would make those jobs disagree on which rows changed.
    (matchedActions ++ notMatchedActions ++ notMatchedBySourceActions)
      .foreach { a =>
        a.condition.foreach { c =>
          requireDeterministic(c, "a MERGE clause condition")
          require(!hasSubquery(c),
            "subqueries in MERGE clause conditions are not supported " +
              "— fold the predicate into the source query")
        }
        val assigns = a match {
          case u: UpdateAction => u.assignments
          case i: InsertAction => i.assignments
          case _ => Seq.empty
        }
        assigns.foreach { as =>
          requireDeterministic(as.value, "a MERGE assignment value")
          require(!hasSubquery(as.value),
            "subqueries in MERGE assignment values are not supported " +
              "— compute them in the source query")
        }
      }
    GraftMorExec.tryMerge(spark, target, table, source, mergeCondition,
      matchedActions, notMatchedActions, notMatchedBySourceActions)
      .foreach(return _)
    val tdf0 = SqlShims.ofRows(spark, target)
    val sdf0 = SqlShims.ofRows(spark, source)
    Seq(Tid, TPresent, SPresent, ActM, ActB, ActI).foreach { r =>
      require(!tdf0.columns.contains(r) && !sdf0.columns.contains(r),
        s"column name $r is reserved by MERGE execution")
    }
    val tSchema = tdf0.schema
    // target columns MUST be addressed by attribute, never by name:
    // after the join both sides are in scope and the source usually
    // shares the names (AMBIGUOUS_REFERENCE otherwise)
    val tAttr: Map[String, Attribute] =
      target.output.map(a => a.name -> (a: Attribute)).toMap
    def tcol(name: String): Column = SqlShims.column(tAttr(name))

    val tdf = tdf0.withColumn(TPresent, lit(true))
      .withColumn(Tid, monotonically_increasing_id())
    val sdf = sdf0.withColumn(SPresent, lit(true))
    val p = pin(root)
    // localCheckpoint, NOT persist: the joined frame (and the
    // monotonically_increasing_id tids inside it) is consumed by
    // SEVERAL jobs — cardinality check, no-op probes, touched-cover
    // collect, and the final write. A persisted partition lost to an
    // executor death would silently RECOMPUTE with different tids and
    // possibly different join pairings (non-deterministic sources),
    // letting the checked row set diverge from the committed one;
    // a checkpointed block lost fails the statement loudly instead
    // (the Delta source-materialization rationale).
    val joined = tdf.join(sdf, SqlShims.column(mergeCondition),
      "full_outer").localCheckpoint()
    try {
      val tp = col(TPresent) === lit(true)
      val sp = col(SPresent) === lit(true)

      // ---- matched target rows -------------------------------------
      val matchedRows = joined.filter(tp && sp)
        .withColumn(ActM, firstApplicable(matchedActions))
      if (matchedActions.nonEmpty) {
        // SQL cardinality rule: >1 source rows may not act on one
        // target row (nondeterministic update/delete)
        val dup = matchedRows.filter(col(ActM) >= 0)
          .groupBy(col(Tid)).count().filter(col("count") > 1)
          .limit(1).count()
        require(dup == 0L,
          s"MERGE INTO $root: a target row matches more than one " +
            "source row with an applicable WHEN MATCHED clause — " +
            "the standard cardinality violation; de-duplicate the " +
            "source or tighten the ON/clause conditions")
      }
      // one output row per target row: the applicable-action row if
      // any (≤1 by the check above), else one arbitrary copy
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(Tid))
        .orderBy(when(col(ActM) >= 0, 0).otherwise(1))
      val picked = matchedRows
        .withColumn("__graft_merge_rn", row_number().over(w))
        .filter(col("__graft_merge_rn") === 1)
      val mDel = deleteIndices(matchedActions)
      val matchedOut = picked
        .filter(if (mDel.isEmpty) lit(true)
                else !col(ActM).isin(mDel.map(Integer.valueOf): _*))
        .select(tSchema.fields.toSeq.map(f =>
          branched(matchedActions, col(ActM), f.name, f.dataType,
            tcol(f.name)).as(f.name)): _*)
      val matchedChangedPre = matchedRows.filter(col(ActM) >= 0)

      // ---- unmatched target rows (not matched by source) -----------
      val bySourceRows = joined.filter(tp && !coalesce(sp, lit(false)))
        .withColumn(ActB, firstApplicable(notMatchedBySourceActions))
      val bDel = deleteIndices(notMatchedBySourceActions)
      val bySourceOut = bySourceRows
        .filter(if (bDel.isEmpty) lit(true)
                else !col(ActB).isin(bDel.map(Integer.valueOf): _*))
        .select(tSchema.fields.toSeq.map(f =>
          branched(notMatchedBySourceActions, col(ActB), f.name,
            f.dataType, tcol(f.name)).as(f.name)): _*)
      val bySourceChangedPre = bySourceRows.filter(col(ActB) >= 0)

      // ---- unmatched source rows → inserts --------------------------
      val insertRows = joined.filter(!coalesce(tp, lit(false)) && sp)
        .withColumn(ActI, firstApplicable(notMatchedActions))
        .filter(col(ActI) >= 0)
      val insertsOut =
        if (notMatchedActions.isEmpty)
          spark.createDataFrame(
            java.util.Collections.emptyList[Row](), tSchema)
        else insertRows.select(
          insertProjection(notMatchedActions, col(ActI), tSchema): _*)

      val content = matchedOut.unionByName(bySourceOut)
        .unionByName(insertsOut)

      p match {
        case Some(Pin(m, pv, ev)) if m.partitionColumns.nonEmpty =>
          val pc = m.partitionColumns
          // pre-images of every row an applicable clause removes or
          // rewrites, plus post-images of everything written
          val changedPost = matchedChangedPre
            .filter(if (mDel.isEmpty) lit(true)
                    else !col(ActM).isin(mDel.map(Integer.valueOf): _*))
            .select(tSchema.fields.toSeq.map(f =>
              branched(matchedActions, col(ActM), f.name, f.dataType,
                tcol(f.name)).as(f.name)): _*)
            .unionByName(bySourceChangedPre
              .filter(if (bDel.isEmpty) lit(true)
                      else !col(ActB).isin(
                        bDel.map(Integer.valueOf): _*))
              .select(tSchema.fields.toSeq.map(f =>
                branched(notMatchedBySourceActions, col(ActB), f.name,
                  f.dataType, tcol(f.name)).as(f.name)): _*))
            .unionByName(insertsOut)
          val affected = matchedChangedPre
            .select(pc.map(c => tcol(c).as(c)): _*)
            .unionByName(bySourceChangedPre
              .select(pc.map(c => tcol(c).as(c)): _*))
            .unionByName(changedPost.select(pc.map(col): _*))
          VersionedTable.touchedCover(spark, m, affected) match {
            case None => false
            case Some((touchedPred, covered)) =>
              VersionedTable.rewritePartitionsCovered(spark, root,
                content.filter(touchedPred), covered, m.version, pv, ev)
              true
          }
        case Some(Pin(m, pv, ev)) =>
          val rowsChange = !matchedChangedPre.limit(1).isEmpty ||
            !bySourceChangedPre.limit(1).isEmpty
          if (rowsChange)
            VersionedTable.rewriteLive(spark, root, content,
              m.version, pv, ev)
          else if (!insertRows.limit(1).isEmpty)
            // inserts only: every target row stays where it is and
            // the inserted rows become a new segment
            VersionedTable.appendLive(spark, root, insertsOut,
              m.version, pv, ev)
          else return false
          true
        case None =>
          // declared-but-never-committed target: only inserts can
          // land; route them through the append verb so the first
          // commit is a normal v1 in the declared form
          if (insertsOut.limit(1).isEmpty) return false
          VersionedTable.append(spark, root, insertsOut,
            partitionBy = table.partitioning().toSeq.map(
              _.references().head.fieldNames().mkString(".")))
          true
      }
    } finally SqlShims.unpersistCheckpointed(joined)
  }
}

/** MERGE-ON-READ row-level DML (the Iceberg MoR UPDATE/MERGE shape),
  * taken when the table carries `TBLPROPERTIES ('graft.dml.mode' =
  * 'merge-on-read')`: instead of copy-on-write partition/table
  * rewrites, ONE keyed commit into the pos-delete sub-table
  * position-deletes the pre-images and appends the post-images (plus
  * in-place replacement/tombstoning of rows that were themselves
  * pending appends) — zero data files rewritten, statement cost
  * ∝ matched rows. At 100 TB with one changed row per partition this
  * is the difference between touching every partition and touching
  * none. Vacuum folds later; every rewrite verb folds pending
  * post-images first and CAS-validates the sub-table version, so a
  * racing rewrite can never drop them.
  *
  * Falls back to COW (returning None) when the shape doesn't fit:
  * subqueries in the condition (they'd re-evaluate per job against a
  * possibly-moved table — COW materializes a match flag instead), a
  * NONDETERMINISTIC assignment to a partition column (the destination
  * is evaluated in more than one job and must reproduce), a
  * mid-spec-migration table (parent keys at shallower depth than the
  * spec — entry qualifiers assume full-depth keys), a never-committed
  * target, or a schema colliding with the sub-table's key columns.
  * Rows that need a LIVE destination qualifier — MERGE-inserted rows
  * (r15) and UPDATE/MERGE post-images whose assignment MOVES them
  * across partitions (r16) — qualify against their destination
  * partition's manifest mapping, MATERIALIZED as an empty partition
  * first when it doesn't exist yet: a content-free CAS commit, so a
  * crash between it and the entry commit leaves the table visibly
  * unchanged.
  *
  * Concurrency: identification reads the observable snapshot pinned
  * to the manifest it saw; after the sub-table commit the manifest is
  * re-checked — if a rewrite interleaved, every entry this statement
  * wrote is already stale-by-qualifier (invisible) and the statement
  * re-runs against the new snapshot, exactly softDeletePos's loop.
  */
private[plans] object GraftMorExec {
  import GraftRowLevelExec.{attrName, guardLiveTarget, hasSubquery}
  import graft.sinks.{VersionedTable => VT}

  private val Internal: Set[String] = Set(
    VT.AddrPathCol, VT.AddrPosCol, VT.MorKeyPathCol, VT.MorKeyPosCol,
    VT.SeqCol)

  def enabled(table: GraftTable): Boolean = {
    val p = table.properties()
    (Option(p.get("graft.dml.mode")) orElse Option(p.get("dmlMode")))
      .exists(_.trim.equalsIgnoreCase("merge-on-read"))
  }

  private def quote(n: String): String = s"`${n.replace("`", "``")}`"

  /** Rebind `e`'s references to the resolved target plan onto the
    * fresh addressed frame, by NAME (graft schemas are flat, names
    * unique per side); non-target attributes (a MERGE source's) keep
    * their original binding.
    */
  private def rebind(e: Expression, fromOut: Seq[Attribute],
                     to: DataFrame): Column = {
    val names = fromOut.map(a => a.exprId -> a.name).toMap
    SqlShims.column(e.transform {
      case a: AttributeReference if names.contains(a.exprId) =>
        SqlShims.expression(to.col(quote(names(a.exprId))))
    })
  }

  /** Hive/Spark dynamic-partition semantics fold the empty string
    * into the null partition (`__HIVE_DEFAULT_PARTITION__` reads back
    * as NULL — the COW write path does exactly this), so rows headed
    * for a partition qualifier normalize '' → null on string
    * partition columns BEFORE rendering/joining partition keys:
    * otherwise the ''-keyed tuple renders to the null key and the
    * `<=>` join back to the un-normalized rows silently drops them.
    */
  private def normalizePartStrings(df: DataFrame,
                                   pcols: Seq[String]): DataFrame =
    pcols.foldLeft(df) { (d, c) =>
      if (d.schema(c).dataType ==
          org.apache.spark.sql.types.StringType)
        d.withColumn(c,
          when(length(col(quote(c))) === 0, lit(null).cast("string"))
            .otherwise(col(quote(c))))
      else d
    }

  /** Render `tuples` (already ''→null-normalized) to partition keys,
    * register the missing ones as EMPTY partitions (one content-free
    * CAS commit against `expectedBase` — a crash between it and the
    * entry commit leaves the table visibly unchanged), and return the
    * qualifier frame (partition columns + `__graft_pkey` +
    * `__graft_dir`) joined against the POST-materialization manifest,
    * plus that manifest. Shared by MERGE inserts and partition-MOVING
    * UPDATE/MERGE post-images — every row that needs a LIVE
    * destination qualifier. Throws ConcurrentCommitException when the
    * manifest moved past `expectedBase`; callers retry
    * identification.
    */
  private def qualifyDestinations(spark: SparkSession, root: String,
      schemaSource: DataFrame,
      pschema: org.apache.spark.sql.types.StructType,
      tuples: Array[Row], expectedBase: Long)
      : (DataFrame, VT.PartitionedManifest) = {
    import spark.implicits._
    // distinct: after the ''→null normalization two touched tuples
    // can render to the SAME key — duplicate keyFrame rows would
    // double-join every matching row
    val keyFrame = VT.partitionKeyFrame(spark, pschema, tuples)
      .distinct()
    val keys = keyFrame.select("__graft_pkey").collect()
      .map(_.getString(0)).toSeq
    val mFinal = VT.materializeEmptyPartitions(spark, root,
      schemaSource, keys, expectedBase)
    val quals = keyFrame.join(
      mFinal.partitions.toSeq.toDF("__graft_pkey", "__graft_dir"),
      "__graft_pkey")
    (quals, mFinal)
  }

  private def retryLoop(root: String)(once: => Option[Boolean])
      : Boolean = {
    var attempt = 0
    while (attempt <= 10) {
      once match {
        case Some(c) => return c
        case None => attempt += 1
      }
    }
    throw new VT.ConcurrentCommitException(
      s"merge-on-read DML lost $attempt identification races under " +
        root)
  }

  // ---- UPDATE / DELETE -------------------------------------------------

  def tryUpdate(spark: SparkSession, target: LogicalPlan,
                table: GraftTable, assignments: Seq[Assignment],
                condition: Option[Expression]): Option[Boolean] =
    tryMutation(spark, target, table, Some(assignments), condition)

  def tryDelete(spark: SparkSession, target: LogicalPlan,
                table: GraftTable, condition: Expression)
      : Option[Boolean] =
    tryMutation(spark, target, table, None, Some(condition))

  private def tryMutation(spark: SparkSession, target: LogicalPlan,
                          table: GraftTable,
                          assignments: Option[Seq[Assignment]],
                          condition: Option[Expression])
      : Option[Boolean] = {
    if (!enabled(table)) return None
    val root = table.opts.root
    // same determinism contract as COW — and stricter need: the MoR
    // batch unions THREE branches that each re-filter the addressed
    // frame before the checkpoint, so a nondeterministic condition
    // could delete a row in one branch and not post-image it in
    // another
    condition.foreach(c =>
      GraftRowLevelExec.requireDeterministic(c,
        "the statement condition"))
    if (condition.exists(hasSubquery)) return None
    if (assignments.exists(_.exists(a => hasSubquery(a.value))))
      return None
    if (target.output.exists(a => VT.MorReservedCols(a.name) ||
        Internal(a.name))) return None
    val view = VT.snapshotView(root)
    // partition-moving assignments route through the MOVE variant:
    // post-images qualify against their DESTINATION partition,
    // materialized on demand (the same machinery MERGE inserts use) —
    // zero data files rewritten even when the mutation crosses
    // partitions. Two shapes still fall back to COW: nondeterministic
    // partition assignments (the destination is evaluated in both the
    // tuple-collection job and the entry job — it must reproduce),
    // and mid-spec-migration tables (parent keys at shallower depth
    // than the spec; destination qualifiers assume full-depth keys).
    val moves = view.exists { m =>
      val assigned = assignments.getOrElse(Seq.empty)
        .map(a => attrName(a.key, "UPDATE SET")).toSet
      m.partitionColumns.exists(assigned)
    }
    if (moves) {
      val pset = view.get.partitionColumns.toSet
      if (assignments.getOrElse(Seq.empty).exists(a =>
          pset(attrName(a.key, "UPDATE SET")) &&
            !a.value.deterministic)) return None
      if (view.get.partitions.keySet.exists(
          _.count(_ == '/') + 1 != view.get.partitionColumns.size))
        return None
    }
    if (view.isEmpty)
      return Some(false) // declared, never committed: nothing matches
    Some(retryLoop(root) {
      if (moves)
        moveMutateOnce(spark, root, target, assignments.get, condition)
      else
        mutateOnce(spark, root, target, assignments, condition)
    })
  }

  /** One identification + commit attempt. None = a rewrite
    * interleaved (entries stale, retry); Some(committed) otherwise.
    */
  private def mutateOnce(spark: SparkSession, root: String,
                         target: LogicalPlan,
                         assignments: Option[Seq[Assignment]],
                         condition: Option[Expression])
      : Option[Boolean] = {
    // pinned BEFORE the identification read: racing MoR statements
    // serialize on this CAS (each sees the other's post-images on its
    // retry — two `SET v = v + 1` compose to +2, never duplicate)
    val pinnedPos = VT.posDeleteVersion(root)
    val (view, adf) = VT.morAddressed(spark, root).get
    val stamp = view.version + 1
    // post-images stay where their source row lives (partition
    // assignments were excluded)
    val newQualifier = VT.postImageQualifier(view, col(VT.AddrPathCol))
    val stillCurrent = () => VT.snapshotView(root).contains(view)
    val bind = (e: Expression) => rebind(e, target.output, adf)
    val condCol = condition.map(bind).getOrElse(lit(true))
    val matched = adf.filter(condCol)
    // types come from the DECLARED relation, not the physical files:
    // after a widening ALTER COLUMN TYPE the files are still narrow
    // and a physical-type cast would overflow beyond-narrow values
    val declaredType: Map[String,
        org.apache.spark.sql.types.DataType] =
      target.output.map(a => a.name.toLowerCase -> a.dataType).toMap
    val dataFields =
      adf.schema.fields.toSeq.filterNot(f => Internal(f.name))
        .map(f => f.copy(dataType =
          declaredType.getOrElse(f.name.toLowerCase, f.dataType)))
    val assignMap: Map[String, Column] =
      assignments.getOrElse(Seq.empty).map { a =>
        val name = attrName(a.key, "UPDATE SET")
        name -> bind(a.value)
      }.toMap
    def post: Seq[Column] = dataFields.map(f =>
      assignMap.getOrElse(f.name, col(quote(f.name)))
        .cast(f.dataType).as(f.name))
    def nulls: Seq[Column] = dataFields.map(f =>
      lit(null).cast(f.dataType).as(f.name))
    def key(path: Column, pos: Column, seq: Column,
            dead: Column): Seq[Column] = Seq(
      path.as(VT.PdPathCol), pos.cast("long").as(VT.PdPosCol),
      seq.cast("long").as(VT.PdSeqCol),
      dead.cast("boolean").as(VT.PdDeadCol))
    val uuid = java.util.UUID.randomUUID.toString
    val isBase = col(VT.AddrPathCol).isNotNull
    val isDelete = assignments.isEmpty
    // pre-images of matched BASE rows become position-delete entries
    // (for UPDATE and DELETE alike)
    val delEntries = matched.filter(isBase).select(
      (nulls ++ key(col(VT.AddrPathCol), col(VT.AddrPosCol),
        lit(null), lit(null))): _*)
    val parts: Seq[DataFrame] =
      if (isDelete)
        Seq(delEntries,
          // matched pending appends tombstone in place
          matched.filter(!isBase).select(
            (nulls ++ key(col(VT.MorKeyPathCol), col(VT.MorKeyPosCol),
              lit(null), lit(true))): _*))
      else
        Seq(delEntries,
          // base post-images under fresh synthetic keys
          matched.filter(isBase).select(
            (post ++ key(
              concat(newQualifier, lit(s"/${VT.MorMarker}$uuid")),
              monotonically_increasing_id(), lit(stamp),
              lit(false))): _*),
          // matched pending appends replace in place (keyed upsert)
          matched.filter(!isBase).select(
            (post ++ key(col(VT.MorKeyPathCol), col(VT.MorKeyPosCol),
              lit(stamp), lit(false))): _*))
    val batch =
      parts.reduce(_.unionByName(_)).localCheckpoint()
    try {
      if (batch.limit(1).isEmpty) return Some(false)
      VT.morCommitEntries(spark, root, batch, pinnedPos, stillCurrent)
        .map(_ => true)
    } finally SqlShims.unpersistCheckpointed(batch)
  }

  /** One identification + commit attempt for a partition-MOVING
    * UPDATE on a partitioned MoR table. Differences from
    * [[mutateOnce]]: every post-image qualifies against its
    * DESTINATION partition's manifest mapping (materialized as an
    * empty partition first when absent — the content-free CAS commit
    * MERGE inserts pioneered), and matched pending appends are
    * tombstoned + re-appended under the destination rather than
    * replaced in place (an in-place replace would keep the OLD
    * partition qualifier, so a later rewrite of the source partition
    * would silently drop the moved row and partition-pruned scans
    * would miss it). Rows whose assignment lands them back in their
    * own partition take the same path — destination == source, no
    * special case. None = a commit interleaved (retry).
    */
  private def moveMutateOnce(spark: SparkSession, root: String,
                             target: LogicalPlan,
                             assignments: Seq[Assignment],
                             condition: Option[Expression])
      : Option[Boolean] = {
    val pinnedPos = VT.posDeleteVersion(root)
    val (m, adf) = VT.morAddressed(spark, root).get
    val pcols = m.partitionColumns
    val bind = (e: Expression) => rebind(e, target.output, adf)
    val condCol = condition.map(bind).getOrElse(lit(true))
    // checkpointed: the destination-tuple job and the entry job both
    // consume the matched set and must agree on it (same reason
    // mergeOnce checkpoints its join) — and a racing commit's
    // retention pass must not yank files out from under job two
    val matched = adf.filter(condCol).localCheckpoint()
    try {
    val declaredType: Map[String,
        org.apache.spark.sql.types.DataType] =
      target.output.map(a => a.name.toLowerCase -> a.dataType).toMap
    val dataFields =
      adf.schema.fields.toSeq.filterNot(f => Internal(f.name))
        .map(f => f.copy(dataType =
          declaredType.getOrElse(f.name.toLowerCase, f.dataType)))
    val assignMap: Map[String, Column] = assignments.map { a =>
      attrName(a.key, "UPDATE SET") -> bind(a.value)
    }.toMap
    val post: Seq[Column] = dataFields.map(f =>
      assignMap.getOrElse(f.name, col(quote(f.name)))
        .cast(f.dataType).as(f.name))
    val nulls: Seq[Column] = dataFields.map(f =>
      lit(null).cast(f.dataType).as(f.name))
    def key(path: Column, pos: Column, seq: Column,
            dead: Column): Seq[Column] = Seq(
      path.as(VT.PdPathCol), pos.cast("long").as(VT.PdPosCol),
      seq.cast("long").as(VT.PdSeqCol),
      dead.cast("boolean").as(VT.PdDeadCol))
    val isBase = col(VT.AddrPathCol).isNotNull
    val postsN = normalizePartStrings(matched.select(post: _*), pcols)
    val touched = postsN
      .select(pcols.map(c => postsN(quote(c))): _*)
      .distinct().collect()
    if (touched.isEmpty) return Some(false) // no matching rows
    val pschema = org.apache.spark.sql.types.StructType(
      pcols.map(c => postsN.schema(c)))
    val (quals, mFinal) =
      try qualifyDestinations(spark, root, postsN, pschema, touched,
        expectedBase = m.version)
      catch { case _: VT.ConcurrentCommitException => return None }
    val stamp = mFinal.version + 1
    val uuid = java.util.UUID.randomUUID.toString
    val joinCond = pcols.map(c => postsN(quote(c)) <=> quals(quote(c)))
      .reduce(_ && _)
    val appends = postsN.join(broadcast(quals), joinCond)
      .select((dataFields.map(f => postsN(quote(f.name))) ++
        key(concat(quals("__graft_dir"), lit("/"),
            quals("__graft_pkey"), lit(s"/${VT.MorMarker}${uuid}u")),
          monotonically_increasing_id(), lit(stamp),
          lit(false))): _*)
    val delEntries = matched.filter(isBase).select(
      (nulls ++ key(col(VT.AddrPathCol), col(VT.AddrPosCol),
        lit(null), lit(null))): _*)
    val tombstones = matched.filter(!isBase).select(
      (nulls ++ key(col(VT.MorKeyPathCol), col(VT.MorKeyPosCol),
        lit(null), lit(true))): _*)
    val batch = Seq(delEntries, tombstones, appends)
      .reduce(_.unionByName(_)).localCheckpoint()
    try {
      if (batch.limit(1).isEmpty) return Some(false)
      val stillCurrent = () => VT.readPartitionedManifest(root)
        .map(_.version).contains(mFinal.version)
      VT.morCommitEntries(spark, root, batch, pinnedPos, stillCurrent)
        .map(_ => true)
    } finally SqlShims.unpersistCheckpointed(batch)
    } finally SqlShims.unpersistCheckpointed(matched)
  }

  // ---- MERGE (flat tables) ----------------------------------------------

  def tryMerge(spark: SparkSession, target: LogicalPlan,
               table: GraftTable, source: LogicalPlan,
               mergeCondition: Expression,
               matchedActions: Seq[MergeAction],
               notMatchedActions: Seq[MergeAction],
               notMatchedBySourceActions: Seq[MergeAction])
      : Option[Boolean] = {
    if (!enabled(table)) return None
    val root = table.opts.root
    val moving = VT.readPartitionedManifest(root) match {
      case Some(m) =>
        // partitioned MoR MERGE: matched/by-source assignments that
        // MOVE rows across partitions take the destination-qualified
        // path (post-images qualify against their destination
        // partition, materialized on demand — the same machinery
        // inserted rows always used). Nondeterministic partition
        // assignments keep COW: the destination is evaluated in both
        // the tuple-collection job and the entry job and must
        // reproduce.
        val updateAssignments =
          (matchedActions ++ notMatchedBySourceActions).flatMap {
            case u: org.apache.spark.sql.catalyst.plans.logical
                .UpdateAction => u.assignments
            case _ => Seq.empty
          }
        val pset = m.partitionColumns.toSet
        val movingAssigns = updateAssignments.filter(a =>
          pset(attrName(a.key, "MERGE SET")))
        if (movingAssigns.exists(!_.value.deterministic)) return None
        // mid-spec-migration tables hold parent keys at shallower
        // depth; entry qualifiers assume full-depth keys — keep COW
        // until the migration completes
        if (m.partitions.keySet.exists(
            _.count(_ == '/') + 1 != m.partitionColumns.size))
          return None
        movingAssigns.nonEmpty
      case None =>
        if (VT.readManifest(root).isEmpty) return None
        false
    }
    if (hasSubquery(mergeCondition)) return None
    if (target.output.exists(a => VT.MorReservedCols(a.name) ||
        Internal(a.name))) return None
    Some(retryLoop(root) {
      mergeOnce(spark, root, target, source, mergeCondition,
        matchedActions, notMatchedActions, notMatchedBySourceActions,
        moving)
    })
  }

  private def mergeOnce(spark: SparkSession, root: String,
                        target: LogicalPlan, source: LogicalPlan,
                        mergeCondition: Expression,
                        mA: Seq[MergeAction], nA: Seq[MergeAction],
                        bA: Seq[MergeAction],
                        moving: Boolean): Option[Boolean] = {
    import GraftRowLevelExec.{ActB, ActI, ActM, SPresent, TPresent, Tid}
    val pinnedPos = VT.posDeleteVersion(root)
    val (view, adf) = VT.morAddressed(spark, root).get
    val partitioned = view.partitionColumns.nonEmpty
    val baseVersion = view.version
    val bind = (e: Expression) =>
      GraftMorExec.rebind(e, target.output, adf)
    val sdf0 = SqlShims.ofRows(spark, source)
    Seq(Tid, TPresent, SPresent, ActM, ActB, ActI).foreach { r =>
      require(!adf.columns.contains(r) && !sdf0.columns.contains(r),
        s"column name $r is reserved by MERGE execution")
    }
    // declared types, not physical — see mutateOnce
    val mDeclared: Map[String, org.apache.spark.sql.types.DataType] =
      target.output.map(a => a.name.toLowerCase -> a.dataType).toMap
    val dataFields =
      adf.schema.fields.toSeq.filterNot(f => Internal(f.name))
        .map(f => f.copy(dataType =
          mDeclared.getOrElse(f.name.toLowerCase, f.dataType)))
    val tdf = adf.withColumn(TPresent, lit(true))
      .withColumn(Tid, monotonically_increasing_id())
    val sdf = sdf0.withColumn(SPresent, lit(true))
    // checkpointed for the same reason as the COW MERGE: several jobs
    // consume the join and must agree on tids and pairings
    val joined = tdf.join(sdf, bind(mergeCondition), "full_outer")
      .localCheckpoint()
    try {
      val tp = col(TPresent) === lit(true)
      val sp = col(SPresent) === lit(true)
      val matchedRows = joined.filter(tp && sp)
        .withColumn(ActM, GraftRowLevelExec.firstApplicable(mA, bind))
      if (mA.nonEmpty) {
        val dup = matchedRows.filter(col(ActM) >= 0)
          .groupBy(col(Tid)).count().filter(col("count") > 1)
          .limit(1).count()
        require(dup == 0L,
          s"MERGE INTO $root: a target row matches more than one " +
            "source row with an applicable WHEN MATCHED clause — " +
            "the standard cardinality violation; de-duplicate the " +
            "source or tighten the ON/clause conditions")
      }
      val bySourceRows = joined.filter(tp && !coalesce(sp, lit(false)))
        .withColumn(ActB, GraftRowLevelExec.firstApplicable(bA, bind))
      val insertRows = joined.filter(!coalesce(tp, lit(false)) && sp)
        .withColumn(ActI, GraftRowLevelExec.firstApplicable(nA, bind))
        .filter(col(ActI) >= 0)

      def tcolA(name: String): Column = adf.col(quote(name))
      def isBase = tcolA(VT.AddrPathCol).isNotNull
      def post(actions: Seq[MergeAction], act: Column): Seq[Column] =
        dataFields.map(f => GraftRowLevelExec.branched(actions, act,
          f.name, f.dataType, tcolA(f.name), bind).as(f.name))
      def nulls: Seq[Column] = dataFields.map(f =>
        lit(null).cast(f.dataType).as(f.name))
      def key(path: Column, pos: Column, seq: Column,
              dead: Column): Seq[Column] = Seq(
        path.as(VT.PdPathCol), pos.cast("long").as(VT.PdPosCol),
        seq.cast("long").as(VT.PdSeqCol),
        dead.cast("boolean").as(VT.PdDeadCol))
      def isDel(act: Column, actions: Seq[MergeAction]): Column = {
        val idx = GraftRowLevelExec.deleteIndices(actions)
        if (idx.isEmpty) lit(false)
        else act.isin(idx.map(Integer.valueOf): _*)
      }
      val uuid = java.util.UUID.randomUUID.toString
      // Inserted rows need a LIVE destination qualifier. Flat tables
      // qualify against the live dir; partitioned tables qualify
      // against the manifest mapping of each row's destination
      // partition — materialized as an EMPTY partition first when the
      // partition doesn't exist yet (a content-free CAS commit:
      // a crash between it and the entry commit leaves the table
      // visibly unchanged, never a partial MERGE).
      val insertsData: Option[DataFrame] =
        if (nA.isEmpty) None
        else Some {
          val raw = insertRows.select(
            GraftRowLevelExec.insertProjection(nA, col(ActI),
              org.apache.spark.sql.types.StructType(dataFields),
              bind): _*)
          normalizePartStrings(raw, view.partitionColumns)
        }
      // Post-image rows of a partition-MOVING MERGE (matched /
      // by-source update actions assigning a partition column): data
      // columns only, ''→null-normalized — these need destination
      // qualifiers exactly like inserted rows do
      def movedPostsOf(rows: DataFrame, act: Column,
                       actions: Seq[MergeAction]): Option[DataFrame] =
        if (!moving || actions.isEmpty) None
        else Some(normalizePartStrings(
          rows.filter(act >= 0 && !isDel(act, actions))
            .select(post(actions, act): _*),
          view.partitionColumns))
      val movedM = movedPostsOf(matchedRows, col(ActM), mA)
      val movedB = movedPostsOf(bySourceRows, col(ActB), bA)
      // (destination qualifier frame, post-materialization manifest)
      // — computed ONCE over all rows needing a live destination
      // qualifier (inserts + moved post-images): one content-free
      // materialization commit per statement, reused by every
      // qualifier join below
      val destPrep: Option[(DataFrame,
          graft.sinks.VersionedTable.PartitionedManifest)] =
        if (!partitioned) None
        else {
          val pcols = view.partitionColumns
          val srcs = insertsData.toSeq ++ movedM.toSeq ++ movedB.toSeq
          val touched =
            srcs.map(d => d.select(pcols.map(c => d(quote(c))): _*))
              .reduceOption(_.unionByName(_))
              .map(_.distinct().collect()).getOrElse(Array.empty)
          if (touched.isEmpty) None
          else {
            val pschema = org.apache.spark.sql.types.StructType(
              pcols.map(c => srcs.head.schema(c)))
            try Some(qualifyDestinations(spark, root, srcs.head,
              pschema, touched, expectedBase = baseVersion))
            catch {
              case _: VT.ConcurrentCommitException => return None
            }
          }
        }
      val effectiveVersion =
        destPrep.map(_._2.version).getOrElse(baseVersion)
      val stamp = effectiveVersion + 1
      // qualifier of a CHANGED row's post-image — post-images never
      // move partitions (guarded in tryMerge)
      def baseQual: Column =
        VT.postImageQualifier(view, tcolA(VT.AddrPathCol))
      def entriesFor(rows: DataFrame, act: Column,
                     actions: Seq[MergeAction],
                     tag: String): Seq[DataFrame] = {
        val changed = rows.filter(act >= 0)
        if (moving)
          // moving mode: updated rows re-append under their
          // DESTINATION qualifier (movedEntries below) — here only
          // the pre-images die: changed base rows position-delete,
          // and ALL changed pending appends tombstone (an in-place
          // replace would keep the old partition qualifier, so a
          // later rewrite of the source partition would silently
          // drop the moved row)
          Seq(
            changed.filter(isBase).select(
              (nulls ++ key(tcolA(VT.AddrPathCol),
                tcolA(VT.AddrPosCol), lit(null), lit(null))): _*),
            changed.filter(!isBase).select(
              (nulls ++ key(tcolA(VT.MorKeyPathCol),
                tcolA(VT.MorKeyPosCol), lit(null), lit(true))): _*))
        else Seq(
          // pre-images of changed base rows → position deletes
          changed.filter(isBase).select(
            (nulls ++ key(tcolA(VT.AddrPathCol), tcolA(VT.AddrPosCol),
              lit(null), lit(null))): _*),
          // updated base rows → fresh append entries
          changed.filter(isBase && !isDel(act, actions)).select(
            (post(actions, act) ++ key(
              concat(baseQual, lit(s"/${VT.MorMarker}$uuid$tag")),
              monotonically_increasing_id(), lit(stamp),
              lit(false))): _*),
          // updated pending appends → replace in place
          changed.filter(!isBase && !isDel(act, actions)).select(
            (post(actions, act) ++ key(tcolA(VT.MorKeyPathCol),
              tcolA(VT.MorKeyPosCol), lit(stamp), lit(false))): _*),
          // deleted pending appends → tombstone in place
          changed.filter(!isBase && isDel(act, actions)).select(
            (nulls ++ key(tcolA(VT.MorKeyPathCol),
              tcolA(VT.MorKeyPosCol), lit(null), lit(true))): _*))
      }
      // moving mode: every updated row's post-image appends under its
      // destination partition's manifest mapping — same qualifier
      // join as inserts, distinct path tags per clause group so
      // synthetic (path, pos) keys can never collide
      def movedEntries(postsN: Option[DataFrame],
                       tag: String): Seq[DataFrame] =
        (postsN, destPrep) match {
          case (Some(p), Some((quals, mFinal))) =>
            val pcols = mFinal.partitionColumns
            val joinCond = pcols
              .map(c => p(quote(c)) <=> quals(quote(c)))
              .reduce(_ && _)
            Seq(p.join(broadcast(quals), joinCond)
              .select((dataFields.map(f => p(quote(f.name))) ++
                key(concat(quals("__graft_dir"), lit("/"),
                    quals("__graft_pkey"),
                    lit(s"/${VT.MorMarker}${uuid}v$tag")),
                  monotonically_increasing_id(), lit(stamp),
                  lit(false))): _*))
          case _ => Seq.empty
        }
      val inserts: Seq[DataFrame] = insertsData match {
        case None => Seq.empty
        case Some(ins) if !partitioned => // baseQual = the live dir
          Seq(ins.select((ins.columns.toSeq.map(c =>
            ins(quote(c))) ++
            key(concat(baseQual, lit(s"/${VT.MorMarker}${uuid}i")),
              monotonically_increasing_id(), lit(stamp),
              lit(false))): _*))
        case Some(ins) => destPrep match {
          case None => Seq.empty // no insert rows materialized
          case Some((quals, mFinal)) =>
            val pcols = mFinal.partitionColumns
            val joinCond = pcols.map(c => ins(quote(c)) <=>
              quals(quote(c))).reduce(_ && _)
            val qualled = ins.join(broadcast(quals), joinCond)
            Seq(qualled.select((dataFields.map(f =>
              ins(quote(f.name))) ++
              key(concat(quals("__graft_dir"), lit("/"),
                  quals("__graft_pkey"),
                  lit(s"/${VT.MorMarker}${uuid}i")),
                monotonically_increasing_id(), lit(stamp),
                lit(false))): _*))
        }
      }
      val batch = (entriesFor(matchedRows, col(ActM), mA, "m") ++
        entriesFor(bySourceRows, col(ActB), bA, "b") ++
        movedEntries(movedM, "m") ++ movedEntries(movedB, "b") ++
        inserts)
        .reduce(_.unionByName(_)).localCheckpoint()
      try {
        if (batch.limit(1).isEmpty) return Some(false)
        val current = destPrep.map(_._2).getOrElse(view)
        VT.morCommitEntries(spark, root, batch, pinnedPos,
          () => VT.snapshotView(root).contains(current)).map(_ => true)
      } finally SqlShims.unpersistCheckpointed(batch)
    } finally SqlShims.unpersistCheckpointed(joined)
  }
}

case class GraftUpdateCommand(target: LogicalPlan, table: GraftTable,
    assignments: Seq[Assignment], condition: Option[Expression])
    extends LeafRunnableCommand with SupportsSubquery {
  override def innerChildren: Seq[LogicalPlan] = Seq(target)
  override def run(spark: SparkSession): Seq[Row] = {
    val committed =
      GraftRowLevelExec.withCowRetries(table.opts.root) {
      GraftRowLevelExec.runUpdate(spark, target, table, assignments,
        condition)
    }
    // cached plans over the target must re-execute (the fast-path
    // DELETE exec refreshes; the command path matches)
    if (committed) SqlShims.recacheByPlan(spark, target)
    Seq.empty
  }
}

case class GraftDeleteCommand(target: LogicalPlan, table: GraftTable,
    condition: Expression)
    extends LeafRunnableCommand with SupportsSubquery {
  override def innerChildren: Seq[LogicalPlan] = Seq(target)
  override def run(spark: SparkSession): Seq[Row] = {
    val committed =
      GraftRowLevelExec.withCowRetries(table.opts.root) {
      GraftRowLevelExec.runDelete(spark, target, table, condition)
    }
    if (committed) SqlShims.recacheByPlan(spark, target)
    Seq.empty
  }
}

case class GraftMergeCommand(target: LogicalPlan, table: GraftTable,
    source: LogicalPlan, mergeCondition: Expression,
    matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction])
    extends LeafRunnableCommand with SupportsSubquery {
  override def innerChildren: Seq[LogicalPlan] = Seq(target, source)
  override def run(spark: SparkSession): Seq[Row] = {
    val committed =
      GraftRowLevelExec.withCowRetries(table.opts.root) {
      GraftRowLevelExec.runMerge(spark, target, table, source,
        mergeCondition, matchedActions, notMatchedActions,
        notMatchedBySourceActions)
    }
    if (committed) SqlShims.recacheByPlan(spark, target)
    Seq.empty
  }
}
