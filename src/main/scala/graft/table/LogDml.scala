package graft.table

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, GreaterThanOrEqual, IsNotNull, LessThanOrEqual, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, Project, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col

/** `MERGE INTO` for [[SnapshotLog]] tables mounted through
  * [[GraftTableCatalog]], installed as a resolution rule by
  * [[graft.plans.GraftExtensions]] (the same extension-point production
  * lakehouse formats use for their MERGE: intercept the analyzed
  * [[MergeIntoTable]] before Spark's row-level-operation rewrite, and
  * route it to the format's own transactional merge).
  *
  * One tier: every statement SQL MERGE can say — equality keys (one or
  * composite, any column names on either side) plus residual ON
  * conjuncts, `WHEN MATCHED [AND c] THEN UPDATE SET .../DELETE`,
  * `WHEN NOT MATCHED [AND c] THEN INSERT ...`,
  * `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE/DELETE`, star
  * actions included — runs [[MergeClausesLogCommand]] →
  * [[SnapshotLog.mergeClauses]] (per-key or envelope file routing, one
  * full-outer classification join, first-wins clause order). Every
  * matching target row is updated, also when the target holds a key
  * more than once; [[SnapshotLog.mergeByKey]], which replaces every
  * row of a key, is not reachable from SQL.
  *
  * `WITH SCHEMA EVOLUTION` is supported through Spark's own analysis:
  * [[LogTable]] declares `AUTOMATIC_SCHEMA_EVOLUTION`, so the
  * analyzer's ResolveMergeIntoSchemaEvolution adds the source's new
  * columns to the table (metadata-only [[SnapshotLog.addColumn]]
  * commits, nested struct fields included) and reloads the relation
  * before this rule translates — existing rows read the new columns as
  * NULL, and the merge itself stages under the evolved schema. The
  * evolution commits are separate from (and precede) the merge commit,
  * matching Spark's analysis-time contract; a merge that subsequently
  * aborts leaves the added columns in place, like every ALTER.
  *
  * Genuinely inexpressible shapes refuse LOUDLY at analysis with the
  * typed API named: non-equality/disjunctive ON conditions (a range
  * merge is not a keyed merge), subqueries or non-deterministic
  * expressions in clauses, and nested assignment targets. DML against
  * a time-travelled snapshot is refused — history is immutable.
  *
  * Cardinality: SQL's "a target row may be updated/deleted by at most
  * one source row" is enforced on GENUINE ambiguity only — the merge
  * aborts iff some target row matches more than one source row under
  * the whole ON condition; duplicates that only insert are standard
  * MERGE and insert them all. */
final class MergeIntoLogRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case m: MergeIntoTable => rewrite(m).getOrElse(m)
  }

  private def rewrite(m: MergeIntoTable): Option[LogicalPlan] = {
    val target = EliminateSubqueryAliases(m.targetTable) match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[LogTable] => r
      case _ => return None
    }
    if (!m.sourceTable.resolved || !m.mergeCondition.resolved) return None
    // WITH SCHEMA EVOLUTION: Spark's own ResolveMergeIntoSchemaEvolution
    // (same Resolution fixpoint batch) computes the source-minus-target
    // column set, ALTERs the table through the catalog (LogTable
    // declares AUTOMATIC_SCHEMA_EVOLUTION; each AddColumn is one
    // metadata-only SnapshotLog.addColumn commit) and swaps in the
    // reloaded relation. Defer until that has happened — translating
    // first would freeze the merge against the pre-evolution schema.
    if (m.withSchemaEvolution && m.needSchemaEvolution) return None
    translate(m, target)
  }

  /** Translate the analyzed actions into
    * [[SnapshotLog.mergeClauses]]' clause form — target attributes
    * stay under their own names, source attributes move under
    * [[SnapshotLog.MergeSrcPrefix]] (the namespace of the merge's
    * classification join), re-anchored as unresolved names so they
    * resolve against the joined frame at execution. */
  private def translate(m: MergeIntoTable,
      target: DataSourceV2Relation): Option[LogicalPlan] = {
    val table = target.table.asInstanceOf[LogTable]
    def refuse(why: String): Nothing = throw new UnsupportedOperationException(
      s"MERGE INTO ${table.log.tableDir}: $why")
    if (table.pinnedVersion >= 0) throw new UnsupportedOperationException(
      s"MERGE on ${table.log.tableDir} VERSION/TIMESTAMP AS OF is not " +
        "allowed — committed history is immutable; run DML against the " +
        "head table")
    val tgtSet = target.outputSet
    val srcSet = org.apache.spark.sql.catalyst.expressions.AttributeSet(
      m.sourceTable.output)
    // every clause expression must be resolved before translation —
    // return None (not an error) so the fixpoint comes back after the
    // analyzer finishes resolving/expanding the actions
    val exprsPending = (m.matchedActions ++ m.notMatchedActions ++
      m.notMatchedBySourceActions).exists {
      case UpdateStarAction(c) => c.exists(!_.resolved)
      case InsertStarAction(c) => c.exists(!_.resolved)
      case a => a.children.exists(!_.resolved)
    }
    if (exprsPending) return None
    // split the ON conjunction: equality key pairs anchor the merge
    // (routing, ambiguity probe), everything else rides into the
    // classification join as a RESIDUAL condition — `ON a.k = b.k AND
    // b.ts > a.ts` (the CDC update-newer-only shape) translates instead
    // of refusing. At least one equality must remain: a keyless merge
    // is a range join per target row, not a keyed merge.
    val (rawKeys, residual0) = splitOn(m.mergeCondition, tgtSet, srcSet)
    // one anchoring equality per column per side — surplus equalities
    // (ON t.k = s.a AND t.k = s.b) stay correct as residual conjuncts
    val seenT = scala.collection.mutable.Set.empty[String]
    val seenS = scala.collection.mutable.Set.empty[String]
    val (anchor, extraEq) = rawKeys.partition { case (t, s, _) =>
      val fresh = !seenT.contains(t) && !seenS.contains(s)
      if (fresh) { seenT += t; seenS += s }
      fresh
    }
    val keys = anchor.map { case (t, s, _) => (t, s) }
    val residualRaw = residual0 ++ extraEq.map(_._3)
    if (keys.isEmpty) refuse(
      "the ON condition must contain at least one equality between a " +
        "target column and a source column (non-equality conjuncts ride " +
        "along as residual match conditions) — a merge with no equality " +
        "key is a range join; use the typed SnapshotLog API " +
        s"(condition: ${m.mergeCondition})")
    val SP = SnapshotLog.MergeSrcPrefix
    def xlate(e: Expression, what: String): Expression = {
      if (!e.deterministic) refuse(
        s"$what is non-deterministic — the merge would not replay exactly")
      if (SubqueryPred.hasUnmaterializableSubquery(e)) refuse(
        s"$what contains a correlated subquery; compute it into the " +
          "source first (uncorrelated subqueries materialize at execution)")
      e.transform {
        case a: AttributeReference if tgtSet.contains(a) =>
          UnresolvedAttribute.quoted(a.name)
        case a: AttributeReference if srcSet.contains(a) =>
          UnresolvedAttribute.quoted(SP + a.name)
        case a: AttributeReference =>
          refuse(s"$what references '$a' from neither merge side")
      }
    }
    def assignsOf(assigns: Seq[Assignment],
        what: String): Seq[(String, Expression)] = assigns.map { a =>
      val name = UpdateLogRule.stripAlias(a.key) match {
        case k: AttributeReference if tgtSet.contains(k) => k.name
        case other => refuse(
          s"$what assignment target $other is not a top-level column " +
            "of the table (nested-field assignment is not supported)")
      }
      name -> xlate(UpdateLogRule.stripAlias(a.value),
        s"$what assignment to '$name'")
    }
    def wholeRow(what: String): Seq[(String, Expression)] =
      target.output.map { t =>
        val s = m.sourceTable.output.find(a => conf.resolver(a.name, t.name))
          .getOrElse(refuse(
            s"$what * needs a source column named '${t.name}'"))
        t.name -> (UnresolvedAttribute.quoted(SP + s.name): Expression)
      }
    def clausesOf(actions: Seq[MergeAction],
        what: String): Seq[MergeClausesLogCommand.RawClause] = actions.map {
      case UpdateStarAction(c) =>
        (c.map(xlate(_, s"$what condition")), "update",
          wholeRow(s"$what UPDATE SET"))
      case InsertStarAction(c) =>
        (c.map(xlate(_, s"$what condition")), "insert",
          wholeRow(s"$what INSERT"))
      case UpdateAction(c, assigns, _) =>
        (c.map(xlate(_, s"$what condition")), "update",
          assignsOf(assigns, s"$what UPDATE"))
      case InsertAction(c, assigns) =>
        (c.map(xlate(_, s"$what condition")), "insert",
          assignsOf(assigns, s"$what INSERT"))
      case DeleteAction(c) =>
        (c.map(xlate(_, s"$what condition")), "delete", Nil)
      case other => refuse(s"unsupported $what action $other")
    }
    Some(MergeClausesLogCommand(table.log.tableDir, keys,
      clausesOf(m.matchedActions, "WHEN MATCHED"),
      clausesOf(m.notMatchedActions, "WHEN NOT MATCHED"),
      clausesOf(m.notMatchedBySourceActions, "WHEN NOT MATCHED BY SOURCE"),
      m.sourceTable,
      residual = residualRaw.map(e =>
        "on" -> xlate(e, "ON residual condition"))))
  }

  /** The ON conjunction split into cross-side equality KEY pairs
    * (target name, source name, the original conjunct) and everything
    * else (the RESIDUAL conjuncts, carried verbatim into the
    * classification join). */
  private def splitOn(cond: Expression,
      tgtSet: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      srcSet: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : (Seq[(String, String, Expression)], Seq[Expression]) = cond match {
    case And(l, r) =>
      val (ka, ra) = splitOn(l, tgtSet, srcSet)
      val (kb, rb) = splitOn(r, tgtSet, srcSet)
      (ka ++ kb, ra ++ rb)
    case e @ EqualTo(a: AttributeReference, b: AttributeReference) =>
      if (tgtSet.contains(a) && srcSet.contains(b))
        (Seq((a.name, b.name, e)), Nil)
      else if (tgtSet.contains(b) && srcSet.contains(a))
        (Seq((b.name, a.name, e)), Nil)
      else (Nil, Seq(e))
    case other => (Nil, Seq(other))
  }
}

/** `UPDATE ... SET ... WHERE` for [[SnapshotLog]] tables mounted
  * through [[GraftTableCatalog]] — the SQL spelling of
  * [[SnapshotLog.updateWhere]], installed as a resolution rule by
  * [[graft.plans.GraftExtensions]] alongside [[MergeIntoLogRule]]
  * (intercepting the analyzed [[UpdateTable]] before Spark's
  * row-level-operation rewrite would refuse it).
  *
  * Two condition tiers. Conjunctions of exact points (`c = lit`) and
  * closed ranges (`c BETWEEN lo AND hi`) on bare columns
  * ([[UpdateLogRule.exactRangeExprs]]) take the fast path: stats
  * pruning scopes candidates AND the predicates are manifest-encodable
  * (mirrors replay them). Every OTHER subquery-free deterministic
  * condition — OR-trees, strict bounds, expressions over columns —
  * routes through [[SnapshotLog.updateWhereExpr]]: the convertible
  * conjuncts (possibly none) still prune candidate files, and the FULL
  * predicate drives the exact per-file counting pass, so correctness
  * never depends on the pruning; the change feed degrades to rows-only
  * images for those (no predicate replay). Assignments may set any
  * top-level column to a deterministic expression over the OLD row.
  * Subqueries and non-deterministic conditions refuse loudly with the
  * typed API named; no WHERE at all refuses (a full-table rewrite
  * should be said explicitly).
  *
  * The command runs the FULL auto planner, like SQL DELETE: a
  * sparsely-matched straddler takes the deletion-vector + post-image
  * merge-on-read arm (O(updated rows) committed at any table size),
  * densely-matched files rewrite copy-on-write — and SQL SELECT keeps
  * working through the debt window because the catalog's scan builder
  * plans [[LogDebtScan]] over pending vectors. */
final class UpdateLogRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case u: UpdateTable if u.resolved => rewrite(u).getOrElse(u)
  }

  private def rewrite(u: UpdateTable): Option[LogicalPlan] = {
    val target = EliminateSubqueryAliases(u.table) match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[LogTable] => r
      case _ => return None
    }
    val table = target.table.asInstanceOf[LogTable]
    def refuse(why: String): Nothing = throw new UnsupportedOperationException(
      s"UPDATE on ${table.log.tableDir}: $why")
    if (table.pinnedVersion >= 0)
      refuse("committed history is immutable; run DML against the head table")
    val cond = u.condition.getOrElse(refuse(
      "an unconditioned UPDATE rewrites the whole table — add a WHERE " +
        "clause, or use the typed rewrite() API for full-table transforms"))
    val set = u.assignments.map { a =>
      val name = a.key match {
        case k: AttributeReference if target.outputSet.contains(k) => k.name
        case other => refuse(s"assignment target $other is not a top-level " +
          "column of the table")
      }
      // key-equality-correlated scalar subqueries in SET decorrelate
      // to a literal key→value map lookup (the enrichment-UPDATE
      // shape); anything still correlated after refuses below
      val v = SubqueryPred.decorrelateValue(
        UpdateLogRule.stripAlias(a.value), target, refuse)
      if (!v.deterministic) refuse(s"assignment to '$name' is " +
        "non-deterministic — the update would not replay exactly")
      if (SubqueryPred.hasUnmaterializableSubquery(v))
        refuse(s"assignment to '$name' contains a correlated subquery; " +
          "uncorrelated scalar subqueries materialize at execution — " +
          "decorrelate, or use the typed API")
      // re-anchor column references BY NAME so the expression resolves
      // against the staged update frame instead of this relation's ids
      name -> v.transform {
        case ar: AttributeReference => UnresolvedAttribute.quoted(ar.name)
      }
    }
    UpdateLogRule.exactRangeExprs(cond, target) match {
      // the fast shape: conjunction of points/closed ranges — stats
      // pruning AND metadata-encodable change predicates (mirror replay)
      case Some(preds) =>
        Some(UpdateLogCommand(table.log.tableDir, preds, set))
      // anything else a WHERE can say, short of a subquery: the full
      // predicate drives the exact per-file counting pass, the
      // convertible conjuncts (possibly none) keep pruning candidates
      case None =>
        val (rest, subs) = UpdateLogRule.splitSubqueries(
          SubqueryPred.decorrelate(cond, target, refuse), target, refuse)
        Some(UpdateExprLogCommand(table.log.tableDir,
          ("where", UpdateLogRule.generalCond(rest, target, refuse)),
          UpdateLogRule.rangeHints(rest, target), set, subs))
    }
  }
}

private[graft] object UpdateLogRule {

  private[table] def stripAlias(e: Expression): Expression = e match {
    case a: Alias => stripAlias(a.child)
    case other    => other
  }

  /** Expression-level twin of [[LogTable.exactRanges]] (which sees V2
    * filters — already constant-folded by the optimizer; this rule runs
    * at RESOLUTION, so it folds literal sides itself via `foldable`
    * eval). Same accepted leaves, same refuse-don't-approximate rule. */
  private[table] def exactRangeExprs(cond: Expression,
      target: DataSourceV2Relation): Option[Seq[(String, Any, Any)]] = {
    def leaves(e: Expression): Seq[Expression] = e match {
      case And(l, r) => leaves(l) ++ leaves(r)
      // analysis-time sugar (BETWEEN et al) carries its And/GTE/LTE
      // replacement unexpanded until the optimizer — decompose through it
      case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
        leaves(r.replacement)
      // the replacement shares its input via a With common-subexpression
      // block: inline the refs (the input is a bare column here — the
      // attr/literal shape checks below still decide acceptance)
      case w: org.apache.spark.sql.catalyst.expressions.With =>
        val byId = w.defs.map(d => d.id -> d.child).toMap
        leaves(w.child.transformUp {
          case ref: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
            byId.getOrElse(ref.id, ref)
        })
      case other     => Seq(other)
    }
    def litOf(e: Expression): Option[Any] =
      if (!e.foldable || !e.deterministic) None
      else Option(e.eval(null)).map(
        CatalystTypeConverters.createToScalaConverter(e.dataType)(_))
    def attrOf(e: Expression): Option[String] = e match {
      case a: AttributeReference if target.outputSet.contains(a) => Some(a.name)
      case _ => None
    }
    val points = collection.mutable.Map.empty[String, List[Any]]
    val lo = collection.mutable.Map.empty[String, List[Any]]
    val hi = collection.mutable.Map.empty[String, List[Any]]
    val notNull = collection.mutable.Set.empty[String]
    def bind(m: collection.mutable.Map[String, List[Any]],
        c: Option[String], v: Option[Any]): Boolean = (c, v) match {
      case (Some(cc), Some(vv)) => m(cc) = vv :: m.getOrElse(cc, Nil); true
      case _ => false
    }
    val ok = leaves(cond).forall {
      case EqualTo(a, v) if attrOf(a).isDefined =>
        bind(points, attrOf(a), litOf(v))
      case EqualTo(v, a)             => bind(points, attrOf(a), litOf(v))
      case GreaterThanOrEqual(a, v) if attrOf(a).isDefined =>
        bind(lo, attrOf(a), litOf(v))
      case GreaterThanOrEqual(v, a)  => bind(hi, attrOf(a), litOf(v))
      case LessThanOrEqual(a, v) if attrOf(a).isDefined =>
        bind(hi, attrOf(a), litOf(v))
      case LessThanOrEqual(v, a)     => bind(lo, attrOf(a), litOf(v))
      case IsNotNull(a) if attrOf(a).isDefined =>
        notNull += attrOf(a).get; true
      case _ => false
    }
    if (!ok) return None
    val cols = (points.keySet ++ lo.keySet ++ hi.keySet).toSeq
    val ranges = cols.map { c =>
      (points.getOrElse(c, Nil), lo.getOrElse(c, Nil), hi.getOrElse(c, Nil)) match {
        case (List(v), Nil, Nil)     => Some((c, v, v))
        case (Nil, List(l), List(h)) => Some((c, l, h))
        case _                       => None
      }
    }
    if (cols.isEmpty || ranges.exists(_.isEmpty) ||
        !notNull.forall(cols.contains)) None
    else Some(ranges.flatten)
  }

  /** Split the top-level conjunction into UNCORRELATED single-column
    * `IN (SELECT ...)` / `NOT IN (SELECT ...)` conjuncts — returned for
    * execution-time materialization to a bounded literal key list
    * ([[SubqueryPred.conjoin]]) — and everything else (which
    * [[generalCond]] then validates; a CORRELATED subquery stays there
    * and refuses with the typed API named). Only conjuncts at the top
    * of the AND tree split: a subquery under an OR cannot be evaluated
    * independently of its sibling. */
  private[table] def splitSubqueries(cond: Expression,
      target: DataSourceV2Relation, refuse: String => Nothing)
      : (Expression, Seq[SubqueryPred]) = {
    import org.apache.spark.sql.catalyst.expressions.{Coalesce, InSubquery, ListQuery, Literal, Not}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    def anchored(values: Seq[Expression], what: String): Seq[Expression] =
      values.map { v =>
        if (!v.deterministic) refuse(
          s"the $what's left side is non-deterministic")
        if (!v.references.subsetOf(target.outputSet)) refuse(
          s"the $what's left side references columns from outside " +
            s"the table (left side: $v)")
        v.transform {
          case ar: AttributeReference => UnresolvedAttribute.quoted(ar.name)
        }
      }
    // every top-level IN-subquery conjunct splits — single- or
    // multi-column, either polarity, the decorrelated-EXISTS
    // `coalesce(IN, false)` wrapper, and CORRELATED NOT IN (which
    // decorrelates here to the key-prefixed form) — so [[SubqueryPred
    // .conjoin]] can pick literal fold vs join arm by materialized size
    val (subs, rest) = conjuncts(cond).partitionMap {
      case InSubquery(values, l: ListQuery) if l.outerAttrs.isEmpty =>
        Left(SubqueryPred(("in", anchored(values, "IN-subquery")),
          l.plan, negated = false))
      case Not(InSubquery(values, l: ListQuery)) if l.outerAttrs.isEmpty =>
        Left(SubqueryPred(("in", anchored(values, "NOT IN-subquery")),
          l.plan, negated = true))
      case Not(InSubquery(values, l: ListQuery)) if l.outerAttrs.nonEmpty =>
        Left(SubqueryPred.correlatedNotIn(values, l.plan, target,
          v => anchored(Seq(v), "NOT IN-subquery").head, refuse))
      case Coalesce(Seq(InSubquery(values, l: ListQuery), Literal(false, _)))
          if l.outerAttrs.isEmpty =>
        Left(SubqueryPred(("in", anchored(values, "EXISTS key list")),
          l.plan, negated = false, nullCollapse = true))
      case Not(Coalesce(Seq(InSubquery(values, l: ListQuery),
          Literal(false, _)))) if l.outerAttrs.isEmpty =>
        Left(SubqueryPred(("in", anchored(values, "NOT EXISTS key list")),
          l.plan, negated = true, nullCollapse = true))
      case other => Right(other)
    }
    (rest.reduceOption(And(_, _)).getOrElse(Literal.TrueLiteral), subs)
  }

  /** Validate + re-anchor an ARBITRARY condition for the expr planners:
    * must be deterministic, subquery-free, and reference only target
    * columns; attribute references re-anchor BY NAME so the Column
    * rebuilds against the planner's counting frame at execution. */
  private[table] def generalCond(cond: Expression,
      target: DataSourceV2Relation,
      refuse: String => Nothing): Expression = {
    if (!cond.deterministic) refuse(
      "the WHERE condition is non-deterministic — the DML would not " +
        "replay exactly")
    if (SubqueryPred.hasUnmaterializableSubquery(cond)) refuse(
      "the WHERE condition contains a CORRELATED subquery — " +
        "uncorrelated scalar/EXISTS/IN subqueries materialize at " +
        "execution; decorrelate (join the inner relation in), or use " +
        "the typed API")
    if (!cond.references.subsetOf(target.outputSet)) refuse(
      s"the WHERE condition references columns from outside the table " +
        s"(condition: $cond)")
    // expand analysis-time sugar BEFORE re-anchoring: a BETWEEN carries
    // its replacement under a `With` common-subexpression block whose
    // defs compute dataType eagerly — an UnresolvedAttribute planted
    // inside would blow up on any tree rebuild
    val expanded = cond.transformUp {
      case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
        r.replacement
    }.transformUp {
      case w: org.apache.spark.sql.catalyst.expressions.With =>
        val byId = w.defs.map(d => d.id -> d.child).toMap
        w.child.transformUp {
          case ref: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
            byId.getOrElse(ref.id, ref)
        }
    }
    expanded.transform {
      case ar: AttributeReference => UnresolvedAttribute.quoted(ar.name)
    }
  }

  /** The range-convertible TOP-LEVEL conjuncts of `cond` — a sound
    * pruning-hint set for [[SnapshotLog.deleteWhereExpr]] /
    * `updateWhereExpr`: every returned range is implied by the full
    * condition (a row matching `cond` matches every hint), because
    * only conjuncts at the top of the AND tree convert — anything
    * under an OR could be voided by the other branch. */
  private[table] def rangeHints(cond: Expression,
      target: DataSourceV2Relation): Seq[(String, Any, Any)] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    conjuncts(cond).flatMap(c =>
      exactRangeExprs(c, target).getOrElse(Nil))
  }
}

/** `DELETE FROM ... WHERE` with an ARBITRARY subquery-free condition on
  * [[SnapshotLog]] tables — the resolution-rule companion of the
  * catalog's `SupportsDelete` path: conditions [[LogTable.exactRanges]]
  * CAN encode stay on the native V2 route (stats pruning + metadata-only
  * whole-file drops + replayable change predicates); everything else a
  * WHERE can say — OR-trees, strict bounds, expressions over columns —
  * would refuse there, so this rule intercepts the analyzed
  * [[org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable]] and
  * routes it through [[SnapshotLog.deleteWhereExpr]]: convertible
  * conjuncts prune candidates, the FULL predicate drives the exact
  * counting pass and the three-arm plan (drop/rewrite/deletion-vector),
  * committing O(matched) through the DV arm at any table size. */
final class DeleteLogRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case d: DeleteFromTable if d.table.resolved && d.condition.resolved =>
      rewrite(d).getOrElse(d)
  }

  private def rewrite(d: DeleteFromTable): Option[LogicalPlan] = {
    val target = EliminateSubqueryAliases(d.table) match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[LogTable] => r
      case _ => return None
    }
    // foldable conditions (TRUE = unconditioned DELETE FROM) and
    // exact-convertible ones keep the native SupportsDelete route:
    // truncate / metadata-only drops / replayable predicates
    if (d.condition.foldable ||
        UpdateLogRule.exactRangeExprs(d.condition, target).isDefined)
      return None
    val table = target.table.asInstanceOf[LogTable]
    def refuse(why: String): Nothing = throw new UnsupportedOperationException(
      s"DELETE on ${table.log.tableDir}: $why")
    if (table.pinnedVersion >= 0)
      refuse("committed history is immutable; run DML against the head table")
    val (rest, subs) = UpdateLogRule.splitSubqueries(
      SubqueryPred.decorrelate(d.condition, target, refuse), target, refuse)
    Some(DeleteExprLogCommand(table.log.tableDir,
      ("where", UpdateLogRule.generalCond(rest, target, refuse)),
      UpdateLogRule.rangeHints(rest, target), subs))
  }
}

/** One UNCORRELATED `IN (SELECT ...)` / `NOT IN (SELECT ...)` /
  * decorrelated-EXISTS conjunct of a general DML predicate. At
  * EXECUTION the subquery materializes to a bounded literal key list
  * that folds back into the condition — the counting planner then sees
  * plain literals and the mirror's predicate-SQL replay gets a
  * self-contained, session-free expression. PAST the key-list cap
  * ([[SubqueryPred.MaxKeys]]/[[SubqueryPred.MaxTupleKeys]]) the
  * conjunct executes as a [[graft.table.SemiTag]] JOIN against the key
  * frame instead — the 100 TB shape for `DELETE WHERE id IN
  * (SELECT …)` with millions of keys (mirrors then degrade to the
  * rows-only resync contract, a join not being renderable SQL).
  * `values` are the re-anchored left-side expressions (one per
  * subquery output column — multi-column row-IN supported),
  * tuple-wrapped like every stored DML expression. `nullCollapse`
  * marks the EXISTS translation's `coalesce(…, false)` wrapper (the
  * 2-valued truth table), letting both polarities split and scale.
  * `keyArity > 0` marks a DECORRELATED NOT IN ([[SubqueryPred
  * .correlatedNotIn]]): the first `keyArity` values are the
  * correlation-key prefix — a NULL prefix value means the per-row key
  * set is empty (`NOT IN ()` = TRUE), and the subquery plan's output
  * is prefix-columns-then-select-list, prefix null-filtered. */
final case class SubqueryPred(values: (String, Seq[Expression]),
    plan: LogicalPlan, negated: Boolean, nullCollapse: Boolean = false,
    keyArity: Int = 0)

private[graft] object SubqueryPred {
  /** Key-list bound: past this, a literal IN-list stops being a
    * reasonable expression (driver memory + predicate size) — the
    * typed `deleteKeys`/`mergeByKey` APIs own unbounded key sets. */
  val MaxKeys = 100000

  /** Tuple-list bound for MULTI-COLUMN row-IN ([[rowIn]]): the struct
    * literals are heavier per entry than scalar ones (and the
    * null-pattern dispatch carries up to 2^k projections of the list),
    * so the cap is tighter than the single-column list's. */
  val MaxTupleKeys = 10000

  /** True iff `e` contains a subquery the DML planners CANNOT
    * materialize — anything correlated, or a kind outside
    * scalar/EXISTS/IN. Uncorrelated scalar, EXISTS and IN subqueries
    * (at any nesting — under OR, inside arithmetic) evaluate to
    * constants/literal lists at execution via [[materialize]]. */
  def hasUnmaterializableSubquery(e: Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Exists, InSubquery, ListQuery, ScalarSubquery}
    e.exists {
      case sc: ScalarSubquery => sc.outerAttrs.nonEmpty
      case ex: Exists => ex.outerAttrs.nonEmpty
      case InSubquery(_, l: ListQuery) => l.outerAttrs.nonEmpty
      case l: ListQuery => l.outerAttrs.nonEmpty // visited as a node too
      case pe: PlanExpression[_] => true // LATERAL et al — refuse
      case _ => false
    }
  }

  /** Decorrelate `EXISTS (SELECT ... FROM s WHERE s.k = t.k [AND ...])`
    * conjuncts whose correlation is a SINGLE pure key equality into the
    * uncorrelated materialized-key path ([[materialize]] / q58's IN
    * machinery): the correlated equality lifts out as
    * `coalesce(t.k IN (SELECT s.k FROM s WHERE inner AND s.k IS NOT
    * NULL), false)` — exactly EXISTS's 3-valued truth table (EXISTS is
    * never NULL: a NULL outer key can equal nothing → the coalesce
    * pins FALSE; NULL inner keys can equal nothing → filtered before
    * the list materializes), so `NOT EXISTS` and OR-nesting need no
    * special casing. This is GDPR-by-join's classic spelling
    * (`DELETE FROM t WHERE EXISTS (SELECT 1 FROM gdpr g WHERE
    * g.id = t.id)`). Non-equality correlation, composite-key
    * correlation, and correlation sitting under anything but the
    * subquery's top Filter refuse loudly — never approximated. */
  def decorrelate(cond: Expression,
      target: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
      refuse: String => Nothing): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Exists, InSubquery, ListQuery, OuterReference}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject}
    def conjs(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjs(l) ++ conjs(r)
      case o         => Seq(o)
    }
    // a TOP-LEVEL correlated `v IN (SELECT x FROM s WHERE corr)`
    // conjunct canonicalizes to the EXISTS shape (`EXISTS (SELECT 1
    // FROM s WHERE x = v AND corr)`) and decorrelates with it — sound
    // at the top of the AND tree, where WHERE semantics make NULL and
    // FALSE indistinguishable (the EXISTS form is 2-valued). Correlated
    // NOT IN passes through UNTOUCHED: [[UpdateLogRule.splitSubqueries]]
    // splits it to the key-prefixed null-aware form
    // ([[correlatedNotIn]]) with both a literal and a join arm — a NULL
    // inner value makes SQL's NOT IN match NOTHING, which NOT EXISTS
    // over a null-filtered key list cannot reproduce.
    val canon = conjs(cond).map {
      case InSubquery(values, l: ListQuery) if l.outerAttrs.nonEmpty =>
        val (proj, fc, child) = collapseProjects(l.plan) match {
          case LProject(ps, LFilter(c, ch)) => (ps, c, ch)
          case _ => refuse("the correlated IN-subquery's shape is not " +
            "SELECT <exprs> FROM ... WHERE <correlation> — decorrelate " +
            "by hand, or use the typed API")
        }
        if (proj.length != values.length) refuse(
          "the correlated IN-subquery's select list does not match its " +
            "left side")
        val eqs = proj.zip(values).map { case (p, v) =>
          if (!v.deterministic || v.references.isEmpty ||
              !v.references.subsetOf(target.outputSet))
            refuse("the correlated IN-subquery's left side " +
              s"'$v' is not an expression over table columns — only " +
              "column-keyed forms decorrelate; use the typed API")
          val vo = v.transform {
            case a: AttributeReference => OuterReference(a)
          }
          EqualTo(UpdateLogRule.stripAlias(p), vo): Expression
        }
        rewritePlanAsExists(LFilter((eqs :+ fc).reduce(And(_, _)), child),
          target, refuse)
      case other => other
    }
    canon.reduce(And(_, _)).transformUp {
      case ex: Exists if ex.outerAttrs.nonEmpty =>
        rewritePlanAsExists(ex.plan, target, refuse)
      case sc: org.apache.spark.sql.catalyst.expressions.ScalarSubquery
          if sc.outerAttrs.nonEmpty =>
        rewriteScalarMap(sc, target, refuse)
    }
  }

  /** [[decorrelate]] for VALUE contexts (UPDATE SET assignments): the
    * per-expression rewrites only — no top-level-conjunct
    * canonicalization (a value is not a WHERE). */
  def decorrelateValue(e: Expression,
      target: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
      refuse: String => Nothing): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Exists
    e.transformUp {
      case ex: Exists if ex.outerAttrs.nonEmpty =>
        rewritePlanAsExists(ex.plan, target, refuse)
      case sc: org.apache.spark.sql.catalyst.expressions.ScalarSubquery
          if sc.outerAttrs.nonEmpty =>
        rewriteScalarMap(sc, target, refuse)
    }
  }

  /** Alias-METADATA marker on the one-row key→value collection a
    * decorrelated correlated SCALAR subquery materializes —
    * [[materialize]] bounds arrays carrying it by [[MaxTupleKeys]] (a
    * per-key aggregate map is a predicate-sized literal, not a data
    * structure). A metadata key, not an alias NAME: user SQL can alias
    * a column `__graft_scalar_map` but cannot attach metadata, so a
    * user's own large-array scalar subquery is never falsely refused
    * at the tuple cap. */
  private[table] val ScalarMapMetaKey = "graft.scalarMap"

  /** Decorrelate `(SELECT agg(x) FROM s WHERE s.k = t.k [AND inner])`
    * — the per-key-aggregate shape (enrichment UPDATEs, threshold
    * WHEREs) — into `element_at(map_from_entries(<uncorrelated scalar
    * collecting (k, agg) pairs>), t.k)`: the inner aggregate re-groups
    * by its correlation key, ONE uncorrelated scalar subquery collects
    * the bounded (key, value) list, [[materialize]] folds it to a
    * literal at execution, and the map lookup reproduces SQL's scalar
    * semantics exactly (no matching key → NULL, the empty-subquery
    * answer). Single key equality; the outer side may be any
    * deterministic expression over table columns. */
  private def rewriteScalarMap(
      sc: org.apache.spark.sql.catalyst.expressions.ScalarSubquery,
      target: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
      refuse: String => Nothing): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, CreateStruct, ElementAt, IsNotNull, MapFromEntries, OuterReference, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, Complete}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter}
    val (groupExprs, aggs, fc, child) = sc.plan match {
      case Aggregate(ge, as, LFilter(c, ch), _) => (ge, as, c, ch)
      case _ => refuse("the correlated scalar subquery is not an " +
        "aggregate over a correlated WHERE — only the " +
        "per-key-aggregate shape decorrelates; use the typed API")
    }
    val aggAlias = aggs match {
      case Seq(a: Alias) => a
      case _ => refuse("the correlated scalar subquery must select " +
        "exactly one aggregate")
    }
    val (pairs, inner) = correlationSplit(fc, child, target, "scalar", refuse)
    val (innerKey, outerVal) = pairs match {
      case Seq(p) => p
      case _ => refuse("the correlated scalar subquery must correlate " +
        "on exactly one key equality; use the typed API")
    }
    // an EXPLICIT `GROUP BY <correlation key>` is the same per-key
    // aggregate the rewrite regroups to anyway — accept it (users write
    // `SET x = (SELECT agg FROM s WHERE s.k = t.k GROUP BY s.k)`);
    // grouping by anything else could return >1 row per key, which is
    // not a scalar — refuse with the contract scoped to non-key grouping
    groupExprs.foreach { g =>
      if (!UpdateLogRule.stripAlias(g).semanticEquals(innerKey))
        refuse("the correlated scalar subquery groups by an expression " +
          s"other than its correlation key ('${g.sql}' vs " +
          s"'${innerKey.sql}') — only key-grouped (or ungrouped) " +
          "per-key aggregates decorrelate; use the typed API")
    }
    val innerCond = (inner :+ (IsNotNull(innerKey): Expression))
      .reduce(And(_, _))
    val keyAlias = Alias(innerKey, "__graft_sm_k")()
    val perKey = Aggregate(Seq(innerKey), Seq(keyAlias, aggAlias),
      LFilter(innerCond, child))
    val kv = Alias(
      AggregateExpression(
        CollectList(CreateStruct(Seq(keyAlias.toAttribute,
          aggAlias.toAttribute))),
        Complete, isDistinct = false),
      "__graft_scalar_map")(explicitMetadata = Some(
      new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean(ScalarMapMetaKey, value = true).build()))
    val collected = Aggregate(Nil, Seq(kv), perKey)
    // failOnError=false = the `try_element_at` form: a missing key
    // answers NULL — exactly SQL's empty correlated scalar
    ElementAt(MapFromEntries(ScalarSubquery(collected)), outerVal,
      None, failOnError = false)
  }

  private def rewritePlanAsExists(plan: LogicalPlan,
      target: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
      refuse: String => Nothing): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Coalesce, EqualTo, InSubquery, IsNotNull, ListQuery, Literal, OuterReference}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject}
    val (fc, child) = collapseProjects(plan) match {
      case LProject(_, LFilter(c, ch)) => (c, ch)
      case LFilter(c, ch)              => (c, ch)
      case _ => refuse("the correlated EXISTS subquery's correlation " +
        "must be a WHERE predicate directly under its SELECT — " +
        "decorrelate by hand (join the inner relation in), or use the " +
        "typed API")
    }
    val (pairs, inner) = correlationSplit(fc, child, target, "EXISTS", refuse)
    // composite keys materialize as a multi-column row-IN (flat
    // struct-IN, MaxTupleKeys-capped); the IsNotNull inner filter
    // plus the coalesce(…, false) wrapper keep EXISTS's exact 2-valued
    // truth table for any key arity (equality with NULL never
    // witnesses an EXISTS)
    val innerCond = (inner ++ pairs.map(p => IsNotNull(p._1): Expression))
      .reduce(And(_, _))
    val sub = LProject(
      pairs.zipWithIndex.map { case ((k, _), i) =>
        Alias(k, s"__graft_exists_key$i")(): org.apache.spark.sql.catalyst.expressions.NamedExpression },
      LFilter(innerCond, child))
    Coalesce(Seq(
      InSubquery(pairs.map(_._2), ListQuery(sub)), Literal(false)))
  }

  /** Split a correlated subquery's WHERE into its key-equality
    * correlation pairs (inner-side key expression → outer-side table
    * expression) and the residual inner-only conjuncts. The OUTER side
    * may be any deterministic expression over target columns only —
    * the analyzer itself interposes casts (`int` key vs `bigint` inner
    * side), and `t.id + 1`-style computed keys decorrelate just as
    * soundly: the SAME expression becomes the row-IN's left value,
    * evaluated against the counting frame. Leaf outer refs unwrap to
    * bare attrs (re-anchored by name downstream). Non-equality
    * correlation and keyless correlation refuse loudly. */
  private def correlationSplit(fc: Expression, child: LogicalPlan,
      target: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
      what: String, refuse: String => Nothing)
      : (Seq[(Expression, Expression)], Seq[Expression]) = {
    import org.apache.spark.sql.catalyst.expressions.OuterReference
    def conjsOf(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjsOf(l) ++ conjsOf(r)
      case o         => Seq(o)
    }
    def hasOuter(e: Expression): Boolean =
      e.exists(_.isInstanceOf[OuterReference])
    val (correlated, inner) = conjsOf(fc).partition(hasOuter)
    val pairs = correlated.map {
      case eq @ EqualTo(l, r) =>
        def outerSide(e: Expression): Option[Expression] = {
          val outers = e.collect {
            case OuterReference(a: AttributeReference) => a }
          if (e.deterministic && outers.nonEmpty &&
              e.references.isEmpty && // no inner refs mixed in
              outers.forall(target.outputSet.contains))
            Some(e.transform {
              case OuterReference(a: AttributeReference) => a })
          else None
        }
        def innerSide(e: Expression): Boolean =
          !hasOuter(e) && e.deterministic &&
            e.references.subsetOf(child.outputSet)
        (outerSide(l), outerSide(r)) match {
          case (Some(v), None) if innerSide(r) => (r, v)
          case (None, Some(v)) if innerSide(l) => (l, v)
          case _ => refuse(s"the correlated $what subquery's " +
            s"predicate '${eq.sql}' does not split into one " +
            "table-side expression and one inner-side expression — " +
            "only key equalities decorrelate to the materialized key " +
            "list; use the typed API")
        }
      case other => refuse(s"the correlated $what subquery's predicate " +
        s"'${other.sql}' is not an equality — only pure key " +
        "equalities decorrelate; use the typed API")
    }
    if (pairs.isEmpty) refuse(
      s"the $what subquery carries no key-equality correlation the " +
        "decorrelator can anchor on; use the typed API")
    (pairs, inner)
  }

  /** Merge STACKED Projects (the analyzer's shape for a computed
    * select list — an attribute-rename Project over the aliased
    * expressions) into one, inlining inner aliases into the outer
    * list, so the shape matchers see `SELECT <exprs> FROM ... WHERE`
    * as a single Project over the Filter. */
  private def collapseProjects(p: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Project => LProject}
    p match {
      case LProject(ps1, LProject(ps2, ch)) =>
        val byId = ps2.map(ne => ne.toAttribute.exprId -> (ne match {
          case a: Alias => a.child
          case o        => o: Expression
        })).toMap
        val merged = ps1.map { ne =>
          (ne.transformUp {
            case ar: AttributeReference if byId.contains(ar.exprId) =>
              byId(ar.exprId)
          }) match {
            case n: NamedExpression => n
            case e                  => Alias(e, ne.name)()
          }
        }
        collapseProjects(LProject(merged, ch))
      case other => other
    }
  }

  /** Decorrelate a top-level `(v1..vk) NOT IN (SELECT x1..xk FROM s
    * WHERE s.j = t.j [AND inner])` conjunct — SQL's hardest subquery
    * form (a NULL anywhere flips matches to non-matches) — into the
    * KEY-PREFIXED uncorrelated [[SubqueryPred]]:
    *
    * {{{ (t.j IS NULL) OR NOT((t.j, v*) IN
    *       (SELECT j, x* FROM s WHERE inner AND j IS NOT NULL)) }}}
    *
    * Exact at a WHERE top level (NULL ≡ FALSE) by cases on the
    * per-row key set S_t = {x* : s.j = t.j AND inner}:
    *  - an outer key NULL ⟹ S_t is empty (equality with NULL never
    *    holds) ⟹ `NOT IN ()` is TRUE — the explicit IS NULL arm; the
    *    row-IN alone could answer NULL here (a tuple matching on every
    *    other position), which WHERE would wrongly drop;
    *  - outer keys non-NULL: tuples with j ≠ t.j mismatch DEFINITELY
    *    on the key prefix, contributing FALSE to the row-IN — exactly
    *    their absence from S_t; tuples with j = t.j reduce the row-IN
    *    to `v* IN S_t` position-for-position. [[rowIn]]'s null-pattern
    *    dispatch (literal arm) or the potential-match join
    *    ([[graft.table.SemiTag]], past the cap) then reproduces the
    *    full 3-valued algebra with no special casing. Inner rows with
    *    a NULL key are filtered: they are not in S_t, and leaving them
    *    would let a NULL key tuple turn a definite FALSE into NULL.
    *
    * [[conjoin]] picks the arm by materialized size — correlated NOT
    * IN scales to unbounded inner sides exactly like every other
    * subquery-DML conjunct. */
  private[table] def correlatedNotIn(values: Seq[Expression],
      plan: LogicalPlan,
      target: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
      anchor: Expression => Expression,
      refuse: String => Nothing): SubqueryPred = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, IsNotNull, OuterReference}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject}
    val (proj, fc, child) = collapseProjects(plan) match {
      case LProject(ps, LFilter(c, ch)) => (ps, c, ch)
      case _ => refuse("the correlated NOT IN subquery's shape is not " +
        "SELECT <exprs> FROM ... WHERE <correlation> — decorrelate by " +
        "hand, or use the typed API")
    }
    if (proj.length != values.length) refuse(
      "the correlated NOT IN subquery's select list does not match " +
        "its left side")
    val xs = proj.map(UpdateLogRule.stripAlias)
    xs.foreach { x =>
      if (x.exists(_.isInstanceOf[OuterReference]) || !x.deterministic ||
          !x.references.subsetOf(child.outputSet))
        refuse("the correlated NOT IN subquery's select list must be " +
          s"inner-side expressions only (got '$x'); use the typed API")
    }
    val (pairs, inner) = correlationSplit(fc, child, target, "NOT IN", refuse)
    val keyed = LProject(
      (pairs.map(_._1) ++ xs).zipWithIndex.map { case (e, i) =>
        Alias(e, s"__graft_nin_c$i")():
          org.apache.spark.sql.catalyst.expressions.NamedExpression },
      LFilter((inner ++ pairs.map(p => IsNotNull(p._1): Expression))
        .reduce(And(_, _)), child))
    SubqueryPred(("in", (pairs.map(_._2) ++ values).map(anchor)),
      keyed, negated = true, nullCollapse = false,
      keyArity = pairs.length)
  }

  /** Replace every UNCORRELATED subquery in `e` with its materialized
    * constant form: a scalar subquery becomes a typed Literal (empty →
    * NULL, >1 row refuses — the SQL scalar contract), EXISTS becomes a
    * boolean literal, IN becomes a literal `In` list (bounded by
    * [[MaxKeys]]; empty → FALSE so `NOT IN ()` folds to TRUE; NULL
    * elements keep SQL's 3-valued semantics through `In` itself).
    * Works at ANY nesting — under OR-trees, inside arithmetic — which
    * is what lets the DML refusal surface shrink to correlated
    * subqueries only. The result is literal-only, so the change feed's
    * predicate-SQL replay gets a session-free expression for free. */
  def materialize(spark: SparkSession, e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Exists, In, InSubquery, ListQuery, Literal, ScalarSubquery}
    e.transformUp {
      case sc: ScalarSubquery if sc.outerAttrs.isEmpty =>
        val rows = org.apache.spark.sql.GraftBridge.ofRows(spark, sc.plan)
          .limit(2).collect()
        if (rows.length > 1) throw new IllegalStateException(
          "scalar subquery in a DML statement returned more than one row")
        val v = rows.headOption.map(_.get(0)).orNull
        v match {
          // the decorrelated-scalar key→value map: bound like every
          // tuple list — past the cap a literal stops being a predicate
          case s: scala.collection.Seq[_]
              if s.length > MaxTupleKeys &&
                sc.plan.output.headOption.exists(
                  _.metadata.contains(ScalarMapMetaKey)) =>
            throw new UnsupportedOperationException(
              s"the correlated scalar subquery materialized more than " +
                s"$MaxTupleKeys distinct keys — use the typed API for " +
                "unbounded per-key aggregates")
          case _ => ()
        }
        Literal.create(v, sc.dataType)
      case ex: Exists if ex.outerAttrs.isEmpty =>
        Literal(org.apache.spark.sql.GraftBridge.ofRows(spark, ex.plan)
          .limit(1).collect().nonEmpty)
      case InSubquery(values, l: ListQuery) if l.outerAttrs.isEmpty =>
        val df = org.apache.spark.sql.GraftBridge.ofRows(spark, l.plan)
        val cap = if (values.length == 1) MaxKeys else MaxTupleKeys
        val rows = df.limit(cap + 1).collect()
        if (rows.length > cap) throw new UnsupportedOperationException(
          s"the IN-subquery materialized more than $cap keys — use " +
            "the typed deleteKeys/mergeByKey APIs for unbounded key sets")
        if (rows.isEmpty) Literal(false)
        else if (values.length == 1) {
          val dt = df.schema.head.dataType
          In(values.head, rows.toSeq.map(r => Literal.create(r.get(0), dt)))
        } else rowIn(values, rows.toSeq, df.schema)
    }
  }

  /** The flat MULTI-COLUMN row-IN: `(v1..vk) IN (<tuples>)` as
    * constant-DEPTH Catalyst nodes. The r15 form — a left-deep
    * `reduce(Or)` over per-tuple AND-equality folds — made expression
    * tree depth equal the tuple count, and every recursive Catalyst
    * walk (`transformUp`/`mapChildren`) then blew the thread stack once
    * the materialized key set reached the thousands (q61 at sf0.1).
    * This form is stack-safe at ANY list size and exact on SQL's
    * 3-valued row-wise IN:
    *
    *  - NULL-free tuples become ONE `In(CreateStruct(values), lits)`
    *    node — Spark's own parse shape for a literal row-IN, which
    *    `OptimizeIn` hashes into `InSet`: O(1) evaluation per row
    *    instead of the fold's O(tuples);
    *  - a NULL-carrying LEFT row answers NULL when some tuple matches
    *    every non-NULL position and FALSE otherwise (struct equality
    *    alone would say FALSE for both — observable under NOT IN), so
    *    a null-pattern dispatch over the 2^k - 1 partial patterns
    *    (k = tuple arity ≤ the select-list width) tests each with a
    *    flat position-projected `In`; arity > 4 falls back to the
    *    balanced fold rather than build 2^k projections;
    *  - NULL-carrying LIST tuples (which can only answer NULL or
    *    FALSE) group by null pattern and test "some tuple potentially
    *    matches" with flat position-projected `In`s (left NULLs
    *    wildcard via the same dispatch) — NULL if so, FALSE otherwise,
    *    OR'd in under Catalyst's own 3-valued `Or`; arity > 4 keeps
    *    the balanced equality fold. */
  private[table] def rowIn(values: Seq[Expression], rows: Seq[Row],
      schema: org.apache.spark.sql.types.StructType): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{CreateStruct, If, In, IsNull, Or}
    import org.apache.spark.sql.catalyst.expressions.{Literal => Lit}
    import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
    val dts = schema.map(_.dataType)
    val k = values.length
    def balanced(es: Seq[Expression], mk: (Expression, Expression) => Expression)
        : Expression =
      if (es.length == 1) es.head
      else mk(balanced(es.take(es.length / 2), mk),
        balanced(es.drop(es.length / 2), mk))
    def foldOf(tuples: Seq[Row]): Expression = balanced(
      tuples.map { r =>
        balanced(values.zipWithIndex.map { case (v, i) =>
          EqualTo(v, Lit.create(r.get(i), dts(i))): Expression
        }, And(_, _))
      }, Or(_, _))
    val (clean, dirty) = rows.partition(r => (0 until k).forall(!r.isNullAt(_)))
    // field names mirror the left values where nameable, so struct type
    // coercion (InConversion) lines the sides up even on widened types
    def fieldName(i: Int): String = values(i) match {
      case ua: UnresolvedAttribute => ua.nameParts.last
      case a: AttributeReference   => a.name
      case _                       => s"c$i"
    }
    def projIn(tuples: Seq[Row], pos: Seq[Int]): Expression = {
      val projected = tuples.map(r => pos.map(r.get)).distinct
      if (pos.length == 1)
        In(values(pos.head),
          projected.map(p => Lit.create(p.head, dts(pos.head))))
      else {
        val st = StructType(pos.map(i => StructField(fieldName(i), dts(i))))
        In(CreateStruct(pos.map(values)),
          projected.map(p => Lit.create(Row(p: _*), st)))
      }
    }
    val cleanExpr: Expression =
      if (clean.isEmpty) Lit(false)
      else if (k > 4) foldOf(clean) // 2^k dispatch stops paying; exact fold
      else {
        // recursive null-pattern dispatch: at each position branch on
        // IsNull, leaves hold the pattern's flat partial-match test
        def dispatch(i: Int, nonNull: List[Int]): Expression =
          if (i == k) {
            val pos = nonNull.reverse
            if (pos.length == k) projIn(clean, pos) // no NULLs: strict
            else if (pos.isEmpty) Lit.create(null, BooleanType)
            else If(projIn(clean, pos),
              Lit.create(null, BooleanType), Lit(false))
          } else If(IsNull(values(i)), dispatch(i + 1, nonNull),
            dispatch(i + 1, i :: nonNull))
        dispatch(0, Nil)
      }
    // NULL-carrying LIST tuples can only answer NULL or FALSE: NULL iff
    // some dirty tuple has NO definite mismatch ("potentially matches"
    // — every non-null position equals-or-faces-a-NULL-left). The r16
    // q62 lesson: an explicit equality fold here is O(tuples) expression
    // NODES and NULL-heavy inner sides are the NORM for correlated NOT
    // IN (a CASE-guarded select list is mostly NULL), so a few thousand
    // dirty tuples blew whole-stage codegen past janino's method limit.
    // Instead, group dirty tuples by their null PATTERN p and dispatch
    // on the LEFT side's nulls within p: at leaf q (left-non-null ∩ p),
    // potential-match ⟺ the q-projection of the left tuple is IN the
    // group's q-projections — flat, InSet-convertible, O(2^k) nodes.
    val dirtyExpr: Expression =
      if (dirty.isEmpty) Lit(false)
      else if (k > 4) foldOf(dirty) // matches the clean arm's cutoff
      else {
        val potential = dirty
          .groupBy(r => (0 until k).filter(i => !r.isNullAt(i)))
          .toSeq.sortBy(_._1.mkString(","))
          .map { case (p, tuples) =>
            def disp(rem: List[Int], nonNull: List[Int]): Expression =
              rem match {
                case Nil =>
                  val q = nonNull.reverse
                  if (q.isEmpty) Lit(true) // every position wildcarded
                  else projIn(tuples, q)
                case i :: rest =>
                  If(IsNull(values(i)), disp(rest, nonNull),
                    disp(rest, i :: nonNull))
              }
            disp(p.toList, Nil): Expression
          }
        If(balanced(potential, Or(_, _)),
          Lit.create(null, BooleanType), Lit(false))
      }
    if (dirty.isEmpty) cleanExpr else Or(cleanExpr, dirtyExpr)
  }

  /** Fold the materialized subqueries into `base`, returning the full
    * condition, any derivable range hints (min/max of a non-negated
    * key set over a bare column — sound: implied by the IN), and the
    * [[graft.table.SemiTag]]s for key sets PAST the literal cap.
    *
    * Two execution arms per conjunct, chosen by materialized size:
    *  - at or under [[MaxKeys]]/[[MaxTupleKeys]]: the key list folds to
    *    a literal predicate (renderable SQL → mirror replay; `InSet`
    *    evaluation) — identical to the historical behavior;
    *  - past the cap: NO literal materializes at all — the DISTINCT
    *    key frame rides to the counting planner as a join
    *    ([[SnapshotLog]] broadcast or shuffle, Spark's choice), which
    *    is the only shape that survives a 10M-key GDPR delete. The
    *    pruning hint still derives from a min/max AGGREGATE of the key
    *    frame (two scalars, never the keys themselves). Multi-column
    *    and decorrelated-correlated NOT IN past the cap ride the
    *    "no potential match" join ([[graft.table.SemiTag]] `potential`)
    *    — NO size refusal remains on any subquery-DML shape. */
  def conjoin(spark: SparkSession, base: org.apache.spark.sql.Column,
      subs: Seq[SubqueryPred])
      : (org.apache.spark.sql.Column, Seq[(String, Any, Any)],
         Seq[graft.table.SemiTag]) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max, min}
    val hints = Seq.newBuilder[(String, Any, Any)]
    val tags = Seq.newBuilder[graft.table.SemiTag]
    def toC(e: Expression) = org.apache.spark.sql.GraftBridge.toCol(e)
    val full = subs.foldLeft(base) { (acc, s) =>
      val df0 = org.apache.spark.sql.GraftBridge.ofRows(spark, s.plan)
      val vexprs = s.values._2
      require(df0.schema.length == vexprs.length,
        s"IN-subquery arity mismatch: left side has ${vexprs.length} " +
          s"column(s), subquery returns ${df0.schema.length}")
      val arity = vexprs.length
      val cap = if (arity == 1) MaxKeys else MaxTupleKeys
      val df = df0.toDF(vexprs.indices.map(i => s"k$i"): _*)
      val rows = df.limit(cap + 1).collect()
      val inC: org.apache.spark.sql.Column = if (rows.length > cap) {
        // ---- join arm: the key set never materializes on the driver
        if (s.negated && !s.nullCollapse && (arity > 1 || s.keyArity > 0)) {
          // multi-column (or decorrelated-correlated) NOT IN: the
          // "no potential match" join — DISTINCT keys WITH their NULLs
          // (a NULL wildcards; a NULL-carrying key row potentially
          // matches everything, so the conjunct correctly matches
          // nothing) — checkpointed so every planner pass sees
          // identical keys
          val keys = df.distinct().localCheckpoint(true)
          tags += graft.table.SemiTag(vexprs.map(toC), keys,
            negated = true, nullCollapse = false,
            potential = true, keyPrefix = s.keyArity)
          lit(true) // matching happens through the SemiTag flag
        } else if (s.negated && !s.nullCollapse &&
            df.where(col("k0").isNull).limit(1).count() > 0)
          // single-column NOT IN over a set containing NULL is never
          // TRUE (SQL 3-valued) — the conjunct short-circuits the DML
          lit(false)
        else {
          // distinct + null-free (a NULL key can never equal anything;
          // the NOT IN null case was handled above) + checkpointed so
          // the planner's counting/staging/CDC passes see identical
          // keys even over a nondeterministic subquery
          val keys = df.na.drop("any").distinct().localCheckpoint(true)
          tags += graft.table.SemiTag(vexprs.map(toC), keys,
            s.negated, s.nullCollapse)
          if (!s.negated && arity == 1) vexprs.head match {
            case ua: UnresolvedAttribute if ua.nameParts.length == 1 =>
              // two scalars off the key frame — the stats-pruning
              // envelope without materializing a single key
              val mm = keys.agg(min(col("k0")), max(col("k0"))).head()
              if (!mm.isNullAt(0)) hints += ((ua.name, mm.get(0), mm.get(1)))
            case _ => ()
          }
          lit(true) // matching happens through the SemiTag flag
        }
      } else if (arity == 1) {
        // ---- literal arm, single column (the historical fold)
        val vals = rows.map(_.get(0)).toSeq
        val nonNull = vals.filter(_ != null)
        val c = toC(vexprs.head)
        val raw =
          if (s.nullCollapse) {
            // the EXISTS translation: coalesce(IN, false) BEFORE any
            // negation — a NULL left key witnesses no EXISTS (→ false),
            // so NOT EXISTS must match it (inner keys are already
            // null-filtered by the decorrelator)
            val in2 = coalesce(
              if (nonNull.isEmpty) lit(false) else c.isin(nonNull: _*),
              lit(false))
            if (s.negated) !in2 else in2
          } else if (!s.negated) {
            // IN: NULL list elements can never equal anything — drop
            // them (sound at a WHERE top level, where NULL ≡ FALSE)
            if (nonNull.isEmpty) lit(false) else c.isin(nonNull: _*)
          } else {
            if (vals.isEmpty) lit(true) // NOT IN () is TRUE for every row
            else if (nonNull.length < vals.length)
              lit(false) // NOT IN with a NULL is never TRUE — 3-valued
            else !c.isin(nonNull: _*)
          }
        if (!s.negated && nonNull.nonEmpty) vexprs.head match {
          case ua: UnresolvedAttribute if ua.nameParts.length == 1 =>
            // bare-column IN-list: its min/max is a sound pruning hint
            scala.util.Try {
              val sorted = nonNull.sortWith((a, b) =>
                a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
              hints += ((ua.name, sorted.head, sorted.last))
            }
            ()
          case _ => ()
        }
        raw
      } else {
        // ---- literal arm, multi column: the flat struct-IN (exact
        // 3-valued row-wise semantics via the null-pattern dispatch)
        val raw = toC(rowIn(vexprs, rows.toSeq, df0.schema))
        val wrapped = if (s.nullCollapse) coalesce(raw, lit(false)) else raw
        val neg = if (s.negated) !wrapped else wrapped
        if (s.keyArity == 0) neg
        else {
          // decorrelated NOT IN: a NULL correlation-key prefix value
          // means the per-row key set is EMPTY — NOT IN () is TRUE
          // (the row-IN alone would answer NULL there, and WHERE
          // would wrongly drop the row)
          val anyKeyNull = vexprs.take(s.keyArity)
            .map(e => toC(e).isNull).reduce(_ || _)
          anyKeyNull || neg
        }
      }
      acc && inC
    }
    (full, hints.result(), tags.result())
  }
}

/** The executable general-predicate DELETE: resolves the table's log at
  * execution (WAP-branch aware, like every DML command) and commits
  * through [[SnapshotLog.deleteWhereExpr]]'s counting planner. */
final case class DeleteExprLogCommand(tableDir: String,
    cond: (String, Expression), // tuple-wrapped: the re-anchored names
    // resolve against the planner's counting frame at EXECUTION, so the
    // expression must stay out of this command's `expressions` (same
    // convention as every DML command here)
    hints: Seq[(String, Any, Any)],
    subs: Seq[SubqueryPred] = Nil) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = subs.map(_.plan)

  override def run(spark: SparkSession): Seq[Row] = {
    val (full, subHints, semis) = SubqueryPred.conjoin(spark,
      org.apache.spark.sql.GraftBridge.toCol(
        SubqueryPred.materialize(spark, cond._2)), subs)
    GraftTableCatalog.sessionLog(spark, tableDir).deleteWhereExpr(
      full, hints ++ subHints, txn = None, semis = semis)
    Seq.empty
  }
}

/** The executable general-predicate UPDATE — [[UpdateLogCommand]]'s
  * expr twin, committing through [[SnapshotLog.updateWhereExpr]]. */
final case class UpdateExprLogCommand(tableDir: String,
    cond: (String, Expression), // tuple-wrapped, like DeleteExprLogCommand
    hints: Seq[(String, Any, Any)],
    set: Seq[(String, Expression)],
    subs: Seq[SubqueryPred] = Nil) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = subs.map(_.plan)

  override def run(spark: SparkSession): Seq[Row] = {
    val (full, subHints, semis) = SubqueryPred.conjoin(spark,
      org.apache.spark.sql.GraftBridge.toCol(
        SubqueryPred.materialize(spark, cond._2)), subs)
    GraftTableCatalog.sessionLog(spark, tableDir).updateWhereExpr(
      full,
      set.map { case (n, e) =>
        n -> org.apache.spark.sql.GraftBridge.toCol(
          SubqueryPred.materialize(spark, e)) },
      hints ++ subHints, txn = None, semis = semis)
    Seq.empty
  }
}

/** The executable UPDATE: resolves the table's log at execution and
  * commits through [[SnapshotLog.updateWhereTxn]]'s stats-targeted
  * planner (sparse matches take the deletion-vector merge-on-read
  * arm, dense ones rewrite; see
  * [[UpdateLogRule]]); the counting, survivor rewrite and updated-batch
  * staging inside are fully distributed — only the commit decision is
  * local, like every log commit. */
final case class UpdateLogCommand(tableDir: String,
    preds: Seq[(String, Any, Any)],
    set: Seq[(String, Expression)]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    GraftTableCatalog.sessionLog(spark, tableDir).updateWhereTxn(preds,
      set.map { case (n, e) =>
        n -> org.apache.spark.sql.GraftBridge.toCol(
          SubqueryPred.materialize(spark, e)) },
      txn = None)
    Seq.empty
  }
}

private[graft] object MergeClausesLogCommand {
  /** (condition, action, assignments) — the serializable clause form
    * the resolution rule hands the command; Columns are rebuilt from
    * the re-anchored expressions at execution. */
  type RawClause = (Option[Expression], String, Seq[(String, Expression)])
}

/** The executable SQL MERGE — every `MERGE INTO` on a log table plans
  * to this command: it resolves the table's log at execution and
  * commits through [[SnapshotLog.mergeClauses]] (per-key or envelope
  * file routing, one full-outer classification join, one per-target-row
  * ambiguity probe, first-wins clauses, CDC images) — fully
  * distributed; only the commit decision is local. */
final case class MergeClausesLogCommand(tableDir: String,
    keys: Seq[(String, String)],
    matched: Seq[MergeClausesLogCommand.RawClause],
    notMatched: Seq[MergeClausesLogCommand.RawClause],
    bySource: Seq[MergeClausesLogCommand.RawClause],
    source: LogicalPlan,
    /** Non-equality ON conjuncts (re-anchored like clause conditions:
      * target names bare, source names MergeSrcPrefix'd) — carried into
      * the classification join, so `ON eq-keys AND residual` merges
      * (the CDC update-newer-only shape) translate instead of refusing.
      * Tuple-wrapped like RawClause so QueryPlan.expressions does NOT
      * collect the deliberately-unresolved names (they resolve against
      * the joined frame at execution, not against this command). */
    residual: Seq[(String, Expression)] = Nil) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.GraftBridge.ofRows(spark, source)
    def c(e: Expression) = org.apache.spark.sql.GraftBridge.toCol(
      SubqueryPred.materialize(spark, e))
    def mk(raw: Seq[MergeClausesLogCommand.RawClause]): Seq[MergeWhen] =
      raw.map { case (cond, action, assigns) =>
        MergeWhen(cond.map(c), action,
          assigns.map { case (n, e) => n -> c(e) })
      }
    GraftTableCatalog.sessionLog(spark, tableDir).mergeClauses(src, keys,
      mk(matched), mk(notMatched), mk(bySource),
      residual = residual.map(r => c(r._2)).reduceOption(_ && _))
    Seq.empty
  }
}
