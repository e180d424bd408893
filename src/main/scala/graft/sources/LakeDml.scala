package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InheritAnalysisRules, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{expr, lit}

/** SQL `UPDATE` and `MERGE INTO` over lake tables (r12) — the analyzer
  * rule [[graft.GraftExtensions]] injects (post-hoc resolution): an
  * analyzed `UpdateTable` / `MergeIntoTable` whose target resolves to a
  * lake table — the DSv2 catalog's [[LakeV2Table]] OR a session-catalog
  * `USING graft-lake` [[LakeRelation]] — rewrites into a command running
  * the MERGE-ON-READ DV commit ([[LakeTable.updateWhereDv]] /
  * [[LakeTable.mergeDv]]: one atomic commit, sidecar hides matched
  * rows, fresh files carry the new copies, zero pre-existing files
  * rewritten). Spark itself supports these statements only through
  * `SupportsRowLevelOperations` group rewrites (copy-on-write); this
  * rule is the extension-point spelling of the merge-on-read path.
  *
  * Scope, enforced here so an unsupported statement fails at ANALYSIS
  * and never half-applies: UPDATE takes top-level column assignments
  * only (no nested fields) and no subqueries (the rewrite carries
  * expressions by their generated SQL — scalar expressions over the
  * table's own columns round-trip exactly; a subquery would not);
  * MERGE takes the canonical-upsert shape (equality keys, single
  * unconditional UPDATE SET * / INSERT * clauses). Anything out of
  * scope falls through untouched, so Spark's own
  * "requires row-level operation support" error surfaces. */
class LakeUpdateRule(session: SparkSession) extends Rule[LogicalPlan] {
  /** (dir, display name, isV2) of the lake target, if any. */
  private def lakeDirOf(table: LogicalPlan)
      : Option[(String, String, Boolean)] =
    table.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[LakeV2Table] =>
        val t = r.table.asInstanceOf[LakeV2Table]
        (t.dir, t.name(), true)
      case l: LogicalRelation if l.relation.isInstanceOf[LakeRelation] =>
        val rel = l.relation.asInstanceOf[LakeRelation]
        (rel.tableDir, rel.tableDir, false)
    }

  private def noSubquery(e: Expression): Boolean =
    !e.containsPattern(
      org.apache.spark.sql.catalyst.trees.TreePattern.PLAN_EXPRESSION)

  /** `.sql` of the expression with attribute QUALIFIERS stripped — the
    * analyzed tree renders `cat.ns.tbl.col`, which cannot re-resolve
    * against the bare table frame the command reads. */
  private def bareSql(e: Expression): String = unqualified(e).sql

  private def unqualified(e: Expression): Expression =
    e.transform {
      case a: AttributeReference => a.withQualifier(Seq.empty)
      // BETWEEN, IFNULL, NVL, … render their ORIGINAL parameters, which
      // are constructor arguments but not children (the child is the
      // replacement), so `transform` alone never reaches them
      case r: InheritAnalysisRules =>
        r.makeCopy(r.productIterator.map {
          case c: Expression => unqualified(c)
          case other => other.asInstanceOf[AnyRef]
        }.toArray)
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case u @ UpdateTable(table, assignments, condition) if u.resolved =>
        lakeDirOf(table) match {
          case Some((dir, ident, _))
              if assignments.forall {
                   case Assignment(_: Attribute, v) => noSubquery(v)
                   case _ => false
                 } && condition.forall(noSubquery) =>
            UpdateLakeDvCommand(dir, ident,
              condition.map(bareSql),
              assignments.map {
                case Assignment(a: Attribute, v) => a.name -> bareSql(v)
              })
          case _ => u // not a lake table / out of scope: Spark's error
        }

      // SQL DELETE beyond source-filter pushability (r12): the DSv2
      // SupportsDelete binding remains PRIMARY for pushable conditions
      // (attribute-vs-literal comparisons — left untouched here so the
      // native path stays exercised); scalar-but-unpushable conditions
      // (`k % 7 = 0`) and V1 `USING graft-lake` targets (no native DELETE
      // exists at all) rewrite to the same deletion-vector commit.
      // Subquery conditions fall through to Spark's error.
      case d @ DeleteFromTable(table, condition) if d.resolved =>
        lakeDirOf(table) match {
          case Some((dir, ident, isV2))
              if noSubquery(condition) &&
                 (!isV2 || !pushableCondition(condition)) =>
            DeleteLakeDvCommand(dir, ident, bareSql(condition))
          case _ => d
        }

      // SQL MERGE INTO (r12, generalized r13). The canonical-upsert and
      // matched-delete shapes keep their dedicated one-join commands
      // ([[LakeTable.mergeDv]] / [[LakeTable.deleteMatchedDv]]); every
      // other scalar shape — conditional WHEN clauses, partial /
      // non-identity assignments, partial-column INSERT, and WHEN NOT
      // MATCHED BY SOURCE — compiles to [[LakeTable.mergeConditionalDv]]
      // (first-applicable-clause CASE semantics, one merge-on-read DV
      // commit). Subquery conditions/values fall through to Spark's own
      // row-level-operation error — nothing half-applies.
      case m @ MergeIntoTable(target, source, cond,
                              matched, notMatched, bySource, _)
          if m.resolved =>
        (lakeDirOf(target), mergeKeys(target, source, cond)) match {
          case (Some((dir, ident, _)), Some(keys))
              if bySource.isEmpty &&
                 replacesWholeRow(matched, source, update = true) &&
                 replacesWholeRow(notMatched, source, update = false) &&
                 target.output.map(_.name).toSet ==
                   source.output.map(_.name).toSet =>
            MergeLakeDvCommand(dir, ident, keys, source)
          // WHEN MATCHED THEN DELETE, no other clauses: the anti-join
          // retention delete — matched target rows hidden by one
          // sidecar publish, zero rewrites
          case (Some((dir, ident, _)), Some(keys))
              if bySource.isEmpty &&
                 matched == Seq(DeleteAction(None)) && notMatched.isEmpty =>
            MergeLakeDvDeleteCommand(dir, ident, keys, source)
          case (Some((dir, ident, _)), Some(keys)) =>
            generalClauses(target, source, matched, notMatched, bySource)
              .map { case (mm, nn, bb) =>
                MergeLakeGeneralCommand(dir, ident, keys, source,
                                        mm, nn, bb): LogicalPlan
              }.getOrElse(m)
          case _ => m
        }
    }

  /** Expression rendered as SQL over the aliases `t` (target) and `s`
    * (source) — the joined-frame spelling [[LakeTable
    * .mergeConditionalDv]] re-parses. */
  private def tsSql(e: Expression, target: LogicalPlan,
                    source: LogicalPlan): String = {
    val tOut = target.outputSet
    val sOut = source.outputSet
    e.transform {
      case a: AttributeReference if tOut.contains(a) =>
        a.withQualifier(Seq("t"))
      case a: AttributeReference if sOut.contains(a) =>
        a.withQualifier(Seq("s"))
      case a: AttributeReference => a.withQualifier(Seq.empty)
    }.sql
  }

  /** Compile the three WHEN-clause lists to carried SQL fragments, or
    * None when any clause is out of scope (a subquery anywhere, a
    * nested-field or non-attribute assignment target, an exotic action
    * type) — the caller then leaves the plan to Spark's own error. */
  private def generalClauses(target: LogicalPlan, source: LogicalPlan,
      matched: Seq[MergeAction], notMatched: Seq[MergeAction],
      bySource: Seq[MergeAction])
      : Option[(Seq[(Option[String], Option[Seq[(String, String)]])],
                Seq[(Option[String], Seq[(String, String)])],
                Seq[(Option[String], Option[Seq[(String, String)]])])] = {
    val tOut = target.outputSet
    def ts(e: Expression): Option[String] =
      if (noSubquery(e)) Some(tsSql(e, target, source)) else None
    def cond(c: Option[Expression]): Option[Option[String]] = c match {
      case None => Some(None)
      case Some(e) => ts(e).map(Some(_))
    }
    def assignsOf(assigns: Seq[Assignment])
        : Option[Seq[(String, String)]] = {
      val rendered = assigns.map {
        case Assignment(k: AttributeReference, v) if tOut.contains(k) =>
          ts(v).map(k.name -> _)
        case _ => None
      }
      if (rendered.forall(_.nonEmpty)) Some(rendered.flatten) else None
    }
    // SET * / INSERT *: identity from the same-named source column —
    // requires every target column to exist in the source
    def starAssigns: Option[Seq[(String, String)]] = {
      val byName = source.output.map(a => a.name -> a).toMap
      val rendered = target.output.map(a =>
        byName.get(a.name).map(sa => a.name -> tsSql(sa, target, source)))
      if (rendered.forall(_.nonEmpty)) Some(rendered.flatten) else None
    }
    val mm = matched.map {
      case UpdateAction(c, assigns, _) =>
        for { cc <- cond(c); aa <- assignsOf(assigns) }
          yield (cc, Some(aa): Option[Seq[(String, String)]])
      case UpdateStarAction(c) =>
        for { cc <- cond(c); aa <- starAssigns }
          yield (cc, Some(aa): Option[Seq[(String, String)]])
      case DeleteAction(c) =>
        cond(c).map(cc => (cc, None: Option[Seq[(String, String)]]))
      case _ => None
    }
    val nn = notMatched.map {
      case InsertAction(c, assigns) =>
        for { cc <- cond(c); aa <- assignsOf(assigns) } yield (cc, aa)
      case InsertStarAction(c) =>
        for { cc <- cond(c); aa <- starAssigns } yield (cc, aa)
      case _ => None
    }
    val bb = bySource.map {
      case UpdateAction(c, assigns, _) =>
        for { cc <- cond(c); aa <- assignsOf(assigns) }
          yield (cc, Some(aa): Option[Seq[(String, String)]])
      case DeleteAction(c) =>
        cond(c).map(cc => (cc, None: Option[Seq[(String, String)]]))
      case _ => None
    }
    if ((mm ++ bb).forall(_.nonEmpty) && nn.forall(_.nonEmpty))
      Some((mm.flatten, nn.flatten, bb.flatten))
    else None
  }

  /** Would the DSv2 `SupportsDelete` filter bridge accept this
    * condition? Conservative on purpose: only the plain
    * attribute-vs-literal shapes count as pushable — anything richer
    * routes through the rewrite, which handles every scalar expression;
    * mis-classifying pushable as not merely moves it to the equivalent
    * DV commit. */
  private def pushableCondition(e: Expression): Boolean = e match {
    case And(l, r) => pushableCondition(l) && pushableCondition(r)
    case Or(l, r) => pushableCondition(l) && pushableCondition(r)
    case Not(c) => pushableCondition(c)
    case EqualTo(_: AttributeReference, _: Literal) => true
    case EqualTo(_: Literal, _: AttributeReference) => true
    case GreaterThan(_: AttributeReference, _: Literal) => true
    case GreaterThan(_: Literal, _: AttributeReference) => true
    case GreaterThanOrEqual(_: AttributeReference, _: Literal) => true
    case GreaterThanOrEqual(_: Literal, _: AttributeReference) => true
    case LessThan(_: AttributeReference, _: Literal) => true
    case LessThan(_: Literal, _: AttributeReference) => true
    case LessThanOrEqual(_: AttributeReference, _: Literal) => true
    case LessThanOrEqual(_: Literal, _: AttributeReference) => true
    case In(_: AttributeReference, vs) => vs.forall(_.isInstanceOf[Literal])
    case IsNull(_: AttributeReference) => true
    case IsNotNull(_: AttributeReference) => true
    case _: Literal => true // DELETE with no WHERE: the native TRUE path
    case _ => false
  }

  /** The merge condition as equality KEY names — a conjunction of
    * `t.k = s.k` pairs (same name both sides, one attribute from each
    * relation); anything else is out of scope (None). */
  private def mergeKeys(target: LogicalPlan, source: LogicalPlan,
                        cond: Expression): Option[Seq[String]] = {
    val tOut = target.outputSet
    val sOut = source.outputSet
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val ks = conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tOut.contains(a) && sOut.contains(b) && a.name == b.name =>
        Some(a.name)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if sOut.contains(b) && tOut.contains(a) && a.name == b.name =>
        Some(a.name)
      case _ => None
    }
    if (ks.nonEmpty && ks.forall(_.nonEmpty)) Some(ks.flatten.distinct)
    else None
  }

  /** Does the single unconditional action replace the whole row from the
    * source? Star actions qualify outright; expanded assignment lists
    * qualify when every assignment is the identity `t.c = s.c`. */
  private def replacesWholeRow(actions: Seq[MergeAction],
                               source: LogicalPlan,
                               update: Boolean): Boolean = {
    val sOut = source.outputSet
    def identity(assigns: Seq[Assignment]): Boolean =
      assigns.forall {
        case Assignment(k: Attribute, v: AttributeReference) =>
          sOut.contains(v) && k.name == v.name
        case _ => false
      }
    actions match {
      case Seq(UpdateStarAction(None)) if update => true
      case Seq(InsertStarAction(None)) if !update => true
      case Seq(UpdateAction(None, assigns, _)) if update => identity(assigns)
      case Seq(InsertAction(None, assigns)) if !update => identity(assigns)
      case _ => false
    }
  }
}

/** The runnable half of [[LakeUpdateRule]]: re-parses the carried SQL
  * fragments against the table's own frame and commits through
  * [[LakeTable.updateWhereDv]] (serialized write-audit-publish;
  * row-conservation + schema-evolution gates). Empty match = no-op
  * success, Delta semantics. */
object LakeDml {
  /** A table that EXISTS only as a CREATE-time `pending.json` record —
    * declared schema, no published version yet. DML against it follows
    * Delta's empty-table semantics: DELETE/UPDATE/MERGE-DELETE are
    * no-op successes, MERGE upsert births v1. A directory with neither
    * a version nor a pending record is NOT unborn — it is not a table,
    * and the ops' own "no published version" refusal stands. */
  private[sources] def unborn(dir: String): Boolean =
    LakeTable.currentVersion(dir).isEmpty &&
      LakeCatalog.readPending(dir).nonEmpty
}

case class UpdateLakeDvCommand(dir: String, ident: String,
                               condSql: Option[String],
                               sets: Seq[(String, String)])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // a CREATE'd-but-unborn table has no rows to update: no-op success
    if (LakeDml.unborn(dir)) return Seq.empty
    val pred = condSql.map(expr).getOrElse(lit(true))
    // a declared CHECK constraint gates the UPDATED copies — evaluated
    // on exactly the frame the engine will stage (same sequential
    // assignment application), O(matched rows)
    LakeCatalog.readPending(dir).flatMap(_.check).foreach { c =>
      val updated = sets.foldLeft(
          LakeTable.read(spark, dir).filter(pred)) {
        case (df, (col, sqlExpr)) => df.withColumn(col, expr(sqlExpr))
      }
      LakeCatalog.enforceCheck(updated, c, ident)
    }
    LakeTable.updateWhereDv(spark, dir, pred,
        sets.map { case (c, s) => c -> expr(s) })(_ => None) match {
      case Right(_) => Seq.empty
      case Left(reason) => throw new IllegalStateException(
        s"UPDATE $ident failed: $reason")
    }
  }
}

/** The runnable half of the unpushable-DELETE rewrite: re-parses the
  * carried condition and commits through [[LakeTable.deleteWhereDv]] —
  * any scalar predicate, the same zero-rewrite sidecar publish. */
case class DeleteLakeDvCommand(dir: String, ident: String,
                               condSql: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // a CREATE'd-but-unborn table has nothing to delete: no-op success
    if (LakeDml.unborn(dir)) return Seq.empty
    LakeTable.deleteWhereDv(spark, dir, expr(condSql))(_ => None) match {
      case Right(_) => Seq.empty
      case Left(reason) => throw new IllegalStateException(
        s"DELETE FROM $ident failed: $reason")
    }
  }
}

/** The runnable half of `MERGE ... WHEN MATCHED THEN DELETE`: executes
  * the captured source plan and hides every matched target row through
  * [[LakeTable.deleteMatchedDv]] — one sidecar publish, zero
  * rewrites. */
case class MergeLakeDvDeleteCommand(dir: String, ident: String,
                                    keys: Seq[String], source: LogicalPlan)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    // a CREATE'd-but-unborn table matches nothing: no-op success
    if (LakeDml.unborn(dir)) return Seq.empty
    val src = org.apache.spark.sql.graftshim.StreamShim.ofRows(spark, source)
    LakeTable.deleteMatchedDv(spark, dir, src, keys)(_ => None) match {
      case Right(_) => Seq.empty
      case Left(reason) => throw new IllegalStateException(
        s"MERGE DELETE INTO $ident failed: $reason")
    }
  }
}

/** The runnable half of the MERGE rewrite: executes the captured
  * (already-analyzed) source plan and commits through
  * [[LakeTable.mergeDv]] — the merge-on-read upsert (one atomic commit,
  * matched target rows hidden by sidecar, source rows in fresh files,
  * zero pre-existing files rewritten). The source plan rides as a
  * constructor field, not a child — it was fully resolved when
  * captured, and the command boundary keeps the optimizer from
  * re-planning into it. */
case class MergeLakeDvCommand(dir: String, ident: String,
                              keys: Seq[String], source: LogicalPlan)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graftshim.StreamShim.ofRows(spark, source)
    // MERGE into a CREATE'd-but-unborn table: nothing matches, so the
    // upsert degenerates to inserting every source row — it BIRTHS v1,
    // carrying the CREATE-time write defaults (Delta semantics: a merge
    // into an empty table is a plain insert)
    // a declared CHECK constraint gates the merge's incoming rows (the
    // canonical upsert replaces matched rows with the source row and
    // inserts the rest, so the source IS the new content), O(|batch|)
    LakeCatalog.readPending(dir).flatMap(_.check).foreach(c =>
      LakeCatalog.enforceCheck(src, c, ident))
    if (LakeDml.unborn(dir)) {
      val p = LakeCatalog.readPending(dir)
      LakeTable.commit(spark, dir, src, p.flatMap(_.layoutBy),
          p.map(_.statsBy).getOrElse(Seq.empty))(_ => None) match {
        case Right(_) => return Seq.empty
        case Left(reason) => throw new IllegalStateException(
          s"MERGE INTO $ident failed: $reason")
      }
    }
    LakeTable.mergeDv(spark, dir, src, keys)(_ => None) match {
      case Right(_) => Seq.empty
      case Left(reason) => throw new IllegalStateException(
        s"MERGE INTO $ident failed: $reason")
    }
  }
}

/** The runnable half of the GENERAL MERGE rewrite (r13): conditional
  * WHEN clauses, partial assignments, partial-column INSERT, and WHEN
  * NOT MATCHED BY SOURCE, compiled to carried SQL fragments over the
  * aliases `t`/`s` and executed by [[LakeTable.mergeConditionalDv]] —
  * one merge-on-read DV commit, first-applicable-clause semantics,
  * count-equation audited. A declared CHECK constraint gates the staged
  * NEW rows (updated copies + inserts), O(batch). */
case class MergeLakeGeneralCommand(dir: String, ident: String,
    keys: Seq[String], source: LogicalPlan,
    matched: Seq[(Option[String], Option[Seq[(String, String)]])],
    notMatched: Seq[(Option[String], Seq[(String, String)])],
    bySource: Seq[(Option[String], Option[Seq[(String, String)]])])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graftshim.StreamShim.ofRows(spark, source)
    val pending = LakeCatalog.readPending(dir)
    val declaredCheck = pending.flatMap(_.check)
    def checkFresh(df: org.apache.spark.sql.DataFrame): Option[String] =
      declaredCheck.flatMap { c =>
        try { LakeCatalog.enforceCheck(df, c, ident); None }
        catch { case e: IllegalStateException => Some(e.getMessage) }
      }
    if (LakeDml.unborn(dir)) {
      // nothing can match an empty table: only the NOT MATCHED clauses
      // act — apply them to the source (first applicable wins,
      // unassigned columns null-fill against the DECLARED schema) and
      // birth v1 when any row lands; an all-filtered merge is a no-op
      val schema = pending.get.schema
      val types = schema.fields.map(f => f.name -> f.dataType).toMap
      def cTrue(c: Option[String]) = c.map(x =>
        org.apache.spark.sql.functions.coalesce(
          expr(x).cast("boolean"), lit(false))).getOrElse(lit(true))
      val conds = notMatched.map(_._1)
      val s = src.alias("s")
      val frames = notMatched.zipWithIndex.map { case ((_, assigns), i) =>
        val first = conds.take(i).foldLeft(cTrue(conds(i)))(
          (acc, prev) => acc && !cTrue(prev))
        val am = assigns.toMap
        s.filter(first).select(schema.fieldNames.toSeq.map(c =>
          am.get(c).map(a => expr(a).cast(types(c)))
            .getOrElse(lit(null).cast(types(c))).as(c)): _*)
      }
      val inserts = frames.reduceOption(_ union _)
      if (inserts.isEmpty || inserts.get.isEmpty) return Seq.empty
      checkFresh(inserts.get).foreach(r => throw new IllegalStateException(
        s"MERGE INTO $ident failed: $r"))
      LakeTable.commit(spark, dir, inserts.get, pending.flatMap(_.layoutBy),
          pending.map(_.statsBy).getOrElse(Seq.empty))(_ => None) match {
        case Right(_) => return Seq.empty
        case Left(reason) => throw new IllegalStateException(
          s"MERGE INTO $ident failed: $reason")
      }
    }
    LakeTable.mergeConditionalDv(spark, dir, src, keys,
        matched, notMatched, bySource,
        layoutBy = pending.flatMap(_.layoutBy),
        statsBy = pending.map(_.statsBy).getOrElse(Seq.empty),
        checkFresh = checkFresh)(_ => None) match {
      case Right(_) => Seq.empty
      case Left(reason) => throw new IllegalStateException(
        s"MERGE INTO $ident failed: $reason")
    }
  }
}
