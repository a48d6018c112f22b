package graft.sql

import graft.ops.SnapshotTable
import org.apache.spark.sql.catalyst.analysis.{ResolvedIdentifier, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualNullSafe, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.{ColumnBridge, Frames}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Analyzer rule lowering SQL statements over [[GraftCatalog]] tables onto
  * the SnapshotTable engine (VERDICT r10 #1). Spark's OWN parser produces
  * the plans; this rule routes them, during resolution, to the existing
  * commit machinery — the same split Delta ships (DeltaCatalog for
  * identity, DeltaAnalysis for lowering):
  *
  *   - `SELECT ... FROM graft.ns.t [VERSION AS OF v]` — the v2 relation is
  *     replaced by [[SnapshotTable.read]]'s plan (attribute ids preserved
  *     via an aliasing Project), so SQL scans go through the SAME
  *     HadoopFsRelation + SnapshotFileIndex as the Scala API: manifest-
  *     bound file skipping, bloom pruning, column mapping — nothing
  *     re-implemented (GraftCatalogSpec plan-gates the pruning);
  *   - `MERGE INTO` (the reference's literal statement, main.py:349-358)
  *     → [[SnapshotTable.mergeInto]] — file-granular copy-on-write + CDC;
  *   - `DELETE FROM` / `UPDATE` → [[SnapshotTable.delete]]/`update`;
  *   - `CREATE TABLE ... AS SELECT` (main.py:369-373, incl. `LIMIT 0`)
  *     / `CREATE OR REPLACE TABLE ... AS SELECT` → snapshot commits;
  *   - `INSERT INTO` → [[SnapshotTable.append]];
  *     `INSERT OVERWRITE` (full) → a replace commit.
  *
  * DML statements wait (returned unchanged) until the analyzer has
  * resolved their conditions against the v2 relation, then lower to
  * eager leaf commands; everything that merely READS a graft table gets
  * the scan substitution. Resolved condition/assignment expressions are
  * rebased onto fresh frames by converting attribute references back to
  * by-name unresolved attributes. One top-level uncorrelated
  * `IN (SELECT ...)` conjunct in a DELETE/UPDATE WHERE decorrelates onto
  * the MERGE machinery (round 12); other subquery shapes are refused
  * loudly with a rewrite hint (the reference's surface has none). */
class GraftSqlRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def graftOf(plan: LogicalPlan): Option[GraftTable] = plan match {
    case s: SubqueryAlias => graftOf(s.child)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTable => Some(t)
      case _ => None
    }
    case _ => None
  }

  private def noSubquery(e: Expression, what: String): Unit =
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"graft SQL $what does not support subqueries; rewrite as a join")

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjunctsOf(l) ++ conjunctsOf(r)
    case other => Seq(other)
  }

  /** A DML WHERE's decomposed subquery conjunct: the tested target key
    * columns, the subquery's value plan (one column per key, in order),
    * whether the membership test is NEGATED (NOT IN / NOT EXISTS — lowers
    * onto the BY SOURCE merge arms), and whether strict NOT IN NULL
    * semantics apply (a NULL in the subquery's values makes the whole
    * statement a no-op, and NULL target keys never qualify). */
  private case class SubShape(attrs: Seq[AttributeReference], plan: LogicalPlan,
                              negated: Boolean, notInNulls: Boolean)

  /** Decompose a DML WHERE into (plain conjuncts, one optional top-level
    * membership subquery) — the round-12 surface: `IN (SELECT ...)`
    * (uncorrelated), `NOT IN (SELECT ...)` (uncorrelated), and
    * `[NOT] EXISTS (SELECT ...)` correlated on equality conjuncts. Each
    * decorrelates onto the engine's MERGE machinery: the positive forms
    * become matched-arm semi-joins (file-granular touched-set probe
    * included), the negated forms the BY SOURCE anti-arms. Anything else
    * containing a subquery — nested placement, non-equi correlation, more
    * than one membership test — is refused loudly with the rewrite hint.
    *
    * Three-valued logic is preserved structurally: subquery rows with a
    * NULL key are dropped, so under the merge's null-safe match a NULL
    * target key can never pair — it survives IN-DELETE (UNKNOWN keeps)
    * and qualifies under NOT EXISTS (no row matches it, which is exactly
    * strict SQL); NOT IN additionally carries the whole-statement no-op
    * on a NULL-bearing subquery and a `key IS NOT NULL` guard
    * ([[SubShape.notInNulls]]). */
  private def splitMembership(cond: Expression, what: String)
      : (Seq[Expression], Option[SubShape]) = {
    import org.apache.spark.sql.catalyst.expressions.{Exists, InSubquery, ListQuery, Not}
    val (withSub, plain) =
      conjunctsOf(cond).partition(_.exists(_.isInstanceOf[SubqueryExpression]))
    if (withSub.isEmpty) return (plain, None)
    require(withSub.length == 1,
      s"graft SQL $what supports at most one [NOT] IN/EXISTS (SELECT ...) " +
        s"conjunct; got ${withSub.length} subquery conjuncts")
    plain.foreach(noSubquery(_, what))
    def inShape(values: Seq[Expression], q: ListQuery, neg: Boolean): SubShape = {
      require(!q.isCorrelated,
        s"graft SQL $what supports UNCORRELATED [NOT] IN (SELECT ...) only; " +
          "decorrelate by moving the outer reference into a join")
      val attrs = values.map {
        case a: AttributeReference => a
        case other => throw new UnsupportedOperationException(
          s"graft SQL $what [NOT] IN must test plain columns, got ${other.sql}")
      }
      SubShape(attrs, q.plan, negated = neg, notInNulls = neg)
    }
    withSub.head match {
      case InSubquery(values, q: ListQuery) => (plain, Some(inShape(values, q, neg = false)))
      case Not(InSubquery(values, q: ListQuery)) => (plain, Some(inShape(values, q, neg = true)))
      case e: Exists => (plain, Some(existsShape(e, what, negated = false)))
      case Not(e: Exists) => (plain, Some(existsShape(e, what, negated = true)))
      case other => throw new UnsupportedOperationException(
        s"graft SQL $what supports [NOT] IN / [NOT] EXISTS (SELECT ...) only " +
          s"(got ${other.sql}); rewrite other subquery shapes as a join")
    }
  }

  /** Decorrelate an equi-correlated EXISTS: accept `[Project | Distinct |
    * SubqueryAlias]*` above ONE Filter whose correlated conjuncts are all
    * `outer(attr) = inner-expr` equalities; the source plan projects those
    * inner expressions (named after the outer attrs) over the Filter's
    * residual — existence is insensitive to the upper projections. Other
    * placements (correlated aggregates, non-equi correlation, correlation
    * spread over several Filters) are refused loudly. */
  private def existsShape(e: org.apache.spark.sql.catalyst.expressions.Exists,
                          what: String, negated: Boolean): SubShape = {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, OuterReference}
    def hasOuter(x: Expression): Boolean = x.exists(_.isInstanceOf[OuterReference])
    def dig(p: LogicalPlan): (Seq[(AttributeReference, Expression)], LogicalPlan) =
      p match {
        case prj: Project if !prj.projectList.exists(hasOuter) => dig(prj.child)
        case d: Distinct => dig(d.child)
        case s: SubqueryAlias => dig(s.child)
        case f: Filter if hasOuter(f.condition) =>
          val (corr, rest) = conjunctsOf(f.condition).partition(hasOuter)
          require(!rest.exists(hasOuter), "unreachable")
          val pairs = corr.map {
            case EqualTo(OuterReference(a: AttributeReference), inner) if !hasOuter(inner) =>
              (a, inner)
            case EqualTo(inner, OuterReference(a: AttributeReference)) if !hasOuter(inner) =>
              (a, inner)
            case other => throw new UnsupportedOperationException(
              s"graft SQL $what EXISTS must correlate via equality " +
                s"(outer.col = expr); got ${other.sql}")
          }
          val residual = rest.reduceOption(
            org.apache.spark.sql.catalyst.expressions.And.apply)
            .map(Filter(_, f.child)).getOrElse(f.child)
          (pairs, residual)
        case other => throw new UnsupportedOperationException(
          s"graft SQL $what EXISTS correlation must sit in one WHERE over " +
            s"the subquery's scan; found ${other.nodeName} in between")
      }
    val (pairs, residual) = dig(e.plan)
    require(pairs.nonEmpty,
      s"graft SQL $what EXISTS must correlate on at least one equality " +
        "(an uncorrelated EXISTS is a constant; evaluate it separately)")
    val projected = Project(pairs.map { case (a, inner) =>
      Alias(inner, a.name)()
    }, residual)
    SubShape(pairs.map(_._1), projected, negated, notInNulls = false)
  }

  /** Rebase a target-side expression onto the merge's `t` alias. */
  private def targetSide(e: Expression): Column =
    ColumnBridge.column(inlineWith(e).transform {
      case a: AttributeReference => UnresolvedAttribute(Seq("t", a.name))
    })

  /** The membership subquery's value list as a deduplicated, NULL-free
    * merge source named after the tested target columns. Dropping NULL
    * rows is what keeps strict three-valued semantics under the engine's
    * null-safe match (see [[splitMembership]]). */
  private def inSource(shape: SubShape): DataFrame = {
    val keyNames = shape.attrs.map(_.name)
    df(shape.plan).toDF(keyNames: _*).na.drop("any", keyNames).distinct()
  }

  /** The raw (pre-drop) key frame for the NOT IN no-op guard. */
  private def rawKeys(shape: SubShape): Option[DataFrame] =
    if (!shape.notInNulls) None
    else Some(df(shape.plan).toDF(shape.attrs.map(_.name): _*))

  /** The negated forms' clause condition: residual conjuncts, plus the
    * strict NOT IN `key IS NOT NULL` guard (a NULL key is UNKNOWN under
    * NOT IN and must never qualify — while under NOT EXISTS it does). */
  private def bySourceCond(plain: Seq[Expression], shape: SubShape): Option[Column] = {
    val guards =
      if (!shape.notInNulls) Nil
      else shape.attrs.map(a => ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.IsNotNull(
          UnresolvedAttribute(Seq("t", a.name)))))
    (plain.map(targetSide) ++ guards).reduceOption(_ && _)
  }

  /** Inline `With` common-subexpression nodes (what `BETWEEN` parses to):
    * rebuilding a `With` whose defs just went unresolved (attribute →
    * UnresolvedAttribute) calls `dataType` on the def and crashes, so
    * every rebase below substitutes the defs into the body first — the
    * duplicated subexpression is tiny (DML predicates), and Spark's own
    * optimizer re-factors it anyway. */
  private def inlineWith(e: Expression): Expression = e.transformUp {
    case w: org.apache.spark.sql.catalyst.expressions.With =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      w.child.transformUp {
        case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
          defs(r.id)
      }
  }

  /** Resolved expression → Column that re-resolves BY NAME on a fresh
    * frame (attribute ids from the statement's relation would dangle). */
  private def byName(e: Expression): Column =
    ColumnBridge.column(inlineWith(e).transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  /** Like [[byName]] but qualifying each side of a MERGE onto the `t`/`s`
    * aliases [[graft.ops.MergeInto]] joins under. */
  private def bySide(e: Expression, target: MergeIntoTable): Column = {
    val tgt = target.targetTable.outputSet
    val src = target.sourceTable.outputSet
    ColumnBridge.column(inlineWith(e).transform {
      case a: AttributeReference if tgt.contains(a) =>
        UnresolvedAttribute(Seq("t", a.name))
      case a: AttributeReference if src.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
    })
  }

  private def df(plan: LogicalPlan): DataFrame = Frames.ofRows(session, plan)

  /** `CLUSTER BY (cols)` on CTAS/RTAS maps to the engine's range-clustered
    * commit (manifest bounds tight per file → key predicates file-skip);
    * PARTITIONED BY and other transforms stay refused — hive-style
    * partitioning is not this format's layout story. */
  private def clusterColumns(partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
                             what: String): Seq[String] = partitioning match {
    case Nil => Nil
    case Seq(org.apache.spark.sql.connector.expressions.ClusterByTransform(cols)) =>
      cols.map(_.fieldNames().mkString("."))
    case other => throw new UnsupportedOperationException(
      s"graft $what supports CLUSTER BY only (got ${other.mkString(", ")}); " +
        "tables cluster via CLUSTER BY / OPTIMIZE ZORDER BY, not partition transforms")
  }

  /** MERGE key columns from the ON condition: a conjunction of equality
    * (or null-safe equality) between same-named target and source
    * attributes — exactly the reference's `ON T._id = S._id` shape.
    *
    * Semantics note: the engine's [[SnapshotTable.mergeInto]] matches keys
    * NULL-SAFELY (a NULL source key pairs with a NULL target key — the
    * file-granular probe depends on it; MergeIntoSpec pins it), so `=` and
    * `<=>` in the ON clause lower identically. This diverges from strict
    * SQL `=` only for tables with NULLABLE merge keys (strict SQL would
    * re-insert the NULL-keyed row forever instead of updating it); the
    * reference's `_id` keys are non-null, and null-safe is the defensible
    * behavior for the divergent case. */
  private def keysOf(m: MergeIntoTable): Seq[String] = {
    val tgt = m.targetTable.outputSet
    val src = m.sourceTable.outputSet
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(m.mergeCondition).map {
      case EqualTo(l: AttributeReference, r: AttributeReference) => (l, r)
      case EqualNullSafe(l: AttributeReference, r: AttributeReference) => (l, r)
      case other => throw new UnsupportedOperationException(
        s"MERGE INTO graft tables needs an equi-key ON clause; got: ${other.sql}")
    }.map { case (l, r) =>
      val (t, s) =
        if (tgt.contains(l) && src.contains(r)) (l, r)
        else if (tgt.contains(r) && src.contains(l)) (r, l)
        else throw new UnsupportedOperationException(
          s"MERGE ON must compare target to source: ${l.sql} = ${r.sql}")
      require(t.name.equalsIgnoreCase(s.name),
        s"MERGE ON must join same-named key columns (got ${t.name} = ${s.name})")
      t.name
    }
  }

  /** Is this assignment list the identity "take every column from the
    * source" (what `UPDATE SET *` / `INSERT *` align to)? GraftTable does
    * not implement SupportsRowLevelOperations, so Spark never aligns a
    * user's explicit assignment list to the full column set — a PARTIAL
    * list of bare same-named attrs (`UPDATE SET price = s.price`) must
    * lower as a per-column update that KEEPS the unassigned target
    * columns, never be mistaken for `SET *` (ADVICE r11): star demands
    * bare same-named source attrs covering EVERY target column. */
  private def isStarAssignment(m: MergeIntoTable,
                               assignments: Seq[Assignment]): Boolean = {
    val src = m.sourceTable.outputSet
    val covered = assignments.collect {
      case Assignment(k: AttributeReference, _) => k.name.toLowerCase(java.util.Locale.ROOT)
    }.toSet
    val allColumns = m.targetTable.output
      .map(_.name.toLowerCase(java.util.Locale.ROOT)).toSet == covered
    allColumns && assignments.forall {
      case Assignment(k: AttributeReference, v) =>
        // Alignment may wrap the source attr in a declared-type cast.
        val inner = v match {
          case c: org.apache.spark.sql.catalyst.expressions.Cast => c.child
          case other => other
        }
        inner match {
          case a: AttributeReference =>
            src.contains(a) && a.name.equalsIgnoreCase(k.name)
          case _ => false
        }
      case _ => false
    }
  }

  /** Assignment list → per-column (name → rebased expression) map for the
    * engine's `UPDATE SET col = expr` / explicit-column INSERT arms. */
  private def assignmentMap(m: MergeIntoTable,
                            assignments: Seq[Assignment],
                            what: String): Map[String, Column] =
    assignments.map {
      case Assignment(k: AttributeReference, v) => k.name -> bySide(v, m)
      case Assignment(k, _) => throw new UnsupportedOperationException(
        s"$what of nested field ${k.sql} is not supported on graft tables")
    }.toMap

  private def lowerMerge(m: MergeIntoTable, t: GraftTable): LogicalPlan = {
    (m.mergeCondition +:
      (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
        .flatMap(_.condition)).foreach(noSubquery(_, "MERGE"))
    val keys = keysOf(m)
    // Every action family lowers to an ORDERED first-match-wins chain
    // (round 12 late) — any number of conditional arms, in the user's
    // clause order, exactly SQL MERGE semantics. Spark's parser already
    // enforces that only the last clause of a family may omit its
    // condition.
    val matched = m.matchedActions.map {
      case d: DeleteAction =>
        graft.ops.MergeInto.DeleteClause(d.condition.map(bySide(_, m)))
      case u: UpdateStarAction =>
        graft.ops.MergeInto.UpdateClause(u.condition.map(bySide(_, m)), None)
      case u: UpdateAction =>
        graft.ops.MergeInto.UpdateClause(u.condition.map(bySide(_, m)),
          if (isStarAssignment(m, u.assignments)) None
          else Some(assignmentMap(m, u.assignments, "UPDATE SET")))
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN MATCHED action: $other")
    }
    val notMatched = m.notMatchedActions.map {
      case i: InsertStarAction =>
        graft.ops.MergeInto.InsertClause(i.condition.map(bySide(_, m)), None)
      case i: InsertAction =>
        graft.ops.MergeInto.InsertClause(i.condition.map(bySide(_, m)),
          if (isStarAssignment(m, i.assignments)) None
          else Some(assignmentMap(m, i.assignments, "INSERT column")))
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN NOT MATCHED action: $other")
    }
    // WHEN NOT MATCHED BY SOURCE: the third clause family, over
    // target-only rows — how sync jobs expire rows that vanished from
    // the source.
    val bySource = m.notMatchedBySourceActions.map {
      case d: DeleteAction =>
        graft.ops.MergeInto.DeleteClause(d.condition.map(bySide(_, m)))
      case u: UpdateAction =>
        graft.ops.MergeInto.UpdateClause(u.condition.map(bySide(_, m)),
          Some(assignmentMap(m, u.assignments, "BY SOURCE UPDATE SET")))
      case other => throw new UnsupportedOperationException(
        s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
    }
    GraftMergeCommand(t.root, df(m.sourceTable), keys,
      matched, notMatched, bySource, evolve = m.withSchemaEvolution)
  }

  /** Late-binding persistent-view substitution (round 14, VERDICT r13
    * #6; hardened r15): any still-unresolved dotted relation whose
    * catalog is a GraftCatalog and whose name has a `_views/` definition
    * expands to the PARSED stored query under a SubqueryAlias. Expansion
    * is fully RECURSIVE in one rule invocation with an explicit seen-set
    * (VERDICT r14 #4): views over views expand here, and a cycle A→B→A
    * refuses with the named path instead of surfacing as the analyzer's
    * opaque max-iterations error. Lookups go through the catalog's
    * mtime-validated memo (ADVICE r14) so multi-pass analysis stops
    * re-probing the filesystem per relation. A view under `VERSION AS
    * OF`/`TIMESTAMP AS OF` refuses loudly: views late-bind to the
    * CURRENT table state by design — time-travel the underlying table
    * (RelationTimeTravel is a leaf, so silent substitution inside it is
    * impossible; without this pin the query died as a confusing
    * not-found). */
  private def substituteViews(plan: LogicalPlan): LogicalPlan =
    expandViews(plan, Nil)

  private def expandViews(plan: LogicalPlan,
                          seen: List[Seq[String]]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
    plan.transformUpWithSubqueries {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, _, _)
          if u.multipartIdentifier.length >= 2 &&
            viewSqlFor(u.multipartIdentifier).isDefined =>
        throw new UnsupportedOperationException(
          s"time travel over view ${u.multipartIdentifier.mkString(".")} is not " +
            "supported: views late-bind to the table's CURRENT state; " +
            "time-travel the underlying table inside the query instead")
      case u: UnresolvedRelation if u.multipartIdentifier.length >= 2 =>
        viewSqlFor(u.multipartIdentifier) match {
          case None => u
          case Some(sql) =>
            val norm = u.multipartIdentifier.map(_.toLowerCase(java.util.Locale.ROOT))
            if (seen.contains(norm))
              throw new IllegalStateException("view cycle: " +
                (seen.reverse :+ norm).dropWhile(_ != norm)
                  .map(_.mkString(".")).mkString(" -> "))
            // parseQuery, not parsePlan: a stored body that is a STATEMENT
            // must refuse at resolution, never execute (creation already
            // gates this; the read side must not trust the side-car file).
            SubqueryAlias(u.multipartIdentifier.toIndexedSeq,
              expandViews(session.sessionState.sqlParser.parseQuery(sql),
                norm :: seen))
        }
    }
  }

  private def viewSqlFor(parts: Seq[String]): Option[String] = {
    val cat =
      try session.sessionState.catalogManager.catalog(parts.head) match {
        case g: GraftCatalog => g
        case _ => return None
      } catch { case scala.util.control.NonFatal(_) => return None }
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      parts.slice(1, parts.length - 1).toArray, parts.last)
    cat.viewSqlCached(ident)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = substituteViews(plan) match {
    // ---- DML roots over graft tables: wait for resolution, then lower ----
    case d: DeleteFromTable if graftOf(d.table).isDefined =>
      if (!d.resolved) d
      else splitMembership(d.condition, "DELETE") match {
        case (_, None) =>
          GraftDeleteCommand(graftOf(d.table).get.root, byName(d.condition))
        case (plain, Some(shape)) if !shape.negated =>
          // DELETE ... WHERE k IN (SELECT ...) / EXISTS ≡ a keys-only
          // MERGE with a DELETE arm carrying the residual conjuncts: the
          // engine's semi-join probe keeps the touched-file set pruned
          // exactly as a literal-key delete would.
          GraftMergeCommand(graftOf(d.table).get.root,
            inSource(shape), shape.attrs.map(_.name),
            matched = Seq(graft.ops.MergeInto.DeleteClause(
              plain.map(targetSide).reduceOption(_ && _))))
        case (plain, Some(shape)) =>
          // NOT IN / NOT EXISTS ≡ the BY SOURCE anti-arm: delete exactly
          // the rows NO source key matches.
          GraftMergeCommand(graftOf(d.table).get.root,
            inSource(shape), shape.attrs.map(_.name),
            bySource = Seq(graft.ops.MergeInto.DeleteClause(bySourceCond(plain, shape))),
            notInNullGuard = rawKeys(shape))
      }

    case u: UpdateTable if graftOf(u.table).isDefined =>
      if (!u.resolved) u
      else {
        u.assignments.map(_.value).foreach(noSubquery(_, "UPDATE SET"))
        def setOf(rebase: Expression => Column): Map[String, Column] =
          u.assignments.map {
            case Assignment(k: AttributeReference, v) => k.name -> rebase(v)
            case Assignment(k, _) => throw new UnsupportedOperationException(
              s"UPDATE of nested field ${k.sql} is not supported")
          }.toMap
        splitMembership(
          u.condition.getOrElse(Literal.TrueLiteral), "UPDATE") match {
          case (_, None) =>
            GraftUpdateCommand(graftOf(u.table).get.root,
              u.condition.map(byName).getOrElse(ColumnBridge.column(Literal(true))),
              setOf(byName))
          case (plain, Some(shape)) if !shape.negated =>
            // UPDATE ... WHERE k IN (SELECT ...) / EXISTS ≡ a keys-only
            // MERGE with a per-column SET arm over the matched rows.
            GraftMergeCommand(graftOf(u.table).get.root,
              inSource(shape), shape.attrs.map(_.name),
              matched = Seq(graft.ops.MergeInto.UpdateClause(
                plain.map(targetSide).reduceOption(_ && _), Some(setOf(targetSide)))))
          case (plain, Some(shape)) =>
            // NOT IN / NOT EXISTS ≡ the BY SOURCE update arm.
            GraftMergeCommand(graftOf(u.table).get.root,
              inSource(shape), shape.attrs.map(_.name),
              bySource = Seq(graft.ops.MergeInto.UpdateClause(
                bySourceCond(plain, shape), Some(setOf(targetSide)))),
              notInNullGuard = rawKeys(shape))
        }
      }

    case m: MergeIntoTable if graftOf(m.targetTable).isDefined =>
      if (!m.resolved) m else lowerMerge(m, graftOf(m.targetTable).get)

    // ---- writes ----------------------------------------------------------
    case a: AppendData if graftOf(a.table).isDefined =>
      if (!a.query.resolved) a
      else GraftWriteCommand(graftOf(a.table).get.root, df(a.query),
        mode = "append")

    case o: OverwriteByExpression if graftOf(o.table).isDefined =>
      if (!o.query.resolved || !o.deleteExpr.resolved) o
      else if (o.deleteExpr == Literal(true) || o.deleteExpr == Literal.TrueLiteral)
        GraftWriteCommand(graftOf(o.table).get.root, df(o.query),
          mode = "overwrite")
      else {
        // Predicate overwrite — Delta's replaceWhere (round 12): both the
        // DataFrameWriterV2 `.overwrite(cond)` path and the parser's
        // `INSERT INTO t REPLACE WHERE cond SELECT ...` statement land
        // here; ONE atomic commit deletes the region and inserts the
        // batch (SnapshotTable.overwriteWhere).
        noSubquery(o.deleteExpr, "INSERT OVERWRITE predicate")
        GraftOverwriteWhereCommand(graftOf(o.table).get.root,
          byName(o.deleteExpr), df(o.query))
      }

    // ---- DDL-with-query --------------------------------------------------
    case c: CreateTableAsSelect => c.name match {
      case ResolvedIdentifier(cat: GraftCatalog, ident) if c.query.resolved =>
        GraftCtasCommand(cat, ident, df(c.query),
          replace = false, orCreate = c.ignoreIfExists,
          clusterBy = clusterColumns(c.partitioning, "CREATE TABLE"))
      case _ => c
    }

    case r: ReplaceTableAsSelect => r.name match {
      case ResolvedIdentifier(cat: GraftCatalog, ident) if r.query.resolved =>
        GraftCtasCommand(cat, ident, df(r.query),
          replace = true, orCreate = r.orCreate,
          clusterBy = clusterColumns(r.partitioning, "REPLACE TABLE"))
      case _ => r
    }

    // ---- ALTER TABLE ... ADD CONSTRAINT ... CHECK -------------------------
    // The parser ships this as AddCheckConstraint over a VALIDATION QUERY
    // (Filter(NOT check, relation)) that Spark would execute through a v2
    // scan the GraftTable deliberately doesn't implement; the engine's
    // setCheckConstraint performs the same existing-rows validation
    // through ITS read path (file-index scan) and the same commit gate —
    // lower directly, digging the relation out of the validation plan.
    case a: AddCheckConstraint =>
      val target = a.child.collectFirst {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
          r.table.asInstanceOf[GraftTable]
      }
      target match {
        case None => a
        case Some(t) =>
          GraftAddConstraintCommand(t.root,
            a.checkConstraint.userProvidedName, a.checkConstraint.condition)
      }

    // Remaining ALTER TABLE forms (RENAME/DROP COLUMN, DROP CONSTRAINT):
    // leave untouched — the built-in exec routes their TableChanges to
    // GraftCatalog.alterTable with no scan involved, and substituting our
    // read plan under them would hand ResolveSessionCatalog a
    // LogicalRelation without a catalogTable.
    case at: AlterTableCommand => at

    // ---- pure reads: substitute the engine's scan plan -------------------
    case other => other.transformUpWithSubqueries {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        val t = r.table.asInstanceOf[GraftTable]
        val read = SnapshotTable.read(session, t.root, t.asOf)
          .queryExecution.analyzed
        require(read.output.length == r.output.length,
          s"graft table ${t.name} changed arity mid-analysis")
        // Preserve the relation's attribute ids: parents already reference
        // them. The engine plan underneath carries the SnapshotFileIndex,
        // so pushed filters file-skip exactly as the Scala API's reads do.
        Project(r.output.zip(read.output).map { case (o, n) =>
          Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
        }, read)
    }
  }
}

/** Eager command: SQL `DELETE FROM` → [[SnapshotTable.delete]] (file-
  * granular copy-on-write, CDC, constraint gate — identical to the Scala
  * API because it IS the Scala API). Returns the committed version. */
case class GraftDeleteCommand(root: String, condition: Column)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] =
    Seq(org.apache.spark.sql.Row(SnapshotTable.delete(spark, root, condition)))
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftSqlCommands.versionOutput
}

/** SQL `UPDATE` → [[SnapshotTable.update]]. */
case class GraftUpdateCommand(root: String, condition: Column,
                              set: Map[String, Column])
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] =
    Seq(org.apache.spark.sql.Row(SnapshotTable.update(spark, root, condition, set)))
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftSqlCommands.versionOutput
}

/** SQL `MERGE INTO` → [[SnapshotTable.mergeInto]] — the reference's
  * literal statement (main.py:349-358) over the table format, plus the
  * generalized arms (per-column `UPDATE SET`, explicit-column INSERT,
  * `WHEN NOT MATCHED BY SOURCE`). */
case class GraftMergeCommand(root: String, source: DataFrame,
                             keys: Seq[String],
                             matched: Seq[graft.ops.MergeInto.Clause] = Nil,
                             notMatched: Seq[graft.ops.MergeInto.InsertClause] = Nil,
                             bySource: Seq[graft.ops.MergeInto.Clause] = Nil,
                             evolve: Boolean = false,
                             notInNullGuard: Option[DataFrame] = None)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    // Strict NOT IN: one NULL among the subquery's values makes the
    // membership test UNKNOWN for every row — the whole statement is a
    // no-op (checked ONCE, driver-side aggregate over the value frame).
    val nullPoisoned = notInNullGuard.exists { g =>
      import org.apache.spark.sql.functions.col
      !g.filter(g.columns.map(c => col(c).isNull).reduce(_ || _)).isEmpty
    }
    val v =
      if (nullPoisoned) SnapshotTable.currentVersion(spark, root).getOrElse(
        throw new IllegalStateException(s"no committed version at $root"))
      else SnapshotTable.mergeInto(spark, root, source, keys,
        matched, notMatched, bySource, evolve = evolve)
    Seq(org.apache.spark.sql.Row(v))
  }
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftSqlCommands.versionOutput
}

/** SQL `ALTER TABLE ... ADD CONSTRAINT name CHECK (sql)` →
  * [[SnapshotTable.setCheckConstraint]] (validates existing rows through
  * the engine's read path, then gates every later commit pre-CAS). */
case class GraftAddConstraintCommand(root: String, name: String, checkSql: String)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] =
    Seq(org.apache.spark.sql.Row(
      SnapshotTable.setCheckConstraint(spark, root, name, checkSql)))
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftSqlCommands.versionOutput
}

/** Predicate `INSERT OVERWRITE` (replaceWhere) →
  * [[SnapshotTable.overwriteWhere]]: one atomic delete-region + insert-
  * batch commit with file-granular copy-on-write and a single
  * retraction+insertion CDC delta. */
case class GraftOverwriteWhereCommand(root: String, condition: Column,
                                      data: DataFrame)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] =
    Seq(org.apache.spark.sql.Row(
      SnapshotTable.overwriteWhere(spark, root, condition, data)))
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftSqlCommands.versionOutput
}

/** SQL `INSERT INTO` (append) / `INSERT OVERWRITE` (replace commit). */
case class GraftWriteCommand(root: String, data: DataFrame, mode: String)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val v = mode match {
      case "append" => SnapshotTable.append(spark, root, data)
      case _ => SnapshotTable.commit(spark, root, data)
    }
    Seq(org.apache.spark.sql.Row(v))
  }
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftSqlCommands.versionOutput
}

/** SQL `CREATE [OR REPLACE] TABLE ... AS SELECT` — the reference's
  * bootstrap statement (main.py:369-373; `LIMIT 0` lands an empty-but-
  * schema-bearing version 0). REPLACE commits the new rows as the next
  * version — history and time travel survive, like Delta's CREATE OR
  * REPLACE. */
case class GraftCtasCommand(catalog: GraftCatalog,
                            ident: org.apache.spark.sql.connector.catalog.Identifier,
                            data: DataFrame, replace: Boolean, orCreate: Boolean,
                            clusterBy: Seq[String] = Nil)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val root = catalog.rootOf(ident)
    require(!catalog.viewExistsFile(ident),
      s"cannot create table $ident: a view with that name exists")
    val exists = SnapshotTable.currentVersion(spark, root).isDefined
    val v =
      if (exists && !replace) {
        if (orCreate) SnapshotTable.currentVersion(spark, root).get // IF NOT EXISTS: no-op
        else throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
          ident.toString)
      } else if (!exists && replace && !orCreate) {
        // bare REPLACE TABLE (no OR CREATE) demands an existing table
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
      } else if (clusterBy.nonEmpty)
        SnapshotTable.commitClustered(spark, root, data, clusterBy)
      else SnapshotTable.commit(spark, root, data)
    Seq(org.apache.spark.sql.Row(v))
  }
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftSqlCommands.versionOutput
}

object GraftSqlCommands {
  private[sql] def versionOutput: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("version",
      org.apache.spark.sql.types.LongType, nullable = false)())
}
