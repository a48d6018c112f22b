package graft.ops

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Declarative MERGE INTO builder (SURVEY.md §4.3.3): the reference expresses
  * its upsert as a BigQuery `MERGE` statement (main.py:349-363); this is the
  * same statement surface as a Spark-first DataFrame combinator, lowered at
  * the builder level (no analyzer rule — per the §4.3 engine decision) into
  * ONE full-outer join plus a codegen'd projection/filter.
  *
  * Clause semantics (SQL MERGE, Delta-style API):
  *   - `on(keys)` — equi-match on the key columns (null-safe).
  *   - `whenMatchedDelete(cond)` — matched rows satisfying `cond` disappear.
  *   - `whenMatchedUpdateAll([cond])` — remaining matched rows take ALL
  *     source column values when `cond` (default: always); otherwise they
  *     keep the target values. Delete is evaluated BEFORE update, the usual
  *     MERGE clause order when delete is listed first.
  *   - `whenMatchedUpdate(set, [cond])` — per-column `UPDATE SET`: assigned
  *     columns take their expression (which may reference both sides),
  *     UNASSIGNED columns KEEP the target's value — the SQL-standard
  *     partial update the all-columns form can't express.
  *   - `whenNotMatchedInsertAll([cond])` — source-only rows are inserted
  *     when `cond` (default: always). Absent: source-only rows are dropped.
  *   - `whenNotMatchedInsert(values, [cond])` — explicit-column INSERT:
  *     listed columns take their expression, unlisted columns insert NULL.
  *   - `whenNotMatchedBySourceDelete([cond])` /
  *     `whenNotMatchedBySourceUpdate(set, [cond])` — the third SQL clause
  *     family, over TARGET-ONLY rows (how a sync job expires rows that
  *     vanished from the source). Delete is evaluated before update, like
  *     the matched family. Conditions/assignments see the target side
  *     (`t.`); source columns are NULL there, so a condition touching `s.`
  *     simply never fires (SQL's NULL-=-not-satisfied).
  *   - Target-only rows with no firing BY SOURCE arm always survive.
  *
  * Inside a condition, reference the two sides through the aliases `t` and
  * `s` (e.g. `col("s.price") > col("t.price")`).
  *
  * Scale shape: one shuffle join on the keys — when the source is a small
  * delta against a huge target AQE broadcasts it; no driver-side state.
  * The table format's one MERGE ([[SnapshotTable.mergeInto]], and the
  * plain upsert [[SnapshotTable.upsert]] through it) lowers onto this
  * builder. `Upsert.merge` (anti-join + union) stays as the DataFrame
  * form (`j4_merge_upsert`) and as the reference the unconditional
  * update+insert case is property-pinned against (MergeIntoSpec).
  *
  * Arms live in three ordered chains, one per clause family: `matched`
  * and `bySource` take [[MergeInto.UpdateClause]]/[[MergeInto.DeleteClause]],
  * `notMatched` takes [[MergeInto.InsertClause]]. The builders append to
  * them in call order.
  */
case class MergeInto(
    target: DataFrame,
    source: DataFrame,
    keys: Seq[String] = Nil,
    matched: Seq[MergeInto.Clause] = Nil,
    notMatched: Seq[MergeInto.InsertClause] = Nil,
    bySource: Seq[MergeInto.Clause] = Nil) {
  import MergeInto.{Clause, DeleteClause, InsertClause, UpdateClause}

  def on(keyCols: String*): MergeInto = copy(keys = keyCols)

  // Builders APPEND to the ordered chains (first-match-wins, exactly the
  // SQL clause order they were called in).

  def whenMatchedUpdateAll(condition: Option[Column] = None): MergeInto =
    copy(matched = matched :+ UpdateClause(condition, None))

  /** Per-column `WHEN MATCHED ... UPDATE SET col = expr, ...`: unassigned
    * columns keep the target's value. Expressions may reference `t.`/`s.`. */
  def whenMatchedUpdate(set: Map[String, Column],
                        condition: Option[Column] = None): MergeInto =
    copy(matched = matched :+ UpdateClause(condition, Some(set)))

  def whenMatchedDelete(condition: Column): MergeInto =
    copy(matched = matched :+ DeleteClause(Some(condition)))

  def whenNotMatchedInsertAll(condition: Option[Column] = None): MergeInto =
    copy(notMatched = notMatched :+ InsertClause(condition, None))

  /** Explicit-column `WHEN NOT MATCHED ... INSERT (cols) VALUES (exprs)`:
    * unlisted columns insert NULL. */
  def whenNotMatchedInsert(values: Map[String, Column],
                           condition: Option[Column] = None): MergeInto =
    copy(notMatched = notMatched :+ InsertClause(condition, Some(values)))

  def whenNotMatchedBySourceDelete(condition: Option[Column] = None): MergeInto =
    copy(bySource = bySource :+ DeleteClause(condition))

  def whenNotMatchedBySourceUpdate(set: Map[String, Column],
                                   condition: Option[Column] = None): MergeInto =
    copy(bySource = bySource :+ UpdateClause(condition, Some(set)))

  /** Does an arm take WHOLE rows from the source (`UPDATE SET *` /
    * `INSERT *`)? Only then must the source carry every target column —
    * a delete-only or per-column merge needs just the keys (how the
    * IN-subquery DML lowering rides this builder). */
  private[ops] def needsFullSource: Boolean =
    matched.exists { case UpdateClause(_, None) => true; case _ => false } ||
      notMatched.exists(_.values.isEmpty)

  /** True when every arm is a DELETE (no update, no insert): the merge can
    * only REMOVE rows, so every surviving value — cluster keys included —
    * stays byte-identical and the rewrite preserves the table's layout
    * (the `Layout.Keep` commit fast path; optimization r15). */
  private[ops] def deleteOnly: Boolean =
    notMatched.isEmpty &&
      matched.forall { case _: DeleteClause => true; case _ => false } &&
      bySource.forall { case _: DeleteClause => true; case _ => false }

  /** Resolve an assignment map's keys against the target's columns
    * (case-insensitive, like every schema-resolution path here); a typo'd
    * column must fail loudly, not be silently ignored. */
  private def resolvedSet(set: Map[String, Column], what: String): Map[String, Column] = {
    val byLc = target.columns.map(c => c.toLowerCase(java.util.Locale.ROOT) -> c).toMap
    set.map { case (k, v) =>
      val canon = byLc.getOrElse(k.toLowerCase(java.util.Locale.ROOT),
        throw new IllegalArgumentException(
          s"$what assigns unknown column '$k' (target has ${target.columns.mkString(", ")})"))
      canon -> v
    }
  }

  /** The lowered full-outer join plus the clause predicates — ONE join
    * definition shared by [[result]], [[changes]] and [[materialize]], so
    * the merged rows and the change sets can never disagree on clause
    * algebra, built and analysed once per builder. Returns (joined, keep,
    * changedAdd, removePre, projected-post-image).
    *
    * Clause chains are FIRST-MATCH-WINS (SQL MERGE): each family's
    * decision is one integer when-chain (`0` = no clause fires, `i` =
    * clause i fires), shared by the keep/remove predicates and every
    * column's post-image projection — so N conditional arms cost N
    * branch evaluations per row, not N joins. */
  private lazy val lowered: (DataFrame, Column, Column, Column, Seq[Column]) = {
    require(keys.nonEmpty, "MergeInto requires on(keys)")
    if (needsFullSource) {
      val missing = target.columns.filterNot(source.columns.contains)
      require(missing.isEmpty, s"source lacks target columns: ${missing.mkString(",")}")
    } else {
      val missing = keys.filterNot(source.columns.contains)
      require(missing.isEmpty, s"source lacks merge keys: ${missing.mkString(",")}")
    }
    bySource.foreach {
      case UpdateClause(_, None) => throw new IllegalArgumentException(
        "BY SOURCE UPDATE needs explicit assignments (there is no source row to take * from)")
      case _ => ()
    }
    val mSets = matched.map {
      case UpdateClause(_, set) => set.map(resolvedSet(_, "whenMatchedUpdate"))
      case _ => None
    }
    val iVals = notMatched.map(_.values.map(resolvedSet(_, "whenNotMatchedInsert")))
    val bSets = bySource.map {
      case UpdateClause(_, set) => set.map(resolvedSet(_, "whenNotMatchedBySourceUpdate"))
      case _ => None
    }
    // Presence markers survive the outer join where key columns would be
    // ambiguous with legitimate nulls on the other side.
    val t = target.withColumn("__t", lit(true)).alias("t")
    val s = source.withColumn("__s", lit(true)).alias("s")
    val joinCond = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val both = col("t.__t").isNotNull && col("s.__s").isNotNull
    val tOnly = col("s.__s").isNull
    val sOnly = col("t.__t").isNull
    // SQL MERGE clause conditions: NULL = not satisfied (the coalesce
    // keeps a NULL condition from poisoning the decision chain through
    // three-valued logic).
    def sat(c: Column): Column = coalesce(c, lit(false))
    def decide(gate: Column, conds: Seq[Option[Column]]): Column =
      when(gate, conds.zipWithIndex.foldRight(lit(0)) { case ((c, i), acc) =>
        when(sat(c.getOrElse(lit(true))), lit(i + 1)).otherwise(acc)
      }).otherwise(lit(0))
    val mDec = decide(both, matched.map(_.condition))
    val iDec = decide(sOnly, notMatched.map(_.condition))
    val bDec = decide(tOnly, bySource.map(_.condition))
    def fires(dec: Column, idxs: Seq[Int]): Column =
      idxs.map(i => dec === lit(i)).reduceOption(_ || _).getOrElse(lit(false))
    def idxOf(chain: Seq[Clause], deletes: Boolean): Seq[Int] =
      chain.zipWithIndex.collect {
        case (_: DeleteClause, i) if deletes => i + 1
        case (_: UpdateClause, i) if !deletes => i + 1
      }
    val mDeletes = fires(mDec, idxOf(matched, deletes = true))
    val bDeletes = fires(bDec, idxOf(bySource, deletes = true))
    val mUpdates = fires(mDec, idxOf(matched, deletes = false))
    val bUpdates = fires(bDec, idxOf(bySource, deletes = false))
    val keep = (tOnly && !bDeletes) || (both && !mDeletes) || (iDec =!= 0)
    val changedAdd = (iDec =!= 0) || mUpdates || bUpdates
    val removePre = (both && mDec =!= 0) || (tOnly && bDec =!= 0)
    // Per-column post-image: the FIRING clause decides each column's
    // value — star arms take the source column, per-column arms take the
    // assigned expression or keep the target (matched/by-source) / NULL
    // (insert). Branches exist ONLY for clauses that are declared: an
    // absent insert arm must not reference `s.<col>` on a keys-only
    // source (it would fail analysis even though its condition is
    // literally false).
    val projected = target.schema.fields.map { f =>
      val c = f.name
      val insBranches = notMatched.zipWithIndex.map { case (_, i) =>
        (iDec === lit(i + 1),
          iVals(i).map(_.getOrElse(c, lit(null).cast(f.dataType)))
            .getOrElse(col(s"s.$c")))
      }
      val updBranches = matched.zipWithIndex.collect { case (_: UpdateClause, j) =>
        (mDec === lit(j + 1),
          mSets(j).map(_.getOrElse(c, col(s"t.$c"))).getOrElse(col(s"s.$c")))
      }
      val bysBranches = bySource.zipWithIndex.collect { case (_: UpdateClause, k) =>
        (bDec === lit(k + 1), bSets(k).get.getOrElse(c, col(s"t.$c")))
      }
      (insBranches ++ updBranches ++ bysBranches)
        .foldRight(col(s"t.$c")) { case ((cond, v), acc) =>
          when(cond, v).otherwise(acc)
        }.as(c)
    }.toIndexedSeq
    (t.join(s, joinCond, "full_outer"), keep, changedAdd, removePre, projected)
  }

  /** Lower to one full-outer join + projection. Output schema = target's. */
  def result(): DataFrame = {
    val (joined, keep, _, _, projected) = lowered
    joined.filter(keep).select(projected: _*)
  }

  /** The row-level (adds, removes) this merge implies — the CDC a
    * table-level commit records ([[SnapshotTable.mergeInto]]): removes =
    * pre-images of rows the clauses delete or update (matched AND
    * by-source), adds = post-images of updated rows plus inserted rows.
    * To a downstream MV a MERGE is retraction + insertion, exactly how
    * `MvSpec.combineDelta` consumes it. Both frames take the target's
    * schema; the add side reuses [[result]]'s post-image projection, so a
    * partially-updated row's CDC post-image carries its KEPT target
    * columns, not the source's. */
  def changes(): (DataFrame, DataFrame) = {
    val (joined, _, changedAdd, removePre, projected) = lowered
    val removes = joined.filter(removePre)
      .select(target.columns.map(c => col(s"t.$c").as(c)).toIndexedSeq: _*)
    val adds = joined.filter(changedAdd).select(projected: _*)
    (adds, removes)
  }

  /** Every consumer of the lowered join off ONE materialization
    * (optimization r15, guide §1.2 step 1 — remove redundant passes).
    * The table-level merge path consumed the join three separate times —
    * the rewrite ([[result]]) and both CDC sides ([[changes]]) each
    * re-executed scan(touched) ⋈ scan(source) with its exchanges. This
    * materializes the joined frame once (pre-image, post-image, and the
    * clause decisions as plain boolean columns; localCheckpoint =
    * delta-sized executor storage, rows = touched ∪ source, never the
    * table) and serves the three consumers as single-stage filters over
    * it. Call [[MergeInto.Materialized.free]] when the commit no longer
    * reads it. */
  private[ops] def materialize(): MergeInto.Materialized =
    MergeInto.Materialized(materializable.localCheckpoint(), target.columns.toSeq)

  /** The plan [[materialize]] checkpoints, analysed once. */
  private lazy val materializable: DataFrame = {
    val (joined, keep, changedAdd, removePre, projected) = lowered
    val cols = target.columns.toSeq
    val pre = cols.map(c => col(s"t.$c").as(s"__pre_$c"))
    val post = projected.zip(cols).map { case (p, c) => p.as(s"__post_$c") }
    joined.select((pre ++ post
      :+ keep.as("__keep") :+ changedAdd.as("__cadd")
      :+ removePre.as("__crm")): _*)
  }

  /** The post-image columns [[materialize]] will hold, under the target's
    * column names, read off the analysed plan without executing it — the
    * caller type-checks them before any join runs. */
  private[ops] def postImage: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(target.columns.toSeq.map(c =>
      materializable.schema(s"__post_$c").copy(name = c)))
}

object MergeInto {

  /** One MERGE clause in a first-match-wins chain. `set`/`values` = None
    * means the star form (`UPDATE SET *` / `INSERT *`). Matched and
    * BY SOURCE chains take [[UpdateClause]]/[[DeleteClause]]; the
    * not-matched chain takes [[InsertClause]]. */
  sealed trait Clause { def condition: Option[Column] }
  case class UpdateClause(condition: Option[Column],
                          set: Option[Map[String, Column]]) extends Clause
  case class DeleteClause(condition: Option[Column]) extends Clause
  case class InsertClause(condition: Option[Column],
                          values: Option[Map[String, Column]])

  /** One materialized lowered join serving result / CDC adds / CDC
    * removes (see [[MergeInto.materialize]]).
    * All accessors are single-stage filters+projections over the
    * checkpointed frame — identical row algebra to [[MergeInto.result]]
    * and [[MergeInto.changes]] (MergeIntoSpec pins the equivalence). */
  private[ops] case class Materialized(ck: DataFrame, cols: Seq[String]) {
    private def proj(prefix: String): Seq[Column] =
      cols.map(c => ck(s"$prefix$c").as(c))
    /** Post-images of surviving rows — [[MergeInto.result]]. */
    def result: DataFrame = ck.filter(ck("__keep")).select(proj("__post_"): _*)
    /** CDC adds: post-images of updated + inserted rows. */
    def adds: DataFrame = ck.filter(ck("__cadd")).select(proj("__post_"): _*)
    /** CDC removes: pre-images of deleted + updated rows. */
    def removes: DataFrame = ck.filter(ck("__crm")).select(proj("__pre_"): _*)
    /** Release the pinned checkpoint partitions. */
    def free(): Unit = graft.ops.Checkpoints.free(ck)
  }

  def into(target: DataFrame): HalfBuilt = HalfBuilt(target)
  case class HalfBuilt(target: DataFrame) {
    def using(source: DataFrame): MergeInto = MergeInto(target, source)
  }

  private def orders3(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").select(
      col("o_orderkey"),
      col("o_totalprice").cast("decimal(18,2)").as("price"),
      col("o_orderstatus").as("st"))

  /** One root per corpus CONTENT VERSION per JVM (the mvRoot keying). */
  private val roots = new scala.collection.concurrent.TrieMap[String, String]()

  private def miRoot(dir: String, suffix: String): String = {
    val vdir = s"$dir@${graft.ext.Similarity.corpusVersion(dir, "orders")}"
    roots.getOrElseUpdate(s"$suffix:$vdir", {
      val tag = vdir.replaceAll("[^a-zA-Z0-9]", "_")
      new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-mi$suffix-$tag").getAbsolutePath
    })
  }

  /** j12's exact clause algebra as a TABLE-LEVEL commit (VERDICT r9 #3):
    * bootstrap the target as a plain snapshot commit (an unconditional
    * REPLACE — rerun-stable even though the merge's insert arm adds keys
    * a source-wins upsert could never remove), run the conditional
    * MERGE INTO against the table, read the committed version back. The
    * oracle is j12's FULL OUTER JOIN + CASE rewrite, so the hash gate
    * pins the file-granular commit ≡ the DataFrame combinator ≡ the SQL
    * clause algebra. */
  def mergeIntoTableLineage(s: SparkSession, dir: String): DataFrame = {
    val root = miRoot(dir, "-tbl")
    val tag = s"$dir@${graft.ext.Similarity.corpusVersion(dir, "orders")}"
    val tgt = orders3(s, dir).filter(col("o_orderkey") % 4 =!= 3)
    val src = orders3(s, dir).filter(col("o_orderkey") % 2 === 0)
      .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
    // Seed once per corpus; reruns rewind to it metadata-only (VERDICT
    // r10 #5 — the per-run bootstrap commit was pure bench setup).
    val v0 = SeededLineage.seed(s, root, tag)(SnapshotTable.commit(s, root, tgt))
    val v1 = SnapshotTable.mergeInto(s, root, src, Seq("o_orderkey"),
      matched = Seq(DeleteClause(Some(col("s.st") === "F")),
        UpdateClause(None, None)),
      notMatched = Seq(InsertClause(Some(col("s.price") > 150000), None)))
    val out = SnapshotTable.read(s, root, Some(v1))
      .select(col("o_orderkey"), col("price").cast("double").as("price"),
        col("st"))
      .orderBy("o_orderkey")
      .localCheckpoint() // materialize before reset drops the DML version
    SeededLineage.reset(s, root, tag, v0)
    out
  }

  /** The merge commit's CDC driving an incremental MV refresh (VERDICT r9
    * #3 done-criterion): seed a by-status view over the bootstrapped
    * table, run the same conditional MERGE INTO, refresh the view from
    * [[SnapshotTable.changesDelta]] through the generalized
    * `MvSpec.combineDelta` — delete arms retract, update arms retract +
    * insert, insert arms insert, vacated extrema recompute. Oracle = the
    * aggregate of j12's rewrite, so hash-green means merge-CDC refresh ≡
    * full recompute. */
  def mergeMvRefreshLineage(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.{MvAgg, MvSpec}
    val spec = MvSpec(Seq("st"),
      Seq(MvAgg.Count("cnt"),
        MvAgg.Sum("price", "total", Some("decimal(18,2)")),
        MvAgg.Min("price", "min_price"),
        MvAgg.Max("price", "max_price")))
    val root = miRoot(dir, "-mv")
    val tag = s"$dir@${graft.ext.Similarity.corpusVersion(dir, "orders")}"
    val tgt = orders3(s, dir).filter(col("o_orderkey") % 4 =!= 3)
    val src = orders3(s, dir).filter(col("o_orderkey") % 2 === 0)
      .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
    val v0 = SeededLineage.seed(s, root, tag)(SnapshotTable.commit(s, root, tgt))
    val mv0 = spec.partial(SnapshotTable.read(s, root, Some(v0)))
    val v1 = SnapshotTable.mergeInto(s, root, src, Seq("o_orderkey"),
      matched = Seq(DeleteClause(Some(col("s.st") === "F")),
        UpdateClause(None, None)),
      notMatched = Seq(InsertClause(Some(col("s.price") > 150000), None)))
    val (adds, removes) = SnapshotTable.changesDelta(s, root, v0, Some(v1))
      .getOrElse(throw new IllegalStateException(
        s"merge commit $v0 -> $v1 at $root lost its CDC"))
    val out = spec.finish(spec.combineDelta(s, root, mv0, adds, removes))
      .select(col("st"), col("cnt"), col("total").cast("double").as("total"),
        col("min_price").cast("double").as("min_price"),
        col("max_price").cast("double").as("max_price"))
      .orderBy("st")
      .localCheckpoint() // materialize before reset drops the DML version
    SeededLineage.reset(s, root, tag, v0)
    out
  }

  val qs: Seq[Q] = Seq(

    // The full MERGE clause surface in one query: conditional delete wins
    // over update on matched keys, conditional insert on source-only keys,
    // target-only rows untouched. The oracle spells the identical clause
    // algebra as an explicit FULL OUTER JOIN + CASE — dialect-portable and
    // independent of whether the engine has a MERGE statement.
    Q("j12_merge_into",
      (s, dir) => {
        val tgt = orders3(s, dir).filter(col("o_orderkey") % 4 =!= 3)
        val src = orders3(s, dir).filter(col("o_orderkey") % 2 === 0)
          .withColumn("price", (col("price") * 2).cast("decimal(18,2)"))
        MergeInto.into(tgt).using(src)
          .on("o_orderkey")
          .whenMatchedDelete(col("s.st") === "F")
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll(Some(col("s.price") > 150000))
          .result()
          .select(col("o_orderkey"), col("price").cast("double").as("price"), col("st"))
          .orderBy("o_orderkey")
      },
      Some("""WITH t AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
                     o_orderstatus AS st
                   FROM orders WHERE o_orderkey % 4 <> 3),
              s AS (SELECT o_orderkey,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)) AS price,
                     o_orderstatus AS st
                   FROM orders WHERE o_orderkey % 2 = 0),
              m AS (SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                      t.o_orderkey IS NOT NULL AS tp, s.o_orderkey IS NOT NULL AS sp,
                      t.price AS tprice, t.st AS tst, s.price AS sprice, s.st AS sst
                    FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey)
              SELECT o_orderkey,
                CAST(CASE WHEN (sp AND NOT tp) OR (tp AND sp AND sst <> 'F')
                     THEN sprice ELSE tprice END AS DOUBLE) AS price,
                CASE WHEN (sp AND NOT tp) OR (tp AND sp AND sst <> 'F')
                     THEN sst ELSE tst END AS st
              FROM m
              WHERE (tp AND NOT sp)
                 OR (tp AND sp AND sst <> 'F')
                 OR (sp AND NOT tp AND sprice > 150000)
              ORDER BY o_orderkey ASC NULLS FIRST""")),

    // The SAME clause algebra as a table-level commit (VERDICT r9 #3):
    // conditional delete + update + insert arms in one file-granular
    // MERGE INTO commit; oracle = j12's FULL OUTER JOIN + CASE rewrite.
    Q("x_merge_into_table",
      (s, dir) => mergeIntoTableLineage(s, dir),
      Some("""WITH t AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
                     o_orderstatus AS st
                   FROM orders WHERE o_orderkey % 4 <> 3),
              s AS (SELECT o_orderkey,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)) AS price,
                     o_orderstatus AS st
                   FROM orders WHERE o_orderkey % 2 = 0),
              m AS (SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                      t.o_orderkey IS NOT NULL AS tp, s.o_orderkey IS NOT NULL AS sp,
                      t.price AS tprice, t.st AS tst, s.price AS sprice, s.st AS sst
                    FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey)
              SELECT o_orderkey,
                CAST(CASE WHEN (sp AND NOT tp) OR (tp AND sp AND sst <> 'F')
                     THEN sprice ELSE tprice END AS DOUBLE) AS price,
                CASE WHEN (sp AND NOT tp) OR (tp AND sp AND sst <> 'F')
                     THEN sst ELSE tst END AS st
              FROM m
              WHERE (tp AND NOT sp)
                 OR (tp AND sp AND sst <> 'F')
                 OR (sp AND NOT tp AND sprice > 150000)
              ORDER BY o_orderkey ASC NULLS FIRST""")),

    // The merge commit's CDC refreshing a by-status MV through the
    // generalized MvSpec: oracle = the aggregate of the same rewrite, so
    // hash-green pins merge-CDC refresh == full recompute.
    Q("x_mv_incremental_merge",
      (s, dir) => mergeMvRefreshLineage(s, dir),
      Some("""WITH t AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
                     o_orderstatus AS st
                   FROM orders WHERE o_orderkey % 4 <> 3),
              s AS (SELECT o_orderkey,
                     CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)) AS price,
                     o_orderstatus AS st
                   FROM orders WHERE o_orderkey % 2 = 0),
              m AS (SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                      t.o_orderkey IS NOT NULL AS tp, s.o_orderkey IS NOT NULL AS sp,
                      t.price AS tprice, t.st AS tst, s.price AS sprice, s.st AS sst
                    FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey),
              fin AS (SELECT
                CASE WHEN (sp AND NOT tp) OR (tp AND sp AND sst <> 'F')
                     THEN sprice ELSE tprice END AS price,
                CASE WHEN (sp AND NOT tp) OR (tp AND sp AND sst <> 'F')
                     THEN sst ELSE tst END AS st
              FROM m
              WHERE (tp AND NOT sp)
                 OR (tp AND sp AND sst <> 'F')
                 OR (sp AND NOT tp AND sprice > 150000))
              SELECT st, count(*) AS cnt,
                CAST(sum(price) AS DOUBLE) AS total,
                CAST(min(price) AS DOUBLE) AS min_price,
                CAST(max(price) AS DOUBLE) AS max_price
              FROM fin GROUP BY 1
              ORDER BY st ASC NULLS FIRST"""))
  )
}
