package graft.ext

import graft.ops.SnapshotTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** One aggregate of a materialized view ([[MvSpec]]). `alias` names the
  * output column; for Sum/Avg, `cast` (e.g. `Some("decimal(18,2)")`)
  * pins the input to an EXACT type before summation — the engine-wide
  * determinism idiom: integer/decimal sums form a group (associative,
  * order-independent, retraction-exact), double sums drift. */
sealed trait MvAgg { def alias: String }
object MvAgg {
  /** count(*) — also the group-liveness counter (a group whose count
    * retracts to 0 leaves the view). */
  final case class Count(alias: String) extends MvAgg
  /** sum(col) — algebraic: retracts exactly under deletes/updates. A
    * hidden non-null count rides beside it, so a group whose last
    * non-null value retracts reads NULL, as a recompute does. */
  final case class Sum(col: String, alias: String,
                       cast: Option[String] = None) extends MvAgg
  /** avg(col) — maintained as (sum, non-null count), both algebraic; the
    * quotient is computed at read-out, so retraction stays exact. */
  final case class Avg(col: String, alias: String,
                       cast: Option[String] = None) extends MvAgg
  /** min(col) — a lattice join, NOT a group element (removing the current
    * min says nothing about the runner-up). A refresh reads base rows only
    * for a group whose removed minimum reaches the new candidate
    * `least(old, adds)` — except, when all of the group's changes come
    * from one commit, when an added value reaches the old minimum (see
    * [[MvSpec.combineDelta]]). */
  final case class Min(col: String, alias: String) extends MvAgg
  /** max(col) — dual of Min. */
  final case class Max(col: String, alias: String) extends MvAgg
}

/** Parameterized incremental materialized-view maintenance over a
  * [[SnapshotTable]] change feed (VERDICT r9 #1 — the generalization of
  * the orders-hardwired pilot): a grouped-aggregate view `SELECT keys,
  * aggs FROM table GROUP BY keys` kept current under appends, MERGE
  * upserts, predicate DELETEs/UPDATEs and table-level MERGE INTO, WITHOUT
  * re-scanning the base table per refresh. This is the engine feature
  * behind the reference's dashboard-over-MERGE shape (main.py:349-363
  * feeding main.py:85-89-style aggregates): the reference re-runs its
  * aggregate SQL per trigger; at 100 TB the standard replacement is delta
  * maintenance (Delta Live Tables / materialized-view incremental
  * refresh).
  *
  * State model: the view frame carries `keys ++ state columns` —
  * count/sum states under their output aliases, avg as a hidden
  * (sum, count) pair, a hidden non-null count `__c_<alias>` per sum, plus
  * a hidden `__cnt` liveness counter when no Count agg supplies one. All
  * additive states are maintained ALGEBRAICALLY (group + adds − removes,
  * telescoping exactly across any interleaving of intermediate images);
  * min/max are lattice joins under inserts. A removal opens the base
  * table only for a group where it may
  * have taken the extreme away: its removed extreme reaches
  * `least`/`greatest(old, adds)`, and — for a group whose changes all
  * come from one commit — no add reaches the old extreme. Only those
  * groups' rows are read, pinned to the batch's version. A refresh that
  * leaves every extreme holder in place (appends, and updates that move a
  * max forward or keep a min) costs O(|delta| + |view|); otherwise it adds
  * the recomputed groups' rows — never O(table).
  *
  * Exactness is by construction, not by float luck: counts are longs,
  * sums ride the caller-pinned DECIMAL cast, min/max are order
  * statements. Combined states are cast back to their partial dtype each
  * merge, so precision never ratchets across unbounded refresh chains. */
final case class MvSpec(keys: Seq[String], aggs: Seq[MvAgg]) {
  import MvAgg._

  require(keys.nonEmpty, "MvSpec needs at least one group key")
  require(aggs.nonEmpty, "MvSpec needs at least one aggregate")
  require(aggs.map(_.alias).distinct.size == aggs.size,
    s"duplicate aggregate aliases: ${aggs.map(_.alias).mkString(", ")}")
  require(aggs.map(_.alias).forall(a => !keys.contains(a)),
    "aggregate aliases must not collide with group keys")

  /** The Count alias doubles as the liveness counter; otherwise a hidden
    * one is maintained. */
  private val cntCol: String =
    aggs.collectFirst { case Count(a) => a }.getOrElse("__cnt")

  private def in(c: String, cast: Option[String]): Column =
    cast.foldLeft(col(c))((x, t) => x.cast(t))

  /** (state column, combine kind): "add" states retract algebraically;
    * "min"/"max" states lattice-join under inserts. Sum's hidden non-null
    * counts come last, after every other state. */
  private val states: Seq[(String, String)] =
    ((cntCol, "add")) +: (aggs.flatMap {
      case _: Count => Nil
      case a: Sum => Seq((a.alias, "add"))
      case a: Avg => Seq((s"__s_${a.alias}", "add"), (s"__c_${a.alias}", "add"))
      case a: Min => Seq((a.alias, "min"))
      case a: Max => Seq((a.alias, "max"))
    } ++ sums.map(a => (s"__c_${a.alias}", "add")))

  private def sums: Seq[Sum] = aggs.collect { case a: Sum => a }

  /** Does `mv` carry Sum `a`'s non-null count? A view seeded without it
    * (by an older build, or built by hand) keeps the old reading: the Sum
    * reads its sum state, 0 once its last non-null value retracts, until
    * the view is re-seeded from [[partial]]. */
  private def counted(mv: DataFrame, a: Sum): Boolean =
    mv.columns.contains(s"__c_${a.alias}")

  private val minmaxStates: Seq[String] = states.collect {
    case (c, k) if k == "min" || k == "max" => c
  }

  /** Constant-width combinable partials for one slice of the base table:
    * the view bootstrap AND the per-delta summary. One shuffle on the
    * group keys with map-side partial aggregation. */
  def partial(df: DataFrame): DataFrame = {
    val aggCols: Seq[Column] = count(lit(1)).as(cntCol) +: (aggs.flatMap {
      case _: Count => Nil
      case a: Sum => Seq(sum(in(a.col, a.cast)).as(a.alias))
      case a: Avg => Seq(sum(in(a.col, a.cast)).as(s"__s_${a.alias}"),
        count(col(a.col)).as(s"__c_${a.alias}"))
      case a: Min => Seq(min(col(a.col)).as(a.alias))
      case a: Max => Seq(max(col(a.col)).as(a.alias))
    } ++ sums.map(a => count(col(a.col)).as(s"__c_${a.alias}")))
    df.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Retraction-capable refresh: merge a row-level CDC delta
    * ([[SnapshotTable.changesDelta]]'s (adds, removes)) into the standing
    * view. Additive states retract algebraically; groups whose count
    * reaches 0 drop out; a Min/Max state takes `least`/`greatest(old,
    * adds)` unless a removal can have taken its extreme away, and only
    * those groups recompute from the base table (the rule is at
    * [[extremeLost]]). Deletes and updates that leave every extreme holder
    * in place therefore never open `tableRoot`. An insert-only refresh (an
    * append's rows) passes `adds.limit(0)` as `removes`: no extreme is
    * lost, and a Sum over no non-null value stays NULL.
    *
    * The touched-group restriction applies the `restrictTerms` threshold
    * discipline (VERDICT r9: the literal-OR-chain hazard, solved the same
    * way as Retrieval.restrictTerms / ProductQuant.maxLiteralLut): at or
    * below `maxLiteralKeys` recomputed groups, the keys become a plan-time
    * LITERAL predicate — null-safe conjunctions OR'd — which the
    * manifest's per-file bounds can file-skip when the table is clustered
    * on the view keys; past the threshold the literal expression tree
    * itself becomes the bottleneck (task-deserialization blowup, the
    * measured PQ lesson), so the restriction flows as a BROADCAST
    * null-safe semi-join on the recomputed-keys relation instead — no file
    * skipping, but O(|touched|) network and constant plan size. Both
    * paths are row-identical (MvSpecSpec pins it).
    *
    * Cost: one aggregation over the view and the delta together (no
    * join), one materialization of the O(|view|) result; a base read only
    * for the recomputed groups. Driver state: one `limit(maxLiteralKeys +
    * 1).collect()` of recomputed keys, skipped when there are none.
    *
    * `asOf` pins the min/max recompute to the version this CDC batch
    * telescopes to (ADVICE r10): reading the base at its CURRENT version
    * could publish extrema from commits the view's cnt/sum watermark has
    * not consumed yet — internally inconsistent view rows, and a group
    * fully deleted by a later in-flight commit would read NULL extrema
    * while cnt > 0. Callers that refresh synchronously with no concurrent
    * writers may leave it None (current version — the documented fast
    * path); the streaming subscriber ([[graft.streaming.Streams.mvCdcSink]])
    * goes through [[combineFeed]], which always pins it. */
  def combineDelta(s: SparkSession, tableRoot: String, mv: DataFrame,
                   adds: DataFrame, removes: DataFrame,
                   maxLiteralKeys: Int = 512,
                   asOf: Option[Long] = None): DataFrame = {
    // No commit versions: the delta may span several commits.
    def side(df: DataFrame, sign: Int) =
      df.select(inputs.map(col) :+ lit(sign).as("__side") :+
        lit(null).cast("long").as("__v"): _*)
    refresh(s, tableRoot, mv, side(adds, 1).unionByName(side(removes, -1)),
      maxLiteralKeys, asOf)._1
  }

  /** [[combineDelta]] over one change-feed batch in the Delta-CDF row
    * shape ([[SnapshotTable.changesFeed]]: `_change_type` insert/delete,
    * `_commit_version`). Returns the refreshed view and the batch's
    * highest commit version (None for an empty batch), which also pins
    * the recompute. Knowing each row's commit lets a group whose changes
    * all come from one commit keep an extreme that an add re-reached. */
  private[graft] def combineFeed(s: SparkSession, tableRoot: String,
                                 mv: DataFrame, batch: DataFrame,
                                 maxLiteralKeys: Int = 512): (DataFrame, Option[Long]) = {
    val t = col("_change_type")
    refresh(s, tableRoot, mv,
      batch.filter(t.isin("insert", "delete")).select(inputs.map(col) :+
        when(t === "insert", 1).otherwise(-1).as("__side") :+
        col("_commit_version").as("__v"): _*),
      maxLiteralKeys, None)
  }

  /** Base columns a refresh reads: the keys and every aggregate input. */
  private val inputs: Seq[String] = (keys ++ aggs.collect {
    case a: Sum => a.col
    case a: Avg => a.col
    case a: Min => a.col
    case a: Max => a.col
  }).distinct

  /** Whether a Min (`lt`) or Max (`!lt`) state `c` must recompute from the
    * base, given the old extreme `__o_c`, the delta's added and removed
    * extremes `__a_c`/`__r_c`, and `__one` (all of the group's changes
    * come from one commit). With `m` = the extreme of old and adds:
    *   - no removed value reaches `m`: every holder of `m` survived — exact;
    *   - one commit: its removes are pre-images of old rows and its adds
    *     all survive, so an add reaching `old` keeps `m` exact;
    *   - several commits: an add can itself be removed later in the batch,
    *     so a removal reaching `m` always recomputes;
    *   - a removal against a NULL old extreme recomputes, to stay safe. */
  private def extremeLost(c: String, lt: Boolean): Column = {
    val (old, a, r) = (col(s"__o_$c"), col(s"__a_$c"), col(s"__r_$c"))
    def reaches(x: Column, y: Column) = if (lt) x <= y else x >= y
    val m = if (lt) least(old, a) else greatest(old, a)
    coalesce(r.isNotNull && (old.isNull ||
      (reaches(r, m) && !(col("__one") && a.isNotNull && reaches(a, old)))),
      lit(true))
  }

  /** The refresh core. `changes` carries the delta's rows with `__side`
    * (+1 add, −1 remove) and `__v` (commit version, NULL when unknown). */
  private def refresh(s: SparkSession, tableRoot: String, mv: DataFrame,
                      changes: DataFrame, maxLiteralKeys: Int,
                      asOf: Option[Long]): (DataFrame, Option[Long]) = {
    // The states this view carries: a Sum seeded without its count stays so.
    val carried = states.filter { case (c, _) =>
      sums.forall(a => c != s"__c_${a.alias}" || counted(mv, a)) }
    // One aggregation over the view and the delta together (`__side` 0
    // marks the view's row, so no join): an additive state sums the old
    // state with the signed delta, an extreme splits into its old, added
    // and removed values, and the group's commit span rides along. GROUP BY
    // merges NULL keys into one group, as the view's partials did.
    val side = col("__side")
    def on(k: Int, x: Column) = when(side === k, x)
    def plus(c: String, dx: Column) = sum(when(side === 0, col(s"__o_$c")).otherwise(dx))
      .cast(mv.schema(c).dataType).as(c)
    def signed(x: Column) = when(side === 1, x).otherwise(-x)
    def extremes(c: String, x: Column, lt: Boolean) = {
      def f(y: Column) = if (lt) min(y) else max(y)
      Seq(f(on(0, col(s"__o_$c"))).as(s"__o_$c"), f(on(1, x)).as(s"__a_$c"),
        f(on(-1, x)).as(s"__r_$c"))
    }
    val stateAggs: Seq[Column] = plus(cntCol, side) +: (aggs.flatMap {
      case _: Count => Nil
      case a: Sum => Seq(plus(a.alias, signed(in(a.col, a.cast))))
      case a: Avg => Seq(plus(s"__s_${a.alias}", signed(in(a.col, a.cast))),
        plus(s"__c_${a.alias}", when(col(a.col).isNotNull, side)))
      case a: Min => extremes(a.alias, col(a.col), lt = true)
      case a: Max => extremes(a.alias, col(a.col), lt = false)
    } ++ sums.filter(counted(mv, _))
      .map(a => plus(s"__c_${a.alias}", when(col(a.col).isNotNull, side))))
    val old = mv.select(keys.map(col) ++ carried.map { case (c, _) => col(c).as(s"__o_$c") }
      :+ lit(0).as("__side"): _*)
    val lost = carried.collect {
      case (c, "min") => extremeLost(c, lt = true)
      case (c, "max") => extremeLost(c, lt = false)
    }.foldLeft(lit(false))(_ || _)
    val obs = org.apache.spark.sql.Observation()
    val merged = old.unionByName(changes, allowMissingColumns = true)
      .groupBy(keys.map(col): _*)
      .agg(coalesce(min(col("__v")) === max(col("__v")), lit(false)).as("__one"),
        (max(col("__v")).as("__vmax") +: stateAggs): _*)
      .select((keys.map(col) ++ carried.map {
        case (c, "add") => col(c)
        case (c, "min") => least(col(s"__o_$c"), col(s"__a_$c")).as(c)
        case (c, _) => greatest(col(s"__o_$c"), col(s"__a_$c")).as(c)
      }) :+ lost.as("__lost") :+ col("__vmax"): _*)
      // Observed before the filter: a batch that only empties a group still
      // reports its commit version.
      .observe(obs, max(col("__vmax")).as("v"),
        count(when(col("__lost") && col(cntCol) > 0, 1)).as("n"))
      .filter(col(cntCol) > 0)
      // One materialization: the recompute-key pull and the caller's commit
      // both read it. Later references go by column name, so it may sit on
      // both sides of the recompute join without tripping Spark's
      // ambiguous-self-join check on Dataset-qualified columns.
      .localCheckpoint()
    // The counters ride the materialization job; on the (unexpected)
    // listener miss they cost two small jobs.
    val seen = try scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(10, "seconds"))
      catch { case _: java.util.concurrent.TimeoutException =>
        Row(changes.agg(max(col("__v"))).head().get(0),
          merged.filter(col("__lost")).count()) }
    val end = if (seen.isNullAt(0)) None else Some(seen.getLong(0))
    if (seen.getLong(1) == 0L) return (merged.drop("__lost", "__vmax"), end)

    // Recomputed group keys, bounded pull: the collect stops at
    // threshold+1 rows, so the driver never holds more than the literal
    // path would serialize anyway. merged is grouped by keys, hence
    // distinct.
    val lostKeys = merged.filter(col("__lost")).select(keys.map(col): _*)
    val sample = lostKeys.limit(maxLiteralKeys + 1).collect()
    // Base pinned to the batch's end version — extrema then come from
    // exactly the state the cnt/sum watermark has consumed, whatever
    // concurrent writers have committed since.
    val base = SnapshotTable.read(s, tableRoot, asOf.orElse(end))
    val restricted =
      if (sample.length <= maxLiteralKeys) {
        // Complete set (the limit did not truncate): literal null-safe
        // predicate — file-skippable off the manifest bounds.
        base.filter(sample.map(row => keys.zipWithIndex.map { case (k, i) =>
          col(k) <=> lit(row.get(i))
        }.reduce(_ && _)).reduce(_ || _))
      } else {
        // High-cardinality view: broadcast null-safe semi-join on the
        // recomputed-keys RELATION (O(|view|)-bounded, never row-scaled).
        val tk = lostKeys.toDF(keys.map(k => s"__tk_$k"): _*)
        base.join(broadcast(tk),
          keys.map(k => base(k) <=> tk(s"__tk_$k")).reduce(_ && _), "left_semi")
      }
    val rec = partial(restricted).select(
      (keys.zipWithIndex.map { case (k, i) => col(k).as(s"__nk_$i") } ++
        minmaxStates.map(c => col(c).as(s"__n_$c"))): _*)
    // Null-safe left join (a Seq-of-names join would drop NULL-keyed
    // groups' recomputes); rec is at most |lost| ≤ |view| rows.
    val cond = keys.zipWithIndex.map { case (k, i) =>
      col(k) <=> col(s"__nk_$i")
    }.reduce(_ && _)
    (merged.join(broadcast(rec), cond, "left_outer")
      .select((keys.map(col) ++ carried.map { case (c, kind) =>
        if (kind == "add") col(c)
        else when(col("__lost"), col(s"__n_$c")).otherwise(col(c)).as(c)
      }): _*), end)
  }

  /** Project the internal state onto the declared output: one column per
    * aggregate, in spec order. Sum reads NULL when the group holds no
    * non-null value (a view carrying its count); Avg materializes as `CAST(sum AS DOUBLE) / count`
    * (NULL likewise), which both engines compute identically from the
    * exact decimal sum. */
  def finish(mv: DataFrame): DataFrame =
    mv.select((keys.map(col) ++ aggs.map {
      case a: Count => col(a.alias)
      case a: Sum if counted(mv, a) =>
        when(col(s"__c_${a.alias}") === 0, lit(null)).otherwise(col(a.alias)).as(a.alias)
      case a: Sum => col(a.alias)
      case a: Avg =>
        when(col(s"__c_${a.alias}") === 0, lit(null))
          .otherwise(col(s"__s_${a.alias}").cast("double") / col(s"__c_${a.alias}"))
          .as(a.alias)
      case a: Min => col(a.alias)
      case a: Max => col(a.alias)
    }): _*)
}
