package graft.ext

import graft.SparkSpec
import graft.ops.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contract of the GENERALIZED MvSpec operator (VERDICT r9 #1): any
  * (keys, aggs) view maintains exactly under CDC deltas — avg retracts as
  * its (sum, count) pair, NULL group keys merge as one group (SQL GROUP BY
  * semantics), emptied groups drop, and the touched-group restriction's
  * two paths (plan-time literal predicate vs broadcast null-safe
  * semi-join) are row-identical, so the threshold is a pure performance
  * knob. */
class MvSpecSpec extends SparkSpec {
  import spark.implicits._

  private val spec = MvSpec(
    Seq("grp"),
    Seq(MvAgg.Count("cnt"),
      MvAgg.Sum("v", "total", Some("decimal(18,2)")),
      MvAgg.Avg("v", "avg_v", Some("decimal(18,2)")),
      MvAgg.Min("v", "min_v"),
      MvAgg.Max("v", "max_v")))

  private def rows(df: DataFrame): Set[(Option[String], Long, Option[Double],
      Option[Double], Option[Double], Option[Double])] =
    spec.finish(df).collect().map { r =>
      def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      (Option(r.getString(0)), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDecimal(2).doubleValue), d(3), d(4), d(5))
    }.toSet

  test("delete refresh equals full recompute: avg retraction, group drop, null keys") {
    val root = s"${tmpDir()}/t"
    // group "a": loses its min (1.0) -> recompute must find 5.0
    // group "b": fully deleted -> drops from the view
    // group NULL: one row deleted, one kept (null keys must merge)
    // group "c": a NULL v among kept rows (avg counts non-null only)
    val base = Seq(
      (1L, Some("a"), Some(1.0)), (2L, Some("a"), Some(5.0)), (3L, Some("a"), Some(9.0)),
      (4L, Some("b"), Some(2.0)),
      (5L, None, Some(3.0)), (6L, None, Some(7.0)),
      (7L, Some("c"), Some(4.0)), (8L, Some("c"), None), (9L, Some("c"), Some(6.0))
    ).toDF("k", "grp", "v")
    val v0 = SnapshotTable.upsert(spark, root, base, Seq("k"))
    val mv0 = spec.partial(SnapshotTable.read(spark, root, Some(v0)))
    val v1 = SnapshotTable.delete(spark, root,
      col("k").isin(1L, 4L, 5L, 7L))
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    val got = rows(spec.combineDelta(spark, root, mv0, adds, removes))
    val full = rows(spec.partial(SnapshotTable.read(spark, root)))
    assert(got == full, s"refresh $got != recompute $full")
    assert(!got.exists(_._1.contains("b")), "emptied group must drop")
    assert(got.count(_._1.isEmpty) == 1, "NULL keys must merge to one group")
    val a = got.find(_._1.contains("a")).get
    assert(a._5.contains(5.0), "vacated min must recompute to the runner-up")
    val c = got.find(_._1.contains("c")).get
    assert(c._2 == 2L && c._4.contains(6.0), "avg must count non-null values only")
  }

  test("high-cardinality view: literal path and semi-join path are row-identical") {
    val root = s"${tmpDir()}/t"
    // 300 single-row groups deleted: far past a tiny literal threshold.
    val base = spark.range(3000)
      .select(col("id").as("k"), concat(lit("g"), col("id") % 1000).as("grp"),
        (col("id") % 97).cast("double").as("v"))
    val v0 = SnapshotTable.upsert(spark, root, base, Seq("k"))
    val mv0 = spec.partial(SnapshotTable.read(spark, root, Some(v0)))
    val v1 = SnapshotTable.delete(spark, root, col("k") % 10 === 0)
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    val viaLiteral = rows(
      spec.combineDelta(spark, root, mv0, adds, removes, maxLiteralKeys = 100000))
    val viaSemiJoin = rows(
      spec.combineDelta(spark, root, mv0, adds, removes, maxLiteralKeys = 4))
    assert(viaLiteral == viaSemiJoin,
      "the touched-key restriction paths must be row-identical")
    assert(viaLiteral == rows(spec.partial(SnapshotTable.read(spark, root))))
  }

  test("surviving groups losing their max holder: literal path and semi-join path are row-identical") {
    val root = s"${tmpDir()}/t"
    // 1000 three-row groups; each group's max is its k >= 2000 row.
    val base = spark.range(3000)
      .select(col("id").as("k"), concat(lit("g"), col("id") % 1000).as("grp"),
        col("id").cast("double").as("v"))
    val v0 = SnapshotTable.upsert(spark, root, base, Seq("k"))
    val mv0 = spec.partial(SnapshotTable.read(spark, root, Some(v0)))
    // 100 max holders go; their groups survive with two rows each.
    val v1 = SnapshotTable.delete(spark, root, col("k") >= 2000 && col("k") % 10 === 0)
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    val viaLiteral = rows(
      spec.combineDelta(spark, root, mv0, adds, removes, maxLiteralKeys = 100000))
    val viaSemiJoin = rows(
      spec.combineDelta(spark, root, mv0, adds, removes, maxLiteralKeys = 4))
    assert(viaLiteral == viaSemiJoin,
      "the recompute restriction paths must be row-identical")
    val full = rows(spec.partial(SnapshotTable.read(spark, root)))
    assert(viaLiteral == full)
    assert(full.find(_._1.contains("g0")).get._6.contains(1000.0),
      "a vacated max must recompute to the runner-up")
  }

  /** One retraction-rule case: `change` commits DML on a fresh copy of
    * `base` (k, grp, v). The refresh over that commit, through both
    * combineDelta and the change-feed fold, equals a full recompute. */
  private def ruleCase(name: String, base: Seq[(Long, Option[String], Option[Double])])(
      change: String => Long): Unit = {
    val root = s"${tmpDir()}/t"
    val v0 = SnapshotTable.upsert(spark, root, base.toDF("k", "grp", "v"), Seq("k"))
    val mv0 = spec.partial(SnapshotTable.read(spark, root, Some(v0)))
    val v1 = change(root)
    val full = rows(spec.partial(SnapshotTable.read(spark, root)))
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    val got = rows(spec.combineDelta(spark, root, mv0, adds, removes))
    assert(got == full, s"$name: combineDelta $got != recompute $full")
    val feed = SnapshotTable.changesFeed(spark, root, v0, v1,
      SnapshotTable.read(spark, root, Some(v0)).schema)
    val (viaFeed, end) = spec.combineFeed(spark, root, mv0, feed)
    assert(rows(viaFeed) == full, s"$name: combineFeed ${rows(viaFeed)} != recompute $full")
    assert(end.contains(v1), s"$name: feed end version $end, want $v1")
  }

  private val abc = Seq[(Long, Option[String], Option[Double])](
    (1L, Some("a"), Some(1.0)), (2L, Some("a"), Some(5.0)), (3L, Some("a"), Some(9.0)),
    (4L, Some("b"), Some(2.0)), (5L, Some("b"), Some(8.0)))

  test("min/max retraction rule: each case equals a full recompute") {
    ruleCase("max holder deleted", abc)(SnapshotTable.delete(spark, _, col("k") === 3L))
    ruleCase("a tie on the max loses one holder",
      abc :+ ((6L, Some("a"), Some(9.0))))(SnapshotTable.delete(spark, _, col("k") === 3L))
    ruleCase("an update lowers a max", abc)(
      SnapshotTable.update(spark, _, col("k") === 3L, Map("v" -> lit(3.0))))
    ruleCase("an update raises a min", abc)(
      SnapshotTable.update(spark, _, col("k") === 1L, Map("v" -> lit(7.0))))
    ruleCase("an update keeps a min holder's value", abc)(
      SnapshotTable.update(spark, _, col("k") === 1L, Map("grp" -> lit("a"))))
    // c loses its min holder beside a NULL, b loses a NULL row, d holds
    // only NULLs and is untouched.
    ruleCase("NULLs in the aggregated column", abc ++ Seq(
      (6L, Some("c"), None), (7L, Some("c"), Some(4.0)), (8L, Some("c"), Some(6.0)),
      (9L, Some("b"), None), (10L, Some("d"), None)))(
      SnapshotTable.delete(spark, _, col("k").isin(7L, 9L)))
    ruleCase("a group is emptied", abc)(SnapshotTable.delete(spark, _, col("grp") === "b"))
    ruleCase("a group is new", abc)(r => SnapshotTable.upsert(spark, r,
      Seq((9L, Some("z"), Some(3.0)), (10L, Some("z"), None)).toDF("k", "grp", "v"), Seq("k")))
  }

  test("a batch spanning commits: an add removed again later never keeps the extreme") {
    val root = s"${tmpDir()}/t"
    val v0 = SnapshotTable.upsert(spark, root,
      Seq((1L, "a", 5.0), (2L, "a", 4.0)).toDF("k", "grp", "v"), Seq("k"))
    val mv0 = spec.partial(SnapshotTable.read(spark, root, Some(v0)))
    // k=1 passes through 3.0 (below the old min 4.0) and ends at 7.0.
    SnapshotTable.update(spark, root, col("k") === 1L, Map("v" -> lit(3.0)))
    val v2 = SnapshotTable.update(spark, root, col("k") === 1L, Map("v" -> lit(7.0)))
    val full = rows(spec.partial(SnapshotTable.read(spark, root)))
    assert(full.head._5.contains(4.0))
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v2))
    assert(rows(spec.combineDelta(spark, root, mv0, adds, removes)) == full)
    val feed = SnapshotTable.changesFeed(spark, root, v0, v2,
      SnapshotTable.read(spark, root, Some(v0)).schema)
    assert(rows(spec.combineFeed(spark, root, mv0, feed)._1) == full)
  }

  test("a refresh that leaves every extreme holder in place never opens the base") {
    val root = s"${tmpDir()}/t"
    val absent = s"${tmpDir()}/no-such-table"
    val v0 = SnapshotTable.upsert(spark, root, abc.toDF("k", "grp", "v"), Seq("k"))
    val mv0 = spec.partial(SnapshotTable.read(spark, root, Some(v0)))
    // max only moves forward (k=2 overtakes 9.0), the min holders stay.
    val v1 = SnapshotTable.update(spark, root, col("k") === 2L, Map("v" -> lit(12.0)))
    val full = rows(spec.partial(SnapshotTable.read(spark, root)))
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    assert(rows(spec.combineDelta(spark, absent, mv0, adds, removes)) == full)

    // The ticket-sync shape over one commit: an update rewrites the min
    // holder with the same `created` and moves `updated` forward.
    val ticketSpec = MvSpec(Seq("grp"), Seq(MvAgg.Count("cnt"),
      MvAgg.Min("created", "min_created"), MvAgg.Max("updated", "max_updated")))
    val troot = s"${tmpDir()}/tickets"
    val t0 = SnapshotTable.upsert(spark, troot,
      Seq((1L, "a", 10L, 100L), (2L, "a", 20L, 200L), (3L, "b", 30L, 300L))
        .toDF("k", "grp", "created", "updated"), Seq("k"))
    val tv0 = ticketSpec.partial(SnapshotTable.read(spark, troot, Some(t0)))
    val t1 = SnapshotTable.upsert(spark, troot,
      Seq((1L, "a", 10L, 150L), (3L, "b", 30L, 400L)).toDF("k", "grp", "created", "updated"),
      Seq("k"))
    val feed = SnapshotTable.changesFeed(spark, troot, t0, t1,
      SnapshotTable.read(spark, troot, Some(t0)).schema)
    val (got, end) = ticketSpec.combineFeed(spark, absent, tv0, feed)
    def tickets(df: DataFrame) = ticketSpec.finish(df).collect().map(_.toString).toSet
    assert(tickets(got) == tickets(ticketSpec.partial(SnapshotTable.read(spark, troot))))
    assert(end.contains(t1))
  }

  test("insert-only combine: null keys merge, new groups appear, sums stay exact") {
    val mv0 = spec.partial(Seq(
      (Some("a"), Some(1.5)), (None, Some(2.5))).toDF("grp", "v"))
    val delta = Seq(
      (Some("a"), Some(0.25)), (None, Some(0.75)), (Some("z"), Some(9.0))
    ).toDF("grp", "v")
    // No removes: no extreme is lost, so the (absent) base is never read.
    val absent = s"${tmpDir()}/no-such-table"
    val got = rows(spec.combineDelta(spark, absent, mv0, delta, delta.limit(0)))
    assert(got == Set(
      (Some("a"), 2L, Some(1.75), Some(0.875), Some(0.25), Some(1.5)),
      (None, 2L, Some(3.25), Some(1.625), Some(0.75), Some(2.5)),
      (Some("z"), 1L, Some(9.0), Some(9.0), Some(9.0), Some(9.0))))
  }

  test("insert-only combine keeps an all-NULL Sum NULL, like a full recompute") {
    // Group n holds only NULL values on both sides; group m arrives with
    // only NULLs; group a sums normally.
    val base = Seq((Some("n"), Option.empty[Double]), (Some("a"), Some(1.0)))
      .toDF("grp", "v")
    val more = Seq((Some("n"), Option.empty[Double]), (Some("a"), Some(2.0)),
      (Some("m"), Option.empty[Double])).toDF("grp", "v")
    val absent = s"${tmpDir()}/no-such-table"
    val got = rows(spec.combineDelta(spark, absent, spec.partial(base), more, more.limit(0)))
    assert(got == rows(spec.partial(base.union(more))), s"got $got")
    assert(got.exists(r => r._1.contains("n") && r._3.isEmpty))
  }

  test("retracting a group's last non-null Sum value reads NULL, like a full recompute") {
    val root = s"${tmpDir()}/t"
    // Group a keeps a row whose v is NULL; its only non-null value goes.
    val v0 = SnapshotTable.upsert(spark, root, Seq(
      (1L, "a", Some(4.0)), (2L, "a", Option.empty[Double]), (3L, "b", Some(2.0))
    ).toDF("k", "grp", "v"), Seq("k"))
    val mv0 = spec.partial(SnapshotTable.read(spark, root, Some(v0)))
    val v1 = SnapshotTable.delete(spark, root, col("k") === 1L)
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    val got = rows(spec.combineDelta(spark, root, mv0, adds, removes))
    assert(got == rows(spec.partial(SnapshotTable.read(spark, root))), s"got $got")
    assert(got.exists(r => r._1.contains("a") && r._2 == 1L && r._3.isEmpty),
      s"group a's sum must read NULL: $got")
  }

  test("a view seeded without a Sum's non-null count keeps reading its sum state") {
    val sumSpec = MvSpec(Seq("grp"),
      Seq(MvAgg.Count("cnt"), MvAgg.Sum("v", "total", Some("decimal(18,2)"))))
    val base = Seq((Some("a"), Some(1.0)), (Some("a"), Option.empty[Double])).toDF("grp", "v")
    val gone = Seq((Some("a"), Some(1.0))).toDF("grp", "v")
    val absent = s"${tmpDir()}/no-such-table"
    def total(mv: DataFrame) = sumSpec.finish(mv).collect().map(r => Option(r.getDecimal(2))).toSeq
    val seeded = sumSpec.combineDelta(spark, absent, sumSpec.partial(base), gone.limit(0), gone)
    assert(total(seeded) == Seq(None), "a counted view reads NULL, like a recompute")
    // A view without the count (an older build's) keeps the old reading.
    val old = sumSpec.combineDelta(spark, absent,
      sumSpec.partial(base).drop("__c_total"), gone.limit(0), gone)
    assert(!old.columns.contains("__c_total"))
    assert(total(old).map(_.map(_.doubleValue)) == Seq(Some(0.0)))
  }

  test("update CDC through the op: retraction + insertion on the same rows") {
    val root = s"${tmpDir()}/t"
    val base = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0)
    ).toDF("k", "grp", "v")
    val v0 = SnapshotTable.upsert(spark, root, base, Seq("k"))
    val mv0 = spec.partial(SnapshotTable.read(spark, root, Some(v0)))
    // moves k=2 into group "b" AND rescales it — both groups change shape
    val v1 = SnapshotTable.update(spark, root, col("k") === 2,
      Map("grp" -> lit("b"), "v" -> (col("v") * 10)))
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    val got = rows(spec.combineDelta(spark, root, mv0, adds, removes))
    assert(got == rows(spec.partial(SnapshotTable.read(spark, root))))
    val b = got.find(_._1.contains("b")).get
    assert(b._2 == 3L && b._6.contains(200.0))
  }

  test("spec validation refuses colliding aliases and empty shapes") {
    intercept[IllegalArgumentException](MvSpec(Nil, Seq(MvAgg.Count("c"))))
    intercept[IllegalArgumentException](MvSpec(Seq("k"), Nil))
    intercept[IllegalArgumentException](
      MvSpec(Seq("k"), Seq(MvAgg.Count("x"), MvAgg.Sum("v", "x"))))
    intercept[IllegalArgumentException](
      MvSpec(Seq("k"), Seq(MvAgg.Count("k"))))
  }
}
