package graft.streaming

import graft.SparkSpec
import graft.ops.MergeInto.{DeleteClause, InsertClause, UpdateClause}
import graft.ext.{MvAgg, MvSpec}
import graft.ops.SnapshotTable
import org.apache.spark.sql.functions._

/** The CDF-subscriber MV sink ([[Streams.mvCdcSink]]): a view
  * SnapshotTable tracks a base table written by arbitrary DML through the
  * change-feed source alone — final view ≡ full recompute, restarts pick
  * up only new commits, and a whole-stream replay under the same ledger
  * is swallowed. */
class MvCdcSinkSpec extends SparkSpec {
  import spark.implicits._

  private val spec = MvSpec(
    Seq("g"),
    Seq(MvAgg.Count("cnt"),
      MvAgg.Sum("v", "total", Some("decimal(18,2)")),
      MvAgg.Avg("v", "avg_v", Some("decimal(18,2)")),
      MvAgg.Min("v", "min_v"),
      MvAgg.Max("v", "max_v")))

  private def viewRows(root: String): Set[String] =
    spec.finish(SnapshotTable.read(spark, root)).collect().map(_.toString).toSet

  private def recompute(tableRoot: String): Set[String] =
    spec.finish(spec.partial(SnapshotTable.read(spark, tableRoot)))
      .collect().map(_.toString).toSet

  private def drain(tableRoot: String, viewRoot: String, appId: String,
                    ckpt: String, v0: Long): Unit = {
    val q = Streams.mvCdcSink(spark, tableRoot, viewRoot, spec, appId, ckpt,
      startVersion = v0, maxVersionsPerTrigger = 1).start()
    q.processAllAvailable()
    q.stop()
  }

  test("subscriber view tracks appends/upserts/deletes; restart and replay exactly-once") {
    val base = s"${tmpDir()}/base"
    val view = s"${tmpDir()}/view"
    val ckpt = s"${tmpDir()}/ckpt"
    val appId = "mv-cdc-spec"

    val v0 = SnapshotTable.upsert(spark, base,
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "g", "v"),
      Seq("k"))
    SnapshotTable.appendOnce(spark, base,
      Seq((4L, "b", 40.0), (5L, "c", 50.0)).toDF("k", "g", "v"), "producer", 0L)
    SnapshotTable.upsert(spark, base,
      Seq((2L, "z", 99.0)).toDF("k", "g", "v"), Seq("k")) // group move
    SnapshotTable.delete(spark, base, col("k") === 3L)    // empties no group? b keeps k=4

    drain(base, view, appId, ckpt, v0)
    assert(viewRows(view) == recompute(base),
      "streamed subscriber view must equal a full recompute")
    val versionsAfterFirst = SnapshotTable.currentVersion(spark, view).get
    assert(versionsAfterFirst >= 2,
      "one-version-per-trigger must commit the view per micro-batch")

    // More DML, then RESTART from the same checkpoint: only new commits
    // apply, and the view converges again.
    SnapshotTable.update(spark, base, col("g") === "c",
      Map("v" -> lit(55.0)))
    SnapshotTable.mergeInto(spark, base,
      Seq((6L, "a", 60.0), (4L, "b", 44.0)).toDF("k", "g", "v"), Seq("k"),
      matched = Seq(UpdateClause(None, None)), notMatched = Seq(InsertClause(None, None)))
    drain(base, view, appId, ckpt, v0)
    assert(viewRows(view) == recompute(base),
      "restart must fold only the new commits and still equal recompute")

    // Whole-stream REPLAY (fresh checkpoint, same appId/ledger): every
    // batchId is already stamped on the view — swallowed, view unchanged.
    val versionBefore = SnapshotTable.currentVersion(spark, view).get
    drain(base, view, appId, s"${tmpDir()}/ckpt2", v0)
    assert(SnapshotTable.currentVersion(spark, view).get == versionBefore,
      "a replayed stream under the same ledger must commit nothing")
    assert(viewRows(view) == recompute(base))

    // The sink advanced its vacuum watermark on the base (VERDICT r10 #3):
    // the consumed head is registered, so a default vacuum cannot strand
    // this subscriber.
    assert(SnapshotTable.subscriberWatermark(spark, base)
      .contains(SnapshotTable.currentVersion(spark, base).get),
      "mvCdcSink must register its consumed version as the vacuum watermark")
  }

  test("a MERGE deleting a group's extreme holders recomputes them from the pinned base") {
    val base = s"${tmpDir()}/base"
    val view = s"${tmpDir()}/view"
    val ckpt = s"${tmpDir()}/ckpt"
    val appId = "mv-cdc-extreme"
    val v0 = SnapshotTable.upsert(spark, base,
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0), (4L, "b", 40.0))
        .toDF("k", "g", "v"), Seq("k"))
    drain(base, view, appId, ckpt, v0)
    // a loses its min (k=1) and max (k=3) holders; b gains a row.
    SnapshotTable.mergeInto(spark, base,
      Seq((1L, "a", 0.0), (3L, "a", 0.0), (5L, "b", 45.0)).toDF("k", "g", "v"), Seq("k"),
      matched = Seq(DeleteClause(Some(lit(true)))),
      notMatched = Seq(InsertClause(None, None)))
    drain(base, view, appId, ckpt, v0)
    assert(viewRows(view) == recompute(base),
      "after the drain the view must equal a full recompute")
    assert(spec.finish(SnapshotTable.read(spark, view)).filter(col("g") === "a")
      .select("min_v", "max_v").head().toSeq == Seq(20.0, 20.0),
      "the vacated extremes must recompute to the survivor")
  }

  test("restore(withCdc = true) mid-stream: the view re-converges to the restored state (VERDICT r10 #4)") {
    val base = s"${tmpDir()}/base"
    val view = s"${tmpDir()}/view"
    val ckpt = s"${tmpDir()}/ckpt"
    val appId = "mv-cdc-restore"

    val v0 = SnapshotTable.upsert(spark, base,
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)).toDF("k", "g", "v"),
      Seq("k"))
    // Anchor BEFORE the bootstrap so the first drain consumes it (the
    // feed carries the bootstrap's CDC when startVersion = -1).
    drain(base, view, appId, ckpt, -1L)
    assert(viewRows(view) == recompute(base))

    // Drift the table, let the view track it...
    SnapshotTable.upsert(spark, base,
      Seq((2L, "z", 99.0), (4L, "c", 40.0)).toDF("k", "g", "v"), Seq("k"))
    SnapshotTable.delete(spark, base, col("k") === 1L)
    drain(base, view, appId, ckpt, -1L)
    assert(viewRows(view) == recompute(base))

    // ... then ROLL BACK with the CDC bridge: the synthetic full
    // retraction + reinsert flows through the standing subscriber and the
    // view re-converges to the restored state exactly — no reseeding.
    SnapshotTable.restore(spark, base, v0, withCdc = true)
    drain(base, view, appId, ckpt, -1L)
    assert(viewRows(view) == recompute(base),
      "view must re-converge to the restored state through the CDC bridge")
    assert(recompute(base) == spec.finish(spec.partial(
      SnapshotTable.read(spark, base, Some(v0)))).collect().map(_.toString).toSet,
      "sanity: current state IS the restored state")

    // Cross-schema rollbacks stay refused — the feed projects onto one
    // schema, so the bridge cannot express them as a row delta.
    val vPre = SnapshotTable.currentVersion(spark, base).get
    SnapshotTable.appendOnce(spark, base,
      Seq((9L, "x", 1.0, "extra")).toDF("k", "g", "v", "note"), "evolver", 0L)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, base, vPre, withCdc = true)
    }
    assert(e.getMessage.contains("schema"), e.getMessage)
  }
}
