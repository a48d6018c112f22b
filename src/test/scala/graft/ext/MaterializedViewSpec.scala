package graft.ext

import graft.SparkSpec
import graft.ops.SnapshotTable
import org.apache.spark.sql.functions._

/** Incremental-MV contract: the change-feed-driven refresh chain equals a
  * full recompute of the final table state (exactly — integer counts,
  * decimal sums), groups arriving in later batches materialize through the
  * full-outer combine, and the whole cycle is idempotent across reruns. */
class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  // Mirror of MaterializedView.mvRoot's content-version-keyed tag
  // (ADVICE r8: the root keys on dir@corpusVersion, not dir alone).
  private def rootFor(dir: String): String = {
    val vdir = s"$dir@${Similarity.corpusVersion(dir, "orders")}"
    new java.io.File(sys.props("java.io.tmpdir"),
      "graft-mv-" + vdir.replaceAll("[^a-zA-Z0-9]", "_")).getAbsolutePath
  }

  /** Orders fixture: keys spread so one (status, priority) group exists only
    * in batch 0 (keys ≡ 0 mod 3), one only in batch 2, others span batches. */
  private def writeOrders(dir: String): Unit = {
    val rows = Seq(
      // (o_orderkey, status, priority, totalprice)
      (3L, "O", "1-URGENT", 10.00), (6L, "O", "1-URGENT", 20.50),
      (9L, "F", "2-HIGH", 5.25), // group (F, 2-HIGH) only in batch 0
      (1L, "O", "1-URGENT", 30.00), (4L, "O", "3-LOW", 7.10),
      (7L, "P", "1-URGENT", 99.99),
      (2L, "O", "3-LOW", 1.05), (5L, "P", "1-URGENT", 42.00),
      (8L, "F", "5-LOW", 123.45)) // group (F, 5-LOW) only in batch 2
    rows.toDF("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      .withColumn("o_custkey", col("o_orderkey") % 4)
      .withColumn("o_orderdate", lit("1995-01-01").cast("timestamp"))
      .write.parquet(s"$dir/orders.parquet")
  }

  private def collectView(dir: String) =
    MaterializedView.incrementalMv(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("cnt"),
        r.getAs[Double]("total"), r.getAs[Double]("min_price"),
        r.getAs[Double]("max_price"))).toSeq

  test("incremental refresh equals full recompute; later-batch groups appear") {
    val dir = tmpDir()
    writeOrders(dir)
    val got = collectView(dir)
    val expected = MaterializedView.ordersSpec.partial(
        spark.read.parquet(s"$dir/orders.parquet"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("cnt"),
        col("total").cast("double").as("total"), col("min_price"), col("max_price"))
      .orderBy("o_orderstatus", "o_orderpriority")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("cnt"),
        r.getAs[Double]("total"), r.getAs[Double]("min_price"),
        r.getAs[Double]("max_price"))).toSeq
    assert(got == expected)
    // the batch-0-only and batch-2-only groups both survived the chain
    assert(got.exists(r => r._1 == "F" && r._2 == "2-HIGH" && r._3 == 1L))
    assert(got.exists(r => r._1 == "F" && r._2 == "5-LOW" && r._3 == 1L))

    // rerun: appendOnce replays as no-ops, version history does not grow,
    // and the view is unchanged (no double-counted deltas)
    val v = SnapshotTable.currentVersion(spark, rootFor(dir))
    assert(v.contains(2L), s"expected 3 commits (v0..v2), got $v")
    assert(collectView(dir) == got)
    assert(SnapshotTable.currentVersion(spark, rootFor(dir)) == v)
  }

  test("in-place regeneration of the base table gets a fresh root (no stale view)") {
    val dir = tmpDir()
    writeOrders(dir)
    val got1 = collectView(dir)
    val root1 = rootFor(dir)
    // Regenerate the orders table AT THE SAME PATH with different content —
    // without content-version keying, the (appId, batchId) stamps would
    // replay every append as a no-op and serve the stale view (ADVICE r8).
    val fs = new java.io.File(s"$dir/orders.parquet")
    fs.listFiles().foreach(_.delete()); fs.delete()
    Seq((1L, "X", "1-URGENT", 50.0), (2L, "X", "1-URGENT", 60.0))
      .toDF("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      .withColumn("o_custkey", col("o_orderkey") % 4)
      .withColumn("o_orderdate", lit("1995-01-01").cast("timestamp"))
      .write.parquet(s"$dir/orders.parquet")
    val got2 = collectView(dir)
    assert(rootFor(dir) != root1, "regenerated table must map to a fresh root")
    assert(got2.map(_._1).toSet == Set("X"), s"stale view served: $got2")
    assert(got2 != got1)
  }

  test("combineDelta retracts: runner-up min/max, emptied groups drop, moved groups appear") {
    val root = s"${tmpDir()}/orders"
    // Base table: group A holds its max (30) in the row that will MOVE;
    // group B will be emptied entirely; group C is untouched.
    def df(rows: Seq[(Long, String, String, Double)]) =
      rows.toDF("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    val base = Seq(
      (1L, "O", "A", 10.0), (2L, "O", "A", 30.0), (3L, "O", "A", 20.0),
      (4L, "F", "B", 99.0),
      (5L, "P", "C", 7.0))
    val v0 = SnapshotTable.upsert(spark, root, df(base), Seq("o_orderkey"),
      clusterBy = Seq("o_orderstatus", "o_orderpriority"))
    val mv0 = MaterializedView.ordersSpec.partial(SnapshotTable.read(spark, root, Some(v0)))

    // Upsert: row 2 (A's max) and row 4 (all of B) move to group Z.
    val moved = Seq((2L, "O", "Z", 30.0), (4L, "F", "Z", 99.0))
    val v1 = SnapshotTable.upsert(spark, root, df(moved), Seq("o_orderkey"),
      clusterBy = Seq("o_orderstatus", "o_orderpriority"))
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    val got = MaterializedView.ordersSpec.combineDelta(spark, root, mv0, adds, removes)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("cnt"),
        r.getDecimal(3).doubleValue(), r.getAs[Double]("min_price"),
        r.getAs[Double]("max_price"))).toSet
    assert(got == Set(
      ("O", "A", 2L, 30.0, 10.0, 20.0), // retracted 30; recompute found max=20
      ("P", "C", 1L, 7.0, 7.0, 7.0),    // untouched
      ("O", "Z", 1L, 30.0, 30.0, 30.0), // new group from adds
      ("F", "Z", 1L, 99.0, 99.0, 99.0)),// B (emptied) must NOT appear
      s"combineDelta produced $got")

    // full-recompute cross-check: the refreshed view == partial(final state)
    val full = MaterializedView.ordersSpec.partial(SnapshotTable.read(spark, root))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("cnt"),
        r.getDecimal(3).doubleValue(), r.getAs[Double]("min_price"),
        r.getAs[Double]("max_price"))).toSet
    assert(got == full)
  }

  test("combine is a lattice join: one-sided groups keep their partials") {
    val mv = Seq(("O", "1-URGENT", 2L, BigDecimal("30.50"), 10.0, 20.5))
      .toDF("o_orderstatus", "o_orderpriority", "cnt", "total", "min_price", "max_price")
      .withColumn("total", col("total").cast("decimal(28,2)"))
    // Raw delta rows: one O/1-URGENT order, three F/2-HIGH orders.
    val delta = Seq(("O", "1-URGENT", 9.5),
        ("F", "2-HIGH", 0.5), ("F", "2-HIGH", 0.5), ("F", "2-HIGH", 2.0))
      .toDF("o_orderstatus", "o_orderpriority", "o_totalprice")
    // No removes: no extreme is lost, so the (absent) base is never read.
    val out = MaterializedView.ordersSpec.combineDelta(spark,
        s"${tmpDir()}/no-such-table", mv, delta, delta.limit(0)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("cnt"),
        r.getDecimal(3).doubleValue(), r.getAs[Double]("min_price"),
        r.getAs[Double]("max_price"))).toSet
    assert(out == Set(
      ("O", "1-URGENT", 3L, 40.0, 9.5, 20.5),
      ("F", "2-HIGH", 3L, 3.0, 0.5, 2.0)))
  }
}
