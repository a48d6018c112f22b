package graft.streaming

import graft.SparkSpec
import graft.ext.MaterializedView
import graft.ops.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streamed MV maintenance contract ([[Streams.mvRefreshSink]]): the view
  * SnapshotTable tracks the base table batch-for-batch (each refresh reads
  * only that commit's delta), the final view equals a full recompute
  * EXACTLY, and a full-stream replay from a fresh checkpoint is swallowed
  * by both tables' ledger stamps. */
class MvStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ordersDf(rows: Seq[(Long, String, String, Double)]): DataFrame =
    rows.toDF("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")

  private val drops = Seq(
    Seq((1L, "O", "1-URGENT", 10.0), (2L, "F", "2-HIGH", 20.0)),
    Seq((3L, "O", "1-URGENT", 30.0), (4L, "O", "3-LOW", 5.0)),
    Seq((5L, "F", "2-HIGH", 7.5))) // grows an existing group across batches

  private def writeShard(shardDir: String, name: String,
                         rows: Seq[(Long, String, String, Double)]): Unit = {
    val tmp = new java.io.File(tmpDir(), "w")
    ordersDf(rows).coalesce(1).write.parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(shardDir)
    dst.mkdirs()
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(dst, s"$name.parquet").toPath)
  }

  private def viewRows(viewRoot: String) =
    SnapshotTable.read(spark, viewRoot).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("cnt"),
        r.getDecimal(3).stripTrailingZeros, r.getAs[Double]("min_price"),
        r.getAs[Double]("max_price"))).toSet

  test("streamed view tracks the base per batch; replay swallowed by both ledgers") {
    val base = tmpDir()
    val baseRoot = s"$base/orders"
    val viewRoot = s"$base/view"
    val shardDir = s"$base/shard"
    val appId = "mv-stream-spec"

    def runStream(checkpoint: String): Unit = {
      val src = spark.readStream
        .schema("o_orderkey LONG, o_orderstatus STRING, o_orderpriority STRING, o_totalprice DOUBLE")
        .parquet(s"$shardDir/*.parquet")
      val q = Streams.mvRefreshSink(src, baseRoot, viewRoot, appId, checkpoint).start()
      q.awaitTermination()
    }

    // Three drops through three runs on one checkpoint: each run's new file
    // is one micro-batch, so the view must refresh per drop.
    drops.zipWithIndex.foreach { case (rows, i) =>
      writeShard(shardDir, s"drop$i", rows)
      runStream(s"$base/ckpt")
      val expect = MaterializedView.ordersSpec.partial(
          ordersDf(drops.take(i + 1).flatten)).collect()
        .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("cnt"),
          r.getDecimal(3).stripTrailingZeros, r.getAs[Double]("min_price"),
          r.getAs[Double]("max_price"))).toSet
      assert(viewRows(viewRoot) == expect, s"view diverged after drop $i")
    }
    val baseV = SnapshotTable.currentVersion(spark, baseRoot)
    val viewV = SnapshotTable.currentVersion(spark, viewRoot)
    assert(baseV.contains(2L) && viewV.contains(2L),
      s"expected 3 lockstep commits, got base=$baseV view=$viewV")

    // Full-stream replay on a fresh checkpoint: one big micro-batch with
    // batchId 0 — already stamped on BOTH tables, so neither may move.
    val before = viewRows(viewRoot)
    runStream(s"$base/ckpt2")
    assert(SnapshotTable.currentVersion(spark, baseRoot) == baseV &&
      SnapshotTable.currentVersion(spark, viewRoot) == viewV,
      "replay must not advance either ledger")
    assert(viewRows(viewRoot) == before)
  }
}
