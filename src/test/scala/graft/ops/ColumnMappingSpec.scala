package graft.ops

import graft.SparkSpec
import graft.ops.MergeInto.{InsertClause, UpdateClause}
import org.apache.spark.sql.functions._

/** Column mapping (VERDICT r9 #5 — logical vs physical names): RENAME is
  * metadata-only and every read/write/DML/CDC/bloom path keeps working
  * through the mapping; a dropped name re-adds under a fresh physical id;
  * time travel reads each historical version under its own names; restore
  * rewinds the mapping with everything else. */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  test("rename is metadata-only; reads, filters, DML and CDC follow the new name") {
    val root = s"${tmpDir()}/t"
    val v0 = SnapshotTable.commitClustered(spark, root,
      (1L to 40L).map(k => (k, s"v$k", k * 1.0)).toDF("k", "name", "score"),
      Seq("k"), numFiles = 4)
    val filesBefore = SnapshotTable.read(spark, root).inputFiles.toSet

    val v1 = SnapshotTable.renameColumn(spark, root, "name", "label")
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("k", "label", "score"))
    assert(cur.inputFiles.toSet == filesBefore, "rename must move zero files")
    assert(cur.filter(col("label") === "v7").count() == 1,
      "values must flow under the new logical name")
    // Time travel: the pre-rename version still reads its own names.
    assert(SnapshotTable.read(spark, root, Some(v0)).columns.toSeq ==
      Seq("k", "name", "score"))

    // File skipping still plans through the mapping (filter on a RENAMED
    // frame's key column reaches the physical stats).
    val (tracked, idx) = SnapshotTable.readTracked(spark, root)
    tracked.filter(col("k") === 7L).collect()
    idx.foreach(i => assert(i.lastSelected < i.totalFiles,
      s"skipping must survive the rename: ${i.lastSelected}/${i.totalFiles}"))

    // DML through the renamed schema: update SETs the new name, delete
    // filters it, CDC reads back logical.
    SnapshotTable.update(spark, root, col("k") === 7L,
      Map("label" -> lit("renamed!")))
    val v3 = SnapshotTable.delete(spark, root, col("label") === "v9")
    assert(SnapshotTable.read(spark, root).filter(col("label") === "renamed!").count() == 1)
    assert(SnapshotTable.read(spark, root).filter(col("k") === 9L).isEmpty)
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v1, Some(v3))
    assert(adds.columns.toSeq == Seq("k", "label", "score"))
    assert(removes.filter(col("label") === "v9").count() == 1)

    // Upsert after the rename writes new files under the SAME physical
    // name, so old and new files stay one column.
    SnapshotTable.upsert(spark, root,
      Seq((100L, "hundred", 1.0)).toDF("k", "label", "score"), Seq("k"))
    assert(SnapshotTable.read(spark, root).filter(col("label") === "hundred").count() == 1)
    assert(SnapshotTable.read(spark, root).filter(col("label") === "v5").count() == 1)

    // Table-level MERGE INTO through the mapping: the touched-file probe,
    // the clause projection, and the CDC all speak the renamed logical.
    val vM = SnapshotTable.mergeInto(spark, root,
      Seq((5L, "merged5", 0.5), (200L, "two-hundred", 2.0)).toDF("k", "label", "score"),
      Seq("k"), matched = Seq(UpdateClause(None, None)),
      notMatched = Seq(InsertClause(None, None)))
    val after = SnapshotTable.read(spark, root, Some(vM))
    assert(after.filter(col("label") === "merged5").count() == 1)
    assert(after.filter(col("label") === "two-hundred").count() == 1)
    val Some((mAdds, _)) = SnapshotTable.changesDelta(spark, root, vM - 1, Some(vM))
    assert(mAdds.columns.contains("label") && mAdds.count() == 2)
  }

  test("re-add after drop and add-after-rename both take fresh physical ids") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.appendOnce(spark, root,
      Seq((1L, "old-tag", 1.0)).toDF("k", "tag", "w"), "map-spec", 0L)
    // rename tag -> category: physical 'tag' stays occupied
    SnapshotTable.renameColumn(spark, root, "tag", "category")
    // a NEW column named tag must not read the old bytes
    SnapshotTable.appendOnce(spark, root,
      Seq((2L, "cat2", 2.0, "new-tag")).toDF("k", "category", "w", "tag"),
      "map-spec", 1L)
    val rows = SnapshotTable.read(spark, root)
      .select("k", "category", "tag").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)))).toSet
    assert(rows == Set(
      (1L, Some("old-tag"), None), // old physical bytes visible ONLY as category
      (2L, Some("cat2"), Some("new-tag"))), s"got $rows")
    val mapping = SnapshotTable.columnMapping(spark, root)
    assert(mapping("category") == "tag" && mapping.get("tag").exists(_ != "tag"))

    // drop the re-added tag, re-add AGAIN: yet another fresh physical
    SnapshotTable.dropColumn(spark, root, "tag")
    SnapshotTable.appendOnce(spark, root,
      Seq((3L, "cat3", 3.0, "third")).toDF("k", "category", "w", "tag"),
      "map-spec", 2L)
    val tags = SnapshotTable.read(spark, root).select("k", "tag").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tags == Map(1L -> None, 2L -> None, 3L -> Some("third")), s"got $tags")

    // Rename CHAIN onto a vacated logical: w -> weight, then tag -> w.
    // Logical 'w' now reads tag's physical; the ORIGINAL w bytes stay
    // reachable only as 'weight'; nothing crosses.
    SnapshotTable.renameColumn(spark, root, "w", "weight")
    SnapshotTable.renameColumn(spark, root, "tag", "w")
    val chained = SnapshotTable.read(spark, root)
      .select("k", "weight", "w").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(chained == Set(
      (1L, 1.0, None), (2L, 2.0, None), (3L, 3.0, Some("third"))), s"got $chained")
  }

  test("rename refused while a CHECK references it; bloom config follows a rename") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commit(spark, root,
      (1L to 2000L).map(k => (k, k * 2.0)).toDF("k", "price"))
    SnapshotTable.setCheckConstraint(spark, root, "price_pos", "price > 0")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, root, "price", "amount")
    }
    assert(e.getMessage.contains("price_pos"))
    SnapshotTable.dropCheckConstraint(spark, root, "price_pos")

    SnapshotTable.setBloomColumns(spark, root, Seq("k"))
    SnapshotTable.renameColumn(spark, root, "k", "id")
    // post-rename commits build blooms for the renamed column and the
    // point probe prunes through them
    SnapshotTable.appendOnce(spark, root,
      (10001L to 12000L).map(k => (k, k * 2.0)).toDF("id", "price"), "map-bloom", 0L)
    val (tracked, idx) = SnapshotTable.readTracked(spark, root)
    tracked.filter(col("id") === 10007L).collect()
    idx.foreach(i => assert(i.lastSelected < i.totalFiles,
      s"bloom must follow the rename: ${i.lastSelected}/${i.totalFiles}"))
  }

  test("appendOnce with a differently-cased column writes through the mapping (ADVICE r10)") {
    // Lineage: drop 'price' then re-add it -> the revived logical 'price'
    // maps to a FRESH physical ('price_1'). A batch now shipping 'Price'
    // resolves case-insensitively to the same column; before the fix it was
    // written under the batch's casing while reads resolve 'price_1', so
    // the whole batch read back NULL.
    val root = s"${tmpDir()}/t"
    SnapshotTable.commit(spark, root,
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price"))
    SnapshotTable.dropColumn(spark, root, "price")
    SnapshotTable.appendOnce(spark, root,
      Seq((3L, 30.0)).toDF("k", "price"), "cm-app", 0L) // re-add: fresh physical
    assert(SnapshotTable.columnMapping(spark, root).get("price").exists(_ != "price"),
      "re-added column must carry a fresh physical id")
    // The differently-cased batch must land under the DECLARED name.
    SnapshotTable.appendOnce(spark, root,
      Seq((4L, 40.0)).toDF("k", "Price"), "cm-app", 1L)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("k", "price"), "declared casing wins")
    val got = cur.orderBy("k").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got == Map(1L -> null, 2L -> null, 3L -> 30.0, 4L -> 40.0),
      s"batch 4's value must read back under the mapped physical, got $got")
  }

  test("restore rewinds the mapping; CDF stream reads through a rename") {
    val root = s"${tmpDir()}/t"
    val v0 = SnapshotTable.upsert(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "g", "v"), Seq("k"))
    SnapshotTable.renameColumn(spark, root, "g", "grp")
    val v2 = SnapshotTable.upsert(spark, root,
      Seq((2L, "B", 20.0)).toDF("k", "grp", "v"), Seq("k"))

    // The CDF stream (anchored pre-rename, schema at START) keeps
    // consuming: the upsert after the rename lands under the same
    // physical, so its rows project onto the start schema's names.
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val q = spark.readStream.format("graft-cdf")
      .option("root", root).option("startVersion", v0.toString).load()
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.option("checkpointLocation", s"${tmpDir()}/ckpt").start()
    q.processAllAvailable(); q.stop()
    assert(buf.exists(r => r.getAs[Long]("_commit_version") == v2 &&
      r.getAs[String]("_change_type") == "insert" && r.getAs[Double]("v") == 20.0),
      s"stream must read post-rename commits: ${buf.map(_.toString)}")

    // Restore to the pre-rename version: names AND mapping rewind.
    SnapshotTable.restore(spark, root, v0)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("k", "g", "v"))
    assert(cur.filter(col("g") === "b").count() == 1, "pre-rename values restored")
    assert(SnapshotTable.columnMapping(spark, root).isEmpty)
  }
}
