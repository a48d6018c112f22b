package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Additive schema evolution on SnapshotTable (Delta mergeSchema
  * semantics): the manifest DECLARES each version's schema, so files
  * written before a column existed stay in the table untouched and read
  * NULL for it; time travel sees each version's own schema; retypes are
  * refused. */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  test("appendOnce with a new column: old files read NULL, time travel keeps old schema") {
    val root = s"${tmpDir()}/t"
    val v0 = SnapshotTable.appendOnce(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "grp"), "evo-spec", 0L)
    val v1 = SnapshotTable.appendOnce(spark, root,
      Seq((3L, "c", 9.5)).toDF("k", "grp", "score"), "evo-spec", 1L)

    val cur = SnapshotTable.read(spark, root, Some(v1))
    assert(cur.columns.toSeq == Seq("k", "grp", "score"),
      s"evolved schema must append the new column: ${cur.columns.toSeq}")
    val rows = cur.select("k", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(9.5)),
      "pre-evolution rows must read NULL for the new column")

    // Time travel: the v0 manifest declared the 2-column schema.
    assert(SnapshotTable.read(spark, root, Some(v0)).columns.toSeq == Seq("k", "grp"))
  }

  test("appendOnce missing an old column null-fills it for the new rows only") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.appendOnce(spark, root,
      Seq((1L, "a", 1.0)).toDF("k", "grp", "score"), "evo-spec", 0L)
    SnapshotTable.appendOnce(spark, root,
      Seq((2L, "b")).toDF("k", "grp"), "evo-spec", 1L)
    val rows = SnapshotTable.read(spark, root).select("k", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows == Map(1L -> Some(1.0), 2L -> None))
  }

  test("upsert evolution: grown source updates in place, old rows null-fill; retype refused") {
    val root = s"${tmpDir()}/t"
    val v0 = SnapshotTable.upsert(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "grp"), Seq("k"))
    val v1 = SnapshotTable.upsert(spark, root,
      Seq((2L, "B", 7.0), (3L, "c", 8.0)).toDF("k", "grp", "score"), Seq("k"))
    val rows = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows == Set((1L, "a", None), (2L, "B", Some(7.0)), (3L, "c", Some(8.0))))
    // CDC across the evolution stays consumable (mergeSchema on the feed)
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    assert(adds.count() == 2 && removes.count() == 1)
    assert(adds.columns.contains("score"))

    intercept[IllegalArgumentException] {
      SnapshotTable.upsert(spark, root,
        Seq((4L, 99L, 1.0)).toDF("k", "grp", "score"), Seq("k")) // grp retyped
    }
  }

  test("file-skipping still prunes after evolution (old files lack the new column's stats)") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.appendOnce(spark, root,
      (0 until 100).map(i => (i.toLong, s"g$i")).toDF("k", "grp"), "evo-spec", 0L)
    SnapshotTable.appendOnce(spark, root,
      (100 until 200).map(i => (i.toLong, s"g$i", i * 1.0)).toDF("k", "grp", "score"),
      "evo-spec", 1L)
    val (df, idx) = SnapshotTable.readTracked(spark, root)
    // k-predicate prunes to the second append's files
    df.filter(col("k") >= 150).agg(count(lit(1))).collect()
    assert(idx.exists(i => i.lastSelected < i.totalFiles),
      s"k-bounds must still prune: ${idx.map(i => (i.lastSelected, i.totalFiles))}")
    // score-predicate must DEGRADE TO KEEP on pre-evolution files (no stats),
    // never prune them out: the count must still be exact.
    assert(df.filter(col("score").isNull).count() == 100)
  }

  test("UPDATE/DELETE/compact on an evolved table keep the declared schema") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.appendOnce(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "grp"), "evo-spec", 0L)
    SnapshotTable.appendOnce(spark, root,
      Seq((3L, "c", 9.5)).toDF("k", "grp", "score"), "evo-spec", 1L)

    def state(): (Seq[String], Set[(Long, String, Option[Double])]) = {
      val df = SnapshotTable.read(spark, root)
      (df.columns.toSeq, df.collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet)
    }

    // UPDATE whose predicate touches the NEW column on a PRE-evolution
    // file (score IS NULL there): the touched file must read NULL-filled,
    // not throw, and the rewrite must not regress the declared schema.
    SnapshotTable.update(spark, root, col("score").isNull && col("k") === 1L,
      Map("grp" -> lit("z")))
    assert(state() == (Seq("k", "grp", "score"),
      Set((1L, "z", None), (2L, "b", None), (3L, "c", Some(9.5)))))

    // DELETE from a pre-evolution file: same declared-schema contract.
    SnapshotTable.delete(spark, root, col("k") === 2L)
    assert(state() == (Seq("k", "grp", "score"),
      Set((1L, "z", None), (3L, "c", Some(9.5)))))

    // Compaction mixes pre- and post-evolution files into one rewrite:
    // pre-evolution rows materialize NULL for the grown column.
    assert(SnapshotTable.compact(spark, root, maxFiles = 1).nonEmpty,
      "fixture must actually compact (expected >1 file before)")
    assert(state() == (Seq("k", "grp", "score"),
      Set((1L, "z", None), (3L, "c", Some(9.5)))))
  }

  test("dropColumn is metadata-only; re-add gets a fresh physical id (no resurfacing)") {
    val root = s"${tmpDir()}/t"
    val v0 = SnapshotTable.appendOnce(spark, root,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "grp", "score"), "evo-spec", 0L)
    val filesBefore = SnapshotTable.read(spark, root).inputFiles.toSet

    val v1 = SnapshotTable.dropColumn(spark, root, "score")
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("k", "grp"))
    assert(cur.inputFiles.toSet == filesBefore, "a drop must not touch data files")
    // Time travel still sees the column at the pre-drop version.
    assert(SnapshotTable.read(spark, root, Some(v0)).columns.contains("score"))

    // A later unrelated commit inherits the tombstone...
    SnapshotTable.appendOnce(spark, root,
      Seq((3L, "c")).toDF("k", "grp"), "evo-spec", 1L)
    assert(SnapshotTable.read(spark, root).count() == 3)
    // ...and RE-ADDING the dropped name is legal since column mapping
    // (VERDICT r9 #5): the revived logical takes a FRESH physical id, so
    // the v0 files' orphaned score bytes stay invisible — pre-drop rows
    // read NULL, only the re-adding batch's values surface.
    SnapshotTable.appendOnce(spark, root,
      Seq((4L, "d", 4.0)).toDF("k", "grp", "score"), "evo-spec", 2L)
    val readd = SnapshotTable.read(spark, root).select("k", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(readd == Map(1L -> None, 2L -> None, 3L -> None, 4L -> Some(4.0)),
      s"orphaned pre-drop values must NOT resurface: $readd")
    assert(SnapshotTable.columnMapping(spark, root).get("score").exists(_ != "score"),
      "the revived column must carry a fresh physical name")
    // The re-added column UPDATES through upsert like any other.
    SnapshotTable.upsert(spark, root,
      Seq((1L, "a", 9.0)).toDF("k", "grp", "score"), Seq("k"))
    val afterUp = SnapshotTable.read(spark, root)
      .filter(col("k") === 1L).select("score").head()
    assert(afterUp.getDouble(0) == 9.0)
    // A DIFFERENT new column still evolves freely after the drop.
    SnapshotTable.appendOnce(spark, root,
      Seq((5L, "e", 11L)).toDF("k", "grp", "views"), "evo-spec", 3L)
    assert(SnapshotTable.read(spark, root).columns.toSeq ==
      Seq("k", "grp", "score", "views"))

    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, root, "absent")
    }

    // Change feed across a drop: the delta's FILES still hold the dropped
    // column's bytes (they were appended before the drop), but the feed
    // lands on the end version's declared schema — no resurfacing.
    val root2 = s"${tmpDir()}/t2"
    val w0 = SnapshotTable.appendOnce(spark, root2,
      Seq((1L, "a")).toDF("k", "grp"), "evo-spec", 0L)
    SnapshotTable.appendOnce(spark, root2,
      Seq((2L, "b", 2.0)).toDF("k", "grp", "score"), "evo-spec", 1L)
    SnapshotTable.dropColumn(spark, root2, "score")
    val Some((feed, _)) = SnapshotTable.changesDelta(spark, root2, w0)
    assert(feed.columns.toSeq == Seq("k", "grp"),
      s"feed must not resurface a dropped column: ${feed.columns.toSeq}")
    assert(feed.collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("restore is metadata-only rollback: rows, schema, and tombstones all rewind") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.appendOnce(spark, root,
      Seq((1L, "a")).toDF("k", "grp"), "evo-spec", 0L)
    val v1 = SnapshotTable.appendOnce(spark, root,
      Seq((2L, "b", 2.0)).toDF("k", "grp", "score"), "evo-spec", 1L)
    SnapshotTable.dropColumn(spark, root, "score")
    val v3 = SnapshotTable.delete(spark, root, col("k") === 1L)
    assert(SnapshotTable.read(spark, root).columns.toSeq == Seq("k", "grp"))
    assert(SnapshotTable.read(spark, root).count() == 1)

    // Restore to before the drop AND the delete: both rewind, history
    // stays (the restore is a new version, not a log rewind).
    val filesAtV1 = SnapshotTable.read(spark, root, Some(v1)).inputFiles.toSet
    val v4 = SnapshotTable.restore(spark, root, v1)
    assert(v4 == v3 + 1)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("k", "grp", "score"))
    assert(cur.count() == 2)
    assert(cur.inputFiles.toSet == filesAtV1, "restore must not move data")
    assert(SnapshotTable.read(spark, root, Some(v3)).count() == 1,
      "pre-restore versions must stay time-travelable")

    // The tombstone rewound with the restore: score is a live column again
    // (its restored values are real, not orphans), so evolving on top of
    // it is ordinary — and a FRESH append carrying score succeeds.
    SnapshotTable.appendOnce(spark, root,
      Seq((3L, "c", 3.0)).toDF("k", "grp", "score"), "evo-spec", 2L)
    assert(SnapshotTable.read(spark, root).count() == 3)

    // A restore target ahead of current is refused; restore-to-current is
    // a no-op returning the current version.
    intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, root, 99L)
    }
    val vCur = SnapshotTable.currentVersion(spark, root).get
    assert(SnapshotTable.restore(spark, root, vCur) == vCur)

    // Vacuum after a restore: the current manifest references dirs written
    // many versions ago — reference counting must keep exactly those alive.
    SnapshotTable.vacuum(spark, root, keep = 1)
    assert(SnapshotTable.read(spark, root).count() == 3)
  }

  test("streamed appendOnce sink absorbs a producer schema upgrade across restarts") {
    import org.apache.spark.sql.types._
    val root = s"${tmpDir()}/t"
    val src1 = s"${tmpDir()}/src1"; val src2 = s"${tmpDir()}/src2"
    Seq((1L, "a"), (2L, "b")).toDF("k", "grp")
      .coalesce(1).write.parquet(src1)
    Seq((3L, "c", 3.0)).toDF("k", "grp", "score")
      .coalesce(1).write.parquet(src2)

    def capture(schema: StructType, src: String, appId: String): Unit =
      spark.readStream.schema(schema).parquet(src).writeStream
        .format("graft").option("root", root).option("txnAppId", appId)
        .option("checkpointLocation", tmpDir() + "/ckpt").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()

    // Run 1: the original producer ships (k, grp).
    val schema1 = StructType(Seq(
      StructField("k", LongType), StructField("grp", StringType)))
    capture(schema1, src1, "evo-stream-v1")

    // Run 2: the upgraded producer ships a grown schema from a fresh
    // checkpoint — the sink's appendOnce evolves the table in place,
    // no migration job between deploys.
    val schema2 = schema1.add(StructField("score", DoubleType))
    capture(schema2, src2, "evo-stream-v2")

    val rows = SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows == Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(3.0))))

    // A downgraded replay (old producer re-ships its batch 0 under ITS
    // appId) is swallowed by the stamp, not re-appended with NULL score.
    capture(schema1, src1, "evo-stream-v1")
    assert(SnapshotTable.read(spark, root).count() == 3)
  }

  test("rowCount answers from the manifest and tracks DML exactly") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.appendOnce(spark, root,
      (0L until 100L).map(i => (i, s"g${i % 5}")).toDF("k", "grp"), "rc-spec", 0L)
    assert(SnapshotTable.rowCount(spark, root) == 100L)
    SnapshotTable.delete(spark, root, col("k") % 10 === 0L)
    assert(SnapshotTable.rowCount(spark, root) == 90L)
    val v = SnapshotTable.upsert(spark, root,
      Seq((200L, "new")).toDF("k", "grp"), Seq("k"))
    assert(SnapshotTable.rowCount(spark, root, Some(v)) == 91L)
    // Manifest-answered == scan-answered, at a time-traveled version too.
    assert(SnapshotTable.rowCount(spark, root) ==
      SnapshotTable.read(spark, root).count())
  }

  test("history derives commit kinds from file-set algebra and surfaces stamps") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.appendOnce(spark, root,
      Seq((1L, "a", 1.0)).toDF("k", "grp", "score"), "evo-spec", 0L)  // v0 bootstrap
    SnapshotTable.appendOnce(spark, root,
      Seq((2L, "b", 2.0)).toDF("k", "grp", "score"), "evo-spec", 1L)  // v1 append
    SnapshotTable.dropColumn(spark, root, "score")                    // v2 metadata
    SnapshotTable.upsert(spark, root,
      Seq((1L, "z")).toDF("k", "grp"), Seq("k"))                      // v3 rewrite (CDC)

    val h = SnapshotTable.history(spark, root).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(h.keySet == Set(0L, 1L, 2L, 3L))
    assert(h(0L).getString(1) == "bootstrap")
    assert(h(1L).getString(1) == "append")
    assert(h(2L).getString(1) == "metadata")
    assert(h(3L).getString(1) == "rewrite")
    // Stamps surface on the appendOnce commits, CDC on the upsert.
    assert(h(1L).getString(5) == "evo-spec" && h(1L).getLong(6) == 1L)
    assert(h(3L).getBoolean(7), "upsert commit must report has_cdc")
    // The drop's metadata row shows the shrunken column list at zero moves.
    assert(h(2L).getSeq[String](8) == Seq("k", "grp"))
    assert(h(2L).getLong(2) == h(1L).getLong(2), "metadata commit keeps file count")

    // Declared governance surfaces per version: a constraint set after the
    // upsert appears on ITS version's row onward, not retroactively.
    SnapshotTable.setCheckConstraint(spark, root, "k_pos", "k > 0")
    val h2 = SnapshotTable.history(spark, root).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(h2(4L).getString(1) == "metadata")
    assert(h2(4L).getSeq[String](9) == Seq("k_pos"))
    assert(h2(3L).getSeq[String](9).isEmpty)
  }

  test("case-variant column names resolve to the existing column, not a duplicate (ADVICE r9)") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.appendOnce(spark, root,
      Seq((1L, 10.0)).toDF("k", "price"), "evo-case", 0L)
    // Same column, different case: must APPEND under the declared name
    // 'price' (values flowing in), never duplicate the field.
    SnapshotTable.appendOnce(spark, root,
      Seq((2L, 20.0)).toDF("k", "Price"), "evo-case", 1L)
    val cur = SnapshotTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("k", "price"),
      s"case-variant append must not duplicate the column: ${cur.columns.toSeq}")
    assert(cur.filter(col("price") === 20.0).count() == 1,
      "the case-variant batch's values must land in the existing column")

    // A case-variant RETYPE must still be refused.
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.appendOnce(spark, root,
        Seq((3L, "oops")).toDF("k", "PRICE"), "evo-case", 2L)
    }
    assert(e.getMessage.contains("retype"))

    // Upsert through the case variant: values update the declared column.
    SnapshotTable.upsert(spark, root,
      Seq((1L, 11.0)).toDF("K", "PRICE"), Seq("k"))
    val rows = SnapshotTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == Map(1L -> 11.0, 2L -> 20.0))

    // Tombstones match case-insensitively: a dropped column re-added
    // under a DIFFERENT case still gets a fresh physical id, so the
    // orphaned values cannot sneak back in through the case variant.
    SnapshotTable.appendOnce(spark, root,
      Seq((4L, 40.0, "x")).toDF("k", "price", "tag"), "evo-case", 3L)
    SnapshotTable.dropColumn(spark, root, "tag")
    SnapshotTable.appendOnce(spark, root,
      Seq((5L, 50.0, "y")).toDF("k", "price", "TAG"), "evo-case", 4L)
    val tags = SnapshotTable.read(spark, root).select("k", "TAG").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tags(4L).isEmpty && tags(5L).contains("y"),
      s"case-variant re-add must not resurface orphaned values: $tags")
  }
}
