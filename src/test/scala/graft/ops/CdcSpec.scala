package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Row-level CDC contract on SnapshotTable (VERDICT r8 #2): upsert commits
  * record source-sized (add, remove) change sets; changesDelta composes
  * them across appends / upserts / compactions and refuses (None) only for
  * pre-CDC rewrites; vacuum reference-counts the CDC side-car dirs. */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: (Long, String, Double)*) =
    t.toDF("k", "grp", "price")

  private def collectKV(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "grp", "price").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("upsert records post-image adds and pre-image removes; inserts remove nothing") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.upsert(spark, root, rows((1L, "a", 10.0), (2L, "a", 20.0)), Seq("k"))
    val v0 = SnapshotTable.currentVersion(spark, root).get

    // k=2 updated, k=3 inserted
    val v1 = SnapshotTable.upsert(spark, root,
      rows((2L, "b", 25.0), (3L, "a", 30.0)), Seq("k"))
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    assert(collectKV(adds) == Set((2L, "b", 25.0), (3L, "a", 30.0)))
    assert(collectKV(removes) == Set((2L, "a", 20.0))) // pre-image; insert k=3 absent

    // bootstrap CDC (anchor -1 = before the table existed): everything was
    // an add, nothing removed
    val Some((a0, r0)) = SnapshotTable.changesDelta(spark, root, -1L, Some(v0))
    assert(a0.count() == 2 && r0.count() == 0)
  }

  test("changesDelta composes appends, upserts and compactions; telescopes algebraically") {
    val root = s"${tmpDir()}/t"
    val v0 = SnapshotTable.upsert(spark, root, rows((1L, "a", 10.0)), Seq("k"))
    // append commit (no CDC): file diff is the add set
    val v1 = SnapshotTable.appendOnce(spark, root, rows((2L, "a", 20.0)), "cdc-spec", 1L)
    // upsert the SAME key twice: intermediate pairs must telescope
    val v2 = SnapshotTable.upsert(spark, root, rows((2L, "b", 21.0)), Seq("k"))
    val v3 = SnapshotTable.upsert(spark, root, rows((2L, "c", 22.0)), Seq("k"))
    // compaction: identical rows -> empty contribution, NOT a reprocess
    val v4 = SnapshotTable.compact(spark, root, maxFiles = 1).getOrElse(
      SnapshotTable.commit(spark, root,
        SnapshotTable.read(spark, root),
        cdc = Some((rows().limit(0), rows().limit(0)))))

    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v4))
    assert(collectKV(adds).diff(collectKV(removes)) == Set((2L, "c", 22.0)),
      s"telescoped delta wrong: +${collectKV(adds)} -${collectKV(removes)}")
    assert(collectKV(removes).subsetOf(Set((2L, "a", 20.0), (2L, "b", 21.0))))

    // a plain commit (pre-CDC rewrite) poisons the interval -> None
    val v5 = SnapshotTable.commit(spark, root, SnapshotTable.read(spark, root))
    assert(SnapshotTable.changesDelta(spark, root, v4, Some(v5)).isEmpty,
      "rewrite without CDC must signal full reprocess")
    // ...and the CDF-shaped feed, which has no reprocess fallback, refuses
    // the same interval, naming the version
    val refused = intercept[IllegalStateException] {
      SnapshotTable.changesFeed(spark, root, v4, v5, SnapshotTable.read(spark, root).schema)
    }
    assert(refused.getMessage.contains(s"version $v5 of $root is a rewrite without CDC"),
      refused.getMessage)
    // ...but an interval ending before it stays consumable
    assert(SnapshotTable.changesDelta(spark, root, v0, Some(v4)).isDefined)
  }

  test("recluster: identical rows, empty delta contribution, file skipping restored") {
    val root = s"${tmpDir()}/t"
    // Three appends interleave the key ranges across batch files: a key
    // probe must open every batch's files.
    (0 until 3).foreach { b =>
      SnapshotTable.appendOnce(spark, root,
        (0 until 30).map(i => ((b * 100 + i).toLong, s"g${i % 3}", i.toDouble))
          .toDF("k", "grp", "price"),
        "recluster-spec", b.toLong)
    }
    val before = SnapshotTable.read(spark, root).collect().map(_.toString).toSet
    val vBefore = SnapshotTable.currentVersion(spark, root).get

    val v = SnapshotTable.recluster(spark, root, Seq("grp"), numFiles = 3)
    assert(SnapshotTable.read(spark, root).collect().map(_.toString).toSet == before,
      "recluster changed rows")
    // delta consumers must see NOTHING from the recluster commit
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, vBefore, Some(v))
    assert(adds.count() == 0 && removes.count() == 0)
    // and the clustered snapshot must file-skip on the cluster key
    val (df, idx) = SnapshotTable.readTracked(spark, root)
    df.filter(col("grp") === "g1").agg(count(lit(1))).collect()
    assert(idx.exists(i => i.lastSelected < i.totalFiles),
      s"expected pruning after recluster: ${idx.map(i => (i.lastSelected, i.totalFiles))}")
  }

  test("z-order recluster: identical rows, empty delta, pruning on BOTH dimensions") {
    val root = s"${tmpDir()}/t"
    // Appends interleave BOTH key ranges across files: neither a k probe
    // nor a ts probe can prune, and range-reclustering on one column would
    // fix only that column.
    (0 until 4).foreach { b =>
      SnapshotTable.appendOnce(spark, root,
        (0 until 64).map(i => ((i * 4 + b).toLong, (255 - i * 4 - b).toLong, i.toDouble))
          .toDF("k", "ts", "price").coalesce(2),
        "zre-spec", b.toLong)
    }
    val before = SnapshotTable.read(spark, root).collect().map(_.toString).toSet
    val vBefore = SnapshotTable.currentVersion(spark, root).get

    val v = SnapshotTable.recluster(spark, root, Seq("k", "ts"),
      numFiles = 8, zorder = true)
    assert(SnapshotTable.read(spark, root).collect().map(_.toString).toSet == before)
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, vBefore, Some(v))
    assert(adds.count() == 0 && removes.count() == 0)
    // Morton layout prunes narrow probes on EITHER dimension.
    Seq(col("k") < 32L, col("ts") < 32L).foreach { p =>
      val (df, idx) = SnapshotTable.readTracked(spark, root)
      df.filter(p).agg(count(lit(1))).collect()
      assert(idx.exists(i => i.lastSelected < i.totalFiles),
        s"expected z-order pruning on $p: ${idx.map(i => (i.lastSelected, i.totalFiles))}")
    }
  }

  test("delete: SQL NULL semantics, pure-retraction CDC, no-match no-op") {
    val root = s"${tmpDir()}/t"
    // grp NULL on k=4: `grp === "a"` is NULL there -> the row must SURVIVE
    val v0 = SnapshotTable.upsert(spark, root,
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
        .toDF("k", "grp", "price")
        .union(Seq((4L, 40.0)).toDF("k", "price")
          .select(col("k"), lit(null: String).as("grp"), col("price"))),
      Seq("k"))
    val v1 = SnapshotTable.delete(spark, root, col("grp") === "a")
    assert(SnapshotTable.read(spark, root).select("k").as[Long].collect().toSet
      == Set(3L, 4L), "delete must keep NULL-predicate rows")
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    assert(adds.count() == 0, "delete CDC must add nothing")
    assert(collectKV(removes) == Set((1L, "a", 10.0), (2L, "a", 20.0)))
    // nothing matches -> same version back, no commit
    assert(SnapshotTable.delete(spark, root, col("grp") === "zzz") == v1)
    assert(SnapshotTable.currentVersion(spark, root).contains(v1))
    // deleting every remaining row is refused (empty snapshot is unreadable)
    intercept[IllegalStateException] {
      SnapshotTable.delete(spark, root, lit(true))
    }
  }

  test("delete is file-granular copy-on-write: untouched files carry by entry") {
    val root = s"${tmpDir()}/t"
    // Range-clustered on k into 4 files; the delete targets ONE key range.
    SnapshotTable.commitClustered(spark, root,
      (0 until 400).map(i => (i.toLong, s"g${i % 3}", i.toDouble))
        .toDF("k", "grp", "price"),
      clusterBy = Seq("k"), numFiles = 4)
    def fileSet = SnapshotTable.read(spark, root)
      .select(input_file_name()).distinct().collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath).toSet
    val before = fileSet
    assert(before.size == 4, s"fixture wants 4 clustered files, got ${before.size}")
    SnapshotTable.delete(spark, root, col("k").between(10, 20))
    val after = fileSet
    assert((after & before).size == 3,
      s"expected 3 of 4 files carried untouched; before=$before after=$after")
    assert((after -- before).size == (after.size - 3),
      "only the touched file may be rewritten")
    assert(SnapshotTable.read(spark, root).count() == 400 - 11)
  }

  test("update: copy-on-write SET with pre/post CDC; predicate-column updates keep their post-image") {
    val root = s"${tmpDir()}/t"
    val v0 = SnapshotTable.upsert(spark, root,
      rows((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)), Seq("k"))
    // The update MOVES matching rows out of the predicate ('a' -> 'z') and
    // doubles price — the post-image must still be captured.
    val v1 = SnapshotTable.update(spark, root, col("grp") === "a",
      Map("grp" -> lit("z"), "price" -> (col("price") * 2)))
    assert(collectKV(SnapshotTable.read(spark, root)) ==
      Set((1L, "z", 20.0), (2L, "z", 40.0), (3L, "b", 30.0)))
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    assert(collectKV(adds) == Set((1L, "z", 20.0), (2L, "z", 40.0)),
      "post-image must reflect SET even when it moves rows out of the predicate")
    assert(collectKV(removes) == Set((1L, "a", 10.0), (2L, "a", 20.0)))
    // no match -> same version; unknown SET column -> loud failure
    assert(SnapshotTable.update(spark, root, col("grp") === "nope",
      Map("price" -> lit(0.0))) == v1)
    intercept[IllegalArgumentException] {
      SnapshotTable.update(spark, root, lit(true), Map("typo" -> lit(1)))
    }
  }

  test("vacuum reclaims dropped CDC dirs and keeps live ones") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.upsert(spark, root, rows((1L, "a", 10.0)), Seq("k"))
    SnapshotTable.upsert(spark, root, rows((1L, "b", 11.0)), Seq("k"))
    val vLast = SnapshotTable.upsert(spark, root, rows((1L, "c", 12.0)), Seq("k"))
    def cdcDirs = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("cdc-")).map(_.getName).toSet
    assert(cdcDirs.size == 3, s"expected 3 cdc dirs, got $cdcDirs")
    // keep=2: the last two manifests (and ONLY their cdc dirs) survive
    SnapshotTable.vacuum(spark, root, keep = 2)
    val kept = cdcDirs
    assert(kept.size == 2 &&
      kept.exists(_.startsWith(f"cdc-$vLast%08d")) &&
      kept.exists(_.startsWith(f"cdc-${vLast - 1}%08d")),
      s"vacuum must keep exactly the live cdc dirs: $kept")
    // the kept CDC is still readable through the feed
    val Some((adds, _)) = SnapshotTable.changesDelta(spark, root, vLast - 1, Some(vLast))
    assert(collectKV(adds) == Set((1L, "c", 12.0)))
  }
}
