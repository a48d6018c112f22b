package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Manifest-commit snapshot table: atomic visibility, reader isolation,
  * time travel, upsert semantics, vacuum. */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def canon(df: DataFrame): Seq[String] =
    df.orderBy("k").collect().map(_.toString).toSeq

  test("bootstrap commit then read round-trips") {
    val root = tmpDir() + "/tbl"
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val v = SnapshotTable.upsert(spark, root, df, Seq("k"))
    assert(v == 0L)
    assert(canon(SnapshotTable.read(spark, root)) == canon(df))
  }

  test("upsert merges source-wins and bumps the version") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.upsert(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    val v1 = SnapshotTable.upsert(spark, root,
      Seq((2L, "B2"), (3L, "c")).toDF("k", "v"), Seq("k"))
    assert(v1 == 1L)
    assert(canon(SnapshotTable.read(spark, root)) ==
      canon(Seq((1L, "a"), (2L, "B2"), (3L, "c")).toDF("k", "v")))
  }

  test("upsert rewrites only the files holding source keys") {
    val root = tmpDir() + "/tbl"
    val v0 = SnapshotTable.commitClustered(spark, root,
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numFiles = 4)
    val before = SnapshotTable.read(spark, root, Some(v0)).inputFiles.toSet
    assert(before.size == 4)
    val v1 = SnapshotTable.upsert(spark, root, Seq((5L, "new5")).toDF("k", "v"), Seq("k"))
    val after = SnapshotTable.read(spark, root, Some(v1)).inputFiles.toSet
    assert((before & after).size == 3,
      s"the 3 files without key 5 must carry by manifest entry: ${(before & after).size}")
    assert(after.size == 4, s"one file rewritten in place of the one holding key 5: $after")
    assert(canon(SnapshotTable.read(spark, root, Some(v1))) ==
      canon((1L to 40L).map(k => (k, if (k == 5L) "new5" else s"v$k")).toDF("k", "v")))
  }

  test("upsert refuses two source rows for a key the table holds, naming the key") {
    val root = tmpDir() + "/tbl"
    val seed = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val v0 = SnapshotTable.upsert(spark, root, seed, Seq("k"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.upsert(spark, root,
        Seq((2L, "x"), (2L, "y"), (3L, "c")).toDF("k", "v"), Seq("k"))
    }
    assert(e.getMessage.contains("multiple source rows match") &&
      e.getMessage.contains("[2]"), e.getMessage)
    assert(SnapshotTable.currentVersion(spark, root).contains(v0), "no partial commit")
    assert(canon(SnapshotTable.read(spark, root)) == canon(seed))
  }

  test("upsert and MERGE land on a table declaring non-null nested fields") {
    import org.apache.spark.sql.functions.{array, lit, struct}
    // array(struct(lit)) plans a non-null element and field; the bootstrap
    // declares that schema as the batch states it.
    def batch(ks: Long*) = ks.toDF("k")
      .withColumn("tags", array(struct(lit("t").as("tag"))))
    def keys(root: String) = SnapshotTable.read(spark, root)
      .select("k").as[Long].collect().sorted.toSeq
    val up = tmpDir() + "/up"
    SnapshotTable.upsert(spark, up, batch(1L, 2L), Seq("k"))
    SnapshotTable.upsert(spark, up, batch(2L, 3L), Seq("k"))
    assert(keys(up) == Seq(1L, 2L, 3L))
    val merged = tmpDir() + "/merged"
    SnapshotTable.append(spark, merged, batch(1L, 2L))
    SnapshotTable.mergeInto(spark, merged, batch(2L, 3L), Seq("k"),
      matched = Seq(MergeInto.UpdateClause(None, None)),
      notMatched = Seq(MergeInto.InsertClause(None, None)))
    assert(keys(merged) == Seq(1L, 2L, 3L))
  }

  test("reader pinned to an old version is isolated from later commits") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.upsert(spark, root, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    val v0Reader = SnapshotTable.read(spark, root, asOf = Some(0L))
    SnapshotTable.upsert(spark, root, Seq((1L, "A!"), (2L, "b")).toDF("k", "v"), Seq("k"))
    // old snapshot files are immutable: the pinned reader still sees v0
    assert(canon(v0Reader) == canon(Seq((1L, "a")).toDF("k", "v")))
    assert(SnapshotTable.read(spark, root).count() == 2)
    assert(SnapshotTable.currentVersion(spark, root).contains(1L))
  }

  test("upsert is idempotent (re-running a batch changes nothing but the version)") {
    val root = tmpDir() + "/tbl"
    val batch = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    SnapshotTable.upsert(spark, root, batch, Seq("k"))
    val before = canon(SnapshotTable.read(spark, root))
    SnapshotTable.upsert(spark, root, batch, Seq("k"))
    assert(canon(SnapshotTable.read(spark, root)) == before)
  }

  test("property: a random upsert sequence equals the in-memory merge fold") {
    val rnd = new scala.util.Random(11)
    val root = tmpDir() + "/tbl"
    var expected: Map[Long, (String, Double)] = Map.empty
    (1 to 5).foreach { batchNo =>
      val keys = (1 to 25).filter(_ => rnd.nextBoolean()).map(_.toLong)
      val batch = keys.map(k => (k, s"b$batchNo-v${rnd.nextInt(100)}", rnd.nextDouble()))
      expected = expected ++ batch.map { case (k, v1, v2) => k -> (v1, v2) }.toMap
      SnapshotTable.upsert(spark, root, batch.toDF("k", "v1", "v2"), Seq("k"))
      val got = SnapshotTable.read(spark, root)
        .as[(Long, String, Double)].collect()
        .map { case (k, v1, v2) => k -> (v1, v2) }.toMap
      assert(got == expected, s"diverged after batch $batchNo")
    }
    assert(SnapshotTable.currentVersion(spark, root).contains(4L))
  }

  test("commit recovers from an orphaned snapshot dir (crash before manifest)") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.upsert(spark, root, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    // simulate a commit that wrote snap-00000001 but died before the
    // manifest rename: the dir exists, no manifest names it
    Seq((99L, "junk")).toDF("k", "v").write.parquet(root + "/snap-00000001")
    assert(SnapshotTable.currentVersion(spark, root).contains(0L))
    // retrying the commit must succeed (the orphan is invisible by protocol)
    val v = SnapshotTable.upsert(spark, root, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    assert(v == 1L)
    assert(canon(SnapshotTable.read(spark, root)) ==
      canon(Seq((1L, "a"), (2L, "b")).toDF("k", "v")))
  }

  test("manifest round-trips paths with JSON-escaped characters") {
    // a quote in the table root exercises the escape path commit() applies:
    // the regex scrape it replaces read such paths back WRONG
    val root = tmpDir() + "/we\"ird tbl"
    val df = Seq((1L, "a\"b"), (2L, "c")).toDF("k", "v")
    SnapshotTable.commit(spark, root, df)
    assert(canon(SnapshotTable.read(spark, root)) == canon(df))
  }

  test("vacuum refuses keep < 1 (would delete the current version)") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.upsert(spark, root, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    intercept[IllegalArgumentException](SnapshotTable.vacuum(spark, root, keep = 0))
    intercept[IllegalArgumentException](SnapshotTable.vacuum(spark, root, keep = -3))
    assert(SnapshotTable.read(spark, root).count() == 1)
  }

  test("auto-compaction bounds the file count across many small upserts") {
    val root = tmpDir() + "/tbl"
    val maxFiles = 3
    (1 to 8).foreach { i =>
      // each batch lands in 4 shuffle partitions -> 4+ files uncompacted
      SnapshotTable.upsert(spark, root,
        (1 to 20).map(k => (k.toLong, s"b$i-$k")).toDF("k", "v")
          .repartition(4), Seq("k"), maxFiles = maxFiles)
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = SnapshotTable.currentVersion(spark, root).get
    val current = SnapshotTable.read(spark, root)
    assert(current.inputFiles.length <= maxFiles,
      s"version $v has ${current.inputFiles.length} files")
    // identical reads: last batch wins on every key
    assert(canon(current) ==
      canon((1 to 20).map(k => (k.toLong, s"b8-$k")).toDF("k", "v")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root))) // sanity
  }

  test("losing writer detects the conflict, cleans up, leaves the winner intact") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    // A CAS loss = targeting a version someone else already committed.
    intercept[SnapshotTable.ConcurrentWriteException](
      SnapshotTable.commitAt(spark, root, None, Seq((9L, "x")).toDF("k", "v")))
    // Winner untouched; loser's data fully removed (no orphan dirs).
    assert(canon(SnapshotTable.read(spark, root)) ==
      canon(Seq((1L, "a")).toDF("k", "v")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("snap-"))
    assert(snapDirs.length == 1, s"loser left orphans: ${snapDirs.mkString(",")}")
    // The table is not bricked: the next commit serializes after the winner.
    assert(SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("k", "v")) == 1L)
  }

  test("appendOnce appends new batches and skips replayed batchIds") {
    val root = tmpDir() + "/tbl"
    val v0 = SnapshotTable.appendOnce(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "app1", 0L)
    assert(v0 == 0L)
    // Replay of batch 0 — even with DIFFERENT data (an at-least-once rerun
    // recomputes the batch): must be a no-op.
    val vReplay = SnapshotTable.appendOnce(spark, root,
      Seq((9L, "ghost")).toDF("k", "v"), "app1", 0L)
    assert(vReplay == 0L)
    assert(SnapshotTable.read(spark, root).count() == 2)
    // Next batch appends WITHOUT rewriting: version 1 = v0 files + new.
    val v1 = SnapshotTable.appendOnce(spark, root,
      Seq((3L, "c")).toDF("k", "v"), "app1", 1L)
    assert(v1 == 1L)
    assert(canon(SnapshotTable.read(spark, root)) ==
      canon(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")))
    // A different appId has its own batch sequence.
    SnapshotTable.appendOnce(spark, root, Seq((4L, "d")).toDF("k", "v"), "app2", 0L)
    assert(SnapshotTable.read(spark, root).count() == 4)
    assert(SnapshotTable.lastTxn(spark, root, "app1") == Some(1L))
    assert(SnapshotTable.lastTxn(spark, root, "app2") == Some(0L))
  }

  test("appendOnce replay returns the STAMPED version, not the current one") {
    // ADVICE r5: a change feed anchored on the replay's return value must
    // land on the version that carries the batch even after later commits
    // (another batch, a compaction) advance the table.
    val root = tmpDir() + "/tbl"
    assert(SnapshotTable.appendOnce(spark, root,
      Seq((1L, "a")).toDF("k", "v"), "app", 0L) == 0L)
    assert(SnapshotTable.appendOnce(spark, root,
      Seq((2L, "b")).toDF("k", "v"), "app", 1L) == 1L)
    // A later commit lands on the root (rewrite — the compaction shape).
    SnapshotTable.commit(spark, root,
      SnapshotTable.read(spark, root).localCheckpoint())
    assert(SnapshotTable.currentVersion(spark, root) == Some(2L))
    // Replaying batch 1 must resolve to version 1 — its stamped version.
    val vReplay = SnapshotTable.appendOnce(spark, root,
      Seq((9L, "ghost")).toDF("k", "v"), "app", 1L)
    assert(vReplay == 1L, s"replay anchored on $vReplay, want stamped 1")
    val Some((replayAdds, _)) =
      SnapshotTable.changesDelta(spark, root, vReplay - 1, Some(vReplay))
    assert(canon(replayAdds) == canon(Seq((2L, "b")).toDF("k", "v")))
    assert(SnapshotTable.txnVersion(spark, root, "app", 0L) == Some(0L))
    assert(SnapshotTable.txnVersion(spark, root, "app", 7L) == None)
  }

  test("changesDelta between append versions yields exactly the appended rows") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.appendOnce(spark, root, Seq((1L, "a")).toDF("k", "v"), "app", 0L)
    SnapshotTable.appendOnce(spark, root, Seq((2L, "b"), (3L, "c")).toDF("k", "v"), "app", 1L)
    SnapshotTable.appendOnce(spark, root, Seq((4L, "d")).toDF("k", "v"), "app", 2L)
    def adds(from: Long, to: Option[Long] = None): DataFrame = {
      val Some((a, r)) = SnapshotTable.changesDelta(spark, root, from, to)
      assert(r.count() == 0, "appends remove nothing")
      a
    }
    assert(canon(adds(0L, Some(1L))) ==
      canon(Seq((2L, "b"), (3L, "c")).toDF("k", "v")))
    assert(canon(adds(0L)) ==
      canon(Seq((2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")))
    assert(adds(2L).count() == 0)
    // recluster rewrites every file but records an EMPTY change set: the
    // consumer skips it.
    SnapshotTable.recluster(spark, root, Seq("k"))
    assert(adds(2L).count() == 0)
    // A rewrite without CDC replaces the file set: None, the reprocess
    // signal.
    SnapshotTable.commit(spark, root, SnapshotTable.read(spark, root).localCheckpoint())
    assert(SnapshotTable.changesDelta(spark, root, 2L).isEmpty)
  }

  test("vacuum reference-counts dirs shared by append manifests") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.appendOnce(spark, root, Seq((1L, "a")).toDF("k", "v"), "app", 0L)
    SnapshotTable.appendOnce(spark, root, Seq((2L, "b")).toDF("k", "v"), "app", 1L)
    SnapshotTable.appendOnce(spark, root, Seq((3L, "c")).toDF("k", "v"), "app", 2L)
    // keep=1: versions 0/1's manifests drop, but their data dirs are still
    // referenced by version 2's manifest — all rows must survive.
    SnapshotTable.vacuum(spark, root, keep = 1)
    assert(SnapshotTable.read(spark, root).count() == 3)
    // A full rewrite commit releases the old dirs; the next vacuum reclaims.
    SnapshotTable.commit(spark, root,
      SnapshotTable.read(spark, root).localCheckpoint())
    SnapshotTable.vacuum(spark, root, keep = 1)
    assert(SnapshotTable.read(spark, root).count() == 3)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("snap-"))
    assert(snapDirs.length == 1, s"stale dirs survived: ${snapDirs.mkString(",")}")
  }

  test("vacuum sweeps invisible orphan dirs once their version is unpinned") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.upsert(spark, root, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    // crashed-commit orphan for version 0 (unique-token naming, no manifest)
    Seq((99L, "junk")).toDF("k", "v").write.parquet(root + "/snap-00000000-deadbeef")
    SnapshotTable.upsert(spark, root, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    SnapshotTable.vacuum(spark, root, keep = 1)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root + "/snap-00000000-deadbeef")))
    assert(SnapshotTable.read(spark, root).count() == 2)
  }

  test("vacuum DRY RUN lists orphan dirs; the real vacuum deletes exactly the listed dirs") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.upsert(spark, root, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    SnapshotTable.upsert(spark, root, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    // A lost CAS race's leftover for version 1 (unique token, no manifest).
    Seq((99L, "junk")).toDF("k", "v").write.parquet(root + "/snap-00000001-0badf00d")
    SnapshotTable.upsert(spark, root, Seq((1L, "A")).toDF("k", "v"), Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataDirs(): Set[String] = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("snap-") || n.startsWith("cdc-") || n.startsWith("dv-"))
      .toSet
    val listed = SnapshotTable.vacuumPlan(spark, root, keep = 1)
      .collect { case ("data-dir", d, _) => new org.apache.hadoop.fs.Path(d).getName }
    assert(listed.contains("snap-00000001-0badf00d"), s"dry run missed the orphan: $listed")
    assert(listed.distinct.size == listed.size, s"a dir is listed twice: $listed")
    val before = dataDirs()
    SnapshotTable.vacuum(spark, root, keep = 1)
    assert(before -- dataDirs() == listed.toSet)
    assert(SnapshotTable.read(spark, root).count() == 2)
  }

  test("vacuum drops old snapshots but keeps the current one readable") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.upsert(spark, root, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    SnapshotTable.upsert(spark, root, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    SnapshotTable.upsert(spark, root, Seq((3L, "c")).toDF("k", "v"), Seq("k"))
    SnapshotTable.vacuum(spark, root, keep = 1)
    assert(SnapshotTable.read(spark, root).count() == 3)
    // older manifests are gone
    intercept[Exception](SnapshotTable.read(spark, root, asOf = Some(0L)).collect())
  }

  test("age-based retention: vacuumOlderThan drops only expired versions, never the newest") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.appendOnce(spark, root, Seq((1L, "a")).toDF("k", "v"), "age", 0L)
    SnapshotTable.appendOnce(spark, root, Seq((2L, "b")).toDF("k", "v"), "age", 1L)
    SnapshotTable.appendOnce(spark, root, Seq((3L, "c")).toDF("k", "v"), "age", 2L)

    // Commit timestamps surface in the audit.
    val hist = SnapshotTable.history(spark, root).collect()
    assert(hist.forall(!_.isNullAt(11)), "history must carry committed_at")

    // Everything is fresh: a 1 h policy retires nothing, time travel holds.
    SnapshotTable.vacuumOlderThan(spark, root, maxAgeMs = 3600L * 1000)
    assert(SnapshotTable.read(spark, root, Some(0L)).count() == 1)

    // A zero-age policy expires every version except the keepLast floor;
    // the survivor stays readable (ref-counted dirs — appends share them).
    Thread.sleep(10)
    SnapshotTable.vacuumOlderThan(spark, root, maxAgeMs = 0L, keepLast = 2)
    assert(SnapshotTable.read(spark, root).count() == 3)
    assert(SnapshotTable.read(spark, root, Some(1L)).count() == 2)
    intercept[Exception](SnapshotTable.read(spark, root, Some(0L)).collect())
  }
}
