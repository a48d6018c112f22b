package graft.ops

import graft.SparkSpec

/** Round-15 checkpoint-read economics (VERDICT r14 #1): the paths-only
  * projection, the promoted-cluster-key row-group pruning, and the
  * `_last_checkpoint` pointer — each pinned for CORRECTNESS here (the
  * speed claims live in the scale rehearsal): projected/pruned reads must
  * answer exactly like the full decode, and the pointer must be a pure
  * hint (stale, lying, missing, corrupt — never a wrong result). */
class CheckpointProbeSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def withInterval[A](n: Int)(f: => A): A = {
    val old = SnapshotTable.manifestCheckpointInterval
    SnapshotTable.manifestCheckpointInterval = n
    try f finally SnapshotTable.manifestCheckpointInterval = old
  }

  private def cpPath(root: String, v: Long) = new org.apache.hadoop.fs.Path(
    root, f"_manifests/checkpoint-$v%08d.parquet")

  private def ptrPath(root: String) = new org.apache.hadoop.fs.Path(
    root, "_manifests/_last_checkpoint")

  private def writePtr(root: String, content: String): Unit = {
    val fs = fsOf(root)
    val out = fs.create(ptrPath(root), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  test("paths-projected resolution matches the full decode (paths, dv, ledger)") {
    withInterval(4) {
      val root = tmpDir() + "/tbl"
      val oldFloor = SnapshotTable.dvMinTouchedBytes
      SnapshotTable.dvMinTouchedBytes = 0L
      try {
        (0 until 6).foreach { i =>
          SnapshotTable.appendOnce(spark, root,
            Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
        }
        // One DV side-car: the projection must still carry dv lists —
        // vacuum's live set keeps side-car dirs alive through them.
        SnapshotTable.delete(spark, root,
          org.apache.spark.sql.functions.col("k") === 2L)
        val fs = fsOf(root)
        val v = SnapshotTable.currentVersion(spark, root).get
        SnapshotTable.clearResolvedCache()
        val rp = SnapshotTable.resolvedPathsAt(fs, root, v)
        SnapshotTable.clearResolvedCache()
        val rf = SnapshotTable.resolvedAt(fs, root, v)
        assert(rp.version == rf.version && rp.ts == rf.ts)
        assert(rp.files.toSet == rf.files.toSet)
        assert(rp.stats.map(e => e.path -> e.dv).toMap ==
          rf.stats.map(e => e.path -> e.dv).toMap, "dv lists must project")
        assert(rp.ingested == rf.ingested && rp.cdc == rf.cdc)
        // At the checkpoint version itself the projection truly skipped
        // the fat columns: entries decode with EMPTY cols/bloom.
        SnapshotTable.clearResolvedCache()
        val rp4 = SnapshotTable.resolvedPathsAt(fs, root, 4L)
        assert(rp4.stats.nonEmpty && rp4.stats.forall(e =>
          e.cols.isEmpty && e.bloom.isEmpty), "cols/bloom must not decode")
        SnapshotTable.clearResolvedCache()
        val rf4 = SnapshotTable.resolvedAt(fs, root, 4L)
        assert(rp4.files.toSet == rf4.files.toSet)
        // The projection never poisons the shared cache: a full read
        // after a projected one still sees stats.
        SnapshotTable.clearResolvedCache()
        SnapshotTable.resolvedPathsAt(fs, root, 4L)
        assert(SnapshotTable.resolvedAt(fs, root, 4L).stats
          .forall(_.cols.nonEmpty), "projected entries leaked into the cache")
      } finally SnapshotTable.dvMinTouchedBytes = oldFloor
    }
  }

  test("_last_checkpoint pointer: written on cadence; stale/lying/corrupt are harmless") {
    withInterval(4) {
      val root = tmpDir() + "/tbl"
      (0 until 10).foreach { i =>
        SnapshotTable.appendOnce(spark, root,
          Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
      }
      val fs = fsOf(root)
      assert(SnapshotTable.readLastCheckpoint(fs, root).contains(8L),
        "cadence checkpoint must advance the pointer")
      def readAll(): Seq[Long] = {
        SnapshotTable.clearResolvedCache()
        SnapshotTable.read(spark, root).select("k").as[Long].collect().sorted.toSeq
      }
      val want = (0L until 10L).toSeq
      // Stale-behind: folds extra deltas, same answer.
      writePtr(root, """{"version":4}""")
      assert(readAll() == want)
      // Lying (no checkpoint at 7; the REAL one at 8 gets skipped): the
      // walk just folds down to the one at 4.
      writePtr(root, """{"version":7}""")
      assert(readAll() == want)
      // Missing and corrupt: both fall back to per-level probing.
      fs.delete(ptrPath(root), false)
      assert(readAll() == want)
      writePtr(root, """not json at all""")
      assert(readAll() == want)
      // Time travel BELOW the pointer ignores it.
      writePtr(root, """{"version":8}""")
      SnapshotTable.clearResolvedCache()
      assert(SnapshotTable.read(spark, root, Some(3L)).count() == 4L)
    }
  }

  test("vacuum repairs the pointer; a missed repair still resolves (probing restart)") {
    withInterval(4) {
      val root = tmpDir() + "/tbl"
      (0 until 10).foreach { i =>
        SnapshotTable.appendOnce(spark, root,
          Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
      }
      val fs = fsOf(root)
      assert(SnapshotTable.readLastCheckpoint(fs, root).contains(8L))
      // keep=1 dooms versions 0-8 (and their checkpoints at 4 and 8);
      // the anchor lands at 9 and the repair must follow.
      SnapshotTable.vacuum(spark, root, keep = 1)
      assert(!fs.exists(cpPath(root, 8L)) && fs.exists(cpPath(root, 9L)))
      assert(SnapshotTable.readLastCheckpoint(fs, root).contains(9L),
        "vacuum must advance a pointer that names a deleted checkpoint")
      SnapshotTable.clearResolvedCache()
      assert(SnapshotTable.read(spark, root).count() == 10L)
      // Simulate the repair itself failing: point back at the deleted 8.
      // The walk skips levels above 8 on the hint's word, hits the vacuum
      // horizon, and must RESTART in probing mode (finding the anchor at
      // 9) instead of declaring the table unresolvable.
      writePtr(root, """{"version":8}""")
      SnapshotTable.clearResolvedCache()
      assert(SnapshotTable.read(spark, root).count() == 10L)
      // State-only resolution shares the pointer discipline (and the
      // probing-mode restart) — same lying pointer, same answer.
      SnapshotTable.clearResolvedCache()
      assert(SnapshotTable.stateOnlyAt(fsOf(root), root, 9L).schema.fieldNames
        .toSeq == Seq("k", "v"))
    }
  }

  test("range probe: row-group-pruned decode answers exactly; refusals are loud") {
    val oldRg = CheckpointIO.rowGroupRowLimit
    CheckpointIO.rowGroupRowLimit = 16
    try withInterval(2) {
      val root = tmpDir() + "/tbl"
      // Range-clustered seed (declares CLUSTER BY k) + appends past the
      // cadence so the head resolves through a checkpoint that carries
      // promoted bounds over SORTED entries.
      SnapshotTable.commitClustered(spark, root,
        spark.range(20000).selectExpr("id AS k", "CAST(id % 97 AS STRING) AS v"),
        clusterBy = Seq("k"), numFiles = 64)
      (0 until 3).foreach { i =>
        SnapshotTable.appendOnce(spark, root,
          Seq((30000L + i, s"late$i")).toDF("k", "v"), "app", i.toLong)
      }
      val fs = fsOf(root)
      val cp = cpPath(root, 2L)
      assert(fs.exists(cp), "cadence checkpoint missing")
      // Direct probe: strictly fewer row groups than the file holds.
      val Some((entries, gRead, gTotal)) =
        CheckpointIO.readRange(fs.getConf, cp, 5000L, 5400L)
      assert(gTotal > 1, s"fixture too small to split row groups ($gTotal)")
      assert(gRead < gTotal, s"no pruning: read $gRead of $gTotal groups")
      assert(entries.nonEmpty && entries.forall(e =>
        e.cols.get("k").forall(cs => cs.min.forall(_.asInstanceOf[Long] <= 5400L) &&
          cs.max.forall(_.asInstanceOf[Long] >= 5000L))),
        "a decoded entry cannot be outside the probed range")
      // API equality with the plain filtered read — including the rows
      // that live in DELTA adds above the checkpoint.
      SnapshotTable.clearResolvedCache()
      val got = SnapshotTable.readClusterRange(spark, root, 5000L, 5400L)
        .select("k").as[Long].collect().sorted.toSeq
      assert(got == (5000L to 5400L).toSeq)
      SnapshotTable.clearResolvedCache()
      val late = SnapshotTable.readClusterRange(spark, root, 29000L, 40000L)
        .select("k").as[Long].collect().sorted.toSeq
      assert(late == Seq(30000L, 30001L, 30002L), "delta adds must fold on top")
      // Kind mismatch refuses the pruned path (None), never mis-prunes.
      assert(CheckpointIO.readRange(fs.getConf, cp, "a", "b").isEmpty)
      // A table with no declared clustering refuses the API.
      val flat = tmpDir() + "/flat"
      SnapshotTable.commit(spark, root = flat,
        Seq((1L, "x")).toDF("k", "v"))
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.readClusterRange(spark, flat, 0L, 10L)
      }
      assert(e.getMessage.contains("no CLUSTER BY"), e.getMessage)
    } finally CheckpointIO.rowGroupRowLimit = oldRg
  }

  test("a checkpoint-served resolution carries the chain's protocol (writer gate)") {
    withInterval(4) {
      val root = tmpDir() + "/tbl"
      (0 until 9).foreach { i =>
        SnapshotTable.appendOnce(spark, root,
          Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
      }
      val fs = fsOf(root)
      // Replace the head-version checkpoint (v8 == cadence) with one whose
      // STATE demands writer version 2 — the shape a future engine's
      // checkpoint would have. Resolution at v8 is then a PURE checkpoint
      // hit; pre-r15 the decode dropped the protocol to (1,1) and the
      // writer gate waved the commit through.
      val r8 = SnapshotTable.resolvedAt(fs, root, 8L)
      val doctored = new SnapshotStats.Resolved(r8.version, r8.ts, r8.stats,
        r8.schemaJson, r8.dropped, r8.bloomOn, r8.constraints, r8.mapping,
        r8.usedPhys, r8.ingested, r8.clusterBy, r8.identityHwm, r8.txn,
        r8.cdc, protocol = (1, 2))
      fs.delete(cpPath(root, 8L), false)
      CheckpointIO.write(fs, fs.getConf, cpPath(root, 8L), doctored)
      SnapshotTable.clearResolvedCache()
      assert(SnapshotTable.resolvedAt(fs, root, 8L).protocol == (1, 2),
        "checkpoint decode must carry the protocol through")
      SnapshotTable.clearResolvedCache()
      assert(SnapshotTable.stateOnlyAt(fs, root, 8L).protocol == (1, 2),
        "the footer-only decode must carry the protocol through too")
      val e = intercept[IllegalStateException] {
        SnapshotTable.append(spark, root, Seq((99L, "x")).toDF("k", "v"))
      }
      assert(e.getMessage.contains("writer version 2"), e.getMessage)
      // The reader gate still admits (minReader stayed 1): reads work.
      SnapshotTable.clearResolvedCache()
      assert(SnapshotTable.read(spark, root).count() == 9L)
    }
  }
}
