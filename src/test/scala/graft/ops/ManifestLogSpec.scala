package graft.ops

import graft.SparkSpec

/** Incremental manifest log (round 13, VERDICT r12 #1 — the Delta-log
  * shape on the existing CAS): commits write DELTA manifests carrying only
  * their add/remove/ledger changes; every Nth version is a FULL manifest
  * (the in-line checkpoint); vacuum anchors the oldest kept version with a
  * checkpoint file before pruning its chain. Pins: the on-disk shape (a
  * delta stays KB-sized regardless of table file count), resolution
  * equivalence (reads/time travel/history/CDC identical to the full-body
  * world), the full-manifest fallbacks, and chain survival across vacuum. */
class ManifestLogSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** RAW on-disk manifest body — never resolved; shape assertions only. */
  private def rawBody(root: String, v: Long): String = {
    val p = java.nio.file.Paths.get(root, "_manifests", f"manifest-$v%08d.json")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  private def parse(body: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)

  private def isDelta(root: String, v: Long): Boolean =
    SnapshotStats.baseFromManifest(parse(rawBody(root, v))).isDefined

  private def withInterval[A](n: Int)(f: => A): A = {
    val old = SnapshotTable.manifestCheckpointInterval
    SnapshotTable.manifestCheckpointInterval = n
    try f finally SnapshotTable.manifestCheckpointInterval = old
  }

  test("appends write delta manifests; checkpoint cadence writes full") {
    withInterval(4) {
      val root = tmpDir() + "/tbl"
      (0 until 10).foreach { i =>
        SnapshotTable.appendOnce(spark, root,
          Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
      }
      // Round 14: EVERY commit past v0 is a delta (flat commit bytes at
      // all versions); the cadence writes a COLUMNAR checkpoint post-CAS
      // instead of an in-line full JSON manifest.
      (1L until 10L).foreach { v =>
        assert(isDelta(root, v), s"v$v: expected delta")
      }
      assert(!isDelta(root, 0L), "v0 bootstraps full")
      Seq(4L, 8L).foreach { v =>
        assert(new java.io.File(
          root, f"_manifests/checkpoint-$v%08d.parquet").exists(),
          s"cadence checkpoint missing at v$v")
      }
      assert(!new java.io.File(
        root, "_manifests/checkpoint-00000006.parquet").exists(),
        "no checkpoint off the cadence")
      // Resolution equivalence: every version reads its exact prefix.
      (0L until 10L).foreach { v =>
        val got = SnapshotTable.read(spark, root, Some(v))
          .select("k").as[Long].collect().sorted.toSeq
        assert(got == (0L to v).toSeq, s"v$v rows")
      }
      // history derives kinds from RESOLVED file sets across the chain.
      val kinds = SnapshotTable.history(spark, root)
        .select("version", "kind").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(kinds(0L) == "bootstrap")
      (1L until 10L).foreach(v => assert(kinds(v) == "append", s"v$v kind"))
    }
  }

  test("a read landing on a checkpoint version memoizes its resolution (ADVICE r14)") {
    withInterval(4) {
      val root = tmpDir() + "/cphit"
      (0 until 5).foreach { i =>
        SnapshotTable.appendOnce(spark, root,
          Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
      }
      val fs = fsOf(root)
      // Cold reader: head (v4) sits exactly on the cadence, so resolution
      // is a pure checkpoint hit — the fold loop never runs. Pre-fix the
      // decoded state was returned WITHOUT caching, so every subsequent
      // read at that version re-decoded the O(files) parquet checkpoint.
      SnapshotTable.clearResolvedCache()
      assert(!SnapshotTable.resolvedCacheContains(fs, root, 4L))
      assert(SnapshotTable.read(spark, root, Some(4L)).count() == 5L)
      assert(SnapshotTable.resolvedCacheContains(fs, root, 4L),
        "checkpoint-hit resolution must land in the resolvedCache")
      // Mid-chain hit: resolving v5... (none here) — time-travel to v4
      // again must now be served from cache even with the checkpoint gone.
      fs.delete(new org.apache.hadoop.fs.Path(
        root, f"_manifests/checkpoint-${4L}%08d.parquet"), false)
      assert(SnapshotTable.read(spark, root, Some(4L)).count() == 5L)
    }
  }

  test("checkpoint health: failures are counted, STATUS surfaces the lag, recovery clears (r15)") {
    withInterval(4) {
      val root = tmpDir() + "/cphealth"
      val inject = new java.util.concurrent.atomic.AtomicBoolean(false)
      val oldInjector = SnapshotTable.checkpointFaultInjector
      SnapshotTable.checkpointFaultInjector =
        (r, _) => inject.get() && r == root
      try {
        (0 until 5).foreach { i =>
          SnapshotTable.appendOnce(spark, root,
            Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
        }
        assert(new java.io.File(root,
          "_manifests/checkpoint-00000004.parquet").exists())
        // Break the checkpoint writer: commits keep LANDING (swallowed by
        // design) but the walk grows and the failures count.
        inject.set(true)
        (5 until 13).foreach { i =>
          SnapshotTable.appendOnce(spark, root,
            Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
        }
        assert(!new java.io.File(root,
          "_manifests/checkpoint-00000008.parquet").exists(),
          "the injected fault must have stopped the cadence")
        val st = SnapshotTable.status(spark, root).head()
        assert(st.getAs[Long]("versions_since_checkpoint") == 8L)
        assert(st.getAs[Long]("checkpoint_failures") >= 2L)
        assert(st.getAs[String]("last_checkpoint_error")
          .contains("injected checkpoint fault"))
        assert(Option(st.getAs[String]("maintenance_hint"))
          .exists(_.contains("CHECKPOINT ONLY")), st.toString)
        // Reads still correct through the grown walk.
        SnapshotTable.clearResolvedCache()
        assert(SnapshotTable.read(spark, root).count() == 13L)
        // Recovery: the fixed filesystem + forceCheckpoint clears all of
        // it — counter, lag, hint.
        inject.set(false)
        assert(SnapshotTable.forceCheckpoint(spark, root) == 12L)
        val st2 = SnapshotTable.status(spark, root).head()
        assert(st2.getAs[Long]("versions_since_checkpoint") == 0L)
        assert(st2.getAs[Long]("checkpoint_failures") == 0L)
        assert(st2.getAs[String]("last_checkpoint_error") == null)
        assert(st2.getAs[String]("maintenance_hint") == null, st2.toString)
        assert(SnapshotTable.readLastCheckpoint(fsOf(root), root).contains(12L))
        // The NEXT cadence also clears organically (fresh fault window,
        // one failure, then success at 16).
        inject.set(true)
        (13 until 17).foreach { i =>
          SnapshotTable.appendOnce(spark, root,
            Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
        }
        assert(SnapshotTable.status(spark, root).head()
          .getAs[Long]("checkpoint_failures") == 1L)
        inject.set(false)
        (17 until 21).foreach { i =>
          SnapshotTable.appendOnce(spark, root,
            Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
        }
        val st3 = SnapshotTable.status(spark, root).head()
        assert(st3.getAs[Long]("checkpoint_failures") == 0L)
        assert(st3.getAs[Long]("versions_since_checkpoint") == 0L)
      } finally SnapshotTable.checkpointFaultInjector = oldInjector
    }
  }

  test("a delta manifest stays KB-sized while the full state grows") {
    withInterval(1000) { // no cadence full inside the run
      val root = tmpDir() + "/tbl"
      // Each append lands 4 files; the table's cumulative file count
      // grows linearly while each commit's own change stays constant.
      (0 until 8).foreach { i =>
        SnapshotTable.append(spark, root,
          (0 until 200).map(j => (i * 200L + j, s"v$j")).toDF("k", "v")
            .repartition(4))
      }
      val sizes = (0L until 8L).map(v =>
        new java.io.File(root, f"_manifests/manifest-$v%08d.json").length)
      // v0 is full; later deltas must NOT grow with the accumulated file
      // count — each carries ~4 adds however many files the table holds.
      val deltaMax = sizes.drop(2).max
      assert(deltaMax <= sizes(1) * 2,
        s"delta manifests must stay flat in table size: $sizes")
      assert(SnapshotTable.read(spark, root).count() == 1600L)
    }
  }

  test("vacuum anchors the oldest kept delta with a checkpoint file") {
    withInterval(100) {
      val root = tmpDir() + "/tbl"
      (0 until 6).foreach { i =>
        SnapshotTable.appendOnce(spark, root,
          Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
      }
      SnapshotTable.vacuum(spark, root, keep = 2)
      val fs = fsOf(root)
      // Manifests 0..3 gone; v4 (a delta) must have been anchored — as a
      // COLUMNAR checkpoint since round 14.
      (0L to 3L).foreach(v => assert(!new java.io.File(
        root, f"_manifests/manifest-$v%08d.json").exists(), s"v$v pruned"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        root, "_manifests/checkpoint-00000004.parquet")))
      // Both kept versions still resolve, through the anchor.
      assert(SnapshotTable.read(spark, root, Some(4L))
        .as[(Long, String)].collect().length == 5)
      assert(SnapshotTable.read(spark, root, Some(5L))
        .as[(Long, String)].collect().length == 6)
      // A later vacuum retires the anchor with its version.
      (6 until 8).foreach { i =>
        SnapshotTable.appendOnce(spark, root,
          Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
      }
      SnapshotTable.vacuum(spark, root, keep = 1)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        root, "_manifests/checkpoint-00000004.parquet")))
      assert(SnapshotTable.read(spark, root).count() == 8L)
    }
  }

  test("a legacy JSON checkpoint anchor is refused at the vacuum horizon") {
    withInterval(100) {
      val root = tmpDir() + "/tbl"
      (0 until 5).foreach { i =>
        SnapshotTable.appendOnce(spark, root,
          Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
      }
      // Hand-plant a pre-r14 anchor (full JSON body) at v3, then prune
      // 0..2 exactly as an old vacuum left things.
      val fs = fsOf(root)
      val r3 = SnapshotTable.resolvedAt(fs, root, 3L)
      val full = SnapshotStats.manifestJson(r3)
      val cp = new org.apache.hadoop.fs.Path(
        root, "_manifests/checkpoint-00000003.json")
      val out = fs.create(cp, true)
      try out.write(full.getBytes("UTF-8")) finally out.close()
      (0L to 2L).foreach(v => fs.delete(new org.apache.hadoop.fs.Path(
        root, f"_manifests/manifest-$v%08d.json"), false))
      SnapshotTable.clearResolvedCache()
      // The engine reads parquet checkpoints only: the chain below v3 is
      // gone, and the refusal names the version that cannot resolve.
      Seq(None, Some(3L)).foreach { asOf =>
        val e = intercept[IllegalArgumentException] {
          SnapshotTable.read(spark, root, asOf)
        }
        assert(e.getMessage.contains(s"manifest 2 of $root is gone and " +
          "version 3 has no checkpoint anchor"), e.getMessage)
      }
    }
  }

  test("resolution folds deltas over the columnar checkpoint exactly") {
    withInterval(4) {
      val root = tmpDir() + "/tbl"
      (0 until 7).foreach { i =>
        SnapshotTable.appendOnce(spark, root,
          Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
      }
      // Cold process: state must resolve via checkpoint(4) + deltas 5..6
      // even with every JSON manifest below the checkpoint REMOVED (proves
      // the columnar read is the real base, not a shortcut).
      val fs = fsOf(root)
      (0L to 3L).foreach(v => fs.delete(new org.apache.hadoop.fs.Path(
        root, f"_manifests/manifest-$v%08d.json"), false))
      SnapshotTable.clearResolvedCache()
      val got = SnapshotTable.read(spark, root)
        .select("k").as[Long].collect().sorted.toSeq
      assert(got == (0L until 7L).toSeq, s"rows through the checkpoint: $got")
      // Time travel to the checkpointed version and one past it.
      assert(SnapshotTable.read(spark, root, Some(4L)).count() == 5L)
      assert(SnapshotTable.read(spark, root, Some(5L)).count() == 6L)
      // The idempotent-replay marker survives the columnar round-trip
      // (txn rides in the delta, not the checkpoint — but resolution of
      // v6 must still surface ITS txn).
      val r6 = SnapshotTable.resolvedAt(fs, root, 6L)
      assert(r6.txn.contains(("app", 6L)), s"txn after fold: ${r6.txn}")
    }
  }

  test("a crash mid-vacuum (newest-first) leaves a readable, re-vacuumable table") {
    withInterval(100) {
      val root = tmpDir() + "/tbl"
      (0 until 8).foreach { i =>
        SnapshotTable.appendOnce(spark, root,
          Seq((i.toLong, s"r$i")).toDF("k", "v"), "app", i.toLong)
      }
      val fs = fsOf(root)
      // Simulate the fixed loop crashing halfway: anchor minKept=6 (what
      // vacuum does first), then delete only the NEWEST doomed manifests
      // (5, 4) — the prefix a newest-first loop removes before dying.
      val st = SnapshotTable.resolvedAt(fs, root, 6L)
      SnapshotTable.clearResolvedCache()
      // plant the anchor exactly as vacuum would
      CheckpointIO.write(fs, spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(
          root, "_manifests/checkpoint-00000006.parquet"), st)
      Seq(5L, 4L).foreach(v => fs.delete(new org.apache.hadoop.fs.Path(
        root, f"_manifests/manifest-$v%08d.json"), false))
      SnapshotTable.clearResolvedCache()
      // Readers: head and the oldest kept version resolve through the
      // anchor; surviving doomed versions (0..3) keep intact chains.
      assert(SnapshotTable.read(spark, root).count() == 8L)
      assert(SnapshotTable.read(spark, root, Some(6L)).count() == 7L)
      assert(SnapshotTable.read(spark, root, Some(3L)).count() == 4L)
      // The re-run completes the job.
      SnapshotTable.vacuum(spark, root, keep = 2)
      (0L to 5L).foreach(v => assert(!new java.io.File(
        root, f"_manifests/manifest-$v%08d.json").exists(), s"v$v pruned"))
      assert(SnapshotTable.read(spark, root).count() == 8L)
      assert(SnapshotTable.read(spark, root, Some(6L)).count() == 7L)
    }
  }

  test("full-manifest fallback when a commit replaces the file set") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.commitClustered(spark, root,
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      Seq("k"), numFiles = 4)
    SnapshotTable.appendOnce(spark, root,
      Seq((1000L, "x")).toDF("k", "v"), "app", 1L)
    assert(isDelta(root, 1L))
    // recluster rewrites every file: add+remove >= base ⇒ full manifest.
    val v = SnapshotTable.recluster(spark, root, Seq("k"), numFiles = 4)
    assert(!isDelta(root, v), "a full-rewrite commit must write full")
    assert(SnapshotTable.read(spark, root).count() == 101L)
  }

  test("CDC feed and row-level delta cross a delta-manifest chain") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.upsert(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    SnapshotTable.upsert(spark, root, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    SnapshotTable.appendOnce(spark, root, Seq((4L, "d")).toDF("k", "v"), "app", 9L)
    // v1 rewrote the whole (1-file) table — honest full; v2 appended — delta.
    assert(isDelta(root, 2L))
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, 0L, Some(2L))
    assert(adds.as[(Long, String)].collect().toSet ==
      Set((2L, "B"), (3L, "c"), (4L, "d")))
    assert(removes.as[(Long, String)].collect().toSet == Set((2L, "b")))
    val feed = SnapshotTable.changesFeed(spark, root, 0L, 2L,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
    assert(feed.count() == 4)
  }

  test("COPY ledger accumulates through deltas and survives the chain") {
    val root = tmpDir() + "/tbl"
    val land = tmpDir() + "/land"
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.parquet(land + "/b1")
    SnapshotTable.commit(spark, root, Seq.empty[(Long, String)].toDF("k", "v"))
    val r1 = SnapshotTable.copyInto(spark, root,
      land + "/b1", "parquet", Map.empty)
    assert(r1._2 == 1L, "first copy loads the file")
    // Interleave unrelated delta commits, then re-run: still a no-op.
    SnapshotTable.appendOnce(spark, root, Seq((9L, "z")).toDF("k", "v"), "app", 1L)
    SnapshotTable.appendOnce(spark, root, Seq((10L, "y")).toDF("k", "v"), "app", 2L)
    assert(isDelta(root, 2L) && isDelta(root, 3L))
    val r2 = SnapshotTable.copyInto(spark, root,
      land + "/b1", "parquet", Map.empty)
    assert(r2._2 == 0L, "ledger must survive the delta chain")
  }

  test("columnar checkpoint round-trips FileStats exactly (all stat domains)") {
    withInterval(100) {
      val root = tmpDir() + "/tbl"
      // A table exercising every tricky serialization domain: decimal
      // bounds (dec:2 unscaled longs), double bounds, string bounds,
      // bloom side-cars, a DV side-car, and a COPY ledger entry.
      SnapshotTable.commitClustered(spark, root,
        (0 until 4000).map(i => (i.toLong, BigDecimal(i) / 100,
          i * 1.5, s"s$i")).toDF("k", "price", "score", "v"),
        Seq("k"), numFiles = 3)
      SnapshotTable.setBloomColumns(spark, root, Seq("v"))
      SnapshotTable.append(spark, root,
        (4000 until 4200).map(i => (i.toLong, BigDecimal(i) / 100,
          i * 1.5, s"s$i")).toDF("k", "price", "score", "v"))
      val old = SnapshotTable.dvMinTouchedBytes
      SnapshotTable.dvMinTouchedBytes = 0L
      try SnapshotTable.delete(spark, root, org.apache.spark.sql.functions
        .col("k") === 42L)
      finally SnapshotTable.dvMinTouchedBytes = old
      val v = SnapshotTable.currentVersion(spark, root).get
      val fs = fsOf(root)
      val resolved = SnapshotTable.resolvedAt(fs, root, v)
      // Write + read a checkpoint directly; every field must round-trip.
      val cp = new org.apache.hadoop.fs.Path(
        root, "_manifests/checkpoint-roundtrip.parquet")
      CheckpointIO.write(fs, spark.sparkContext.hadoopConfiguration,
        cp, resolved)
      val back = CheckpointIO.read(
        spark.sparkContext.hadoopConfiguration, cp)
      assert(back.stats.sortBy(_.path) == resolved.stats.sortBy(_.path),
        "FileStats (bounds, blooms, dv, dvRows) must round-trip exactly")
      assert(back.schemaJson == resolved.schemaJson)
      assert(back.bloomOn == resolved.bloomOn)
      assert(back.clusterBy == resolved.clusterBy)
      assert(back.version == resolved.version && back.ts == resolved.ts)
      fs.delete(cp, false)
    }
  }

  test("the one manifest writer round-trips a Resolved, full and as a delta") {
    import org.apache.spark.sql.types._
    def entry(i: Int, dv: Seq[String] = Nil) = SnapshotStats.FileStats(
      s"/t/snap-00000001-ab/part-$i.parquet", 1000L + i, 10L + i,
      Map("k" -> SnapshotStats.ColStats("long", Some(i.toLong), Some(i + 9L), 0L),
        "col-7" -> SnapshotStats.ColStats("string", Some("a"), Some("z"), 2L),
        "d" -> SnapshotStats.ColStats("double", Some(0.5), Some(1.5), 0L),
        "p" -> SnapshotStats.ColStats("dec:2", Some(100L), Some(250L), 1L),
        "n" -> SnapshotStats.ColStats("long", None, None, -1L)),
      bloom = Map("k" -> s"/t/snap-00000001-ab/_bloom-part-$i.parquet.k"),
      dv = dv, dvRows = if (dv.isEmpty) 0L else 3L)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("d", DoubleType),
      StructField("p", DecimalType(10, 2)), StructField("n", LongType)))
    val base = SnapshotStats.Resolved(version = 4L, ts = 1700000000000L,
      stats = Seq(entry(0), entry(1), entry(2)), schemaJson = schema.json,
      dropped = Seq("old"), bloomOn = Seq("k"),
      constraints = Map("pos" -> "k >= 0"), mapping = Map("s" -> "col-7"),
      usedPhys = Seq("k", "col-7", "d", "p", "n", "old"),
      ingested = Seq("src/a.csv@10"), clusterBy = Seq("k"),
      identityHwm = Map("k" -> 99L), txn = Some(("app", 3L)),
      cdc = Some((Seq("/t/cdc-4/add.parquet"), Seq("/t/cdc-4/rm.parquet"))),
      protocol = (1, 1))
    // The next version removes one file, adds a DV to a carried one, adds
    // a file and a ledger identity, and carries its own txn and cdc.
    val next = base.copy(version = 5L, ts = base.ts + 1,
      stats = Seq(entry(0), entry(2, dv = Seq("/t/dv-00000005-cd")), entry(3)),
      ingested = Seq("src/a.csv@10", "src/b.csv@20"),
      identityHwm = Map("k" -> 120L), txn = Some(("app", 4L)),
      cdc = Some((Seq("/t/cdc-5/add.parquet"), Seq("/t/cdc-5/rm.parquet"))))
    assert(next.productIterator.forall {
      case xs: Iterable[_] => xs.nonEmpty
      case o: Option[_] => o.nonEmpty
      case _ => true
    }, "every state field must be non-empty")
    def fields(r: SnapshotStats.Resolved) =
      r.productElementNames.zip(r.productIterator).toList
    Seq(base, next).foreach { r =>
      val full = SnapshotStats.parseManifest(SnapshotStats.manifestJson(r), "full")
      assert(SnapshotStats.baseFromManifest(full).isEmpty)
      assert(fields(SnapshotStats.parseResolved(full, "full")) == fields(r))
    }
    val delta = SnapshotStats.parseManifest(
      SnapshotStats.manifestJson(next, Some(base)), "delta")
    assert(SnapshotStats.baseFromManifest(delta) == Some(4L))
    assert(fields(SnapshotStats.applyDelta(base, delta, "delta")) == fields(next))
  }

  test("stateOnlyAt matches resolvedAt's state without the file list (r14)") {
    withInterval(4) {
      val root = tmpDir() + "/tbl"
      val land = tmpDir() + "/land"
      import spark.implicits._
      Seq((1L, "a")).toDF("k", "v").coalesce(1).write.parquet(land + "/b1")
      SnapshotTable.commit(spark, root, Seq((0L, "seed")).toDF("k", "v"))
      SnapshotTable.copyInto(spark, root, land + "/b1", "parquet", Map.empty)
      (2 until 7).foreach(i => SnapshotTable.append(spark, root,
        Seq((i.toLong, s"r$i")).toDF("k", "v")))
      val v = SnapshotTable.currentVersion(spark, root).get
      val fs = fsOf(root)
      SnapshotTable.clearResolvedCache()
      val state = SnapshotTable.stateOnlyAt(fs, root, v)
      val full = SnapshotTable.resolvedAt(fs, root, v)
      assert(state.stats.isEmpty, "state-only must not materialize files")
      assert(state.schemaJson == full.schemaJson)
      assert(state.clusterBy == full.clusterBy)
      assert(state.constraints == full.constraints)
      assert(state.identityHwm == full.identityHwm)
      assert(state.ingested == full.ingested,
        s"ledger must fold across the chain: ${state.ingested} vs ${full.ingested}")
      assert(state.version == full.version && state.ts == full.ts)
    }
  }

  test("a manifest demanding a future protocol is refused loudly (r14)") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.append(spark, root, Seq((1L, "a")).toDF("k", "v"))
    SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("k", "v"))
    // New manifests declare the protocol they were written under.
    assert(SnapshotStats.protocolFromManifest(parse(rawBody(root, 1L))) == Some((1, 1)))
    // Doctor the head to demand a future READER: every read path must
    // refuse with the upgrade message, never mis-parse.
    val p = java.nio.file.Paths.get(root, "_manifests", "manifest-00000001.json")
    val doctored = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .replace("\"protocol\":{\"minReader\":1,\"minWriter\":1}",
               "\"protocol\":{\"minReader\":99,\"minWriter\":99}")
    assert(doctored.contains("minReader\":99"), "doctoring must hit the field")
    // Write through the hadoop fs (local fs keeps .crc side-files; a raw
    // java.nio overwrite would fail the read with ChecksumException).
    val fs = fsOf(root)
    val hp = new org.apache.hadoop.fs.Path(p.toString)
    val out = fs.create(hp, true)
    try out.write(doctored.getBytes("UTF-8")) finally out.close()
    SnapshotTable.clearResolvedCache()
    val e = intercept[IllegalStateException] {
      SnapshotTable.read(spark, root).collect()
    }
    assert(e.getMessage.contains("reader version 99"), e.getMessage)
    // Writes extending the chain refuse too (delta commits read the head).
    val e2 = intercept[Exception] {
      SnapshotTable.append(spark, root, Seq((3L, "c")).toDF("k", "v"))
    }
    assert(e2.getMessage.contains("version 99"), e2.getMessage)
  }
}
