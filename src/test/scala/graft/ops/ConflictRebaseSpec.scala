package graft.ops

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSpec
import graft.ops.MergeInto.{DeleteClause, InsertClause, UpdateClause}
import org.apache.spark.sql.functions._

/** CAS-loss REBASE (round 12): a row-level DML that loses the manifest
  * race re-CASes its already-written files onto the winner's version when
  * the conflict is provably physical-only — its removed files survived
  * untouched and no winner-added file can match its predicate by manifest
  * bounds. Pins: the deterministic rebase (planted winner, exact version
  * arithmetic, counter bump, row-for-row result), the refusal when the
  * winner's rows COULD match (correctness over economy), and the live
  * race reaching the serial state. */
class ConflictRebaseSpec extends SparkSpec {
  import spark.implicits._

  private def resolvedAt(root: String, v: Long): SnapshotStats.Resolved = {
    // Resolved through the delta-log chain (round 13): the raw file may be
    // a delta manifest; the spec asserts on the full per-version state.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotTable.resolvedAt(fs, root, v)
  }

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Stage the file-granular pieces of `DELETE WHERE k < 20` against
    * version 0 of a 4-file clustered table — the state a real delete holds
    * the moment before its commit. */
  private def stageDelete(root: String) = {
    val entries = resolvedAt(root, 0L).stats
    assert(entries.size == 4, s"expected 4 clustered files, got ${entries.size}")
    def kMin(e: SnapshotStats.FileStats): Long =
      e.cols("k").min.get.asInstanceOf[Long]
    val (touchedE, keptE) = entries.partition(kMin(_) < 20L)
    assert(touchedE.size == 1, "k<20 must live in exactly one clustered file")
    val rewritten = spark.read.parquet(touchedE.map(_.path): _*)
      .filter(col("k") >= 20)
    val cur = SnapshotTable.read(spark, root, Some(0L))
    val resolved = cur.filter(col("k") < 20).queryExecution.optimizedPlan
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    assert(resolved.isDefined)
    (keptE, rewritten, cur.schema, resolved)
  }

  test("CAS loss against a non-matching append rebases: same files, next version") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commitClustered(spark, root,
      (0L until 100L).map(k => (k, s"r$k")).toDF("k", "s"), Seq("k"), numFiles = 4)
    val (keptE, rewritten, schema, resolved) = stageDelete(root)

    // The WINNER lands first: an append whose rows (k >= 1000) the delete
    // predicate (k < 20) provably cannot match — clustered bounds decide.
    SnapshotTable.append(spark, root,
      (1000L until 1010L).map(k => (k, "new")).toDF("k", "s"))
    val rebasesBefore = SnapshotTable.rebases.get()
    val lossesBefore = SnapshotTable.casLosses.get()

    // The staged delete now commits at its stale target version 1 — the
    // CAS loses, the rebase check passes, and the SAME rewrite lands at 2.
    val committed = SnapshotTable.commitAt(spark, root, Some(resolvedAt(root, 0L)), rewritten,
      carry = keptE, tableSchema = Some(schema),
      rebase = Some(() => resolved))
    assert(committed == 2L, s"rebased commit must land at 2, got $committed")
    assert(SnapshotTable.rebases.get() == rebasesBefore + 1)
    assert(SnapshotTable.casLosses.get() == lossesBefore + 1)

    // Row-for-row the serial result: delete-then-append == append-then-
    // rebased-delete.
    val got = SnapshotTable.read(spark, root).select("k").as[Long].collect().toSet
    assert(got == ((20L until 100L) ++ (1000L until 1010L)).toSet)
    // The winner's appended file is CARRIED, not re-read: its entry in v2
    // is byte-identical to v1's.
    val v1New = resolvedAt(root, 1L).stats
      .map(e => norm(e.path)).toSet --
      resolvedAt(root, 0L).stats.map(e => norm(e.path))
    val v2Paths = resolvedAt(root, 2L).stats
      .map(e => norm(e.path)).toSet
    assert(v1New.subsetOf(v2Paths), "winner's files must carry into the rebase")
  }

  test("a winner whose rows COULD match the predicate refuses the rebase") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commitClustered(spark, root,
      (0L until 100L).map(k => (k, s"r$k")).toDF("k", "s"), Seq("k"), numFiles = 4)
    val (keptE, rewritten, schema, resolved) = stageDelete(root)

    // Winner appends k = 5 — INSIDE the delete's predicate range. A rebase
    // would wrongly keep that row; the loser must fall back to redo.
    SnapshotTable.append(spark, root, Seq((5L, "late")).toDF("k", "s"))
    val rebasesBefore = SnapshotTable.rebases.get()
    intercept[SnapshotTable.ConcurrentWriteException] {
      SnapshotTable.commitAt(spark, root, Some(resolvedAt(root, 0L)), rewritten,
        carry = keptE, tableSchema = Some(schema),
        rebase = Some(() => resolved))
    }
    assert(SnapshotTable.rebases.get() == rebasesBefore, "no rebase on a real conflict")
    // The loser cleaned up; the table still shows the winner's state, and
    // the REAL delete redone on top removes k=5 too (serial semantics).
    SnapshotTable.delete(spark, root, col("k") < 20)
    val got = SnapshotTable.read(spark, root).select("k").as[Long].collect().toSet
    assert(got == (20L until 100L).toSet)
  }

  test("a winner that REWROTE a touched file refuses the rebase") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commitClustered(spark, root,
      (0L until 100L).map(k => (k, s"r$k")).toDF("k", "s"), Seq("k"), numFiles = 4)
    val (keptE, rewritten, schema, resolved) = stageDelete(root)

    // Winner UPDATES inside the same file the staged delete touched.
    SnapshotTable.update(spark, root, col("k") === 3L,
      Map("s" -> lit("updated")))
    val rebasesBefore = SnapshotTable.rebases.get()
    intercept[SnapshotTable.ConcurrentWriteException] {
      SnapshotTable.commitAt(spark, root, Some(resolvedAt(root, 0L)), rewritten,
        carry = keptE, tableSchema = Some(schema),
        rebase = Some(() => resolved))
    }
    assert(SnapshotTable.rebases.get() == rebasesBefore)
  }

  test("one rebase try per attempt: a winner landing during the proof surfaces the conflict") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commitClustered(spark, root,
      (0L until 100L).map(k => (k, s"r$k")).toDF("k", "s"), Seq("k"), numFiles = 4)
    val (keptE, rewritten, schema, resolved) = stageDelete(root)
    SnapshotTable.append(spark, root,
      (1000L until 1010L).map(k => (k, "new")).toDF("k", "s"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snapDirs(): Set[String] = fs.globStatus(
      new org.apache.hadoop.fs.Path(root, "snap-00000001-*")).map(_.getPath.getName).toSet
    val winnersDirs = snapDirs()
    val rebasesBefore = SnapshotTable.rebases.get()
    val lossesBefore = SnapshotTable.casLosses.get()

    // The proof is built after the first winner was read: a second,
    // foreign-keyed winner lands in between, so the rebased CAS loses too.
    var proofRuns = 0
    val proof = () => {
      proofRuns += 1
      SnapshotTable.append(spark, root, Seq((2000L + proofRuns, "late")).toDF("k", "s"))
      resolved
    }
    intercept[SnapshotTable.ConcurrentWriteException] {
      SnapshotTable.commitAt(spark, root, Some(resolvedAt(root, 0L)), rewritten,
        carry = keptE, tableSchema = Some(schema), rebase = Some(proof))
    }
    assert(proofRuns == 1, s"the proof must run once per attempt, ran $proofRuns")
    assert(SnapshotTable.casLosses.get() == lossesBefore + 2)
    assert(SnapshotTable.rebases.get() == rebasesBefore)
    assert(snapDirs() == winnersDirs, "the attempt's own snap-00000001 dir must be removed")
  }

  test("racing MERGE rebases when the winner's keys are provably foreign") {
    var attempt = 0
    var collided = false
    while (attempt < 3 && !collided) {
      val root = s"${tmpDir()}/t"
      SnapshotTable.commitClustered(spark, root,
        (0L until 100L).map(k => (k, "base")).toDF("k", "s"), Seq("k"), numFiles = 4)
      val source = (0L until 10L).map(k => (k, "upd")).toDF("k", "s")
      val lossesBefore = SnapshotTable.casLosses.get()
      val rebasesBefore = SnapshotTable.rebases.get()
      // The appender waits out the merge's probe phase (several jobs),
      // then wins the version race with provably-foreign keys.
      val appender = new Thread(() => {
        Thread.sleep(150)
        SnapshotTable.append(spark, root,
          (1000L until 1010L).map(k => (k, "late")).toDF("k", "s"))
      })
      appender.start()
      SnapshotTable.mergeInto(spark, root, source, Seq("k"),
        matched = Seq(UpdateClause(None, None)), notMatched = Seq(InsertClause(None, None)))
      appender.join()
      val losses = SnapshotTable.casLosses.get() - lossesBefore
      if (losses > 0) {
        collided = true
        assert(SnapshotTable.rebases.get() == rebasesBefore + 1,
          "a foreign-key append must resolve by rebase, not redo")
      }
      // Either order: the merge's semantics are unaffected by the append.
      val rows = SnapshotTable.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = (0L until 10L).map(k => (k, "upd")).toSet ++
        (10L until 100L).map(k => (k, "base")).toSet ++
        (1000L until 1010L).map(k => (k, "late")).toSet
      assert(rows == want, s"diff=${rows.diff(want)} / ${want.diff(rows)}")
      attempt += 1
    }
    assert(collided, "the planted merge/append race never collided in 3 tries")
  }

  test("a BY SOURCE arm disables the merge rebase (winner rows ARE target-only rows)") {
    var attempt = 0
    var collided = false
    while (attempt < 3 && !collided) {
      val root = s"${tmpDir()}/t"
      SnapshotTable.commitClustered(spark, root,
        (0L until 100L).map(k => (k, "base")).toDF("k", "s"), Seq("k"), numFiles = 4)
      val source = (0L until 10L).map(k => (k, "upd")).toDF("k", "s")
      val lossesBefore = SnapshotTable.casLosses.get()
      val rebasesBefore = SnapshotTable.rebases.get()
      val appender = new Thread(() => {
        Thread.sleep(150)
        SnapshotTable.append(spark, root,
          (1000L until 1010L).map(k => (k, "late")).toDF("k", "s"))
      })
      appender.start()
      SnapshotTable.mergeInto(spark, root, source, Seq("k"),
        matched = Seq(UpdateClause(None, None)),
        bySource = Seq(DeleteClause(Some(org.apache.spark.sql.functions.expr("t.k >= 90")))))
      appender.join()
      val losses = SnapshotTable.casLosses.get() - lossesBefore
      if (losses > 0) {
        collided = true
        assert(SnapshotTable.rebases.get() == rebasesBefore,
          "BY SOURCE semantics depend on winner rows — must redo, never rebase")
        // The REDO saw the appended rows as target-only: the arm fired on
        // them too (serial order append-then-merge).
        val ks = SnapshotTable.read(spark, root).select("k").as[Long].collect().toSet
        assert(ks == (0L until 90L).toSet,
          s"redo must apply the by-source arm to the winner's rows: $ks")
      }
      attempt += 1
    }
    assert(collided, "the planted merge/append race never collided in 3 tries")
  }

  test("racing UPSERT (file-granular MERGE) rebases over a foreign append") {
    var attempt = 0
    var collided = false
    while (attempt < 3 && !collided) {
      val root = s"${tmpDir()}/t"
      SnapshotTable.commitClustered(spark, root,
        (0L until 100L).map(k => (k, "base")).toDF("k", "s"), Seq("k"), numFiles = 4)
      val source = (0L until 10L).map(k => (k, "upd")).toDF("k", "s")
      val lossesBefore = SnapshotTable.casLosses.get()
      val rebasesBefore = SnapshotTable.rebases.get()
      val appender = new Thread(() => {
        Thread.sleep(150)
        SnapshotTable.append(spark, root,
          (1000L until 1010L).map(k => (k, "late")).toDF("k", "s"))
      })
      appender.start()
      SnapshotTable.upsert(spark, root, source, Seq("k"))
      appender.join()
      val losses = SnapshotTable.casLosses.get() - lossesBefore
      if (losses > 0) {
        collided = true
        assert(SnapshotTable.rebases.get() > rebasesBefore,
          "upsert's MERGE rewrite must rebase over a foreign append")
      }
      val rows = SnapshotTable.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = (0L until 10L).map(k => (k, "upd")).toSet ++
        (10L until 100L).map(k => (k, "base")).toSet ++
        (1000L until 1010L).map(k => (k, "late")).toSet
      assert(rows == want, s"diff=${rows.diff(want)} / ${want.diff(rows)}")
      attempt += 1
    }
    assert(collided, "the planted upsert/append race never collided in 3 tries")
  }

  test("racing MERGE over a rand()-filtered source rebases: it commits exactly the rows it merged") {
    var attempt = 0
    var collided = false
    while (attempt < 3 && !collided) {
      val root = s"${tmpDir()}/t"
      SnapshotTable.commitClustered(spark, root,
        (0L until 100L).map(k => (k, "base")).toDF("k", "s"), Seq("k"), numFiles = 4)
      // Not replayable: every run of this plan keeps other keys.
      val source = (0L until 10L).map(k => (k, "upd")).toDF("k", "s")
        .filter(rand() < 0.7)
      val lossesBefore = SnapshotTable.casLosses.get()
      val rebasesBefore = SnapshotTable.rebases.get()
      val appender = new Thread(() => {
        Thread.sleep(150)
        SnapshotTable.append(spark, root,
          (1000L until 1010L).map(k => (k, "late")).toDF("k", "s"))
      })
      appender.start()
      val v = SnapshotTable.mergeInto(spark, root, source, Seq("k"),
        matched = Seq(UpdateClause(None, None)), notMatched = Seq(InsertClause(None, None)))
      appender.join()
      if (SnapshotTable.casLosses.get() > lossesBefore) {
        collided = true
        assert(SnapshotTable.rebases.get() == rebasesBefore + 1,
          "the statement's one source copy makes the key proof sound: rebase, not redo")
      }
      val rows = SnapshotTable.read(spark, root)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val merged = rows.filter(_._2 == "upd")
      // The rows the rewrite merged are its CDC adds; the table holds
      // exactly those, the untouched base rows and the winner's rows.
      val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v - 1, Some(v))
      assert(adds.collect().map(r => (r.getLong(0), r.getString(1))).toSet == merged)
      assert(removes.collect().map(_.getLong(0)).toSet == merged.map(_._1))
      val want = merged ++
        (0L until 100L).filterNot(merged.map(_._1)).map(k => (k, "base")).toSet ++
        (1000L until 1010L).map(k => (k, "late")).toSet
      assert(rows == want, s"diff=${rows.diff(want)} / ${want.diff(rows)}")
      attempt += 1
    }
    assert(collided, "the planted merge/append race never collided in 3 tries")
  }

  test("rebase max-merges the identity HWM with the winner's (ADVICE r13)") {
    val root = s"${tmpDir()}/t"
    // `k` doubles as a GENERATED BY DEFAULT identity column: the winner's
    // explicit values bump the manifest HWM via footer bounds.
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("identity.start", 1L).putLong("identity.step", 1L)
      .putBoolean("identity.allowExplicitInsert", true).build()
    SnapshotTable.commitClustered(spark, root,
      (0L until 100L).map(k => (k, s"r$k")).toDF("k", "s")
        .select(col("k").as("k", md), col("s")),
      Seq("k"), numFiles = 4)
    assert(resolvedAt(root, 0L).identityHwm == Map("k" -> 99L))
    val (keptE, rewritten, schema, resolved) = stageDelete(root)

    // Winner: an append that pushes the HWM to 1009 AFTER the delete
    // captured version 0's marks.
    SnapshotTable.append(spark, root,
      (1000L until 1010L).map(k => (k, "new")).toDF("k", "s"))
    assert(resolvedAt(root, 1L).identityHwm == Map("k" -> 1009L))

    val committed = SnapshotTable.commitAt(spark, root, Some(resolvedAt(root, 0L)), rewritten,
      carry = keptE, tableSchema = Some(schema),
      rebase = Some(() => resolved))
    assert(committed == 2L, s"rebased commit must land at 2, got $committed")
    // Without the max-merge the rebased manifest re-declared HWM 99 and
    // the next generating insert would reuse the winner's 1000..1009.
    assert(resolvedAt(root, 2L).identityHwm == Map("k" -> 1009L),
      "rebase must not re-declare the stale pre-winner identity HWM")
    SnapshotTable.append(spark, root, Seq(("only" : String)).toDF("s"))
    val gen = SnapshotTable.read(spark, root).filter(col("s") === "only")
      .select("k").as[Long].head()
    assert(gen > 1009L, s"generated id $gen must clear the winner's range")
  }

  test("live delete-vs-append race reaches the serial state") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commitClustered(spark, root,
      (0L until 80L).map(k => (k, "base")).toDF("k", "s"), Seq("k"), numFiles = 4)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def race(body: => Unit): Unit = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try body catch { case e: Throwable => failures.add(e) }
      }
    })
    // delete's own retry loop + the rebase both resolve the race; the
    // appended keys sit far outside the predicate so every outcome is the
    // serial one.
    race(SnapshotTable.delete(spark, root, col("k") < 40))
    race(SnapshotTable.append(spark, root,
      (5000L until 5020L).map(k => (k, "late")).toDF("k", "s")))
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"unexpected failures: $failures")
    val got = SnapshotTable.read(spark, root).select("k").as[Long].collect().toSet
    assert(got == ((40L until 80L) ++ (5000L until 5020L)).toSet)
  }
}
