package graft.ops

import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Writer-writer interleaving on one SnapshotTable (VERDICT r9 #4): the
  * manifest CAS is the single linearization point, so under a PLANTED race
  * exactly one writer per version wins, the loser's data never becomes
  * visible, retried writers serialize to a state some serial order would
  * produce, no version is lost or duplicated, and the CDC chain telescopes
  * to the final table. */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  test("planted CAS race: exactly one winner per version, loser's orphan swept") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commit(spark, root, Seq((0L, "base")).toDF("k", "v"))
    val v0 = SnapshotTable.resolvedAt(new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), root, 0L)
    val barrier = new CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    val pool = Executors.newFixedThreadPool(2)
    (1 to 2).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val df = Seq((i.toLong, s"writer$i")).toDF("k", "v")
          barrier.await() // both target version 1 simultaneously
          outcomes.add(
            try Right(SnapshotTable.commitAt(spark, root, Some(v0), df))
            catch { case e: Throwable => Left(e) })
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    val res = outcomes.toArray(Array.empty[Either[Throwable, Long]]).toSeq
    assert(res.count(_.isRight) == 1, s"exactly one writer must win: $res")
    assert(res.collect { case Left(e) => e }
      .forall(_.isInstanceOf[SnapshotTable.ConcurrentWriteException]))
    // the committed version is EXACTLY one writer's rows, never a blend
    val v1 = SnapshotTable.read(spark, root, Some(1L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v1 == Set((1L, "writer1")) || v1 == Set((2L, "writer2")), s"got $v1")
    // the loser cleaned its own snapshot dir (readers can't see it anyway,
    // but the orphan must not wait for vacuum when the loser is alive)
    val dirs = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("snap-00000001")).length
    assert(dirs == 1, s"loser's snap dir must be removed (found $dirs)")
  }

  test("racing upserts serialize: final state = serial result, versions gapless, CDC telescopes") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.upsert(spark, root,
      (0L until 40L).map(k => (k, "base", 0.0)).toDF("k", "who", "v"), Seq("k"))
    val threads = 4
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until threads).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          // each writer owns a disjoint key stripe: any serial order of
          // the four upserts produces the same final table
          val mine = (0L until 40L).filter(_ % threads == i)
            .map(k => (k, s"w$i", k * 1.5)).toDF("k", "who", "v")
          var done = false
          while (!done) {
            try { SnapshotTable.upsert(spark, root, mine, Seq("k")); done = true }
            catch {
              case _: SnapshotTable.ConcurrentWriteException => () // re-loop
              case e: Throwable => failures.add(e); done = true
            }
          }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"unexpected failures: $failures")

    val fin = SnapshotTable.read(spark, root)
    val got = fin.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val want = (0L until 40L).map(k => (k, s"w${k % threads}", k * 1.5)).toSet
    assert(got == want, "final state must equal the (unique) serial result")

    // no version lost or duplicated: the manifest log is gapless 0..max
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_manifests"))
      .map(_.getPath.getName).collect {
        case n if n.matches("manifest-\\d{8}\\.json") => n.substring(9, 17).toLong
      }.sorted.toSeq
    assert(versions == (0L to versions.max), s"gapless versions expected: $versions")

    // CDC chain stays consistent across every interleaving: adds minus
    // removes (multiset) telescopes to the final table
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, -1L)
    val net = adds.exceptAll(removes)
    assert(net.exceptAll(fin).isEmpty && fin.exceptAll(net).isEmpty,
      "CDC chain must telescope exactly to the final state")
  }

  test("mixed append/upsert/delete race: commutative ops reach the serial state") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.upsert(spark, root,
      (0L until 30L).map(k => (k, "base")).toDF("k", "v"), Seq("k"))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(3)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def race(body: => Unit): Unit = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        var done = false
        while (!done) {
          try { body; done = true }
          catch {
            case _: SnapshotTable.ConcurrentWriteException => ()
            case e: Throwable => failures.add(e); done = true
          }
        }
      }
    })
    // ops touch disjoint key stripes, so they commute: %3==0 deleted,
    // %3==1 upsert-updated, and the appended keys are all ≡1 mod 3 so no
    // serial order lets the delete claim them (every serial order yields
    // the same final state — the strongest assertable form).
    val appended = Seq(100L, 103L, 106L, 109L, 112L)
    race(SnapshotTable.delete(spark, root, col("k") % 3 === 0))
    race(SnapshotTable.upsert(spark, root,
      (0L until 30L).filter(_ % 3 == 1).map(k => (k, "upd")).toDF("k", "v"), Seq("k")))
    race(SnapshotTable.appendOnce(spark, root,
      appended.map(k => (k, "app")).toDF("k", "v"), "conc-spec", 0L))
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"unexpected failures: $failures")
    val got = SnapshotTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want =
      (0L until 30L).filter(_ % 3 == 1).map(k => (k, "upd")).toSet ++
      (0L until 30L).filter(_ % 3 == 2).map(k => (k, "base")).toSet ++
      appended.map(k => (k, "app")).toSet
    assert(got == want, s"must reach the serial state; diff=${got.diff(want)} / ${want.diff(got)}")
  }

  test("concurrent overwriteWhere on disjoint regions: CAS serializes, both land") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commit(spark, root,
      (0L until 40L).map(k => (k, "base")).toDF("k", "v"))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def race(body: => Unit): Unit = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        var done = false
        while (!done) {
          try { body; done = true }
          catch {
            case _: SnapshotTable.ConcurrentWriteException => ()
            case e: Throwable => failures.add(e); done = true
          }
        }
      }
    })
    // Disjoint replaced regions commute: every serial order yields the
    // same final state, so a lost update from a CAS bug is visible.
    race(SnapshotTable.overwriteWhere(spark, root, col("k") < 10,
      (0L until 5L).map(k => (k, "lo")).toDF("k", "v")))
    race(SnapshotTable.overwriteWhere(spark, root,
      col("k") >= 30 && col("k") < 40,
      (35L until 40L).map(k => (k, "hi")).toDF("k", "v")))
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"unexpected failures: $failures")
    val got = SnapshotTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (0L until 5L).map(k => (k, "lo")).toSet ++
      (10L until 30L).map(k => (k, "base")).toSet ++
      (35L until 40L).map(k => (k, "hi")).toSet
    assert(got == want,
      s"both replaceWhere commits must land; diff=${got.diff(want)} / ${want.diff(got)}")
    // both landed as distinct versions over the seed
    assert(SnapshotTable.currentVersion(spark, root).contains(2L))
  }

  test("transact seam: bounded attempts, a named exhaustion, a retry against the winner") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commit(spark, root, Seq((0L, "base")).toDF("k", "v"))
    // A body that always loses runs exactly `attempts` times, then the
    // conflict surfaces naming the operation, the root and the count.
    var runs = 0
    val e = intercept[SnapshotTable.ConcurrentWriteException] {
      SnapshotTable.transact(spark, root, "seam-probe", attempts = 3) { base =>
        runs += 1
        throw new SnapshotTable.ConcurrentWriteException(
          s"planted loss on top of ${base.map(_.version)}")
      }
    }
    assert(runs == 3, s"body ran $runs times")
    assert(e.getMessage.contains("seam-probe") && e.getMessage.contains(root) &&
      e.getMessage.contains("3 time") && e.getMessage.contains("version 1"),
      e.getMessage)
    // A body that loses once (a writer lands between its read and its
    // commit) re-runs against the winner's state and returns the second
    // attempt's version.
    val lossesBefore = SnapshotTable.casLosses.get()
    val bases = scala.collection.mutable.ArrayBuffer.empty[Long]
    val v = SnapshotTable.transact(spark, root, "seam-probe", attempts = 3) { base =>
      bases += base.get.version
      if (bases.size == 1)
        SnapshotTable.append(spark, root, Seq((1L, "winner")).toDF("k", "v"))
      SnapshotTable.commitAt(spark, root, base, Seq((2L, "ours")).toDF("k", "v"))
    }
    assert(bases == Seq(0L, 1L), s"attempt bases $bases")
    assert(v == 2L, s"second attempt must land at 2, got $v")
    assert(SnapshotTable.casLosses.get() == lossesBefore + 1)
    assert(SnapshotTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((2L, "ours")))
  }

  test("racing metadata-only commits: gapless versions, no lost update, losses counted") {
    import org.apache.spark.sql.types.{LongType, StructField}
    val root = s"${tmpDir()}/t"
    SnapshotTable.commit(spark, root, (0L until 10L).map(k => (k, s"v$k")).toDF("k", "v"))
    // Warm the constraint path (parser, validating scan) on another table:
    // the racing setCheckConstraint then reads its base together with the
    // other writers and commits after them, off a stale base.
    val warm = s"${tmpDir()}/warm"
    SnapshotTable.commit(spark, warm, Seq((0L, "w")).toDF("k", "v"))
    SnapshotTable.setCheckConstraint(spark, warm, "k_nonneg", "k >= 0")
    val lossesBefore = SnapshotTable.casLosses.get()
    val reloops = new java.util.concurrent.atomic.AtomicLong(0L)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(5)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def race(body: => Unit): Unit = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        var done = false
        while (!done) {
          try { body; done = true }
          catch {
            case _: SnapshotTable.ConcurrentWriteException => reloops.incrementAndGet()
            case e: Throwable => failures.add(e); done = true
          }
        }
      }
    })
    (0 until 3).foreach(i =>
      race(SnapshotTable.addColumns(spark, root, Seq(StructField(s"c$i", LongType)))))
    race(SnapshotTable.setBloomColumns(spark, root, Seq("k")))
    race(SnapshotTable.setCheckConstraint(spark, root, "k_nonneg", "k >= 0"))
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"unexpected failures: $failures")

    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_manifests"))
      .map(_.getPath.getName).collect {
        case n if n.matches("manifest-\\d{8}\\.json") => n.substring(9, 17).toLong
      }.sorted.toSeq
    assert(versions == (0L to 5L), s"one gapless version per writer expected: $versions")
    // Every writer's change survives in the final state: no lost update.
    val last = SnapshotTable.resolvedAt(fs, root, 5L)
    assert(last.schema.fieldNames.toSeq.sorted == Seq("c0", "c1", "c2", "k", "v"),
      last.schema)
    assert(last.bloomOn == Seq("k"), last.bloomOn)
    assert(last.constraints == Map("k_nonneg" -> "k >= 0"), last.constraints)
    assert(SnapshotTable.read(spark, root).count() == 10L)
    assert(SnapshotTable.casLosses.get() - lossesBefore >= reloops.get(),
      s"casLosses grew ${SnapshotTable.casLosses.get() - lossesBefore}, " +
        s"re-loops ${reloops.get()}")
  }

  test("coordinator: a crash between a table+audit pair's commits never shows half state (r15)") {
    val base = tmpDir()
    val tRoot = s"$base/orders"
    val aRoot = s"$base/audit"
    val coord = s"$base/_coord"
    // Seed both tables (pre-txn state).
    SnapshotTable.commit(spark, tRoot, Seq((1L, "seed")).toDF("k", "v"))
    SnapshotTable.commit(spark, aRoot, Seq((0L, "created")).toDF("batch", "event"))
    // Happy path: one logical batch, two legs, one intent.
    val vs = CommitCoordinator.appendAll(spark, coord, "pairjob", 1L, Seq(
      tRoot -> Seq((2L, "b1")).toDF("k", "v"),
      aRoot -> Seq((1L, "wrote-b1")).toDF("batch", "event")))
    assert(vs == Seq(1L, 1L), vs)
    assert(CommitCoordinator.readCoordinated(spark, coord, tRoot).count() == 2L)
    // Retry of a DONE txn is a pure replay — no duplicate rows, same versions.
    val vs2 = CommitCoordinator.appendAll(spark, coord, "pairjob", 1L, Seq(
      tRoot -> Seq((2L, "b1")).toDF("k", "v"),
      aRoot -> Seq((1L, "wrote-b1")).toDF("batch", "event")))
    assert(vs2 == vs && SnapshotTable.read(spark, tRoot).count() == 2L)

    // CRASH between the two commits: intent pending, leg A landed, leg B
    // never did. Reproduce the exact on-disk state by running only the
    // first half of appendAll's protocol.
    locally {
      val fs = new org.apache.hadoop.fs.Path(coord)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val intent = s"""{"appId":"pairjob","batchId":2,"legs":["$tRoot","$aRoot"],"state":"pending"}"""
      val out = fs.create(new org.apache.hadoop.fs.Path(coord, "txn-pairjob-2.json"), true)
      try out.write(intent.getBytes("UTF-8")) finally out.close()
      SnapshotTable.appendOnce(spark, tRoot, Seq((3L, "b2")).toDF("k", "v"),
        "pairjob", 2L)
    }
    // Plain reader of the table sees the half state (single-table
    // semantics, unchanged); the COORDINATED reader does not.
    assert(SnapshotTable.read(spark, tRoot).count() == 3L)
    assert(CommitCoordinator.readCoordinated(spark, coord, tRoot).count() == 2L,
      "half-committed leg exposed to a coordinated reader")
    assert(CommitCoordinator.readCoordinated(spark, coord, aRoot).count() == 2L,
      "audit side must read its own (pre-txn) truth")
    // The writer's idempotent retry ROLLS FORWARD: leg A replays (no
    // duplicate), leg B commits, intent finalizes — both sides visible.
    val vs3 = CommitCoordinator.appendAll(spark, coord, "pairjob", 2L, Seq(
      tRoot -> Seq((3L, "b2")).toDF("k", "v"),
      aRoot -> Seq((2L, "wrote-b2")).toDF("batch", "event")))
    assert(vs3 == Seq(2L, 2L), vs3)
    assert(CommitCoordinator.readCoordinated(spark, coord, tRoot).count() == 3L)
    assert(CommitCoordinator.readCoordinated(spark, coord, aRoot).count() == 3L)
    assert(SnapshotTable.read(spark, tRoot)
      .filter(col("k") === 3L).count() == 1L, "replay must not duplicate")

    // Buried half state refuses rather than lies: plant another half txn,
    // then land an UNRELATED commit on top of the table.
    locally {
      val fs = new org.apache.hadoop.fs.Path(coord)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val intent = s"""{"appId":"pairjob","batchId":3,"legs":["$tRoot","$aRoot"],"state":"pending"}"""
      val out = fs.create(new org.apache.hadoop.fs.Path(coord, "txn-pairjob-3.json"), true)
      try out.write(intent.getBytes("UTF-8")) finally out.close()
      SnapshotTable.appendOnce(spark, tRoot, Seq((4L, "b3")).toDF("k", "v"),
        "pairjob", 3L)
      SnapshotTable.append(spark, tRoot, Seq((99L, "unrelated")).toDF("k", "v"))
    }
    val e = intercept[IllegalArgumentException] {
      CommitCoordinator.readCoordinated(spark, coord, tRoot).count()
    }
    assert(e.getMessage.contains("half-committed"), e.getMessage)
    // The retry still completes it, and coordinated reads resume.
    CommitCoordinator.appendAll(spark, coord, "pairjob", 3L, Seq(
      tRoot -> Seq((4L, "b3")).toDF("k", "v"),
      aRoot -> Seq((3L, "wrote-b3")).toDF("batch", "event")))
    assert(CommitCoordinator.readCoordinated(spark, coord, tRoot).count() == 5L)
    // Mismatched leg sets for an existing txn are refused.
    val e2 = intercept[IllegalArgumentException] {
      CommitCoordinator.appendAll(spark, coord, "pairjob", 3L, Seq(
        tRoot -> Seq((5L, "x")).toDF("k", "v")))
    }
    assert(e2.getMessage.contains("do not match"), e2.getMessage)
  }
}
