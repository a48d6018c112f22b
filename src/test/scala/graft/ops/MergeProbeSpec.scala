package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ops.MergeInto.{DeleteClause, InsertClause, UpdateClause}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

object MergeProbeSpec {
  /** Runs of the disagreeing source (read on the executors, one JVM). */
  val runs = new AtomicInteger(0)
}

/** One MERGE statement runs its source once, its key probe reads only the
  * files whose stats admit a source key, and its Spark job count is
  * pinned. */
class MergeProbeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The Spark jobs `body` starts on this thread, one line each. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"merge-jobs-${java.util.UUID.randomUUID}"
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(s"job ${e.jobId} (SQL execution " +
            s"${e.properties.getProperty("spark.sql.execution.id")}): " +
            e.stageInfos.map(_.name).mkString(" | "))
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "merge job count")
    try body
    finally {
      sc.clearJobGroup()
      TestBus.waitUntilEmpty(sc)
      sc.removeSparkListener(l)
    }
    seen.asScala.toSeq
  }

  /** `numFiles` of every file scan in the `collect` queries `body` runs —
    * the MERGE's key probe is its only collect over table files. */
  private def probeScans(body: => Unit): Seq[Long] = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try body
    finally {
      TestBus.waitUntilEmpty(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    seen.asScala.toSeq.filter(_._1 == "collect").flatMap { case (_, qe) =>
      collect(qe.executedPlan) { case s: FileSourceScanExec => s.metrics("numFiles").value }
    }
  }

  private def rows(root: String, v: Long): Set[String] =
    SnapshotTable.read(spark, root, Some(v)).collect().map(_.toString).toSet

  private def cdc(root: String, v: Long): (Set[String], Set[String]) = {
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v - 1, Some(v))
    (adds.collect().map(_.toString).toSet, removes.collect().map(_.toString).toSet)
  }

  test("a source whose runs disagree is run once: no key lands twice") {
    val root = s"${tmpDir()}/t"
    // Key 1 and key 2 live in different files.
    SnapshotTable.commit(spark, root, Seq((1L, "base")).toDF("k", "s"))
    SnapshotTable.append(spark, root, Seq((2L, "base")).toDF("k", "s"))
    MergeProbeSpec.runs.set(0)
    // The first run returns key 1; every later run returns keys 1 and 2.
    val source = spark.range(0, 1, 1, 1).mapPartitions { _ =>
      if (MergeProbeSpec.runs.getAndIncrement() == 0) Iterator((1L, "new"))
      else Iterator((1L, "new"), (2L, "new"))
    }.toDF("k", "s")
    val v = SnapshotTable.mergeInto(spark, root, source, Seq("k"),
      matched = Seq(UpdateClause(None, None)), notMatched = Seq(InsertClause(None, None)))
    val got = SnapshotTable.read(spark, root, Some(v)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(got == Seq((1L, "new"), (2L, "base")), s"got $got")
    assert(MergeProbeSpec.runs.get() == 1, s"the source ran ${MergeProbeSpec.runs.get()} times")
  }

  test("cardinality rule counts source rows per key: one source row may match a key held twice") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commit(spark, root, Seq((3L, "a"), (3L, "b"), (4L, "c")).toDF("k", "s"))
    val v = SnapshotTable.mergeInto(spark, root, Seq((3L, "new")).toDF("k", "s"), Seq("k"),
      matched = Seq(UpdateClause(None, None)))
    assert(rows(root, v) == Set("[3,new]", "[4,c]"), "both rows holding key 3 take the update")
    assert(SnapshotTable.read(spark, root, Some(v)).count() == 3L)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.mergeInto(spark, root, Seq((4L, "x"), (4L, "y")).toDF("k", "s"), Seq("k"),
        matched = Seq(UpdateClause(None, None)))
    }
    assert(e.getMessage.contains("multiple source rows match") && e.getMessage.contains("4"),
      e.getMessage)
  }

  test("cardinality refusal names a violating key, never a legal key held twice") {
    val root = s"${tmpDir()}/t"
    // keys 1..20 each held twice (legal: one source row each), key 40
    // held once and hit by two source rows (the violation)
    val base = ((1L to 20L).flatMap(k => Seq((k, "a"), (k, "b"))) :+ ((40L, "c"))).toDF("k", "s")
    val v0 = SnapshotTable.commit(spark, root, base)
    val source = ((1L to 20L).map(k => (k, "new")) ++ Seq((40L, "x"), (40L, "y"))).toDF("k", "s")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.mergeInto(spark, root, source, Seq("k"),
        matched = Seq(UpdateClause(None, None)), notMatched = Seq(InsertClause(None, None)))
    }
    assert(e.getMessage.contains("multiple source rows match") && e.getMessage.contains("e.g. [40];"),
      e.getMessage)
    assert(SnapshotTable.currentVersion(spark, root).contains(v0), "no partial commit")
  }

  /** 3,200 keys range-clustered into 32 files of 100, plus NULL keys in
    * the first file, and the same rows as one file (nothing to prune). */
  private def tables(): (String, String) = {
    val base = ((0L until 3200L).map(k => (Option(k), s"b$k")) ++
      Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"))).toDF("k", "s")
    val (clustered, flat) = (s"${tmpDir()}/c", s"${tmpDir()}/f")
    SnapshotTable.commitClustered(spark, clustered, base, Seq("k"), numFiles = 32)
    SnapshotTable.commit(spark, flat, base.coalesce(1))
    (clustered, flat)
  }

  /** Files of `root`'s head whose stats on `k` satisfy `admits(min, max,
    * holds NULLs)`. */
  private def filesWhere(root: String)(admits: (Long, Long, Boolean) => Boolean): Long = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = SnapshotTable.currentVersion(spark, root).get
    SnapshotTable.resolvedAt(fs, root, head).stats.count { e =>
      val c = e.cols("k")
      admits(c.min.fold(Long.MaxValue)(_.asInstanceOf[Long]),
        c.max.fold(Long.MinValue)(_.asInstanceOf[Long]), c.nulls != 0L)
    }.toLong
  }

  /** Files admitting one of `keys` (a NULL key admits the files holding
    * NULLs). */
  private def admitting(root: String, keys: Seq[Option[Long]]): Long =
    filesWhere(root) { (mn, mx, nulls) =>
      keys.exists(_.fold(nulls)(k => mn <= k && k <= mx))
    }

  /** MERGE `source` into both tables. The clustered table's key probe
    * must read the files `probed` names (read off its stats before the
    * MERGE), and both tables must commit the same rows and CDC. */
  private def sameAsUnpruned(source: DataFrame, probed: String => Seq[Long],
                             bySource: Seq[MergeInto.Clause] = Nil): Unit = {
    val (clustered, flat) = tables()
    val want = probed(clustered)
    val (matched, notMatched) = (Seq(UpdateClause(None, None)), Seq(InsertClause(None, None)))
    var vc = -1L
    val scans = probeScans {
      vc = SnapshotTable.mergeInto(spark, clustered, source, Seq("k"),
        matched, notMatched, bySource)
    }
    val vf = SnapshotTable.mergeInto(spark, flat, source, Seq("k"), matched, notMatched, bySource)
    assert(scans.sorted == want, s"probe scans $scans, want $want")
    assert(rows(clustered, vc) == rows(flat, vf))
    assert(cdc(clustered, vc) == cdc(flat, vf))
  }

  test("the key probe reads only the files whose stats admit a source key") {
    val keys = Seq(5L, 1505L, 3105L, 5000L).map(Option(_))
    sameAsUnpruned(keys.map(k => (k, "new")).toDF("k", "s"), root => {
      assert(admitting(root, keys) == 3L)
      Seq(3L)
    })
  }

  test("pruned probe: a NULL source key keeps the files holding NULL keys") {
    val keys = Seq(None, Some(1505L))
    sameAsUnpruned(keys.map(k => (k, "new")).toDF("k", "s"), root => {
      assert(admitting(root, keys) == 2L)
      Seq(2L)
    })
  }

  test("pruned probe: past 4,096 source rows the key range alone prunes") {
    // 100 updates around key 1500, 5,000 inserts beyond every file.
    val keys = (1500L until 1600L) ++ (10000L until 15000L)
    sameAsUnpruned(keys.map(k => (Option(k), "new")).toDF("k", "s"), root =>
      Seq(filesWhere(root)((mn, mx, _) => mx >= 1500L && mn <= 14999L)))
  }

  test("pruned probe: a BY SOURCE arm still reads every file") {
    val keys = Seq(5L, 1505L).map(Option(_))
    sameAsUnpruned(keys.map(k => (k, "new")).toDF("k", "s"),
      root => Seq(admitting(root, keys), filesWhere(root)((_, _, _) => true)),
      bySource = Seq(DeleteClause(Some(col("t.k") % 1000 === 7))))
  }

  test("pin: a key-targeted MERGE runs 10 Spark jobs") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commitClustered(spark, root,
      (0L until 800L by 2L).map(k => (k, "base")).toDF("k", "s"), Seq("k"), numFiles = 4)
    // Updates and inserts inside one file's key range: the probe reads
    // one file and needs no key list.
    val source = (202L to 206L).map(k => (k, "new")).toDF("k", "s")
    val jobs = jobsOf(SnapshotTable.mergeInto(spark, root, source, Seq("k"),
      matched = Seq(UpdateClause(Some(col("s.s") =!= col("t.s")), None)),
      notMatched = Seq(InsertClause(None, None))))
    // One source materialization, a 3-job probe (per-key counts, their
    // broadcast, the file pull), the 3-job merge join, the range-clustered
    // rewrite (bounds sample + write) and one CDC write.
    assert(jobs.size == 10, jobs.mkString("\n"))
  }
}
