package graft.ops

import graft.SparkSpec
import graft.ops.MergeInto.{InsertClause, UpdateClause}
import org.apache.spark.sql.functions._

/** Deletion vectors (round 13, VERDICT r12 #2 — merge-on-read point DML):
  * a DELETE whose matches are a small fraction of the touched files' rows
  * writes a (file, pos) parquet side-car instead of rewriting the files;
  * the scan masks at read time; OPTIMIZE materializes. Pins: answer
  * equality with copy-on-write, the ZERO-files-written plan shape,
  * accumulation across deletes, DV-aware later DML (no resurrection), CDC
  * exactness, metadata-only counts, vacuum lifecycle, and the fall-back to
  * rewrite above the threshold. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  // KB-sized fixtures sit under the production economic floor (a rewrite
  // is cheaper than the DV machinery there, by design) — drop it so the
  // merge-on-read path itself is what these tests exercise.
  SnapshotTable.dvMinTouchedBytes = 0L

  private def dataFiles(root: String, v: Long): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotTable.resolvedAt(fs, root, v).stats.map(_.path).toSet
  }

  private def entries(root: String, v: Long): Seq[SnapshotStats.FileStats] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotTable.resolvedAt(fs, root, v).stats
  }

  private def seed(root: String, n: Int = 10000, files: Int = 4): Unit =
    SnapshotTable.commitClustered(spark, root,
      (0 until n).map(i => (i.toLong, s"v$i", i % 97)).toDF("k", "v", "m"),
      Seq("k"), numFiles = files)

  test("a point delete writes a DV: zero data files written, same answers") {
    val root = tmpDir() + "/tbl"
    seed(root)
    val before = dataFiles(root, 0L)
    val v1 = SnapshotTable.delete(spark, root, col("k") === 4242L)
    assert(v1 == 1L)
    // Merge-on-read: the file set is UNCHANGED — no rewrite happened.
    assert(dataFiles(root, 1L) == before, "a point delete must not rewrite files")
    val es = entries(root, 1L)
    assert(es.count(_.dv.nonEmpty) == 1, "exactly the hit file carries a DV")
    assert(es.map(_.dvRows).sum == 1L)
    // Answers match the logical state exactly.
    val got = SnapshotTable.read(spark, root)
    assert(got.count() == 9999L)
    assert(got.filter(col("k") === 4242L).isEmpty)
    assert(got.filter(col("k") === 4241L).count() == 1L)
    // Metadata-only count stays exact under DVs.
    assert(SnapshotTable.rowCount(spark, root) == 9999L)
  }

  test("DVs accumulate across deletes; a DV'd file never resurrects rows") {
    val root = tmpDir() + "/tbl"
    seed(root)
    SnapshotTable.delete(spark, root, col("k") === 10L)
    SnapshotTable.delete(spark, root, col("k") === 11L) // same file, 2nd DV
    val es = entries(root, 2L)
    assert(es.exists(_.dv.size == 2), s"second point delete appends a side-car")
    assert(SnapshotTable.read(spark, root).count() == 9998L)
    // A LATER copy-on-write DML over the DV'd file must keep rows masked:
    // update every row of the file's key range — forces the rewrite path.
    SnapshotTable.update(spark, root, col("k") < 2500L,
      Map("v" -> concat(lit("u-"), col("v"))))
    val after = SnapshotTable.read(spark, root)
    assert(after.count() == 9998L, "rewrite must not resurrect masked rows")
    assert(after.filter(col("k") === 10L || col("k") === 11L).isEmpty)
    assert(after.filter(col("k") === 12L).select("v").head().getString(0)
      .startsWith("u-"))
  }

  test("hash equality: DV delete ≡ copy-on-write delete") {
    val rootDv = tmpDir() + "/dv"
    val rootCow = tmpDir() + "/cow"
    seed(rootDv); seed(rootCow)
    val pred = col("k") % 1000 === 7 // 10 scattered rows
    SnapshotTable.delete(spark, rootDv, pred)
    val old = SnapshotTable.dvMaxFraction
    SnapshotTable.dvMaxFraction = 0.0 // disable: force the rewrite branch
    try SnapshotTable.delete(spark, rootCow, pred)
    finally SnapshotTable.dvMaxFraction = old
    // The DV table kept its files; the CoW table rewrote.
    assert(dataFiles(rootDv, 1L) == dataFiles(rootDv, 0L))
    assert(dataFiles(rootCow, 1L) != dataFiles(rootCow, 0L))
    val a = SnapshotTable.read(spark, rootDv).orderBy("k")
      .collect().map(_.toString).toSeq
    val b = SnapshotTable.read(spark, rootCow).orderBy("k")
      .collect().map(_.toString).toSeq
    assert(a == b, "branches must be row-for-row identical")
  }

  test("a large delete falls back to the rewrite (threshold honored)") {
    val root = tmpDir() + "/tbl"
    seed(root)
    val v1 = SnapshotTable.delete(spark, root, col("k") < 5000L) // 50%
    assert(entries(root, v1).forall(_.dv.isEmpty),
      "a mass delete must rewrite, not balloon a DV")
    assert(SnapshotTable.read(spark, root).count() == 5000L)
  }

  test("OPTIMIZE materializes DVs: clean files, side-cars retire with vacuum") {
    val root = tmpDir() + "/tbl"
    seed(root)
    SnapshotTable.delete(spark, root, col("k").isin(1L, 2001L, 4001L, 8001L))
    assert(entries(root, 1L).exists(_.dv.nonEmpty))
    val v2 = SnapshotTable.compact(spark, root, maxFiles = 64)
    assert(v2.nonEmpty, "compact must fire on DV'd files regardless of count")
    assert(entries(root, v2.get).forall(_.dv.isEmpty), "materialized = clean")
    assert(SnapshotTable.read(spark, root).count() == 9996L)
    // Vacuum reclaims the DV side-car dirs once their manifests drop.
    SnapshotTable.vacuum(spark, root, keep = 1)
    val dvDirs = new java.io.File(root).listFiles()
      .filter(f => f.getName.startsWith("dv-")).toSeq
    assert(dvDirs.isEmpty, s"DV side-cars must die with their manifests: $dvDirs")
    assert(SnapshotTable.read(spark, root).count() == 9996L)
  }

  test("CDC: a DV delete emits exact remove pre-images; MV feeds stay exact") {
    val root = tmpDir() + "/tbl"
    seed(root)
    SnapshotTable.delete(spark, root, col("k").isin(5L, 6L))
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, 0L, Some(1L))
    assert(adds.isEmpty)
    assert(removes.select("k").as[Long].collect().sorted.toSeq == Seq(5L, 6L))
  }

  test("time travel reads the pre-delete version unmasked") {
    val root = tmpDir() + "/tbl"
    seed(root)
    SnapshotTable.delete(spark, root, col("k") === 77L)
    assert(SnapshotTable.read(spark, root, Some(0L)).count() == 10000L)
    assert(SnapshotTable.read(spark, root, Some(1L)).count() == 9999L)
  }

  test("merge over a DV'd file masks its target rows (no ghost matches)") {
    val root = tmpDir() + "/tbl"
    seed(root)
    SnapshotTable.delete(spark, root, col("k") === 100L)
    // A MERGE keyed on the deleted row must INSERT (no longer matched).
    SnapshotTable.mergeInto(spark, root,
      Seq((100L, "revived", 0)).toDF("k", "v", "m"), Seq("k"),
      matched = Seq(UpdateClause(None, None)), notMatched = Seq(InsertClause(None, None)))
    val row = SnapshotTable.read(spark, root).filter(col("k") === 100L).collect()
    assert(row.length == 1 && row.head.getString(1) == "revived")
    assert(SnapshotTable.read(spark, root).count() == 10000L)
  }
  test("the row-level feed consumes an interval crossing a DV commit") {
    val root = tmpDir() + "/tbl"
    seed(root)
    SnapshotTable.delete(spark, root, col("k") === 9L) // DV commit
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, 0L)
    assert(adds.isEmpty && removes.count() == 1L)
  }
  test("a point UPDATE is merge-on-read: DV + appended post-image, no rewrite") {
    val root = tmpDir() + "/tbl"
    seed(root)
    val before = dataFiles(root, 0L)
    SnapshotTable.update(spark, root, col("k") === 4242L,
      Map("v" -> lit("patched")))
    val es = entries(root, 1L)
    // The touched file survives by entry (now DV'd); ONE new file appends.
    assert(before.subsetOf(es.map(_.path).toSet),
      "a point update must not rewrite the touched file")
    assert(es.map(_.path).toSet.size == before.size + 1,
      "exactly one appended post-image file")
    assert(es.count(_.dv.nonEmpty) == 1 && es.map(_.dvRows).sum == 1L)
    val got = SnapshotTable.read(spark, root)
    assert(got.count() == 10000L)
    assert(got.filter(col("k") === 4242L).select("v").head().getString(0) == "patched")
    // CDC: retraction + insertion, exactly one row each.
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, 0L)
    assert(adds.count() == 1L && removes.count() == 1L)
    assert(adds.select("v").head().getString(0) == "patched")
    // OPTIMIZE folds the DV and the straggler file back together.
    SnapshotTable.compact(spark, root, maxFiles = 64)
    assert(entries(root, 2L).forall(_.dv.isEmpty))
    assert(SnapshotTable.read(spark, root).count() == 10000L)
  }

  test("DV debt stays bounded: 50 accrued point deletes, capped side-car lists") {
    val root = tmpDir() + "/tbl"
    seed(root)
    // 50 scattered single-row deletes into the same key range — pre-r14
    // this accrued 50 side-cars on one file and every masked scan opened
    // all of them.
    (0 until 50).foreach(i =>
      SnapshotTable.delete(spark, root, col("k") === (i * 7L)))
    val es = entries(root, 50L)
    val cap = SnapshotTable.dvMaxSidecarsPerFile
    assert(es.forall(_.dv.length <= cap + 1),
      s"per-file side-car lists must stay bounded at cap+1: " +
        es.map(_.dv.length).mkString(","))
    assert(es.map(_.dvRows).sum == 50L, "masked-row accounting stays exact")
    assert(SnapshotTable.read(spark, root).count() == 9950L)
    assert(SnapshotTable.rowCount(spark, root) == 9950L)
    // A surviving deleted key stays masked through the merge chain.
    assert(SnapshotTable.read(spark, root).filter(col("k") === 49L * 7L).isEmpty)

    // OPTIMIZE ... DV ONLY collapses everything to ≤1 side-car per file
    // without touching a data file.
    val before = dataFiles(root, 50L)
    val v = SnapshotTable.consolidateDvs(spark, root)
    assert(v.nonEmpty, "multiple side-cars must consolidate")
    val es2 = entries(root, v.get)
    assert(dataFiles(root, v.get) == before, "DV ONLY rewrites no data files")
    assert(es2.forall(_.dv.length <= 1), "≤1 side-car per file after DV ONLY")
    assert(es2.map(_.dvRows).sum == 50L)
    assert(SnapshotTable.read(spark, root).count() == 9950L)
    // Idempotent: nothing left to merge.
    assert(SnapshotTable.consolidateDvs(spark, root).isEmpty)
    // The file-set-unchanged metadata commit is an EMPTY delta to feeds.
    val Some((adds, removes)) =
      SnapshotTable.changesDelta(spark, root, v.get - 1, Some(v.get))
    assert(adds.isEmpty && removes.isEmpty,
      "consolidation must read as an empty change")
  }

  test("maintenance autopilot: accrued point deletes self-consolidate (r15)") {
    val root = tmpDir() + "/auto"
    seed(root)
    SnapshotTable.setTableConfig(spark, root,
      SnapshotTable.AutoMaintenanceKey, Some("true"))
    assert(SnapshotTable.tableConfigs(spark, root)
      .get(SnapshotTable.AutoMaintenanceKey).contains("true"))
    // 20 scattered point deletes. WITHOUT the autopilot the per-commit cap
    // (4) bounds lists at 5 and the hint fires; WITH it, any commit that
    // leaves a file holding >1 side-car is followed by a metadata-only
    // consolidation — steady state ≤1 per file, hint never fires.
    (1 to 20).foreach { i =>
      SnapshotTable.delete(spark, root, col("k") === (i * 31L))
      val head = SnapshotTable.currentVersion(spark, root).get
      val es = entries(root, head)
      assert(es.forall(_.dv.length <= 1),
        s"after delete $i: a file holds ${es.map(_.dv.length).max} side-cars")
      val st = SnapshotTable.status(spark, root).head()
      assert(st.getAs[String]("maintenance_hint") == null,
        s"after delete $i: hint fired: ${st.getAs[String]("maintenance_hint")}")
    }
    // All 20 masked rows stay deleted through the consolidations.
    val got = SnapshotTable.read(spark, root).count()
    assert(got == 10000L - 20L, s"rows: $got")
    // OFF switch: the next accrual is NOT consolidated automatically.
    SnapshotTable.setTableConfig(spark, root,
      SnapshotTable.AutoMaintenanceKey, None)
    (1 to 3).foreach(i =>
      SnapshotTable.delete(spark, root, col("k") === (5000L + i)))
    val es2 = entries(root, SnapshotTable.currentVersion(spark, root).get)
    assert(es2.exists(_.dv.length > 1),
      "with autopilot off, side-cars must accrue again")
  }

  test("DESCRIBE STATUS surfaces DV debt and the maintenance hint") {
    val root = tmpDir() + "/tbl"
    seed(root)
    (0 until 3).foreach(i =>
      SnapshotTable.delete(spark, root, col("k") === (i * 11L)))
    val st = SnapshotTable.status(spark, root).head()
    assert(st.getAs[Long]("dv_files") >= 1L)
    assert(st.getAs[Long]("dv_rows") == 3L)
    assert(st.getAs[Long]("dv_sidecars") >= 2L)
    val hint = st.getAs[String]("maintenance_hint")
    assert(hint != null && hint.contains("DV ONLY"), s"hint: $hint")
    // After consolidation the hint clears (1 side-car, tiny masked share).
    SnapshotTable.consolidateDvs(spark, root)
    val st2 = SnapshotTable.status(spark, root).head()
    assert(st2.getAs[Long]("dv_sidecars") == 1L)
    assert(st2.getAs[String]("maintenance_hint") == null,
      s"hint must clear: ${st2.getAs[String]("maintenance_hint")}")
  }
}
