package graft.ops

import graft.SparkSpec
import graft.ops.MergeInto.DeleteClause
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The value-preserving rewrite fast path (optimization r15): DELETE,
  * delete-only MERGE, and UPDATEs that assign no cluster column rewrite
  * touched files WITHOUT the range re-shuffle — the surviving rows'
  * cluster-key values are unchanged, so the inherited layout survives by
  * construction. These specs pin (a) answers identical to the brute
  * recompute, (b) file granularity: a single-file-touching DML leaves the
  * table's file count intact (touched file rewritten in place, the rest
  * carried), and (c) file skipping still prunes afterwards. */
class PreserveLayoutSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** 1000 rows over 10 range-clustered files on k. */
  private def clusteredTable(): String = {
    val root = tmpDir() + "/tbl"
    val df = spark.range(1000).toDF("k")
      .withColumn("s", format_string("s%03d", col("k")))
    SnapshotTable.commitClustered(spark, root, df, Seq("k"), numFiles = 10)
    root
  }

  private def filesOf(root: String): Int =
    SnapshotTable.status(spark, root)
      .select("num_files").head().getLong(0).toInt

  test("delete on one clustered file: no reshuffle decay, pruning survives") {
    val root = clusteredTable()
    // k in [421, 440] lives in one (maybe two) of the ten range files.
    SnapshotTable.delete(spark, root, col("k") >= 421 && col("k") <= 440)
    // File granularity preserved: the touched file(s) rewrote 1:1, the
    // other files carried — a range re-shuffle (or AQE coalescing) would
    // have collapsed the rewrite into one wide-bounds file.
    assert(filesOf(root) == 10, s"expected 10 files, got ${filesOf(root)}")
    val got = rows(SnapshotTable.read(spark, root).filter(col("k") < 100))
    assert(got == rows(spark.range(1000).toDF("k")
      .withColumn("s", format_string("s%03d", col("k")))
      .filter(col("k") < 100)), "delete changed unrelated rows")
    // Skipping still file-granular after the value-preserving rewrite.
    val (df, idxOpt) = SnapshotTable.readTracked(spark, root)
    val idx = idxOpt.getOrElse(fail("stats manifest expected"))
    rows(df.filter(col("k") === 500))
    assert(idx.lastSelected == 1,
      s"expected 1 of ${idx.totalFiles} files, planned ${idx.lastSelected}")
  }

  test("delete-only MERGE preserves layout; update assigning the cluster key does not skip the re-sort") {
    // Force the copy-on-write branch regardless of suite order: other
    // suites (TableDdlSpec, DeletionVectorSpec) drop dvMinTouchedBytes to 0
    // process-wide, which would route this point UPDATE through the DV
    // branch — that path legitimately APPENDS a post-image file (11 files)
    // and is pinned elsewhere; this spec pins the rewrite fast path.
    val oldFraction = SnapshotTable.dvMaxFraction
    SnapshotTable.dvMaxFraction = 0.0
    try {
    val root = clusteredTable()
    import spark.implicits._
    // Delete-only merge: arms can only remove rows.
    SnapshotTable.mergeInto(spark, root,
      Seq(430L, 431L).toDF("k"), Seq("k"),
      matched = Seq(DeleteClause(Some(lit(true)))))
    assert(filesOf(root) == 10,
      s"delete-only merge must preserve file granularity, got ${filesOf(root)}")
    // UPDATE assigning a NON-cluster column: layout preserved.
    SnapshotTable.update(spark, root, col("k") === 500,
      Map("s" -> lit("updated")))
    assert(filesOf(root) == 10,
      s"non-key update must preserve file granularity, got ${filesOf(root)}")
    val after = SnapshotTable.read(spark, root)
    assert(rows(after.filter(col("k") === 500)) == Set("[500,updated]"))
    assert(rows(after.filter(col("k").isin(430L, 431L))).isEmpty)
    } finally SnapshotTable.dvMaxFraction = oldFraction
  }
}
