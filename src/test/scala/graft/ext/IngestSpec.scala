package graft.ext

import graft.SparkSpec
import graft.ops.SnapshotTable
import org.apache.spark.sql.functions._

/** End-to-end contract of the continuous-ingest pipeline: the dedup probe
  * drops mirrored shard docs, the quality gates drop junk, survivors land
  * exactly once, and the WHOLE cycle is idempotent across reruns (the
  * production crash-recovery property). */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val words = (0 until 60).map(i => s"w$i")

  // Mirror of Ingest.ingestRoot's (dir, thresholds)-keyed tag (defaults).
  private def rootFor(dir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      "graft-ingest-" + s"$dir-10-0.3".replaceAll("[^a-zA-Z0-9]", "_"))
      .getAbsolutePath

  private def writeDocs(dir: String): Unit = {
    val good = (0 until 40).map(i => s"fresh$i").mkString(" ")
    Seq(
      (2L, words.mkString(" "), "en", "s1"),          // corpus
      (4L, words.reverse.mkString(" "), "en", "s1"),  // corpus
      (1L, words.mkString(" "), "en", "s2"),          // shard: mirrors doc 2 -> deduped
      (3L, good, "en", "s2"),                         // shard: clean -> ingested
      (5L, "spam spam spam spam spam spam spam spam spam spam", "en", "s2"), // low TTR -> dropped
      (7L, "too short", "en", "s2"))                  // under token floor -> dropped
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
  }

  test("ingest cycle: dedup + curation gates decide the shard, append is exactly-once") {
    val dir = tmpDir()
    writeDocs(dir)
    val out = Ingest.incrementalCuration(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("ingested")).toMap
    // corpus docs present and not flagged; only the clean shard doc ingested
    assert(out == Map(2L -> false, 4L -> false, 3L -> true), s"got $out")

    // version history: bootstrap (0) + one ingest append (1), nothing more —
    // the in-query replay of batch 1 must have been swallowed by the stamp
    val root = rootFor(dir)
    assert(SnapshotTable.currentVersion(spark, root).contains(1L))

    // a FULL rerun of the cycle (operator retry, next scheduled run finding
    // no new data) changes nothing: same rows, same version
    val again = Ingest.incrementalCuration(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("ingested")).toMap
    assert(again == out, "rerun changed the table")
    assert(SnapshotTable.currentVersion(spark, root).contains(1L),
      "rerun committed a new version")
  }

  test("near-dup-aware cycle: planted one-char recrawl is excluded, exact cycle misses it") {
    val dir = tmpDir()
    val recrawl = (words.updated(7, "CHANGED") ++ Seq("padding")).mkString(" ")
    val good = (0 until 40).map(i => s"fresh$i").mkString(" ")
    Seq(
      (2L, words.mkString(" "), "en", "s1"),          // corpus
      (4L, words.reverse.mkString(" "), "en", "s1"),  // corpus
      (1L, words.mkString(" "), "en", "s2"),          // shard: exact mirror -> both cycles drop
      (3L, good, "en", "s2"),                         // shard: clean -> ingested by both
      (5L, recrawl, "en", "s2"))                      // shard: near-mirror of doc 2 (j >> 0.5)
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")

    def flags(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("ingested")).toMap
    // The exact-only cycle lets the recrawl through (the gap this closes)...
    val exact = flags(Ingest.incrementalCuration(spark, dir))
    assert(exact(5L), "exact-only cycle should MISS the near-dup (sanity)")
    // ...the near-aware cycle drops it, keeps the clean doc, and is
    // idempotent across a full rerun.
    val near = flags(Ingest.incrementalCurationNear(spark, dir))
    assert(near == Map(2L -> false, 4L -> false, 3L -> true), s"got $near")
    assert(flags(Ingest.incrementalCurationNear(spark, dir)) == near,
      "rerun changed the near-aware table")
  }

  test("change feed drives the ingested flag: delta rows only, file-granular") {
    val dir = tmpDir()
    writeDocs(dir)
    Ingest.incrementalCuration(spark, dir).collect()
    val root = rootFor(dir)
    val Some((delta, _)) = SnapshotTable.changesDelta(spark, root, 0L)
    assert(delta.select("doc_id").as[Long].collect().toSet == Set(3L),
      "change feed should carry exactly the appended shard rows")
  }
}
