package graft.streaming

import graft.SparkSpec
import graft.ext.Ingest
import graft.ops.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** VERDICT r6 #2: the streamed near-dup ingest must (a) equal its
  * oracle-paired batch twin [[Ingest.nearDupIngestTwoBatch]] micro-batch
  * for micro-batch, (b) drop a near-dup that arrives in a LATER batch than
  * its original (the index advances between batches), and (c) stay
  * exactly-once when a batch is replayed. */
class IngestStreamSpec extends SparkSpec {
  import spark.implicits._

  // ≥10 distinct tokens per doc so every planted doc clears the curation
  // gates (minToks=10, TTR>0.3); per-doc private vocabularies so only the
  // PLANTED overlaps can generate candidates.
  private def mkText(tag: String, n: Int = 12): String =
    (1 to n).map(i => s"${tag}w$i").mkString(" ")

  private val corpusDocs = (1L to 5L).map(i => (i, mkText(s"c$i"), "corpus"))
  private val xText = mkText("x", 20)
  private val b1Docs = Seq(
    (101L, xText, "b1_new"),                 // genuinely new → ingested in batch 1
    (102L, mkText("c2"), "b1_exact"))        // byte-identical to corpus doc 2 → dropped
  private val b2Docs = Seq(
    (201L, xText + " extra", "b2_near"),     // near-dup of batch-1's X → must be
                                             // dropped ONLY if the index advanced
    (202L, mkText("y", 15), "b2_new"))       // fresh → ingested in batch 2

  private def df(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "text", "source")

  test("streamed near-dup ingest == batch twin, cross-batch near-dup dropped, replay exactly-once") {
    val base = tmpDir()
    val corpusRoot = s"$base/corpus"
    val sigRoot = s"$base/sig"
    val shardDir = s"$base/shard"
    val ckpt = s"$base/ckpt"
    val appId = "ingest-stream-spec"

    // Bootstrap: exactly the batch-0 commits the batch cycle would run.
    SnapshotTable.appendOnce(spark, corpusRoot, df(corpusDocs), appId, 0L)
    SnapshotTable.appendOnce(spark, sigRoot,
      Ingest.indexRows(df(corpusDocs)), appId + "-sig", 0L)

    // Each shard lands as ONE flat parquet file in the watched dir (the
    // file source treats every new file as stream input).
    def writeShard(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = new java.io.File(tmpDir(), "w")
      df(rows).coalesce(1).write.parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$shardDir/documents.parquet")
      dst.mkdirs()
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(dst, s"$name.parquet").toPath)
    }

    def runStream(checkpoint: String = ckpt): Unit = {
      val src = spark.readStream
        .schema("doc_id LONG, text STRING, source STRING")
        .parquet(s"$shardDir/documents.parq*")
      val q = Streams.nearDupIngestSink(src, corpusRoot, sigRoot, appId, checkpoint)
        .start()
      q.awaitTermination()
    }

    val vBoot = SnapshotTable.currentVersion(spark, corpusRoot).get

    // Micro-batch 1: only b1 exists → stream lands it as ledger batch 1.
    writeShard("b1", b1Docs)
    runStream()
    val vB1 = SnapshotTable.currentVersion(spark, corpusRoot).get
    val afterB1 = SnapshotTable.read(spark, corpusRoot)
      .select("doc_id").as[Long].collect().toSet
    assert(afterB1 == (1L to 5L).toSet + 101L,
      s"batch 1 must ingest only the new doc: $afterB1")

    // Micro-batch 2: b2 arrives; a NEW AvailableNow run on the same
    // checkpoint processes only the new file (ledger batch 2). The 201
    // near-dup of batch-1's X must be dropped — provable only if the probe
    // reads the ADVANCED index.
    writeShard("b2", b2Docs)
    runStream()
    val vB2 = SnapshotTable.currentVersion(spark, corpusRoot).get
    val afterB2 = SnapshotTable.read(spark, corpusRoot)
      .select("doc_id").as[Long].collect().toSet
    assert(afterB2 == (1L to 5L).toSet + 101L + 202L,
      s"batch 2 must drop the cross-batch near-dup and ingest the fresh doc: $afterB2")

    // Streaming ≡ batch twin: same (doc_id → ingest_batch) inventory. The
    // streamed batches come from the change feed (ledger batch N =
    // SnapshotTable version N here, since every append committed).
    val twin = Ingest.nearDupIngestTwoBatch(df(corpusDocs), df(b1Docs), df(b2Docs))
      .select("doc_id", "ingest_batch").as[(Long, Long)].collect().toMap
    val streamedBatches =
      Seq((vBoot, vB1, 1L), (vB1, vB2, 2L)).flatMap { case (lo, hi, b) =>
        val Some((adds, _)) = SnapshotTable.changesDelta(spark, corpusRoot, lo, Some(hi))
        adds.select("doc_id").as[Long].collect().map(_ -> b)
      }.toMap ++ corpusDocs.map(_._1 -> 0L).toMap
    assert(streamedBatches == twin,
      s"streamed inventory $streamedBatches != batch twin $twin")

    // Replay: a fresh checkpoint re-reads EVERY file as one micro-batch
    // (ledger batch 1 — already committed), so appendOnce must skip it and
    // the table must not change. This is the crash-recovery window the
    // exactly-once stamp closes.
    val sizeBefore = SnapshotTable.read(spark, corpusRoot).count()
    val q2 = Streams.nearDupIngestSink(
      spark.readStream.schema("doc_id LONG, text STRING, source STRING")
        .parquet(s"$shardDir/documents.parq*/*"),
      corpusRoot, sigRoot, appId, s"$base/ckpt2").start()
    q2.awaitTermination()
    assert(SnapshotTable.read(spark, corpusRoot).count() == sizeBefore,
      "replayed batch must be skipped by the exactly-once ledger")
  }

  test("st_ingest_neardup twin: fixture run is deterministic and batch-monotone") {
    val out = graft.SparkEntry.queries("st_ingest_neardup")(spark, sf)
      .select("doc_id", "ingest_batch").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    // Every corpus doc (doc_id % 3 == 0) is batch 0; ingested docs carry
    // their arrival batch.
    out.foreach { case (id, b) =>
      if (id % 3 == 0) assert(b == 0L) else assert(b == (id % 3))
    }
  }
}
