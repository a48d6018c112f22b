package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming tier: AvailableNow over the events fixture must agree
  * with the batch formulation, and the foreachBatch upsert sink must land a
  * key-unique target (the reference's idempotent MERGE, main.py:349-358). */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("availableNow tumbling windows == batch tumbling windows") {
    val stream = Streams.eventsStream(spark, sf)
    val q = Streams.tumblingCounts(stream).writeStream
      .format("memory").queryName("tumbling_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("tumbling_out")
      .orderBy("window_start", "event_type")
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSeq
    val batch = graft.SparkEntry.queries("st_tumbling_window")(spark, sf)
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming windowed top-k: ranking finalized stream windows == batch twin") {
    import org.apache.spark.sql.functions._
    val q = Streams.tumblingCounts(Streams.eventsStream(spark, sf)).writeStream
      .format("memory").queryName("wtopk_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // Rank the finalized windows exactly as the foreachBatch leaderboard
    // would: top-2 per window, count-desc / type-asc.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(desc("n"), asc("event_type"))
    val streamed = spark.table("wtopk_out")
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 2)
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val batch = graft.SparkEntry.queries("st_window_topk")(spark, sf)
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("session windows produce per-user sessions") {
    val q = Streams.sessionCounts(Streams.eventsStream(spark, sf)).writeStream
      .format("memory").queryName("sessions_out").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n = spark.table("sessions_out").count()
    assert(n > 0)
  }

  test("streaming dedup drops duplicate event ids") {
    val q = Streams.dedupedStream(Streams.eventsStream(spark, sf)).writeStream
      .format("memory").queryName("dedup_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("dedup_out")
    assert(out.count() == out.select("event_id").distinct().count())
  }

  test("streaming dedup over PLANTED duplicates equals batch distinct") {
    // two byte-identical copies of the fixture in one stream dir: the
    // watermarked dropDuplicates must collapse them to one row per event_id
    val dir = tmpDir()
    val e = graft.Tables(spark, sf, "events")
    // copy the RAW fixture file twice (eventsStream reads the nanos schema)
    val src = new java.io.File(s"$sf/events.parquet").toPath
    val in = new java.io.File(dir, "in"); in.mkdirs()
    Seq("events.parq-a.parquet", "events.parq-b.parquet").foreach(n =>
      java.nio.file.Files.copy(src, new java.io.File(in, n).toPath))
    val q = Streams.dedupedStream(Streams.eventsStream(spark, s"$dir/in"))
      .writeStream.format("memory").queryName("dedup_planted_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("dedup_planted_out")
    assert(out.count() == e.count(), "duplicates must collapse to fixture cardinality")
    assert(out.count() == out.select("event_id").distinct().count())
  }

  test("stream-static anti join passes only content absent from the corpus index") {
    import org.apache.spark.sql.functions.sha2
    val all = graft.Tables(spark, sf, "documents")
    val idx = all.filter($"doc_id" % 2 === 0)
      .select(sha2($"text", 256).as("content_hash")).distinct()
    val q = Streams.newDocsStream(Streams.docsStream(spark, sf), idx)
      .writeStream.format("memory").queryName("static_anti_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("static_anti_out")
      .select("doc_id").as[Long].collect().toSet
    val batch = all.withColumn("content_hash", sha2($"text", 256))
      .join(idx, Seq("content_hash"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("flatMapGroupsWithState: last-write-wins state equals batch max(ts)") {
    val q = Streams.latestPerUser(Streams.eventsStream(spark, sf)).writeStream
      .format("memory").queryName("latest_out").outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // latest state row per user (the memory sink appends one row per update)
    import org.apache.spark.sql.functions.{count, lit, max}
    val streamed = spark.table("latest_out")
      .groupBy("user_id")
      .agg(max("last_ts").as("last_ts"), max("n_events").as("n_events"))
      .as[(Long, java.sql.Timestamp, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val batch = graft.Tables(spark, sf, "events")
      .groupBy("user_id")
      .agg(max("ts").as("last_ts"), count(lit(1)).as("n_events"))
      .as[(Long, java.sql.Timestamp, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("foreachBatch upsert sink lands a key-unique merged target") {
    val dir = tmpDir()
    val q = Streams.upsertSink(Streams.eventsStream(spark, sf),
      s"$dir/target", s"$dir/ckpt").start()
    q.awaitTermination()
    val target = graft.ops.SnapshotTable.read(spark, s"$dir/target")
    val n = target.count()
    assert(n > 0)
    assert(n == target.select("event_id").distinct().count())
    // re-running the stream from a fresh checkpoint is idempotent (MERGE)
    val q2 = Streams.upsertSink(Streams.eventsStream(spark, sf),
      s"$dir/target", s"$dir/ckpt2").start()
    q2.awaitTermination()
    assert(graft.ops.SnapshotTable.read(spark, s"$dir/target").count() == n)
  }

  test("appendOnce sink is exactly-once across a checkpoint-lost rerun") {
    val dir = tmpDir()
    val root = s"$dir/captured"
    def capture(ckpt: String) = Streams.eventsStream(spark, sf).writeStream
      .format("graft").option("root", root).option("txnAppId", "capture-app")
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    val q = capture(s"$dir/ckpt")
    q.awaitTermination()
    val n = graft.ops.SnapshotTable.read(spark, root).count()
    val expected = graft.Tables(spark, sf, "events").count()
    assert(n == expected, s"captured $n of $expected events")
    // Lose the checkpoint (operator error / relocation): the rerun replays
    // every batch from 0 — the txn stamps must swallow ALL of them.
    val q2 = capture(s"$dir/ckpt-fresh")
    q2.awaitTermination()
    assert(graft.ops.SnapshotTable.read(spark, root).count() == n)
  }

  test("stream-stream interval join equals the batch formulation") {
    val q = Streams.clickPurchaseJoin(Streams.eventsStream(spark, sf)).writeStream
      .format("memory").queryName("ssjoin_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ssjoin_out")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet

    val e = graft.Tables(spark, sf, "events")
    import org.apache.spark.sql.functions._
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
    val batch = clicks.join(purchases,
        expr("c_uid = p_uid AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"))
      .select(col("c_uid"), col("c_ts"), col("p_ts"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "fixture should contain click->purchase pairs within 1h")
  }

  test("stream-stream LEFT OUTER join: matched rows exact, finalized nulls emitted") {
    import org.apache.spark.sql.functions._
    // Split the raw fixture into two time-ordered files so the watermark
    // advances between micro-batches — the condition for outer-join state
    // to finalize and emit its null-padded rows.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    // Median split over a numeric image of ts — the fixture has shipped both
    // as raw INT64 nanos and as native TIMESTAMP(MICROS) (see Tables.scala).
    // (tsNum, unitsPerMs): raw nanos → 1e6 units/ms, micros image → 1e3.
    val (tsNum, unitsPerMs) = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => (col("ts"), 1000000L)
      case _ => (unix_micros(col("ts").cast("timestamp")), 1000L)
    }
    val midNanos = raw.agg(approx_percentile(tsNum, lit(0.5), lit(10000)))
      .as[Long].head()
    val dir = tmpDir()
    raw.filter(tsNum <= midNanos).coalesce(1).write.mode("append").parquet(dir)
    // FileStreamSource orders files by modification time; force the first
    // half strictly earlier so the two sequential writes can never land in
    // the same mtime tick and process out of order (watermark would jump
    // past the first half's clicks).
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => f.setLastModified(f.lastModified() - 60000L))
    raw.filter(tsNum > midNanos).coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.clickPurchaseLeftJoin(
        Streams.eventsStreamFrom(spark, dir, maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("ssloj_out").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("ssloj_out")
      .select("c_eid", "c_ts", "p_ts")
      .as[(Long, java.sql.Timestamp, Option[java.sql.Timestamp])].collect()
    val batch = graft.SparkEntry.queries("st_left_outer_join")(spark, sf)
      .select("c_eid", "c_ts", "p_ts")
      .as[(Long, java.sql.Timestamp, Option[java.sql.Timestamp])].collect()

    // Matched (inner) rows emit immediately and must agree exactly.
    val sInner = streamed.filter(_._3.isDefined).toSet
    val bInner = batch.filter(_._3.isDefined).toSet
    assert(sInner == bInner)
    assert(sInner.nonEmpty)

    // Null-padded rows: never spurious…
    val sNull = streamed.filter(_._3.isEmpty).map(_._1).toSet
    val bNullRows = batch.filter(_._3.isEmpty)
    assert(sNull.subsetOf(bNullRows.map(_._1).toSet))
    // …and complete within the watermark-finalized region: a click from the
    // first file with no purchase, older than (file-1 max ts − delay −
    // join window), MUST have its null row by stream end.
    // watermark after file 1 = maxTs(file1) − 1h delay; a click finalizes
    // strictly when c_ts + 1h < watermark ⇒ c_ts < maxTs(file1) − 2h
    // (minus a second of slack for internal ms truncation).
    val w1MaxMs = midNanos / unitsPerMs
    val horizonMs = w1MaxMs - 2L * 3600 * 1000 - 1000L
    val finalized = bNullRows.filter(_._2.getTime < horizonMs).map(_._1).toSet
    assert(finalized.nonEmpty, "fixture should contain finalized unmatched clicks")
    assert(finalized.subsetOf(sNull),
      s"${(finalized -- sNull).size} finalized null rows were never emitted")
  }

  test("rate (kafka-shaped) source flows through the same windowed pipeline") {
    val q = Streams.tumblingCounts(Streams.rateEventsStream(spark, rowsPerSecond = 2000))
      .writeStream.format("memory").queryName("rate_out").outputMode("complete")
      .start()
    try {
      // wait for at least one micro-batch with data to commit
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("rate_out").isEmpty && System.nanoTime() < deadline) {
        q.processAllAvailable()
      }
      val out = spark.table("rate_out")
      assert(!out.isEmpty, "rate source produced no windows within 30s")
      assert(out.columns.toSeq ==
        Seq("window_start", "event_type", "n", "total"))
    } finally q.stop()
  }

  test("stream starts on a not-yet-populated source dir and picks up late files") {
    // ADVICE r5: the batch-read schema probe used to throw ('Unable to infer
    // schema') on an empty glob, so a stream could not START before its
    // source directory had data. The probe now falls back to the raw-nanos
    // LongType schema — the stream must start empty, then consume files
    // that arrive later (written in the raw fixture layout).
    val dir = tmpDir()
    val stream = Streams.eventsStreamFrom(spark, dir, maxFilesPerTrigger = 0)
    val q = stream.writeStream.format("memory").queryName("late_files_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("late_files_out").count() == 0, "empty dir should yield 0 rows")
    // Files arrive IN THE RAW-NANOS LAYOUT — the layout the fallback schema
    // assumes (an empty dir cannot be probed, so the stream contract is the
    // raw layout until files prove otherwise). Values must round-trip.
    import org.apache.spark.sql.functions.{col, unix_micros}
    val src = graft.Tables(spark, sf, "events")
      .select(col("event_id"), (unix_micros(col("ts")) * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    src.write.mode("append").parquet(dir)
    val q2 = stream.writeStream.format("memory").queryName("late_files_out2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val got = spark.table("late_files_out2")
    assert(got.count() == src.count(), "stream must consume files that arrived after start")
    assert(got.schema("ts").dataType.typeName == "timestamp",
      "raw nanos must convert to TimestampType through the fallback schema")
    // Timestamps decode to the same instants the typed fixture carries.
    val wantTs = graft.Tables(spark, sf, "events")
      .select("event_id", "ts").as[(Long, java.sql.Timestamp)].collect().toMap
    got.select("event_id", "ts").as[(Long, java.sql.Timestamp)].collect()
      .take(100).foreach { case (id, ts) => assert(ts == wantTs(id), s"event $id") }
  }

  test("streaming dedup runs on the RocksDB state store (large-state path)") {
    val prev = spark.conf.getOption(Streams.StateStoreConfKey)
    spark.conf.set(Streams.StateStoreConfKey, Streams.RocksDBStateStoreProvider)
    try {
      val q = Streams.dedupedStream(Streams.eventsStream(spark, sf)).writeStream
        .format("memory").queryName("dedup_rocks_out").outputMode("append")
        .option("checkpointLocation", tmpDir() + "/ckpt_rocks")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = spark.table("dedup_rocks_out")
      assert(out.count() > 0)
      assert(out.count() == out.select("event_id").distinct().count())
    } finally {
      prev match {
        case Some(v) => spark.conf.set(Streams.StateStoreConfKey, v)
        case None => spark.conf.unset(Streams.StateStoreConfKey)
      }
    }
  }

  test("incremental Count-Min maintenance == one-shot batch sketch, cell for cell") {
    import org.apache.spark.sql.functions._
    import graft.ops.SnapshotTable
    import graft.ext.Sketches
    // Two source files → two micro-batches: the stream must MERGE per-batch
    // cells into running state, not rebuild from scratch.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val dir = tmpDir()
    raw.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    raw.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(dir)
    val root = tmpDir() + "/cm_state"
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Streams.eventsStreamFrom(spark, dir, maxFilesPerTrigger = 1)
      .select(col("user_id").cast("string").as("item"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.incrementAndGet()
        val s = batch.sparkSession
        val delta = Sketches.cmCells(batch)
        val merged = SnapshotTable.currentVersion(s, root) match {
          case None => delta
          case Some(_) => SnapshotTable.read(s, root).unionByName(delta)
            .groupBy("row", "pos").agg(sum("n").as("n"))
        }
        SnapshotTable.commit(s, root, merged)
        ()
      }
      .option("checkpointLocation", tmpDir() + "/ckpt_cm")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches.get() >= 2, s"expected ≥2 micro-batches, got ${batches.get()}")

    val streamedCells = SnapshotTable.read(spark, root)
      .select(col("row"), col("pos"), col("n").cast("long"))
      .as[(Int, Long, Long)].collect().toSet
    val batchCells = Sketches.cmCells(
        graft.Tables(spark, sf, "events").select(col("user_id").cast("string").as("item")))
      .as[(Int, Long, Long)].collect().toSet
    assert(streamedCells == batchCells)
    assert(streamedCells.nonEmpty)
  }

  test("incremental HLL maintenance == one-shot batch registers, max-merged") {
    import org.apache.spark.sql.functions._
    import graft.ops.SnapshotTable
    import graft.ext.Sketches
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val dir = tmpDir()
    raw.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    raw.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(dir)
    val root = tmpDir() + "/hll_state"
    val q = Streams.eventsStreamFrom(spark, dir, maxFilesPerTrigger = 1)
      .select(col("user_id").cast("string").as("item"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = batch.sparkSession
        val delta = Sketches.hllRegisters(batch)
        val merged = SnapshotTable.currentVersion(s, root) match {
          case None => delta
          case Some(_) => SnapshotTable.read(s, root).unionByName(delta)
            .groupBy("j").agg(max("m").as("m")) // register merge = cell-wise max
        }
        SnapshotTable.commit(s, root, merged)
        ()
      }
      .option("checkpointLocation", tmpDir() + "/ckpt_hll")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = SnapshotTable.read(spark, root)
      .as[(Long, Long)].collect().toMap
    val batch = Sketches.hllRegisters(
        graft.Tables(spark, sf, "events").select(col("user_id").cast("string").as("item")))
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
