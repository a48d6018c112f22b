package graft.streaming

import graft.ops.{Q, Upsert}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** Structured-Streaming tier (SURVEY.md §2.9). The reference is a scheduled,
  * re-runnable batch with an idempotent MERGE sink — exactly the
  * `Trigger.AvailableNow` + `foreachBatch(upsert)` shape. Event-time windows,
  * watermarks and stateful dedup come from the engine, not the reference.
  */
object Streams {

  /** events schema parameterized on the fixture's physical ts type: raw-nano
    * INT64 in some fixture generations, native TIMESTAMP(MICROS) in others
    * (the batch loader branches the same way — Tables.scala). */
  private def eventsRawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Micro-batch source over the events fixture (file source; at scale this
    * is a Kafka/queue source with identical downstream code).
    * Glob, not bare file: FileStreamSource needs a dir/glob. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    eventsStreamFrom(spark, s"$dir/events.parq*", maxFilesPerTrigger = 0)

  /** Watermarked tumbling-window aggregation (1 h windows, 10 min lateness). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Watermarked sliding-window aggregation (10 min windows, 5 min slide):
    * each event lands in window/slide = 2 overlapping windows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Session windows per user (30 min gap). */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** Stream-stream join: clicks joined to purchases by the same user within
    * 1 hour. Both sides are watermarked so Spark can bound the join state
    * (a click older than watermark + 1 h can never match again and is
    * evicted) — the state-bounded form of the batch interval join
    * (j9/r4 funnel). */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      expr("c_uid = p_uid AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"))
      .select(col("c_uid").as("user_id"), col("c_ts"), col("p_ts"))
  }

  /** Events micro-batch source over an arbitrary glob, optionally with a
    * bounded batch size (maxFilesPerTrigger > 0) — the bounded form lets
    * tests split the fixture across files so the watermark ADVANCES BETWEEN
    * micro-batches (the condition under which outer-join state actually
    * finalizes and null-padded rows emit). */
  def eventsStreamFrom(spark: SparkSession, glob: String,
                       maxFilesPerTrigger: Int): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // FileStreamSource needs an explicit schema; probe the fixture's actual
    // ts type with one batch-read schema inference (footer-only, no data).
    // A not-yet-populated glob can't be inferred — fall back to the raw-
    // nanos LongType schema so the stream can START on an empty source dir
    // and pick up files as they arrive (ADVICE r5; the pre-probe behavior).
    val tsType = scala.util.Try(spark.read.parquet(glob).schema("ts").dataType)
      .getOrElse(LongType)
    val reader = spark.readStream.schema(eventsRawSchema(tsType))
    val bounded = if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString) else reader
    val df = bounded.parquet(glob)
    tsType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** LEFT OUTER stream-stream join: every click emits, null-padded when no
    * purchase follows within the hour. Spark holds the click in state until
    * the watermark proves no match can still arrive (watermark + join
    * bound), THEN emits the null row — so unmatched results trail the data
    * by the state horizon, which is the correct (and only bounded-state)
    * semantics for outer joins over unbounded streams. */
  def clickPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("event_id").as("c_eid"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      expr("c_uid = p_uid AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("c_uid").as("user_id"), col("c_eid"), col("c_ts"), col("p_ts"))
  }

  /** Running last-write-wins state per key — the streaming form of the
    * MERGE's "UPDATE SET all columns" semantics (main.py:354): arbitrary
    * custom state via flatMapGroupsWithState, emitting one updated row per
    * key per micro-batch. */
  case class UserLatest(user_id: Long, last_ts: java.sql.Timestamp, n_events: Long)
  def latestPerUser(events: DataFrame): Dataset[UserLatest] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[UserLatest]) =>
          val prev = state.getOption.getOrElse(UserLatest(uid, new java.sql.Timestamp(0), 0L))
          var latest = prev.last_ts
          var n = prev.n_events
          rows.foreach { case (_, ts) =>
            n += 1
            if (ts.after(latest)) latest = ts
          }
          val next = UserLatest(uid, latest, n)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Streaming dedup on event_id within the watermark horizon — the
    * streaming analogue of the MERGE's idempotency on _id. */
  def dedupedStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicates("event_id")

  private val docsRawSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Micro-batch source over a documents shard directory (file source; at
    * scale a queue of crawled shards with identical downstream code). */
  def docsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docsRawSchema)
      .parquet(s"$dir/documents.parq*") // glob: FileStreamSource needs a dir/glob, not a bare file

  /** Stream-static ANTI join — the streaming face of incremental ingest
    * dedup (`x_dedup_incremental`'s exact probe): each micro-batch hashes
    * its docs and probes the STATIC corpus content-hash index; only unseen
    * content flows on. Stream-static joins keep NO state and need no
    * watermark — the static side re-resolves per micro-batch, so the ingest
    * job can swap the index (a SnapshotTable at scale) between batches;
    * Spark broadcasts it when small, else plans a per-batch shuffled join. */
  def newDocsStream(docs: DataFrame, corpusIndex: DataFrame): DataFrame =
    docs.withColumn("content_hash", sha2(col("text"), 256))
      .join(corpusIndex, Seq("content_hash"), "left_anti")

  /** The reference's sink: every micro-batch MERGE-upserted into the
    * SnapshotTable at `tableRoot` as one version (readers never see a
    * half-landed batch; a replay is idempotent on the key, late/duplicate
    * data folded by the upsert). */
  def upsertSink(events: DataFrame, tableRoot: String,
                 checkpoint: String): DataStreamWriter[Row] =
    events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.SnapshotTable.upsert(batch.sparkSession, tableRoot,
          Upsert.latestPerKey(batch, Seq("event_id"), "ts"), Seq("event_id"))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Streamed near-dup-aware ingest (VERDICT r6 #2): the reference's
    * scheduled incremental sync as a Structured Streaming job. Each
    * micro-batch runs the SAME probe as the batch cycle
    * ([[graft.ext.Ingest.probeAndCurate]]: exact sha256 anti-join, banded
    * MinHash probe + jaccard verify, curation gates) against the PERSISTED
    * corpus + signature SnapshotTables — read FRESH per batch, so the
    * index the probe sees always includes every previously ingested batch
    * (a batch-2 doc near-duplicating a batch-1 doc is dropped even though
    * neither is in the bootstrap corpus) — then lands survivors through
    * the exactly-once append: a replayed batch after a
    * sink-write/checkpoint-advance crash is detected by its (appId,
    * batchId) ledger stamp and skipped, never double-appended, with the
    * signature index advancing in lockstep. Ledger batch = streaming
    * batchId + 1 (0 is the bootstrap commit).
    * [[graft.ext.Ingest.nearDupIngestTwoBatch]] is the oracle-paired batch
    * twin; IngestStreamSpec pins streaming ≡ batch. */
  def nearDupIngestSink(docs: DataFrame, corpusRoot: String, sigRoot: String,
                        appId: String, checkpoint: String,
                        minToks: Int = 10, minTtr: Double = 0.3,
                        bands: Int = 16, rowsPerBand: Int = 4): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val curated = graft.ext.Ingest.probeAndCurate(
            batch.select("doc_id", "text", "source"),
            graft.ops.SnapshotTable.read(s, corpusRoot),
            graft.ops.SnapshotTable.read(s, sigRoot),
            minToks, minTtr, bands, rowsPerBand)
          .localCheckpoint() // one computation feeds both lockstep appends
        graft.ops.SnapshotTable.appendOnce(s, corpusRoot, curated,
          appId, batchId + 1)
        graft.ops.SnapshotTable.appendOnce(s, sigRoot,
          graft.ext.Ingest.indexRows(curated, bands * rowsPerBand),
          appId + "-sig", batchId + 1)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Streamed BM25 index maintenance (VERDICT r8 #1): each micro-batch of
    * crawled documents is tokenized ONCE and appended to the incremental
    * postings/doclens tables exactly-once
    * ([[graft.ext.Retrieval.bm25PostingsAppend]] — (appId, batchId)-stamped
    * per table, so a replay after a sink-write/checkpoint-advance crash is
    * swallowed), then the derived impacts + termstats artifacts are
    * re-committed from the CURRENT postings
    * ([[graft.ext.Retrieval.bm25ImpactsRefresh]] — a postings-sized plan
    * that never re-reads text; probes on the previous snapshot version stay
    * consistent through the atomic manifest swap). The refresh is
    * deterministic in the postings state, so re-running it after a swallowed
    * replay re-commits the SAME index — idempotence end to end.
    * `onBatch` (optional) observes the index root after each refresh — the
    * probe-after-every-drop hook RetrievalStreamSpec uses to pin
    * streaming ≡ [[graft.ext.Retrieval.bm25IngestTwoDropTwin]] per stage.
    * Ledger batchId = streaming batchId (no bootstrap commit here — the
    * index is BORN from the stream). */
  def bm25IndexIngestSink(docs: DataFrame, indexRoot: String,
                          checkpoint: String,
                          onBatch: (SparkSession, String, Long) => Unit =
                            (_, _, _) => ()): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        graft.ext.Retrieval.bm25PostingsAppend(
          s, indexRoot, batch.select("doc_id", "text"), batchId)
        graft.ext.Retrieval.bm25ImpactsRefresh(s, indexRoot)
        onBatch(s, indexRoot, batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Streamed positional-index maintenance: each micro-batch of crawled
    * documents appends its positional postings exactly-once
    * ([[graft.ext.Phrase.positionsAppend]]). Positions are per-document
    * facts (no corpus-wide statistics), so unlike the BM25 sink there is NO
    * refresh step — the sink is one stamped append per batch, and a phrase
    * probe over the streamed index is row-identical to a cold build at any
    * point. Periodic [[graft.ops.SnapshotTable.recluster]] restores
    * term-range file skipping off the ingest path. */
  def phraseIndexIngestSink(docs: DataFrame, indexRoot: String,
                            checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.Phrase.positionsAppend(
          batch.sparkSession, indexRoot, batch.select("doc_id", "text"), batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Streamed materialized-view maintenance: each micro-batch of orders
    * rows lands in the BASE SnapshotTable exactly-once (appendOnce) and the
    * standing VIEW SnapshotTable is refreshed from exactly that commit's
    * change feed — the dashboard table stays current over an unbounded
    * ingest stream while the refresh never re-reads the base table.
    *
    * The two tables advance in LOCKSTEP under the same (appId, batchId)
    * ledger: the base append is stamped; the view commit goes through
    * [[graft.ops.SnapshotTable.commitOnce]] with its own stamp, so every
    * crash window is covered —
    *   - replayed batch after the checkpoint lagged both commits: both
    *     stamps swallow it;
    *   - crash BETWEEN base append and view refresh, then retry: the base
    *     append is swallowed and returns the STAMPED version, the view
    *     refresh (still unstamped) re-derives its delta from that exact
    *     version pair and applies it once.
    * View readers always see an atomic snapshot (manifest swap); the view's
    * version history is itself time-travelable. */
  def mvRefreshSink(orders: DataFrame, baseRoot: String, viewRoot: String,
                    appId: String, checkpoint: String): DataStreamWriter[Row] =
    orders.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        import graft.ops.SnapshotTable
        import graft.ext.MaterializedView
        val v = SnapshotTable.appendOnce(s, baseRoot, batch, appId, batchId)
        if (!SnapshotTable.lastTxn(s, viewRoot, appId).exists(_ >= batchId)) {
          val refreshed = SnapshotTable.currentVersion(s, viewRoot) match {
            case None => // view is born from this batch's snapshot
              MaterializedView.ordersSpec.partial(SnapshotTable.read(s, baseRoot, Some(v)))
            case Some(_) =>
              // The fold materializes its result: the plan reads no view
              // file the commit supersedes.
              val (adds, removes) = SnapshotTable.changesDelta(s, baseRoot, v - 1, Some(v))
                .getOrElse(throw SnapshotTable.noCdcAt(baseRoot, v))
              MaterializedView.ordersSpec.combineDelta(s, baseRoot,
                SnapshotTable.read(s, viewRoot), adds, removes)
          }
          SnapshotTable.commitOnce(s, viewRoot, refreshed, appId, batchId)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Standing MV maintenance as a CHANGE-FEED SUBSCRIBER (round 10 — the
    * capstone wiring of `MvSpec` onto the `graft-cdf` source): a
    * `readStream` over the BASE table's change feed drives
    * retraction-capable refreshes of a VIEW SnapshotTable, exactly once.
    * Unlike [[mvRefreshSink]] (where the producer's own foreachBatch
    * hand-wires the view), the view here is a pure SUBSCRIBER — the base
    * table is written by anyone (appends, upserts, DELETEs, MERGE INTO),
    * and this stream keeps the dashboard current from the CDC alone.
    *
    *   - batch = one-or-more table versions' (insert, delete) rows from
    *     the CDF source, folded in one pass by `MvSpec.combineFeed`
    *     (algebraic count/sum/avg retraction; min/max recompute only for
    *     groups that may have lost their extreme);
    *   - the view bootstraps from `spec.partial(base @ startVersion)` on
    *     its first batch, so seed + deltas anchor on one version chain;
    *   - view commits go through [[graft.ops.SnapshotTable.commitOnce]]
    *     under (appId, streaming batchId) — a replay after a
    *     sink-write/checkpoint-advance crash is swallowed, so the view
    *     advances exactly once;
    *   - view readers always see an atomic snapshot (manifest swap).
    *
    * Consistency: every view commit is INTERNALLY consistent — min/max
    * recomputes read the base PINNED to the batch's highest consumed
    * `_commit_version` (ADVICE r10: reading the current version could
    * publish extrema from commits the cnt/sum watermark has not consumed),
    * so counts, sums, and extrema in one view version all describe the
    * same base version. Requires the pinned version's manifest to still be
    * retained — the same vacuum SLA the stream itself already carries. */
  def mvCdcSink(spark: SparkSession, tableRoot: String, viewRoot: String,
                spec: graft.ext.MvSpec, appId: String, checkpoint: String,
                startVersion: Long,
                maxVersionsPerTrigger: Int = 0): DataStreamWriter[Row] = {
    import graft.ops.SnapshotTable
    val reader = spark.readStream.format("graft-cdf")
      .option("root", tableRoot)
      .option("startVersion", startVersion.toString)
    (if (maxVersionsPerTrigger > 0)
      reader.option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
    else reader).load()
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        if (!SnapshotTable.lastTxn(s, viewRoot, appId).exists(_ >= batchId)) {
          val view0 = SnapshotTable.currentVersion(s, viewRoot) match {
            case None => // seed: the view of the anchor version; an anchor
              // BEFORE the table existed (startVersion < 0 — the feed
              // carries the bootstrap itself) seeds empty.
              if (startVersion < 0)
                spec.partial(SnapshotTable.read(s, tableRoot).limit(0))
              else spec.partial(SnapshotTable.read(s, tableRoot, Some(startVersion)))
            case Some(_) => SnapshotTable.read(s, viewRoot)
          }
          // One pass over the batch: the refresh also yields the batch's end
          // version, which pins its min/max recompute.
          val (refreshed, endVersion) = spec.combineFeed(s, tableRoot, view0, batch)
          SnapshotTable.commitOnce(s, viewRoot, refreshed, appId, batchId)
          // Advance this subscriber's vacuum watermark on the BASE table
          // (VERDICT r10 #3): versions at or above the consumed head stay
          // retained until this view has moved past them.
          endVersion.foreach(v =>
            SnapshotTable.registerSubscriber(s, tableRoot, appId, v))
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      // Since the source implements SupportsTriggerAvailableNow (r11),
      // AvailableNow + a version bound compose correctly (bounded batches
      // drain to the prepared target). The bounded form still defaults to
      // a standing trigger because that is its use case — a LIVE subscriber
      // paced by maxVersionsPerTrigger (drain with processAllAvailable in
      // tests); CdfSourceSpec pins the AvailableNow bounded drain.
      .trigger(if (maxVersionsPerTrigger > 0) Trigger.ProcessingTime(0L)
               else Trigger.AvailableNow())
  }

  /** Kafka-shaped continuous source demo: the built-in `rate` source mapped
    * to the (key, value, timestamp) triple a queue consumer yields. The
    * downstream pipeline (watermark → window → agg) is byte-identical to the
    * file-backed path — swapping in a real Kafka source changes ONLY this
    * function (`format("kafka")` + deserialization). */
  def rateEventsStream(spark: SparkSession, rowsPerSecond: Int = 1000): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
      .select(
        col("timestamp").as("ts"),
        (col("value") % 150).as("user_id"),
        element_at(typedLit(Seq("click", "view", "signup", "purchase", "error")),
          (col("value") % 5).cast("int") + 1).as("event_type"),
        (col("value") % 97).cast("double").as("value"))

  /** RocksDB state store provider class — the large-state path: streaming
    * dedup / sessionization state spills to local disk instead of living in
    * executor heap, which is what lets a dedup-on-id stream hold billions of
    * keys per executor at 100 TB ingest. Set on the session BEFORE starting
    * the query:
    * `spark.conf.set(StateStoreConfKey, RocksDBStateStoreProvider)`. */
  val StateStoreConfKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksDBStateStoreProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  // Batch-equivalent window queries for the oracle gate: identical semantics
  // to the streaming aggregations above at AvailableNow completion.
  val qs: Seq[Q] = Seq(

    // Tumbling 1 h event-time windows (batch shape of tumblingCounts).
    Q("st_tumbling_window",
      (s, dir) => graft.Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy("window_start", "event_type"),
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
              FROM events GROUP BY 1, 2
              ORDER BY window_start ASC NULLS FIRST, event_type ASC NULLS FIRST""")),

    // Per-window top-k: the leaderboard every streaming dashboard keeps —
    // tumbling 1 h windows, top-2 event types by count within each closed
    // window (count-desc, type-asc tiebreak). The rank window partitions by
    // window_start (bounded per-partition rows = |event types|), so the
    // plan is shuffle-keyed by window like any streaming state; in the
    // streaming form the same rank runs in foreachBatch over each batch of
    // FINALIZED windows (append mode emits a window exactly once past the
    // watermark, so the rank sees complete counts — StreamsSpec pins
    // streaming == this twin).
    Q("st_window_topk",
      (s, dir) => {
        val counts = graft.Tables(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"), col("event_type"), col("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("window_start").orderBy(desc("n"), asc("event_type"))
        counts.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 2)
          .select(col("window_start"), col("event_type"), col("n"),
            col("rnk").cast("long").as("rnk"))
          .orderBy("window_start", "rnk")
      },
      Some("""WITH c AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                     event_type, count(*) AS n
                   FROM events GROUP BY 1, 2),
              r AS (SELECT window_start, event_type, n,
                      row_number() OVER (PARTITION BY window_start
                        ORDER BY n DESC, event_type ASC) AS rnk
                    FROM c)
              SELECT window_start, event_type, n, CAST(rnk AS BIGINT) AS rnk
              FROM r WHERE rnk <= 2
              ORDER BY window_start ASC NULLS FIRST, rnk ASC NULLS FIRST""")),

    // Sliding 10-min/5-min windows (batch shape of slidingCounts). Spark's
    // window() explodes each event into its 2 covering windows; the oracle
    // spells the same fan-out with unnest of the two epoch-aligned starts
    // (every event is strictly inside both of its covering windows, so no
    // residual containment filter is needed).
    Q("st_sliding_window",
      (s, dir) => graft.Tables(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
        .orderBy("window_start", "event_type"),
      Some("""SELECT s AS window_start, event_type, count(*) AS n
              FROM (SELECT event_type,
                      unnest([time_bucket(INTERVAL '5 minutes', ts),
                              time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS s
                    FROM events)
              GROUP BY s, event_type
              ORDER BY window_start ASC NULLS FIRST, event_type ASC NULLS FIRST""")),

    // Latest-event-per-user — the batch twin of latestPerUser's
    // flatMapGroupsWithState (streaming last-write-wins = the MERGE's
    // UPDATE-all-columns), so the stateful op's semantics are oracle-checked.
    Q("st_latest_per_user",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        graft.Tables(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("ts").as("last_ts"),
            col("event_id").as("last_event_id"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, ts AS last_ts, event_id AS last_event_id
              FROM (SELECT user_id, ts, event_id,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
                    FROM events)
              WHERE rn = 1
              ORDER BY user_id ASC NULLS FIRST""")),

    // Sessionization as gaps-and-islands (30 min gap) — the SQL-expressible
    // twin of session_window, so the oracle can check it.
    Q("st_sessions",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        graft.Tables(s, dir, "events")
          .withColumn("prev_ts", lag("ts", 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"), max("n_events").as("max_session_events"))
          .orderBy("user_id")
      },
      Some("""WITH marked AS (
                SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                       THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST)),
              sessions AS (
                SELECT user_id,
                  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                FROM marked),
              per_session AS (
                SELECT user_id, session_id, count(*) AS n_events
                FROM sessions GROUP BY user_id, session_id)
              SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
              FROM per_session GROUP BY user_id
              ORDER BY user_id ASC NULLS FIRST""")),

    // Watermarked stream dedup (dedupedStream's batch twin): duplicates are
    // PLANTED (every 7th event re-appended, byte-identical rows) so the
    // dedup provably fires; dropDuplicates on the key then collapses the
    // union back to the original cardinality. StreamsSpec runs the same
    // data through the streaming dropDuplicates (heap + RocksDB stores).
    Q("st_stream_dedup",
      (s, dir) => {
        val e = graft.Tables(s, dir, "events")
          .select("event_id", "event_type")
        e.unionByName(e.filter(pmod(col("event_id"), lit(7)) === 0))
          .dropDuplicates("event_id")
          .groupBy("event_type").agg(count(lit(1)).as("n_unique"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n_unique
              FROM (SELECT DISTINCT event_id, event_type
                    FROM (SELECT event_id, event_type FROM events
                          UNION ALL
                          SELECT event_id, event_type FROM events WHERE event_id % 7 = 0))
              GROUP BY event_type ORDER BY event_type ASC NULLS FIRST""")),

    // Stream-static anti join (newDocsStream's batch twin): the corpus
    // content-hash index is built from the even-id docs; everything whose
    // content is absent from it counts as new, tallied per source.
    // StreamsSpec runs the identical probe through readStream +
    // AvailableNow and asserts row-set equality with the batch form.
    Q("st_static_anti_join",
      (s, dir) => {
        val all = graft.Tables(s, dir, "documents")
        val idx = all.filter(col("doc_id") % 2 === 0)
          .select(sha2(col("text"), 256).as("content_hash")).distinct()
        all.withColumn("content_hash", sha2(col("text"), 256))
          .join(idx, Seq("content_hash"), "left_anti")
          .groupBy("source").agg(count(lit(1)).as("n_new"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_new
              FROM documents b
              WHERE NOT EXISTS (SELECT 1 FROM documents c
                                WHERE c.doc_id % 2 = 0
                                  AND sha256(c.text) = sha256(b.text))
              GROUP BY source ORDER BY source ASC NULLS FIRST""")),

    // LEFT OUTER interval join (clickPurchaseLeftJoin's batch twin): clicks
    // with every qualifying purchase, or one null-padded row when none —
    // row-level output (not an aggregate) so the oracle also checks the
    // null-padding semantics; c_eid gives rows a deterministic identity.
    Q("st_left_outer_join",
      (s, dir) => {
        val e = graft.Tables(s, dir, "events")
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id").as("c_uid"), col("event_id").as("c_eid"),
            col("ts").as("c_ts"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
        clicks.join(purchases,
            expr("c_uid = p_uid AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"),
            "left_outer")
          .select(col("c_uid").as("user_id"), col("c_eid"), col("c_ts"), col("p_ts"))
          .orderBy("c_eid", "p_ts")
      },
      Some("""SELECT c.user_id, c.event_id AS c_eid, c.ts AS c_ts, p.ts AS p_ts
              FROM events c LEFT JOIN events p
                ON p.user_id = c.user_id AND p.event_type = 'purchase'
                AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
              WHERE c.event_type = 'click'
              ORDER BY c_eid ASC NULLS FIRST, p_ts ASC NULLS FIRST""")),

    // `writeStream.format("graft")` end-to-end (round 12): the fixture
    // stream drains through the V1 sink provider into a REAL snapshot
    // table — appendOnce stamps per micro-batch — and the aggregate is
    // read back FROM THE TABLE. Oracle = the same aggregate over the raw
    // fixture: any duplicated or dropped batch shifts a count and fails
    // the hash gate. Rerun-stable: table + checkpoint are wiped per run.
    Q("st_graft_sink",
      (s, dir) => {
        val tag = graft.ext.Similarity.corpusVersion(dir, "events")
        val base = s"${sys.props("java.io.tmpdir")}/graft-sink-$tag"
        val p = new org.apache.hadoop.fs.Path(base)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        val q = eventsStream(s, dir)
          .select("event_id", "user_id", "event_type")
          .writeStream.format("graft")
          .option("root", s"$base/t")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        graft.ops.SnapshotTable.read(s, s"$base/t")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
              FROM events GROUP BY event_type
              ORDER BY event_type ASC NULLS FIRST""")),

    // Streaming sketch maintenance (batch twin): Count-Min "top talkers" —
    // the heavy-hitter question every stream monitor asks, answered from
    // CONSTANT state. The sketch cells merge by (row, pos)-wise addition,
    // so the streaming form maintains them incrementally: each micro-batch
    // sketches its own rows (≤1024 cells out) and folds them into the
    // running state table — per-batch cost is batch-sized, state is
    // sketch-sized, forever. StreamsSpec runs that incremental fold over a
    // multi-batch AvailableNow stream and pins final state ≡ this one-shot
    // batch build cell-for-cell (the merge law, exercised end-to-end).
    Q("st_sketch_countmin",
      (s, dir) => {
        val items = graft.Tables(s, dir, "events")
          .select(col("user_id").cast("string").as("item"))
        graft.ext.Sketches.cmTopK(items, graft.ext.Sketches.cmCells(items), 10)
          .select(col("item").as("user_id"), col("n_true"), col("n_est"))
      },
      Some {
        val pos = (r: Int) =>
          s"('0x' || substr(md5(item || ':cm$r'), 1, 15))::BIGINT % 256"
        val buildRows = (0 until 4).map(r =>
          s"SELECT $r AS row, ${pos(r)} AS pos FROM t").mkString(" UNION ALL ")
        val probeRows = (0 until 4).map(r =>
          s"SELECT item, n_true, $r AS row, ${pos(r)} AS pos FROM top")
          .mkString(" UNION ALL ")
        s"""WITH t AS (SELECT user_id::VARCHAR AS item FROM events),
           |cells AS (
           |  SELECT row, pos, count(*) AS n FROM ($buildRows) GROUP BY row, pos),
           |top AS (
           |  SELECT item, count(*) AS n_true FROM t GROUP BY item
           |  ORDER BY n_true DESC, item ASC LIMIT 10),
           |probe AS ($probeRows)
           |SELECT p.item AS user_id, p.n_true, min(c.n) AS n_est
           |FROM probe p JOIN cells c ON p.row = c.row AND p.pos = c.pos
           |GROUP BY p.item, p.n_true
           |ORDER BY n_true DESC NULLS LAST, user_id ASC NULLS FIRST""".stripMargin
      })
  )
}
