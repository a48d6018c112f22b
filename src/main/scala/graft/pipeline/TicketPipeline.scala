package graft.pipeline

import graft.ops.{SnapshotTable, Upsert}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end sync pipeline (SURVEY.md §3.1; /root/reference/main.py:391-471)
  * re-expressed Spark-first:
  *
  *   source batch (JSON lines / DataFrame)
  *     → transform (one codegen'd projection, TicketTransform)
  *     → last-write-wins dedup on _id           [window, main.py MERGE pre-req]
  *     → incremental anti-join vs target ids    [fixes the reference's dead
  *        code at main.py:409-417: it computed new-vs-existing then re-fetched
  *        everything anyway]
  *     → MERGE upsert into the target table     [main.py:349-384]
  *
  * No driver-side ID sets anywhere (the reference's client set at main.py:96
  * is O(table) driver memory) — membership is a distributed semi/anti join.
  */
object TicketPipeline {

  /** Parse raw JSON ticket lines against the fixed input schema. */
  def ingestJson(spark: SparkSession, lines: DataFrame): DataFrame =
    lines.select(from_json(col("value"), TicketTransform.ticketInputSchema).as("t"))
      .select("t.*")

  /** Existing-ids query (§3.2, main.py:81-102): stays distributed. */
  def existingIds(target: DataFrame): DataFrame =
    target.filter(col("_id").isNotNull).select("_id").distinct()

  /** Incremental slice: only tickets whose _id is absent from the target —
    * the anti-join the reference computed but never used (main.py:409,417). */
  def newTickets(transformed: DataFrame, target: DataFrame): DataFrame =
    transformed.join(existingIds(target), Seq("_id"), "left_anti")

  /** Sync of one batch into a manifest-committed SnapshotTable at `root`:
    * transform → dedup latest per _id → upsert (source wins on match,
    * main.py:354). The commit is atomic (readers never see a half-written
    * version) and old versions stay readable until vacuum — the
    * transactional MERGE the reference gets from BigQuery (main.py:349-363).
    * A missing table is bootstrapped by the upsert itself (main.py:366-381). */
  def sync(spark: SparkSession, rawTickets: DataFrame, root: String): SyncReport = {
    val transformed = TicketTransform.transform(rawTickets)
    // localCheckpoint: the transform+dedup window runs ONCE; the report
    // counts and the upsert read the materialized batch.
    val deduped = Upsert.latestPerKey(transformed, Seq("_id"), "updatedTimestamp")
      .localCheckpoint()
    val (nTotal, nUpdated) = SnapshotTable.currentVersion(spark, root) match {
      case None => (deduped.count(), 0L)
      case Some(v) => reportCounts(deduped, SnapshotTable.read(spark, root, Some(v)))
    }
    SnapshotTable.upsert(spark, root, deduped, Seq("_id"))
    SyncReport(total = nTotal, inserted = nTotal - nUpdated, updated = nUpdated)
  }

  /** (total, updated) in ONE job over the checkpointed batch: left join to
    * the target's distinct ids, count + flag-sum in a single aggregation —
    * replaces the r3 double count()+semi-join triple evaluation. */
  private def reportCounts(deduped: DataFrame, target: DataFrame): (Long, Long) = {
    val ids = target.filter(col("_id").isNotNull).select("_id").distinct()
      .withColumn("m", lit(1L))
    val row = deduped.join(ids, Seq("_id"), "left")
      .agg(count(lit(1)).as("t"), coalesce(sum("m"), lit(0L)).as("u"))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  /** Detail-fetch sync (the reference's real flow, main.py:443-453): the id
    * list comes from the paginated listing; each id's DETAIL is fetched
    * through the connector at task parallelism. A failed fetch drops that
    * row — it never poisons the batch — and the drop is tallied in
    * `SyncReport.failed` (main.py:186-194, 449-453). The failure count is
    * exact (ids-in minus rows-fetched over the once-materialized fetch
    * result), not an at-least-once accumulator. */
  def syncWithDetails(spark: SparkSession, ids: org.apache.spark.sql.Dataset[String],
                      fetch: String => Option[String], root: String): SyncReport = {
    import graft.sources.PointLookup
    import spark.implicits._
    val nIds = ids.count()
    // localCheckpoint: the fetch runs ONCE; downstream counts and the upsert
    // read the materialized batch instead of re-hitting the connector.
    val lines = PointLookup.fetchAll(ids, fetch).toDF("value").localCheckpoint()
    val base = sync(spark, ingestJson(spark, lines), root)
    base.copy(failed = nIds - lines.count())
  }

  /** Sync-report counters (main.py:323-329,502-507). `failed` = detail
    * fetches that errored and were dropped (main.py:449-453). */
  case class SyncReport(total: Long, inserted: Long, updated: Long,
                        failed: Long = 0L)
}
