package graft.pipeline

import graft.ext.{MvAgg, MvSpec}
import graft.ops.{MergeInto, Q, SnapshotTable}
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The reference pipeline CAPSTONE (VERDICT r10 #6): the full
  * sync-then-query-dashboards loop (reference §3.1, main.py:391-471) wired
  * end to end through the round-9/10 engine machinery as ONE path —
  *
  *   paginated REST source (S2)            main.py:124-177
  *     → 40-column ticket transform (P3)   main.py:270-320
  *     → CREATE-empty bootstrap (S7)       main.py:369-373
  *     → conditional table MERGE INTO (J4) main.py:349-358, plus a
  *       last-write-wins arm (UPDATE only when the source row is NEWER —
  *       the incremental-sync semantics the reference computes but never
  *       uses, main.py:409-417)
  *     → row-level CDC → `graft-cdf` readStream
  *     → [[Streams.mvCdcSink]] standing dashboard view,
  *
  * run twice (two sync cycles: an update wave + a backfill page range +
  * one deliberately STALE page that the conditional arm must refuse). The
  * DuckDB oracle reconstructs the final ticket state arithmetically from
  * the source's deterministic page formula and aggregates the same
  * dashboard — hash-green pins the whole loop, source to dashboard.
  *
  * Scale shape: the MERGE runs its source once, reads the key column
  * only of the files whose manifest stats admit a synced key (the batch's
  * key range, then its key list over bounds and blooms), rewrites only
  * the files holding matched keys, and checks the SQL cardinality rule in
  * the same probe; the dashboard refresh consumes only the commit's CDC.
  * A sync's cost is therefore O(sync batch + the files its keys can
  * reach): on a table clustered by `_id` that is the batch's files, while
  * a table whose files all span the key range (as an unclustered append
  * history does) still has its key column probed in full. `ScaleRehearsal ticketsync`
  * measures rows/s and the refresh-gap flatness at a 21× corpus. */
object TicketSync {

  /** Dashboard view: tickets by status — count, earliest creation,
    * latest update (string min/max over the sortable readable format). */
  val dashboardSpec: MvSpec = MvSpec(
    Seq("status"),
    Seq(MvAgg.Count("cnt"),
      MvAgg.Min("createdOn", "min_created"),
      MvAgg.Max("updatedOn", "max_updated")))

  /** Expand the paginated source's rows into the full raw-ticket shape
    * (every field `TicketTransform.transform` consumes), derived
    * DETERMINISTICALLY from the ticket ordinal so the DuckDB oracle can
    * re-synthesize any field it aggregates. `updatedDelta` positions each
    * sync's update wave relative to creation time (a negative delta makes
    * the row STALE — the merge's conditional update arm must refuse it). */
  def rawTickets(pages: DataFrame, updatedDelta: Column): DataFrame = {
    val g = substring(col("_id"), 2, 6).cast("int")
    pages.select(
      col("_id"),
      col("createdTimestamp"),
      (col("createdTimestamp") + updatedDelta).as("updatedTimestamp"),
      lit(0L).as("deletedTimestamp"), // epoch-0 -> NULL quirk (main.py:235)
      (col("createdTimestamp") + lit(120L)).as("lastMessageTimestamp"),
      concat(lit("agent"), (g % 7).cast("string")).as("createdBy"),
      concat(lit("agent"), (g % 5).cast("string")).as("updatedBy"),
      lit(false).as("deleted"),
      (g % 2 === 0).as("incoming"),
      col("subject"),
      concat(lit("<p>Raised &amp; triaged #"), g.cast("string"), lit("</p>"))
        .as("description"),
      element_at(typedLit(Seq("open", "pending", "resolved", "closed")),
        (g % 4) + 1).as("status"),
      element_at(typedLit(Seq("low", "medium", "high")), (g % 3) + 1)
        .as("priority"),
      when(g % 11 === 0, lit(null)).otherwise(
        struct(concat(lit("user"), g.cast("string"), lit("@example.com")).as("email"),
          concat(lit("User "), g.cast("string")).as("name"))).as("fromEmail"),
      array(struct(lit("support@example.com").as("email"),
        lit("Support").as("name"))).as("toEmails"),
      when(g % 5 === 0, array(lit("cc1@example.com"), lit("cc2@example.com")))
        .otherwise(array().cast("array<string>")).as("ccEmails"),
      array().cast("array<string>").as("bccEmails"),
      when(g % 3 === 0, array(lit("vip")))
        .otherwise(array(lit("std"), lit("web"))).as("tags"),
      array().cast("array<string>").as("attachmentIds"),
      array().cast("array<string>").as("discounts"),
      (g % 4).as("sendEmailFailureCount"),
      (g % 2 === 1).as("createdViaWidget"),
      lit(false).as("permanentlyDeleted"),
      (g % 3 === 0).as("isRead"),
      struct(lit("moosedesk").as("source"), col("page").as("page")).as("meta"),
      // stats arrives as a JSON STRING (parse-if-string, main.py:211-231);
      // resolved tickets carry a resolvedAt epoch
      when(g % 4 === 2,
        concat(lit("{\"resolvedAt\": "),
          (col("createdTimestamp") + lit(7200L)).cast("string"), lit("}")))
        .otherwise(lit("{}")).as("stats"),
      when(g % 6 === 0, array(struct(lit("file.png").as("name"))))
        .otherwise(array().cast("array<struct<name:string>>")).as("attachments"))
  }

  private def pagesDf(s: SparkSession, pages: Int): DataFrame =
    s.read.format("ticket-pages")
      .option("pages", pages.toString).option("pageSize", "100").load()

  /** One sync cycle: fetch → transform → conditional MERGE INTO (update
    * matched only when NEWER — string compare on the sortable readable
    * timestamp — insert unmatched). Returns the committed version. */
  def sync(s: SparkSession, root: String, rawBatch: DataFrame): Long =
    SnapshotTable.mergeInto(s, root, TicketTransform.transform(rawBatch),
      Seq("_id"),
      matched = Seq(MergeInto.UpdateClause(
        Some(col("s.updatedOn") > col("t.updatedOn")), None)),
      notMatched = Seq(MergeInto.InsertClause(None, None)))

  /** The capstone query: two sync cycles against a fresh ticket table,
    * dashboard maintained by a standing CDF subscriber between and after
    * them, final dashboard read from the VIEW table. Deterministic and
    * SF-independent by design — the reference caps every sync at 20
    * pages × 100 (main.py:130-134); volume accrues across syncs, which is
    * exactly what the rehearsal leg scales. */
  def ticketSyncE2e(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft-ticketsync")
    val root = s"$base/tickets"
    val viewRoot = s"$base/dash"
    val ckpt = s"$base/ckpt"
    val appId = "ticket-dash"

    // Bootstrap: the reference's CREATE TABLE ... LIMIT 0 on first sync
    // (main.py:369-373) — an empty, schema-bearing version 0.
    SnapshotTable.commitEmpty(s, root,
      TicketTransform.transform(rawTickets(pagesDf(s, 1), lit(3600L))).schema)

    // ONE standing subscriber across both syncs (optimization r15, guide
    // §1.2 step 1): the per-sync start/processAllAvailable/stop paid a full
    // streaming-query lifecycle TWICE (source resolution, checkpoint WAL
    // resume, trigger thread spin-up/teardown — ~1.5 s of pure machinery at
    // fixture scale, and the second start re-read the commit log from the
    // checkpoint). A live dashboard subscriber is a STANDING query — start
    // once, drain after each sync, stop at the end. Identical refresh
    // semantics: processAllAvailable blocks until every committed version
    // is consumed, exactly what the per-sync drain pinned.
    val q = Streams.mvCdcSink(s, root, viewRoot, dashboardSpec, appId, ckpt,
      startVersion = -1L, maxVersionsPerTrigger = 1).start()

    // Sync 1: the full 20-page pull (the reference's hard cap), updates
    // stamped one hour after creation.
    sync(s, root, rawTickets(pagesDf(s, 20), lit(3600L)))
    q.processAllAvailable()

    // Sync 2: an update wave over pages 0-9 (+25h — newer, update arm
    // fires), page 9 STALE (-2 min — the conditional arm must refuse it),
    // plus a backfill of new pages 20-24 (insert arm).
    val wave = pagesDf(s, 25).filter(col("page") < 10 || col("page") >= 20)
    sync(s, root, rawTickets(wave,
      when(col("page") === 9, lit(-120L)).otherwise(lit(90000L))))
    q.processAllAvailable()
    q.stop()

    val out = dashboardSpec.finish(SnapshotTable.read(s, viewRoot))
      .select(col("status"), col("cnt"), col("min_created"), col("max_updated"))
      .orderBy("status")
      .localCheckpoint()
    // The run is self-contained: reclaim the tmp tree.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base.toString), true)
    out
  }

  val qs: Seq[Q] = Seq(
    Q("x_ticket_sync_e2e",
      (s, dir) => ticketSyncE2e(s, dir),
      // Oracle: reconstruct the final per-ticket state arithmetically from
      // the source formula (id ordinal g: created = 1700000000 - g*60;
      // final updated = created+90000 for g<900 and g>=2000, +3600 for the
      // stale page 900-999 and the untouched 1000-1999), then aggregate
      // the dashboard. Timestamp strings via the engine's established
      // epoch_ms/strftime idiom (sortable format: string min/max ==
      // chronological min/max).
      Some("""WITH gg AS (SELECT unnest(generate_series(0, 2499)) AS g),
              fin AS (SELECT g,
                1700000000 - g * 60 AS created,
                CASE WHEN g BETWEEN 900 AND 1999 THEN 1700000000 - g * 60 + 3600
                     ELSE 1700000000 - g * 60 + 90000 END AS updated,
                CASE g % 4 WHEN 0 THEN 'open' WHEN 1 THEN 'pending'
                           WHEN 2 THEN 'resolved' ELSE 'closed' END AS status
              FROM gg)
              SELECT status, count(*) AS cnt,
                min(strftime(epoch_ms(CAST(created AS BIGINT) * 1000),
                    '%Y-%m-%d %H:%M:%S')) AS min_created,
                max(strftime(epoch_ms(CAST(updated AS BIGINT) * 1000),
                    '%Y-%m-%d %H:%M:%S')) AS max_updated
              FROM fin GROUP BY status
              ORDER BY status ASC NULLS FIRST"""))
  )
}
