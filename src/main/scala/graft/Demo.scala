package graft

import graft.ops.SnapshotTable
import graft.pipeline.{TicketPipeline, TicketTransform}
import org.apache.spark.sql.functions._

/** End-to-end composition demo (SURVEY.md §3.1): paginated source → 37-col
  * transform → dedup → MERGE upsert into a SnapshotTable → re-run with
  * overlap, then time travel to the first sync's version.
  * `runMain graft.Demo [targetDir]`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString) + "/tickets"
    val spark = Plans.session()

    // 1. "API" extract: 3 pages of 100 tickets from the paginated V2 source
    val raw = spark.read.format("ticket-pages")
      .option("pages", "3").option("pageSize", "100").load()
      .select(col("_id"),
        col("createdTimestamp"),
        col("createdTimestamp").as("updatedTimestamp"),
        col("subject").as("description"),
        col("subject"))

    // 2-4. transform → dedup → sync (bootstrap on first run)
    val tickets = raw.select(from_json(to_json(struct(raw.columns.map(col).toIndexedSeq: _*)),
      TicketTransform.ticketInputSchema).as("t")).select("t.*")
    val r1 = TicketPipeline.sync(spark, tickets, target)
    println(s"DEMO sync1: total=${r1.total} inserted=${r1.inserted} updated=${r1.updated}")

    // 5. second run with 1 page of overlap + 1 new page → incremental merge
    val raw2 = spark.read.format("ticket-pages")
      .option("pages", "4").option("pageSize", "100").load()
      .filter(col("page") >= 2)
      .select(col("_id"),
        col("createdTimestamp"),
        (col("createdTimestamp") + 10).as("updatedTimestamp"),
        concat(col("subject"), lit(" (updated)")).as("description"),
        col("subject"))
    val tickets2 = raw2.select(from_json(to_json(struct(raw2.columns.map(col).toIndexedSeq: _*)),
      TicketTransform.ticketInputSchema).as("t")).select("t.*")
    val r2 = TicketPipeline.sync(spark, tickets2, target)
    println(s"DEMO sync2: total=${r2.total} inserted=${r2.inserted} updated=${r2.updated}")

    // 6. every sync is one atomic version: the head and the first sync's
    // version both stay readable
    val fin = SnapshotTable.read(spark, target)
    println(s"DEMO final: v=${SnapshotTable.currentVersion(spark, target).get} " +
      s"rows=${fin.count()} distinct=${fin.select("_id").distinct().count()} " +
      s"(v0 rows=${SnapshotTable.read(spark, target, Some(0L)).count()})")
    println("DEMO sample:")
    fin.orderBy("_id").select("_id", "createdOn", "description").show(3, truncate = false)
    spark.stop()
  }
}
