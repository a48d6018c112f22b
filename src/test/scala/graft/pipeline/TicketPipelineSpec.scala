package graft.pipeline

import graft.SparkSpec
import graft.ops.{SnapshotTable, Upsert}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end ticket pipeline tests against reference-shaped JSON fixtures
  * (FIXTURES.md §2): transform quirks, incremental anti-join, upsert
  * semantics (update-wins main.py:354, insert arm main.py:355-357, bootstrap
  * main.py:369-373, idempotent re-run). */
class TicketPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ingest(lines: Seq[String]): DataFrame =
    TicketPipeline.ingestJson(spark, lines.toDF("value"))

  private val t1 =
    """{"_id":"a1","createdTimestamp":1700000000,"updatedTimestamp":1700000100,
       "deletedTimestamp":0,"subject":"Hi","description":"<p>Hello <b>World</b> &amp; co</p>",
       "status":"open","priority":"high","deleted":false,"incoming":true,
       "fromEmail":{"email":"x@y.z","name":"X"},
       "toEmails":[{"email":"a@b.c","name":"A"},{"email":"d@e.f","name":"D"}],
       "tags":["vip","bug"],"sendEmailFailureCount":2,"isRead":true,
       "meta":{"src":"api"},"stats":"{\"resolvedAt\":1700000500,\"firstRespondedAt\":0}",
       "attachments":[]}""".replaceAll("\n\\s*", "")

  private val t2 =
    """{"_id":"b2","createdTimestamp":0,"updatedTimestamp":1700000200,
       "subject":"Yo","description":"plain text","stats":"not json at all"}"""
      .replaceAll("\n\\s*", "")

  // t1 updated (newer updatedTimestamp, status closed) and a new ticket t3
  private val t1v2 = t1.replace("\"status\":\"open\"", "\"status\":\"closed\"")
    .replace("1700000100", "1700000300")
  private val t3 =
    """{"_id":"c3","createdTimestamp":1700001000,"updatedTimestamp":1700001000,"subject":"New"}"""

  test("transform: 40-column projection with reference quirks") {
    val out = TicketTransform.transform(ingest(Seq(t1, t2)))
      .orderBy("_id").collect()
    val r1 = out(0)
    assert(r1.getAs[String]("_id") == "a1")
    assert(r1.getAs[String]("createdOn") == "2023-11-14 22:13:20")
    assert(r1.getAs[String]("createdOnDate") == "2023-11-14")
    // epoch 0 → NULL quirk (main.py:235,246)
    assert(r1.getAs[String]("deletedOn") == null)
    // HTML strip with entity + tag handling
    assert(r1.getAs[String]("description") == "Hello World & co")
    // python bool rendering for stringified bools (main.py:289,310)
    assert(r1.getAs[String]("incoming") == "True")
    assert(r1.getAs[String]("isRead") == "True")
    // python list repr (main.py:301-305)
    assert(r1.getAs[String]("tags") == "['vip', 'bug']")
    // stringified counters (main.py:306)
    assert(r1.getAs[String]("sendEmailFailureCount") == "2")
    // struct + array-of-struct survive natively
    assert(r1.getAs[org.apache.spark.sql.Row]("fromEmail").getAs[String]("email") == "x@y.z")
    assert(r1.getSeq[org.apache.spark.sql.Row](r1.fieldIndex("toEmails")).size == 2)
    // stats parsed from JSON string; nested epoch 0 → NULL
    assert(r1.getAs[String]("resolvedAt") == "2023-11-14 22:21:40")
    assert(r1.getAs[String]("firstRespondedAt") == null)
    // empty attachments → NULL (main.py:429-430)
    assert(r1.getAs[String]("attachments") == null)

    val r2 = out(1)
    // createdTimestamp 0 → NULL (main.py:235)
    assert(r2.getAs[String]("createdOn") == null)
    // malformed stats JSON → null struct → null fields (main.py:218-219)
    assert(r2.getAs[String]("resolvedAt") == null)
    assert(r2.getAs[String]("stats") == null)
    // defaults for missing keys (main.py:286,307-308)
    assert(!r2.getAs[Boolean]("deleted"))
    assert(out(0).schema.fieldNames.length == 37)
  }

  test("sync: bootstrap, update-wins, insert arm, idempotence") {
    val target = tmpDir() + "/tickets"
    // first run bootstraps (main.py:369-373)
    val rep1 = TicketPipeline.sync(spark, ingest(Seq(t1, t2)), target)
    assert(rep1.total == 2 && rep1.inserted == 2 && rep1.updated == 0)

    // second run: t1 updated (newer updatedTimestamp), t3 inserted
    val rep2 = TicketPipeline.sync(spark, ingest(Seq(t1v2, t3)), target)
    assert(rep2.total == 2 && rep2.inserted == 1 && rep2.updated == 1)

    val after = SnapshotTable.read(spark, target)
    assert(after.count() == 3)
    // source wins on match — all non-key columns overwritten (main.py:354)
    assert(after.filter($"_id" === "a1").select("status").as[String].head() == "closed")

    // idempotent re-run (MERGE safety, main.py:349-358)
    TicketPipeline.sync(spark, ingest(Seq(t1v2, t3)), target)
    assert(SnapshotTable.read(spark, target).count() == 3)
  }

  test("sync: each run is one version; the first sync's version stays readable") {
    val target = tmpDir() + "/tickets4"
    TicketPipeline.sync(spark, ingest(Seq(t1, t2)), target)
    TicketPipeline.sync(spark, ingest(Seq(t1v2, t3)), target)
    def rows(df: DataFrame): Set[(String, String)] =
      df.select("_id", "status").as[(String, String)].collect().toSet
    assert(rows(SnapshotTable.read(spark, target, Some(0L))) ==
      Set(("a1", "open"), ("b2", null)))
    assert(rows(SnapshotTable.read(spark, target)) ==
      Set(("a1", "closed"), ("b2", null), ("c3", null)))
  }

  test("incremental: newTickets is the anti-join the reference never used") {
    val target = tmpDir() + "/tickets2"
    TicketPipeline.sync(spark, ingest(Seq(t1)), target)
    val batch = TicketTransform.transform(ingest(Seq(t1, t2)))
    val fresh = TicketPipeline.newTickets(batch, SnapshotTable.read(spark, target))
    assert(fresh.select("_id").as[String].collect().toSeq == Seq("b2"))
  }

  test("syncWithDetails: a failing fetch drops the row and increments failed") {
    val target = tmpDir() + "/tickets3"
    val byId = Map("a1" -> t1, "b2" -> t2) // "dead" has no detail -> fetch error
    val fetch = (id: String) => byId.get(id)
    val rep = TicketPipeline.syncWithDetails(
      spark, Seq("a1", "b2", "dead").toDS(), fetch, target)
    assert(rep.failed == 1, s"report: $rep")
    assert(rep.total == 2 && rep.inserted == 2 && rep.updated == 0)
    assert(SnapshotTable.read(spark, target).select("_id").as[String].collect().sorted.toSeq
      == Seq("a1", "b2"))
  }

  test("duplicate ids across pages: last-write-wins pre-dedup (SURVEY §7)") {
    val dup1 = t1
    val dup2 = t1.replace("\"priority\":\"high\"", "\"priority\":\"low\"")
      .replace("1700000100", "1700000900") // newer
    val deduped = Upsert.latestPerKey(
      TicketTransform.transform(ingest(Seq(dup1, dup2))),
      Seq("_id"), "updatedTimestamp")
    assert(deduped.count() == 1)
    assert(deduped.select("priority").as[String].head() == "low")
  }
}
