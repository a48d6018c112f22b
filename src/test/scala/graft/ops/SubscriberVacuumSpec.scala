package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Subscriber-aware vacuum (VERDICT r10 #3): a lagging CDF subscriber's
  * watermark pins retention — vacuum keeps every version the subscriber
  * still needs, a forced vacuum overrides (and the feed then fails
  * loudly, the pre-existing contract), and unregistering releases the
  * pin. */
class SubscriberVacuumSpec extends SparkSpec {
  import spark.implicits._

  private def versionsOn(root: String): Seq[Long] = {
    val dir = new java.io.File(root, "_manifests")
    if (!dir.isDirectory) Nil
    else dir.listFiles().toSeq.map(_.getName)
      .collect { case s if s.startsWith("manifest-") =>
        s.stripPrefix("manifest-").stripSuffix(".json").toLong }.sorted
  }

  private def seed(root: String, n: Int): Unit =
    (0 until n).foreach(i => SnapshotTable.appendOnce(spark, root,
      Seq((i.toLong, i.toDouble)).toDF("k", "v"), "sub-vac", i.toLong))

  test("a lagging subscriber's watermark clamps vacuum; force overrides; unregister releases") {
    val root = s"${tmpDir()}/t"
    seed(root, 6) // versions 0..5
    SnapshotTable.registerSubscriber(spark, root, "lagger", consumedVersion = 2L)
    assert(SnapshotTable.subscriberWatermark(spark, root).contains(2L))

    // vacuum(keep=1) would normally leave only v5; the watermark keeps 2..5
    SnapshotTable.vacuum(spark, root, keep = 1)
    assert(versionsOn(root) == Seq(2L, 3L, 4L, 5L),
      s"watermark 2 must retain versions >= 2: ${versionsOn(root)}")
    // ... and the lagging subscriber's next batch is still servable
    val schema = SnapshotTable.read(spark, root).schema
    val feed = SnapshotTable.changesFeed(spark, root, 2L, 5L, schema)
    assert(feed.count() == 3L, "one appended row per version 3..5")

    // A second, further-behind subscriber pins deeper... but its versions
    // are already gone — watermarks guard FUTURE vacuums, so register-
    // then-vacuum keeps what still exists.
    SnapshotTable.registerSubscriber(spark, root, "lagger2", 3L)
    SnapshotTable.vacuum(spark, root, keep = 1)
    assert(versionsOn(root) == Seq(2L, 3L, 4L, 5L), "min watermark (2) wins")

    // Stale updates are ignored (monotonic)...
    SnapshotTable.registerSubscriber(spark, root, "lagger", 1L)
    assert(SnapshotTable.subscriberWatermark(spark, root).contains(2L))
    // ... advancing moves the floor
    SnapshotTable.registerSubscriber(spark, root, "lagger", 4L)
    SnapshotTable.vacuum(spark, root, keep = 1)
    assert(versionsOn(root) == Seq(3L, 4L, 5L), "floor = min(lagger=4, lagger2=3)")

    // FORCED vacuum ignores the watermark; the feed then fails loudly —
    // the stream's pre-existing contract, now an explicit operator choice.
    SnapshotTable.vacuum(spark, root, keep = 1, force = true)
    assert(versionsOn(root) == Seq(5L))
    intercept[Exception] {
      SnapshotTable.changesFeed(spark, root, 3L, 5L, schema).collect()
    }

    // Unregistering releases the pin for future vacuums.
    SnapshotTable.unregisterSubscriber(spark, root, "lagger")
    SnapshotTable.unregisterSubscriber(spark, root, "lagger2")
    assert(SnapshotTable.subscriberWatermark(spark, root).isEmpty)
  }

  test("an unreadable watermark is refused by name; register writes via tmp + rename") {
    val root = s"${tmpDir()}/t"
    seed(root, 3) // versions 0..2
    SnapshotTable.registerSubscriber(spark, root, "good", 1L)
    SnapshotTable.registerSubscriber(spark, root, "good", 2L)
    assert(SnapshotTable.subscriberWatermark(spark, root).contains(2L))
    val leftovers = new java.io.File(root).listFiles().map(_.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"the tmp file must be renamed away: ${leftovers.toSeq}")

    // A crash of the old in-place write left an empty file behind.
    val planted = new java.io.File(root, "_subscribers/crashed")
    java.nio.file.Files.write(planted.toPath, Array.emptyByteArray)
    for (op <- Seq[() => Any](
        () => SnapshotTable.subscriberWatermark(spark, root),
        () => SnapshotTable.vacuum(spark, root, keep = 1),
        () => SnapshotTable.registerSubscriber(spark, root, "crashed", 2L))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains(planted.getName) &&
        e.getMessage.contains("_subscribers") && e.getMessage.contains("unreadable"),
        e.getMessage)
    }
    assert(versionsOn(root) == Seq(0L, 1L, 2L), "a refused vacuum deletes nothing")
    SnapshotTable.unregisterSubscriber(spark, root, "crashed")
    assert(SnapshotTable.subscriberWatermark(spark, root).contains(2L))
  }

  test("age-based vacuum inherits the watermark clamp") {
    val root = s"${tmpDir()}/t"
    seed(root, 4) // versions 0..3
    SnapshotTable.registerSubscriber(spark, root, "s1", 1L)
    // everything is "old" under a zero age budget, but the watermark holds 1..3
    SnapshotTable.vacuumOlderThan(spark, root, maxAgeMs = 0L, keepLast = 1)
    assert(versionsOn(root) == Seq(1L, 2L, 3L))
    SnapshotTable.vacuumOlderThan(spark, root, maxAgeMs = 0L, keepLast = 1,
      force = true)
    assert(versionsOn(root) == Seq(3L))
  }
}
