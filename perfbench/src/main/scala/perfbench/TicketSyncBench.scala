package perfbench

import scala.collection.mutable

import graft.functions.TicketFunctions
import graft.ops.SnapshotTable
import graft.pipeline.{TicketSync, TicketTransform}
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `ticket_sync`: the reference's write loop. Each cycle fetches 2,000
  * tickets through `ticket-pages` (20 pages × 100), shapes them into the
  * seeded batch mix, runs the conditional newer-wins MERGE
  * (`TicketSync.sync`) and drains the standing `Streams.mvCdcSink`
  * dashboard subscriber. The table is pre-grown in set-up. */
object TicketSyncBench {
  val PreGrown = 10000

  final class Table(val root: String, val view: String, val q: StreamingQuery,
                    val gen: TicketGen)

  private def setUp(ctx: Ctx): Table = {
    val s = ctx.spark
    val base = ctx.dir("tmp/tsync")
    val (root, view) = (s"$base/tickets", s"$base/dash")
    val gen = new TicketGen(ctx.seed)
    gen.grow(PreGrown)
    val rows = TicketTransform.transform(
      TicketSync.rawTickets(TicketGen.range(s, 0, PreGrown), TicketGen.delta))
    SnapshotTable.commitEmpty(s, root, rows.schema)
    SnapshotTable.append(s, root, rows)
    val q = Streams.mvCdcSink(s, root, view, TicketSync.dashboardSpec,
      "perfbench-dash", s"$base/ckpt", startVersion = -1L,
      maxVersionsPerTrigger = 1).start()
    if (ctx.trace) Recorder.registerStream(q.runId.toString)
    q.processAllAvailable()
    new Table(root, view, q, gen)
  }

  def run(ctx: Ctx): Unit = {
    val s = ctx.spark
    // one set-up: it pre-grows the table and starts the subscriber, too
    // costly to repeat within a run
    val (t, setupSeconds) = ctx.timed(setUp(ctx))
    ctx.put("setup_s", setupSeconds, "s")
    ctx.mark("setup")
    val casBefore = SnapshotTable.casLosses.get() + SnapshotTable.rebases.get()
    Recorder.drain(s)
    val streamBefore = (Recorder.stream.jobs, Recorder.stream.fsOps)

    val mergeWalls = mutable.ArrayBuffer.empty[Double]
    val lags = mutable.ArrayBuffer.empty[Double]
    val versions = mutable.ArrayBuffer.empty[Long]
    val batches = mutable.ArrayBuffer.empty[TicketGen#Batch]
    val fetched = mutable.ArrayBuffer.empty[Long]
    val cycleWalls = ctx.loop(minOps = 3) { _ =>
      val b = t.gen.nextBatch()
      batches += b
      ctx.span("sync.cycle") {
        val shaped0 = TicketGen.shape(TicketGen.pages(s), b)
        val shaped =
          if (!ctx.trace) shaped0
          else ctx.span("sources.fetch") {
            val m = shaped0.localCheckpoint()
            fetched += m.count()
            m
          }
        val raw = TicketSync.rawTickets(shaped, TicketGen.delta)
        // The transform's own cost, measured apart by materialising it; the
        // merge below is the program's TicketSync.sync call as untraced,
        // which computes the transform again inside its plan.
        if (ctx.trace) ctx.span("pipeline.transform") {
          TicketTransform.transform(raw).localCheckpoint()
        }
        val (v, mergeWall) = ctx.timed(ctx.span("ops.merge")(TicketSync.sync(s, t.root, raw)))
        versions += v
        mergeWalls += mergeWall
        val (_, lag) = ctx.timed(ctx.span("streaming.refresh")(t.q.processAllAvailable()))
        lags += lag
      }
    }
    ctx.mark("loop")
    val casRetries = SnapshotTable.casLosses.get() + SnapshotTable.rebases.get() - casBefore

    // ---- correctness --------------------------------------------------
    t.q.processAllAvailable()
    val rowsNow = SnapshotTable.rowCount(s, t.root)
    ctx.check(rowsNow == t.gen.size,
      s"ticket_sync: table holds $rowsNow rows, the generator expects ${t.gen.size}")
    val spec = TicketSync.dashboardSpec
    val got = spec.finish(SnapshotTable.read(s, t.view)).collect().map(_.toString).toSet
    val want = spec.finish(spec.partial(SnapshotTable.read(s, t.root)))
      .collect().map(_.toString).toSet
    ctx.check(got == want, s"ticket_sync: dashboard $got differs from a full recompute $want")
    import s.implicits._
    val truth = (0 until t.gen.size).map(n => (f"T$n%07d", t.gen.expectedUpdated(n)))
      .toDF("_id", "u")
      .select(col("_id"), TicketFunctions.secondsToReadable(col("u")).as("want"))
    val wrong = SnapshotTable.read(s, t.root).select("_id", "updatedOn")
      .join(truth, Seq("_id"), "full_outer")
      .filter(not(col("updatedOn") <=> col("want"))).count()
    ctx.check(wrong == 0,
      s"ticket_sync: $wrong tickets differ from the expected update time " +
        "(a stale page applied, an update lost, or a row missing)")
    t.q.stop()

    ctx.mark("checks")
    val rowsPerCycle = batches.map(b => (b.inserts + b.updates).toDouble)
    ctx.note("batch", s"${TicketGen.Pages} pages x ${TicketGen.PageSize} tickets per cycle; " +
      s"${batches.size} cycles; table pre-grown to $PreGrown rows, ${rowsNow} at the end")
    ctx.put("op_p50_ms", Stats.median(mergeWalls.toSeq) * 1e3, "ms")
    ctx.put("work_per_s", rowsPerCycle.sum / cycleWalls.sum, "1/s")
    if (ctx.trace) {
      layerMetrics(ctx, t, mergeWalls.toSeq, lags.toSeq, versions.toSeq,
        batches.toSeq, fetched.toSeq, casRetries, rowsNow, streamBefore)
    }
  }

  private def layerMetrics(ctx: Ctx, t: Table, mergeWalls: Seq[Double],
                           lags: Seq[Double], versions: Seq[Long],
                           batches: Seq[TicketGen#Batch], fetched: Seq[Long],
                           casRetries: Long, rowsNow: Long,
                           streamBefore: (Long, Long)): Unit = {
    val s = ctx.spark
    Recorder.drain(s)
    val merges = Recorder.named("ops.merge")
    def med(f: Span => Double): Double = Stats.median(merges.map(f))
    ctx.put("ops.merge_s", med(_.seconds), "s")
    ctx.put("ops.merge_jobs", med(_.subtree.map(_.jobs).sum.toDouble), "count")
    ctx.put("ops.merge_tasks", med(_.subtree.map(_.tasks).sum.toDouble), "count")
    ctx.put("ops.merge_planning_ms", med(_.subtree.map(_.planningMs).sum), "ms")
    ctx.put("ops.merge_driver_gap_s", med(Recorder.driverGapSeconds), "s")
    ctx.put("ops.merge_cpu_s", med(_.subtree.map(_.cpuNs).sum / 1e9), "s")
    for ((op, name) <- Seq(FsOp.Open -> "open", FsOp.Create -> "create",
        FsOp.Rename -> "rename", FsOp.List -> "list", FsOp.Status -> "status",
        FsOp.Delete -> "delete", FsOp.Mkdirs -> "mkdirs"))
      ctx.put(s"fs.commit_$name", med(_.subtree.map(_.fsCount(op)).sum.toDouble), "count")
    ctx.put("fs.commit_ops", med(_.subtree.map(_.fsOps).sum.toDouble), "count")
    val changed = batches.map(b => (b.inserts + b.updates).toDouble)
    ctx.put("fs.commit_write_bytes_per_row",
      Stats.median(merges.zip(changed).map { case (m, c) => m.subtree.map(_.fsBytes).sum / c }),
      "B/row")
    ctx.put("pipeline.transform_s",
      Stats.median(Recorder.named("pipeline.transform").map(_.seconds)), "s")

    // what each commit did, read after the loop from the table itself
    val filesAt = mutable.HashMap.empty[Long, Set[String]]
    def files(v: Long) = filesAt.getOrElseUpdate(v,
      SnapshotTable.read(s, t.root, Some(v)).inputFiles.toSet)
    val rewritten = versions.map(v => (files(v - 1) -- files(v)).size.toDouble)
    ctx.put("ops.files_rewritten", Stats.median(rewritten), "count")
    val amp = versions.zip(changed).map { case (v, c) =>
      val added = (files(v) -- files(v - 1)).toSeq
      (if (added.isEmpty) 0L else s.read.parquet(added: _*).count()) / c
    }
    ctx.put("ops.rewrite_amp", Stats.median(amp), "ratio")
    val cdcRows = versions.zip(changed).map { case (v, c) =>
      SnapshotTable.changesDelta(s, t.root, v - 1, Some(v)) match {
        case Some((adds, removes)) => (adds.count() + removes.count()) / c
        case None => 0.0
      }
    }
    ctx.put("streaming.cdc_rows_per_changed_row", Stats.median(cdcRows), "ratio")

    ctx.put("ops.cas_retries", casRetries.toDouble, "count")
    ctx.put("sources.rows_fetched", Stats.median(fetched.map(_.toDouble)), "count")
    ctx.put("sources.fetch_failed",
      (TicketGen.PageSize * TicketGen.Pages).toDouble - Stats.median(fetched.map(_.toDouble)),
      "count")

    val refreshes = Recorder.named("streaming.refresh")
    ctx.put("streaming.refresh_s", Stats.median(refreshes.map(_.seconds)), "s")
    val n = math.max(1, refreshes.size).toDouble
    ctx.put("streaming.refresh_jobs", (Recorder.stream.jobs - streamBefore._1) / n, "count")
    ctx.put("streaming.refresh_fs_ops", (Recorder.stream.fsOps - streamBefore._2) / n, "count")

    ctx.put("e2e.sync_p50_s", Stats.median(mergeWalls), "s")
    ctx.put("e2e.dash_lag_p50_s", Stats.median(lags), "s")
    ctx.put("e2e.table_bytes_per_row", dirBytes(new java.io.File(t.root)) / rowsNow.toDouble, "B/row")
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()
}
