package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import graft.ops.{SnapshotFileIndex, SnapshotTable}
import graft.pipeline.{TicketSync, TicketTransform}
import graft.sql.GraftSql
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** `ticket_queries`: the read side of the ticket table, served through the
  * `graft` SQL catalog. Set-up builds a table whose retained chain is longer
  * than the table format's resolved-version cache, one append per version;
  * the loop sends a seeded mix of point lookups (present and absent ids),
  * `createdOn` ranges, the dashboard GROUP BY, the existing-ids
  * `SELECT DISTINCT _id` scan and `VERSION AS OF` reads over the whole
  * chain. Every answer is checked against the generator's truth. */
object TicketQueriesBench {
  val Appends = 8
  val PerAppend = 3000
  val RenamesPerAppend = 5
  val MinBlocks = 6
  val Versions: Int = Appends * (1 + RenamesPerAppend)
  val Kinds = Seq("point", "range", "dashboard", "distinct_ids", "timetravel")
  private val Statuses = Seq("open", "pending", "resolved", "closed")
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def readable(sec: Long): String =
    LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).format(Fmt)
  def id(n: Int): String = f"T$n%07d"
  def status(n: Int): String = Statuses((n / 10) % 4)

  /** One query: its kind, SQL text, and a check of the collected rows. */
  final case class Query(kind: String, sql: String, asOf: Option[Long],
                         check: Seq[Row] => Option[String])

  /** A chain of Appends × (1 + RenamesPerAppend) versions after the empty
    * version 0: each append of PerAppend tickets is followed by
    * metadata-only renames of a column no query reads (schema
    * maintenance), which keeps the chain longer than the resolved-version
    * cache while set-up stays short. */
  private def setUp(ctx: Ctx, name: String): String = {
    val s = ctx.spark
    val root = s"${GraftSql.defaultWarehouse}/bench/$name"
    val first = TicketTransform.transform(
      TicketSync.rawTickets(TicketGen.range(s, 0, 0), TicketGen.delta))
    SnapshotTable.commitEmpty(s, root, first.schema)
    def col(k: Int) = if (k == 0) "priority" else s"priority_$k"
    var renames = 0
    for (i <- 0 until Appends) {
      SnapshotTable.append(s, root, TicketTransform.transform(TicketSync.rawTickets(
        TicketGen.range(s, i * PerAppend, (i + 1) * PerAppend), TicketGen.delta)))
      for (_ <- 0 until RenamesPerAppend) {
        SnapshotTable.renameColumn(s, root, col(renames), col(renames + 1))
        renames += 1
      }
    }
    root
  }

  /** Rows visible at version v. */
  def rowsAt(v: Int): Int = ((v + RenamesPerAppend) / (1 + RenamesPerAppend)) * PerAppend

  private lazy val dashboardTruth: Seq[Seq[Any]] =
    (0 until Appends * PerAppend).groupBy(status).toSeq.sortBy(_._1).map { case (st, ns) =>
      Seq(st, ns.size.toLong, readable(TicketGen.Base + 60L * ns.min),
        readable(TicketGen.Base + 60L * ns.max + 3600L))
    }

  /** Kinds in every block of queries: the mix is fixed, its order and the
    * queries' arguments are seeded. A block is the reads of two sync
    * cycles. Per cycle the reference issues one existing-ids
    * `SELECT DISTINCT _id` (main.py:85-89) and the dashboard is read once
    * after it: four of the seven queries. The other three, one point
    * lookup, one `createdOn` range and one `VERSION AS OF`, are kinds the
    * reference never issues; their one-each share is an assumption, not
    * measured traffic. */
  val Block: Seq[String] = Seq.fill(2)("distinct_ids") ++ Seq.fill(2)("dashboard") ++
    Seq("point", "range", "timetravel")

  /** The next block of queries over a table whose version v holds tickets
    * 0 until rowsAt(v). */
  def nextBlock(rnd: java.util.SplittableRandom, table: String): Seq[Query] = {
    val kinds = Block.toArray
    for (i <- kinds.indices.reverse) {
      val k = rnd.nextInt(i + 1)
      val t = kinds(i); kinds(i) = kinds(k); kinds(k) = t
    }
    kinds.toSeq.map(query(rnd, table, _))
  }

  private def query(rnd: java.util.SplittableRandom, table: String, kind: String): Query = {
    val n = Appends * PerAppend
    if (kind == "point") {
      val k = rnd.nextInt(n + n / 4)
      Query("point", s"SELECT _id, createdOn, status FROM $table WHERE _id = '${id(k)}'", None,
        rows => {
          val want = if (k < n) Seq(Seq(id(k), readable(TicketGen.Base + 60L * k), status(k)))
            else Nil
          val got = rows.map(_.toSeq)
          if (got == want) None else Some(s"point ${id(k)}: got $got, want $want")
        })
    } else if (kind == "range") {
      val a = rnd.nextInt(n)
      val b = a + 1 + rnd.nextInt(2000)
      Query("range", s"SELECT count(*) FROM $table WHERE createdOn >= " +
        s"'${readable(TicketGen.Base + 60L * a)}' AND createdOn < '${readable(TicketGen.Base + 60L * b)}'",
        None, rows => {
          val want = math.min(b, n) - a
          val got = rows.head.getLong(0)
          if (got == want) None else Some(s"range [$a, $b): got $got rows, want $want")
        })
    } else if (kind == "dashboard") {
      Query("dashboard", s"SELECT status, count(*), min(createdOn), max(updatedOn) FROM $table " +
        "GROUP BY status ORDER BY status", None, rows => {
        val want = dashboardTruth
        val got = rows.map(_.toSeq)
        if (got == want) None else Some(s"dashboard: got $got, want $want")
      })
    } else if (kind == "distinct_ids") {
      Query("distinct_ids", s"SELECT DISTINCT _id FROM $table WHERE _id IS NOT NULL", None,
        rows => {
          val got = rows.map(_.getString(0)).toSet
          if (got.size == n && (0 until n).forall(k => got(id(k)))) None
          else Some(s"distinct ids: got ${got.size}, want $n")
        })
    } else {
      val v = 1 + rnd.nextInt(Versions)
      Query("timetravel", s"SELECT count(*), max(_id) FROM $table VERSION AS OF $v", Some(v),
        rows => {
          val want = Seq(rowsAt(v).toLong, id(rowsAt(v) - 1))
          val got = rows.head.toSeq
          if (got == want) None else Some(s"version $v: got $got, want $want")
        })
    }
  }

  def run(ctx: Ctx): Unit = {
    val s = ctx.spark
    GraftSql.ensureCatalog(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    // one set-up: it commits Versions + 1 versions, too costly to repeat
    val (root, setupSeconds) = ctx.timed(setUp(ctx, "tickets"))
    val table = "graft.bench.tickets"
    ctx.put("setup_s", setupSeconds, "s")

    ctx.mark("setup")
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val walls = mutable.ArrayBuffer.empty[(String, Double)]
    val scanStats = mutable.ArrayBuffer.empty[(String, Long, Long, Long, Long)]
    val queue = mutable.Queue.empty[Query]
    ctx.loop(minOps = MinBlocks * Block.size, block = Block.size) { _ =>
      if (queue.isEmpty) queue ++= nextBlock(rnd, table)
      val q = queue.dequeue()
      val t0 = System.nanoTime()
      val rows = ctx.span(s"query.${q.kind}") {
        if (ctx.trace) ctx.span("ops.resolve")(SnapshotTable.readTracked(s, root, q.asOf))
        ctx.span("sql.exec") {
          val df = s.sql(q.sql)
          val rows = df.collect().toSeq
          if (ctx.trace) scanStats += scanCounters(q.kind, df, rows.size)
          rows
        }
      }
      walls += ((q.kind, (System.nanoTime() - t0) / 1e9))
      q.check(rows).foreach(e => ctx.errors += s"ticket_queries: $e")
    }

    ctx.mark("loop")
    val all = walls.map(_._2).toSeq
    def kind(k: String) = walls.filter(_._1 == k).map(_._2).toSeq
    ctx.note("mix", Kinds.map(k => f"$k=${kind(k).size} (p50 ${Stats.median(kind(k)) * 1e3}%.0f ms)")
      .mkString(", ") +
      s"; table of ${Versions + 1} versions, ${Appends * PerAppend} rows")
    // every block holds the same mix, so a block's mean is comparable
    // across runs where a single query's kind would not be
    val blockMeans = all.grouped(Block.size).map(b => b.sum / b.size).toSeq
    ctx.put("op_p50_ms", Stats.median(blockMeans) * 1e3, "ms")
    ctx.put("work_per_s", all.size / all.sum, "1/s")
    if (ctx.trace) {
      Recorder.drain(s)
      val execs = Recorder.named("sql.exec")
      def med(f: Span => Double) = Stats.median(execs.map(f))
      ctx.put("sql.planning_ms", med(_.planningMs), "ms")
      ctx.put("sql.jobs_per_query", med(_.jobs.toDouble), "count")
      ctx.put("sql.tasks_per_query", med(_.tasks.toDouble), "count")
      ctx.put("sql.driver_gap_ms", med(Recorder.driverGapSeconds) * 1e3, "ms")
      ctx.put("sql.fs_ops_per_query", med(_.fsOps.toDouble), "count")
      def resolveMs(kinds: Set[String]) = Stats.median(Recorder.spans
        .filter(sp => sp.name == "ops.resolve" && sp.parent.exists(p => kinds(p.name)))
        .map(_.seconds * 1e3))
      ctx.put("ops.resolve_head_ms",
        resolveMs(Kinds.filter(_ != "timetravel").map("query." + _).toSet), "ms")
      ctx.put("ops.resolve_asof_ms", resolveMs(Set("query.timetravel")), "ms")
      ctx.put("ops.rows_read_per_row_returned", Stats.median(scanStats.map {
        case (_, _, _, read, returned) => read.toDouble / math.max(1L, returned)
      }.toSeq), "ratio")
      val points = scanStats.filter(_._1 == "point")
      ctx.put("ops.point_files_scanned", Stats.median(points.map(_._2.toDouble).toSeq), "count")
      ctx.put("ops.point_prune_frac", Stats.median(points.map { case (_, scanned, total, _, _) =>
        if (total == 0) 0.0 else 1.0 - scanned.toDouble / total
      }.toSeq), "ratio")
      ctx.put("e2e.query_p50_ms", Stats.median(all) * 1e3, "ms")
      Stats.tail(all).foreach { case (v, p) =>
        ctx.put("e2e.query_tail_ms", v * 1e3, "ms"); ctx.note("e2e.query_tail_ms", f"p$p%.0f")
      }
      ctx.put("e2e.point_p50_ms", Stats.median(kind("point")) * 1e3, "ms")
      ctx.put("e2e.timetravel_p50_ms", Stats.median(kind("timetravel")) * 1e3, "ms")
    }
  }

  /** (kind, files scanned, files in the version, rows the scans output,
    * rows returned) from the executed plan's file scans. */
  private def scanCounters(kind: String, df: DataFrame, returned: Int) = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val found = scans(df.queryExecution.executedPlan)
    def metric(f: FileSourceScanExec, m: String) = f.metrics.get(m).map(_.value).getOrElse(0L)
    val total = found.map(_.relation.location match {
      case i: SnapshotFileIndex => i.totalFiles.toLong
      case other => other.inputFiles.length.toLong
    }).sum
    (kind, found.map(metric(_, "numFiles")).sum, total,
      found.map(metric(_, "numOutputRows")).sum, returned.toLong)
  }
}
