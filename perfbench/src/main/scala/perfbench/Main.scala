package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and time budget, and
  * helpers to time, record and check. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: File) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val errors = mutable.ArrayBuffer.empty[String]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def note(name: String, text: String): Unit = notes(name) = text
  def check(ok: Boolean, what: => String): Unit = if (!ok) errors += what

  def span[A](name: String)(f: => A): A = Recorder.span(spark, name)(f)

  /** Wall seconds of `f`, with its result. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** A closed loop with one client: run `op` until the time budget is
    * spent, at least `minOps` times and a whole number of `block`s of
    * operations. An operation that throws counts as failed, is not
    * retried and is a wrong answer: the run reports `correct: false`.
    * Returns each successful op's wall seconds. */
  def loop(minOps: Int, block: Int = 1)(op: Int => Unit): Seq[Double] = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || i % block != 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      attempted += 1
      val s = System.nanoTime()
      try { op(i); walls += (System.nanoTime() - s) / 1e9 }
      catch {
        case e: Throwable =>
          failed += 1
          errors += s"operation $i threw: $e"
          System.err.println(s"[perfbench] operation $i failed: $e")
          e.printStackTrace()
      }
      i += 1
    }
    note("op_walls_s", walls.map(w => f"$w%.2f").mkString(" "))
    walls.toSeq
  }

  def dir(name: String): String = new File(work, name).getAbsolutePath

  private var lastMark = System.nanoTime()
  /** Note the wall seconds since the previous mark under `phase`. */
  def mark(phase: String): Unit = {
    val now = System.nanoTime()
    notes("phases") = notes.get("phases").map(_ + ", ").getOrElse("") +
      f"$phase ${(now - lastMark) / 1e9}%.1f s"
    lastMark = now
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest value, with the percentile it stands at. None below
    * eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val i = s.size - 11
      Some((s(i), 100.0 * i / (s.size - 1)))
    }
}

object Main {
  /** Workloads by name. Each runs its set-up, its timed loop and its
    * checks, and records its metrics in the context. */
  val workloads: Map[String, Ctx => Unit] = Map(
    "ticket_sync" -> TicketSyncBench.run,
    "ticket_queries" -> TicketQueriesBench.run,
    "corpus_curation" -> CurationBench.run,
    "vector_search" -> VectorSearchBench.run,
    "fs_selftest" -> FsSelfTest.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val cores = opts.getOrElse("cores", "4").toInt
    val out = new File(opts("out"))
    val body = workloads.getOrElse(name, sys.error(s"unknown workload $name"))

    if (trace) {
      // Every Hadoop Configuration, not only the session's, resolves
      // file: to the counting filesystem.
      org.apache.hadoop.conf.Configuration.addDefaultResource("perfbench-trace-site.xml")
    }
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) Recorder.enable(spark)
    val sessionStart = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, trace, work)
    val t1 = System.nanoTime()
    try body(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.errors += s"workload threw: $e"
    }
    if (trace) {
      Recorder.drain(spark)
      ctx.put("spark.session_start_s", sessionStart, "s")
      perOpMetrics(ctx)
    } else {
      ctx.put("heap_live_mb", liveHeapMb(), "MB")
    }
    ctx.note("wall", f"session $sessionStart%.1f s, workload ${(System.nanoTime() - t1) / 1e9}%.1f s")
    spark.stop()
    writeResult(out, ctx)
  }

  /** The traced run's metrics common to every workload: Spark and
    * filesystem work per loop operation (each top-level span is one), the
    * end-to-end timings as they read with tracing on, and failures. */
  private def perOpMetrics(ctx: Ctx): Unit = {
    val ops = Recorder.spans.filter(_.parent.isEmpty)
    def med(f: Seq[Span] => Double) = Stats.median(ops.map(op => f(op.subtree)))
    ctx.put("spark.jobs", med(_.map(_.jobs).sum.toDouble), "count")
    ctx.put("spark.stages", med(_.map(_.stages).sum.toDouble), "count")
    ctx.put("spark.tasks", med(_.map(_.tasks).sum.toDouble), "count")
    ctx.put("spark.cpu_s", med(_.map(_.cpuNs).sum / 1e9), "s")
    ctx.put("spark.run_s", med(_.map(_.runMs).sum / 1e3), "s")
    ctx.put("spark.driver_gap_s", Stats.median(ops.map(Recorder.driverGapSeconds)), "s")
    ctx.put("spark.planning_ms", med(_.map(_.planningMs).sum), "ms")
    ctx.put("spark.input_bytes", med(_.map(_.inputBytes).sum.toDouble), "B")
    ctx.put("spark.shuffle_write_bytes", med(_.map(_.shuffleWriteBytes).sum.toDouble), "B")
    ctx.put("spark.spill_bytes", med(_.map(_.spillBytes).sum.toDouble), "B")
    ctx.put("fs.ops_per_op", med(_.map(_.fsOps).sum.toDouble), "count")
    for (name <- Seq("op_p50_ms", "setup_s"))
      ctx.metrics.remove(name).foreach { case (v, u) => ctx.put(s"trace.$name", v, u) }
    ctx.metrics.remove("work_per_s")
    ctx.put("ops_failed_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
  }

  /** Driver heap in use after full collections. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonNumber(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def writeResult(out: File, ctx: Ctx): Unit = {
    val metrics = ctx.metrics.map { case (k, (v, u)) =>
      s"${jsonString(k)}: {\"value\": ${jsonNumber(v)}, \"unit\": ${jsonString(u)}}"
    }.mkString(", ")
    val notes = ctx.notes.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString(", ")
    val errors = ctx.errors.map(jsonString).mkString(", ")
    val w = new PrintWriter(out, "UTF-8")
    try w.println(s"""{"correct": ${ctx.errors.isEmpty}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$metrics}, "notes": {$notes}, """ +
      s""""errors": [$errors]}""")
    finally w.close()
  }
}
