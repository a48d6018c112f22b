package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one attribution target: a span, the standing streaming
  * subscriber, or work no span owns. Filesystem counters are updated from
  * any thread; Spark counters only from the listener thread and read after
  * [[Recorder.drain]]. */
class Bucket(val key: String) {
  private val fs = Array.fill(FsOp.maxId)(new LongAdder)
  private val fsWritten = new LongAdder
  def countFs(op: FsOp.Value): Unit = fs(op.id).increment()
  def absorbFs(b: Bucket): Unit = {
    FsOp.values.foreach(op => fs(op.id).add(b.fsCount(op)))
    fsWritten.add(b.fsBytes)
  }
  def addFsBytes(n: Long): Unit = fsWritten.add(n)
  def fsCount(op: FsOp.Value): Long = fs(op.id).sum()
  def fsOps: Long = fs.map(_.sum()).sum
  def fsBytes: Long = fsWritten.sum()

  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planningMs = 0.0
  /** (start, end) wall-clock ms of each finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** A timed call the benchmark makes into one layer. Spans nest; a span's
  * Spark jobs are tied to it through the job group the client thread
  * carries while the span is open. */
final class Span(val id: Long, val name: String, val parent: Option[Span],
                 val startMs: Long, val startNs: Long) extends Bucket(s"perfbench-span-$id") {
  var endNs: Long = startNs
  var endMs: Long = startMs
  val children = mutable.ArrayBuffer.empty[Span]
  def seconds: Double = (endNs - startNs) / 1e9
  def subtree: Seq[Span] = this +: children.toSeq.flatMap(_.subtree)
}

/** Span and counter recorder for the traced run. Spans are kept in memory
  * and read when the run ends. With tracing off [[span]] only runs its
  * body: no listener, no job groups, no filesystem counting. */
object Recorder {
  @volatile private var enabled = false
  @volatile private var clientThread: Thread = _
  @volatile private var sc: org.apache.spark.SparkContext = _
  @volatile private var current: Option[Span] = None
  private var nextId = 0L
  private val finished = mutable.ArrayBuffer.empty[Span]

  private val byGroup = new ConcurrentHashMap[String, Bucket]()
  val unowned = new Bucket("unowned")
  val stream = new Bucket("stream")
  private val streamRunIds = ConcurrentHashMap.newKeySet[String]()

  // listener-thread state
  private val stageBucket = mutable.HashMap.empty[Int, Bucket]
  private val jobBucket = mutable.HashMap.empty[Int, (Bucket, Long)]
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val queryExec = new ConcurrentHashMap[Long, Long]()
  private val phaseMs = new ConcurrentHashMap[Long, java.lang.Double]()

  private def bucketOfGroup(group: String): Bucket =
    if (group == null) unowned
    else if (streamRunIds.contains(group)) stream
    else byGroup.computeIfAbsent(group, g => new Bucket(g))

  /** Where a filesystem call on the calling thread is counted: a task by
    * its job's group, the client thread by its open span, the stream
    * execution thread as the subscriber, any other thread by the job group
    * it inherited from the thread that started it. */
  def fsBucket(): Bucket = {
    val tc = TaskContext.get()
    val t = Thread.currentThread()
    if (tc != null) bucketOfGroup(tc.getLocalProperty("spark.jobGroup.id"))
    else if (t eq clientThread) current.getOrElse(unowned)
    else if (t.getName.startsWith("stream execution thread")) stream
    else Option(sc).map(c => bucketOfGroup(c.getLocalProperty("spark.jobGroup.id")))
      .getOrElse(unowned) // a helper thread, by the job group it inherited
  }

  /** Install the listeners; call on the client thread before any work. */
  def enable(spark: SparkSession): Unit = {
    enabled = true
    clientThread = Thread.currentThread()
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        recordPhases(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        recordPhases(qe)
    })
  }

  private def recordPhases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs.toDouble).sum
    phaseMs.put(qe.id, ms)
  }

  /** Tie a streaming query's jobs (its job group is its run id) to the
    * subscriber bucket. */
  def registerStream(runId: String): Unit = {
    streamRunIds.add(runId)
    // counts that arrived before the run id was known
    Option(byGroup.remove(runId)).foreach(stream.absorbFs)
  }

  /** Time `f` as a span named `name` under the currently open span. */
  def span[A](spark: SparkSession, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      nextId += 1
      val s = new Span(nextId, name, current, System.currentTimeMillis(), System.nanoTime())
      byGroup.put(s.key, s)
      current.foreach(_.children += s)
      val parent = current
      current = Some(s)
      sc.setJobGroup(s.key, name, interruptOnCancel = false)
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        current = parent
        parent match {
          case Some(p) => sc.setJobGroup(p.key, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        if (parent.isEmpty) finished += s
      }
    }

  /** Wait until the listener has seen every event posted so far, then
    * attribute Catalyst phase times to the spans that ran the queries. */
  def drain(spark: SparkSession): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
    phaseMs.asScala.foreach { case (queryId, ms) =>
      val group = Option(queryExec.get(queryId)).flatMap(e => Option(execGroup.get(e)))
      bucketOfGroup(group.orNull).planningMs += ms
    }
    phaseMs.clear()
  }

  /** Every top-level span finished so far, with its descendants. */
  def spans: Seq[Span] = finished.toSeq.flatMap(_.subtree)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Span wall minus the union of its subtree's job intervals, in s. */
  def driverGapSeconds(s: Span): Double = {
    val iv = s.subtree.flatMap(_.jobIntervals)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.seconds - covered / 1e3)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val b = bucketOfGroup(group)
      b.jobs += 1
      jobBucket(e.jobId) = (b, e.time)
      e.stageIds.foreach(stageBucket(_) = b)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobBucket.remove(e.jobId).foreach { case (b, t0) => b.jobIntervals += ((t0, e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageBucket.get(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val b = stageBucket.getOrElse(e.stageId, unowned)
      b.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        b.runMs += m.executorRunTime
        b.cpuNs += m.executorCpuTime
        b.inputBytes += m.inputMetrics.bytesRead
        b.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        b.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case s: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSql.queryId(s).foreach(q => queryExec.put(q, s.executionId))
      case _ =>
    }
  }
}
