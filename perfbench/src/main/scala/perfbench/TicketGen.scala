package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Seeded ticket stream for the sync workloads. Ticket `n` is created at
  * `base + 60 n` and is first stored with `updated = created + 3600`. The
  * generator keeps the truth: every ticket's expected update time. */
final class TicketGen(seed: Long) {
  import TicketGen._

  private val rnd = new java.util.SplittableRandom(seed)
  private val updated = mutable.ArrayBuffer.empty[Long]
  def size: Int = updated.size
  def created(n: Int): Long = Base + n * 60L
  def expectedUpdated(n: Int): Long = updated(n)

  /** One sync batch: `nos(j)` and `deltas(j)` (updated − created) for each
    * of the source's PageSize × Pages slots, and how many rows insert and
    * update. */
  final case class Batch(nos: Array[Int], deltas: Array[Long], inserts: Int, updates: Int)

  /** Tickets 0 until n, as stored by the pre-grown table. */
  def grow(n: Int): Unit =
    while (updated.size < n) updated += created(updated.size) + 3600L

  /** The next batch: about a quarter updates of existing tickets, skewed to
    * recent ones (newer than what is stored, so they must apply), one page
    * of stale updates (older than anything stored, so the newer-wins arm
    * must refuse them), and new tickets for the rest. */
  def nextBatch(): Batch = {
    val slots = PageSize * Pages
    val nUpdates = slots / 4 - 50 + rnd.nextInt(101)
    val stalePage = rnd.nextInt(Pages)
    val existing = updated.size
    val taken = mutable.HashSet.empty[Int]
    def pickRecent(): Int = {
      var n = -1
      while (n < 0 || taken(n)) {
        val u = rnd.nextDouble()
        n = existing - 1 - (u * u * u * existing).toInt
      }
      taken += n
      n
    }
    val stale = Array.fill(PageSize)(pickRecent())
    val upd = Array.fill(nUpdates)(pickRecent())
    val nNew = slots - PageSize - nUpdates
    val fresh = Array.tabulate(nNew)(i => existing + i)
    // the non-stale slots hold updates and new tickets in a seeded order
    val mixed = (upd.map(n => (n, true)) ++ fresh.map(n => (n, false))).toBuffer
    for (i <- mixed.indices.reverse) {
      val k = rnd.nextInt(i + 1)
      val t = mixed(i); mixed(i) = mixed(k); mixed(k) = t
    }
    val nos = new Array[Int](slots)
    val deltas = new Array[Long](slots)
    var m = 0
    for (j <- 0 until slots) {
      if (j / PageSize == stalePage) {
        val n = stale(j % PageSize)
        nos(j) = n; deltas(j) = 1800L
      } else {
        val (n, isUpdate) = mixed(m); m += 1
        nos(j) = n
        deltas(j) =
          if (isUpdate) updated(n) - created(n) + 600L + rnd.nextInt(3600)
          else 3600L
      }
    }
    // apply the batch to the truth: new tickets, then newer-wins updates
    fresh.foreach(n => updated += created(n) + 3600L)
    for (j <- 0 until slots if j / PageSize != stalePage) {
      val n = nos(j)
      val u = created(n) + deltas(j)
      if (u > updated(n)) updated(n) = u
    }
    Batch(nos, deltas, nNew, nUpdates)
  }
}

object TicketGen {
  val Base = 1600000000L
  val PageSize = 100
  val Pages = 20

  /** The `ticket-pages` source's rows, reshaped so slot j carries ticket
    * `b.nos(j)` (`_id`, `createdTimestamp`) and its update offset `delta`. */
  def shape(pages: DataFrame, b: TicketGen#Batch): DataFrame = {
    val j = substring(col("_id"), 2, 6).cast("int") + 1
    val n = element_at(typedLit(b.nos.toSeq), j)
    pages.select(
      format_string("T%07d", n).as("_id"),
      col("page"),
      (lit(Base) + n.cast("long") * 60L).as("createdTimestamp"),
      col("subject"),
      element_at(typedLit(b.deltas.toSeq), j).as("delta"))
  }

  /** Tickets lo until hi in the source's shape, stored as first created. */
  def range(s: SparkSession, lo: Int, hi: Int): DataFrame =
    s.range(lo, hi).select(
      format_string("T%07d", col("id")).as("_id"),
      (col("id") / PageSize).cast("int").as("page"),
      (lit(Base) + col("id") * 60L).as("createdTimestamp"),
      concat(lit("Ticket <b>"), col("id").cast("string"), lit("</b> &amp; update"))
        .as("subject"),
      lit(3600L).as("delta"))

  def pages(s: SparkSession): DataFrame =
    s.read.format("ticket-pages")
      .option("pages", Pages.toString).option("pageSize", PageSize.toString).load()

  def delta: Column = col("delta")
}
