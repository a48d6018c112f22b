package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MERGE-upsert re-expressed as joins (SURVEY.md §2.3 J4; reference semantics
  * /root/reference/main.py:349-384): matched target rows are fully overwritten
  * by the source (`UPDATE SET` every non-key column, main.py:354), unmatched
  * source rows are inserted (main.py:355-357). Landing a batch in a table —
  * including the bootstrap of a missing target (main.py:369-373) — is
  * [[SnapshotTable.upsert]]'s job, through the table's one commit seam.
  *
  * Scale notes: the merge is one shuffle join on the key — no driver-side ID
  * sets (the reference's client-side set at main.py:96 does not scale). When
  * the source is a small delta against a huge target, Catalyst/AQE broadcasts
  * the source side of the anti join automatically; rows never round-trip
  * through the driver.
  */
object Upsert {

  /** Last-write-wins pre-dedup of the source on `keys`, ordering by
    * `versionCol` descending (the reference can see the same ticket id on two
    * pages; SQL MERGE would error on duplicate source keys — SURVEY.md §7). */
  def latestPerKey(source: DataFrame, keys: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc_nulls_last)
    source.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Core MERGE: source wins on key match; target rows with no source match
    * survive; source-only rows are inserted. Source must be key-unique
    * (use latestPerKey first when it is not). */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    source.unionByName(target.join(source, keys, "left_anti"))

  /** Equivalent full-outer formulation — same result, exercises the coalesce
    * shape from SURVEY.md §3.3. Used by property tests to cross-check merge. */
  def mergeFullOuter(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val t = target.alias("t")
    val s = source.alias("s")
    val cond: Column = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val cols = target.columns.map { c =>
      if (keys.contains(c)) coalesce(col(s"s.$c"), col(s"t.$c")).as(c)
      else when(keys.map(k => col(s"s.$k").isNotNull).reduce(_ && _), col(s"s.$c"))
        .otherwise(col(s"t.$c")).as(c)
    }
    t.join(s, cond, "full_outer").select(cols.toIndexedSeq: _*)
  }
}
