package graft.streaming

import graft.ops.SnapshotTable
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

/** First-class streaming WRITE into a SnapshotTable (round 12):
  *
  * {{{
  *   df.writeStream.format("graft")
  *     .option("table", "graft.ns.t")        // or .option("root", "/path")
  *     .option("checkpointLocation", ckpt)
  *     .outputMode("append")                  // or "complete"
  *     .start()
  * }}}
  *
  * Exactly-once falls out of the table format, not the sink: every
  * micro-batch lands through [[SnapshotTable.appendOnce]] (append mode) or
  * [[SnapshotTable.commitOnce]] (complete mode — a standing aggregate
  * re-materialized per batch), whose manifest-stamped (appId, batchId)
  * makes a replayed batch — crash between sink write and checkpoint
  * advance, the classic at-least-once window — a detected no-op. The
  * provider form makes it a plain `format("graft")` string so a pipeline
  * spec needs no Scala closure, and the written table serves every engine
  * surface (time travel, CDF, DESCRIBE HISTORY, SQL DML) the moment the
  * first batch lands.
  *
  * The micro-batch handed to a V1 [[Sink]] still carries the streaming
  * flag and an incremental plan; re-planning it through `DataFrame` writes
  * would re-execute the query. [[org.apache.spark.sql.graft.StreamBatch]]
  * re-wraps the ALREADY-PLANNED rows as a plain batch frame — the
  * DeltaSink pattern.
  *
  * Update mode is the keyed-merge form: `option("mergeKeys", "k1,k2")`
  * upserts each micro-batch's post-images by key
  * ([[SnapshotTable.upsert]]) — the reference's sync loop (fetch →
  * MERGE, main.py:349-358) as one option string, no foreachBatch
  * closure. Replay-idempotent by merge semantics (same post-images land
  * on the same keys) rather than by ledger stamp. Without `mergeKeys`,
  * Update mode is refused. */
class GraftSinkProvider extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft tables cluster via OPTIMIZE ZORDER BY, not partition columns")
    val mergeKeys = parameters.get("mergeKeys").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    require(outputMode != OutputMode.Update() || mergeKeys.nonEmpty,
      "graft sink in Update mode needs option 'mergeKeys' (comma-separated " +
        "key columns) — each micro-batch then upserts by key")
    require(outputMode == OutputMode.Append() || outputMode == OutputMode.Complete() ||
        outputMode == OutputMode.Update(),
      s"unsupported output mode $outputMode")
    val root = GraftSinkProvider.rootOf(parameters)
    // The idempotence key: stable across restarts. checkpointLocation is
    // the natural default (it IS the stream's identity); txnAppId lets two
    // streams share a checkpoint-less test rig or a renamed checkpoint
    // keep its ledger. Update mode needs none — a keyed upsert is
    // idempotent by its own semantics (replaying a batch re-lands the
    // same post-images).
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse {
        if (outputMode == OutputMode.Update()) "graft-sink-update"
        else throw new IllegalArgumentException(
          "graft sink needs option 'txnAppId' or a checkpointLocation " +
            "(the exactly-once ledger key)")
      }
    new GraftSink(root, appId, outputMode, mergeKeys)
  }
}

object GraftSinkProvider {
  /** Same table addressing as the CDF source: `root` (path) or `table`
    * (`graft.ns.t` through the registered catalog). */
  private[streaming] def rootOf(params: Map[String, String]): String =
    params.get("root").orElse(params.get("table").map { name =>
      val parts = name.split("\\.").toSeq
      require(parts.length >= 2,
        s"graft sink option 'table' needs catalog.[ns.]table, got $name")
      org.apache.spark.sql.SparkSession.active
        .sessionState.catalogManager.catalog(parts.head) match {
          case g: graft.sql.GraftCatalog =>
            g.rootOf(org.apache.spark.sql.connector.catalog.Identifier.of(
              parts.slice(1, parts.length - 1).toArray, parts.last))
          case other => throw new IllegalArgumentException(
            s"${parts.head} is not a graft catalog (${other.getClass.getName})")
        }
    }).getOrElse(throw new IllegalArgumentException(
      "graft sink needs option 'root' (a SnapshotTable path) or 'table' (graft.ns.t)"))
}

private[streaming] class GraftSink(root: String, appId: String,
                                   mode: OutputMode,
                                   mergeKeys: Seq[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val batch = org.apache.spark.sql.graft.StreamBatch.asBatch(data)
    if (mode == OutputMode.Update())
      // Keyed merge per micro-batch (the reference's sync loop as a pure
      // option string): Update mode emits each aggregate group's LATEST
      // post-image, which is exactly upsert's input contract. Idempotent
      // under replay by merge semantics — the same post-images land on
      // the same keys — rather than by ledger stamp (a replayed batch is
      // a no-op state change, not a skipped commit).
      SnapshotTable.upsert(spark, root, batch, mergeKeys)
    else if (mode == OutputMode.Complete())
      SnapshotTable.commitOnce(spark, root, batch, appId, batchId)
    else
      SnapshotTable.appendOnce(spark, root, batch, appId, batchId)
    ()
  }

  override def toString: String = s"GraftSink[$root, mode=$mode]"
}
