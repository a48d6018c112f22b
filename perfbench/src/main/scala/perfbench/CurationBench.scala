package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import graft.Tables
import graft.ext.{EndToEnd, TextAnalysis}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** `corpus_curation`: the eight-stage crawl → training-corpus chain,
  * `EndToEnd.endToEndReport`, over a seeded corpus ([[CorpusGen]]). Each
  * loop operation runs the whole chain and collects its report; every
  * report must equal the warm-up chain's, which is written out with the
  * corpus and the registered DuckDB oracle text so `perfbench/oracle.py`
  * can recompute it independently. */
object CurationBench {
  val Docs = 300
  val SetUps = 15

  def run(ctx: Ctx): Unit = {
    val s = ctx.spark
    // A set-up writes the corpus and loads it through the program's table
    // loader (its schema read and cache), which the chains then reuse.
    // Repeated into fresh directories, so every load misses that cache.
    val setups = (0 until SetUps).map { r =>
      val dir = ctx.dir(s"curation-$r")
      ctx.timed { CorpusGen.write(s, ctx.seed, Docs, dir); Tables(s, dir, "documents") }._2 -> dir
    }
    val dir = setups.last._2
    ctx.put("setup_s", Stats.median(setups.map(_._1)), "s")
    ctx.note("setup_walls_s", setups.map(w => f"${w._1}%.2f").mkString(" "))

    ctx.mark("setup")
    // one untimed chain warms the JIT and code generation for the loop
    val warm = EndToEnd.endToEndReport(s, dir).collect().toSeq
    ctx.mark("warm-up")

    val reports = mutable.ArrayBuffer.empty[Seq[Row]]
    val survivors = mutable.ArrayBuffer.empty[Long]
    val walls = ctx.loop(minOps = 2) { _ =>
      reports += ctx.span("curation.run") {
        if (!ctx.trace) EndToEnd.endToEndReport(s, dir).collect().toSeq
        else tracedChain(ctx, dir, survivors)
      }
    }

    ctx.mark("loop")
    // ---- correctness: every report equal; the warm-up's goes to the oracle
    reports.zipWithIndex.foreach { case (r, i) =>
      ctx.check(r == warm, s"corpus_curation: report $i differs from the warm-up's")
    }
    val out = new File(ctx.work, "curation")
    out.mkdirs()
    writeLines(new File(out, "report.tsv"), warm.map(_.toSeq.mkString("\t")))
    writeLines(new File(out, "oracle.sql"),
      Seq(EndToEnd.qs.find(_.name == "x_pipeline_end_to_end").flatMap(_.sql).get))
    writeLines(new File(out, "documents.path"), Seq(s"$dir/documents.parquet"))
    ctx.mark("checks")
    ctx.note("corpus", s"$Docs docs, exact dups ${CorpusGen.ExactDupRate}, " +
      s"near dups ${CorpusGen.NearDupRate}, eval leaks ${CorpusGen.LeakRate}; " +
      s"${walls.size} chains")

    ctx.put("op_p50_ms", Stats.median(walls) * 1e3, "ms")
    ctx.put("work_per_s", Docs * walls.size / walls.sum, "1/s")
    if (ctx.trace) {
      Recorder.drain(s)
      for (stage <- Seq("gate", "exact_dedup", "near_dedup", "curate", "pack"))
        ctx.put(s"ext.${stage}_s", Stats.median(Recorder.named(s"ext.$stage").map(_.seconds)), "s")
      ctx.put("ext.survivor_frac", Stats.median(survivors.map(_.toDouble / Docs).toSeq), "ratio")
      ctx.put("e2e.curation_p50_s", Stats.median(walls), "s")
    }
  }

  /** The same chain stage by stage, each stage's output materialised
    * inside its own span. It copies `EndToEnd.endToEndReport`'s
    * composition and must follow it when that changes; its report is
    * checked against the warm-up chain's, which is the program's own call. */
  private def tracedChain(ctx: Ctx, dir: String, survivors: mutable.ArrayBuffer[Long]): Seq[Row] = {
    val s = ctx.spark
    val gate = ctx.span("ext.gate")(
      EndToEnd.ingestGate(Tables(s, dir, "documents")).localCheckpoint())
    val ex = ctx.span("ext.exact_dedup")(EndToEnd.exactDedup(gate).localCheckpoint())
    val nd = ctx.span("ext.near_dedup")(EndToEnd.nearDedup(ex)
      .withColumn("toks", TextAnalysis.tokens(col("text"))).localCheckpoint())
    val qual = ctx.span("ext.curate")(EndToEnd.curate(s, dir, nd).localCheckpoint())
    survivors += qual.count()
    ctx.span("ext.pack")(EndToEnd.report(EndToEnd.splitAndPack(qual),
      EndToEnd.mixtureShares(qual)).collect().toSeq)
  }

  private def writeLines(f: File, lines: Seq[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
