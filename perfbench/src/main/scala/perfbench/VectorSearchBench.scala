package perfbench

import scala.collection.mutable

import graft.ext.{ProductQuant, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `vector_search`: seeded, clustered 64-d embeddings in the shape of the
  * `embeddings` fixture table (vec_id, embedding, label). Set-up builds the
  * IVFADC index (`ProductQuant.ivfadcBuild`); the loop sends seeded batches
  * of query vectors through `ProductQuant.ivfadcTopKAll` and scores each
  * batch's recall@10 against an exact brute-force top 10. */
object VectorSearchBench {
  val Vectors = 8000
  val Dim = 64
  val Clusters = 16
  val Batch = 20
  val K = 10
  val Lists = 8
  val Probe = 2
  val SetUps = 1
  val MinRecall = 0.3

  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Qry(q_id: Long, q_embedding: Array[Float])

  /** Gaussian clusters around seeded centres. */
  def vectors(seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val centres = Array.fill(Clusters, Dim)(rnd.nextGaussian())
    Array.tabulate(Vectors) { i =>
      val c = centres(i % Clusters)
      Array.tabulate(Dim)(d => (c(d) + 0.35 * rnd.nextGaussian()).toFloat)
    }
  }

  def write(s: SparkSession, data: Array[Array[Float]], dir: String): Unit = {
    import s.implicits._
    data.indices.map(i => Emb(i.toLong, data(i), i % Clusters)).toDS()
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-K vec_ids by cosine similarity, ties to the smaller id. */
  def exactTopK(data: Array[Array[Float]], q: Array[Float]): Set[Long] =
    data.indices.map(i => (cosine(data(i), q), i))
      .sortBy { case (sim, i) => (-sim, i) }.take(K).map(_._2.toLong).toSet

  def run(ctx: Ctx): Unit = {
    val s = ctx.spark
    val data = vectors(ctx.seed)
    val setups = (0 until SetUps).map { r =>
      val dir = ctx.dir(s"vectors-$r")
      ctx.timed {
        val a = ctx.timed(write(s, data, dir))._2
        val b = ctx.timed(Similarity.ivfBuild(s, dir, Lists))._2
        val c = ctx.timed(ProductQuant.ivfadcBuild(s, dir, lists = Lists))._2
        ctx.note("build", f"write $a%.2f ivf $b%.2f pq $c%.2f")
      }._2 -> dir
    }
    val dir = setups.last._2
    ctx.put("setup_s", Stats.median(setups.map(_._1)), "s")

    ctx.mark("setup")
    val rnd = new scala.util.Random(ctx.seed * 31 + 7)
    val recalls = mutable.ArrayBuffer.empty[Double]
    val candidates = mutable.ArrayBuffer.empty[Double]
    var nextQ = 1000000L // query ids never collide with vec_ids
    lazy val listSizes: Map[Long, Long] = Similarity.ivfAssignments(s, dir, Lists)
      .groupBy("list_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lazy val centroids: Seq[(Long, Array[Float])] = Similarity.ivfCentroids(s, dir, Lists)
      .collect().toSeq.map(r => r.getLong(0) -> r.getSeq[Double](1).map(_.toFloat).toArray)
    val walls = ctx.loop(minOps = 3) { _ =>
      val qs = Array.fill(Batch) {
        val base = data(rnd.nextInt(Vectors))
        nextQ += 1
        Qry(nextQ, base.map(x => (x + 0.2 * rnd.nextGaussian()).toFloat))
      }
      import s.implicits._
      val qdf: DataFrame = qs.toSeq.toDS().toDF()
      val rows = ctx.span("search.batch")(
        ProductQuant.ivfadcTopKAll(s, dir, qdf, K, lists = Lists, probe = Probe).collect())
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      recalls += Stats.median(qs.toSeq.map { q =>
        (got.getOrElse(q.q_id, Set.empty[Long]) intersect exactTopK(data, q.q_embedding)).size
          .toDouble / K
      })
      if (ctx.trace) candidates += Stats.median(qs.toSeq.map { q =>
        centroids.map { case (l, c) => (BigDecimal(cosine(c, q.q_embedding))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP), l) }
          .sortBy { case (sim, l) => (-sim, l) }.take(Probe)
          .map { case (_, l) => listSizes.getOrElse(l, 0L).toDouble }.sum
      })
    }
    ctx.mark("loop")
    val recall = recalls.sum / math.max(1, recalls.size)
    ctx.check(recall >= MinRecall,
      f"vector_search: recall@$K $recall%.3f is below $MinRecall against exact search")
    ctx.note("index", s"$Vectors vectors x $Dim dims in $Clusters clusters, IVFADC " +
      s"$Lists lists, probe $Probe; batches of $Batch queries; ${walls.size} batches")

    ctx.put("op_p50_ms", Stats.median(walls) * 1e3, "ms")
    ctx.put("work_per_s", Batch * walls.size / walls.sum, "1/s")
    if (ctx.trace) {
      Recorder.drain(s)
      val batches = Recorder.named("search.batch")
      def med(f: Span => Double) = Stats.median(batches.map(f))
      ctx.put("ext.search_jobs", med(_.jobs.toDouble), "count")
      ctx.put("ext.search_planning_ms", med(_.planningMs), "ms")
      ctx.put("ext.search_driver_gap_s", med(Recorder.driverGapSeconds), "s")
      ctx.put("ext.search_cpu_s", med(_.cpuNs / 1e9), "s")
      ctx.put("ext.search_shuffle_bytes", med(_.shuffleWriteBytes.toDouble), "B")
      ctx.put("ext.candidates_per_query", Stats.median(candidates.toSeq), "count")
      ctx.put("ext.build_s", setups.last._1, "s")
      ctx.put("e2e.search_p50_s", Stats.median(walls), "s")
      ctx.put("e2e.search_recall_at_10", recall, "ratio")
    }
  }
}
