package perfbench

import org.apache.spark.sql.SparkSession

/** Seeded corpus in the shape of the `documents` fixture table
  * (doc_id, text, lang, source, n_chars): space-separated words from a
  * small technical vocabulary, 20 sources. A stated share of documents
  * are exact copies of an earlier document, a share are near copies of a
  * document a few ids earlier (a few words changed, so the bounded-window
  * n-gram Jaccard pass finds them), and a share quote a long span of one
  * of the eval documents 0–9 (so decontamination drops them). */
object CorpusGen {
  val Vocabulary: Array[String] = ("batch part spark line column order small sort fast value " +
    "scan hash slow group agg filter query a big key window row table stream merge data " +
    "join vector customer the").split(" ")
  val ExactDupRate = 0.05
  val NearDupRate = 0.05
  val LeakRate = 0.02
  val Sources = 20

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  def docs(seed: Long, n: Int): Seq[Doc] = {
    val rnd = new java.util.SplittableRandom(seed)
    def words(k: Int): Array[String] = Array.fill(k)(Vocabulary(rnd.nextInt(Vocabulary.length)))
    val texts = new Array[Array[String]](n)
    for (i <- 0 until n) {
      val r = rnd.nextDouble()
      texts(i) =
        if (i >= 10 && r < ExactDupRate) texts(rnd.nextInt(i)).clone()
        else if (i >= 10 && r < ExactDupRate + NearDupRate) {
          val src = texts(i - 1 - rnd.nextInt(math.min(i, 15)))
          val t = src.clone()
          (0 until math.max(1, t.length / 20)).foreach(_ => t(rnd.nextInt(t.length)) =
            Vocabulary(rnd.nextInt(Vocabulary.length)))
          t
        } else if (i >= 10 && r < ExactDupRate + NearDupRate + LeakRate) {
          val eval = texts(rnd.nextInt(10))
          val from = rnd.nextInt(math.max(1, eval.length - 12))
          words(5 + rnd.nextInt(20)) ++ eval.slice(from, from + 12) ++ words(5 + rnd.nextInt(20))
        } else words(8 + rnd.nextInt(80))
    }
    texts.indices.map { i =>
      val t = texts(i).mkString(" ")
      Doc(i.toLong, t, "en", s"src${i % Sources}", t.length.toLong)
    }
  }

  /** Write the corpus as `<dir>/documents.parquet`. */
  def write(s: SparkSession, seed: Long, n: Int, dir: String): Unit = {
    import s.implicits._
    docs(seed, n).toDS().coalesce(1).write.parquet(s"$dir/documents.parquet")
  }
}
