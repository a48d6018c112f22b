package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Property tests for the MERGE combinator (SURVEY.md §5): idempotence,
  * key-cardinality invariant, full-outer formulation equivalence and the
  * source's last-write-wins pre-dedup. */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)

  /** Random key-unique frames sharing a schema (k, v1, v2). */
  private def frame(keys: Seq[Int]): DataFrame =
    keys.map(k => (k.toLong, s"v${rnd.nextInt(100)}", rnd.nextDouble()))
      .toDF("k", "v1", "v2")

  private def canon(df: DataFrame): Seq[String] =
    df.orderBy("k").collect().map(_.toString).toSeq

  test("property: merge idempotence + key cardinality (20 random cases)") {
    (1 to 20).foreach { _ =>
      val tKeys = (1 to 30).filter(_ => rnd.nextBoolean())
      val sKeys = (1 to 30).filter(_ => rnd.nextBoolean())
      val t = frame(tKeys)
      val s = frame(sKeys)
      val once = Upsert.merge(t, s, Seq("k"))
      // |t ⋈full s| == |keys(t) ∪ keys(s)|
      assert(once.count() == (tKeys.toSet ++ sKeys.toSet).size)
      // merge(merge(t,s),s) == merge(t,s)
      assert(canon(Upsert.merge(once, s, Seq("k"))) == canon(once))
      // full-outer+coalesce formulation agrees with anti-join+union
      assert(canon(Upsert.mergeFullOuter(t, s, Seq("k"))) == canon(once))
    }
  }

  test("source wins on every matched key; target survives elsewhere") {
    val t = Seq((1L, "old", 1.0), (2L, "keep", 2.0)).toDF("k", "v1", "v2")
    val s = Seq((1L, "new", 9.0), (3L, "ins", 3.0)).toDF("k", "v1", "v2")
    val m = Upsert.merge(t, s, Seq("k")).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    assert(m == Seq((1L, "new", 9.0), (2L, "keep", 2.0), (3L, "ins", 3.0)))
  }

  test("latestPerKey keeps the newest version per key") {
    val src = Seq((1L, 100L, "a"), (1L, 300L, "c"), (1L, 200L, "b"), (2L, 50L, "x"))
      .toDF("k", "ver", "v")
    val out = Upsert.latestPerKey(src, Seq("k"), "ver").orderBy("k")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((1L, 300L, "c"), (2L, 50L, "x")))
  }
}
