package graft.ops

import graft.SparkSpec
import graft.ops.MergeInto.{DeleteClause, InsertClause, UpdateClause}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Clause-level semantics of the declarative MERGE builder plus the
  * property pinning it to `Upsert.merge` on the unconditional case. */
class MergeIntoSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)

  private def frame(keys: Seq[Int]): DataFrame =
    keys.map(k => (k.toLong, s"v${rnd.nextInt(100)}", rnd.nextDouble()))
      .toDF("k", "v1", "v2")

  private def canon(df: DataFrame): Seq[String] =
    df.orderBy("k").collect().map(_.toString).toSeq

  test("property: updateAll+insertAll ≡ Upsert.merge (20 random cases)") {
    (1 to 20).foreach { _ =>
      val t = frame((1 to 30).filter(_ => rnd.nextBoolean()))
      val s = frame((1 to 30).filter(_ => rnd.nextBoolean()))
      val declarative = MergeInto.into(t).using(s).on("k")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().result()
      assert(canon(declarative) == canon(Upsert.merge(t, s, Seq("k"))))
    }
  }

  test("matched delete beats update; conditions gate each clause") {
    val t = Seq((1L, "t1", 1.0), (2L, "t2", 2.0), (3L, "t3", 3.0)).toDF("k", "v1", "v2")
    val s = Seq((1L, "s1", 9.0), (2L, "s2", 0.5), (4L, "s4", 9.0), (5L, "s5", 0.5))
      .toDF("k", "v1", "v2")
    val out = MergeInto.into(t).using(s).on("k")
      .whenMatchedDelete(col("s.v2") < 1.0)        // kills k=2
      .whenMatchedUpdateAll()                      // updates k=1
      .whenNotMatchedInsertAll(Some(col("s.v2") > 1.0)) // inserts k=4, drops k=5
      .result()
    assert(canon(out) == Seq("[1,s1,9.0]", "[3,t3,3.0]", "[4,s4,9.0]"))
  }

  test("no insert clause drops source-only rows; no update keeps target values") {
    val t = Seq((1L, "t1", 1.0)).toDF("k", "v1", "v2")
    val s = Seq((1L, "s1", 9.0), (2L, "s2", 2.0)).toDF("k", "v1", "v2")
    val out = MergeInto.into(t).using(s).on("k").result()
    assert(canon(out) == Seq("[1,t1,1.0]"))
  }

  test("merge lowers to one join (no extra shuffles of the target)") {
    val t = frame(1 to 20)
    val s = frame(5 to 25)
    val df = MergeInto.into(t).using(s).on("k")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().result()
    df.write.format("noop").mode("overwrite").save() // finalize AQE subtrees
    val p0 = df.queryExecution.executedPlan
    val plans = p0 +: p0.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
    }
    val joins = plans.flatMap(_.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    })
    assert(joins.size == 1, s"expected exactly one join, got: $joins")
  }

  test("table-level mergeInto: file-granular commit, CDC telescopes to the final state") {
    val root = s"${tmpDir()}/t"
    // Range-clustered bootstrap: keys 1..40 in 4 files of 10; the merge
    // source touches keys 5..12 only, so exactly 2 files rewrite.
    val v0 = SnapshotTable.commitClustered(spark, root,
      frame(1 to 40), Seq("k"), numFiles = 4)
    val filesBefore = SnapshotTable.history(spark, root)
      .filter(col("version") === v0).select("num_files").head().getLong(0)
    assert(filesBefore == 4L)
    val src = frame(5 to 12).withColumn("v1", lit("merged"))
      .unionAll(frame(100 to 102).withColumn("v1", lit("new")))
    val v1 = SnapshotTable.mergeInto(spark, root, src, Seq("k"),
      matched = Seq(DeleteClause(Some(col("s.k") % 2 === 0)),
        UpdateClause(None, None)),
      notMatched = Seq(InsertClause(None, None)))
    // Semantics: matched evens 6,8,10,12 delete; matched odds 5,7,9,11
    // update to "merged"; 100..102 insert as "new"; everything else
    // survives untouched.
    val fin = SnapshotTable.read(spark, root, Some(v1))
    val byK = fin.select("k", "v1").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!byK.contains(6L) && !byK.contains(12L), "matched evens must delete")
    assert(byK(5L) == "merged" && byK(11L) == "merged", "matched odds must update")
    assert(byK(100L) == "new" && byK(102L) == "new", "source-only keys must insert")
    assert(byK(4L) != "merged" && byK.contains(40L), "untouched rows survive")
    assert(fin.count() == 40 - 4 + 3)

    // File granularity: the 2 non-overlapping files carried by entry.
    val before = SnapshotTable.read(spark, root, Some(v0)).inputFiles.toSet
    val after = SnapshotTable.read(spark, root, Some(v1)).inputFiles.toSet
    assert((before & after).size == 2,
      s"exactly the 2 untouched files must carry: ${(before & after).size}")

    // CDC telescopes: view(v0) + adds - removes == view(v1), including the
    // vacated-extrema recompute, through the generalized MvSpec.
    val spec = graft.ext.MvSpec(Seq("v1"),
      Seq(graft.ext.MvAgg.Count("cnt"), graft.ext.MvAgg.Min("v2", "mn"),
        graft.ext.MvAgg.Max("v2", "mx")))
    val mv0 = spec.partial(SnapshotTable.read(spark, root, Some(v0)))
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    val got = spec.finish(spec.combineDelta(spark, root, mv0, adds, removes))
      .collect().map(_.toString).toSet
    val full = spec.finish(spec.partial(fin)).collect().map(_.toString).toSet
    assert(got == full, "merge CDC must telescope to the final state")
  }

  test("table-level mergeInto: NULL source keys match NULL target keys (no duplication)") {
    val root = s"${tmpDir()}/t"
    val tgt = Seq((Some(1L), "a", 1.0), (None, "nullk", 2.0), (Some(3L), "c", 3.0))
      .toDF("k", "v1", "v2")
    SnapshotTable.commit(spark, root, tgt)
    val src = Seq((Option.empty[Long], "nullk-updated", 9.0))
      .toDF("k", "v1", "v2")
    val v1 = SnapshotTable.mergeInto(spark, root, src, Seq("k"),
      matched = Seq(UpdateClause(None, None)), notMatched = Seq(InsertClause(None, None)))
    val fin = SnapshotTable.read(spark, root, Some(v1))
      .select("v1").collect().map(_.getString(0)).toSet
    assert(fin == Set("a", "nullk-updated", "c"),
      s"NULL key must update in place, not duplicate: $fin")
  }

  test("per-column UPDATE SET keeps unassigned columns; explicit INSERT nulls unlisted") {
    val t = Seq((1L, "t1", 1.0), (2L, "t2", 2.0)).toDF("k", "v1", "v2")
    val s = Seq((1L, 10.0), (3L, 30.0)).toDF("k", "p") // NOT full target schema
    val out = MergeInto.into(t).using(s).on("k")
      .whenMatchedUpdate(Map("v2" -> (col("s.p") + col("t.v2"))))
      .whenNotMatchedInsert(Map("k" -> col("s.k"), "v2" -> col("s.p")))
      .result()
    assert(canon(out) == Seq("[1,t1,11.0]", "[2,t2,2.0]", "[3,null,30.0]"),
      "assigned columns take the expression, unassigned keep target / insert NULL")
  }

  test("BY SOURCE: delete beats update; conditions gate; matched/source-only rows untouched") {
    val t = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0))
      .toDF("k", "v1", "v2")
    val s = Seq((1L, "s1", 9.0)).toDF("k", "v1", "v2")
    val out = MergeInto.into(t).using(s).on("k")
      .whenMatchedUpdateAll()
      .whenNotMatchedBySourceDelete(Some(col("t.v2") >= 4.0))     // kills k=4
      .whenNotMatchedBySourceUpdate(Map("v1" -> lit("stale")),
        Some(col("t.v2") >= 3.0))                                 // marks k=3
      .result()
    assert(canon(out) == Seq("[1,s1,9.0]", "[2,b,2.0]", "[3,stale,3.0]"),
      "by-source delete wins over update; untouched target-only rows survive")
  }

  test("CDC post-images of a partial UPDATE SET carry the KEPT target columns") {
    val t = Seq((1L, "keepme", 1.0), (2L, "other", 2.0)).toDF("k", "v1", "v2")
    val s = Seq((1L, 100.0)).toDF("k", "p")
    val mi = MergeInto.into(t).using(s).on("k")
      .whenMatchedUpdate(Map("v2" -> col("s.p")))
      .whenNotMatchedBySourceUpdate(Map("v2" -> lit(-1.0)))
    val (adds, removes) = mi.changes()
    assert(canon(adds) == Seq("[1,keepme,100.0]", "[2,other,-1.0]"),
      "post-image = assigned expr + kept target columns, NOT source values")
    assert(canon(removes) == Seq("[1,keepme,1.0]", "[2,other,2.0]"))
  }

  test("table-level mergeInto: BY SOURCE probe is condition-aware and file-granular") {
    val root = s"${tmpDir()}/t"
    // keys 1..40 range-clustered into 4 files of 10; source matches keys
    // 1..10 (file 1); the BY SOURCE arm fires only for k > 30 (file 4).
    val v0 = SnapshotTable.commitClustered(spark, root,
      frame(1 to 40), Seq("k"), numFiles = 4)
    val src = frame(1 to 10).withColumn("v1", lit("fresh"))
    val v1 = SnapshotTable.mergeInto(spark, root, src, Seq("k"),
      matched = Seq(UpdateClause(None, None)),
      bySource = Seq(DeleteClause(Some(col("t.k") > 35)),
        UpdateClause(Some(col("t.k") > 30), Some(Map("v1" -> lit("expired"))))))
    val fin = SnapshotTable.read(spark, root, Some(v1))
    val byK = fin.select("k", "v1").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((36L to 40L).forall(k => !byK.contains(k)), "by-source delete expires k>35")
    assert((31L to 35L).forall(k => byK(k) == "expired"), "by-source update marks 30<k<=35")
    assert((1L to 10L).forall(k => byK(k) == "fresh") && byK(20L) != "expired")
    // Files 2 and 3 (keys 11..30) hold no matched key and no firing
    // by-source row — they must CARRY by manifest entry, unread.
    val before = SnapshotTable.read(spark, root, Some(v0)).inputFiles.toSet
    val after = fin.inputFiles.toSet
    assert((before & after).size == 2,
      s"exactly the 2 untouched files must carry: ${(before & after).size}")
    // CDC telescopes across the by-source arms too.
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    assert(removes.count() == 10 + 5 + 5, "matched updates + expired + deleted pre-images")
    assert(adds.count() == 10 + 5, "matched + by-source update post-images")
  }

  test("expiry-only merge (BY SOURCE, no matched/insert arms) skips the matched-key probe") {
    val root = s"${tmpDir()}/t"
    // 4 clustered files; the source snapshot covers keys 1..35, so rows
    // 36..40 expire — ONLY file 4 may rewrite even though the snapshot's
    // keys graze files 1..4.
    val v0 = SnapshotTable.commitClustered(spark, root,
      frame(1 to 40), Seq("k"), numFiles = 4)
    val snapshot = frame(1 to 35)
    val v1 = SnapshotTable.mergeInto(spark, root, snapshot, Seq("k"),
      bySource = Seq(DeleteClause(None)))
    val fin = SnapshotTable.read(spark, root, Some(v1))
    assert(fin.count() == 35 && fin.agg(max(col("k"))).head().getLong(0) == 35L)
    val before = SnapshotTable.read(spark, root, Some(v0)).inputFiles.toSet
    assert((before & fin.inputFiles.toSet).size == 3,
      "files holding only matched/surviving rows must carry untouched")
    // matched rows in carried files are byte-identical (no accidental churn)
    assert(fin.filter(col("k") <= 30).collect().map(_.toString).toSet ==
      SnapshotTable.read(spark, root, Some(v0)).filter(col("k") <= 30)
        .collect().map(_.toString).toSet)
  }

  test("table-level mergeInto: per-column SET with a keys-only source") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commit(spark, root, frame(1 to 10))
    val src = Seq((2L, 5.0), (4L, 7.0)).toDF("k", "bump")
    val v1 = SnapshotTable.mergeInto(spark, root, src, Seq("k"),
      matched = Seq(UpdateClause(None,
        Some(Map("v2" -> col("s.bump"), "v1" -> lit("set"))))))
    val fin = SnapshotTable.read(spark, root, Some(v1)).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(fin(2L) == (("set", 5.0)) && fin(4L) == (("set", 7.0)))
    assert(fin.size == 10 && fin(3L)._1 != "set", "unmatched rows untouched")
  }

  test("clause CHAINS: first-match-wins across multiple conditional arms per family") {
    val t = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0),
      (7L, "t7", 70.0), (8L, "t8", 80.0))
      .toDF("k", "v1", "v2")
    val s = Seq((1L, "s1", 5.0), (2L, "s2", 15.0), (3L, "s3", 25.0), (4L, "s4", 35.0),
      (5L, "s5", 5.0), (6L, "s6", 50.0))
      .toDF("k", "v1", "v2")
    val out = MergeInto.into(t).using(s).on("k")
      .whenMatchedUpdate(Map("v1" -> lit("low")), Some(col("s.v2") < 10))   // k=1
      .whenMatchedDelete(col("s.v2") < 20)                                 // k=2 (first miss, second hits)
      .whenMatchedUpdateAll(Some(col("s.v2") < 30))                        // k=3
      .whenMatchedUpdate(Map("v2" -> (col("t.v2") + 1)))                   // k=4 (fallthrough)
      .whenNotMatchedInsert(Map("k" -> col("s.k")), Some(col("s.v2") < 10)) // k=5
      .whenNotMatchedInsertAll()                                           // k=6
      .whenNotMatchedBySourceUpdate(Map("v1" -> lit("stale")), Some(col("t.v2") < 75)) // k=7
      .whenNotMatchedBySourceDelete()                                      // k=8
      .result()
    assert(canon(out) == Seq(
      "[1,low,10.0]",     // first arm wins: per-column, keeps v2
      // k=2 deleted by the second arm
      "[3,s3,25.0]",      // third arm: SET *
      "[4,d,41.0]",       // fourth arm: unconditional per-column fallthrough
      "[5,null,null]",    // first insert arm: explicit column, others NULL
      "[6,s6,50.0]",      // second insert arm: INSERT *
      "[7,stale,70.0]"    // by-source update beats the later delete
      // k=8 deleted by the by-source delete
    ), s"got: ${canon(out)}")
  }

  test("table-level mergeInto WITH SCHEMA EVOLUTION: new source column joins, star keeps target-only columns") {
    val root = s"${tmpDir()}/t"
    SnapshotTable.commit(spark, root, frame(1 to 6)) // (k, v1, v2)
    val src = Seq((2L, "s2", "extra2"), (9L, "s9", "extra9"))
      .toDF("k", "v1", "note") // note is NEW; v2 is ABSENT from the source
    val v1 = SnapshotTable.mergeInto(spark, root, src, Seq("k"),
      matched = Seq(UpdateClause(None, None)), notMatched = Seq(InsertClause(None, None)),
      evolve = true)
    val fin = SnapshotTable.read(spark, root, Some(v1))
    assert(fin.columns.toSeq == Seq("k", "v1", "v2", "note"))
    val byK = fin.collect().map(r =>
      r.getLong(0) -> ((r.getString(1), Option(r.get(2)), Option(r.getString(3))))).toMap
    assert(byK(2L)._1 == "s2" && byK(2L)._3.contains("extra2"))
    assert(byK(2L)._2.nonEmpty,
      "star update under evolution keeps the target-only column, not NULL it")
    assert(byK(9L)._1 == "s9" && byK(9L)._2.isEmpty && byK(9L)._3.contains("extra9"))
    assert(byK(1L)._3.isEmpty, "untouched rows read NULL for the new column")
    // CDC landed on the evolved schema
    val Some((adds, _)) = SnapshotTable.changesDelta(spark, root, v1 - 1, Some(v1))
    assert(adds.columns.toSeq == Seq("k", "v1", "v2", "note"))
    // a retype still refuses loudly under evolution
    intercept[Exception] {
      SnapshotTable.mergeInto(spark, root,
        Seq((1, 1.0)).toDF("k", "v1"), Seq("k"),
        matched = Seq(UpdateClause(None, None)), evolve = true)
    }
  }

  test("SQL cardinality rule: dup source rows matching ONE target row refuse; dup inserts stay legal") {
    val root = s"${tmpDir()}/t"
    val v0 = SnapshotTable.commit(spark, root, frame(1 to 10))
    // two source rows for matched key 3 → loud refusal, zero trace
    val dupSrc = Seq((3L, "a", 1.0), (3L, "b", 2.0), (99L, "c", 3.0))
      .toDF("k", "v1", "v2")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.mergeInto(spark, root, dupSrc, Seq("k"),
        matched = Seq(UpdateClause(None, None)), notMatched = Seq(InsertClause(None, None)))
    }
    assert(e.getMessage.contains("multiple source rows match"), e.getMessage)
    assert(SnapshotTable.currentVersion(spark, root).contains(v0), "no partial commit")
    // duplicate SOURCE-ONLY keys are legal SQL: each inserts
    val insOnly = Seq((50L, "x", 1.0), (50L, "y", 2.0)).toDF("k", "v1", "v2")
    val v1 = SnapshotTable.mergeInto(spark, root, insOnly, Seq("k"),
      matched = Seq(UpdateClause(None, None)), notMatched = Seq(InsertClause(None, None)))
    assert(SnapshotTable.read(spark, root, Some(v1)).filter(col("k") === 50).count() == 2)
  }

  test("table-level mergeInto: no matches and no insert clause is a no-op version") {
    val root = s"${tmpDir()}/t"
    val v0 = SnapshotTable.commit(spark, root, frame(1 to 5))
    val v1 = SnapshotTable.mergeInto(spark, root, frame(50 to 55), Seq("k"),
      matched = Seq(UpdateClause(None, None)))
    assert(v1 == v0, "nothing to do must not commit a version")
  }
}
