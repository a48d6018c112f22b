package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** File-level data skipping through [[SnapshotFileIndex]]: a plain
  * `.filter` over [[SnapshotTable.read]] must (a) return exactly the rows a
  * brute-force read returns, and (b) plan strictly fewer files than the
  * snapshot holds when the write was range-clustered on the filter column.
  * Pruning is asserted through the REAL planning path — the index's
  * `lastSelected` is written by Spark's own `listFiles(…, dataFilters)`
  * call during scan planning, not by the spec invoking the pruner. */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** 1000 rows over 10 range-clustered files: k 0..999, s "s000".."s999",
    * d doubles, and a string that is NULL on multiples of 10. */
  private def clusteredTable(): (String, DataFrame) = {
    val root = tmpDir() + "/tbl"
    val df = spark.range(1000).toDF("k")
      .withColumn("s", format_string("s%03d", col("k")))
      .withColumn("d", col("k").cast("double") / 4.0)
      .withColumn("maybe", when(col("k") % 10 === 0, lit(null: String))
        .otherwise(concat(lit("v"), col("k"))))
    SnapshotTable.commitClustered(spark, root, df, Seq("k"), numFiles = 10)
    (root, df)
  }

  private def prunedCount(root: String, filtered: DataFrame => DataFrame,
                          expect: DataFrame => DataFrame): (Int, Int) = {
    val (df, idxOpt) = SnapshotTable.readTracked(spark, root)
    val idx = idxOpt.getOrElse(fail("stats manifest expected for a fresh commit"))
    val got = rows(filtered(df))
    val want = rows(expect(spark.read.parquet(
      new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
        .listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.toString).filter(_.contains("snap-")): _*)))
    assert(got == want, "skipped read changed the result")
    (idx.lastSelected, idx.totalFiles)
  }

  test("range filter on the cluster key prunes files, result unchanged") {
    val (root, _) = clusteredTable()
    val (selected, total) = prunedCount(root,
      _.filter(col("k") >= 421 && col("k") <= 440),
      _.filter(col("k") >= 421 && col("k") <= 440))
    assert(total == 10)
    assert(selected <= 2, s"expected <=2 of $total files, planned $selected")
  }

  test("equality on a clustered string column prunes to one file") {
    val (root, _) = clusteredTable()
    val (selected, total) = prunedCount(root,
      _.filter(col("s") === "s421"), _.filter(col("s") === "s421"))
    assert(selected == 1, s"expected 1 of $total files, planned $selected")
  }

  test("decimal predicates prune on unscaled-long bounds (round 10)") {
    val root = tmpDir() + "/tbl"
    val df = spark.range(1000).toDF("k")
      .withColumn("price", (col("k") * 7).cast("decimal(18,2)"))
    SnapshotTable.commitClustered(spark, root, df, Seq("price"), numFiles = 10)
    // equality + range on the decimal column: bounds carry the scale so
    // the Catalyst Decimal literal aligns exactly
    val (sEq, total) = prunedCount(root,
      _.filter(col("price") === lit(BigDecimal("2947.00"))),
      _.filter(col("price") === lit(BigDecimal("2947.00"))))
    assert(sEq == 1, s"decimal equality planned $sEq of $total files")
    val (sRange, _) = prunedCount(root,
      _.filter(col("price") >= lit(BigDecimal("6000.00"))),
      _.filter(col("price") >= lit(BigDecimal("6000.00"))))
    assert(sRange <= 2, s"decimal range planned $sRange files")
    // a literal the column's scale cannot represent exactly degrades to
    // keep-all (MAY-analysis), never to a wrong answer
    val (sOdd, t2) = prunedCount(root,
      _.filter(col("price") === lit(BigDecimal("2947.001"))),
      _.filter(col("price") === lit(BigDecimal("2947.001"))))
    assert(sOdd <= t2)
  }

  test("IN-list and double-range predicates prune") {
    val (root, _) = clusteredTable()
    val (sIn, _) = prunedCount(root,
      _.filter(col("k").isin(5, 6, 905)), _.filter(col("k").isin(5, 6, 905)))
    assert(sIn <= 2, s"IN-list planned $sIn files")
    val (sD, _) = prunedCount(root,
      _.filter(col("d") < 10.0), _.filter(col("d") < 10.0))
    assert(sD == 1, s"double range planned $sD files")
  }

  test("LIKE prefix prunes on string bounds") {
    val (root, _) = clusteredTable()
    val (selected, _) = prunedCount(root,
      _.filter(col("s").startsWith("s09")), _.filter(col("s").startsWith("s09")))
    assert(selected == 1, s"prefix planned $selected files")
  }

  test("disjunction keeps the union of matching files, no more") {
    val (root, _) = clusteredTable()
    val (selected, total) = prunedCount(root,
      _.filter(col("k") === 5 || col("k") === 995),
      _.filter(col("k") === 5 || col("k") === 995))
    assert(selected == 2, s"OR planned $selected of $total files")
  }

  test("unsupported predicate shapes never prune (and never break)") {
    val (root, _) = clusteredTable()
    val (selected, total) = prunedCount(root,
      _.filter(abs(col("k") - 500) < 3), _.filter(abs(col("k") - 500) < 3))
    // abs() hides the attribute behind an expression: conservative keep-all
    // (isnotnull(k) may still be pushed, but every file has non-nulls).
    assert(selected == total)
  }

  test("IS NULL prunes files whose null count is zero") {
    val root = tmpDir() + "/tbl"
    // Cluster by k so nulls (k % 10 == 0 in 0..99 only) land in few files.
    val df = spark.range(1000).toDF("k")
      .withColumn("maybe", when(col("k") < 100 && col("k") % 10 === 0,
        lit(null: String)).otherwise(concat(lit("v"), col("k"))))
    SnapshotTable.commitClustered(spark, root, df, Seq("k"), numFiles = 10)
    val (dfR, idxOpt) = SnapshotTable.readTracked(spark, root)
    val got = rows(dfR.filter(col("maybe").isNull))
    assert(got.size == 10)
    assert(idxOpt.get.lastSelected == 1,
      s"nulls live in 1 of 10 files, planned ${idxOpt.get.lastSelected}")
  }

  test("upsert-written (unclustered) snapshots still read correctly") {
    val root = tmpDir() + "/tbl"
    SnapshotTable.upsert(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
    SnapshotTable.upsert(spark, root, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    val (df, idx) = SnapshotTable.readTracked(spark, root)
    assert(idx.nonEmpty, "post-stats manifests always carry stats")
    assert(rows(df.filter(col("k") === 2L)) == Set("[2,B]"))
  }

  test("pre-stats and schema-less manifests are refused by name") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // Four older format generations, each planted as a table's only
    // manifest: files without stats, and a full manifest without schema,
    // without a commit timestamp or without a protocol.
    def without(field: String): com.fasterxml.jackson.databind.JsonNode => String = { node =>
      node.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove(field)
      node.toString
    }
    val generations = Seq[(String, com.fasterxml.jackson.databind.JsonNode => String)](
      "`stats` for every listed file" -> { node =>
        val legacy = mapper.createObjectNode()
        legacy.put("version", 0L)
        legacy.set[com.fasterxml.jackson.databind.JsonNode]("files", node.get("files"))
        legacy.toString
      },
      "declared `schema`" -> without("schema"),
      "commit `ts`" -> without("ts"),
      "declared `protocol`" -> without("protocol"))
    generations.foreach { case (missing, doctor) =>
      val root = tmpDir() + "/tbl"
      SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val mPath = new org.apache.hadoop.fs.Path(root, "_manifests/manifest-00000000.json")
      val body = {
        val in = fs.open(mPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }
      val out = fs.create(mPath, true)
      try out.write(doctor(mapper.readTree(body)).getBytes("UTF-8"))
      finally out.close()
      SnapshotTable.clearResolvedCache()
      Seq[() => Any](
        () => SnapshotTable.readTracked(spark, root),
        () => SnapshotTable.rowCount(spark, root),
        () => SnapshotTable.append(spark, root, Seq((2L, "b")).toDF("k", "v"))
      ).foreach { op =>
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains(s"manifest version 0 at $mPath has no $missing") &&
          e.getMessage.contains("reads only manifests that carry per-file " +
            "`stats` and a `schema`"), e.getMessage)
      }
    }
  }

  test("z-order clustering prunes on EITHER dimension") {
    val root = tmpDir() + "/tbl"
    // Two independent uniform dimensions: 64x64 grid, one row per cell.
    val df = spark.range(4096).toDF("id")
      .withColumn("x", col("id") % 64)
      .withColumn("y", floor(col("id") / 64))
      .withColumn("payload", concat(lit("p"), col("id")))
    SnapshotTable.commitZOrdered(spark, root, df, Seq("x", "y"), numFiles = 16)
    val (zdf, idxOpt) = SnapshotTable.readTracked(spark, root)
    val idx = idxOpt.get
    assert(idx.totalFiles >= 8, s"expected a multi-file snapshot, got ${idx.totalFiles}")
    // A narrow slice in x alone:
    val gx = rows(zdf.filter(col("x") < 8))
    assert(gx.size == 8 * 64)
    val sx = idx.lastSelected
    assert(sx <= idx.totalFiles / 2,
      s"x-slice planned $sx of ${idx.totalFiles} files — z-order not pruning on x")
    // ...and the SAME table prunes a narrow slice in y:
    val gy = rows(zdf.filter(col("y") < 8))
    assert(gy.size == 8 * 64)
    val sy = idx.lastSelected
    assert(sy <= idx.totalFiles / 2,
      s"y-slice planned $sy of ${idx.totalFiles} files — z-order not pruning on y")
    // Single-column range clustering CANNOT do this: cluster on x and the
    // y-slice degrades to a full scan (the contrast that motivates z-order).
    val rootX = tmpDir() + "/tblx"
    SnapshotTable.commitClustered(spark, rootX, df, Seq("x"), numFiles = 16)
    val (xdf, xIdx) = SnapshotTable.readTracked(spark, rootX)
    rows(xdf.filter(col("y") < 8))
    assert(xIdx.get.lastSelected == xIdx.get.totalFiles,
      "control: x-clustered table should not prune a y-filter")
  }

  test("time-travel reads skip within the pinned version") {
    val (root, _) = clusteredTable()
    val df2 = spark.range(2000, 2100).toDF("k")
      .withColumn("s", format_string("s%03d", col("k")))
      .withColumn("d", col("k").cast("double") / 4.0)
      .withColumn("maybe", concat(lit("v"), col("k")))
    SnapshotTable.commitClustered(spark, root, df2, Seq("k"), numFiles = 4)
    val (old, idx) = SnapshotTable.readTracked(spark, root, asOf = Some(0L))
    assert(rows(old.filter(col("k") >= 990)).size == 10) // v0 rows only
    assert(idx.get.lastSelected == 1)
  }
}
