package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale rehearsal (dev tool, like Prof/Plans): runs the dedup tier on a
  * synthesized corpus ~21× sf0.1 — 100k docs in duplicate groups of 20
  * (15 exact copies + 5 near-dup perturbations each) PLUS a 5k-copy
  * boilerplate group that collides into one LSH bucket per band, far past
  * the 64-id hot-bucket cap. Prints wall times and sanity counts; the point
  * is evidence that the shapes hold when the data grows an order of
  * magnitude past the bench SF: candidate generation stays linear in bucket
  * size (chain capping), clustering rounds stay logarithmic, and nothing
  * collects to the driver. Results recorded in SCALE.md.
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_CPUS (read by Plans.session) keeps the memory-bounded
    // rehearsal's heap-per-core ratio production-shaped.
    val spark = Plans.session()

    if (args.contains("retrieval")) { retrievalLeg(spark); spark.stop(); return }
    if (args.contains("retrieval50k")) { retrievalWideTermsLeg(spark); spark.stop(); return }
    if (args.contains("mv")) { mvLeg(spark); spark.stop(); return }
    if (args.contains("recluster")) { reclusterLeg(spark); spark.stop(); return }
    if (args.contains("bloom48")) { bloomLeg(spark, 48); spark.stop(); return }
    if (args.contains("bloom")) { bloomLeg(spark); spark.stop(); return }
    if (args.contains("constraint")) { constraintLeg(spark); spark.stop(); return }
    if (args.contains("mvupsert")) { mvUpsertLeg(spark); spark.stop(); return }
    if (args.contains("concurrency")) { concurrencyLeg(spark); spark.stop(); return }
    if (args.contains("mvhc")) { mvHighCardLeg(spark); spark.stop(); return }
    if (args.contains("cdf")) { cdfSubscriberLeg(spark); spark.stop(); return }
    if (args.contains("ticketsync")) { ticketSyncLeg(spark); spark.stop(); return }
    if (args.contains("sqldml")) { sqlDmlLeg(spark); spark.stop(); return }
    if (args.contains("clonerebase")) { cloneRebaseLeg(spark); spark.stop(); return }
    if (args.contains("sim")) { simLeg(spark); spark.stop(); return }
    if (args.contains("simbatch")) { simBatchLeg(spark); spark.stop(); return }
    if (args.contains("ingest")) { ingestLeg(spark); spark.stop(); return }
    if (args.contains("allpairs")) { allpairsLeg(spark); spark.stop(); return }
    if (args.contains("e2e")) { e2eLeg(spark); spark.stop(); return }
    if (args.contains("e2e50")) { e2eLeg(spark, 50); spark.stop(); return }
    if (args.contains("e2e100")) { e2eLeg(spark, 100); spark.stop(); return }
    if (args.contains("sim768")) { sim768Leg(spark); spark.stop(); return }
    if (args.contains("skew")) { skewLeg(spark); spark.stop(); return }
    if (args.contains("manifestscale")) { manifestScaleLeg(spark); spark.stop(); return }
    if (args.contains("manifestdecade")) { manifestDecadeLeg(spark); spark.stop(); return }
    if (args.contains("dvscale")) { dvScaleLeg(spark); spark.stop(); return }
    if (args.contains("clonerebase50k")) { cloneRebase50kLeg(spark); spark.stop(); return }
    if (args.contains("all")) {
      // Regenerate every SCALE.md evidence row in one command.
      dedupLeg(spark, 21); dedupLeg(spark, 50); dedupLeg(spark, 100)
      allpairsLeg(spark); ingestLeg(spark); simLeg(spark); simBatchLeg(spark)
      e2eLeg(spark); sim768Leg(spark); skewLeg(spark)
      retrievalLeg(spark); mvLeg(spark); mvUpsertLeg(spark)
      spark.stop(); return
    }

    // Default: the historical 21x dedup tier; "dedup50"/"dedup100" run the
    // identical tier at 50×/100× sf0.1 (250k/500k docs) so the scaling
    // exponent of every step is a measured CURVE, not an extrapolation.
    dedupLeg(spark,
      if (args.contains("dedup100")) 100
      else if (args.contains("dedup50")) 50 else 21)
    spark.stop()
  }

  private def dedupLeg(spark: SparkSession, mult: Int): Unit = {
    val dir = scaleCorpus(spark, mult)
    val docsPath = s"$dir/documents.parquet"
    val n = spark.read.parquet(docsPath).count()
    println(s"SCALE[${mult}x] corpus rows=$n (sf0.1 is 5,000)")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val exact = time("exact_hash_dedup") {
      ext.Dedup.qs.find(_.name == "x_dedup_hash").get.fn(spark, dir).count()
    }
    println(s"SCALE   distinct texts=$exact")

    val cands = time("minhash_candidates") {
      ext.Dedup.minhashCandidates(spark, dir).localCheckpoint()
    }
    val nc = cands.count()
    println(s"SCALE   candidate pairs=$nc (5k-id boilerplate bucket capped to linear chain)")

    val hot = time("hot_buckets") {
      ext.Dedup.minhashHotBuckets(spark, dir).count()
    }
    println(s"SCALE   hot buckets over cap=$hot")

    val clusters = time("connected_components") {
      ext.Dedup.connectedComponents(cands)
        .agg(countDistinct(col("label"))).head().getLong(0)
    }
    println(s"SCALE   clusters=$clusters")

    time("sequence_packing") {
      ext.PipelineOps.qs.find(_.name == "x_pack_greedy_bins").get.fn(spark, dir)
        .agg(max("bin_id")).head()
    }

    // The PRODUCTION routing (exact-first) on the same corpus: mirrors
    // collapse before LSH, so the boilerplate group never reaches a bucket
    // and the CC graph diameter stays group-sized.
    val kept = time("dedup_corpus_routed") {
      ext.Dedup.dedupCorpusFor(spark.read.parquet(docsPath))
        .filter(col("keep")).count()
    }
    println(s"SCALE   routed pipeline kept=$kept representatives")

    // Incremental ingest probe on the same corpus (odd ids = new shard,
    // even ids = corpus): every odd doc sits inside a 20-strong duplicate
    // group whose even siblings are within the ±20 id window, so the probe
    // is maximally loaded — every batch doc generates exact AND near
    // candidates.
    val dropped = time("incremental_probe") {
      ext.Dedup.qs.find(_.name == "x_dedup_incremental").get.fn(spark, dir)
        .filter(!col("keep")).count()
    }
    println(s"SCALE   incremental probe dropped=$dropped batch docs")

    // ExactSubstr span inventory + removal on the same 105k corpus: the
    // 5k-copy boilerplate group makes every one of its 8-grams a
    // corpus-wide duplicate (doc-freq 5,000), so the dup-position set is
    // maximal for that slice — the stress case for the doc-freq aggregation
    // and the per-doc interval-union window. Cost must stay linear in gram
    // count (~5M rows), never pairwise.
    val spanDocs = time("substring_spans") {
      ext.CorpusOps.substringSpans(spark, dir)
        .filter(col("n_spans") > 0).count()
    }
    println(s"SCALE   docs with duplicated spans=$spanDocs")
    val removedToks = time("span_removal") {
      ext.CorpusOps.spanRemoval(spark, dir)
        .agg(sum("removed_toks")).head().getLong(0)
    }
    println(s"SCALE   tokens removed by span cleaning=$removedToks")

    // Sparse tf-idf all-pairs at 21×, round 7: the L2AP-lite exact join
    // (Bayardo prefix + partial-dot prune) replaces round 6's df caps.
    // Production composition — exact-first routing (byte-identical mirrors
    // collapse to one min-id representative; the 15 identical copies per
    // 20-group and the whole 5,000-copy boilerplate group fold BEFORE the
    // similarity tier, exactly as tfidfAllPairs(s, dir) routes) — then the
    // exact threshold join over distinct-text reps. r6's relative cap cost
    // 126.4 s emitting all C(df,2) per posting; here one aggregation over
    // the index-join rows bounds every overlapping pair and only ~90k
    // survivors pay the exact re-join (20.3 s cold / 10.0 s warm).
    // Output semantics: every planted duplicate-group pair survives — each
    // 20-group's 6 distinct texts (1 rep + 5 perturbations) pair
    // completely (C(6,2) = 15 rep pairs, expanding via the exact-dup
    // groups back to all C(20,2) member pairs), and the boilerplate group
    // is one rep with no partner.
    val apReps = spark.read.parquet(docsPath)
      .groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text")
    val apPairs = time("tfidf_allpairs") {
      ext.Dedup.tfidfAllPairsOf(apReps).count()
    }
    println(s"SCALE   tf-idf all-pairs=$apPairs (Bayardo prefix over exact-deduped reps)")

    // Sketch builds at 21×: ~8M token occurrences in, CONSTANT state out
    // (≤1024 Count-Min cells, ≤64 HLL registers) — the property that makes
    // a sketch the only per-corpus statistic whose maintenance cost never
    // grows past a scan. Both are single map-side-combinable aggregates.
    val items = spark.read.parquet(docsPath)
      .select(explode(ext.TextAnalysis.tokens(col("text"))).as("item"))
    val (cmCellCount, hllRegCount) = time("sketch_builds") {
      (ext.Sketches.cmCells(items).count(), ext.Sketches.hllRegisters(items).count())
    }
    println(s"SCALE   count-min cells=$cmCellCount, hll registers=$hllRegCount")

    // Data-skipping rehearsal: the 105k-doc corpus committed range-clustered
    // on doc_id into 64 files, then a narrow id-range probe. The skipped
    // scan must plan ~1 file while the unclustered baseline scans all of
    // them — the manifest-stats pruning loop at an order of magnitude past
    // the bench SF.
    val skipRoot = s"$dir/skiptable"
    if (graft.ops.SnapshotTable.currentVersion(spark, skipRoot).isEmpty) {
      time("clustered_commit") {
        graft.ops.SnapshotTable.commitClustered(spark, skipRoot,
          spark.read.parquet(docsPath), Seq("doc_id"), numFiles = 64)
      }
    }
    val probe = col("doc_id").between(250000L, 251000L)
    val full = time("probe_full_scan") {
      spark.read.parquet(docsPath).filter(probe).count()
    }
    val (skDf, skIdx) = graft.ops.SnapshotTable.readTracked(spark, skipRoot)
    val pruned = time("probe_skipped_scan") { skDf.filter(probe).count() }
    assert(pruned == full, s"skipped probe returned $pruned, full scan $full")
    println(s"SCALE   skip probe planned ${skIdx.get.lastSelected} of " +
      s"${skIdx.get.totalFiles} files ($pruned rows)")
  }

  /** Synthesize (once) the 21×-sf0.1 dedup corpus: 100k docs in 20-strong
    * duplicate groups (15 byte-identical + 5 near-perturbed) plus a 5k-copy
    * boilerplate group. Returns the corpus dir. */
  /** Synthetic corpus at `mult`× sf0.1 rows: (mult−1) copies per base doc
    * (every 4th copy near-dup-perturbed, the rest byte-identical) plus a
    * 5,000-row boilerplate mirror group. mult=21 is the historical dedup
    * rehearsal scale; mult=50 exercises the ingest tier's sublinearity
    * claim (VERDICT r6 #4). */
  private def scaleCorpus(spark: SparkSession, mult: Int = 21): String = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      if (mult == 21) "graft-scale" else s"graft-scale-$mult").getAbsolutePath
    val docsPath = s"$dir/documents.parquet"
    if (!new java.io.File(docsPath).exists()) {
      val base = Tables(spark, "/root/testdata/sf0.1", "documents")
      val copies = (0 until (mult - 1)).map { i =>
        base.select(
          (col("doc_id") * 100 + i).as("doc_id"),
          // 3 of 4 copies byte-identical (exact-dup groups), every 4th
          // perturbed by one appended token (near-dups, jaccard ≈
          // (n-1)/(n+2) for long docs)
          (if (i % 4 == 0) concat(col("text"), lit(s" perturbed$i")) else col("text")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
      val boiler = spark.range(5000).select(
        (col("id") + 900000000L).as("doc_id"),
        lit("common boilerplate footer text repeated verbatim across the entire mirror " +
          "set of the crawl with enough tokens to shingle").as("text"),
        lit("en").as("lang"), lit("mirror").as("source"), lit(120L).as("n_chars"))
      copies.unionByName(boiler).write.mode("overwrite").parquet(docsPath)
    }
    dir
  }

  /** Ingest-tier rehearsal: one near-dup-aware ingest cycle
    * ([[ext.Ingest.ingestCycleNear]], the generalized per-crawl-drop API)
    * against the 21× corpus, with a planted three-way shard:
    *
    *   - `shard_exact` — byte-identical recrawls of corpus texts → the
    *     sha256 probe must drop ALL of them;
    *   - `shard_near`  — one token appended to a corpus text (jaccard
    *     ≥ (n−2)/(n+1) ≥ 0.88 at the ≥24-token floor) → the signature-index
    *     band probe + jaccard verify must drop ALL of them;
    *   - `shard_new`   — token-REVERSED corpus texts (same token multiset →
    *     same curation-gate values, but 3-gram shingle overlap ≈ 0) → every
    *     one must survive both probes and ingest exactly once.
    *
    * The cycle includes the signature-index bootstrap over the full 105k
    * corpus and the deliberate replayed append — the rehearsal measures the
    * whole thing and asserts the three categories land exactly. */
  /** Heavy-tail all-pairs rehearsal (round 7): the 21× corpus has a DENSE
    * shingle space (31-word vocabulary → every posting df ≈ 60, nothing for
    * a prefix to prune), so it measures the irreducible inverted-index
    * cost. THIS corpus is the opposite — the regime real crawls live in: a
    * Zipf head of 3 boilerplate sentences (shingle df = 10,000) glued to
    * rare per-group bodies (df ≤ 3). 10,000 planted triples (seed + two
    * one-token mutations) → the EXACT answer at cosine ≥ 0.5 is precisely
    * the 30,000 within-group pairs (cross-group pairs share only
    * boilerplate: weighted cosine ≈ 0.006). The β-budget excludes the
    * boilerplate postings FIRST (they carry <1% of every doc's squared
    * tf-idf mass), so the index join never touches the df=10,000 postings —
    * which uncapped would emit ~30 boiler grams × C(10,000, 2) ≈ 1.5e9
    * candidate rows. Done = exactly 30,000 pairs, wall comparable to the
    * dense-corpus run. */
  private def allpairsLeg(spark: SparkSession): Unit = {
    val n = 10000
    val docs = spark.range(n.toLong * 3).select(
        col("id").as("doc_id"),
        (col("id") / 3).cast("long").as("g"),
        pmod(col("id"), lit(3)).cast("int").as("m"))
      .withColumn("boiler", expr(
        "concat_ws(' ', transform(sequence(0, 11), " +
          "j -> concat('b', CAST(g % 3 AS STRING), 't', CAST(j AS STRING))))"))
      .withColumn("body", expr(
        "concat_ws(' ', transform(sequence(0, 19), j -> " +
          "CASE WHEN m > 0 AND j = CAST((g + m) % 20 AS INT) " +
          "THEN concat('g', CAST(g AS STRING), 'm', CAST(m AS STRING)) " +
          "ELSE concat('g', CAST(g AS STRING), 'w', CAST(j AS STRING)) END))"))
      .select(col("doc_id"), concat_ws(" ", col("boiler"), col("body")).as("text"))
      .localCheckpoint()
    println(s"SCALE allpairs corpus rows=${docs.count()} (Zipf head df=10,000; planted triples)")
    val t0 = System.nanoTime()
    val pairs = ext.Dedup.tfidfAllPairsOf(docs).count()
    println(f"SCALE heavy_tail_allpairs ${(System.nanoTime() - t0) / 1e9}%.1f s")
    println(s"SCALE   pairs=$pairs (expected exactly ${3 * n}: C(3,2) per planted triple)")
    assert(pairs == 3L * n,
      s"heavy-tail all-pairs must recover exactly the planted pairs, got $pairs")
  }

  private def ingestLeg(spark: SparkSession): Unit = {
    // VERDICT r6 #4: the SAME shard against a 21× and a 50× corpus, with
    // the one-time index bootstrap timed separately from the per-drop probe
    // cycle — the probe's wall must track the SHARD, not the corpus.
    ingestLegAt(spark, 21)
    ingestLegAt(spark, 50)
  }

  private def ingestLegAt(spark: SparkSession, mult: Int): Unit = {
    import ext.{Dedup, Ingest, TextAnalysis}
    import graft.ops.SnapshotTable
    val dir = scaleCorpus(spark, mult)
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val nCorpus = corpus.count()

    // Distinct-text representatives with enough tokens that the planted
    // near-dup stays safely above the 0.5 verify threshold, and a TTR that
    // clears the curation gate (the shard_new assertion needs every planted
    // doc to pass curation — same expressions as the cycle's gates).
    val base = Tables(spark, "/root/testdata/sf0.1", "documents")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("toks")) >= 24 &&
        size(array_distinct(col("toks"))) / size(col("toks")) > 0.3)
    val reps = base.groupBy("text").agg(min(col("doc_id")).as("bid"))
      .select(col("bid"), col("text"),
        graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
      .cache()
    val nReps = reps.count()
    val shard =
      reps.select((col("bid") + 910000000L).as("doc_id"), col("text"),
          lit("shard_exact").as("source"))
        .unionByName(reps.select((col("bid") + 920000000L).as("doc_id"),
          concat(col("text"), lit(" recrawl9")).as("text"),
          lit("shard_near").as("source")))
        .unionByName(reps.select((col("bid") + 930000000L).as("doc_id"),
          concat_ws(" ", reverse(col("toks"))).as("text"),
          lit("shard_new").as("source")))
    println(s"SCALE ingest[${mult}x] corpus=$nCorpus shard=${3 * nReps} (3×$nReps planted)")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-scale-ingest-m$mult-v2").getAbsolutePath
    val appId = s"graft-scale-ingest-$mult"
    // One-time bootstrap (corpus-sized, amortized over every future drop):
    // corpus table + skinny probe index (sha256 + MinHash sig per doc),
    // exactly the appendOnce batches the cycle would run — so the cycle
    // call below no-ops them and its wall is the PER-DROP cost alone.
    time(s"ingest_bootstrap_${mult}x") {
      SnapshotTable.appendOnce(spark, root, corpus, appId, 0L)
      // Ingest.indexRows, not a local re-derivation: the pre-warmed table
      // must stay byte-identical to what the cycle/streaming sink write,
      // or a future index-schema change silently un-no-ops the bootstrap.
      SnapshotTable.appendOnce(spark, root + "-sig",
        Ingest.indexRows(corpus, 64), appId + "-sig", 0L)
    }
    val inv = time(s"ingest_probe_cycle_${mult}x") {
      Ingest.ingestCycleNear(spark, corpus, shard, root, appId)
        .cache()
    }
    val byCat = inv.groupBy("source")
      .agg(sum(when(col("ingested"), 1L).otherwise(0L)).as("nIn"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    println(s"SCALE   per-category (ingested, total): $byCat")
    // A dropped shard doc never reaches the corpus table, so its category
    // must be entirely ABSENT from the post-ingest inventory.
    assert(!byCat.contains("shard_exact"),
      s"exact recrawls reached the corpus: ${byCat.get("shard_exact")}")
    assert(!byCat.contains("shard_near"),
      s"near recrawls got past the signature probe: ${byCat.get("shard_near")}")
    assert(byCat.get("shard_new").contains((nReps, nReps)),
      s"new docs lost: ${byCat.get("shard_new")} of $nReps")
    val total = inv.count()
    assert(total == nCorpus + nReps, s"inventory $total != $nCorpus + $nReps")
    println(s"SCALE   exactly-once inventory=$total (corpus + new docs only)")
  }

  /** Similarity-tier rehearsal at 50× the bench SF: 100k vectors (50
    * near-identical copies of each sf0.1 embedding — one dim perturbed per
    * copy), IVF built with nLists=256 so cluster sizes, and therefore
    * SemDeDup's per-cluster pairwise cost, stay bounded as N grows (the
    * "nLists grows with N" rule from Similarity's scaladoc, exercised).
    * Measures: index build (one-time), probe cost at nprobe/nLists corpus
    * fraction, recall@10 of the probe against brute force over 20 queries,
    * and semantic dedup collapsing the planted 50-groups. */
  /** The 50× similarity corpus (100k vectors, 50-strong semantic-dup
    * groups), built once and shared by the sim and simbatch legs. */
  private def simCorpus(spark: SparkSession): String = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-sim").getAbsolutePath
    val embPath = s"$dir/embeddings.parquet"
    if (!new java.io.File(embPath).exists()) {
      val base = Tables(spark, "/root/testdata/sf0.1", "embeddings")
      (0 until 50).map { c =>
        base.select((col("vec_id") * 100 + c).as("vec_id"),
          // copy c bumps dim (c mod 64) by 0.001*(c+1): cosine to the
          // original stays ≈ 1, so each base vector becomes a 50-strong
          // semantic-duplicate group
          transform(col("embedding"), (x, i) =>
            when(i === lit(c % 64), x + lit(0.001f * (c + 1))).otherwise(x))
            .as("embedding"),
          col("label"))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(embPath)
    }
    dir
  }

  private def simLeg(spark: SparkSession): Unit = {
    import ext.Similarity
    val dir = simCorpus(spark)
    val embPath = s"$dir/embeddings.parquet"
    val nLists = 256
    val nprobe = 8
    val n = spark.read.parquet(embPath).count()
    println(s"SCALE sim corpus rows=$n (sf0.1 is 2,000)")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    time("ivf_build_256")(Similarity.ivfBuild(spark, dir, nLists))
    val probed = time("ivf_probe_topk") {
      Similarity.ivfTopK(spark, dir, queryId = 107L, k = 10, nLists, nprobe).count()
    }
    println(s"SCALE   probe returned $probed rows scanning ~$nprobe/$nLists of the corpus")

    // Recall@10 over 20 queries: brute-force exact vs the IVF probe.
    val e = spark.read.parquet(embPath)
    val qids = (0 until 20).map(i => i.toLong * 100 + 7)
    val queries = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def top10(cands: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(desc("sim"), asc("vec_id"))
      cands.filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim", round(Similarity.cosine(col("embedding"), col("q_emb")), 6))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select("q_id", "vec_id")
    }
    val recall = time("recall_eval_20q") {
      val brute = top10(e.crossJoin(broadcast(queries)))
      val probeLists = Similarity.ivfCentroids(spark, dir, nLists)
        .crossJoin(broadcast(queries))
        .withColumn("c_sim", round(Similarity.cosine(col("centroid"), col("q_emb")), 6))
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("c_sim"), asc("list_id"))))
        .filter(col("rn") <= nprobe).select("q_id", "list_id")
      val ivf = top10(Similarity.ivfAssignments(spark, dir, nLists)
        .join(probeLists, "list_id").join(e, "vec_id").join(broadcast(queries), "q_id"))
      brute.join(ivf, Seq("q_id", "vec_id"), "left_semi").count() / (qids.size * 10.0)
    }
    println(f"SCALE   ivf recall@10 = $recall%.3f over ${qids.size} queries")

    // tau calibrated to the planted geometry: unit-norm vectors, per-copy
    // perturbation up to 0.05 on one dim → within-group cosine to the min-id
    // copy ≥ 1 − (0.0517²)/2 ≈ 0.99867; cross-group cosines are random-unit
    // (≈0). 0.995 separates the two regimes with margin on both sides.
    val kept = time("semantic_dedup") {
      Similarity.semanticDedup(spark, dir, nLists, tau = 0.995)
        .filter(col("kept")).count()
    }
    println(s"SCALE   semantic dedup kept=$kept of $n (planted groups of 50)")

    // PQ leg (VERDICT r4 #5): 8×32 codebooks trained offline on the 100k
    // corpus, then ADC probe + exact re-rank per query. Memory: 8 codes vs
    // 64 floats = 1/32 resident. Recall@10 measured against the brute-force
    // exact top-10 over the same 20 queries — the ≥0.9 acceptance bar.
    time("pq_build")(ext.ProductQuant.pqBuild(spark, dir))
    val bruteTop = top10(e.crossJoin(broadcast(queries))).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val pqRecall = time("pq_recall_20q") {
      val hits = qids.map { qid =>
        val got = ext.ProductQuant.pqTopK(spark, dir, qid, k = 10, shortlist = 100)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        bruteTop(qid).intersect(got).size
      }.sum
      hits / (qids.size * 10.0)
    }
    println(f"SCALE   pq recall@10 = $pqRecall%.3f over ${qids.size} queries (adc shortlist 100 + exact re-rank)")

    // IVFADC leg (VERDICT r5 #3): residual-PQ over the 256-list coarse
    // quantizer, probe = 8 lists × ADC + exact re-rank — compression (8
    // codes vs 64 floats) and scan pruning (8/256 of the codes) multiply.
    // Recall@10 against the same brute-force top-10.
    time("ivfadc_build_256")(ext.ProductQuant.ivfadcBuild(spark, dir, lists = nLists))
    val ivfadcRecall = time("ivfadc_recall_20q") {
      val hits = qids.map { qid =>
        val got = ext.ProductQuant.ivfadcTopK(spark, dir, qid, k = 10,
          shortlist = 100, lists = nLists, probe = nprobe)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        bruteTop(qid).intersect(got).size
      }.sum
      hits / (qids.size * 10.0)
    }
    println(f"SCALE   ivfadc recall@10 = $ivfadcRecall%.3f over ${qids.size} queries (8/256 lists probed)")

    // BATCH probe (VERDICT r6 #3 done-criterion): the same 20 queries
    // through ONE ivfadcTopKAll plan. The single-query loop above pays 20
    // separate jobs (each re-reading its probed lists and re-broadcasting
    // its LUT); the batch plan shares the codes scan and ships one LUT for
    // the whole batch, so per-query cost must come in well under the
    // single-query ~1 s — recorded in SCALE.md next to the loop's number.
    val batchQ = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val batchRecall = time("ivfadc_batch_20q") {
      val got = ext.ProductQuant.ivfadcTopKAll(spark, dir, batchQ, k = 10,
          shortlist = 100, lists = nLists, probe = nprobe)
        .select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      qids.map(qid => bruteTop(qid).intersect(got.getOrElse(qid, Set.empty)).size).sum /
        (qids.size * 10.0)
    }
    println(f"SCALE   ivfadc BATCH recall@10 = $batchRecall%.3f over ${qids.size} queries in one plan")

    // Throughput scaling: 2,000 queries (every c=7 copy) through the same
    // probe. Per-query cost must keep FALLING with batch size (the LUT
    // build, centroid rank and codes read amortize further); this is the
    // retrieval-pass shape a training pipeline actually runs.
    val bigQ = e.filter(pmod(col("vec_id"), lit(100L)) === 7L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val nBig = bigQ.count()
    val rows = time("ivfadc_batch_2000q") {
      ext.ProductQuant.ivfadcTopKAll(spark, dir, bigQ, k = 10,
        shortlist = 100, lists = nLists, probe = nprobe).count()
    }
    println(s"SCALE   ivfadc 2000q batch: $nBig queries -> $rows result rows in one plan")
  }

  /** VERDICT r7 #1 done-criterion: a ≥20,000-query IVFADC batch at 50×
    * through BOTH physical paths. At this batch the broadcast LUT is
    * 20k × nprobe × 256 ≈ 41M (q, list, sub, code) rows (~4 GB built on the
    * driver) — the memory wall the list_id-bucketed shuffle join exists to
    * dodge. The shuffle path runs FIRST so its numbers are on record even
    * if the broadcast attempt exhausts the driver heap. */
  private def simBatchLeg(spark: SparkSession): Unit = {
    val dir = simCorpus(spark)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val nLists = 256
    val nprobe = 8
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    time("ivfadc_build_256")(ext.ProductQuant.ivfadcBuild(spark, dir, lists = nLists))
    // copies c with c % 5 == 3 → 10 copies × 2,000 base vectors = 20,000
    val hugeQ = e.filter(pmod(col("vec_id"), lit(5L)) === 3L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val nQ = hugeQ.count()
    println(s"SCALE simbatch queries=$nQ over ${e.count()} vectors (nprobe=$nprobe/$nLists)")

    val shuffleRows = time("ivfadc_batch_20kq_shuffle") {
      ext.ProductQuant.ivfadcTopKAll(spark, dir, hugeQ, k = 10,
        shortlist = 100, lists = nLists, probe = nprobe, broadcastLut = Some(false)).count()
    }
    println(s"SCALE   shuffle-LUT path: $nQ queries -> $shuffleRows rows (zero batch-scaled broadcast)")

    val bcResult = try {
      Right(time("ivfadc_batch_20kq_broadcast") {
        ext.ProductQuant.ivfadcTopKAll(spark, dir, hugeQ, k = 10,
          shortlist = 100, lists = nLists, probe = nprobe, broadcastLut = Some(true)).count()
      })
    } catch { case t: Throwable => Left(t) }
    bcResult match {
      case Right(r) =>
        println(s"SCALE   broadcast-LUT path: $nQ queries -> $r rows (LUT ≈ ${nQ * nprobe * 256 / 1000000}M rows broadcast)")
        if (r != shuffleRows)
          println(s"SCALE   WARNING: row mismatch shuffle=$shuffleRows broadcast=$r")
      case Left(t) =>
        println(s"SCALE   broadcast-LUT path FAILED at $nQ queries: " +
          s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}")
    }

    // AUTO path (VERDICT r8 #4 done-criterion): broadcastLut = None must
    // derive the shuffle path from the LUT bound (20k × 8 × 256 ≈ 41M rows
    // ≫ the 2M threshold) and complete where the forced broadcast OOMs.
    val autoRows = time("ivfadc_batch_20kq_auto") {
      ext.ProductQuant.ivfadcTopKAll(spark, dir, hugeQ, k = 10,
        shortlist = 100, lists = nLists, probe = nprobe).count()
    }
    println(s"SCALE   auto path (bound ${nQ * nprobe * 256 / 1000000}M rows > 2M -> shuffle): " +
      s"$autoRows rows" + (if (autoRows != shuffleRows) " MISMATCH vs forced shuffle" else ""))
  }

  /** VERDICT r7 #6: the skew-join story past fixture scale. A 10M-row fact
    * table with ONE key owning 30% of all rows (the Zipf head every crawl
    * join has: the null-ish user, the mirror domain) joins a 100k-row ×
    * 256-byte dim table — ~26 MB, past the broadcast threshold, so the
    * join MUST shuffle and the hot key lands one ~3M-row partition on one
    * task. Three physical answers, all asserted row-identical:
    *
    *   1. AQE skew-join (the default production path): OptimizeSkewedJoin
    *      splits the oversized partition into task-sized chunks at runtime;
    *   2. AQE skew handling OFF — the degenerate baseline, one straggler
    *      task serializes the join;
    *   3. `SkewAndBuckets.saltedJoin` n=8 — the manual answer AQE can't
    *      give (e.g. when the skewed side feeds a bucketed/pre-partitioned
    *      shape AQE won't re-plan).
    *
    * The rehearsal records all three walls and asserts the AQE run really
    * exercised the skew path (the executed plan marks the join
    * `isSkewJoin`); PlanAuditSpec's j6 gate pins the salted plan's
    * (key, salt) join keys so the manual path can't silently degrade. */
  private def skewLeg(spark: SparkSession): Unit = {
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val nFact = 10000000L
    val nKeys = 100000L
    // deterministic Zipf head: rows with id % 10 < 3 all hit key 0
    // fact rows carry an incompressible fingerprint so the hot partition's
    // COMPRESSED shuffle size reflects its row count (monotonic ids + a
    // constant key lz4 down to almost nothing, hiding the skew from AQE's
    // byte-based trigger — at production scale rows are real payloads)
    val fact = spark.range(nFact).select(col("id"),
        when(pmod(col("id"), lit(10L)) < 3, 0L)
          .otherwise(pmod(xxhash64(col("id")), lit(nKeys))).as("key"),
        (col("id") % 97).cast("double").as("v"),
        md5(col("id").cast("string")).as("fp"))
      .localCheckpoint()
    // INCOMPRESSIBLE ~256-byte payload (md5 chain): a constant filler
    // compresses to nothing in the shuffle, AQE's runtime size estimate
    // drops under the broadcast threshold, and the join silently converts
    // to broadcast — hiding the skew this leg exists to measure.
    val dim = spark.range(nKeys).select(col("id").as("key"),
        expr("concat_ws('', transform(sequence(0, 7), " +
          "j -> md5(concat(CAST(id AS STRING), '-', CAST(j AS STRING)))))")
          .as("payload"))
      .localCheckpoint() // ~26 MB incompressible: must shuffle
    val hot = fact.filter(col("key") === 0L).count()
    println(s"SCALE skew fact=$nFact rows, dim=$nKeys rows, hot key owns $hot (${hot * 100 / nFact}%)")
    // The hot partition is ~100 MB here; AQE's default skew trigger is
    // 256 MB AND 5× median, sized for cluster-scale partitions. Scale the
    // byte thresholds to this rig (the 5× median factor still gates) so
    // the leg exercises the same code path a 10 GB hot partition hits in
    // production.
    val prevThresh = spark.conf.get(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256MB")
    val prevAdvisory = spark.conf.get(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16MB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
    // The production regime under test is "dim too big to broadcast" — at
    // rig scale the 26 MB dim would be size-estimated ~3 MB and silently
    // broadcast, making every variant identical; disable the threshold so
    // the join genuinely shuffles, as a 100 GB dim forces at cluster scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {

    // Global aggregate downstream (map-side partial, no key re-shuffle):
    // a key-grouped consumer would let AQE skip the skew split to preserve
    // the join's output partitioning. `payload` stays referenced so column
    // pruning can't shrink dim under the broadcast threshold.
    def run(joined: org.apache.spark.sql.DataFrame) = {
      val df = joined.agg(count(lit(1)).as("n"),
        sum(length(col("payload")) + length(col("fp"))).as("lp"),
        round(sum(col("v")), 3).as("sv"))
      // collect(), not head(): head() executes a SEPARATE limit plan, so
      // df's own AdaptiveSparkPlan would never finalize and the skew
      // assertion below would read the un-executed initial plan.
      val r = df.collect().toSeq
      (r, df.queryExecution.executedPlan.toString)
    }
    val (skewOn, planOn) = time("skew_join_aqe") { run(fact.join(dim, "key")) }
    assert(planOn.contains("isSkewJoin=true") || planOn.contains("skew=true"),
      "AQE did not mark the join as skew-handled — the leg is not testing what it claims")
    val (skewOff, _) = time("skew_join_aqe_disabled") {
      val prev = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
      try {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        run(fact.join(dim, "key"))
      } finally spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev)
    }
    val (salted, _) = time("skew_join_salted_n8") {
      run(graft.ops.SkewAndBuckets.saltedJoin(fact, dim, "key", n = 8))
    }
    assert(skewOn == skewOff && skewOff == salted,
      s"skew variants disagree: $skewOn / $skewOff / $salted")
    println(s"SCALE   all three variants row-identical: $salted")
    } finally {
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", prevThresh)
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", prevAdvisory)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  /** VERDICT r7 #4: the ANN stack at PRODUCTION embedding width. The 50×
    * corpus's 64-dim vectors expand to 768 dims by concatenating 12
    * per-block-scaled copies — cosine geometry is EXACTLY preserved
    * (concat of c_j-scaled copies multiplies every dot and both norms by
    * the same Σc_j², so the true top-k is the 64-dim top-k), which makes
    * recall@10 directly comparable to the sim leg while the quantizer
    * faces 96 subspaces (768/8) instead of 8. Measures: IVF-256 build at
    * width, the 96-fit IVFADC build, batch-probe recall@10, per-query cost
    * through the shuffle-LUT path, and the MEASURED on-disk compression of
    * codes vs raw vectors (the 1/32 residency claim re-checked at width —
    * 96 5-bit codes vs 768 float32). */
  private def sim768Leg(spark: SparkSession): Unit = {
    val base = simCorpus(spark)
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-sim768").getAbsolutePath
    val embPath = s"$dir/embeddings.parquet"
    val subs = 96
    val nLists = 256
    val nprobe = 8
    if (!new java.io.File(embPath).exists()) {
      spark.read.parquet(s"$base/embeddings.parquet")
        .select(col("vec_id"),
          expr("flatten(transform(sequence(0, 11), " +
            "j -> transform(embedding, x -> CAST(x * (1.0 + j * 0.25) AS FLOAT))))")
            .as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(embPath)
    }
    val e = spark.read.parquet(embPath)
    val n = e.count()
    val width = e.select(size(col("embedding"))).head().getInt(0)
    println(s"SCALE sim768 corpus rows=$n dim=$width (subs=$subs, $nLists lists)")
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    time("sim768_ivf_build_256")(ext.Similarity.ivfBuild(spark, dir, nLists))
    val adcRoot = time("sim768_ivfadc_build_96sub") {
      ext.ProductQuant.ivfadcBuild(spark, dir, lists = nLists, subs = subs)
    }
    // measured residency: codes artifact bytes vs raw embedding bytes
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length()
      walk(new java.io.File(p))
    }
    val rawB = dirBytes(embPath)
    val codesB = dirBytes(s"$adcRoot/codes")
    println(f"SCALE   residency: codes ${codesB / 1e6}%.1f MB vs raw ${rawB / 1e6}%.1f MB = 1/${rawB.toDouble / codesB}%.0f on disk")

    // recall@10 over 20 queries, batch probe (shuffle-LUT path) vs brute force
    val qids = (0 until 20).map(i => i.toLong * 100 + 7)
    val queries = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("sim"), asc("vec_id"))
    val brute = time("sim768_brute_topk_20q") {
      e.crossJoin(broadcast(queries)).filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim", round(ext.Similarity.cosine(col("embedding"), col("q_embedding")), 6))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }
    val recall = time("sim768_ivfadc_batch_20q") {
      val got = ext.ProductQuant.ivfadcTopKAll(spark, dir, queries, k = 10,
          shortlist = 100, lists = nLists, probe = nprobe,
          broadcastLut = Some(false), subs = subs)
        .select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      qids.map(q => brute(q).intersect(got.getOrElse(q, Set.empty)).size).sum / (qids.size * 10.0)
    }
    println(f"SCALE   sim768 ivfadc recall@10 = $recall%.3f over ${qids.size} queries (shuffle-LUT, $nprobe/$nLists lists)")

    // throughput at a 2,000-query batch through the shuffle path
    val bigQ = e.filter(pmod(col("vec_id"), lit(100L)) === 7L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val nBig = bigQ.count()
    val rows = time("sim768_ivfadc_batch_2000q") {
      ext.ProductQuant.ivfadcTopKAll(spark, dir, bigQ, k = 10,
        shortlist = 100, lists = nLists, probe = nprobe,
        broadcastLut = Some(false), subs = subs).count()
    }
    println(s"SCALE   sim768 $nBig-query batch -> $rows rows (shuffle-LUT at dim $width)")
  }

  /** VERDICT r7 #3 done-criterion: the full crawl → training-corpus chain
    * ([[ext.EndToEnd]]) run STAGE BY STAGE over SnapshotTable lineage at 21×
    * — one committed manifest per stage, per-stage wall and row counts —
    * then the same chain as ONE declarative plan. The two must produce the
    * identical report, and the one-plan wall must come in at or under the
    * sum of stage walls (each stage reads the previous stage's artifact, so
    * nothing is recomputed across the chain; the one-plan run additionally
    * fuses stages but re-derives the corpus-wide span/novelty frames). */
  private def e2eLeg(spark: SparkSession, mult: Int = 21): Unit = {
    import graft.ops.SnapshotTable
    import ext.EndToEnd
    val dir = scaleCorpus(spark, mult)
    val root = new java.io.File(sys.props("java.io.tmpdir"), s"graft-scale-e2e-$mult").getAbsolutePath
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles).toSeq.flatten.foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(root)) // fresh lineage: every stage commit measured
    var sumWall = 0.0
    def stage[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      val w = (System.nanoTime() - t0) / 1e9
      sumWall += w
      println(f"SCALE e2e_$name $w%.1f s")
      r
    }
    val d = spark.read.parquet(s"$dir/documents.parquet")
    println(s"SCALE e2e corpus rows=${d.count()} (${mult}x)")

    stage("s1_gate") {
      SnapshotTable.commit(spark, s"$root/s1", EndToEnd.ingestGate(d))
    }
    val s1 = SnapshotTable.read(spark, s"$root/s1")
    println(s"SCALE   s1 gated rows=${s1.count()}")
    stage("s2_exact_dedup") {
      SnapshotTable.commit(spark, s"$root/s2", EndToEnd.exactDedup(s1))
    }
    val s2 = SnapshotTable.read(spark, s"$root/s2")
    println(s"SCALE   s2 exact reps=${s2.count()}")
    stage("s3_near_dedup") {
      SnapshotTable.commit(spark, s"$root/s3", EndToEnd.nearDedup(s2))
    }
    val s3 = SnapshotTable.read(spark, s"$root/s3")
    println(s"SCALE   s3 near-dedup survivors=${s3.count()}")
    stage("s4_curate") {
      SnapshotTable.commit(spark, s"$root/s4", EndToEnd.curate(spark, dir, s3))
    }
    val s4 = SnapshotTable.read(spark, s"$root/s4")
    println(s"SCALE   s4 curated rows=${s4.count()}")
    stage("s5_mixture") {
      SnapshotTable.commit(spark, s"$root/s5", EndToEnd.mixtureShares(s4))
    }
    val s5 = SnapshotTable.read(spark, s"$root/s5")
    stage("s6_split_pack") {
      SnapshotTable.commit(spark, s"$root/s6", EndToEnd.splitAndPack(s4))
    }
    val s6 = SnapshotTable.read(spark, s"$root/s6")
    val chained = stage("s7_report") {
      EndToEnd.report(s6, s5).collect()
    }
    println(f"SCALE e2e chained total $sumWall%.1f s over 7 committed stages")
    chained.take(4).foreach(r => println(s"SCALE   report $r"))
    println(s"SCALE   ... ${chained.length} report rows total")

    val t0 = System.nanoTime()
    val onePlan = EndToEnd.endToEndReport(spark, dir).collect()
    println(f"SCALE e2e one_plan ${(System.nanoTime() - t0) / 1e9}%.1f s (the registered x_pipeline_end_to_end shape)")
    assert(chained.map(_.toString).toSeq == onePlan.map(_.toString).toSeq,
      "stage-chained and one-plan reports diverged")
    println(s"SCALE   chained == one-plan report (${onePlan.length} rows) — artifact chain loses nothing")
  }

  /** Retrieval-tier rehearsal (round 8): BM25 build/probe at 50× (250k
    * docs). Measures the amortization the inverted index exists for: the
    * one-time tokenize-everything build vs per-workload probes that read
    * only the queried terms' postings, against the scan path that
    * re-tokenizes the corpus per workload — then a 2,000-query batch probe
    * in ONE plan, the production mining shape (s/query is the metric). */
  private def retrievalLeg(spark: SparkSession): Unit = {
    import ext.Retrieval
    import org.apache.spark.sql.functions.{col, explode, lower}
    val dir = scaleCorpus(spark, 50)
    val docsPath = s"$dir/documents.parquet"
    println(s"SCALE retrieval corpus rows=${spark.read.parquet(docsPath).count()} (50x)")

    // Force a COLD build: drop any prior index root for this corpus.
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    Option(tmp.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("graft-bm25-") && f.getName.contains("graft_scale_50"))
      .foreach { f =>
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles).toSeq.flatten.foreach(rm); x.delete(); ()
        }
        rm(f)
      }

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE retrieval_$name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    time("build_cold")(Retrieval.bm25IndexBuild(spark, dir))

    import spark.implicits._
    val fixtureQ = Seq(
      1L -> "spark", 1L -> "merge", 1L -> "window",
      2L -> "customer", 2L -> "batch", 2L -> "filter",
      3L -> "vector", 3L -> "stream", 3L -> "slow")
    val fq = fixtureQ.toDF("q_id", "term")
    val fTerms = fixtureQ.map(_._2).distinct
    val viaIndex = time("probe_9term") {
      Retrieval.bm25TopKIndexed(spark, dir, fq, fTerms, k = 5).collect()
    }
    val viaScan = time("scan_9term") {
      Retrieval.bm25TopK(spark, Tables(spark, dir, "documents"), fq, k = 5).collect()
    }
    assert(viaIndex.map(_.toString).toSeq == viaScan.map(_.toString).toSeq,
      "index and scan paths diverged at 50x")
    val viaHeap = time("heap_9term") {
      Retrieval.bm25TopKBatch(spark, dir, fq, fTerms, k = 5).collect()
    }
    assert(viaHeap.map(_.toString).toSeq == viaScan.map(_.toString).toSeq,
      "heap and window rankings diverged at 50x")
    println(s"SCALE   probe == scan == heap (${viaIndex.length} rows)")

    // Batch workload: 2,000 two-term queries over the corpus vocabulary
    // (deterministic pairing — no RNG in rehearsals), one plan. NOTE the
    // density: this fixture vocabulary is ~50 terms over 250k docs, so
    // EVERY term is a stopword (df ≈ 0.65N) and every query scores a third
    // of the corpus — the adversarial ceiling for exact BM25, whose cost is
    // Σ_q Σ_{t∈q} df(t) scored partials. Real Zipf workloads are orders
    // sparser at the same query count.
    val vocab = spark.read.parquet(docsPath)
      .select(explode(ext.TextAnalysis.tokens(lower(col("text")))).as("term"))
      .filter(!col("term").rlike("^perturbed"))
      .distinct().orderBy("term").as[String].collect().toSeq
    val nQ = 2000
    val batch = (0 until nQ).flatMap { i =>
      Seq((i.toLong, vocab(i % vocab.size)), (i.toLong, vocab((i * 7 + 3) % vocab.size)))
    }
    val batchTerms = batch.map(_._2).distinct
    val dfMap = graft.ops.SnapshotTable
      .read(spark, s"${Retrieval.bm25IndexBuild(spark, dir)}/impacts")
      .groupBy("term").count().as[(String, Long)].collect().toMap
    val partials = batch.map { case (_, t) => dfMap.getOrElse(t, 0L) }.sum
    println(s"SCALE   vocabulary ${vocab.size} terms; batch workload scores $partials (q,doc,term) partials")
    // Measured: 128 reducers is no faster than 32 here (305 vs 279 s) —
    // the probe is CPU/shuffle-VOLUME-bound on the ~500M-row sum, not
    // spill-bound, so partition count is not the lever at this density.
    val t0 = System.nanoTime()
    val rows = Retrieval.bm25TopKBatch(spark, dir, batch.toDF("q_id", "term"),
      batchTerms, k = 10).count()
    val w = (System.nanoTime() - t0) / 1e9
    println(f"SCALE retrieval_probe_batch$nQ $w%.1f s = ${w / nQ}%.4f s/query ($rows result rows, ${partials / w / 1e6}%.1f M partials/s)")

    // Zipf workload — the regime max-score pruning serves: every query is
    // one stopword (df ≈ 0.65N) + one rare discriminative term (the
    // perturbed$i markers, df = 2,500 each at 50×). Exact answer asserted
    // row-identical between the pruned and unpruned paths, then the wall
    // comparison is the SCALE.md row.
    val rare = spark.read.parquet(docsPath)
      .select(explode(ext.TextAnalysis.tokens(lower(col("text")))).as("term"))
      .filter(col("term").rlike("^perturbed"))
      .distinct().orderBy("term").as[String].collect().toSeq
    val zipf = (0 until nQ).flatMap { i =>
      Seq((i.toLong, vocab(i % vocab.size)), (i.toLong, rare(i % rare.size)))
    }
    val zipfDf = zipf.toDF("q_id", "term")
    val zipfTerms = zipf.map(_._2).distinct
    val zipfPartials = zipf.map { case (_, t) => dfMap.getOrElse(t, 0L) }.sum
    val plan = Retrieval.prunePlan(spark, dir, zipfDf, zipfTerms, 10)
    val essPartials = plan.candBound
    println(s"SCALE   zipf workload: $zipfPartials unpruned partials; pruning fires=${plan.prunesAnything}, " +
      s"candidate bound=$essPartials (q,doc) over ${plan.candDocsBound} docs")
    val tU = System.nanoTime()
    val unpruned = Retrieval.bm25TopKBatch(spark, dir, zipfDf, zipfTerms, k = 10).collect()
    val wU = (System.nanoTime() - tU) / 1e9
    println(f"SCALE retrieval_zipf_unpruned $wU%.1f s = ${wU / nQ}%.4f s/query (${unpruned.length} rows)")
    val tP = System.nanoTime()
    val pruned = Retrieval.bm25TopKPrunedBatch(spark, dir, zipfDf, zipfTerms, k = 10).collect()
    val wP = (System.nanoTime() - tP) / 1e9
    println(f"SCALE retrieval_zipf_pruned $wP%.1f s = ${wP / nQ}%.4f s/query (${wU / wP}%.1fx vs unpruned)")
    assert(pruned.map(_.toString).toSeq == unpruned.map(_.toString).toSeq,
      "max-score pruned batch diverged from the unpruned path at 50x")
    println(s"SCALE   pruned == unpruned (${pruned.length} rows) — the bound is exact")
  }

  /** VERDICT r8 #3 done-criterion: a ≥50k-distinct-term probe restriction
    * over the 50× index. Past [[Retrieval.MaxLiteralTerms]] the restriction
    * is a broadcast semi-join — nothing workload-sized serializes into task
    * closures (the literal form at this width would ship a ~50k-entry In()
    * Expression tree to every task, the dim-768 LUT failure mode). Rows
    * must equal the bounded-literal probe's exactly. */
  private def retrievalWideTermsLeg(spark: SparkSession): Unit = {
    import ext.Retrieval
    import spark.implicits._
    val dir = scaleCorpus(spark, 50)
    println(s"SCALE retrieval50k corpus rows=${spark.read.parquet(s"$dir/documents.parquet").count()} (50x)")
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE retrieval_$name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    time("build_or_reuse")(Retrieval.bm25IndexBuild(spark, dir))
    val fixtureQ = Seq(
      1L -> "spark", 1L -> "merge", 1L -> "window",
      2L -> "customer", 2L -> "batch", 2L -> "filter",
      3L -> "vector", 3L -> "stream", 3L -> "slow")
    val fq = fixtureQ.toDF("q_id", "term")
    val fTerms = fixtureQ.map(_._2).distinct
    val narrow = time("probe_9term_literal") {
      Retrieval.bm25TopKBatch(spark, dir, fq, fTerms, k = 5).collect()
    }
    // Same queries, term set padded to 50,009 distinct terms (a wide-
    // vocabulary batch manifest): forces the broadcast-semi-join form.
    val wide = fTerms ++ (0 until 50000).map(i => s"wideterm$i")
    val viaWide = time("probe_50k_terms_semijoin") {
      Retrieval.bm25TopKBatch(spark, dir, fq, wide, k = 5).collect()
    }
    assert(viaWide.map(_.toString).toSeq == narrow.map(_.toString).toSeq,
      "50k-term semi-join probe diverged from the literal probe")
    println(s"SCALE   50k-term probe == 9-term literal probe (${narrow.length} rows), no task-serialization blowup")
  }

  /** MV-tier rehearsal (round 8): 21 exactly-once appends of key-shifted
    * sf0.1 orders copies (~3.2M rows final) with a change-feed-driven
    * refresh per append, vs full recomputes at checkpoints. The claim under
    * test is the O(|delta| + |view|) refresh: per-append refresh wall must
    * stay ~flat while the table grows 21×, and the final view must equal
    * the full recompute EXACTLY. */
  private def mvLeg(spark: SparkSession): Unit = {
    import ext.MaterializedView
    import graft.ops.{Checkpoints, SnapshotTable}
    import org.apache.spark.sql.functions.{col, lit}
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-mv").getAbsolutePath
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles).toSeq.flatten.foreach(rm); x.delete(); ()
    }
    rm(new java.io.File(root)) // fresh lineage: every append + refresh measured

    val base = Tables(spark, "/root/testdata/sf0.1", "orders")
    val batches = 21
    def batchDf(i: Int) = base.select(
      (col("o_orderkey") + lit(i.toLong * 1000000000L)).as("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority"))

    var view: org.apache.spark.sql.DataFrame = null
    var prev: org.apache.spark.sql.DataFrame = null
    var refreshTotal = 0.0
    (0 until batches).foreach { i =>
      val ta = System.nanoTime()
      val v = SnapshotTable.appendOnce(spark, root, batchDf(i), "scale-mv", i.toLong)
      val appendW = (System.nanoTime() - ta) / 1e9
      val tr = System.nanoTime()
      val (delta, removed) =
        if (i == 0) { val all = SnapshotTable.read(spark, root, Some(v)); (all, all.limit(0)) }
        else SnapshotTable.changesDelta(spark, root, v - 1, Some(v))
          .getOrElse(throw SnapshotTable.noCdcAt(root, v))
      // The scale evidence at rig size is I/O, not wall (a 15-group agg
      // over 3M rows is under Spark's fixed overhead either way): the
      // refresh plan reads the DELTA's files only; recompute reads them all.
      if (i == batches - 1)
        println(s"SCALE mv final refresh reads ${delta.inputFiles.length} files; " +
          s"a recompute reads ${SnapshotTable.read(spark, root).inputFiles.length}")
      val next =
        if (view == null) MaterializedView.ordersSpec.partial(delta).localCheckpoint()
        else MaterializedView.ordersSpec.combineDelta(spark, root, view, delta, removed)
      if (prev != null) Checkpoints.free(prev)
      prev = view; view = next
      val refreshW = (System.nanoTime() - tr) / 1e9
      refreshTotal += refreshW
      if (i % 5 == 0 || i == batches - 1) {
        val tc = System.nanoTime()
        val n = MaterializedView.ordersSpec.partial(SnapshotTable.read(spark, root)).count()
        val recomputeW = (System.nanoTime() - tc) / 1e9
        println(f"SCALE mv batch$i%02d append $appendW%.2f s refresh $refreshW%.2f s | full recompute $recomputeW%.2f s ($n groups)")
      } else {
        println(f"SCALE mv batch$i%02d append $appendW%.2f s refresh $refreshW%.2f s")
      }
    }
    println(f"SCALE mv refresh total $refreshTotal%.1f s over $batches appends (${base.count() * batches} rows final)")

    // Exactness: incremental chain == full recompute of the final state.
    val keyed = view.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("cnt"), r.getDecimal(3).stripTrailingZeros,
          r.getAs[Double]("min_price"), r.getAs[Double]("max_price"))).toMap
    val full = MaterializedView.ordersSpec.partial(SnapshotTable.read(spark, root)).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("cnt"), r.getDecimal(3).stripTrailingZeros,
          r.getAs[Double]("min_price"), r.getAs[Double]("max_price"))).toMap
    assert(keyed == full, "incremental view diverged from full recompute")
    println(s"SCALE   incremental == recompute over ${keyed.size} groups (exact)")
  }

  /** VERDICT r8 #2 rehearsal: retraction-capable MV refresh over a MERGE
    * upsert at 21× sf0.1 orders (~3.2M rows). The claim under test is that
    * the REFRESH reads O(|delta| + touched groups' files), never the table:
    * the upsert batch moves a slice of ONE (status, priority) group, the
    * CDC delta is source-sized, and the min/max recompute's literal
    * group-key predicate must prune the clustered table scan to the touched
    * groups' files (the upsert itself rewrites the table — that is the
    * commit's cost, priced separately and honestly). */
  /** Table-maintenance leg: 24 exactly-once drops whose key ranges fully
    * interleave (every drop spans the whole key space — the worst case an
    * ingest stream produces), so a narrow key probe must open EVERY file.
    * `recluster` then rewrites the snapshot range-clustered on k, and the
    * identical probe is re-measured: the evidence row is files-planned
    * before/after plus walls. A key-targeted DELETE follows on the
    * clustered table, demonstrating the copy-on-write file economics at
    * the same scale (touched files rewritten, rest carried by entry). */
  private def reclusterLeg(spark: SparkSession): Unit = {
    import graft.ops.SnapshotTable
    import org.apache.spark.sql.functions.{col, lit, sum}
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-recluster").getAbsolutePath
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles).toSeq.flatten.foreach(rm); x.delete(); ()
    }
    rm(new java.io.File(root))
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val drops = 24
    val perDrop = 200000L
    time(s"recluster_ingest_${drops}_drops_4.8M") {
      (0 until drops).foreach { b =>
        val df = spark.range(perDrop).select(
          (col("id") * drops + b).as("k"),          // full-range interleave
          (col("id") % 97).cast("long").as("grp"),
          (col("id") % 1000).cast("double").as("price"))
          .coalesce(4)                               // 4 files per drop
        SnapshotTable.appendOnce(spark, root, df, "recluster-rehearsal", b.toLong)
      }
    }

    def probe(tag: String): Unit = {
      val t0 = System.nanoTime()
      val (df, idx) = SnapshotTable.readTracked(spark, root)
      df.filter(col("k").between(2000000L, 2010000L))
        .agg(sum(col("price"))).collect()
      val sel = idx.map(i => s"${i.lastSelected} of ${i.totalFiles}").getOrElse("untracked")
      println(f"SCALE recluster_probe_$tag ${(System.nanoTime() - t0) / 1e9}%.2f s, files planned $sel")
    }
    probe("before"); probe("before_warm")
    time("recluster_rewrite") {
      SnapshotTable.recluster(spark, root, Seq("k"), numFiles = 48)
    }
    probe("after"); probe("after_warm")

    // DELETE on the clustered table: one narrow key range -> one touched
    // file rewritten, 47 carried by manifest entry.
    val filesBefore = SnapshotTable.read(spark, root).inputFiles.toSet
    val vDel = time("recluster_delete_key_range") {
      SnapshotTable.delete(spark, root, col("k").between(2000000L, 2010000L))
    }
    val filesAfter = SnapshotTable.read(spark, root, Some(vDel)).inputFiles.toSet
    println(s"SCALE recluster_delete carried ${(filesAfter & filesBefore).size} " +
      s"of ${filesBefore.size} files, rewrote ${(filesAfter -- filesBefore).size}; " +
      s"rows now ${SnapshotTable.read(spark, root).count()}")

    // UPDATE on the clustered table: identical copy-on-write economics —
    // the narrow key range touches one file, SET rewrites it, the rest
    // carry by manifest entry.
    val filesBeforeU = SnapshotTable.read(spark, root).inputFiles.toSet
    val vUpd = time("recluster_update_key_range") {
      SnapshotTable.update(spark, root, col("k").between(3000000L, 3010000L),
        Map("price" -> (col("price") * 2)))
    }
    val filesAfterU = SnapshotTable.read(spark, root, Some(vUpd)).inputFiles.toSet
    println(s"SCALE recluster_update carried ${(filesAfterU & filesBeforeU).size} " +
      s"of ${filesBeforeU.size} files, rewrote ${(filesAfterU -- filesBeforeU).size}")

    // DROP COLUMN at the same scale: metadata-only — the wall is a KB
    // manifest write regardless of table size, and zero files move.
    val filesBeforeD = SnapshotTable.read(spark, root).inputFiles.toSet
    time("recluster_drop_column") {
      SnapshotTable.dropColumn(spark, root, "grp")
    }
    val after = SnapshotTable.read(spark, root)
    println(s"SCALE recluster_drop_column files untouched " +
      s"${after.inputFiles.toSet == filesBeforeD}, schema now ${after.columns.mkString(",")}")
  }

  /** Bloom-skipping leg: the SAME fully-interleaved 24-drop ingest as
    * [[reclusterLeg]] (every drop's files span ~the whole key space), built
    * TWICE — bounds-only vs bloom-configured — and point-probed. Bounds can
    * only narrow a point lookup to one file PER DROP (24 planned); the
    * per-file blooms exclude the 23 drops that cannot hold the key. The leg
    * also reports the honest costs: ingest wall with the per-file bloom
    * build, and the manifest growth from inlined base64 blooms (the scale
    * path past ~hundreds of files is Delta-style side-car bloom files; at
    * this format's file counts the inline manifest stays driver-KB/MB). */
  private def bloomLeg(spark: SparkSession, drops: Int = 24): Unit = {
    import graft.ops.SnapshotTable
    import org.apache.spark.sql.functions.col
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles).toSeq.flatten.foreach(rm); x.delete(); ()
    }
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val perDrop = 200000L
    def ingest(root: String, bloom: Boolean): Unit = {
      rm(new java.io.File(root))
      (0 until drops).foreach { b =>
        val df = spark.range(perDrop).select(
          (col("id") * drops + b).as("k"),
          (col("id") % 97).cast("long").as("grp"),
          (col("id") % 1000).cast("double").as("price"))
          .coalesce(4)
        SnapshotTable.appendOnce(spark, root, df, "bloom-rehearsal", b.toLong)
        if (bloom && b == 0) SnapshotTable.setBloomColumns(spark, root, Seq("k"))
      }
    }
    val plain = new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-bloom-plain").getAbsolutePath
    val bloomy = new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-bloom-on").getAbsolutePath
    val mrows = drops * perDrop / 1000000L
    time(s"bloom_ingest_plain_${drops}_drops_${mrows}M")(ingest(plain, bloom = false))
    time(s"bloom_ingest_bloomed_${drops}_drops_${mrows}M")(ingest(bloomy, bloom = true))

    val probeKey = 123456L * drops + 12 // lives in drop 12 only
    def probe(root: String, tag: String): Unit = {
      (1 to 2).foreach { pass =>
        val t0 = System.nanoTime()
        val (df, idx) = SnapshotTable.readTracked(spark, root)
        val n = df.filter(col("k") === probeKey).count()
        val sel = idx.map(i => s"${i.lastSelected} of ${i.totalFiles}").getOrElse("untracked")
        println(f"SCALE bloom_point_probe_${tag}_$pass ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
          s"rows $n, files planned $sel")
      }
    }
    probe(plain, "bounds_only")
    probe(bloomy, "bloomed")
    def manifestBytes(root: String): Long = {
      val d = new java.io.File(root, "_manifests")
      Option(d.listFiles).toSeq.flatten.filter(_.getName.endsWith(".json"))
        .map(_.length).max
    }
    def sidecarBytes(root: String): Long = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root))
        .filter(_.getName.startsWith("_bloom-")).map(_.length).sum
    }
    println(s"SCALE bloom_manifest_bytes plain ${manifestBytes(plain)}, " +
      s"bloomed ${manifestBytes(bloomy)}, bloom sidecars ${sidecarBytes(bloomy)}")
  }

  /** CHECK-enforcement cost leg: the same 24-drop ingest with and without
    * two declared constraints. Each commit pays one delta-sized validation
    * scan per constraint (never a table scan) — the wall delta is the
    * price of "a violating commit can never become visible". */
  private def constraintLeg(spark: SparkSession): Unit = {
    import graft.ops.SnapshotTable
    import org.apache.spark.sql.functions.col
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles).toSeq.flatten.foreach(rm); x.delete(); ()
    }
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val drops = 24
    val perDrop = 200000L
    def ingest(root: String, constrained: Boolean): Unit = {
      rm(new java.io.File(root))
      (0 until drops).foreach { b =>
        val df = spark.range(perDrop).select(
          (col("id") * drops + b).as("k"),
          (col("id") % 97).cast("long").as("grp"),
          (col("id") % 1000).cast("double").as("price"))
          .coalesce(4)
        SnapshotTable.appendOnce(spark, root, df, "cons-rehearsal", b.toLong)
        if (constrained && b == 0) {
          SnapshotTable.setCheckConstraint(spark, root, "price_range",
            "price >= 0.0 AND price < 1000.0")
          SnapshotTable.setCheckConstraint(spark, root, "grp_domain", "grp < 97")
        }
      }
    }
    val plain = new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-cons-plain").getAbsolutePath
    val gated = new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-cons-on").getAbsolutePath
    time(s"constraint_ingest_plain_${drops}_drops_4.8M")(ingest(plain, constrained = false))
    time(s"constraint_ingest_gated_${drops}_drops_4.8M")(ingest(gated, constrained = true))
    // A violating drop against the 4.8M-row table: rejected without
    // touching the table, and the rejection cost is DELTA-sized.
    val bad = spark.range(1000L).select(
      (col("id") + 10000000L).as("k"),
      (col("id") % 97).cast("long").as("grp"),
      (col("id") - 500L).cast("double").as("price")) // negatives violate
    val vBefore = SnapshotTable.currentVersion(spark, gated).get
    time("constraint_violating_drop_rejected") {
      try {
        SnapshotTable.appendOnce(spark, gated, bad, "cons-rehearsal", 99L)
        throw new IllegalStateException("violating drop must be rejected")
      } catch { case _: IllegalArgumentException => () }
    }
    println(s"SCALE constraint_reject_atomic version unchanged " +
      s"${SnapshotTable.currentVersion(spark, gated).contains(vBefore)}, " +
      s"rows ${SnapshotTable.rowCount(spark, gated)}")
  }

  private def mvUpsertLeg(spark: SparkSession): Unit = {
    import ext.MaterializedView
    import graft.ops.SnapshotTable
    import org.apache.spark.sql.functions.{col, lit}
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-mvup").getAbsolutePath
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles).toSeq.flatten.foreach(rm); x.delete(); ()
    }
    rm(new java.io.File(root))
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val base = Tables(spark, "/root/testdata/sf0.1", "orders")
    val big = (0 until 21).map(i => base.select(
      (col("o_orderkey") + lit(i.toLong * 1000000000L)).as("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority"))).reduce(_ unionByName _)
    val keys = Seq("o_orderstatus", "o_orderpriority")

    val v0 = time("mvup_bootstrap_upsert_3.2M") {
      SnapshotTable.upsert(spark, root, big, Seq("o_orderkey"), clusterBy = keys)
    }
    val view0 = MaterializedView.ordersSpec.partial(SnapshotTable.read(spark, root, Some(v0)))
      .localCheckpoint()

    // The change batch: every 97th row of ONE group moves to '9-MOVED' —
    // touched groups = {(F, 1-URGENT)}; everything else must go unread.
    val moved = SnapshotTable.read(spark, root, Some(v0))
      .filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT" &&
        col("o_orderkey") % 97 === 0)
      .withColumn("o_orderpriority", lit("9-MOVED"))
    val nMoved = moved.count()
    val v1 = time("mvup_upsert_commit") {
      SnapshotTable.upsert(spark, root, moved, Seq("o_orderkey"), clusterBy = keys)
    }

    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    val tableFiles = SnapshotTable.read(spark, root).inputFiles.length
    println(s"SCALE mvup delta: ${adds.inputFiles.length} add + " +
      s"${removes.inputFiles.length} remove files ($nMoved rows moved) vs $tableFiles table files")

    val refreshed = time("mvup_refresh_combineDelta") {
      MaterializedView.ordersSpec.combineDelta(spark, root, view0, adds, removes).localCheckpoint()
    }
    // Observability of the touched-group recompute's file skipping: the
    // identical predicate through readTracked reports planned/total files.
    val (tracked, idx) = SnapshotTable.readTracked(spark, root)
    tracked.filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
      .agg(org.apache.spark.sql.functions.count(lit(1))).collect()
    idx.foreach(i => println(s"SCALE mvup touched-group recompute planned " +
      s"${i.lastSelected} of ${i.totalFiles} clustered files"))

    val full = time("mvup_full_recompute") {
      MaterializedView.ordersSpec.partial(SnapshotTable.read(spark, root)).localCheckpoint()
    }
    val key = (r: org.apache.spark.sql.Row) => (r.getString(0), r.getString(1)) ->
      (r.getAs[Long]("cnt"), r.getDecimal(3).stripTrailingZeros,
        r.getAs[Double]("min_price"), r.getAs[Double]("max_price"))
    val a = refreshed.collect().map(key).toMap
    val b = full.collect().map(key).toMap
    assert(a == b, "retraction refresh diverged from full recompute")
    println(s"SCALE   mvup retraction refresh == recompute over ${a.size} groups (exact)")
  }

  /** High-cardinality MV refresh (the MvSpec semi-join path at scale):
    * a 50k-group view over a 3.2M-row table, delete-touched in ~31k
    * groups — far past any literal-predicate threshold (the expression-
    * size wall ProductQuant measured at ~200k serialized nodes). The
    * refresh must route the touched-key restriction through the broadcast
    * null-safe semi-join, stay delta-sized, and equal a full recompute
    * exactly. */
  private def mvHighCardLeg(spark: SparkSession): Unit = {
    import graft.ext.{MvAgg, MvSpec}
    import graft.ops.SnapshotTable
    import org.apache.spark.sql.functions.col
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-mvhc").getAbsolutePath
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles).toSeq.flatten.foreach(rm); x.delete(); ()
    }
    rm(new java.io.File(root))
    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val base = Tables(spark, "/root/testdata/sf0.1", "orders")
    val big = (0 until 21).map(i => base.select(
      (col("o_orderkey") + org.apache.spark.sql.functions.lit(i.toLong * 1000000000L)).as("o_orderkey"),
      (col("o_orderkey") % 50000).as("grp"), col("o_totalprice"))).reduce(_ unionByName _)
    val spec = MvSpec(Seq("grp"),
      Seq(MvAgg.Count("cnt"),
        MvAgg.Sum("o_totalprice", "total", Some("decimal(18,2)")),
        MvAgg.Avg("o_totalprice", "avg_price", Some("decimal(18,2)")),
        MvAgg.Min("o_totalprice", "min_price"),
        MvAgg.Max("o_totalprice", "max_price")))
    val v0 = time("mvhc_bootstrap_upsert_3.2M") {
      SnapshotTable.upsert(spark, root, big, Seq("o_orderkey"), clusterBy = Seq("grp"))
    }
    val view0 = time("mvhc_seed_view_50k_groups") {
      spec.partial(SnapshotTable.read(spark, root, Some(v0))).localCheckpoint()
    }
    println(s"SCALE mvhc view groups=${view0.count()}")
    val v1 = time("mvhc_delete_commit") {
      SnapshotTable.delete(spark, root, col("o_orderkey") % 101 === 0)
    }
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, v0, Some(v1))
    val touched = removes.select("grp").distinct().count()
    println(s"SCALE mvhc touched groups=$touched (semi-join path: > any literal threshold)")
    val refreshed = time("mvhc_refresh_semijoin") {
      spec.combineDelta(spark, root, view0, adds, removes).localCheckpoint()
    }
    val full = time("mvhc_full_recompute") {
      spec.partial(SnapshotTable.read(spark, root)).localCheckpoint()
    }
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0) ->
      (r.getAs[Long]("cnt"), r.getDecimal(2).stripTrailingZeros,
        r.getDecimal(3).stripTrailingZeros, r.getAs[Long]("__c_avg_price"),
        r.getAs[Double]("min_price"), r.getAs[Double]("max_price"))
    val a = refreshed.collect().map(key).toMap
    val b = full.collect().map(key).toMap
    assert(a == b, "semi-join refresh diverged from full recompute")
    println(s"SCALE   mvhc semi-join refresh == recompute over ${a.size} groups (exact)")
  }

  /** LIVE producer + CDF subscriber (round 10): while a producer lands 12
    * commits (10 exactly-once appends, an upsert, a predicate delete) on a
    * growing base table, a CONCURRENTLY RUNNING `mvCdcSink` stream keeps a
    * 16-group MvSpec view SnapshotTable current from the change feed
    * alone, one table version per micro-batch. Measures the subscriber's
    * per-refresh wall (from the view versions' committed_at stamps) to
    * show it stays DELTA-SIZED while the base grows — the property that
    * makes a dashboard over a 100 TB append-mostly table viable. */
  /** The reference-pipeline capstone at 21× its per-run cap (VERDICT r10
    * #6 SCALE row): 21 sync cycles — each the full source→transform→
    * conditional-MERGE path with 2,000 new tickets plus a 500-ticket
    * update wave against the PREVIOUS sync — against one standing CDF
    * dashboard subscriber. The table grows to 42k tickets; per-sync merge
    * cost and the view's refresh gap must stay FLAT (delta-sized), which
    * is the engine's whole case against the reference's
    * re-run-the-aggregate loop. */
  private def ticketSyncLeg(spark: SparkSession): Unit = {
    import graft.ops.SnapshotTable
    import graft.pipeline.{TicketSync, TicketTransform}
    import org.apache.spark.sql.functions.{col, format_string, lit, substring}
    def freshRoot(tag: String): String = {
      val f = new java.io.File(sys.props("java.io.tmpdir"), s"graft-scale-tsync-$tag")
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles).toSeq.flatten.foreach(rm); x.delete(); ()
      }
      rm(f); f.getAbsolutePath
    }
    val root = freshRoot("tickets")
    val view = freshRoot("dash")
    val ckpt = freshRoot("ckpt")
    def pages20 = spark.read.format("ticket-pages")
      .option("pages", "20").option("pageSize", "100").load()
    // Sync i's page pull: the same deterministic source with ids and
    // creation times offset per sync (each sync "discovers" a fresh 2k).
    def shard(i: Int) = {
      val g = substring(col("_id"), 2, 6).cast("int") + lit(i * 2000)
      pages20.select(format_string("T%06d", g).as("_id"), col("page"),
        (col("createdTimestamp") - lit(i * 200000L)).as("createdTimestamp"),
        col("subject"))
    }
    SnapshotTable.commitEmpty(spark, root,
      TicketTransform.transform(
        TicketSync.rawTickets(shard(0).limit(0), lit(3600L))).schema)
    val q = graft.streaming.Streams.mvCdcSink(spark, root, view,
      TicketSync.dashboardSpec, "tsync-dash", ckpt,
      startVersion = -1L, maxVersionsPerTrigger = 1).start()
    val syncWalls = (0 until 21).map { i =>
      val fresh = TicketSync.rawTickets(shard(i), lit(3600L))
      val batch =
        if (i == 0) fresh
        else fresh.unionByName(TicketSync.rawTickets(
          shard(i - 1).filter(col("page") < 5), lit(90000L)))
      val t0 = System.nanoTime()
      TicketSync.sync(spark, root, batch)
      (System.nanoTime() - t0) / 1e9
    }
    q.processAllAvailable()
    q.stop()
    val rows = SnapshotTable.rowCount(spark, root)
    val totalWall = syncWalls.sum
    println(f"SCALE ticketsync 21 syncs (2k new + 0.5k updates each) -> $rows rows " +
      f"in $totalWall%.1f s merge wall (${rows / totalWall}%.0f rows/s); " +
      f"sync wall first=${syncWalls.head}%.2f s " +
      f"median=${syncWalls.sorted.apply(syncWalls.size / 2)}%.2f s " +
      f"last=${syncWalls.last}%.2f s (flat = file-granular merge)")
    val hist = SnapshotTable.history(spark, view)
      .select("version", "committed_at").collect()
      .filter(!_.isNullAt(1))
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).sortBy(_._1)
    val gaps = hist.sliding(2).collect { case Array((_, a), (_, b)) => (b - a) / 1e3 }.toSeq
    if (gaps.nonEmpty)
      println(f"SCALE ticketsync view versions=${hist.length} refresh gap " +
        f"median=${gaps.sorted.apply(gaps.size / 2)}%.1f s " +
        f"first=${gaps.head}%.1f s last=${gaps.last}%.1f s " +
        "(flat while the table grew 21x = delta-sized refresh)")
    val got = TicketSync.dashboardSpec.finish(SnapshotTable.read(spark, view))
      .collect().map(_.toString).toSet
    val want = TicketSync.dashboardSpec.finish(TicketSync.dashboardSpec.partial(
      SnapshotTable.read(spark, root))).collect().map(_.toString).toSet
    assert(got == want, "ticket dashboard diverged from full recompute")
    println(s"SCALE   ticketsync dashboard == recompute over ${got.size} groups (exact)")
  }

  /** The SQL-string DML lifecycle at rehearsal scale (VERDICT r11 #6): the
    * sql_maintenance_lineage shape on a ~1M-row table — CTAS seed, a
    * deliberately wide INSERT (80 small files), OPTIMIZE with the
    * SELECTIVE-fold economics measured (bytes of small files actually
    * read vs table bytes), a per-column MERGE wave, and VACUUM with a
    * registered subscriber (clamped, then FORCE). The scale property:
    * OPTIMIZE cost tracks the ACCRETED DELTA's bytes, never the table's. */
  /** Round-12 surfaces at rehearsal scale: SHALLOW CLONE (zero bytes
    * copied on a 20M-row table, clone-side DML file-granular, source
    * untouched), the CAS-loss REBASE (a delete racing an append resolves
    * metadata-only — the measured rewrite it did NOT redo is the
    * economics), and COPY INTO (the blind re-run costs a listing, never
    * the data). */
  private def cloneRebaseLeg(spark: SparkSession): Unit = {
    import graft.ops.SnapshotTable
    import graft.sql.GraftSql
    GraftSql.ensureCatalog(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.scale")
    Seq("clsrc", "cldst").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft.scale.$t"))
    spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sql.GraftCatalog]
      .purgeDropped(Array("scale"), 0L, force = true)
    val srcRoot = s"${GraftSql.defaultWarehouse}/scale/clsrc"
    val dstRoot = s"${GraftSql.defaultWarehouse}/scale/cldst"
    val hfs = new org.apache.hadoop.fs.Path(srcRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def du(p: String): Long =
      hfs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength

    val (_, ctasWall) = timed(spark.sql(
      """CREATE TABLE graft.scale.clsrc AS
         SELECT /*+ REPARTITION_BY_RANGE(8, id) */ id AS k,
                CAST((id % 99991) * 1.37 AS DECIMAL(18,2)) AS price,
                CASE WHEN id % 3 = 0 THEN 'F' ELSE 'O' END AS st
         FROM range(20000000)"""))
    val srcBytes = du(srcRoot)
    println(f"SCALE clr CTAS 20M rows (${srcBytes / 1024 / 1024} MB) in $ctasWall%.1f s")

    // --- SHALLOW CLONE: O(manifest), not O(data) -------------------------
    val (_, cloneWall) = timed(spark.sql(
      "CREATE TABLE graft.scale.cldst SHALLOW CLONE graft.scale.clsrc"))
    val cloneBytes = du(dstRoot)
    println(f"SCALE clr SHALLOW CLONE in $cloneWall%.2f s; clone dir holds " +
      f"${cloneBytes / 1024} KB (manifest+marker) vs ${srcBytes / 1024 / 1024} MB " +
      "of source data -> zero bytes copied")
    // Clone-side DELETE stays file-granular and invisible to the source.
    val preDel = SnapshotTable.read(spark, dstRoot).inputFiles.toSet
    val (_, cdWall) = timed(spark.sql(
      "DELETE FROM graft.scale.cldst WHERE k < 2500000"))
    val postDel = SnapshotTable.read(spark, dstRoot).inputFiles.toSet
    println(f"SCALE clr clone-side DELETE rewrote ${(preDel -- postDel).size} of " +
      f"${preDel.size} files in $cdWall%.1f s; source still " +
      s"${SnapshotTable.rowCount(spark, srcRoot)} rows (isolated)")

    // --- REBASE economics: a delete racing an append ---------------------
    // Baseline: the rewrite cost a redo would pay a second time.
    val (_, delBase) = timed(spark.sql(
      "DELETE FROM graft.scale.clsrc WHERE k >= 2500000 AND k < 5000000"))
    println(f"SCALE clr baseline DELETE (one 2.5M-row slice) $delBase%.1f s " +
      "= the rewrite a CAS loser used to REDO")
    import org.apache.spark.sql.functions.col
    var attempt = 0
    var resolved = false
    while (attempt < 3 && !resolved) {
      val lo = 5000000L + attempt * 2500000L
      val hi = lo + 2500000L
      val lossesBefore = SnapshotTable.casLosses.get()
      val rebasesBefore = SnapshotTable.rebases.get()
      val appender = new Thread(() => {
        Thread.sleep(300) // let the delete pass its version read
        SnapshotTable.append(spark, srcRoot,
          spark.range(40000000L, 40500000L).selectExpr("id AS k",
            "CAST((id % 99991) * 1.37 AS DECIMAL(18,2)) AS price",
            "'O' AS st"))
      })
      appender.start()
      val (_, delWall) = timed(
        SnapshotTable.delete(spark, srcRoot, col("k") >= lo && col("k") < hi))
      appender.join()
      val losses = SnapshotTable.casLosses.get() - lossesBefore
      val rebased = SnapshotTable.rebases.get() - rebasesBefore
      if (losses > 0) {
        resolved = true
        println(f"SCALE clr racing DELETE lost the CAS and " +
          (if (rebased > 0) "REBASED metadata-only" else "REDID the rewrite") +
          f": total $delWall%.1f s (vs $delBase%.1f s uncontended + " +
          f"$delBase%.1f s redo); rebases +$rebased, losses +$losses")
      } else {
        println(f"SCALE clr race attempt $attempt: no CAS collision " +
          f"(delete $delWall%.1f s) — retrying")
        attempt += 1
      }
    }
    if (!resolved)
      println("SCALE clr race never collided in 3 attempts (timing-dependent rig)")

    // MERGE racing an append (the sync-job-vs-ingest collision): 2,000
    // source keys (inside the lazy key-membership cap) against 20M rows;
    // the foreign-keyed append must resolve by rebase.
    var mAttempt = 0
    var mResolved = false
    while (mAttempt < 3 && !mResolved) {
      val lossesBefore = SnapshotTable.casLosses.get()
      val rebasesBefore = SnapshotTable.rebases.get()
      val appender = new Thread(() => {
        Thread.sleep(400)
        SnapshotTable.append(spark, srcRoot,
          spark.range(50000000L + mAttempt * 100000L,
              50100000L + mAttempt * 100000L)
            .selectExpr("id AS k",
              "CAST((id % 99991) * 1.37 AS DECIMAL(18,2)) AS price", "'O' AS st"))
      })
      appender.start()
      val src = spark.range(10000000L, 10002000L).selectExpr("id AS k",
        "CAST(1.00 AS DECIMAL(18,2)) AS price", "'M' AS st")
      val (_, mWall) = timed(SnapshotTable.mergeInto(spark, srcRoot, src,
        Seq("k"), matched = Seq(graft.ops.MergeInto.UpdateClause(None, None)),
        notMatched = Seq(graft.ops.MergeInto.InsertClause(None, None))))
      appender.join()
      val losses = SnapshotTable.casLosses.get() - lossesBefore
      val rebased = SnapshotTable.rebases.get() - rebasesBefore
      if (losses > 0) {
        mResolved = true
        println(f"SCALE clr racing MERGE (2k keys vs 20M rows) lost the CAS and " +
          (if (rebased > 0) "REBASED metadata-only" else "REDID the rewrite") +
          f": total $mWall%.1f s; rebases +$rebased, losses +$losses")
      } else {
        println(f"SCALE clr merge-race attempt $mAttempt: no collision " +
          f"(merge $mWall%.1f s) — retrying")
        mAttempt += 1
      }
    }

    // --- COPY INTO: re-run cost is a LISTING, never the data --------------
    val land = s"${GraftSql.defaultWarehouse}/scale/_landing_clr"
    hfs.delete(new org.apache.hadoop.fs.Path(land), true)
    spark.range(500000).selectExpr("id + 60000000 AS k",
        "CAST((id % 99991) * 1.37 AS DECIMAL(18,2)) AS price", "'O' AS st")
      .repartition(40)
      .write.option("header", "true").csv(land)
    val (r1, copyWall) = timed(spark.sql(
      s"COPY INTO graft.scale.clsrc FROM '$land' FILEFORMAT = CSV PATTERN = 'part-*.csv'"))
    val loaded = r1.head()
    val (r2, rerunWall) = timed(spark.sql(
      s"COPY INTO graft.scale.clsrc FROM '$land' FILEFORMAT = CSV PATTERN = 'part-*.csv'"))
    val rerun = r2.head()
    assert(rerun.getLong(1) == 0L && rerun.getLong(2) == 0L)
    println(f"SCALE clr COPY INTO ${loaded.getLong(1)} files / " +
      f"${loaded.getLong(2)} rows in $copyWall%.1f s; blind RE-RUN " +
      f"$rerunWall%.2f s, 0 loaded (ledger answers from the manifest)")

    // Cleanup: detach + drop so reruns start clean.
    SnapshotTable.detachClone(spark, dstRoot, force = true)
    Seq("clsrc", "cldst").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft.scale.$t"))
    spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sql.GraftCatalog]
      .purgeDropped(Array("scale"), 0L, force = true)
  }

  private def sqlDmlLeg(spark: SparkSession): Unit = {
    import graft.ops.SnapshotTable
    import graft.sql.GraftSql
    GraftSql.ensureCatalog(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.scale")
    spark.sql("DROP TABLE IF EXISTS graft.scale.sqldml")
    spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sql.GraftCatalog]
      .purgeDropped(Array("scale"), 0L, force = true)
    val root = s"${GraftSql.defaultWarehouse}/scale/sqldml"
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // CTAS seed: 20M rows in 8 range-clustered files (~25 MB each — above
    // the rig-scaled fold threshold below, so they are HEALTHY carriers).
    val (_, ctasWall) = timed(spark.sql(
      """CREATE TABLE graft.scale.sqldml AS
         SELECT /*+ REPARTITION_BY_RANGE(8, id) */ id AS k,
                CAST((id % 99991) * 1.37 AS DECIMAL(18,2)) AS price,
                CASE WHEN id % 3 = 0 THEN 'F' ELSE 'O' END AS st
         FROM range(20000000)"""))
    val v0 = SnapshotTable.currentVersion(spark, root).get
    val entries0 = SnapshotTable.read(spark, root).inputFiles.toSet
    println(f"SCALE sqldml CTAS 20M rows -> ${entries0.size} files in $ctasWall%.1f s")

    // Wide INSERT: 500k rows blown across 80 files (the small-file storm a
    // streaming ingester produces between maintenance sweeps).
    val (_, insWall) = timed(spark.sql(
      """INSERT INTO graft.scale.sqldml
         SELECT /*+ REPARTITION(80) */ id + 20000000 AS k,
                CAST((id % 99991) * 1.37 AS DECIMAL(18,2)) AS price, 'O' AS st
         FROM range(500000)"""))
    // Selective-fold economics, from the manifest: OPTIMIZE reads ONLY the
    // small files (the accreted delta), carrying healthy ones by entry.
    // targetBytes is rig-scaled (16 MB vs the 128 MB production default:
    // same partition algebra, reachable file sizes on a laptop-sized run).
    val st1 = SnapshotTable.status(spark, root).head()
    val tableBytes = st1.getAs[Long]("total_bytes")
    val preOpt = SnapshotTable.read(spark, root).inputFiles.toSet
    val (_, optWall) = timed(
      SnapshotTable.compact(spark, root, maxFiles = 64, targetBytes = 16L << 20))
    val postOpt = SnapshotTable.read(spark, root).inputFiles.toSet
    val carried = (preOpt & postOpt).size
    // Bytes OPTIMIZE actually read = the folded (small) files' lengths;
    // the selective-compaction scale claim is this vs the table's bytes.
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foldedBytes = (preOpt -- postOpt).toSeq
      .map(p => hfs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).sum
    println(f"SCALE sqldml INSERT 500k -> 80 small files in $insWall%.1f s; " +
      f"OPTIMIZE folded ${preOpt.size - carried} small files " +
      f"(${foldedBytes / 1024} KB read) in $optWall%.1f s, " +
      f"carried $carried healthy files (table ${tableBytes / 1024 / 1024} MB) " +
      f"-> cost tracks the accreted delta, ${foldedBytes * 100 / tableBytes}%% of table bytes")

    // MERGE wave: 50k per-column updates through the SQL string — the
    // generalized round-12 arm at 20M-row scale. The source keys span
    // only the first 1/20th of the clustered key range, so the
    // file-granular probe must rewrite a fraction of the files.
    val preMerge = SnapshotTable.read(spark, root).inputFiles.toSet
    val (_, mergeWall) = timed(spark.sql(
      """MERGE INTO graft.scale.sqldml t
         USING (SELECT id * 20 AS k,
                       CAST(id % 1000 AS DECIMAL(18,2)) AS bump
                FROM range(50000)) s
         ON t.k = s.k
         WHEN MATCHED THEN UPDATE SET price = CAST(t.price + s.bump AS DECIMAL(18,2))"""))
    val postMerge = SnapshotTable.read(spark, root).inputFiles.toSet
    val rows = SnapshotTable.rowCount(spark, root)
    println(f"SCALE sqldml MERGE 50k per-column updates in $mergeWall%.1f s " +
      f"-> $rows rows; rewrote ${(preMerge -- postMerge).size}/${preMerge.size} " +
      f"files (clustered keys prune the probe)")

    // BY SOURCE expiry wave (round 12): a FULL-snapshot sync expiring
    // rows that vanished from the source — the inherent cost is one
    // outer join of the table against the snapshot (every row must be
    // checked for non-membership), but the CONDITION-aware probe keeps
    // the REWRITE file-granular: only files holding firing rows move.
    val preExp = SnapshotTable.read(spark, root).inputFiles.toSet
    val (_, expWall) = timed(spark.sql(
      """MERGE INTO graft.scale.sqldml t
         USING (SELECT id AS k FROM range(20000000)) s
         ON t.k = s.k
         WHEN NOT MATCHED BY SOURCE AND t.k >= 20400000 THEN DELETE"""))
    val postExp = SnapshotTable.read(spark, root).inputFiles.toSet
    val expired = rows - SnapshotTable.rowCount(spark, root)
    println(f"SCALE sqldml BY SOURCE expiry vs a 20M-key snapshot in " +
      f"$expWall%.1f s: expired $expired rows, rewrote " +
      f"${(preExp -- postExp).size}/${preExp.size} files " +
      f"(anti-join probe is O(table ⋈ snapshot); rewrite stays file-granular)")

    // VACUUM with a lagging subscriber: clamped (visible in DESCRIBE
    // STATUS), then FORCE reclaims.
    SnapshotTable.registerSubscriber(spark, root, "scale-lagger", v0)
    spark.sql("VACUUM graft.scale.sqldml RETAIN 1 VERSIONS")
    val stC = spark.sql("DESCRIBE STATUS graft.scale.sqldml").head()
    val (_, vacWall) = timed(
      spark.sql("VACUUM graft.scale.sqldml RETAIN 1 VERSIONS FORCE"))
    val stF = spark.sql("DESCRIBE STATUS graft.scale.sqldml").head()
    println(f"SCALE sqldml VACUUM clamped: requested=" +
      f"${stC.getAs[Long]("last_vacuum_requested_keep")} effective=" +
      f"${stC.getAs[Long]("last_vacuum_effective_keep")} (watermark " +
      f"${stC.getAs[Long]("last_vacuum_clamped_by_watermark")}); FORCE -> " +
      f"${stF.getAs[Long]("retained_versions")} version in $vacWall%.1f s; " +
      f"cas_losses=${stF.getAs[Long]("cas_losses")}")
    // Invariant: maintenance (OPTIMIZE/VACUUM) moved zero rows beyond the
    // two DML waves' own deltas.
    val want = rows - expired
    val sum = spark.sql(
      "SELECT count(*) AS n FROM graft.scale.sqldml").head().getLong(0)
    assert(sum == want, s"maintenance must move zero rows: $sum vs $want")
  }

  private def cdfSubscriberLeg(spark: SparkSession): Unit = {
    import graft.ext.{MvAgg, MvSpec}
    import graft.ops.SnapshotTable
    import org.apache.spark.sql.functions.{col, lit}
    def freshRoot(tag: String): String = {
      val f = new java.io.File(sys.props("java.io.tmpdir"), s"graft-scale-cdf-$tag")
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles).toSeq.flatten.foreach(rm); x.delete(); ()
      }
      rm(f); f.getAbsolutePath
    }
    val base = freshRoot("base")
    val view = freshRoot("view")
    val ckpt = freshRoot("ckpt")
    val spec = MvSpec(Seq("o_orderstatus", "o_orderpriority"),
      Seq(MvAgg.Count("cnt"),
        MvAgg.Sum("o_totalprice", "total", Some("decimal(18,2)")),
        MvAgg.Avg("o_totalprice", "avg_price", Some("decimal(18,2)")),
        MvAgg.Min("o_totalprice", "min_price"),
        MvAgg.Max("o_totalprice", "max_price")))
    val orders = Tables(spark, "/root/testdata/sf0.1", "orders")
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    def shard(i: Int) = orders.select(
      (col("o_orderkey") + lit(i.toLong * 1000000000L)).as("o_orderkey"),
      col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))

    val v0 = SnapshotTable.upsert(spark, base, shard(0), Seq("o_orderkey"),
      clusterBy = spec.keys)
    val q = graft.streaming.Streams.mvCdcSink(spark, base, view, spec,
      "cdf-leg", ckpt, startVersion = v0 - 1, maxVersionsPerTrigger = 1).start()
    val t0 = System.nanoTime()
    (1 to 10).foreach(i => SnapshotTable.appendOnce(spark, base, shard(i),
      "cdf-producer", i.toLong))
    SnapshotTable.upsert(spark, base,
      SnapshotTable.read(spark, base)
        .filter(col("o_orderkey") % 397 === 0)
        .withColumn("o_orderpriority", lit("9-LIVE")),
      Seq("o_orderkey"), clusterBy = spec.keys)
    SnapshotTable.delete(spark, base, col("o_orderkey") % 1013 === 0)
    q.processAllAvailable()
    q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val baseRows = SnapshotTable.rowCount(spark, base)
    println(f"SCALE cdf producer 12 commits + live subscriber drained in $wall%.1f s " +
      f"(base grew to $baseRows rows)")

    // Per-refresh latency from the view's own committed_at audit trail.
    val hist = SnapshotTable.history(spark, view)
      .select("version", "committed_at").collect()
      .filter(!_.isNullAt(1))
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).sortBy(_._1)
    val gaps = hist.sliding(2).collect { case Array((_, a), (_, b)) => (b - a) / 1e3 }.toSeq
    if (gaps.nonEmpty)
      println(f"SCALE cdf view versions=${hist.length} refresh gap " +
        f"median=${gaps.sorted.apply(gaps.size / 2)}%.1f s " +
        f"first=${gaps.head}%.1f s last=${gaps.last}%.1f s " +
        "(flat while the base grew 12x = delta-sized refresh)")

    val got = spec.finish(SnapshotTable.read(spark, view))
      .collect().map(_.toString).toSet
    val want = spec.finish(spec.partial(SnapshotTable.read(spark, base)))
      .collect().map(_.toString).toSet
    assert(got == want, "live-subscribed view diverged from full recompute")
    println(s"SCALE   cdf subscribed view == recompute over ${got.size} groups (exact)")
  }

  /** Concurrent-writer rehearsal (VERDICT r9 #4): 8 real threads racing
    * mixed DML — 4 stripe upserts (each a full 2.1M-row read-merge-commit),
    * 2 exactly-once appends, a stripe delete, and a recluster — on ONE
    * table. Ops touch disjoint key stripes, so every serial order produces
    * the same final state: the leg asserts the racing schedule reaches
    * exactly that state, the manifest log stays gapless (no version lost
    * or duplicated), and the CDC chain telescopes to the final table.
    * Economics: CAS losses (each = one discarded snapshot write redone
    * against the winner) and racing-vs-serial wall measure what optimistic
    * concurrency costs at rewrite-heavy contention — the honest number a
    * 100 TB deployment sizes its writer parallelism by. */
  private def concurrencyLeg(spark: SparkSession): Unit = {
    import graft.ops.SnapshotTable
    import org.apache.spark.sql.functions.{col, concat, lit}
    import spark.implicits._

    def freshRoot(tag: String): String = {
      val f = new java.io.File(sys.props("java.io.tmpdir"), s"graft-scale-conc-$tag")
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles).toSeq.flatten.foreach(rm); x.delete(); ()
      }
      rm(f)
      f.getAbsolutePath
    }
    val n = 2100000L
    val base = spark.range(n).select(col("id").as("k"),
      lit("base").as("who"), (col("id") % 997).cast("double").as("v"))

    // The 8 ops, parameterized by table root so the serial baseline and
    // the racing schedule run the IDENTICAL work. Appended keys sit ABOVE
    // n and ≡0 mod 8 — outside the delete stripe (%8==7) and absent from
    // every upsert source — so all 8 ops pairwise commute.
    def stripe(root: String, i: Int): Unit = {
      SnapshotTable.upsert(spark, root,
        spark.range(n).filter(col("id") % 8 === i)
          .select(col("id").as("k"), lit(s"w$i").as("who"),
            (col("id") * 2).cast("double").as("v")),
        Seq("k")); ()
    }
    // Each appender is its OWN producer stream (distinct appId): the
    // (appId, batchId) ledger is a per-stream monotonic high-water mark,
    // so two concurrent appends sharing an appId with out-of-order
    // batchIds would (correctly) swallow the lower one as a replay — the
    // first cut of this leg hit exactly that.
    def append(root: String, j: Long): Unit = {
      SnapshotTable.appendOnce(spark, root,
        spark.range(50000L).select((lit(n) + lit(j) + col("id") * 8).as("k"),
          concat(lit("app"), lit(j)).as("who"), lit(-1.0).as("v")),
        s"conc-leg-$j", 0L); ()
    }
    def ops(root: String): Seq[() => Unit] =
      (0 until 4).map(i => () => stripe(root, i)) ++ Seq(
        () => append(root, 0L),
        () => append(root, 8L),
        () => { SnapshotTable.delete(spark, root, col("k") % 8 === 7 && col("k") < n); () },
        () => { SnapshotTable.recluster(spark, root, Seq("k"), numFiles = 16); () })

    def runAll(root: String, parallel: Boolean): Double = {
      SnapshotTable.upsert(spark, root, base, Seq("k"))
      val work = ops(root)
      val t0 = System.nanoTime()
      if (!parallel) work.foreach(_.apply())
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
        val futs = work.map(w => pool.submit(new Runnable {
          def run(): Unit = {
            var done = false
            while (!done) {
              // A writer whose bounded internal retries exhaust re-enters —
              // the production writer loop (Delta's optimistic-concurrency
              // shape: retry until serialized).
              try { w(); done = true }
              catch { case _: SnapshotTable.ConcurrentWriteException => () }
            }
          }
        }))
        pool.shutdown()
        futs.foreach(_.get())
        require(pool.awaitTermination(1, java.util.concurrent.TimeUnit.SECONDS))
      }
      (System.nanoTime() - t0) / 1e9
    }

    val serialWall = runAll(freshRoot("serial"), parallel = false)
    println(f"SCALE conc serial 8-op schedule $serialWall%.1f s (2.1M-row table)")

    val root = freshRoot("race")
    val lossesBefore = SnapshotTable.casLosses.get()
    val raceWall = runAll(root, parallel = true)
    val losses = SnapshotTable.casLosses.get() - lossesBefore
    println(f"SCALE conc racing 8-thread schedule $raceWall%.1f s, " +
      f"CAS losses=$losses (each = one discarded snapshot write)")

    // Linearizability: the racing schedule must reach the serial state.
    val fin = SnapshotTable.read(spark, root).localCheckpoint()
    val cnts = fin.groupBy("who").count().as[(String, Long)].collect().toMap
    val perStripe = spark.range(n).filter(col("id") % 8 === 0).count()
    (0 until 4).foreach(i => assert(cnts(s"w$i") == perStripe,
      s"stripe w$i lost rows under the race: ${cnts.get(s"w$i")} != $perStripe"))
    assert(cnts("app0") == 50000L && cnts("app8") == 50000L, s"appends lost: $cnts")
    assert(fin.filter(col("k") % 8 === 7 && col("k") < n).isEmpty,
      "deleted stripe resurfaced")
    val deleted = spark.range(n).filter(col("id") % 8 === 7).count()
    assert(fin.count() == n - deleted + 100000L,
      s"row count off: ${fin.count()} != ${n - deleted + 100000L}")

    // No version lost or duplicated: gapless manifest log.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_manifests"))
      .map(_.getPath.getName).collect {
        case s if s.matches("manifest-\\d{8}\\.json") => s.substring(9, 17).toLong
      }.sorted.toSeq
    assert(versions == (0L to versions.max),
      s"manifest log must be gapless: $versions")
    println(s"SCALE conc versions committed=${versions.size} (gapless), " +
      "final state == unique serial result")

    // CDC chain consistency across the whole interleaving: adds minus
    // removes telescopes to the final table (recluster contributes an
    // empty delta; appends contribute their file diffs).
    val Some((adds, removes)) = SnapshotTable.changesDelta(spark, root, -1L)
    val net = adds.exceptAll(removes)
    assert(net.exceptAll(fin).isEmpty && fin.exceptAll(net).isEmpty,
      "CDC chain diverged from the final state under the race")
    println("SCALE conc CDC chain telescopes exactly to the final state")
  }
  /** Round-13 leg (VERDICT r12 #1 done-criterion): commit bytes and commit
    * latency must be FLAT in table file count under the incremental
    * manifest log, and a cold read pays one checkpoint parse + a KB tail.
    * Builds a table up to ~50k files in stages; at each decade, measures
    * (a) one append commit's manifest bytes + wall, (b) the full (resolved)
    * state size, (c) a cold-read resolve (cache cleared). Also rehearses
    * the streaming-sink shape — 100 consecutive KB appends — whose
    * per-commit cost paid O(files) before this round. */
  private def manifestScaleLeg(spark: SparkSession): Unit = {
    import spark.implicits._
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-scale-manifest").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mBytes(v: Long): Long = fs.getFileStatus(new org.apache.hadoop.fs.Path(
      root, f"_manifests/manifest-$v%08d.json")).getLen
    def timeMs[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    }
    // Stage the file count up: each stage appends batches of files
    // (1 row per file via repartition — file COUNT is the variable under
    // test; byte volume is irrelevant to manifest economics). Batches grow
    // with the target so the 200k stage stays a bounded number of jobs.
    var nextKey = 0L
    def appendFiles(files: Int): Unit = {
      graft.ops.SnapshotTable.append(spark, root,
        (0 until files).map(i => (nextKey + i, s"v$i")).toSeq.toDF("k", "v")
          .repartition(files))
      nextKey += files
    }
    graft.ops.SnapshotTable.commit(spark, root, Seq((nextKey, "seed")).toDF("k", "v"))
    nextKey += 1
    for (target <- Seq(1000, 5000, 20000, 50000, 200000)) {
      val batch = math.max(500, target / 40)
      while (graft.ops.SnapshotTable.rowCount(spark, root) < target)
        appendFiles(math.min(batch, target.toInt - graft.ops.SnapshotTable.rowCount(spark, root).toInt))
      // One PROBE append: a streaming-micro-batch-sized commit.
      val (_, wall) = timeMs(graft.ops.SnapshotTable.append(spark, root,
        Seq((nextKey, "probe")).toDF("k", "v").repartition(1)))
      nextKey += 1
      val v = graft.ops.SnapshotTable.currentVersion(spark, root).get
      val deltaBytes = mBytes(v)
      // Cold FULL resolve (file list + stats materialized): pre-r14 this
      // was a monolithic JSON parse + per-level re-serialize; now a
      // columnar checkpoint decode + KB delta folds.
      graft.ops.SnapshotTable.clearResolvedCache()
      val (_, coldMs) = timeMs(graft.ops.SnapshotTable.read(spark, root).schema)
      // Cold STATE-ONLY resolve (round 14): schema/clusterBy/ledger from
      // the checkpoint FOOTER + KB deltas — must stay FLAT in file count.
      graft.ops.SnapshotTable.clearResolvedCache()
      val (_, stateMs) = timeMs(
        graft.ops.SnapshotTable.stateOnlyAt(fs, root, v).schema)
      // Cold PATHS-ONLY resolve (round 15): vacuum's projection — the
      // cols/bloom JSON never leaves disk.
      graft.ops.SnapshotTable.clearResolvedCache()
      val (_, pathsMs) = timeMs(
        graft.ops.SnapshotTable.resolvedPathsAt(fs, root, v).files.length)
      println(f"SCALE manifestscale files=${target}%6d " +
        f"delta_commit_bytes=$deltaBytes%8d " +
        f"commit_ms=$wall%8.1f cold_read_resolve_ms=$coldMs%8.1f " +
        f"cold_state_resolve_ms=$stateMs%8.1f cold_paths_resolve_ms=$pathsMs%8.1f")
    }
    // Streaming-frequency shape (VERDICT r12 #8): 100 consecutive 1-file
    // appends at the 50k-file table; per-commit latency must stay flat.
    val t0 = System.nanoTime()
    (0 until 100).foreach { i =>
      graft.ops.SnapshotTable.appendOnce(spark, root,
        Seq((nextKey + i, "mb")).toDF("k", "v").repartition(1), "mscale", i.toLong)
    }
    val per = (System.nanoTime() - t0) / 1e6 / 100
    println(f"SCALE manifestscale 100 micro-batch appends at 200k files: " +
      f"${per}%.1f ms/commit (pre-r13 each paid the full O(files) manifest)")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** Round-15 leg (VERDICT r14 #1 + #7): the metadata decade — resolution
    * economics at 200k / 500k / 10⁶ FILE ENTRIES under the projected +
    * pruned checkpoint reads and the `_last_checkpoint` pointer.
    *
    * SYNTHETIC ENTRIES, real metadata plane: building 10⁶ actual 1-row
    * parquet files would measure the local FS, not the format, so this
    * leg FABRICATES the resolved state (realistic per-entry width: path,
    * 128 MB byte size, 5 columns of min/max/null stats incl. the cluster
    * key), writes the REAL columnar checkpoint through CheckpointIO, lays
    * 4 real KB delta manifests on top, and drives the REAL resolution
    * walk (resolvedAt / resolvedPathsAt / stateOnlyAt / readRange) cold.
    * Data files never exist — nothing here scans; every measured number
    * is the metadata plane the verdict's extrapolations rely on. */
  private def manifestDecadeLeg(spark: SparkSession): Unit = {
    import graft.ops.{CheckpointIO, SnapshotStats, SnapshotTable}
    val conf = spark.sparkContext.hadoopConfiguration
    def timeMs[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("t",
        org.apache.spark.sql.types.LongType)))
    for (n <- Seq(200000, 500000, 1000000)) {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-scale-decade-$n").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_manifests"))
      def entry(i: Int): SnapshotStats.FileStats = {
        val lo = i.toLong * 1000L
        SnapshotStats.FileStats(
          f"$root%s/snap-00000001-fab/part-$i%07d-fab.parquet",
          bytes = 128L << 20, rows = 1000000L,
          cols = Map(
            "k" -> SnapshotStats.ColStats("long", Some(lo), Some(lo + 999L), 0L),
            "v" -> SnapshotStats.ColStats("string", Some("aaaa"), Some("zzzz"), 3L),
            "d" -> SnapshotStats.ColStats("double", Some(0.5 * i), Some(0.5 * i + 7.25), 0L),
            "s" -> SnapshotStats.ColStats("string", Some(s"u$i"), Some(s"u${i + 40}"), 1L),
            "t" -> SnapshotStats.ColStats("long", Some(1700000000L + i), Some(1700003600L + i), 0L)))
      }
      val entries = (0 until n).map(entry)
      val state = new SnapshotStats.Resolved(
        version = 16L, ts = System.currentTimeMillis(), stats = entries,
        schemaJson = schema.json, dropped = Nil, bloomOn = Nil,
        constraints = Map.empty, mapping = Map.empty, usedPhys = Nil,
        ingested = (0 until 200).map(i => s"src/batch-$i.csv"),
        clusterBy = Seq("k"), identityHwm = Map.empty, txn = None, cdc = None,
        protocol = (SnapshotStats.SupportedReaderVersion,
          SnapshotStats.SupportedWriterVersion))
      val cp = new org.apache.hadoop.fs.Path(root,
        f"_manifests/checkpoint-${16L}%08d.parquet")
      val (_, wWrite) = timeMs(CheckpointIO.write(fs, conf, cp, state))
      val cpBytes = fs.getFileStatus(cp).getLen
      // Real delta tail on top (17..20): one added entry each — the KB
      // manifests a streaming sink would have committed. manifest-16 is a
      // delta too: subsumed by the checkpoint on every read, but the walk
      // requires the file to exist for keying.
      val tail = state.copy(stats = Nil)
      (16 to 20).foreach { v =>
        val body = SnapshotStats.manifestJson(
          tail.copy(version = v, stats = Seq(entry(n + v))),
          Some(tail.copy(version = v - 1)))
        val p = new org.apache.hadoop.fs.Path(root,
          f"_manifests/manifest-$v%08d.json")
        val out = fs.create(p, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      locally {
        val p = new org.apache.hadoop.fs.Path(root, "_manifests/_last_checkpoint")
        val out = fs.create(p, true)
        try out.write("""{"version":16}""".getBytes("UTF-8")) finally out.close()
      }
      // Cold walks at the head (v20 = checkpoint + 4 delta folds).
      SnapshotTable.clearResolvedCache()
      val (rFull, wFull) = timeMs(SnapshotTable.resolvedAt(fs, root, 20L).stats.length)
      SnapshotTable.clearResolvedCache()
      val (rPaths, wPaths) = timeMs(SnapshotTable.resolvedPathsAt(fs, root, 20L).files.length)
      SnapshotTable.clearResolvedCache()
      val (_, wState) = timeMs(SnapshotTable.stateOnlyAt(fs, root, 20L).schema)
      // Point probe: a 0.1%-of-keyspace range on the promoted cluster key.
      val lo = (n / 2).toLong * 1000L
      val hi = lo + (n.toLong * 1000L / 1000L)
      val (probe, wProbe) = timeMs(CheckpointIO.readRange(conf, cp, lo, hi))
      val (pEntries, pRead, pTotal) = probe.get
      assert(rFull == n + 4 && rPaths == n + 4, s"decade fold lost entries: $rFull/$rPaths")
      println(f"SCALE manifestdecade files=$n%7d checkpoint_bytes=$cpBytes%10d " +
        f"write_ms=$wWrite%8.1f cold_full_ms=$wFull%8.1f cold_paths_ms=$wPaths%8.1f " +
        f"cold_state_ms=$wState%7.1f probe_ms=$wProbe%7.1f " +
        f"probe_groups=$pRead%d/$pTotal%d probe_entries=${pEntries.length}%d")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  /** Round-14 stretch (VERDICT r13 #8): clone + CAS-loss rebase economics
    * at a 50k-FILE table under the parquet-checkpoint manifest format —
    * both must stay O(delta): a SHALLOW CLONE copies one manifest's worth
    * of metadata however many files the source holds, and a rebase
    * re-CASes metadata-only (one columnar checkpoint decode + entry-set
    * comparisons, never a data re-read). */
  private def cloneRebase50kLeg(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.ops.SnapshotTable
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-scale-clr50k/src").getAbsolutePath
    val cloneRoot = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-scale-clr50k/clone").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-clr50k"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // Stage 50k files (one row per file; file COUNT is the variable).
    var nextKey = 0L
    SnapshotTable.commit(spark, root, Seq((nextKey, "seed")).toDF("k", "v"))
    nextKey += 1
    while (SnapshotTable.rowCount(spark, root) < 50000) {
      val batch = math.min(5000,
        50000 - SnapshotTable.rowCount(spark, root).toInt)
      SnapshotTable.append(spark, root,
        (0 until batch).map(i => (nextKey + i, s"v$i")).toSeq.toDF("k", "v")
          .repartition(batch))
      nextKey += batch
    }
    val v0 = SnapshotTable.currentVersion(spark, root).get
    println(s"SCALE clr50k staged ${SnapshotTable.rowCount(spark, root)} " +
      s"files across ${v0 + 1} versions")

    // SHALLOW CLONE: wall + bytes must be O(manifest), not O(files' data).
    val (_, cloneWall) = timed(
      SnapshotTable.cloneShallow(spark, root, cloneRoot))
    val cloneBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(cloneRoot)).getLength
    println(f"SCALE clr50k SHALLOW CLONE of the 50k-file table: " +
      f"$cloneWall%.2f s, clone dir ${cloneBytes / 1024} KB " +
      "(one full manifest + marker — zero data copied)")
    assert(SnapshotTable.rowCount(spark, cloneRoot) == 50000L)

    // CAS-loss REBASE: stage a single-file delete against v0, let an
    // append win the version, then commit stale — the rebase must land
    // metadata-only in O(seconds) at 50k carried entries (the redo
    // baseline is re-running the probe + rewrite against the winner).
    val entries = SnapshotTable.resolvedAt(fs, root, v0).stats
    val victim = entries.find(e =>
      e.cols.get("k").flatMap(_.min).contains(7L)).getOrElse(entries.head)
    val keptE = entries.filterNot(_.path == victim.path)
    val rewritten = spark.read.parquet(victim.path).filter(col("k") < 0)
    val cur = SnapshotTable.read(spark, root, Some(v0))
    val resolvedPred = cur
      .filter(col("k") === victim.cols("k").min.get.asInstanceOf[Long])
      .queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    SnapshotTable.append(spark, root,
      Seq((9999999L, "winner")).toDF("k", "v").repartition(1))
    SnapshotTable.clearResolvedCache() // cold: the rebase pays the real resolve
    val rebasesBefore = SnapshotTable.rebases.get()
    val (committed: Long, rebaseWall) = timed[Long](
      SnapshotTable.commitAt(spark, root,
        Some(SnapshotTable.resolvedAt(fs, root, v0)), rewritten,
        carry = keptE, tableSchema = Some(cur.schema),
        rebase = Some(() => resolvedPred)))
    assert(SnapshotTable.rebases.get() == rebasesBefore + 1,
      "the planted race must resolve via rebase")
    println(f"SCALE clr50k CAS-loss REBASE at 50k carried entries: " +
      f"$rebaseWall%.2f s cold (v${v0 + 1} stale -> v$committed committed " +
      "metadata-only; the redo baseline re-scans the table probe)")
    // 50000 staged + 1 winner append - 1 deleted victim row
    assert(SnapshotTable.rowCount(spark, root) == 50000L)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(sys.props("java.io.tmpdir"), "graft-scale-clr50k"))
  }

  /** Round-13 leg (VERDICT r12 #2 done-criterion): 100 scattered
    * single-row deletes on a 20M-row clustered table — merge-on-read must
    * land them in seconds with ZERO data-file rewrites, then one OPTIMIZE
    * materializes the DVs back to clean files. */
  private def dvScaleLeg(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-scale-dv").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val n = 20000000L
    // Row payload sized so each of the 24 files lands WELL ABOVE the 8 MB
    // economic floor (~60 MB): the leg measures merge-on-read on the big
    // files DVs exist for. (The round-13 fixture's ~4-byte rows produced
    // 7–9 MB files that STRADDLED the floor — the floor landed after that
    // measurement and correctly routed sub-floor files to the rewrite,
    // which this leg would then mis-read as a regression.)
    graft.ops.SnapshotTable.commitClustered(spark, root,
      spark.range(n).select(col("id").as("k"),
        (col("id") % 997).as("m"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("row-"), col("id"),
          org.apache.spark.sql.functions.md5(col("id").cast("string")),
          org.apache.spark.sql.functions.md5(
            org.apache.spark.sql.functions.concat(
              org.apache.spark.sql.functions.lit("y"),
              col("id").cast("string")))).as("v")),
      Seq("k"), numFiles = 24)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entries(v: Long): Seq[graft.ops.SnapshotStats.FileStats] =
      graft.ops.SnapshotTable.resolvedAt(fs, root, v).stats
    def files(v: Long): Set[String] = entries(v).map(_.path).toSet
    val before = files(0L)
    val rnd = new scala.util.Random(13)
    val keys = Seq.fill(100)(math.abs(rnd.nextLong()) % n).distinct
    val t0 = System.nanoTime()
    keys.foreach(k => graft.ops.SnapshotTable.delete(spark, root, col("k") === k))
    val wall = (System.nanoTime() - t0) / 1e9
    val v = graft.ops.SnapshotTable.currentVersion(spark, root).get
    assert(files(v) == before,
      "scattered point deletes must not rewrite a single data file")
    val es = entries(v)
    println(f"SCALE dvscale ${keys.size} single-row deletes on 20M rows: " +
      f"$wall%.1f s total (${wall / keys.size * 1000}%.0f ms/delete), " +
      f"0/${before.size} files rewritten, dv_files=${es.count(_.dv.nonEmpty)}, " +
      f"dv_rows=${es.map(_.dvRows).sum}")
    assert(graft.ops.SnapshotTable.rowCount(spark, root) == n - keys.size)
    // Debt-bounded reads (round 14, VERDICT r13 #2 done-criterion): the
    // per-file side-car CAP means 100 accrued deletes leave a bounded
    // list, and `OPTIMIZE DV ONLY` collapses it to ≤1 per file — masked
    // scan latency must stay flat as debt accrues and then clears.
    def scanMs(): Double = {
      val t = System.nanoTime()
      graft.ops.SnapshotTable.read(spark, root)
        .filter(col("m") === 123).count()
      (System.nanoTime() - t) / 1e6
    }
    val maxList = es.map(_.dv.length).max
    assert(maxList <= graft.ops.SnapshotTable.dvMaxSidecarsPerFile + 1,
      s"per-file side-car lists must stay capped: $maxList")
    val scanAccrued = scanMs()
    val vCons = graft.ops.SnapshotTable.consolidateDvs(spark, root)
    val esCons = entries(vCons.getOrElse(v))
    assert(esCons.forall(_.dv.length <= 1), "DV ONLY leaves ≤1 side-car/file")
    assert(files(vCons.getOrElse(v)) == before, "DV ONLY rewrites no data")
    val scanConsolidated = scanMs()
    assert(graft.ops.SnapshotTable.rowCount(spark, root) == n - keys.size)
    println(f"SCALE dvscale read-with-debt: max_sidecars/file=$maxList " +
      f"(cap=${graft.ops.SnapshotTable.dvMaxSidecarsPerFile}), " +
      f"masked scan accrued=$scanAccrued%.0f ms -> " +
      f"consolidated=$scanConsolidated%.0f ms (flat, debt-bounded)")
    val t1 = System.nanoTime()
    val vOpt = graft.ops.SnapshotTable.compact(spark, root, maxFiles = 64)
    val optWall = (System.nanoTime() - t1) / 1e9
    val esAfter = entries(vOpt.get)
    assert(esAfter.forall(_.dv.isEmpty), "OPTIMIZE must materialize all DVs")
    assert(graft.ops.SnapshotTable.rowCount(spark, root) == n - keys.size)
    println(f"SCALE dvscale OPTIMIZE materialized the DVs in $optWall%.1f s; " +
      "reads are side-car-free again")
    // AUTO MAINTENANCE steady state (round 15, VERDICT r14 #2): with the
    // autopilot on, another 30 scattered point deletes never leave a file
    // holding >1 side-car (each accrual is followed by a metadata-only
    // consolidation) and masked-scan latency stays flat — debt never
    // builds, no manual OPTIMIZE, hint never fires.
    graft.ops.SnapshotTable.setTableConfig(spark, root,
      graft.ops.SnapshotTable.AutoMaintenanceKey, Some("true"))
    val autoKeys = Seq.fill(30)(math.abs(rnd.nextLong()) % n).distinct
    val tAuto = System.nanoTime()
    autoKeys.foreach(k =>
      graft.ops.SnapshotTable.delete(spark, root, col("k") === k))
    val autoWall = (System.nanoTime() - tAuto) / 1e9
    val vAuto = graft.ops.SnapshotTable.currentVersion(spark, root).get
    val esAuto = entries(vAuto)
    assert(esAuto.forall(_.dv.length <= 1),
      s"auto mode must hold ≤1 side-car/file: ${esAuto.map(_.dv.length).max}")
    val hintAuto = graft.ops.SnapshotTable.status(spark, root).head()
      .getAs[String]("maintenance_hint")
    assert(hintAuto == null, s"auto mode must keep the hint clear: $hintAuto")
    val scanAuto = scanMs()
    println(f"SCALE dvscale AUTO mode: ${autoKeys.size} more deletes at " +
      f"${autoWall / autoKeys.size * 1000}%.0f ms/delete (incl. auto " +
      f"consolidations), max_sidecars/file=${esAuto.map(_.dv.length).max}, " +
      f"masked scan steady=$scanAuto%.0f ms (accrued was $scanAccrued%.0f ms), " +
      "hint=never fired")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

}
