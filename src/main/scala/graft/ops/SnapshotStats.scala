package graft.ops

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** File-level column statistics for [[SnapshotTable]] data skipping.
  *
  * At commit time the driver reads each written parquet FOOTER (a metadata
  * read, no row data touched) and folds the row-group statistics into one
  * (min, max, nullCount, rowCount) per top-level atomic column per file.
  * The result rides in the snapshot manifest, so a reader can decide which
  * files a predicate can possibly match WITHOUT opening them — the same
  * design as Delta's per-file stats / Iceberg's manifest metrics, sized to
  * this table format. At 100 TB this is the difference between "scan every
  * file and let row-group filters save you" and "plan only the files whose
  * range intersects the predicate": the former still pays per-file open +
  * footer decode across thousands of executors; the latter prunes on the
  * driver from KB-sized metadata.
  *
  * Bounds live in one of three total-order domains, tagged in the manifest:
  *   - `long`   — INT32/INT64 (plain or signed-int annotated), DATE (days),
  *                TIMESTAMP micros/millis (normalized to micros), BOOLEAN
  *                (0/1)
  *   - `double` — FLOAT/DOUBLE
  *   - `string` — BINARY with a UTF8 annotation
  * Anything else (INT96 timestamps, decimals, nested/repeated columns) gets
  * no bounds and is never pruned on. Columns with incomplete row-group
  * stats (e.g. parquet drops binary bounds past the truncation limit) keep
  * their null counts only. Missing information always degrades to "keep the
  * file" — pruning is an optimization, never a correctness dependency (the
  * full predicate still runs as the scan's data filter).
  */
object SnapshotStats {

  /** Bounds + null accounting for one column in one file. `nulls == -1`
    * means the writer could not establish a null count (treat as unknown). */
  final case class ColStats(kind: String, min: Option[Any], max: Option[Any],
                            nulls: Long)

  /** Stats for one data file. `cols` keys are top-level column names.
    * `bloom` (optional, per configured column — see
    * `SnapshotTable.setBloomColumns`) points at a side-car
    * `org.apache.spark.util.sketch.BloomFilter` file over the column's
    * values in THIS file (path inside the data file's own snapshot dir, so
    * it shares visibility and vacuum lifecycle): the point-lookup
    * complement of the (min, max) bounds, which prune nothing when every
    * file's range spans the key space (the fully-interleaved-appends
    * shape). */
  /** `dv`/`dvRows` (round 13 — deletion vectors, VERDICT r12 #2): `dv`
    * lists the parquet side-car dirs holding (file, pos) DELETED-row
    * positions that apply to this file (merge-on-read: a point DELETE
    * writes a KB-sized side-car instead of rewriting a 128 MB file; the
    * scan masks at read time; OPTIMIZE materializes). Accumulates across
    * commits — each later point delete APPENDS its side-car dir. `rows`
    * stays the PHYSICAL parquet row count (what the footer says);
    * `dvRows` is the exact number of masked positions, so logical rows =
    * rows - dvRows and metadata-only counts stay exact. */
  final case class FileStats(path: String, bytes: Long, rows: Long,
                             cols: Map[String, ColStats],
                             bloom: Map[String, String] = Map.empty,
                             dv: Seq[String] = Nil,
                             dvRows: Long = 0L)

  /** Read one file's footer and fold its row-group stats. `fileLen` is the
    * file's REAL length (from the directory listing): it lands in the
    * manifest so readers can build `FileStatus` entries without a second
    * round of namenode calls, and scan planning needs the true length, not
    * the compressed-data sum. */
  def fromFooter(conf: Configuration, file: Path, fileLen: Long): FileStats = {
    // Explicit HadoopReadOptions over the SHARED session conf: the 1-arg
    // open(InputFile) builds its ParquetReadOptions on a FRESH
    // Configuration, and every new Configuration re-parses the *-default
    // XML off the classpath — tens of ms of driver time PER FOOTER, i.e.
    // per written file per commit (measured ~12% of the DML lineage
    // driver gap in main-thread stack samples; optimization r15, guide
    // §1/§7.3 driver-side work).
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, file).build())
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val bytes = fileLen
      val byCol = blocks.flatMap(_.getColumns.asScala)
        .filter(_.getPath.size == 1) // top-level leaves only; nested stay unpruned
        .groupBy(_.getPath.toDotString)
      val cols = byCol.flatMap { case (name, chunks) =>
        val prim = chunks.head.getPrimitiveType
        domainOf(prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation).map { dom =>
          val stats = chunks.map(_.getStatistics)
          val nulls =
            if (stats.exists(s => s == null || s.getNumNulls < 0)) -1L
            else stats.map(_.getNumNulls).sum
          // Every row group must report usable stats for the file to carry
          // bounds; an all-null group is usable but contributes no values.
          val (mn, mx) =
            if (stats.exists(s => s == null || s.isEmpty)) (None, None)
            else {
              val withVals = stats.filter(_.hasNonNullValue)
              if (withVals.isEmpty) (None, None)
              else {
                val mins = withVals.map(s => dom.toDomain(s.genericGetMin))
                val maxs = withVals.map(s => dom.toDomain(s.genericGetMax))
                if (mins.exists(_.isEmpty) || maxs.exists(_.isEmpty)) (None, None)
                else (Some(mins.flatten.min(dom.ord)), Some(maxs.flatten.max(dom.ord)))
              }
            }
          name -> ColStats(dom.kind, mn, mx, nulls)
        }
      }
      FileStats(file.toString, bytes, rows, cols)
    } finally reader.close()
  }

  /** A comparison domain: how raw parquet stat values and Catalyst literals
    * both map into one totally ordered space. */
  sealed trait Domain {
    def kind: String
    def ord: Ordering[Any]
    /** Parquet footer value → domain value. */
    def toDomain(v: Any): Option[Any]
  }
  private object LongDomain extends Domain {
    val kind = "long"
    val ord: Ordering[Any] = Ordering.by(_.asInstanceOf[Long])
    def toDomain(v: Any): Option[Any] = v match {
      case i: java.lang.Integer => Some(i.longValue)
      case l: java.lang.Long => Some(l.longValue)
      case b: java.lang.Boolean => Some(if (b) 1L else 0L)
      case _ => None
    }
  }
  private object MillisDomain extends Domain {
    val kind = "long"
    val ord: Ordering[Any] = LongDomain.ord
    // millis → micros so bounds and Catalyst TimestampType literals (micros)
    // share a domain; epoch millis × 1000 stays well inside int64
    def toDomain(v: Any): Option[Any] = v match {
      case l: java.lang.Long => Some(l * 1000L)
      case _ => None
    }
  }
  private object DoubleDomain extends Domain {
    val kind = "double"
    val ord: Ordering[Any] = Ordering.by(_.asInstanceOf[Double])
    def toDomain(v: Any): Option[Any] = v match {
      case f: java.lang.Float =>
        val d = f.doubleValue; if (d.isNaN) None else Some(d)
      case d: java.lang.Double => if (d.isNaN) None else Some(d.doubleValue)
      case _ => None
    }
  }
  private object StringDomain extends Domain {
    val kind = "string"
    val ord: Ordering[Any] = Ordering.by(_.asInstanceOf[String])
    def toDomain(v: Any): Option[Any] = v match {
      case b: org.apache.parquet.io.api.Binary => Some(b.toStringUsingUTF8)
      case _ => None
    }
  }
  /** Int-backed decimals (precision ≤ 18 — Spark's storage for them):
    * bounds are the UNSCALED long; the kind string carries the scale
    * (`dec:2`) so the prune side can align a Catalyst Decimal literal
    * exactly. FLBA-backed wide decimals stay unpruned (degrade-to-keep).
    * Without this every price/amount predicate on a derived table read
    * all files — decimal columns are exactly where the engine's
    * exactness discipline puts money values. */
  private final case class DecimalDomain(scale: Int) extends Domain {
    val kind = s"dec:$scale"
    val ord: Ordering[Any] = Ordering.by(_.asInstanceOf[Long])
    def toDomain(v: Any): Option[Any] = v match {
      case i: java.lang.Integer => Some(i.longValue)
      case l: java.lang.Long => Some(l.longValue)
      case _ => None
    }
  }

  /** Which domain (if any) a parquet primitive + logical annotation maps to. */
  private def domainOf(p: PrimitiveTypeName,
                       logical: LogicalTypeAnnotation): Option[Domain] = {
    import LogicalTypeAnnotation._
    (p, logical) match {
      case (PrimitiveTypeName.BOOLEAN, _) => Some(LongDomain)
      case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64, null) => Some(LongDomain)
      case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64, i: IntLogicalTypeAnnotation)
        if i.isSigned => Some(LongDomain)
      case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) => Some(LongDomain)
      case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64,
            d: DecimalLogicalTypeAnnotation) => Some(DecimalDomain(d.getScale))
      case (PrimitiveTypeName.INT64, t: TimestampLogicalTypeAnnotation) =>
        t.getUnit match {
          case TimeUnit.MICROS => Some(LongDomain)
          case TimeUnit.MILLIS => Some(MillisDomain)
          case _ => None // nanos: graft.Tables normalizes those reads separately
        }
      case (PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE, _) => Some(DoubleDomain)
      case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) => Some(StringDomain)
      case _ => None
    }
  }

  // --- manifest JSON (de)serialization -----------------------------------

  /** Format protocol (round 14, VERDICT r13 #5 — Delta's protocol-action
    * shape): every manifest/checkpoint carries the MINIMUM reader/writer
    * capability it requires; an engine build older than the chain's
    * requirement refuses loudly instead of mis-parsing a future format.
    * Absent field = 1 (every pre-r14 manifest). Bump minReader only when
    * an old reader would return WRONG results; bump minWriter when an old
    * writer would corrupt state newer readers depend on. */
  val SupportedReaderVersion = 1
  val SupportedWriterVersion = 1

  /** (minReader, minWriter) this manifest demands; (1, 1) when absent. */
  def protocolFromManifest(body: String): (Int, Int) = {
    val p = tree(body).get("protocol")
    if (p == null || !p.isObject) (1, 1)
    else (Option(p.get("minReader")).map(_.asInt).getOrElse(1),
          Option(p.get("minWriter")).map(_.asInt).getOrElse(1))
  }

  /** Loud refusal for manifests demanding a newer READER than this build. */
  def checkReadProtocol(body: String, where: String): Unit = {
    val (minReader, _) = protocolFromManifest(body)
    if (minReader > SupportedReaderVersion)
      throw new IllegalStateException(
        s"$where requires manifest reader version $minReader; this engine " +
          s"supports up to $SupportedReaderVersion — upgrade before reading")
  }

  private def putProtocol(root: ObjectNode): Unit = {
    val p = root.putObject("protocol")
    p.put("minReader", SupportedReaderVersion)
    p.put("minWriter", SupportedWriterVersion)
  }

  private val mapper = new ObjectMapper()

  // Parsed-manifest memos (round 13): with the incremental manifest log a
  // 50k-file table's RESOLVED body is ~12 MB, and one commit's
  // inheritance reads touch half a dozen fields — each a full
  // `readTree` without these. Keyed by STRING IDENTITY: resolved bodies
  // come out of SnapshotTable's cache as stable instances, so repeat
  // accessors hit; transient strings (raw ts/txn scans, KB-sized) just
  // miss. Crude size bound — a clear() at 64 entries — because entries
  // die with their body strings anyway.
  private val treeCache =
    new java.util.IdentityHashMap[String, JsonNode]()
  private def tree(body: String): JsonNode = treeCache.synchronized {
    if (treeCache.size > 64) treeCache.clear()
    var t = treeCache.get(body)
    if (t == null) { t = mapper.readTree(body); treeCache.put(body, t) }
    t
  }
  private val statsCache =
    new java.util.IdentityHashMap[String, Seq[FileStats]]()

  private val lastCommitTs = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextCommitTs(): Long =
    lastCommitTs.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  /** Per-commit row-level change files (the Delta-CDF shape, sized to this
    * format): `add` files hold the rows this commit introduced, `remove`
    * files the PRE-IMAGE rows it replaced/deleted. `Some((Nil, Nil))` is a
    * meaningful value — a rewrite that changed NO rows (compaction,
    * z-order), which downstream delta consumers treat as an empty delta
    * rather than a reprocess signal. `None` = the commit recorded no CDC
    * (append commits don't need it: the manifest file diff IS the add set;
    * pre-CDC rewrite commits signal "full reprocess"). */
  type Cdc = (Seq[String], Seq[String])

  /** Serialize the full manifest: `files` stays a plain path array (the
    * pre-stats manifest shape, so older manifests and newer readers agree),
    * `stats` carries the per-file column bounds, `txn` (optional) records
    * the (appId, batchId) that produced this version — the idempotent-
    * replay marker for exactly-once streaming appends — and `cdc`
    * (optional) the row-level change files. */
  def manifestJson(version: Long, stats: Seq[FileStats],
                   txn: Option[(String, Long)] = None,
                   cdc: Option[Cdc] = None,
                   schemaJson: Option[String] = None,
                   dropped: Seq[String] = Nil,
                   bloomOn: Seq[String] = Nil,
                   constraints: Map[String, String] = Map.empty,
                   mapping: Map[String, String] = Map.empty,
                   usedPhys: Seq[String] = Nil,
                   ingested: Seq[String] = Nil,
                   tsOverride: Option[Long] = None,
                   clusterBy: Seq[String] = Nil,
                   identityHwm: Map[String, Long] = Map.empty,
                   protocolOverride: Option[(Int, Int)] = None): String = {
    val root = mapper.createObjectNode()
    root.put("version", version)
    // Commit wall-clock (epoch millis): powers age-based retention
    // (`vacuumOlderThan`), the history audit's timestamp column, and
    // TIMESTAMP AS OF resolution. Never part of any query result —
    // manifests stay rerun-stable artifacts. STRICTLY MONOTONIC within a
    // writer process (two commits in the same millisecond still get
    // distinct stamps), so "greatest version at-or-before T" is
    // well-defined for any T a reader observed; cross-writer ordering is
    // plain wall-clock, like Delta's commit timestamps. `tsOverride` is
    // for RECONSTRUCTION only (resolving a delta-log chain back into the
    // full body — the resolved body must carry the original commit's
    // stamp, never resolution time).
    root.put("ts", tsOverride.getOrElse(nextCommitTs()))
    // `protocolOverride` is for RECONSTRUCTION only (a checkpoint's state
    // body must carry the CHAIN's declared protocol, not this build's —
    // vacuum may legally anchor a higher-writer-version chain it would
    // refuse to commit to, and the anchor must not downgrade the gate).
    protocolOverride match {
      case Some((r, w)) =>
        val pr = root.putObject("protocol")
        pr.put("minReader", r); pr.put("minWriter", w)
      case None => putProtocol(root)
    }
    schemaJson.foreach(root.put("schema", _))
    if (mapping.nonEmpty) {
      // Logical → PHYSICAL column names (Delta column-mapping shape,
      // names instead of ids at this format's scale): identity entries
      // are omitted. The declared schema speaks logical; data files and
      // their stats/blooms speak physical. What this buys: RENAME is a
      // metadata-only remap, and a dropped name can be RE-ADDED under a
      // fresh physical id without resurfacing orphaned bytes.
      val mp = root.putObject("mapping")
      mapping.toSeq.sortBy(_._1).foreach { case (l, p) => mp.put(l, p) }
    }
    if (usedPhys.nonEmpty) {
      // Every physical name EVER assigned in this table's lineage
      // (monotonic): a new logical column may only take a physical name
      // not in this set, so bytes under retired names stay orphaned.
      val up = root.putArray("usedPhys"); usedPhys.foreach(up.add)
    }
    if (constraints.nonEmpty) {
      // Named CHECK constraints (see SnapshotTable.setCheckConstraint):
      // inherited by later manifests; every commit enforces them on ITS
      // new rows before the CAS.
      val cn = root.putObject("constraints")
      constraints.toSeq.sortBy(_._1).foreach { case (n, e) => cn.put(n, e) }
    }
    if (bloomOn.nonEmpty) {
      // Table-level bloom config (see SnapshotTable.setBloomColumns):
      // inherited by every later manifest; each commit builds per-file
      // blooms for ITS new files over these columns.
      val b = root.putArray("bloomOn"); bloomOn.foreach(b.add)
    }
    if (clusterBy.nonEmpty) {
      // DECLARED clustering columns (round 13): recorded by
      // commitClustered/recluster/CTAS CLUSTER BY, inherited by every
      // later manifest. Read back by (a) DML rewrites, which re-sort
      // their rewritten files on these columns so N merge waves don't
      // decay file-skipping selectivity, and (b) SHOW CREATE TABLE /
      // DESCRIBE DETAIL round-tripping the layout declaration.
      val cb = root.putArray("clusterBy"); clusterBy.foreach(cb.add)
    }
    if (identityHwm.nonEmpty) {
      // Identity-column high-water marks (round 13): the largest value
      // ever COMMITTED per GENERATED ... AS IDENTITY column. Inherited
      // monotonically (a delete never lowers it — identity values are
      // never reused), bumped by each commit from its new files' footer
      // bounds, and the base the next insert's generation starts above.
      val ih = root.putObject("identityHwm")
      identityHwm.toSeq.sortBy(_._1).foreach { case (c, v) => ih.put(c, v) }
    }
    if (dropped.nonEmpty) {
      // Tombstoned column names (see SnapshotTable.dropColumn): inherited
      // by every later manifest so a re-add stays refused after any number
      // of subsequent commits.
      val d = root.putArray("dropped"); dropped.foreach(d.add)
    }
    if (ingested.nonEmpty) {
      // COPY INTO's loaded-file ledger (`<path>@<bytes>` identities —
      // see SnapshotTable.copyInto): inherited by every later manifest
      // and restored with RESTORE's target version, so idempotent re-runs
      // survive vacuum, compaction, clone — anything that rewrites files
      // or drops old manifests. Rides IN the manifest because the ledger
      // must move atomically with the rows it describes: a side-car
      // updated after the commit could crash in between and double-load.
      val ing = root.putArray("ingested"); ingested.foreach(ing.add)
    }
    txn.foreach { case (appId, batchId) =>
      val t = root.putObject("txn")
      t.put("appId", appId); t.put("batchId", batchId)
    }
    cdc.foreach { case (adds, removes) =>
      val c = root.putObject("cdc")
      val a = c.putArray("add"); adds.foreach(a.add)
      val r = c.putArray("remove"); removes.foreach(r.add)
    }
    val files = root.putArray("files")
    stats.foreach(f => files.add(f.path))
    putStatsArray(root, "stats", stats)
    mapper.writeValueAsString(root)
  }

  private def putStatsArray(root: ObjectNode, field: String,
                            stats: Seq[FileStats]): Unit = {
    val arr = root.putArray(field)
    stats.foreach { f =>
      val o = arr.addObject()
      o.put("path", f.path); o.put("bytes", f.bytes); o.put("rows", f.rows)
      if (f.bloom.nonEmpty) {
        val bl = o.putObject("bloom")
        f.bloom.toSeq.sortBy(_._1).foreach { case (c, b64) => bl.put(c, b64) }
      }
      if (f.dv.nonEmpty) {
        val dva = o.putArray("dv"); f.dv.foreach(dva.add)
        o.put("dvRows", f.dvRows)
      }
      val cols = o.putObject("cols")
      f.cols.toSeq.sortBy(_._1).foreach { case (name, c) =>
        val cn = cols.putObject(name)
        cn.put("kind", c.kind)
        cn.put("nulls", c.nulls)
        (c.min, c.max) match {
          case (Some(mn), Some(mx)) => putVal(cn, "min", mn); putVal(cn, "max", mx)
          case _ => ()
        }
      }
    }
  }

  /** Serialize a DELTA manifest (round 13 — the Delta-log shape): instead
    * of the complete O(files) `files`/`stats`/`ingested` arrays, the commit
    * records only its CHANGES against version `base` (always `version - 1`):
    * `add` (stats for files this commit introduced), `removePaths` (files
    * it dropped), `ingestedAdd` (new COPY INTO ledger identities). The
    * SMALL table state — schema, mapping, constraints, tombstones, bloom
    * config, usedPhys — is O(columns) and rides in FULL in every delta, so
    * resolution never chains metadata. Per-commit fields (`txn`, `cdc`)
    * are the delta's own, exactly as a full manifest carries its own.
    *
    * Why: the pre-r13 format wrote the complete file list + stats in EVERY
    * manifest — at ~10⁶ files that is 100s of MB of JSON per commit and
    * per cold read, taxing exactly the format's best feature (cheap
    * frequent commits: streaming micro-batches, COPY INTO). With deltas a
    * commit writes O(its own change); every Nth version stays a FULL
    * manifest (the in-line checkpoint), bounding a reader's resolution
    * walk to < N KB-sized reads past one checkpoint parse. */
  def deltaManifestJson(version: Long, base: Long,
                        add: Seq[FileStats], removePaths: Seq[String],
                        ingestedAdd: Seq[String],
                        txn: Option[(String, Long)] = None,
                        cdc: Option[Cdc] = None,
                        schemaJson: Option[String] = None,
                        dropped: Seq[String] = Nil,
                        bloomOn: Seq[String] = Nil,
                        constraints: Map[String, String] = Map.empty,
                        mapping: Map[String, String] = Map.empty,
                        usedPhys: Seq[String] = Nil,
                        clusterBy: Seq[String] = Nil,
                        identityHwm: Map[String, Long] = Map.empty): String = {
    val root = mapper.createObjectNode()
    root.put("version", version)
    root.put("ts", nextCommitTs())
    putProtocol(root)
    // The delta marker: its presence is what distinguishes the shapes
    // (`files` vs `base` — a manifest carries exactly one of the two).
    root.put("base", base)
    schemaJson.foreach(root.put("schema", _))
    if (mapping.nonEmpty) {
      val mp = root.putObject("mapping")
      mapping.toSeq.sortBy(_._1).foreach { case (l, p) => mp.put(l, p) }
    }
    if (usedPhys.nonEmpty) {
      val up = root.putArray("usedPhys"); usedPhys.foreach(up.add)
    }
    if (constraints.nonEmpty) {
      val cn = root.putObject("constraints")
      constraints.toSeq.sortBy(_._1).foreach { case (n, e) => cn.put(n, e) }
    }
    if (bloomOn.nonEmpty) {
      val b = root.putArray("bloomOn"); bloomOn.foreach(b.add)
    }
    if (clusterBy.nonEmpty) {
      val cb = root.putArray("clusterBy"); clusterBy.foreach(cb.add)
    }
    if (identityHwm.nonEmpty) {
      val ih = root.putObject("identityHwm")
      identityHwm.toSeq.sortBy(_._1).foreach { case (c, v) => ih.put(c, v) }
    }
    if (dropped.nonEmpty) {
      val d = root.putArray("dropped"); dropped.foreach(d.add)
    }
    if (ingestedAdd.nonEmpty) {
      val ing = root.putArray("ingestedAdd"); ingestedAdd.foreach(ing.add)
    }
    txn.foreach { case (appId, batchId) =>
      val t = root.putObject("txn")
      t.put("appId", appId); t.put("batchId", batchId)
    }
    cdc.foreach { case (adds, removes) =>
      val c = root.putObject("cdc")
      val a = c.putArray("add"); adds.foreach(a.add)
      val r = c.putArray("remove"); removes.foreach(r.add)
    }
    if (removePaths.nonEmpty) {
      val rp = root.putArray("removePaths"); removePaths.foreach(rp.add)
    }
    putStatsArray(root, "add", add)
    mapper.writeValueAsString(root)
  }

  // --- structured resolution (round 14, VERDICT r13 #1) --------------------
  //
  // Pre-r14 the delta-log chain resolved JSON→JSON: each fold level parsed
  // the base's FULL body (readTree of ~12 MB at 50k files) and re-serialized
  // the merged result — O(state) parse + serialize PER LEVEL, the dominant
  // cold-read cost SCALE.md `manifestscale` measured (2.08 s at 50k files).
  // Resolution now folds over this STRUCT: parse the base once (or decode it
  // columnar from a parquet checkpoint — see CheckpointIO), apply each
  // delta's add/remove as sequence ops, and serialize the JSON body only
  // when a legacy string consumer asks (lazily, memoized per version).

  /** One version's fully-resolved manifest state. `bodyOpt` carries the
    * on-disk body when the state came from a FULL manifest (avoids a
    * re-serialize); fold-produced states serialize lazily on first
    * [[body]] access. */
  final class Resolved(
      val version: Long, val ts: Long,
      val stats: Seq[FileStats],
      val schemaJson: Option[String],
      val dropped: Seq[String], val bloomOn: Seq[String],
      val constraints: Map[String, String],
      val mapping: Map[String, String], val usedPhys: Seq[String],
      val ingested: Seq[String], val clusterBy: Seq[String],
      val identityHwm: Map[String, Long],
      val txn: Option[(String, Long)], val cdc: Option[Cdc],
      bodyOpt: Option[String] = None,
      filesArr: Option[Seq[String]] = None,
      /** (minReader, minWriter) the underlying manifest declared. */
      val protocol: (Int, Int) = (1, 1)) {
    lazy val body: String = bodyOpt.getOrElse(
      manifestJson(version, stats, txn, cdc, schemaJson, dropped, bloomOn,
        constraints, mapping, usedPhys, ingested, tsOverride = Some(ts),
        clusterBy = clusterBy, identityHwm = identityHwm,
        protocolOverride = Some(protocol)))
    /** On-disk `files` array for parsed full manifests (faithful even for
      * a hand-crafted stats-less manifest); stats-derived after a fold —
      * where equality is enforced by buildCommitBody's full fallback. */
    def files: Seq[String] = filesArr.getOrElse(stats.map(_.path))
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Parse a FULL manifest body into its struct (keeps the body string —
    * `.body` round-trips byte-identically). */
  def parseResolved(body: String): Resolved = {
    require(baseFromManifest(body).isEmpty,
      "parseResolved: delta manifests resolve through applyDelta")
    new Resolved(
      version = tree(body).get("version").asLong,
      ts = tsFromManifest(body),
      stats = statsFromManifest(body),
      schemaJson = Option(tree(body).get("schema")).filter(_.isTextual)
        .map(_.asText),
      dropped = droppedFromManifest(body),
      bloomOn = bloomOnFromManifest(body),
      constraints = constraintsFromManifest(body),
      mapping = mappingFromManifest(body),
      usedPhys = usedPhysFromManifest(body),
      ingested = ingestedFromManifest(body),
      clusterBy = clusterByFromManifest(body),
      identityHwm = identityHwmFromManifest(body),
      txn = txnFromManifest(body),
      cdc = cdcFromManifest(body),
      bodyOpt = Some(body),
      filesArr = filesFromManifest(body),
      protocol = protocolFromManifest(body))
  }

  /** Apply one DELTA manifest to its base's resolved state — the
    * structural twin of [[resolveDelta]] (same add/remove/ledger rules),
    * with zero JSON serialization. */
  def applyDelta(base: Resolved, deltaBody: String): Resolved = {
    val d = tree(deltaBody)
    require(d.get("base") != null, "applyDelta: not a delta manifest")
    val removed = Option(d.get("removePaths")).filter(_.isArray)
      .map(a => (0 until a.size).map(a.get(_).asText).toSet)
      .getOrElse(Set.empty[String])
    val adds = statsArray(d, "add")
    val addPaths = adds.map(_.path).toSet
    val stats = base.stats.filterNot(e =>
      removed(e.path) || addPaths(e.path)) ++ adds
    val ingestedAdd = Option(d.get("ingestedAdd")).filter(_.isArray)
      .map(a => (0 until a.size).map(a.get(_).asText))
      .getOrElse(Seq.empty)
    new Resolved(
      version = d.get("version").asLong,
      ts = tsFromManifest(deltaBody),
      stats = stats,
      schemaJson = Option(d.get("schema")).filter(_.isTextual).map(_.asText),
      dropped = droppedFromManifest(deltaBody),
      bloomOn = bloomOnFromManifest(deltaBody),
      constraints = constraintsFromManifest(deltaBody),
      mapping = mappingFromManifest(deltaBody),
      usedPhys = usedPhysFromManifest(deltaBody),
      ingested = (base.ingested ++ ingestedAdd).distinct.sorted,
      clusterBy = clusterByFromManifest(deltaBody),
      identityHwm = identityHwmFromManifest(deltaBody),
      txn = txnFromManifest(deltaBody),
      cdc = cdcFromManifest(deltaBody),
      protocol = protocolFromManifest(deltaBody))
  }

  /** Serialize one file entry's column stats / bloom / dv to the SAME JSON
    * shapes the manifest uses — the parquet checkpoint's per-row payload
    * (see CheckpointIO). */
  def fileEntryJson(f: FileStats): (Option[String], Option[String], Option[String]) = {
    def colsJson: Option[String] =
      if (f.cols.isEmpty) None
      else {
        val o = mapper.createObjectNode()
        f.cols.toSeq.sortBy(_._1).foreach { case (name, c) =>
          val cn = o.putObject(name)
          cn.put("kind", c.kind); cn.put("nulls", c.nulls)
          (c.min, c.max) match {
            case (Some(mn), Some(mx)) =>
              putVal(cn, "min", mn); putVal(cn, "max", mx)
            case _ => ()
          }
        }
        Some(mapper.writeValueAsString(o))
      }
    def bloomJson: Option[String] =
      if (f.bloom.isEmpty) None
      else {
        val o = mapper.createObjectNode()
        f.bloom.toSeq.sortBy(_._1).foreach { case (c, b) => o.put(c, b) }
        Some(mapper.writeValueAsString(o))
      }
    def dvJson: Option[String] =
      if (f.dv.isEmpty) None
      else {
        val a = mapper.createArrayNode()
        f.dv.foreach(a.add)
        Some(mapper.writeValueAsString(a))
      }
    (colsJson, bloomJson, dvJson)
  }

  /** Decode one checkpoint row back into a [[FileStats]]. */
  def fileEntryFromJson(path: String, bytes: Long, rows: Long, dvRows: Long,
                        colsJson: Option[String], bloomJson: Option[String],
                        dvJson: Option[String]): FileStats = {
    val cols = colsJson.map { s =>
      val cn = mapper.readTree(s)
      cn.fields().asScala.map { e =>
        val c = e.getValue
        val kind = c.get("kind").asText
        val mn = Option(c.get("min")).map(readVal(_, kind))
        val mx = Option(c.get("max")).map(readVal(_, kind))
        e.getKey -> ColStats(kind, mn, mx, c.get("nulls").asLong)
      }.toMap
    }.getOrElse(Map.empty[String, ColStats])
    val bloom = bloomJson.map { s =>
      mapper.readTree(s).fields().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty[String, String])
    val dv = dvJson.map { s =>
      val a = mapper.readTree(s)
      (0 until a.size).map(a.get(_).asText)
    }.getOrElse(Seq.empty)
    FileStats(path, bytes, rows, cols, bloom, dv, dvRows)
  }

  /** The `files` array, `None` when absent/malformed (tree-memoized —
    * SnapshotTable's per-read file listing shares the commit path's
    * parse). */
  def filesFromManifest(body: String): Option[Seq[String]] = {
    val files = tree(body).get("files")
    if (files == null || !files.isArray) None
    else Some((0 until files.size).map(files.get(_).asText()))
  }

  /** The delta marker: `Some(base)` when `body` is a delta manifest. */
  def baseFromManifest(body: String): Option[Long] = {
    val b = tree(body).get("base")
    if (b == null || !b.isNumber) None else Some(b.asLong)
  }

  /** Resolve a delta manifest against its base's FULL body, producing the
    * full body the pre-r13 writer would have written for that version —
    * same `ts`, same per-commit `txn`/`cdc`, file list = base's minus
    * `removePaths` plus `add` (removals first, so a path in both is a
    * stats REPLACEMENT), ledger = base's ∪ `ingestedAdd` (the writer's own
    * accumulation rule). Every existing parser then works on the result
    * unchanged — delta resolution is invisible above this seam. */
  def resolveDelta(baseBody: String, deltaBody: String): String = {
    val d = tree(deltaBody)
    require(d.get("base") != null, "resolveDelta: not a delta manifest")
    val removed = Option(d.get("removePaths")).filter(_.isArray)
      .map(a => (0 until a.size).map(a.get(_).asText).toSet)
      .getOrElse(Set.empty[String])
    val adds = statsArray(d, "add")
    val baseStats = statsFromManifest(baseBody)
    val addPaths = adds.map(_.path).toSet
    val stats = baseStats.filterNot(e => removed(e.path) || addPaths(e.path)) ++ adds
    val ingestedAdd = Option(d.get("ingestedAdd")).filter(_.isArray)
      .map(a => (0 until a.size).map(a.get(_).asText))
      .getOrElse(Seq.empty)
    val ingested =
      (ingestedFromManifest(baseBody) ++ ingestedAdd).distinct.sorted
    manifestJson(
      version = d.get("version").asLong,
      stats = stats,
      txn = txnFromManifest(deltaBody),
      cdc = cdcFromManifest(deltaBody),
      schemaJson = Option(d.get("schema")).filter(_.isTextual).map(_.asText),
      dropped = droppedFromManifest(deltaBody),
      bloomOn = bloomOnFromManifest(deltaBody),
      constraints = constraintsFromManifest(deltaBody),
      mapping = mappingFromManifest(deltaBody),
      usedPhys = usedPhysFromManifest(deltaBody),
      ingested = ingested,
      tsOverride = Some(tsFromManifest(deltaBody)),
      clusterBy = clusterByFromManifest(deltaBody),
      identityHwm = identityHwmFromManifest(deltaBody))
  }

  private def putVal(o: ObjectNode, field: String, v: Any): Unit = v match {
    case l: Long => o.put(field, l)
    case d: Double => o.put(field, d)
    case s: String => o.put(field, s)
    case other => o.put(field, other.toString)
  }

  /** Parse the `stats` array back; empty when the manifest predates stats. */
  def statsFromManifest(body: String): Seq[FileStats] = statsCache.synchronized {
    if (statsCache.size > 64) statsCache.clear()
    var r = statsCache.get(body)
    if (r == null) { r = statsArray(tree(body), "stats"); statsCache.put(body, r) }
    r
  }

  private def statsArray(root: JsonNode, field: String): Seq[FileStats] = {
    val arr = root.get(field)
    if (arr == null || !arr.isArray) Seq.empty
    else arr.asScala.toSeq.map { f =>
      val cols = Option(f.get("cols")).filter(_.isObject).map { cn =>
        cn.fields().asScala.map { e =>
          val c = e.getValue
          val kind = c.get("kind").asText
          val mn = Option(c.get("min")).map(readVal(_, kind))
          val mx = Option(c.get("max")).map(readVal(_, kind))
          e.getKey -> ColStats(kind, mn, mx, c.get("nulls").asLong)
        }.toMap
      }.getOrElse(Map.empty[String, ColStats])
      val bloom = Option(f.get("bloom")).filter(_.isObject).map { bn =>
        bn.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty[String, String])
      val dv = Option(f.get("dv")).filter(_.isArray)
        .map(a => (0 until a.size).map(a.get(_).asText))
        .getOrElse(Seq.empty)
      val dvRows = Option(f.get("dvRows")).map(_.asLong).getOrElse(0L)
      FileStats(f.get("path").asText, f.get("bytes").asLong, f.get("rows").asLong,
        cols, bloom, dv, dvRows)
    }
  }

  /** Named CHECK constraints (name → SQL boolean expression) declared at or
    * before this manifest's version. */
  def constraintsFromManifest(body: String): Map[String, String] = {
    val c = tree(body).get("constraints")
    if (c == null || !c.isObject) Map.empty
    else c.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }

  /** Commit wall-clock (epoch millis), -1 for pre-timestamp manifests. */
  def tsFromManifest(body: String): Long = {
    val t = tree(body).get("ts")
    if (t == null || !t.isNumber) -1L else t.asLong
  }

  /** Logical → physical column mapping (empty = identity for every
    * column, which is every manifest written before round 10). */
  def mappingFromManifest(body: String): Map[String, String] = {
    val m = tree(body).get("mapping")
    if (m == null || !m.isObject) Map.empty
    else m.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }

  /** Physical names ever assigned in this table's lineage (empty on
    * pre-mapping manifests; readers seed it from schema + tombstones). */
  def usedPhysFromManifest(body: String): Seq[String] = {
    val u = tree(body).get("usedPhys")
    if (u == null || !u.isArray) Seq.empty
    else (0 until u.size).map(u.get(_).asText)
  }

  /** Declared clustering columns at this manifest's version (empty =
    * never declared). */
  def clusterByFromManifest(body: String): Seq[String] = {
    val c = tree(body).get("clusterBy")
    if (c == null || !c.isArray) Seq.empty
    else (0 until c.size).map(c.get(_).asText)
  }

  /** Identity-column high-water marks at this manifest's version. */
  def identityHwmFromManifest(body: String): Map[String, Long] = {
    val m = tree(body).get("identityHwm")
    if (m == null || !m.isObject) Map.empty
    else m.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
  }

  /** Bloom-indexed column names this manifest's table is configured for. */
  def bloomOnFromManifest(body: String): Seq[String] = {
    val b = tree(body).get("bloomOn")
    if (b == null || !b.isArray) Seq.empty
    else (0 until b.size).map(b.get(_).asText)
  }

  private def readVal(n: JsonNode, kind: String): Any = kind match {
    case "long" => n.asLong
    case "double" => n.asDouble
    case k if k.startsWith("dec:") => n.asLong // unscaled long
    case _ => n.asText
  }

  /** The table schema this manifest declared at commit time (the Delta-log
    * pattern: schema lives in METADATA, never re-derived from data files —
    * which is what lets files written before a column existed stay in the
    * table untouched and read back NULL for it). Absent on pre-evolution
    * manifests; readers fall back to a data-file footer. */
  def schemaFromManifest(body: String): Option[org.apache.spark.sql.types.StructType] = {
    val s = tree(body).get("schema")
    if (s == null || !s.isTextual) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(s.asText)
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Column names dropped at or before this manifest's version (empty for
    * manifests that never saw a drop). */
  def droppedFromManifest(body: String): Seq[String] = {
    val d = tree(body).get("dropped")
    if (d == null || !d.isArray) Seq.empty
    else (0 until d.size).map(d.get(_).asText)
  }

  /** A DELTA manifest's own newly-loaded ledger identities (empty for
    * full manifests and ledger-less deltas). */
  def ingestedAddFromManifest(body: String): Seq[String] = {
    val d = tree(body).get("ingestedAdd")
    if (d == null || !d.isArray) Seq.empty
    else (0 until d.size).map(d.get(_).asText)
  }

  /** COPY INTO's accumulated loaded-file identities (empty for tables the
    * statement never touched — the field is omitted entirely). */
  def ingestedFromManifest(body: String): Seq[String] = {
    val d = tree(body).get("ingested")
    if (d == null || !d.isArray) Seq.empty
    else (0 until d.size).map(d.get(_).asText)
  }

  /** The (appId, batchId) transaction marker, if this manifest has one. */
  def txnFromManifest(body: String): Option[(String, Long)] = {
    val t = tree(body).get("txn")
    if (t == null || !t.isObject) None
    else Some((t.get("appId").asText, t.get("batchId").asLong))
  }

  /** The per-commit change files, if this manifest recorded them. */
  def cdcFromManifest(body: String): Option[Cdc] = {
    val c = tree(body).get("cdc")
    if (c == null || !c.isObject) None
    else {
      def arr(name: String): Seq[String] = Option(c.get(name))
        .filter(_.isArray)
        .map(a => (0 until a.size).map(i => a.get(i).asText()))
        .getOrElse(Seq.empty)
      Some((arr("add"), arr("remove")))
    }
  }
}
