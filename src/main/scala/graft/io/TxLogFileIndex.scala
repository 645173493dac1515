package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BoundReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Or, Predicate, StartsWith}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{Decimal, StructType}

/** A [[FileIndex]] over a [[TxLog]] snapshot whose `listFiles` consults
  * the manifests' per-file zone maps — the piece that puts lakehouse data
  * skipping on the ORDINARY read path. Catalyst plans a
  * `TxLog.snapshot(...)` read as a normal parquet `FileSourceScanExec`;
  * at planning time the scan asks this index for its file list, passing
  * the pushed-down data filters, and any range/equality/IN predicate on a
  * zone-mapped column drops every file whose manifest [lo, hi] can't
  * match — BEFORE a single parquet footer is opened. That is how
  * Delta/Iceberg surface file pruning (a custom file index under a plain
  * `filter`), and at 100 TB it is the difference between listing a
  * snapshot and scanning it. Everything downstream stays stock Spark:
  * column pruning, parquet row-group skipping via pushed filters, and
  * whole-stage codegen all apply to the surviving files.
  *
  * Pruning is conservative by construction: files without stats for the
  * filtered column are always kept, unsupported predicate shapes prune
  * nothing, and the full predicate is still evaluated on every surviving
  * row (zone maps prune files, they don't answer queries).
  */
class TxLogFileIndex(
    spark: SparkSession,
    val root: String,
    files: Seq[String], // absolute paths, snapshot order
    sizes: Map[String, Long], // manifest-carried byte sizes (canon keys)
    stats: Map[String, TxLog.ColStats],
    strStats: Map[String, TxLog.StrColStats] = Map.empty,
    partSchema: StructType = new StructType(),
    blooms: Map[String, TxLog.BloomCols] = Map.empty,
    liveFracs: Seq[Double] = Nil) extends FileIndex {

  // file statuses come from the MANIFEST (the log stores sizes, as
  // Delta does, precisely so the read path never stats a data file —
  // on an object store that is one avoided HEAD per file per query);
  // a legacy entry without a size falls back to one driver-side stat
  private val statuses: Seq[FileStatus] = {
    lazy val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.map { f =>
      sizes.get(TxLogFileIndex.canonKey(f)) match {
        case Some(len) =>
          new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, new Path(f))
        case None => fs.getFileStatus(new Path(f))
      }
    }
  }

  override def rootPaths: Seq[Path] = Seq(new Path(root))
  override def partitionSchema: StructType = partSchema
  override def inputFiles: Array[String] = files.toArray
  override def refresh(): Unit = ()

  /** This index with `rootPaths` reporting the data root AND the log dir
    * — identical in every read respect (same files, stats, pruning), but
    * Spark's `DataSourceAnalysis` refuses to build its direct-to-path
    * insert command over a multi-path location AT ANALYSIS TIME. That
    * refusal is the ONLY pre-mutation hook a V1 relation gets: the
    * insert command deletes overwritten partitions BEFORE it touches the
    * file format, so in an extension-less session a partition-spec
    * `INSERT OVERWRITE` over a single-path index would destroy
    * manifest-referenced files (and the log itself) before any format
    * guard could fire. The catalog-facing relation wraps this variant;
    * internal snapshot reads keep the single-path original.
    */
  private[graft] def insertGuarded: TxLogFileIndex =
    new TxLogFileIndex(spark, root, files, sizes, stats, strStats,
      partSchema, blooms, liveFracs) {
      override def rootPaths: Seq[Path] =
        Seq(new Path(root), new Path(s"$root/_txlog"))
    }

  /** Catalyst's size estimate for this snapshot, FROM THE LOG: each
    * file's manifest bytes scaled by its live-row fraction
    * `(rows − dvRows) / rows` (the q658 row-count ledger). A dimension
    * table that is mostly deleted through deletion vectors then
    * ESTIMATES at its live size, so the broadcast-join planner picks
    * BroadcastHashJoin where raw file bytes alone would shuffle — CBO
    * statistics derived from log metadata, zero data reads (scan split
    * planning still uses the true per-file lengths above).
    */
  override def sizeInBytes: Long =
    if (liveFracs.size != statuses.size) statuses.map(_.getLen).sum
    else statuses.iterator.zip(liveFracs.iterator)
      .map { case (st, f) => (st.getLen * f).toLong }.sum

  /** Hive partition values of one file, parsed from its k=v path
    * segments in `partSchema` order (log-declared layout, so no
    * discovery pass and no type inference — the recorded schema IS the
    * type authority).
    */
  private def partValueKey(path: String): Seq[Any] =
    if (partSchema.isEmpty) Nil
    else {
      val kv = path.split("/").dropRight(1).iterator.flatMap { s =>
        val i = s.indexOf('=')
        if (i <= 0) None
        else Some(s.substring(0, i) -> TxLogFileIndex.unescapePath(s.substring(i + 1)))
      }.toMap
      partSchema.fields.toSeq.map { f =>
        kv.get(f.name) match {
          case None | Some("__HIVE_DEFAULT_PARTITION__") => null
          case Some(v) =>
            import org.apache.spark.sql.types._
            f.dataType match {
              case StringType  => UTF8String.fromString(v)
              case LongType    => v.toLong
              case IntegerType => v.toInt
              case ShortType   => v.toShort
              case ByteType    => v.toByte
              case dt => throw new IllegalStateException(
                s"txlog: unsupported partition column type $dt for ${f.name}")
            }
        }
      }
    }

  /** The file list this index's most recent scan planning kept — a spec
    * hook so tests assert the PRUNING (plan-time file set), not just the
    * answer. Per-index (each snapshot builds its own), so concurrent or
    * AQE-re-planned queries never race one process-wide slot; fish the
    * index out of a snapshot with [[TxLogFileIndex.of]].
    */
  @volatile var lastListed: Seq[String] = Nil

  /** Sidecar bitsets, loaded lazily per (file, column) on the FIRST
    * equality probe that survives the zone maps and cached for the
    * index's lifetime — a snapshot's planning pays at most one sidecar
    * GET per (surviving file, probed column), counted so specs can
    * assert the bound. A missing/corrupt sidecar caches as `None` and
    * keeps the file (conservative, never a false skip).
    */
  private val sidecars = scala.collection.concurrent.TrieMap
    .empty[(String, String), Option[org.apache.spark.util.sketch.BloomFilter]]

  private def bloomKeep(
      file: String,     // canonical (scheme-less) cache/stats key
      fullPath: String, // the scan's own path form — the one the store reads
      bl: TxLog.BloomCols,
      a: Attribute,
      l: Literal): Boolean =
    bl.get(a.name) match {
      case None => true // column not bloom-indexed in this file
      case Some(dt) => Bloom.probeHash(l.value, l.dataType, dt) match {
        case None          => true  // types don't reconcile: keep
        case Some(Left(_)) => false // value can't fit the write-time type
        case Some(Right(h)) =>
          // NOT getOrElseUpdate: that can run the loader twice under
          // concurrent planning — compute, then putIfAbsent (first
          // insert wins; a racing loser's duplicate load still COUNTS,
          // because bloomReads tracks actual sidecar I/O, not cache
          // population — see the counter's doc). The sidecar GET
          // uses the SCHEME-FUL path (a stripped path would resolve
          // against fs.defaultFS on an object-store root and silently
          // disable bloom pruning there).
          val cached = sidecars.get((file, a.name)).getOrElse {
            TxLogFileIndex.bloomReads.incrementAndGet() // every real GET
            val loaded = Bloom.readSidecarBytes(
              try LogStore.forRoot(fullPath)
                .readBytes(Bloom.sidecar(fullPath, a.name))
              catch { case scala.util.control.NonFatal(_) => null })
            sidecars.putIfAbsent((file, a.name), loaded) match {
              case Some(prev) => prev // lost the insert race: cache wins
              case None       => loaded
            }
          }
          cached match {
            case None     => true
            case Some(bf) => bf.mightContainLong(h)
          }
      }
    }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = statuses.filter { st =>
      val key = st.getPath.toUri.getPath
      val cs = stats.getOrElse(key, Map.empty)
      val ts = strStats.getOrElse(key, Map.empty)
      // bloom probes run INSIDE the zone-map predicate walk (equality
      // arms only), so a file min/max already excludes never pays a
      // sidecar read — and Or-composition stays correct for free
      val bloomFn: (Attribute, Literal) => Boolean =
        blooms.get(key) match {
          case Some(bl) if bl.nonEmpty =>
            val full = st.getPath.toString
            (a, l) => bloomKeep(key, full, bl, a, l)
          case _ => TxLogFileIndex.keepAll
        }
      dataFilters.forall(f => TxLogFileIndex.mayMatch(f, cs, ts, bloomFn))
    }
    if (partSchema.isEmpty) {
      lastListed = kept.map(_.getPath.toUri.getPath)
      Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
    } else {
      // group surviving files by their hive partition values and apply
      // the pushed-down partition filters — Spark REMOVES them from the
      // post-scan filter trusting this listing, so evaluation here is a
      // correctness obligation, not an optimization (the same contract
      // PartitioningAwareFileIndex.prunePartitions fulfils)
      val groups = kept.groupBy(st => partValueKey(st.getPath.toUri.getPath))
      val pred = if (partitionFilters.isEmpty) None else Some(
        Predicate.create(partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partSchema.fields.indexWhere(_.name == a.name)
            if (i < 0) throw new IllegalStateException(
              s"txlog: partition filter references unknown column ${a.name}")
            BoundReference(i, partSchema.fields(i).dataType, nullable = true)
        }))
      val pruned = groups.filter { case (values, _) =>
        pred.forall(_.eval(InternalRow.fromSeq(values)))
      }
      lastListed = pruned.values.flatten.map(_.getPath.toUri.getPath).toSeq
      pruned.map { case (values, sts) =>
        PartitionDirectory(InternalRow.fromSeq(values), sts.toArray)
      }.toSeq
    }
  }
}

object TxLogFileIndex {

  /** Deletion vectors at or below this total size broadcast into the
    * anti-join; above it the subtraction shuffles (a var so specs can
    * pin the fallback plan without materializing 64 MB of positions).
    */
  private[io] var broadcastDvBytes: Long = 64L << 20

  /** Total bytes under a directory, driver-side — the LEGACY fallback
    * for dv dirs committed before manifests carried dv byte sizes; new
    * commits record them, so the steady-state read path never lists a
    * dv dir (one avoided LIST per dv dir per planning on object stores).
    */
  private[io] def dirBytes(dir: String): Long =
    LogStore.forRoot(dir).walk(dir).iterator.map(_.size).sum

  /** The canonical lookup key of an absolute file path: scheme-ful URIs
    * reduce to their path component — EXACTLY the form a planned scan's
    * `FileStatus.getPath.toUri.getPath` reports back to [[listFiles]],
    * so stats keyed here always match there regardless of root scheme.
    */
  private[io] def canonKey(p: String): String =
    if (p.contains("://") || p.startsWith("file:"))
      new Path(p).toUri.getPath
    else p

  /** The unique `txn-<uuid>/…` tail of a data path — the identity
    * deletion-vector positions are keyed by. Every data file lives under
    * a fresh `data/txn-<uuid>/` dir, so the tail after the LAST
    * `data/txn-` is the same string whether the path arrives
    * manifest-relative (`data/txn-u/f.parquet`), external-absolute (a
    * clone's `/src/data/txn-u/f.parquet`), or as a scan's file URI
    * (`file:///root/t/data/txn-u/f.parquet`) — which makes tail EQUALITY
    * an exact match where the previous suffix test (`fp.endsWith(p)`)
    * could, with a pathological uuid collision between a clone's
    * external entries and local ones, attribute positions to the wrong
    * file. [[readTagged]] enforces the tails' uniqueness across the live
    * set, so the equality can never silently alias.
    */
  private[io] def pathTail(p: String): String = {
    val i = p.lastIndexOf("data/txn-")
    if (i >= 0) p.substring(i + "data/".length) else p
  }

  /** `pathTail` as a Catalyst expression over a path column (the `.*`
    * prefix is greedy, so the LAST `data/txn-` anchors — same choice as
    * the driver-side helper).
    */
  private[io] def pathTailCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, nullif, regexp_extract}
    coalesce(nullif(regexp_extract(c, "^.*data/(txn-[^/]+/.+)$", 1),
      org.apache.spark.sql.functions.lit("")), c)
  }

  /** Sidecar bitset reads across all indexes — counts every ACTUAL
    * sidecar GET (including a concurrent planner's duplicate load that
    * loses the cache-insert race), so it is an honest I/O meter; specs
    * assert a single-threaded point lookup's planning opens at most
    * (zone-surviving files × probed columns) sidecars, the same
    * read-counting discipline as `TxLog.manifestReads`.
    */
  private[io] val bloomReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The no-bloom hook: every equality probe keeps the file. */
  private[io] val keepAll: (Attribute, Literal) => Boolean = (_, _) => true

  /** The snapshot as ONE bare [[HadoopFsRelation]] when its semantics
    * fit one — no live deletion vectors (whose anti-join sits above the
    * scan), no column mapping (whose aliasing projection does), one
    * partition-layout generation (no union). This is the steady state of
    * any maintained table (compact/purge collapse all three), and the
    * fast path external V1 surfaces (`spark.read.format("graft")`) hand
    * straight to Spark: the plan then shows the parquet scan, pushdown,
    * and zone-map pruning directly. `None` means the snapshot carries
    * merge-on-read state only a full plan can express — callers fall
    * back to [[graft.sources.GraftSnapshotRelation]]. Decided by
    * PATTERN, not by re-deriving the three conditions: whatever
    * [[read]] planned, a bare relation qualifies and anything else
    * doesn't, so the two can never disagree.
    */
  private[graft] def bareRelation(
      spark: SparkSession,
      root: String,
      r: TxLog.Replay): Option[HadoopFsRelation] =
    read(spark, root, r).queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[HadoopFsRelation] =>
        Some(l.relation.asInstanceOf[HadoopFsRelation])
      case _ => None
    }

  /** The [[TxLogFileIndex]] a snapshot DataFrame plans through (for specs
    * asserting that frame's pruning via its own `lastListed`).
    */
  def of(df: DataFrame): TxLogFileIndex =
    relationOf(df).relation.asInstanceOf[HadoopFsRelation]
      .location.asInstanceOf[TxLogFileIndex]

  /** The relation node a snapshot DataFrame plans through. */
  private[io] def relationOf(df: DataFrame)
      : org.apache.spark.sql.execution.datasources.LogicalRelation =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[HadoopFsRelation] &&
            l.relation.asInstanceOf[HadoopFsRelation].location.isInstanceOf[TxLogFileIndex] => l
    }.getOrElse(throw new IllegalArgumentException(
      "not a TxLog.snapshot-derived DataFrame"))

  /** DataFrame over `rel` whose LogicalRelation carries
    * `CatalogStatistics` FROM THE LOG: the live-fraction-scaled
    * sizeInBytes the index already estimates, plus the EXACT live row
    * count from the manifest row-count ledger (`Σ rows − dvRows`, the
    * q658 path) — so cost-based planning sees log-exact cardinality with
    * zero data reads (deletion-vector-heavy tables look big in bytes
    * while being small in rows). Built through
    * [[org.apache.spark.sql.GraftPlanBridge]]: one path, and every
    * snapshot carries its stats.
    */
  private def ofRelationWithStats(
      spark: SparkSession,
      rel: HadoopFsRelation,
      rowCount: Option[Long],
      sizeInBytes: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
    val tbl = CatalogTable(
      identifier = TableIdentifier("txlog_snapshot"),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty,
      schema = rel.schema,
      provider = Some("parquet"),
      stats = Some(CatalogStatistics(
        BigInt(math.max(1L, sizeInBytes)), rowCount.map(BigInt(_)))))
    org.apache.spark.sql.GraftPlanBridge.ofRelation(spark, rel, tbl)
  }

  /** Exact LIVE row count of a replay subset from the ledger — `None`
    * (no estimate) when any entry predates row-count recording.
    */
  private def ledgerRowCount(r: TxLog.Replay): Option[Long] =
    if (r.entries.isEmpty || r.entries.exists(_.rows.isEmpty)) None
    else Some(r.entries.iterator.map(e => e.rows.get - e.dvRows).sum)

  /** Build the snapshot DataFrame for a resolved replay: stock parquet
    * [[HadoopFsRelation]] over a [[TxLogFileIndex]], schema = union of
    * the live files' schemas (additive evolution reads with nulls
    * backfilled; time travel below an evolution sees only old columns,
    * because its file list predates them). A log-declared hive partition
    * layout splits the recorded schema into data + partition halves, so
    * directory pruning composes with the zone maps — and there is no
    * discovery pass: the LOG is the partition-spec authority, exactly as
    * it is for file lists and sizes.
    */
  /** Helper-column names the deletion-vector machinery uses (prefixed to
    * dodge user schemas): the scan's file path and physical row index,
    * materialized as ordinary columns by [[readTagged]].
    */
  private[io] val FpCol = "_gdv_fp"
  private[io] val PosCol = "_gdv_pos"

  private[io] def read(spark: SparkSession, root: String, r: TxLog.Replay): DataFrame =
    if (r.entries.forall(_.dvs.isEmpty)) readRaw(spark, root, r)
    else {
      import org.apache.spark.sql.functions.col
      val tagged = readTagged(spark, root, r)
      val dataCols = tagged.columns
        .filterNot(c => c == FpCol || c == PosCol).map(col)
      tagged.select(dataCols.toSeq: _*)
    }

  /** The hive partition layout a data file's OWN path declares — the
    * k=v segments between its txn dir and its file name, in order. This
    * is the per-file layout authority that makes PARTITION EVOLUTION
    * readable: after a layout change at a commit boundary (Iceberg's
    * spec evolution), each generation's files still state their own
    * layout, so the read needs no per-entry metadata.
    */
  private[io] def layoutOfPath(p: String): Seq[String] = {
    val segs = pathTail(p).split("/")
    if (segs.length <= 2) Nil
    else segs.iterator.slice(1, segs.length - 1)
      .filter(s => s.indexOf('=') > 0)
      .map(s => s.substring(0, s.indexOf('=')))
      .toSeq
  }

  /** [[readRaw]] plus the scan's `_metadata` file path and physical row
    * index as ordinary columns — the coordinates deletion vectors are
    * expressed in (a parquet file is immutable, so its row indexes are
    * stable forever) — with any live deletion vectors already
    * subtracted: ONE broadcast anti-join above the scan. Data-column
    * predicates still push through the join into the scan (the left
    * side of a left_anti), so plan-time pruning and parquet pushdown
    * are unaffected, and the join side is positions only — megabytes at
    * a 100 TB table's routine delete rates. A caller computing NEW
    * deletions over this view therefore never re-deletes (or re-reports
    * to the change feed) an already-deleted row.
    */
  private[io] def readTagged(spark: SparkSession, root: String, r: TxLog.Replay): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // _metadata resolves only through projections over a file scan — a
    // union does not propagate it, so each layout generation tags its
    // own scan BEFORE the generations union
    val tagged = readRawParts(spark, root, r).map(df =>
      df.withColumn(FpCol, col("_metadata.file_path"))
        .withColumn(PosCol, col("_metadata.row_index")))
      .reduce(_.unionByName(_))
    val dvDirs = r.entries.iterator.flatMap(_.dvs).toSeq.distinct
    if (dvDirs.isEmpty) tagged
    else {
      // position identity is the file's txn tail — EXACT equality, and
      // provably unambiguous because the live set's tails are distinct
      // (uuid dirs make a collision pathological; this makes it loud)
      val tails = r.entries.map(e => pathTail(e.path))
      require(tails.distinct.size == tails.size,
        s"txlog: $root's live set has colliding txn path tails — cannot " +
          s"attribute deletion vectors safely: ${tails.mkString(", ")}")
      // the vector schema is known, so the read infers nothing
      val paths = dvDirs.map(d => TxLog.literalPath(TxLog.absPath(root, d)))
      val dv = spark.read.schema("p string, pos long").parquet(paths: _*)
        .select(pathTailCol(col("p")).as("_dv_tail"),
          col("pos").as("_dv_pos"))
      // broadcast the vector only while it actually fits an executor —
      // routine deletes are megabytes, but a table carrying a massive
      // un-compacted backlog of deletions must fall back to a shuffled
      // anti-join rather than OOM every reader (sizes come from the
      // manifests' dv-byte ledger; only a legacy chain walks the dirs)
      val dvBytes = dvDirs.map(d => r.dvBytes.getOrElse(d,
        TxLogFileIndex.dirBytes(TxLog.absPath(root, d)))).sum
      val right = if (dvBytes <= broadcastDvBytes) broadcast(dv) else dv
      tagged.join(right,
        col(PosCol) === col("_dv_pos") &&
          pathTailCol(col(FpCol)) === col("_dv_tail"),
        "left_anti")
    }
  }

  private def readRaw(spark: SparkSession, root: String, r: TxLog.Replay): DataFrame =
    readRawParts(spark, root, r).reduce(_.unionByName(_))

  /** One DataFrame per partition-layout GENERATION of the live set —
    * normally exactly one; after a partition evolution (the layout
    * changed at a commit boundary, Iceberg's spec evolution) one per
    * generation, each scanning its own files with its own partition
    * schema so directory pruning keeps applying per generation, the
    * caller unioning them by name. A later compact/optimize naturally
    * migrates everything to the current layout and collapses this back
    * to one.
    */
  private def readRawParts(
      spark: SparkSession,
      root: String,
      r: TxLog.Replay): Seq[DataFrame] = {
    val grouped = r.entries.groupBy(e => layoutOfPath(e.path))
    if (grouped.size <= 1)
      // the files' own paths are the layout authority (they agree with
      // the declared spec on any well-formed uniform table)
      Seq(readRawUniform(spark, root, r, grouped.keys.headOption.getOrElse(Nil)))
    else {
      if (r.schema.isEmpty) throw new IllegalStateException(
        s"txlog: $root mixes partition layouts and has no recorded schema — " +
          "partition column types cannot be inferred")
      grouped.toSeq.sortBy(_._1.mkString("\u0000"))
        .map { case (layout, es) =>
          readRawUniform(spark, root, r.copy(entries = es), layout)
        }
    }
  }

  private def readRawUniform(
      spark: SparkSession,
      root: String,
      r: TxLog.Replay,
      partCols: Seq[String]): DataFrame = {
    val abs = r.files.map(f => TxLog.absPath(root, f))
    def key(p: String): String = canonKey(TxLog.absPath(root, p))
    val sizesM = r.entries.iterator
      .flatMap(e => e.bytes.map(b => key(e.path) -> b)).toMap
    val statsM = r.stats.map { case (p, cs) => key(p) -> cs }
    val strStatsM = r.strStats.map { case (p, cs) => key(p) -> cs }
    val bloomsM = r.entries.iterator.filter(_.blooms.nonEmpty)
      .map(e => key(e.path) -> e.blooms).toMap
    // per-file live fraction from the row-count ledger — the log-stats
    // input to the index's Catalyst size estimate (unknown rows → 1.0)
    val fracs: Seq[Double] = r.entries.map(e => e.rows match {
      case Some(n) if n > 0L => math.max(0L, n - e.dvRows).toDouble / n
      case Some(_)           => 1.0
      case None              => 1.0
    })
    // COLUMN MAPPING read path: the relation is declared with PHYSICAL
    // field names (what the files and the manifests' stats actually
    // carry) and a projection aliases them back to the logical schema.
    // Pushed-down filters rewrite through the aliases during
    // optimization, so zone-map/bloom pruning sees physical attribute
    // names — the same identities the commit's write recorded.
    val cm = r.colMap
    import org.apache.spark.sql.functions.col
    if (partCols.isEmpty) {
      // the schema comes from the LOG when every contributing manifest
      // recorded one (the normal case) — a snapshot then plans from
      // manifest bytes alone, zero data-file footer reads; legacy chains
      // fall back to a mergeSchema inference pass over the live files
      val logical = r.schema.getOrElse {
        if (cm.nonEmpty) throw new IllegalStateException(
          s"txlog: $root has a column mapping but no recorded schema")
        spark.read.option("mergeSchema", "true")
          .parquet(abs.map(TxLog.literalPath): _*).schema
      }
      val physSchema =
        if (cm.isEmpty) logical
        else StructType(logical.fields.map(f =>
          f.copy(name = cm.getOrElse(f.name, f.name))))
      val index = new TxLogFileIndex(spark, root, abs, sizesM, statsM, strStatsM,
        blooms = bloomsM, liveFracs = fracs)
      val rel = HadoopFsRelation(index, new StructType(), physSchema, None,
        new ParquetFileFormat, Map("mergeSchema" -> "true"))(spark)
      val df = ofRelationWithStats(spark, rel, ledgerRowCount(r),
        index.sizeInBytes)
      if (cm.isEmpty) df
      else df.select(logical.fields.toSeq.map(f =>
        col(cm.getOrElse(f.name, f.name)).as(f.name)): _*)
    } else {
      val full = r.schema.getOrElse(throw new IllegalStateException(
        s"txlog: partitioned table $root has no recorded schema — " +
          "partition column types cannot be inferred from data files"))
      // partCols arrive PHYSICAL (derived from the k=v dir names the
      // files actually carry); a renamed partition column resolves its
      // logical field through the mapping, the partition schema keeps
      // the physical name (so path parsing keys match), and the final
      // projection aliases it back — same discipline as data columns
      val partFields = partCols.map { c =>
        val logical = full.fields.find(f => cm.getOrElse(f.name, f.name) == c)
          .getOrElse(throw new IllegalStateException(
            s"txlog: partition column $c missing from the recorded schema"))
        logical.copy(name = c) -> logical.name
      }
      val partSchema = StructType(partFields.map(_._1))
      val physPartNames = partCols.toSet
      val dataFields = full.fields.filterNot(f =>
        physPartNames.contains(cm.getOrElse(f.name, f.name)))
      val dataSchema =
        if (cm.isEmpty) StructType(dataFields)
        else StructType(dataFields.map(f =>
          f.copy(name = cm.getOrElse(f.name, f.name))))
      val index = new TxLogFileIndex(spark, root, abs, sizesM, statsM,
        strStatsM, partSchema, bloomsM, liveFracs = fracs)
      val rel = HadoopFsRelation(index, partSchema, dataSchema, None,
        new ParquetFileFormat, Map("mergeSchema" -> "true"))(spark)
      val df = ofRelationWithStats(spark, rel, ledgerRowCount(r),
        index.sizeInBytes)
      if (cm.isEmpty) df
      // preserve the scan's column order: data fields first, then the
      // partition columns (aliased back to their logical names)
      else df.select(dataFields.toSeq.map(f =>
        col(cm.getOrElse(f.name, f.name)).as(f.name)) ++
        partFields.map { case (pf, logical) => col(pf.name).as(logical) }: _*)
    }
  }

  /** Minimal inverse of Spark's hive-path escaping (%XX per escaped
    * char); non-escaped text passes through untouched.
    */
  private[io] def unescapePath(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 3 <= s.length) {
          try {
            sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  private def asLong(v: Any): Option[Long] = v match {
    case i: Int     => Some(i.toLong)
    case l: Long    => Some(l)
    case s: Short   => Some(s.toLong)
    case b: Byte    => Some(b.toLong)
    case d: Decimal if d.scale == 0 => Some(d.toLong)
    case _          => None
  }

  /** Unwraps a value-preserving integral upcast around an attribute, so
    * a legacy `col.cast("long").between(lo, hi)` filter still prunes.
    * Catalyst's UnwrapCastInBinaryComparison usually removes these
    * before they reach the index; this covers the shapes it leaves.
    * Zone maps are long-valued, so the range test is unchanged by the
    * upcast — only WIDENING integral casts unwrap (a narrowing cast can
    * change the value and must not).
    */
  private object AttrOrCast {
    import org.apache.spark.sql.types._
    private def width(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 4; case LongType => 8
      case _ => 0
    }
    def unapply(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case c: Cast => c.child match {
        case a: Attribute
            if width(a.dataType) > 0 && width(c.dataType) >= width(a.dataType) =>
          Some(a)
        case _ => None
      }
      case _ => None
    }
  }

  private def asBytes(v: Any): Option[Array[Byte]] = v match {
    case u: UTF8String => Some(u.getBytes)
    case s: String     => Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _             => None
  }

  /** Unsigned byte-wise compare — EXACTLY Spark's own string ordering
    * (UTF8String compares UTF-8 bytes unsigned), so the pruning decision
    * and the min/max the commit's write recorded agree; Java's
    * String.compareTo (UTF-16 code units) would disagree on
    * supplementary characters.
    */
  private def cmpB(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Could a file with integral zone maps `cs` and string zone maps `ss`
    * contain a row satisfying `e`? False ONLY when the predicate provably
    * excludes the file's range — every unknown shape answers true (prune
    * nothing, stay correct). A string map's `hi = None` means "truncated:
    * unbounded above" — only its lower bound can prune.
    */
  private[io] def mayMatch(
      e: Expression,
      cs: TxLog.ColStats,
      ss: TxLog.StrColStats = Map.empty,
      bloom: (Attribute, Literal) => Boolean = keepAll): Boolean = {
    // per-shape keep tests: `fi` over an integral range, `fs` over a
    // string range; no stats (or a literal of neither kind) keeps the file
    def keep(a: Attribute, v: Any)(fi: ((Long, Long), Long) => Boolean)(
        fs: ((Array[Byte], Option[Array[Byte]]), Array[Byte]) => Boolean): Boolean =
      (cs.get(a.name), asLong(v)) match {
        case (Some(r), Some(x)) => fi(r, x)
        case _ => (ss.get(a.name), asBytes(v)) match {
          case (Some((lo, hi)), Some(x)) =>
            fs((lo.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              hi.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))), x)
          case _ => true
        }
      }
    def eqK(a: Attribute, v: Any) =                       // a = v
      keep(a, v) { case ((lo, hi), x) => lo <= x && x <= hi } {
        case ((lo, hi), x) => cmpB(lo, x) <= 0 && hi.forall(h => cmpB(x, h) <= 0)
      }
    def geK(a: Attribute, v: Any) =                       // a >= v possible
      keep(a, v) { case ((_, hi), x) => hi >= x } {
        case ((_, hi), x) => hi.forall(h => cmpB(h, x) >= 0)
      }
    def gtK(a: Attribute, v: Any) =                       // a > v possible
      keep(a, v) { case ((_, hi), x) => hi > x } {
        case ((_, hi), x) => hi.forall(h => cmpB(h, x) > 0)
      }
    def leK(a: Attribute, v: Any) =                       // a <= v possible
      keep(a, v) { case ((lo, _), x) => lo <= x } {
        case ((lo, _), x) => cmpB(lo, x) <= 0
      }
    def ltK(a: Attribute, v: Any) =                       // a < v possible
      keep(a, v) { case ((lo, _), x) => lo < x } {
        case ((lo, _), x) => cmpB(lo, x) < 0
      }
    e match {
      case And(l, r) => mayMatch(l, cs, ss, bloom) && mayMatch(r, cs, ss, bloom)
      case Or(l, r)  => mayMatch(l, cs, ss, bloom) || mayMatch(r, cs, ss, bloom)
      case EqualTo(AttrOrCast(a), l: Literal) => eqK(a, l.value) && bloom(a, l)
      case EqualTo(l: Literal, AttrOrCast(a)) => eqK(a, l.value) && bloom(a, l)
      case GreaterThanOrEqual(AttrOrCast(a), Literal(v, _)) => geK(a, v)
      case GreaterThan(AttrOrCast(a), Literal(v, _))        => gtK(a, v)
      case LessThanOrEqual(AttrOrCast(a), Literal(v, _))    => leK(a, v)
      case LessThan(AttrOrCast(a), Literal(v, _))           => ltK(a, v)
      case GreaterThanOrEqual(Literal(v, _), AttrOrCast(a)) => leK(a, v) // v >= a ⇔ a <= v
      case GreaterThan(Literal(v, _), AttrOrCast(a))        => ltK(a, v) // v > a ⇔ a < v
      case LessThanOrEqual(Literal(v, _), AttrOrCast(a))    => geK(a, v) // v <= a ⇔ a >= v
      case LessThan(Literal(v, _), AttrOrCast(a))           => gtK(a, v) // v < a ⇔ a > v
      case In(AttrOrCast(a), vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case l: Literal => eqK(a, l.value) && bloom(a, l); case _ => true }
      case StartsWith(a: Attribute, Literal(p, _)) =>
        // strings with prefix p form [p, p·∞): overlap with [lo, hi]
        // needs p ≤ hi (h starting with p implies p ≤ h byte-wise) and
        // lo's first |p| bytes ≤ p (else every prefixed string < lo)
        asBytes(p) match {
          case None => true
          case Some(pb) => ss.get(a.name) match {
            case None => true
            case Some((lo, hi)) =>
              val lob = lo.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              hi.forall(h => cmpB(pb,
                h.getBytes(java.nio.charset.StandardCharsets.UTF_8)) <= 0) &&
                cmpB(lob.take(pb.length), pb) <= 0
          }
        }
      case _ => true
    }
  }
}
