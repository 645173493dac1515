package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

import scala.util.matching.Regex

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, expr, input_file_name, lit, max, min, when}
import org.apache.spark.storage.StorageLevel

/** Minimal lakehouse transaction log over parquet — the append/overwrite
  * commit protocol of Delta Lake (Armbrust et al., VLDB 2020) re-derived at
  * its smallest useful size, with snapshot isolation and time travel.
  *
  * Layout:
  * {{{
  *   <root>/data/<txn-uuid>/part-*.parquet    immutable data files
  *   <root>/_txlog/v00000001.json             one manifest per version
  * }}}
  *
  * The manifest chain is the source of truth. A reader lists `_txlog`,
  * pins a version (head by default), and replays manifests v1..vN in
  * order: `append` adds the manifest's files to the live set, `overwrite`
  * resets the live set to them. Data files are never rewritten in place,
  * so a resolved file list stays readable forever — that is what makes
  * snapshot reads repeatable and time travel free.
  *
  * Commit protocol (optimistic concurrency):
  *   1. write the data files under a fresh uuid dir — invisible to every
  *      reader because no manifest references them yet;
  *   2. write the FULL manifest to a temp file and fsync it;
  *   3. claim version N by hard-linking the temp file to `vN.json` —
  *      link(2) fails atomically with EEXIST if someone else claimed N
  *      first, in which case re-read the head and retry with N+1.
  * The loser never damages the winner (its data dir is simply unreferenced
  * garbage until a vacuum), and readers can never observe a partial
  * manifest because the link publishes fully-written bytes or nothing.
  *
  * 100 TB shape: a commit's cost is one manifest write — independent of
  * table size; readers touch only the manifest chain (KBs) plus the data
  * files their snapshot actually lists. The log's I/O goes through the
  * [[LogStore]] interface: schemeless roots use the local hard-link
  * claim, `scheme://` roots the Hadoop FileSystem store (HDFS-atomic
  * rename claim, proven end-to-end on `file:///` by LogStoreSpec); an
  * object store slots in as one more [[LogStore]] whose claim is a
  * conditional PUT (`If-None-Match: *`) — see the per-scheme consistency
  * contract on [[LogStore]]. The
  * replay cost of a long chain is bounded by checkpoint manifests: every
  * [[TxLog.CheckpointEvery]] commits the full live set — file list AND
  * per-file zone-map stats — is written as `cNNNNNNNN.json` (best-effort,
  * derived state) and readers replay only the suffix after the newest
  * checkpoint at or below their pin. That one-replay bound covers BOTH
  * the file list and the data-skipping stats: a range read of a
  * 10k-commit table reads ≤ CheckpointEvery+1 manifests, not 10k
  * (round 7 shipped stats that replayed from v1 — fixed here, and
  * TxLogSpec counts the reads).
  */
object TxLog {

  sealed trait Action { def name: String }
  case object Append extends Action { val name = "append" }
  case object Overwrite extends Action { val name = "overwrite" }

  /** A read-modify-write commit observed a head it didn't base itself on
    * — the caller must re-read and recompute (see [[merge]]).
    */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** A commit's rows (or, at ADD CONSTRAINT time, the existing table)
    * fail a CHECK constraint — the commit is refused before its manifest
    * publishes, so the table never holds the bad rows.
    */
  final class ConstraintViolation(msg: String) extends RuntimeException(msg)

  /** Per-file, per-column zone map carried by a manifest entry: min/max
    * of each stats column for data skipping (the Delta/Iceberg per-file
    * stats idea). Carried inside each manifest entry (the `"s"` field of
    * [[TxLogManifest]]'s entry encoding) next to plain-path entries,
    * so stats-free and stats-bearing commits interleave freely and a 2-D
    * clustered table (see [[graft.io.ZOrder]]) can carry both range
    * columns at once.
    */
  type ColStats = Map[String, (Long, Long)]

  /** String-column zone map: [lo, hi] in UTF-8 binary order (Spark's own
    * string ordering, so min/max recorded by the commit's write and
    * the pruning comparison agree byte for byte). Values longer than
    * [[StrStatMaxLen]] truncate: `lo` to a prefix (a prefix is byte-wise
    * ≤ the full value, so it remains a valid lower bound) and `hi` to
    * None — "unbounded above" — because no finite truncated upper bound
    * exists without a sentinel past every code point (Delta appends
    * U+10FFFF and accepts the same caveat; this keeps the log exact).
    * The LLM-pipeline's hottest predicates are string equality
    * (`lang = 'en'`, `source = 'web'`, date strings) — integral-only
    * zone maps pruned nothing on exactly those columns before round 9.
    */
  type StrColStats = Map[String, (String, Option[String])]

  /** Per-file bloom-filter index declaration: column → the column's
    * WRITE-TIME Spark type (`catalogString`). The bitset itself is a
    * sidecar file at `<data path>.bloom` (Spark's `sketch.BloomFilter`
    * serialized form, which self-describes its bit count and hash
    * count) — manifests stay skinny while the index scales with the
    * data it covers, the Parquet/Iceberg-Puffin layout rather than
    * Delta's deprecated in-log stats blobs. The recorded type is the
    * hash-reconciliation authority: values were hashed AS that type
    * (`xxhash64` is width-sensitive), so a reader whose filter literal
    * arrives widened by schema evolution must down-convert
    * value-preservingly before probing — or, when the value provably
    * can't fit the write-time type, skip the file outright.
    */
  type BloomCols = Map[String, String]

  /** One live-file entry: relative path, byte size (carried in the
    * manifest so readers never stat data files — Delta stores sizes in
    * the log for the same reason; absent only in hand-written legacy
    * entries), per-column zone maps (integral and string), and the
    * bloom-indexed columns (bitsets live in sidecars).
    */
  final case class Entry(
      path: String,
      bytes: Option[Long],
      stats: ColStats,
      strStats: StrColStats = Map.empty,
      blooms: BloomCols = Map.empty,
      dvs: Vector[String] = Vector.empty,
      rows: Option[Long] = None,
      dvRows: Long = 0L)

  /** The resolved state of a version: live entries (relative paths with
    * sizes + zone maps) plus the snapshot's schema — produced by ONE
    * checkpoint-bounded replay, shared by every read API so no path pays
    * more than ≤ CheckpointEvery+1 manifest reads.
    *
    * `schema` is the additive union of the schemas the contributing
    * manifests recorded at commit time (overwrite resets it, matching
    * the live set); `None` when any contributing manifest predates
    * schema recording — readers then fall back to footer inference.
    */
  final case class Replay(
      entries: Vector[Entry],
      schema: Option[org.apache.spark.sql.types.StructType],
      txns: Map[String, Long],
      partitionBy: Option[Seq[String]] = Some(Nil),
      constraints: Map[String, String] = Map.empty,
      dvBytes: Map[String, Long] = Map.empty,
      colMap: Map[String, String] = Map.empty,
      droppedPhys: Set[String] = Set.empty,
      clusterBy: Seq[String] = Nil) {
    /** Physical (file) column name of logical `name` — identity unless a
      * RENAME/re-add mapped it (Delta's column mapping, at txlog size).
      */
    def physName(name: String): String = colMap.getOrElse(name, name)
    def files: Vector[String] = entries.map(_.path)
    def stats: Map[String, ColStats] =
      entries.iterator.filter(_.stats.nonEmpty).map(e => e.path -> e.stats).toMap
    def strStats: Map[String, StrColStats] =
      entries.iterator.filter(_.strStats.nonEmpty)
        .map(e => e.path -> e.strStats).toMap
  }

  private val versionFile: Regex = """v(\d{8})\.json""".r

  /** Truncation bound for string zone maps (chars). */
  val StrStatMaxLen: Int = 64

  private[io] def truncLo(s: String): String =
    if (s.length <= StrStatMaxLen) s
    else {
      val t = s.substring(0, StrStatMaxLen)
      // never split a surrogate pair: an unpaired high surrogate would
      // re-encode as U+FFFD and could break the lower-bound property
      if (Character.isHighSurrogate(t.last)) t.dropRight(1) else t
    }
  private[io] def truncHi(s: String): Option[String] =
    if (s.length <= StrStatMaxLen) Some(s) else None

  /** Value-preserving upcasts the parquet readers evaluate natively
    * (Spark 4 reads an int32 file column as LongType and a float column
    * as DoubleType), so a same-name change along these edges is safe
    * additive evolution — the recorded schema takes the WIDER type and
    * old files keep reading.
    */
  private def widen(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4
      case _ => 0
    }
    if (a == b) Some(a)
    else if (rank(a) > 0 && rank(b) > 0) Some(if (rank(a) >= rank(b)) a else b)
    else (a, b) match {
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case _ => None
    }
  }

  /** Additive union of two recorded schemas: fields joined by name, new
    * columns appended, same-name types resolved by [[widen]]. A
    * non-widenable type conflict is not additive evolution — resolve to
    * None so the reader falls back to footer inference rather than
    * guessing (round 8 poisoned on ANY type change, so an int→long
    * evolution condemned every later read to inference forever).
    */
  private def mergeSchemas(
      a: Option[org.apache.spark.sql.types.StructType],
      b: Option[org.apache.spark.sql.types.StructType])
      : Option[org.apache.spark.sql.types.StructType] =
    (a, b) match {
      case (Some(x), Some(y)) =>
        val byName = x.fields.map(f => f.name -> f).toMap
        var ok = true
        val merged = x.fields.map { f =>
          y.fields.find(_.name == f.name) match {
            case Some(g) if g.dataType != f.dataType =>
              widen(f.dataType, g.dataType) match {
                case Some(dt) => f.copy(dataType = dt)
                case None     => ok = false; f
              }
            case _ => f
          }
        }
        if (!ok) None
        else Some(org.apache.spark.sql.types.StructType(
          merged ++ y.fields.filterNot(f => byName.contains(f.name))))
      case _ => None
    }

  /** Zone maps are long-valued, so only integral columns carry them —
    * a non-integral stats/merge-key column degrades gracefully (no
    * skipping / whole-table copy-on-write) instead of failing an ANSI
    * cast mid-job.
    */
  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  /** The recorded schema is normalized deep-nullable: parquet reads
    * surface every column nullable, and the recorded schema must match
    * what a reader would have inferred.
    */
  private def deepNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = deepNullable(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = deepNullable(a.elementType))
      case m: MapType => m.copy(valueType = deepNullable(m.valueType))
      case o => o
    }
  }

  /** Fast-path hint that this table has (ever had) a column mapping —
    * same contract as the constraints marker: the LOG is the authority,
    * the marker only spares unmapped tables the per-commit replay.
    */
  private def colmapMarker(root: String): String = logPath(root, "_colmap")

  /** Conflict-retry count across all read-modify-write ops — specs
    * assert a disjoint-file DV race commits in ONE attempt (fold, not
    * retry), the way Delta's conflict checker admits disjoint row-level
    * ops.
    */
  private[io] val rmwConflicts = new AtomicLong(0L)

  /** A checkpoint manifest (full live set) is written every K commits so
    * reader replay cost is O(K), not O(total versions) — the Delta
    * `_last_checkpoint` idea at this size.
    */
  val CheckpointEvery: Long = 10L

  /** Count of log-file reads (vN/cN json), for specs that prove the
    * checkpoint actually bounds replay cost.
    */
  private[io] val manifestReads = new AtomicLong(0L)

  /** Count of `_txlog` directory LISTs — on an object store each one is
    * a paged, billed O(V) call, so the steady state must be zero per
    * commit/read (specs assert it).
    */
  private[io] val dirLists = new AtomicLong(0L)

  /** Every log-side byte this object touches goes through a [[LogStore]]
    * resolved from the ROOT's scheme — schemeless paths keep the original
    * fully-atomic `java.nio` hard-link store, `scheme://` roots route to
    * the Hadoop FileSystem store (HDFS-atomic rename claim; see
    * [[LogStore]] for the per-scheme consistency contract). Data files
    * were always Hadoop-pathed via Spark; this closes the gap that bound
    * the commit protocol itself to the local filesystem.
    */
  private def store(root: String): LogStore = LogStore.forRoot(root)

  private def logDir(root: String): String = s"$root/_txlog"
  private def logPath(root: String, name: String): String =
    s"$root/_txlog/$name"

  /** Resolve a manifest entry path against the table root. Entries are
    * root-relative (`data/txn-.../file.parquet`) except EXTERNAL entries
    * written by a shallow clone, which are absolute — plain-absolute or
    * scheme-ful.
    */
  private[io] def absPath(root: String, p: String): String =
    if (p.startsWith("/") || p.contains("://") || p.startsWith("file:")) p
    else s"$root/$p"

  /** `p` as a `spark.read` path that names exactly itself: Spark globs
    * any read path holding a Hadoop glob metacharacter, so a root like
    * `…/a\b` or `…/t[1]` would otherwise read as a pattern (and fail
    * with PATH_NOT_FOUND). Every read of a root-derived path goes
    * through here.
    */
  private[io] def literalPath(p: String): String =
    p.replaceAll("""([\\\[\]{}*?])""", """\\$1""")

  /** The log format: one stamp, `"fmt":6`, on every file this writer
    * writes (see [[TxLogManifest]] for the encoding). A reader refuses
    * any file stamped HIGHER than the format it knows — a future writer
    * may use features it would silently misparse (Delta's
    * protocol-version action) — and reads every older stamp: fmt 2–5
    * files and the unstamped files of pre-round-8 logs (read as 1) all
    * decode through the same JSON codec. The stamp moved to 6 with that
    * codec because its escaping differs from what the fmt ≤ 5 readers
    * assumed (a raw `}` inside a string zone map would end their entry
    * match early and silently drop the file), so those readers must
    * refuse what it writes.
    */
  val FormatVersion: Long = 6L

  private def readLog(root: String, name: String): TxLogManifest = {
    manifestReads.incrementAndGet()
    TxLogManifest.decode(name, store(root).readText(logPath(root, name)))
  }
  private def readVersion(root: String, v: Long): TxLogManifest =
    readLog(root, f"v$v%08d.json")

  /** All committed versions, ascending (empty for a fresh table).
    * Versions are DENSE by construction — every claim links head+1 — so
    * the list is just 1..head, resolved through the head pointer without
    * an O(V) directory LIST per call.
    */
  def versions(root: String): Seq[Long] = {
    val h = headVersion(root)
    if (h <= 0) Seq.empty else 1L to h
  }

  private def listedHead(root: String): Long = {
    val s = store(root)
    if (!s.isDir(logDir(root))) 0L
    else {
      dirLists.incrementAndGet()
      s.list(logDir(root)).iterator
        .flatMap(n => versionFile.findFirstMatchIn(n).map(_.group(1).toLong))
        .foldLeft(0L)(math.max)
    }
  }

  /** The current head version. A best-effort `_txlog/_head` pointer
    * (Delta's `_last_checkpoint` idea) gives a verified floor and the
    * suffix is PROBED by existence — a stale pointer costs a few extra
    * existence checks, never a wrong answer, and only a pointer-less
    * legacy chain pays a directory LIST (its next commit writes one).
    */
  def headVersion(root: String): Long = {
    val s = store(root)
    val hinted: Option[Long] =
      try {
        val ptr = logPath(root, "_head")
        if (!s.exists(ptr)) None
        else {
          val v = s.readText(ptr).trim.toLong
          if (v >= 1 && s.exists(logPath(root, f"v$v%08d.json"))) Some(v)
          else None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    var v = hinted.getOrElse(listedHead(root))
    while (s.exists(logPath(root, f"v${v + 1}%08d.json"))) v += 1
    v
  }

  /** Best-effort head pointer update after a successful claim: written
    * atomically (temp + rename), and a concurrent regression is harmless
    * — readers probe forward past any stale value.
    */
  private def writeHeadPointer(root: String, v: Long): Unit =
    try store(root).putReplace(logPath(root, "_head"),
      v.toString.getBytes(StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(_) => () }

  /** Newest checkpoint ≤ `upTo`, probed by existence: checkpoints land
    * only at multiples of [[CheckpointEvery]], so walking the multiples
    * downward needs no directory LIST — each miss is a (rare) failed
    * best-effort checkpoint write.
    */
  private def baseCheckpoint(root: String, upTo: Long): Option[Long] = {
    val s = store(root)
    var c = (upTo / CheckpointEvery) * CheckpointEvery
    while (c >= CheckpointEvery) {
      if (s.exists(logPath(root, f"c$c%08d.json"))) return Some(c)
      c -= CheckpointEvery
    }
    None
  }

  /** THE replay: start from the newest checkpoint ≤ `upTo` (skipping
    * every older manifest), then apply the ≤ CheckpointEvery manifests
    * after it. Files and stats advance together — `append` adds the
    * manifest's entries, `overwrite` resets both to them — so reader
    * cost for EVERY read API (plain snapshot, range read, CDF) is
    * bounded by the checkpoint interval, not the table's commit count.
    */
  def replay(root: String, upTo: Long): Replay = {
    val base = baseCheckpoint(root, upTo)
    var entries = Vector.empty[Entry]
    // empty-known start: the first append's recorded schema becomes the
    // table's; any contributing manifest WITHOUT one poisons to None
    // (footer-inference fallback) so a recorded schema is never partial
    var schema: Option[org.apache.spark.sql.types.StructType] =
      Some(org.apache.spark.sql.types.StructType(Nil))
    var txns = Map.empty[String, Long]
    // CHECK constraints: table metadata, so rewrites never reset it —
    // only an explicit constraints field (add/drop commit, checkpoint)
    // replaces the map
    var constraints = Map.empty[String, String]
    // dv-dir byte ledger: accumulative (uuid dirs never collide)
    var dvBytes = Map.empty[String, Long]
    // column mapping: fold removals, then additions; retirements union
    var colMap = Map.empty[String, String]
    var droppedPhys = Set.empty[String]
    // clustering keys: explicit field replaces
    var clusterBy: Seq[String] = Nil
    // partition layout: the CURRENT spec is the latest entries-bearing
    // commit's EXPLICIT declaration (Iceberg's partition-spec evolution)
    // — new writes and rewrites use it, while the READ derives each
    // file's own layout from its k=v path segments, so mixed generations
    // read correctly instead of refusing (pre-round-10 behavior). An
    // append WITHOUT a declaration never changes the spec: a blind flat
    // append onto a partitioned table adds a flat generation (read
    // correctly, migrated by the next compact) but must not silently
    // unpartition the table's future rewrites.
    var partitionBy: Option[Seq[String]] = Some(Nil)
    def foldPartitionBy(decl: Option[Seq[String]], isOverwrite: Boolean,
        hasEntries: Boolean, liveWasEmpty: Boolean): Unit =
      if (isOverwrite || liveWasEmpty) partitionBy = Some(decl.getOrElse(Nil))
      else if (hasEntries && decl.isDefined) partitionBy = decl
    base.foreach { cv =>
      val c = readLog(root, f"c$cv%08d.json")
      entries = c.files.toVector
      partitionBy = Some(c.partitionBy.getOrElse(Nil))
      schema = c.schema
      // a checkpoint is full state: an absent field means NO constraints
      // (every checkpoint written since constraints exist records them)
      constraints = c.constraints.getOrElse(Map.empty)
      dvBytes = c.dvb
      colMap = c.colmap
      droppedPhys = c.coldrop
      clusterBy = c.cluster.getOrElse(Nil)
      // a pre-fmt-2 checkpoint carries no txns map: absent there means
      // UNKNOWN, not empty — replaying from it would silently forget
      // every txnId committed at or below it, and a recovered streaming
      // sink's appendOnce could double-land a microbatch. Reconstruct
      // once from the pre-checkpoint manifests (the pre-round-8 cost,
      // paid only on legacy chains; the next checkpoint write records
      // the map and retires this path). A fmt-2+ checkpoint omits the
      // field only when the map is genuinely empty.
      txns =
        if (c.txns.nonEmpty || c.fmt >= 2L) c.txns
        else versions(root).filter(_ <= cv)
          .flatMap(v => readVersion(root, v).txnId.map(_ -> v)).toMap
    }
    versions(root)
      .filter(v => v <= upTo && v > base.getOrElse(0L))
      .foreach { v =>
        val m = readVersion(root, v)
        val isOverwrite = m.action == Overwrite.name
        foldPartitionBy(m.partitionBy, isOverwrite, m.files.nonEmpty,
          entries.isEmpty)
        if (isOverwrite) {
          entries = m.files.toVector
          schema = m.schema
        } else {
          entries = entries ++ m.files
          schema = mergeSchemas(schema, m.schema)
        }
        // exactly-once bookkeeping is monotone: a rewrite must NOT reset
        // it, or a replayed microbatch could double-land after an OPTIMIZE
        m.txnId.foreach(t => txns += (t -> v))
        m.constraints.foreach(c => constraints = c)
        dvBytes ++= m.dvb
        colMap = (colMap -- m.colunmap) ++ m.colmap
        droppedPhys ++= m.coldrop
        m.cluster.foreach(c => clusterBy = c)
      }
    Replay(entries, schema.filter(_.fields.nonEmpty), txns, partitionBy,
      constraints, dvBytes, colMap, droppedPhys, clusterBy)
  }

  /** Live file list at `upTo` (absolute paths). */
  def liveFiles(root: String, upTo: Long): Seq[String] =
    replay(root, upTo).files.map(f => absPath(root, f))

  /** Zone-map stats of every live file at `upTo` that HAS them (absolute
    * paths → column → [lo, hi]). Files committed without stats are absent
    * — callers must treat them as "may contain anything".
    */
  def liveStats(root: String, upTo: Long): Map[String, ColStats] =
    replay(root, upTo).stats.map { case (p, cs) => absPath(root, p) -> cs }

  /** String zone maps of every live file at `upTo` that has them
    * (absolute paths → column → (lo, truncated-aware hi)).
    */
  def liveStrStats(root: String, upTo: Long): Map[String, StrColStats] =
    replay(root, upTo).strStats.map { case (p, cs) => absPath(root, p) -> cs }

  /** The txnId each committed version carries — checkpoint-bounded like
    * every other replay (checkpoints persist the full monotone map), so
    * an [[appendOnce]] streaming sink pays O(CheckpointEvery) manifest
    * reads per microbatch, not O(stream lifetime).
    */
  private def committedTxnIds(root: String): Map[String, Long] =
    replay(root, headVersion(root)).txns

  /** Commit `df` and return the version it landed as.
    *
    * The data files are written in ONE Spark job, and that job records
    * each file's row count and statistics as its rows stream out
    * ([[WriteStats]]) — no job reads the written files back. A file the
    * write left empty is dropped from the manifest; a commit whose files
    * are all empty publishes no entries but still records its schema.
    *
    * `statsCols`: columns to zone-map per written file — integral, date,
    * timestamp and string columns; other types record no zone map.
    *
    * `carry`: pre-existing live entries (path + size + stats) to
    * re-reference in this manifest WITHOUT rewriting their data — the
    * file-granular MERGE uses it to keep untouched files (and their zone
    * maps) live across an overwrite commit.
    *
    * Written entries carry their BYTE SIZE in the manifest, so the read
    * path plans scans without ever statting a data file (the log is the
    * only metadata a reader touches before the footers of the files it
    * actually opens).
    *
    * An in-flight marker (`_txlog/inflight/txn-*`) brackets the
    * data-write → manifest-link window so a concurrent [[vacuum]] can
    * tell "being committed right now" from aborted residue.
    *
    * `bloomCols`: column → expected distinct values PER FILE to
    * bloom-index. Each written file gets a sidecar bitset
    * (`<file>.<col>.bloom`) built by the same write, and the
    * manifest entry records the indexed columns — point lookups
    * (`id = X`, `id IN (...)`) on a NON-clustering column then prune at
    * plan time where min/max zone maps are provably useless (a secondary
    * key's per-file range spans the whole table). Sized at write by the
    * caller's estimate (Delta's bloom index and Parquet's bloom take the
    * same parameter) and capped at [[Bloom.MaxBits]].
    */
  def commit(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      action: Action,
      txnId: Option[String] = None,
      statsCols: Seq[String] = Nil,
      carry: Seq[Entry] = Nil,
      carrySchema: Option[org.apache.spark.sql.types.StructType] = None,
      expectHead: Option[Long] = None,
      cdf: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      bloomCols: Map[String, Long] = Map.empty,
      rebaseAppends: Boolean = false,
      op: Option[String] = None,
      dvb: Map[String, Long] = Map.empty,
      touched: Set[String] = Set.empty,
      rebaseDvTouched: Option[Set[String]] = None,
      evolvePartitions: Boolean = false,
      cluster: Option[Seq[String]] = None): Long = {
    // an APPEND manifest's files ARE the commit's row-level delta — the
    // change-data-feed depends on that — so re-referencing pre-existing
    // files is an overwrite-only affordance
    require(carry.isEmpty || action == Overwrite,
      "txlog: carry entries are only valid on an overwrite commit")
    // hive-style partition values must be parseable back from dir names:
    // string and integral columns only (the types the reader casts)
    partitionBy.foreach { c =>
      val dt = df.schema.fields.find(_.name == c).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"txlog: partition column $c is not in the commit's schema"))
      require(isIntegral(dt) || dt == org.apache.spark.sql.types.StringType,
        s"txlog: partition column $c must be integral or string, got $dt")
    }
    val s = store(root)
    s.mkdirs(logDir(root))
    val txn = java.util.UUID.randomUUID().toString.take(12)
    val dataDir = s"$root/data/txn-$txn"
    val marker = s"${inflightDir(root)}/txn-$txn"
    s.mkdirs(inflightDir(root))
    s.createMarker(marker)
    try {
      commitInner(spark, root, df, action, txnId, statsCols, carry,
        carrySchema, expectHead, cdf, partitionBy, txn, dataDir, bloomCols,
        rebaseAppends, op, dvb, touched, rebaseDvTouched, cluster,
        evolvePartitions)
    } finally {
      // marker gone ⇒ either the manifest published (files referenced)
      // or the attempt aborted (files are ordinary vacuumable residue)
      try s.delete(marker) catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def inflightDir(root: String): String = s"$root/_txlog/inflight"

  /** Fast-path hint that this table has (ever had) CHECK constraints.
    * Created BEFORE the add's manifest publishes, never removed — purely
    * an optimization gate (the LOG is the authority), so a stale marker
    * on a dropped-to-empty table costs one checkpoint-bounded replay per
    * commit, and an absent marker is only possible on a table where no
    * constraint was ever added.
    */
  private def constraintsMarker(root: String): String =
    logPath(root, "_constraints")

  private def commitInner(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      action: Action,
      txnId: Option[String],
      statsCols: Seq[String],
      carry: Seq[Entry],
      carrySchema: Option[org.apache.spark.sql.types.StructType],
      expectHead: Option[Long],
      cdf: Option[String],
      partitionBy: Seq[String],
      txn: String,
      dataDir: String,
      bloomCols: Map[String, Long] = Map.empty,
      rebaseAppends: Boolean = false,
      op: Option[String] = None,
      dvb: Map[String, Long] = Map.empty,
      touched: Set[String] = Set.empty,
      rebaseDvTouched: Option[Set[String]] = None,
      cluster: Option[Seq[String]] = None,
      evolvePartitions: Boolean = false): Long = {
    // ONE head resolution + (at most) ONE checkpoint-bounded replay
    // serves every pre-write consumer below: the partition-layout
    // agreement check, the column mapping, and the CHECK-constraint map.
    // Tables needing none of them (unpartitioned commits on unmapped,
    // constraint-free tables — the hot path) never force the replay.
    val consReadHead = headVersion(root)
    lazy val headReplay = replay(root, consReadHead)
    // a PARTITIONED append must agree with the table's current layout
    // unless the caller EXPLICITLY evolves the spec — evolution is a
    // legitimate layout change at a commit boundary (each generation's
    // files read under their own k=v layout; a later compact migrates
    // them), while a silent disagreement is almost always a bug
    if (partitionBy.nonEmpty && action == Append && !evolvePartitions &&
      consReadHead > 0) {
      require(headReplay.entries.isEmpty ||
        headReplay.partitionBy.contains(partitionBy),
        s"txlog: table is partitioned by ${headReplay.partitionBy} but the " +
          s"commit declares $partitionBy (pass evolvePartitions = true " +
          "to change the layout at this commit boundary)")
    }
    // COLUMN MAPPING write path: files of a mapped table carry PHYSICAL
    // names (the recorded schema stays logical). A column the table
    // doesn't know whose name is RETIRED (renamed away or dropped) gets
    // a fresh physical name recorded in this manifest, so re-adding a
    // dropped column never resurfaces the old files' bytes. Unmapped
    // tables skip all of it (one marker existence probe).
    val (colMap: Map[String, String], droppedPhys: Set[String]) =
      if (!store(root).exists(colmapMarker(root)))
        (Map.empty[String, String], Set.empty[String])
      else (headReplay.colMap, headReplay.droppedPhys)
    val takenPhys = droppedPhys ++ colMap.values
    // a taken name is exempt when the CURRENT recorded schema already
    // carries it unmapped: that logical is being read identity-physical
    // from the live files right now (a RESTORE below a DROP resurrects
    // columns into exactly this state), so a fresh physical would orphan
    // them — NULLing a live column to "protect" dead bytes is backwards
    val liveIdentity: String => Boolean =
      c => headReplay.schema.exists(_.fieldNames.contains(c))
    val freshAssign: Map[String, String] = df.columns.toSeq
      .filter(c => !colMap.contains(c) && takenPhys(c) && !liveIdentity(c))
      .map(c => c -> s"c_${java.util.UUID.randomUUID().toString.take(8)}")
      .toMap
    require(freshAssign.keySet.intersect(partitionBy.toSet).isEmpty,
      s"txlog: partition column cannot reuse a retired column name")
    val effMap = colMap ++ freshAssign
    def phys(c: String): String = effMap.getOrElse(c, c)
    val physDf =
      if (effMap.isEmpty) df
      else df.select(df.columns.toSeq.map(c => col(c).as(phys(c))): _*)
    // step 1: data files land first, unreferenced by any manifest —
    // hive-layout (k=v dirs) when partitioned, flat otherwise. Partition
    // DIRECTORIES use PHYSICAL names (like every other file byte): a
    // renamed partition column keeps writing the directory name every
    // older generation already has, so the layout stays physically
    // uniform and the read resolves it back through the mapping.
    //
    // The write itself records every file's row count (Delta's
    // numRecords: with every live entry counted, COUNT(*) resolves from
    // the log alone, see rowCount), the zone maps of `statsCols` and the
    // bloom bitsets of `bloomCols` as the rows stream out ([[WriteStats]]),
    // so the commit runs ONE job and never reads its files back. Stats and
    // bloom columns resolve through the mapping: manifests key them by
    // PHYSICAL name — exactly the attribute names pushed-down filters
    // carry once the optimizer has rewritten them through the
    // logical-alias projection. A partition column's stats come from its
    // k=v value.
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val physParts = partitionBy.map(phys)
    val dataCols = physDf.columns.toSeq.filterNot(physParts.contains)
    def source(c: String): WriteStats.Source = {
      val i = physParts.indexOf(phys(c))
      WriteStats.Source(phys(c), if (i >= 0) i else dataCols.indexOf(phys(c)),
        part = i >= 0, byName(c))
    }
    val present = statsCols.distinct.filter(byName.contains)
    // bloom-indexed columns present in this commit's schema, with the
    // caller's per-file distinct estimate (bitset sizing)
    val bloomSpecs = bloomCols.toSeq.filter { case (c, _) => byName.contains(c) }
    val tracker = new WriteStats.JobTracker(WriteStats.Spec(
      zones = present.filter(c => WriteStats.longImage(byName(c))).map(source),
      strs = present.filter(c =>
        byName(c) == org.apache.spark.sql.types.StringType).map(source),
      blooms = bloomSpecs.map { case (c, n) =>
        val (items, bits) = Bloom.sizing(n)
        (source(c), items, bits)
      },
      partDepth = physParts.size))
    org.apache.spark.sql.GraftWriteBridge.writeParquet(physDf, dataDir, physParts, Seq(tracker))
    // a zero-row file (the writer always writes partition 0's, even
    // empty) never enters the manifest: it holds no row, and with no zone
    // map every later merge would count it as touched
    val (filled, empty) = tracker.files.partition(_.rows > 0L)
    empty.foreach(f => try store(root).delete(s"$dataDir/${f.rel}")
      catch { case scala.util.control.NonFatal(_) => false })
    // ONE recursive store walk returns every written file with its size
    // (on an object store that is one paged LIST, never stat-per-file)
    val writtenSizes: Map[String, Long] = store(root).walk(dataDir).iterator
      .filter(_.relPath.endsWith(".parquet"))
      .map(m => s"data/txn-$txn/${m.relPath}" -> m.size)
      .toMap
    val written = filled.map(f => s"data/txn-$txn/${f.rel}" -> f).sortBy(_._1)
    // CHECK constraints: a read-back scan of the commit's OWN files, by
    // name (its dir also holds bloom sidecars) — proportional to the
    // commit, never to the table (carried files were validated when
    // written, and [[addConstraint]] validates the whole table once at
    // add time). The `_constraints` marker keeps constraint-free tables
    // at ZERO extra replay on the append hot path; with it present the
    // lookup is checkpoint-bounded. SQL CHECK semantics: a row fails only
    // when the expression is provably FALSE (NULL passes).
    def validateConstraints(cons: Map[String, String]): Unit =
      if (cons.nonEmpty) {
        // read back physical, alias to logical — constraint expressions
        // are written against logical names
        val backPhys = spark.read
          .schema(deepNullable(physDf.schema)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          .option("basePath", dataDir)
          .parquet(written.map { case (p, _) => literalPath(s"$root/$p") }: _*)
        val back =
          if (effMap.isEmpty) backPhys
          else backPhys.select(df.columns.toSeq.map(c =>
            col(phys(c)).as(c)): _*)
        val anyBad = cons.values.map(ex => expr(ex) <=> lit(false))
          .reduce(_ || _)
        if (!back.filter(anyBad).isEmpty) {
          val which = cons.keys.toSeq.sorted.filter(n =>
            !back.filter(expr(cons(n)) <=> lit(false)).isEmpty)
          throw new ConstraintViolation(
            s"txlog: commit to $root violates CHECK constraint(s) " +
              which.mkString(", ") +
              " — no manifest published, the rejected files are vacuumable residue")
        }
      }
    // constraint enforcement is a two-phase check: validate against the
    // map as of the head read at commit start, and remember that head —
    // publish re-scans any manifest that lands in the lookup-to-claim
    // window for a constraints field and re-validates against the newest
    // map, so an ADD CONSTRAINT racing this commit can never let
    // violating rows slip in unvalidated (the add itself cannot see
    // these files: they are unreferenced until our manifest links). The
    // same window scan guards the COLUMN MAPPING this commit's physical
    // names assumed: a RENAME/DROP landing mid-window conflicts loudly
    // (retrying re-reads the mapping) instead of letting retired bytes
    // resurface under a re-merged logical name.
    val consValidated: Map[String, String] =
      if (written.nonEmpty && store(root).exists(constraintsMarker(root))) {
        val cons = headReplay.constraints
        validateConstraints(cons)
        cons
      } else Map.empty
    val consRecheck: Option[(Long, Map[String, String] => Unit)] =
      if (written.isEmpty) None
      else Some((consReadHead,
        m => if (m != consValidated) validateConstraints(m)))
    // sidecar bitsets land next to their data files BEFORE the manifest
    // references them (same ordering discipline as the data itself)
    val bloomTypes: BloomCols =
      bloomSpecs.map { case (c, _) => phys(c) -> byName(c).catalogString }.toMap
    val entries: Seq[Entry] =
      carry ++ written.map { case (p, f) =>
        f.blooms.foreach { case (c, bytes) =>
          store(root).putReplace(s"$root/${Bloom.sidecar(p, c)}", bytes)
        }
        Entry(p, writtenSizes.get(p), f.zones, f.strs,
          if (f.blooms.isEmpty) Map.empty else bloomTypes, rows = Some(f.rows))
      }
    // record the commit's schema so readers resolve theirs from the
    // LOG, never from O(live files) footer reads; a carry-bearing
    // commit must cover the carried files' columns too, so it merges
    // the caller-supplied carry schema (unknown carry schema → omit,
    // and readers of this range fall back to inference)
    val recorded: Option[org.apache.spark.sql.types.StructType] = {
      val own = Some(deepNullable(df.schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      if (carry.isEmpty) own
      else mergeSchemas(carrySchema.map(s => deepNullable(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType]), own)
    }
    publish(root, entries, action, txnId, recorded, expectHead, txn, cdf,
      partitionBy, rebaseAppends = rebaseAppends, op = op,
      consRecheck = consRecheck, dvb = dvb,
      // a schema-evolving commit re-adding a retired name records its
      // fresh physical assignment in the same manifest (fold-merged, so
      // a racing rename's mapping is never clobbered)
      colMapAdd = freshAssign,
      touched = touched, rebaseDvTouched = rebaseDvTouched,
      cluster = cluster,
      declareFlatLayout = evolvePartitions && partitionBy.isEmpty)
  }

  /** Test-only race injection: invoked once at the next publish attempt
    * (self-resetting), so specs can land a commit deterministically
    * inside another commit's compute→publish window — the interleaving
    * chaos tests can only hit probabilistically.
    */
  private[io] var testRaceHook: () => Unit = () => ()

  /** Steps 2+3 of the protocol: write the full manifest to a temp file,
    * fsync, and claim the next version by atomic hard link — retrying
    * lost races unless the caller pinned `expectHead`.
    *
    * `rebaseAppends` (content-preserving rewrites only — optimize /
    * compact / their z-order variants): when the head moved past
    * `expectHead` but every interleaved commit is a PLAIN APPEND in the
    * same layout, fold those appends' entries (and recorded schemas)
    * into this manifest by reference and publish anyway — equivalent to
    * serializing the rewrite FIRST and the appends after it, which is
    * exactly Delta's write-serializable reordering for blind appends.
    * Without this, a compaction racing a continuous ingest stream
    * re-reads and re-writes its whole input per lost round and can
    * starve — the one maintenance behavior a 100 TB table cannot
    * afford. Anything other than a plain append (a rewrite, a layout
    * change, a constraint edit) still conflicts and the caller re-reads.
    */
  private def publish(
      root: String,
      entries: Seq[Entry],
      action: Action,
      txnId: Option[String],
      recorded: Option[org.apache.spark.sql.types.StructType],
      expectHead: Option[Long],
      txn: String,
      cdf: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      constraints: Option[Map[String, String]] = None,
      rebaseAppends: Boolean = false,
      op: Option[String] = None,
      consRecheck: Option[(Long, Map[String, String] => Unit)] = None,
      dvb: Map[String, Long] = Map.empty,
      colMapAdd: Map[String, String] = Map.empty,
      colUnmap: Set[String] = Set.empty,
      colDrop: Set[String] = Set.empty,
      touched: Set[String] = Set.empty,
      rebaseDvTouched: Option[Set[String]] = None,
      cluster: Option[Seq[String]] = None,
      declareFlatLayout: Boolean = false): Long = {
    val hook = testRaceHook
    testRaceHook = () => ()
    hook()
    var attempt = 0
    var curEntries = entries
    var curRecorded = recorded
    var curBase = expectHead
    var curDvb = dvb
    // CHECK-race closure: the version up to which interleaved manifests
    // have been scanned for a constraints change (see commitInner)
    var consScanned = consRecheck.map(_._1).getOrElse(Long.MaxValue)
    while (true) {
      val next = headVersion(root) + 1
      // before claiming: if anything committed since the constraint map
      // was read, look for a constraints-bearing manifest among the
      // interleaved versions and re-validate this commit's files against
      // the newest map — zero reads in the uncontended case
      consRecheck.foreach { case (_, fn) =>
        if (next - 1 > consScanned) {
          var latest: Option[Map[String, String]] = None
          ((consScanned + 1) to (next - 1)).foreach { v =>
            val m = readVersion(root, v)
            m.constraints.foreach(c => latest = Some(c))
            // a COLUMN-MAPPING change in the window invalidates the
            // physical names this commit's files were written under —
            // conflict loudly (a read-modify-write caller retries with
            // the new mapping; a plain append surfaces the error and its
            // files are vacuumable residue) rather than letting replay
            // merge the old logical name back in over retired bytes
            if (m.colmap.nonEmpty || m.colunmap.nonEmpty || m.coldrop.nonEmpty)
              throw new CommitConflict(
                s"txlog: the column mapping changed at v$v inside this " +
                  "commit's write window — retry the commit against the " +
                  "new mapping")
          }
          consScanned = next - 1
          latest.foreach(fn)
        }
      }
      // serializable read-modify-write: a caller that derived its state
      // FROM a snapshot declares the head it read; if anything committed
      // since, blindly claiming next would silently drop that commit's
      // effect (lost update) — conflict instead, so the caller re-reads
      curBase.foreach { h =>
        if (next - 1 != h) {
          if (!rebaseAppends && rebaseDvTouched.isEmpty)
            throw new CommitConflict(
              s"txlog: based on v$h but head is v${next - 1}")
          // DV-mode folding works at ENTRY granularity (path-keyed), so
          // a racing row-level op on disjoint files can hand over its
          // entries' dv state without conflicting
          lazy val entryMap: scala.collection.mutable.LinkedHashMap[String, Entry] =
            scala.collection.mutable.LinkedHashMap.from(curEntries.map(e => e.path -> e))
          var usedMap = false
          (h + 1 to next - 1).foreach { v =>
            val m = readVersion(root, v)
            if (m.partitionBy.getOrElse(Nil) != partitionBy)
              throw new CommitConflict(
                s"txlog: based on v$h but v$v declares a different layout")
            if (m.action == Append.name) {
              // fold by reference: the append's entries (stats, blooms,
              // sizes) and its recorded schema, merged exactly as
              // replay would have merged them. For a row-level op this
              // is write-serializable reordering too: the op serializes
              // FIRST, the blind append after it (its rows are not
              // subject to the op's predicate — Delta's semantics)
              if (rebaseDvTouched.isEmpty) curEntries = curEntries ++ m.files
              else {
                usedMap = true
                m.files.foreach(e => entryMap(e.path) = e)
              }
              curRecorded = mergeSchemas(curRecorded, m.schema)
              curDvb ++= m.dvb
            } else if (rebaseDvTouched.nonEmpty && m.action == Overwrite.name &&
              m.touched.nonEmpty && m.touched.intersect(rebaseDvTouched.get).isEmpty) {
              // a racing row-level op that touched DISJOINT files: adopt
              // its entry state for exactly the files IT touched, plus
              // any file it added (MoR post-images) — equivalent to
              // serializing it before this commit, which is what Delta's
              // conflict checker admits for disjoint row-level ops. An
              // overlapping touched set (or any commit without a touched
              // declaration) still conflicts and the caller re-reads.
              usedMap = true
              m.files.foreach { e =>
                if (m.touched.contains(e.path) || !entryMap.contains(e.path))
                  entryMap(e.path) = e
              }
              curRecorded = mergeSchemas(curRecorded, m.schema)
              curDvb ++= m.dvb
            } else throw new CommitConflict(
              s"txlog: based on v$h but v$v is not foldable (${m.action}" +
                s"${if (m.touched.isEmpty) "" else s", touched=${m.touched.size}"})")
          }
          if (usedMap) curEntries = entryMap.values.toSeq
          curBase = Some(next - 1)
        }
      }
      val body = TxLogManifest.encode(TxLogManifest(next, action.name,
        curEntries, ts = Some(System.currentTimeMillis()), txnId = txnId,
        op = op, cdf = cdf,
        // an EXPLICIT evolution to a flat layout declares the empty spec
        // (present-empty ≠ absent: replay's fold only moves the current
        // spec on a declaration)
        partitionBy =
          if (partitionBy.nonEmpty || declareFlatLayout) Some(partitionBy) else None,
        schema = curRecorded, constraints = constraints, dvb = curDvb,
        touched = touched, cluster = cluster, colmap = colMapAdd,
        colunmap = colUnmap, coldrop = colDrop))
      // the atomic claim: complete durable bytes at vN or nothing — the
      // store's contract (hard link locally, exclusive rename on HDFS)
      if (store(root).putIfAbsent(logPath(root, f"v$next%08d.json"),
        body.getBytes(StandardCharsets.UTF_8))) {
        writeHeadPointer(root, next)
        if (next % CheckpointEvery == 0) writeCheckpoint(root, next)
        return next
      } else {
        attempt += 1 // lost the race for `next`; re-read head, retry
        if (attempt > 1000)
          throw new java.io.IOException(
            s"txlog: gave up claiming a version after $attempt attempts")
      }
    }
    -1L // unreachable
  }

  /** RESTORE the table to the state of `version`: ONE metadata-only
    * overwrite commit that re-references that version's entries (files,
    * sizes, zone maps, schema) — data files are immutable, so restoring
    * a 100 TB table costs one manifest write, no data movement (Delta's
    * RESTORE). History is preserved: the restore is a NEW version, every
    * intermediate state stays time-travelable, and vacuum semantics are
    * unchanged (the restored files are live again, so no retention
    * window can collect them).
    */
  def restore(spark: SparkSession, root: String, version: Long): Long = {
    val head0 = headVersion(root)
    require(version >= 1 && version <= head0,
      s"txlog: cannot restore $root to v$version (head is v$head0)")
    val r = replay(root, version)
    require(r.entries.nonEmpty, s"txlog: v$version of $root lists no files")
    // the COLUMN MAPPING is table state too: a restore below a RENAME
    // must rewind it, or the next append under the restored (old) name
    // sees its physical as "taken" (colMap.values), takes a fresh one,
    // and every restored file reads that column as NULL. Unmap the
    // head's stale keys and re-add the restored map; retirements
    // (droppedPhys) stay monotone — a restored colMap entry overrides
    // the taken-check for its own logical name, so resurrected columns
    // keep reading, while the retired physicals still can never be
    // REASSIGNED to a different logical.
    //
    // Serializable read-modify-write with the claim PINNED to the head
    // the current mapping was read at: a RENAME committing between the
    // head read and the claim would otherwise leave its colMap entry out
    // of colUnmap — the stale mapping survives the restore and a later
    // write of that renamed logical lands in the restored column's
    // physical bytes (silent column collision). The conflict retry
    // recomputes cur.colMap per attempt, like rename/drop.
    readModifyWrite(root, "restore") { (head, cur) =>
      publish(root, r.entries, Overwrite, txnId = None,
        recorded = r.schema, expectHead = Some(head),
        txn = java.util.UUID.randomUUID().toString.take(12),
        partitionBy = r.partitionBy.getOrElse(Nil), op = Some("RESTORE"),
        colMapAdd = r.colMap,
        colUnmap = cur.colMap.keySet.diff(r.colMap.keySet))
    }
  }

  /** Shallow CLONE: a metadata-only fork of `srcRoot`'s snapshot at
    * `version` (head when None) into `dstRoot` — ONE manifest write
    * whose entries reference the source's files by ABSOLUTE path
    * (external entries), carrying their sizes, zone maps, string
    * stats, and bloom declarations, plus the recorded
    * schema and partition layout. At 100 TB a dev/test fork costs
    * kilobytes of metadata and zero data movement — Delta's SHALLOW
    * CLONE, Iceberg's snapshot-ref idea. Data files are immutable, so
    * the fork is a consistent snapshot forever.
    *
    * Writes to the clone are ordinary commits into its OWN data dirs;
    * the rewrite ops (merge/delete/update/compact/optimize) read
    * external files through the shared [[TxLogFileIndex]] path and
    * copy-on-write the touched ones INTO the clone — the source is never
    * modified, and untouched external entries keep being carried by
    * reference. The clone's own [[vacuum]] never deletes external files
    * (it only walks `dstRoot/data`). The flip side is Delta's documented
    * shallow-clone caveat: a vacuum ON THE SOURCE can delete files a
    * clone still references — the source's retention policy must cover
    * its clones' lifetimes.
    */
  def cloneTable(
      srcRoot: String,
      dstRoot: String,
      version: Option[Long] = None): Long = {
    val v = version.getOrElse(headVersion(srcRoot))
    val r = replay(srcRoot, v)
    require(r.entries.nonEmpty, s"txlog: clone of $srcRoot v$v lists no files")
    require(headVersion(dstRoot) == 0L,
      s"txlog: clone target $dstRoot already has a log")
    val srcAbs =
      if (srcRoot.contains("://") || srcRoot.startsWith("file:")) srcRoot
      else Paths.get(srcRoot).toAbsolutePath.toString
    // data paths AND deletion-vector refs absolutize against the source
    val ext = r.entries.map(e => e.copy(
      path = absPath(srcAbs, e.path),
      dvs = e.dvs.map(d => absPath(srcAbs, d))))
    store(dstRoot).mkdirs(logDir(dstRoot))
    // FULL metadata state rides along, not just entries: the source's
    // column mapping (external files carry PHYSICAL names — a clone
    // without the map would look logical names up directly and read
    // every renamed column as NULL), its retired physicals (so a re-add
    // in the clone can never resurface old bytes), its CHECK
    // constraints, and its clustering keys. The hint markers land
    // BEFORE the manifest, same ordering as rename/addConstraint.
    if (r.colMap.nonEmpty || r.droppedPhys.nonEmpty)
      try store(dstRoot).createMarker(colmapMarker(dstRoot))
      catch { case scala.util.control.NonFatal(_) => () } // already hinted: fine
    if (r.constraints.nonEmpty)
      try store(dstRoot).createMarker(constraintsMarker(dstRoot))
      catch { case scala.util.control.NonFatal(_) => () } // already hinted: fine
    // the source's dv-byte ledger rides along, keyed by the absolutized
    // refs the clone's entries now carry
    val extDvb = r.dvBytes.map { case (d, b) => absPath(srcAbs, d) -> b }
    publish(dstRoot, ext, Overwrite, txnId = None,
      recorded = r.schema, expectHead = None,
      txn = java.util.UUID.randomUUID().toString.take(12),
      partitionBy = layoutOf(srcRoot, r), op = Some("CLONE"), dvb = extDvb,
      colMapAdd = r.colMap, colDrop = r.droppedPhys,
      constraints = if (r.constraints.isEmpty) None else Some(r.constraints),
      cluster = if (r.clusterBy.isEmpty) None else Some(r.clusterBy))
  }

  /** Metadata-only COUNT(*): Σ per-file recorded row counts minus each
    * file's deleted-position count, resolved from the LOG alone — the
    * signature takes no SparkSession because no data file (or even
    * footer) is touched, which at 100 TB is the difference between an
    * instant answer and a full scan (Delta answers `count(*)` from
    * numRecords the same way). `None` when any live entry predates
    * row-count recording — the caller falls back to
    * `snapshot(...).count()`, never to a wrong number. Row counts are
    * recorded by the commit's write itself;
    * deletion vectors maintain per-file deleted counts at delete time.
    */
  def rowCount(root: String, version: Option[Long] = None): Option[Long] = {
    val r = replay(root, version.getOrElse(headVersion(root)))
    // no entry and no recorded schema: no such version (an emptied
    // table keeps its schema and counts 0)
    if (r.entries.exists(_.rows.isEmpty) || (r.entries.isEmpty && r.schema.isEmpty)) None
    else Some(r.entries.iterator.map(e => e.rows.get - e.dvRows).sum)
  }

  /** Current CHECK constraints (name → SQL expression). */
  def constraintsOf(root: String): Map[String, String] =
    if (headVersion(root) == 0L) Map.empty
    else replay(root, headVersion(root)).constraints

  /** ADD a CHECK constraint: validates the EXISTING table in one scan
    * (Delta's ADD CONSTRAINT semantics — a constraint is a guarantee, so
    * it must hold retroactively or be refused), then publishes a
    * metadata commit carrying the current entries by reference plus the
    * updated constraint map. Every later commit's rows are validated
    * against it (SQL semantics: NULL passes, only provably-FALSE rows
    * violate) with a read-back scan proportional to the commit.
    * Serializable like every rewrite: a racing commit conflicts and the
    * add re-validates against the new head. Content-preserving
    * (`cdf = ""`), so change-feed subscribers read straight through it.
    */
  def addConstraint(
      spark: SparkSession,
      root: String,
      name: String,
      sqlExpr: String): Long = {
    require(name.nonEmpty, "txlog: constraint name must be non-empty")
    readModifyWrite(root, "addConstraint") { (base, r) =>
      require(!r.constraints.contains(name),
        s"txlog: constraint $name already exists on $root")
      if (r.entries.nonEmpty) {
        val bad = TxLogFileIndex.read(spark, root, r)
          .filter(expr(sqlExpr) <=> lit(false))
        if (!bad.isEmpty)
          throw new ConstraintViolation(
            s"txlog: existing rows of $root violate CHECK $name ($sqlExpr); not added")
      }
      // marker BEFORE the manifest: any commit racing past the publish
      // already sees the hint and resolves constraints from the log
      store(root).mkdirs(logDir(root))
      try store(root).createMarker(constraintsMarker(root))
      catch { case scala.util.control.NonFatal(_) => () } // already hinted: fine
      publish(root, r.entries, Overwrite, txnId = None,
        recorded = r.schema, expectHead = Some(base),
        txn = java.util.UUID.randomUUID().toString.take(12),
        cdf = Some(""), partitionBy = layoutOf(root, r),
        constraints = Some(r.constraints + (name -> sqlExpr)),
        op = Some("ADD CONSTRAINT"))
    }
  }

  /** DROP a CHECK constraint: a metadata commit writing the full updated
    * (possibly empty) map — replay treats present-empty as reset, so the
    * drop survives checkpoints.
    */
  def dropConstraint(root: String, name: String): Long =
    readModifyWrite(root, "dropConstraint") { (base, r) =>
      require(r.constraints.contains(name),
        s"txlog: no constraint $name on $root")
      publish(root, r.entries, Overwrite, txnId = None,
        recorded = r.schema, expectHead = Some(base),
        txn = java.util.UUID.randomUUID().toString.take(12),
        cdf = Some(""), partitionBy = layoutOf(root, r),
        constraints = Some(r.constraints - name),
        op = Some("DROP CONSTRAINT"))
    }

  /** Column names a CHECK constraint expression references (unresolved
    * parse — no session needed), so RENAME/DROP can refuse to orphan one.
    */
  private def constraintRefs(ex: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(ex)
      .collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head
      }.toSet

  /** RENAME COLUMN — metadata only, zero data movement. The logical name
    * changes in the recorded schema; the files' PHYSICAL column keeps
    * its name via a `colmap` entry (Delta's column mapping), so every
    * pre-rename file reads through the new name and every pre-rename
    * zone map / bloom index keeps pruning (stats are keyed physical).
    * PARTITION columns rename too (Iceberg's semantics): the layout
    * declaration moves with the logical name while the k=v directories
    * keep the physical one — old generations, new writes, and directory
    * pruning all resolve through the mapping. Refused only for columns
    * a CHECK constraint references. Content-preserving
    * (`cdf = ""`): change-feed subscribers read through it, surfacing
    * the new name from this version on. Serializable like every
    * metadata commit.
    */
  def renameColumn(root: String, oldName: String, newName: String): Long =
    readModifyWrite(root, "renameColumn") { (base, r) =>
      val schema = r.schema.getOrElse(throw new IllegalStateException(
        s"txlog: $root has no recorded schema — column mapping needs one"))
      require(schema.fieldNames.contains(oldName),
        s"txlog: no column $oldName on $root")
      require(!schema.fieldNames.contains(newName),
        s"txlog: column $newName already exists on $root")
      val layout = layoutOf(root, r)
      r.constraints.foreach { case (n, ex) =>
        require(!constraintRefs(ex).contains(oldName),
          s"txlog: CHECK constraint $n references $oldName; drop it first")
      }
      val physOld = r.physName(oldName)
      // a PARTITION column renames too (Iceberg allows it): the layout
      // declaration moves to the new logical name in the same commit,
      // while the k=v directories — physical bytes, like file columns —
      // keep the physical name, which new writes keep using (see the
      // commit write path) and the read resolves back through the map
      val newLayout = layout.map(c => if (c == oldName) newName else c)
      val newSchema = org.apache.spark.sql.types.StructType(schema.fields.map(
        f => if (f.name == oldName) f.copy(name = newName) else f))
      store(root).mkdirs(logDir(root))
      try store(root).createMarker(colmapMarker(root))
      catch { case scala.util.control.NonFatal(_) => () } // already hinted: fine
      // recorded clustering keys follow the rename in the SAME commit,
      // so a keyless compactZOrder after the rename resolves — and can
      // never cluster by a stranger re-added under the old name
      val newCluster =
        if (!r.clusterBy.contains(oldName)) None
        else Some(r.clusterBy.map(c => if (c == oldName) newName else c))
      publish(root, r.entries, Overwrite, txnId = None,
        recorded = Some(newSchema), expectHead = Some(base),
        txn = java.util.UUID.randomUUID().toString.take(12),
        cdf = Some(""), partitionBy = newLayout, op = Some("RENAME COLUMN"),
        colMapAdd = Map(newName -> physOld), colUnmap = Set(oldName),
        cluster = newCluster)
    }

  /** DROP COLUMN — metadata only: the field leaves the recorded schema
    * and its physical name RETIRES (`coldrop`), so a later re-add of the
    * same logical name gets a fresh physical and the old files' bytes
    * never resurface. Time travel below the drop still sees the column.
    * Same refusals as rename (partition / constraint-referenced).
    */
  def dropColumn(root: String, name: String): Long =
    readModifyWrite(root, "dropColumn") { (base, r) =>
      val schema = r.schema.getOrElse(throw new IllegalStateException(
        s"txlog: $root has no recorded schema — column mapping needs one"))
      require(schema.fieldNames.contains(name),
        s"txlog: no column $name on $root")
      require(schema.fields.length > 1,
        s"txlog: cannot drop the last column of $root")
      val layout = layoutOf(root, r)
      require(!layout.contains(name),
        s"txlog: cannot drop partition column $name")
      require(!r.clusterBy.contains(name),
        s"txlog: $name is a recorded clustering key; clusterBy without " +
          "it (or compact) first")
      r.constraints.foreach { case (n, ex) =>
        require(!constraintRefs(ex).contains(name),
          s"txlog: CHECK constraint $n references $name; drop it first")
      }
      val physOld = r.physName(name)
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == name))
      store(root).mkdirs(logDir(root))
      try store(root).createMarker(colmapMarker(root))
      catch { case scala.util.control.NonFatal(_) => () } // already hinted: fine
      publish(root, r.entries, Overwrite, txnId = None,
        recorded = Some(newSchema), expectHead = Some(base),
        txn = java.util.UUID.randomUUID().toString.take(12),
        cdf = Some(""), partitionBy = layout, op = Some("DROP COLUMN"),
        colUnmap = Set(name), colDrop = Set(physOld))
    }

  /** Best-effort: a checkpoint is pure derived state, so a failure (or a
    * concurrent winner) must never fail the commit that triggered it —
    * readers just replay a longer manifest suffix. Stats entries are
    * carried INTO the checkpoint (same serialization as manifests), so
    * the data-skipping read path is checkpoint-bounded too.
    */
  private def writeCheckpoint(root: String, v: Long): Unit =
    try {
      val r = replay(root, v)
      // a MIXED partition layout checkpoints fine: the record carries the
      // CURRENT declared spec, while each entry's own k=v path segments
      // carry its generation's layout — exactly what the read derives
      // them from — so an evolved table's replay stays checkpoint-bounded
      // instead of replaying an ever-growing manifest suffix
      // (TxLogPartitionSpec's mixed-layout case proves the bound)
      // the dv-byte ledger survives checkpoint-bounded replay, pruned to
      // the refs the live set still subtracts; the column mapping is the
      // full folded state (replay-from-checkpoint resets it)
      val liveDvs = r.entries.iterator.flatMap(_.dvs).toSet
      val body = TxLogManifest.encode(TxLogManifest(v, "checkpoint", r.entries,
        partitionBy = r.partitionBy.filter(_.nonEmpty), schema = r.schema,
        txns = r.txns, constraints = Some(r.constraints).filter(_.nonEmpty),
        dvb = r.dvBytes.filter { case (d, _) => liveDvs(d) },
        colmap = r.colMap, coldrop = r.droppedPhys,
        cluster = Some(r.clusterBy).filter(_.nonEmpty)))
      store(root).putIfAbsent(logPath(root, f"c$v%08d.json"),
        body.getBytes(StandardCharsets.UTF_8)) // concurrent winner: fine
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  def append(spark: SparkSession, root: String, df: DataFrame): Long =
    commit(spark, root, df, Append)

  /** Append with zone maps and/or bloom indexes — the per-batch ingest
    * wrapper (`bloomCols`: column → expected distinct values per file).
    */
  def append(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      statsCols: Seq[String],
      bloomCols: Map[String, Long]): Long =
    commit(spark, root, df, Append, statsCols = statsCols,
      bloomCols = bloomCols)

  def overwrite(spark: SparkSession, root: String, df: DataFrame): Long =
    commit(spark, root, df, Overwrite)

  /** Atomically replace exactly the hive partitions named by `spec`
    * (logical partition column → value) with `df`'s rows — SQL
    * `INSERT OVERWRITE ... PARTITION (k=v)` / Delta's partition-scoped
    * `replaceWhere`, as ONE overwrite commit: the spec-matching live
    * entries are dropped, every other live file is carried BY REFERENCE
    * (stats intact, zero data reads to decide — files are
    * partition-homogeneous so entry paths answer membership exactly),
    * and the new files land under the same layout. Readers never see an
    * intermediate state, and a concurrent append rebases on top
    * (serializable as append-after-replace).
    *
    * `df` must already be confined to the replaced partitions — guarded
    * by one column-pruned pass over the spec columns (for the SQL path
    * the spec values are injected literals, so the optimizer folds the
    * guard to a no-op). The written files inherit the table's recorded
    * zone-map columns, so routine SQL overwrites keep data skipping
    * alive without the caller re-declaring anything.
    */
  def replacePartitions(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      spec: Map[String, String]): Long = {
    require(spec.nonEmpty, "txlog: replacePartitions needs a non-empty spec")
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    readModifyWrite(root, "replacePartitions") { (base, r) =>
      val layout = layoutOf(root, r)
      val bad = spec.keys.filterNot(layout.contains)
      require(bad.isEmpty,
        s"txlog: replacePartitions spec names non-partition columns " +
          s"${bad.mkString(", ")} (layout: ${layout.mkString(", ")})")
      val schema = r.schema.getOrElse(throw new IllegalStateException(
        s"txlog: $root has no recorded schema; cannot type the partition spec"))
      // dir segment per spec column: PHYSICAL name (k=v dirs keep
      // physical names through a column rename), value canonicalized
      // through the recorded type so "07" and "7" name the same partition
      val typed: Map[String, (org.apache.spark.sql.types.DataType, String)] =
        spec.map { case (k, v) =>
          val dt = schema.fields.find(_.name == k).map(_.dataType)
            .getOrElse(throw new IllegalArgumentException(
              s"txlog: partition column $k missing from the recorded schema"))
          val canon = dt match {
            case org.apache.spark.sql.types.StringType => v
            case _ => v.trim.toLong.toString
          }
          k -> (dt, canon)
        }
      val segs = typed.map { case (k, (_, canon)) =>
        s"${escapePathName(r.physName(k))}=${escapePathName(canon)}"
      }.toSet
      def hit(e: Entry): Boolean =
        segs.subsetOf(e.path.split("/").dropRight(1).toSet)
      val keep = r.entries.filterNot(hit)
      val confined = typed.map { case (k, (dt, canon)) =>
        col(k) <=> lit(canon).cast(dt)
      }.reduce(_ && _)
      require(df.filter(!confined).isEmpty,
        s"txlog: replacePartitions data contains rows outside " +
          s"${spec.map { case (k, v) => s"$k=$v" }.mkString(", ")}")
      commit(spark, root, df, Overwrite,
        statsCols = ledgerStatsCols(r), carry = keep, carrySchema = r.schema,
        expectHead = Some(base), partitionBy = layout, rebaseAppends = true,
        op = Some("REPLACE PARTITIONS"))
    }
  }

  /** The zone-map columns the table's live files already carry, mapped
    * to logical names — what a routine write should declare as
    * `statsCols` so it lands as prunable as the data around it (the SQL
    * INSERT path's default; [[maintain]] uses the same ledger-derived
    * set for its rewrites).
    */
  def recordedStatsCols(root: String): Seq[String] = {
    val head = headVersion(root)
    if (head == 0L) Nil else ledgerStatsCols(replay(root, head))
  }

  /** Exactly-once append: a replay of the same `txnId` (a Structured
    * Streaming batchId after failure recovery, an orchestrator retry) is a
    * no-op returning the original version. This is the idempotence contract
    * a streaming sink needs — wire it as
    * `ds.writeStream.foreachBatch((df, id) => TxLog.appendOnce(spark, root,
    * s"stream#$id", df))` and a re-delivered microbatch can't double-land.
    * Assumes replays are sequential (a failed writer restarts; two LIVE
    * writers racing the same txnId is an orchestration bug this does not
    * solve — the check-then-commit window is documented, same stance as
    * Delta's txn appId/version userMetadata).
    */
  def appendOnce(
      spark: SparkSession,
      root: String,
      txnId: String,
      df: DataFrame,
      partitionBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      bloomCols: Map[String, Long] = Map.empty): Long =
    committedTxnIds(root).get(txnId) match {
      case Some(v) => v
      case None    => commit(spark, root, df, Append, Some(txnId),
        statsCols = statsCols, partitionBy = partitionBy,
        bloomCols = bloomCols)
    }

  /** Logical→physical column rename for a mapped table's SIDE files
    * (change data): every file under the root then shares the physical
    * naming, and [[changes]] reverse-maps once at the end. Identity for
    * unmapped tables. Tag columns (`_change_type`) are never mapped.
    */
  private def toPhysical(df: DataFrame, r: Replay): DataFrame =
    if (r.colMap.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      col(c).as(r.colMap.getOrElse(c, c))): _*)

  /** Serializable read-modify-write driver shared by every rewrite op
    * (merge/delete/update/optimize/zorder/compact): resolve the head,
    * hand `body` its replay, and rerun on a [[CommitConflict]] — the
    * body's `commit(expectHead = Some(base))` turns a lost update into
    * a retry instead of a silent erase; an abandoned attempt's files
    * are unreferenced garbage until a vacuum.
    */
  private def readModifyWrite(root: String, op: String)(
      body: (Long, Replay) => Long): Long = {
    var attempts = 0
    while (true) {
      val base = headVersion(root)
      val r = replay(root, base)
      try return body(base, r)
      catch {
        case _: CommitConflict =>
          rmwConflicts.incrementAndGet()
          attempts += 1
          if (attempts > 50)
            throw new java.io.IOException(
              s"txlog: $op lost $attempts conflicts in a row; giving up")
      }
    }
    -1L // unreachable
  }

  /** The declared partition layout of a replay, refusing a mixed one
    * (a rewrite over a mixed layout would bake the corruption in).
    */
  private def layoutOf(root: String, r: Replay): Seq[String] =
    r.partitionBy.getOrElse(throw new IllegalStateException(
      s"txlog: $root has a mixed partition layout; restore a clean version first"))

  /** Which of `ranges` some non-null `keyCol` value of `updates` lands
    * inside (indexes into `ranges`), and whether `updates` has any
    * non-null key at all: ONE shuffle-free job, each task checking its
    * own keys against the broadcast `[lo, hi]` arrays and returning only
    * the distinct ranges it hit.
    */
  private def keyHits(
      spark: SparkSession,
      updates: DataFrame,
      keyCol: String,
      ranges: Seq[(Long, Long)]): (Set[Int], Boolean) = {
    val zones = spark.sparkContext.broadcast(
      (ranges.map(_._1).toArray, ranges.map(_._2).toArray))
    try {
      val perTask = updates.select(col(keyCol).cast("long")).queryExecution.toRdd
        .mapPartitions { rows =>
          val (lo, hi) = zones.value
          val hit = new java.util.BitSet(lo.length)
          var any = false
          rows.foreach { row =>
            if (!row.isNullAt(0)) {
              any = true
              val k = row.getLong(0)
              var i = 0
              while (i < lo.length) {
                if (lo(i) <= k && k <= hi(i)) hit.set(i)
                i += 1
              }
            }
          }
          Iterator.single((any, hit.stream().toArray))
        }.collect()
      (perTask.iterator.flatMap(_._2).toSet, perTask.exists(_._1))
    } finally zones.destroy()
  }

  /** File-granular copy-on-write MERGE (upsert): rows of `updates`
    * replace current rows sharing `keyCol`; unmatched update rows
    * insert. A null key never matches (it inserts), and every update row
    * of a matched key lands, duplicates included. One pass:
    *
    *  1. Touched files: ONE shuffle-free job probes each update key
    *     against the `keyCol` zone maps ([[keyHits]]). A file is
    *     rewritten iff some update key lies inside its `[lo, hi]`; files
    *     without `keyCol` stats are conservatively always rewritten, and
    *     a batch with no non-null key touches nothing. A non-integral key
    *     has no zone maps, so it rewrites the whole table. Every other
    *     live file is carried into the new manifest BY REFERENCE (data
    *     files are immutable), keeping its stats — the commit costs what
    *     the batch touches, not the table.
    *  2. Tagging: the touched rows and the update rows, each tagged with
    *     its side, meet in ONE shuffle — a window over `keyCol` that sees
    *     whether a key occurs on both sides. Each row gets its
    *     `_change_type`: `update_preimage` / `update_postimage` for a
    *     matched key, `insert` for an unmatched update row, null for a
    *     kept old row. When the touched files' zone maps are disjoint,
    *     the shuffle is by key RANGE, cut at every touched `[lo, hi]`
    *     edge: each touched file's rows stay together in one key-sorted
    *     partition and the keys between or beyond them get their own, so
    *     the rewrite keeps the table's layout. Otherwise (overlapping or
    *     missing zone maps) it hashes on `keyCol`.
    *  3. Writes: the tagged rows are persisted once and feed both writes
    *     — the change files (`_change_data/`, every row with a change
    *     type, so changes() and the streaming source survive the rewrite)
    *     and the data commit (every row but the pre-images), whose files
    *     get fresh `keyCol` zone maps so the NEXT merge stays
    *     file-granular.
    *
    * Both outputs keep the key column first, then the touched files'
    * columns, then columns only the updates have (change files put
    * `_change_type` before those). When nothing is touched the merge is
    * a pure insert: one append commit, whose files ARE its row-level
    * delta, so it writes no change files.
    *
    * Serializable read-modify-write: the commit pins the version the
    * rewrite was based on; if anything commits in between, the
    * conditional commit throws and the whole read-modify-write reruns
    * against the new head — a blind overwrite would silently drop the
    * interleaved commit (lost update). The abandoned attempt's files are
    * unreferenced garbage until a vacuum.
    */
  def merge(spark: SparkSession, root: String, updates: DataFrame, keyCol: String): Long = {
    // zone maps are long-valued: only an integral key gets file-granular
    // matching; any other key type is a classic whole-table copy-on-write
    val keyIsIntegral = updates.schema.fields
      .find(_.name == keyCol).exists(f => isIntegral(f.dataType))
    readModifyWrite(root, "merge") { (base, r) =>
      // zone maps are keyed by the key's PHYSICAL name (identity unless
      // the column was renamed)
      val physKey = r.physName(keyCol)
      // the touched files, and the key ranges of those with zone maps
      val (touched: Set[String], spans: Seq[(Long, Long)]) =
        if (!keyIsIntegral || r.entries.isEmpty) (r.files.toSet, Nil)
        else {
          val (statted, unstatted) = r.entries.partition(_.stats.contains(physKey))
          val (hit, anyKey) = keyHits(spark, updates, keyCol, statted.map(_.stats(physKey)))
          if (!anyKey) (Set.empty[String], Nil)
          else {
            val hitFiles = hit.toSeq.map(statted)
            ((unstatted ++ hitFiles).map(_.path).toSet, hitFiles.map(_.stats(physKey)))
          }
        }
      val layout = layoutOf(root, r)
      if (touched.isEmpty)
        commit(spark, root, updates, Append,
          statsCols = Seq(keyCol), expectHead = Some(base),
          partitionBy = layout, op = Some("MERGE"))
      else {
        // read the touched files THROUGH the file index: the table's
        // recorded (union) schema backfills columns they lack — the
        // mergeSchema behavior, resolved from the log — and hive
        // partition values attach from the k=v dirs, so a merge on a
        // partitioned table round-trips the layout
        val old = TxLogFileIndex.read(spark, root,
          r.copy(entries = r.entries.filter(e => touched(e.path))))
        val side = "_merge_side"
        val both = old.select((col(keyCol) +: old.columns.toSeq
            .filterNot(_ == keyCol).map(col)): _*)
          .withColumn(side, lit(0))
          .unionByName(updates.withColumn(side, lit(1)), allowMissingColumns = true)
        // range cuts at the touched files' edges, when their zone maps
        // are disjoint. A row's range is the number of cuts at or below
        // its key: keys below every cut (null keys too) take range 0
        val sorted = spans.sortBy(_._1)
        val cuts: Seq[Long] =
          if (sorted.zip(sorted.drop(1)).exists { case (a, b) => a._2 >= b._1 }) Nil
          else sorted.flatMap { case (lo, hi) =>
            lo +: (if (hi < Long.MaxValue) Seq(hi + 1) else Nil)
          }.distinct
        val range = "_merge_range"
        val ranged = both.withColumn(range, cuts
          .map(c => when(col(keyCol) >= c, 1).otherwise(0))
          .foldLeft(lit(0))(_ + _))
        val byKey = Window.partitionBy(col(range), col(keyCol))
        val matched = col(keyCol).isNotNull &&
          min(side).over(byKey) === 0 && max(side).over(byKey) === 1
        val changeType = col("_change_type")
        val tagged =
          (if (cuts.isEmpty) ranged else ranged.repartitionById(cuts.size + 1, col(range)))
            .withColumn("_change_type",
              when(matched, when(col(side) === 0, "update_preimage")
                .otherwise("update_postimage"))
                .when(col(side) === 1, "insert"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // [key, touched files' columns] ++ [_change_type] ++ [update-only]
          val (lead, sideOn) = both.columns.toSeq.span(_ != side)
          val updOnly = sideOn.tail
          val cdfDir = s"txn-${java.util.UUID.randomUUID().toString.take(12)}"
          toPhysical(tagged.filter(changeType.isNotNull)
            .select((lead ++ ("_change_type" +: updOnly)).map(col): _*), r)
            .write.mode(SaveMode.ErrorIfExists)
            .parquet(s"$root/_change_data/$cdfDir")
          commit(spark, root,
            tagged.filter(changeType.isNull || changeType =!= "update_preimage")
              .select((lead ++ updOnly).map(col): _*),
            Overwrite, statsCols = Seq(keyCol),
            carry = r.entries.filterNot(e => touched(e.path)),
            carrySchema = r.schema, expectHead = Some(base),
            cdf = Some(cdfDir), partitionBy = layout, op = Some("MERGE"))
        } finally tagged.unpersist()
      }
    }
  }

  /** OPTIMIZE: rewrite the current live set into `targetFiles` files —
    * the compaction a long-lived table needs once incremental appends
    * accumulate small files (footer reads + task-per-file scheduling
    * dominate scan cost at 100 TB; see Zones.compact for the raw-prefix
    * variant). With `sortCol`, rows are range-repartitioned on it first
    * so the rewritten files' zone maps become near-disjoint and a range
    * read's pruning approaches one-file-per-range — the OPTIMIZE ZORDER
    * story in one dimension (pass both range columns of a
    * [[graft.io.ZOrder]]-clustered layout via `statsCols` on a manual
    * commit for the 2-D case). Committed as one overwrite; data files
    * are immutable, so every pre-optimize snapshot keeps reading its own
    * files untouched (time travel across an OPTIMIZE is free, unlike an
    * in-place rewrite).
    */
  def optimize(
      spark: SparkSession,
      root: String,
      targetFiles: Int,
      sortCol: Option[String] = None): Long = {
    readModifyWrite(root, "optimize") { (base, r) =>
      require(r.entries.nonEmpty || r.schema.nonEmpty,
        s"txlog: optimize of $root found no files")
      val cur = TxLogFileIndex.read(spark, root, r)
      val laid = sortCol match {
        case Some(c) => cur.repartitionByRange(
          targetFiles, org.apache.spark.sql.functions.col(c))
        case None => cur.repartition(targetFiles)
      }
      // cdf = "": an optimize's row-level delta is EMPTY by
      // construction, so the change feed and the streaming source pass
      // through it instead of dying on "rewrite in range"
      commit(spark, root, laid, Overwrite,
        statsCols = sortCol.toSeq, expectHead = Some(base),
        cdf = Some(""), partitionBy = layoutOf(root, r),
        rebaseAppends = true, op = Some("OPTIMIZE"))
    }
  }

  /** Copy-on-write DELETE: remove the rows matching `predicate`,
    * rewriting ONLY the files that can contain one — candidates are
    * selected at PLAN time by running the predicate's optimized
    * conjuncts through the same zone-map + partition pruning an ordinary
    * scan uses, so a `lang = 'x'` or key-range delete (the GDPR shape)
    * touches its files, not the table. Untouched files carry by
    * reference. Rows where the predicate is NULL are KEPT (Delta/ANSI
    * DELETE semantics). The deleted rows persist as `delete`-typed
    * change rows, so `changes(withChangeType = true)` and a changeTypes
    * stream read straight through the rewrite. The predicate must be
    * deterministic — it is evaluated twice (change rows and survivors).
    * Returns the committed version, or the head untouched when no file
    * can match. See [[rewriteDml]] for the jobs it runs.
    */
  def delete(
      spark: SparkSession,
      root: String,
      predicate: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Nil): Long =
    rewriteDml(spark, root, predicate, Map.empty, statsCols)

  /** Copy-on-write UPDATE: apply the SET assignments to the rows
    * matching `predicate`, rewriting only the files that can contain a
    * match (as [[delete]]). SQL UPDATE semantics throughout: every SET
    * right-hand side evaluates against the OLD row (so `SET a = b, b = a`
    * swaps), a NULL predicate leaves the row untouched, and assignments
    * must target existing columns (evolution goes through merge).
    * Pre/post images persist as change rows. Rows of a touched file that
    * don't match are rewritten verbatim; updating a hive partition column
    * re-lands each row in its new k=v dir.
    */
  def update(
      spark: SparkSession,
      root: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      statsCols: Seq[String] = Nil): Long = {
    require(set.nonEmpty, "txlog: UPDATE needs at least one SET assignment")
    rewriteDml(spark, root, predicate, set, statsCols)
  }

  /** The copy-on-write DML skeleton behind [[delete]] (`set` empty) and
    * [[update]], a serializable read-modify-write like merge: candidates
    * by plan-time pruning (no job; none is a no-op), the NULL-safe hit
    * `coalesce(predicate, false)`, then two write jobs with no persist and
    * no count pass — the change rows, and the commit of the survivors or
    * of the candidates with the SET values applied to the hits (each
    * read against the OLD row: one projection), every other file carried
    * by reference.
    */
  private def rewriteDml(spark: SparkSession, root: String, predicate: Column,
      set: Map[String, Column], statsCols: Seq[String]): Long = {
    val op = if (set.isEmpty) "DELETE" else "UPDATE"
    readModifyWrite(root, op.toLowerCase) { (base, r) =>
      val touched = candidateEntries(spark, root, r, predicate)
      if (touched.isEmpty) base // provably no matching row anywhere: no-op
      else {
        val old = TxLogFileIndex.read(spark, root, r.copy(entries = touched))
        val dataCols = old.columns.toSeq
        requireSetTargets(set, dataCols)
        val hit = org.apache.spark.sql.functions.coalesce(predicate, lit(false))
        val cdfDir = writeDmlChanges(root, r, old.filter(hit), dataCols, set)
        commit(spark, root,
          if (set.isEmpty) old.filter(!hit)
          else old.select(dataCols.map(c =>
            set.get(c).fold(named(c))(e => when(hit, e).otherwise(named(c)).as(c))): _*),
          Overwrite, statsCols = statsCols, carry = r.entries.diff(touched),
          carrySchema = r.schema, expectHead = Some(base), cdf = Some(cdfDir),
          partitionBy = layoutOf(root, r), op = Some(op))
      }
    }
  }

  private def requireSetTargets(set: Map[String, Column], dataCols: Seq[String]): Unit =
    require(set.keySet.subsetOf(dataCols.toSet), "txlog: UPDATE SET targets " +
      s"unknown columns ${(set.keySet -- dataCols).mkString(", ")}")

  /** One write job: the change rows of a DML's matched rows `hits` — a
    * `delete` row each, or with `set` an update pre- and post-image.
    * Returns the new `_change_data` dir name.
    */
  private def writeDmlChanges(root: String, r: Replay, hits: DataFrame,
      dataCols: Seq[String], set: Map[String, Column]): String = {
    val old = hits.select(dataCols.map(named): _*)
    val changes =
      if (set.isEmpty) old.withColumn("_change_type", lit("delete"))
      else old.withColumn("_change_type", lit("update_preimage")).unionByName(
        postImages(hits, dataCols, set).withColumn("_change_type", lit("update_postimage")))
    val cdfDir = s"txn-${java.util.UUID.randomUUID().toString.take(12)}"
    toPhysical(changes, r).write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$root/_change_data/$cdfDir")
    cdfDir
  }

  /** `dataCols` of `hits` with each SET value applied to the OLD row. */
  private def postImages(
      hits: DataFrame, dataCols: Seq[String], set: Map[String, Column]): DataFrame =
    hits.select(dataCols.map(c => set.get(c).fold(named(c))(_.as(c))): _*)

  /** The column named exactly `c`: `col` would parse `a.b` as a path. */
  private def named(c: String): Column = org.apache.spark.sql.GraftColumnBridge.column(
    org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(c)))

  /** Merge-on-read DELETE via deletion vectors: instead of rewriting
    * every file that holds a matching row ([[delete]]'s copy-on-write,
    * O(touched data)), write only the matched rows' PHYSICAL POSITIONS
    * — `(file, row_index)` pairs under `_dv/` — and re-reference every
    * data file untouched, the matched ones with a deletion-vector ref
    * appended to their manifest entry. Readers subtract the positions
    * with one broadcast anti-join above the scan (Delta's deletion
    * vectors / Iceberg's positional deletes). Commit cost is O(matched
    * rows): deleting 0.1% of a 100 TB table writes megabytes, not the
    * terabytes copy-on-write would — the difference between a routine
    * GDPR pass and a weekend job. The trade is read-side: each read pays
    * the (broadcast, position-only) anti-join until a rewrite op
    * (compact / optimize / merge touching the file) materializes the
    * deletes — rewrites read through the DV-applied view, so their
    * output files drop the refs naturally and carried files keep theirs.
    *
    * Deleted rows persist to `_change_data/` tagged `delete`, so the
    * typed CDF reads through this commit identically to a copy-on-write
    * delete. Zone maps and blooms of a DV-bearing file stay valid
    * (conservative: they may keep a file whose matches are all deleted —
    * never the reverse). NULL predicate rows are not deleted (SQL
    * DELETE semantics). See [[vectorDml]] for the jobs it runs.
    */
  def deleteVectors(
      spark: SparkSession,
      root: String,
      predicate: org.apache.spark.sql.Column): Long =
    vectorDml(spark, root, predicate, Map.empty, Nil)

  /** Merge-on-read UPDATE: the old row images become deletion-vector
    * positions (no data file rewritten) and the post-images land as new
    * files in the same commit — write cost O(matched rows), where
    * [[update]]'s copy-on-write rewrites every row of every touched
    * file. Same SQL semantics as [[update]]: every SET right-hand side
    * evaluates against the OLD row (`SET a = b, b = a` swaps), a NULL
    * predicate leaves the row untouched, assignments must target
    * existing columns. Pre/post images persist to the typed change feed
    * identically to the copy-on-write path; CHECK constraints validate
    * the post-images (the commit's read-back covers exactly the new
    * rows); updating a hive partition column re-lands each post-image
    * row in its new k=v dir. Matched-position bookkeeping is
    * [[deleteVectors]]'s ([[vectorDml]]), so composition, rewrite
    * materialization, vacuum lifetime, and clone resolution all hold.
    */
  def updateVectors(
      spark: SparkSession,
      root: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      statsCols: Seq[String] = Nil): Long = {
    require(set.nonEmpty, "txlog: UPDATE needs at least one SET assignment")
    vectorDml(spark, root, predicate, set, statsCols)
  }

  /** The deletion-vector DML skeleton: a DELETE when `set` is empty, an
    * UPDATE otherwise. Serializable read-modify-write like merge.
    *
    *  1. Candidates: the files plan-time pruning keeps for `predicate`
    *     (zone maps and partition dirs, no job, as [[delete]]'s); none
    *     is a no-op.
    *  2. Matched rows: the candidates' CURRENT DV-applied view (so a
    *     twice-deleted row is neither re-reported to the change feed nor
    *     double-counted), filtered by `predicate`, each row tagged with
    *     its physical position (`_metadata.row_index`, stable because
    *     data files are immutable) and its file's MANIFEST path, looked
    *     up by exact txn tail in a literal map (relative, external and
    *     URI forms share the tail; [[TxLogFileIndex.readTagged]] refuses
    *     colliding tails). The rows are persisted once.
    *  3. ONE pass over the persisted rows fills the cache and counts
    *     the matches per file — the per-file deleted counts keep
    *     metadata-only COUNT(*) exact (see rowCount). No match: nothing
    *     is written and the head is returned.
    *  4. From the cache: the positions (`_dv/txn-*`, columns `p`, `pos`)
    *     and the change rows (`delete`, or update pre- and post-images),
    *     one write job each; an UPDATE commits the post-images as a
    *     third.
    */
  private def vectorDml(
      spark: SparkSession,
      root: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      statsCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{coalesce, element_at, typedLit}
    import TxLogFileIndex.{FpCol, PosCol}
    val op = if (set.isEmpty) "DELETE VECTORS" else "UPDATE VECTORS"
    readModifyWrite(root, op) { (base, r) =>
      val touched = candidateEntries(spark, root, r, predicate)
      if (touched.isEmpty) base // provably no matching row anywhere: no-op
      else {
        val tagged = TxLogFileIndex.readTagged(spark, root,
          r.copy(entries = touched))
        val dataCols = tagged.columns.toSeq.filterNot(c => c == FpCol || c == PosCol)
        requireSetTargets(set, dataCols)
        val manifestPath = typedLit(touched.map(e =>
          TxLogFileIndex.pathTail(e.path) -> e.path).toMap)
        val matched = tagged.filter(coalesce(predicate, lit(false)))
          .withColumn(FpCol, element_at(manifestPath,
            TxLogFileIndex.pathTailCol(col(FpCol))))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val hits: Map[String, Long] = matched.select(FpCol).queryExecution.toRdd
            .mapPartitions { rows =>
              val n = scala.collection.mutable.HashMap.empty[String, Long]
              rows.foreach { row =>
                require(!row.isNullAt(0), "txlog: a matched row's file is not a candidate entry")
                val p = row.getUTF8String(0).toString
                n(p) = n.getOrElse(p, 0L) + 1L
              }
              n.iterator
            }.collect().groupMapReduce(_._1)(_._2)(_ + _)
          if (hits.isEmpty) base
          else {
            val dvDir = s"_dv/txn-${java.util.UUID.randomUUID().toString.take(12)}"
            matched.select(col(FpCol).as("p"), col(PosCol).as("pos"))
              .write.mode(SaveMode.ErrorIfExists).parquet(s"$root/$dvDir")
            val cdfDir = writeDmlChanges(root, r, matched, dataCols, set)
            val entries = r.entries.map(e => hits.get(e.path) match {
              case Some(n) => e.copy(dvs = e.dvs :+ dvDir, dvRows = e.dvRows + n)
              case None    => e
            })
            // record the vector's byte size in the manifest, so readers
            // size the broadcast-vs-shuffle decision from the log alone
            val dvb = Map(dvDir -> store(root).walk(s"$root/$dvDir").iterator.map(_.size).sum)
            if (set.isEmpty)
              publish(root, entries, Overwrite, txnId = None,
                recorded = r.schema, expectHead = Some(base),
                txn = java.util.UUID.randomUUID().toString.take(12),
                cdf = Some(cdfDir), partitionBy = layoutOf(root, r),
                op = Some(op), dvb = dvb, touched = hits.keySet,
                rebaseDvTouched = Some(hits.keySet))
            else
              commit(spark, root, postImages(matched, dataCols, set), Overwrite,
                statsCols = statsCols, carry = entries, carrySchema = r.schema,
                expectHead = Some(base), cdf = Some(cdfDir),
                partitionBy = layoutOf(root, r), op = Some(op),
                dvb = dvb, touched = hits.keySet,
                rebaseDvTouched = Some(hits.keySet))
          }
        } finally matched.unpersist()
      }
    }
  }

  private object Conjuncts extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {
    def of(e: org.apache.spark.sql.catalyst.expressions.Expression) = splitConjunctivePredicates(e)
  }

  /** Plan-time candidate selection for predicate-driven rewrites
    * (delete/update): run the predicate's optimized conjuncts through
    * the snapshot's own index pruning — zone maps AND partition dirs —
    * with zero jobs and zero footer reads, returning the entries that
    * could hold a matching row. Only conjuncts over the snapshot's own
    * columns count: a filter inside a subquery's plan (`s.k > 100` in
    * `k IN (SELECT …)`) says nothing about this table's files.
    */
  private def candidateEntries(
      spark: SparkSession,
      root: String,
      r: Replay,
      predicate: org.apache.spark.sql.Column): Vector[Entry] = {
    // a live set spanning partition-layout GENERATIONS (mid-evolution)
    // reads as a union of scans — plan-time pruning below assumes one
    // index, so fall back to "every file is a candidate" (conservative,
    // correct; the state is transitional until a compact migrates it)
    if (r.entries.map(e => TxLogFileIndex.layoutOfPath(e.path)).distinct.size != 1)
      return r.entries
    val snap = TxLogFileIndex.read(spark, root, r)
    val target = TxLogFileIndex.relationOf(snap)
    val index = TxLogFileIndex.of(snap)
    val conjuncts = snap.filter(predicate).queryExecution.optimizedPlan
      .collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          Conjuncts.of(f.condition)
      }.flatten
      .filter(e => e.references.subsetOf(target.outputSet) &&
        !org.apache.spark.sql.catalyst.expressions.SubqueryExpression.hasSubquery(e))
    val partCols = index.partitionSchema.fieldNames.toSet
    val (pf, df) = conjuncts.partition(e =>
      e.references.nonEmpty && e.references.forall(a => partCols(a.name)))
    index.listFiles(pf, df)
    val kept = index.lastListed.toSet
    r.entries.filter(e =>
      kept(TxLogFileIndex.canonKey(absPath(root, e.path))))
  }

  /** OPTIMIZE ZORDER: rewrite the live set clustered along the Morton
    * curve of TWO columns, committing per-file zone maps on both — each
    * file then covers a small rectangle of the (a, b) plane, so range
    * predicates on EITHER column prune (a 1-D sort makes the second
    * column's zone maps useless; see [[graft.io.ZOrder]]). The Delta
    * `OPTIMIZE ... ZORDER BY (a, b)` command as a first-class API; q642
    * proves the pruning shape on a manually laid-out commit, this makes
    * the layout a one-call maintenance op. Empty-delta (cdf = "") like
    * optimize, so subscribers read through it.
    */
  def optimizeZOrder(
      spark: SparkSession,
      root: String,
      targetFiles: Int,
      colA: String,
      colB: String,
      bits: Int = 8): Long =
    readModifyWrite(root, "optimizeZOrder") { (base, r) =>
      require(r.entries.nonEmpty || r.schema.nonEmpty,
        s"txlog: optimize of $root found no files")
      val cur = TxLogFileIndex.read(spark, root, r)
      val zv = ZOrder.zvalue(cur, colA, colB, bits)
      val laid = cur.repartitionByRange(targetFiles, zv).sortWithinPartitions(zv)
      commit(spark, root, laid, Overwrite,
        statsCols = Seq(colA, colB), expectHead = Some(base),
        cdf = Some(""), partitionBy = layoutOf(root, r),
        rebaseAppends = true, op = Some("OPTIMIZE ZORDER"),
        cluster = Some(Seq(colA, colB)))
    }

  /** File-selective compaction: rewrite ONLY the live files smaller than
    * `smallBytes`, carrying every full-size file (and its zone maps) by
    * reference — [[merge]]'s carry mechanism pointed at the small-file
    * backlog. [[optimize]] stays the full re-layout (global re-sort /
    * re-cluster); this is the routine maintenance op, because at 100 TB
    * an all-table rewrite is an O(table) write nobody schedules, while
    * compaction cost must be proportional to the backlog the appends
    * actually created. Entries without a manifest-carried size are
    * conservatively treated as small (legacy chains). Content-preserving,
    * so the commit carries an empty change-data marker and the CDF reads
    * straight through it. Serializable read-modify-write like merge and
    * optimize. Returns the committed version — or the current head,
    * untouched, when fewer than two files qualify.
    */
  /** Incremental clustered compaction: [[compact]]'s file-selectivity
    * composed with [[optimizeZOrder]]'s layout — ONLY the small-file
    * backlog rewrites, laid out along the Morton curve of `(colA, colB)`
    * with fresh 2-D zone maps, while every full-size file (typically the
    * output of earlier clustered compactions, zone maps intact) is
    * carried by reference. This is the maintenance loop a continuously
    * ingested 100 TB table actually runs: a full OPTIMIZE ZORDER is an
    * O(table) rewrite nobody schedules, while the append backlog must
    * keep joining the clustered layout incrementally (the gap Delta's
    * liquid clustering exists to close; this is that idea at txlog
    * size). Each incremental pass covers only its backlog's value range
    * — global clustering quality converges over passes rather than being
    * perfect per pass, the documented trade. Serializable
    * read-modify-write; content-preserving (`cdf = ""`), so change-feed
    * subscribers read straight through it. Returns the committed
    * version, or the head untouched when fewer than two files qualify.
    */
  def compactZOrder(
      spark: SparkSession,
      root: String,
      colA: String,
      colB: String,
      smallBytes: Long = 64L * 1024 * 1024,
      bits: Int = 8,
      statsCols: Seq[String] = Nil): Long =
    readModifyWrite(root, "compactZOrder") { (base, r) =>
      val (small, big) = r.entries.partition(_.bytes.forall(_ < smallBytes))
      if (small.size <= 1) base // nothing worth rewriting: no-op
      else {
        val totalSmall = math.max(small.flatMap(_.bytes).sum, 1L)
        val nOut = math.max(1L, (totalSmall + smallBytes - 1) / smallBytes).toInt
        val backlog = TxLogFileIndex.read(spark, root, r.copy(entries = small))
        val zv = ZOrder.zvalue(backlog, colA, colB, bits)
        commit(spark, root,
          backlog.repartitionByRange(nOut, zv).sortWithinPartitions(zv),
          // the cluster keys always get zone maps; extra statsCols (e.g.
          // maintain's ledger-derived set) survive the rewrite too, so
          // routine maintenance never REGRESSES data skipping on a
          // non-key column the live files already carried stats for
          Overwrite, statsCols = (Seq(colA, colB) ++ statsCols).distinct,
          carry = big,
          carrySchema = r.schema, expectHead = Some(base), cdf = Some(""),
          partitionBy = layoutOf(root, r), rebaseAppends = true,
          op = Some("COMPACT ZORDER"),
          // every clustered pass records its keys, so the maintenance
          // loop is self-describing from then on (see clusterKeysOf)
          cluster = Some(Seq(colA, colB)))
      }
    }

  /** Declare (or CHANGE) the table's clustering keys — ONE metadata
    * commit, no rewrite (the liquid-clustering idea: the key is table
    * metadata, not a property baked into every file). Already-clustered
    * files keep their old-key zone maps — which keep pruning old-key
    * predicates exactly as before — while every subsequent keyless
    * [[compactZOrder]] pass clusters the ingest backlog by the NEW keys,
    * so the layout converges generation by generation without the
    * O(table) rewrite a key change classically costs.
    */
  def setClusterKeys(root: String, cols: Seq[String]): Long = {
    require(cols.size == 2,
      s"txlog: clustering is 2-D (Morton curve) — got ${cols.size} keys")
    readModifyWrite(root, "setClusterKeys") { (base, r) =>
      publish(root, r.entries, Overwrite, txnId = None,
        recorded = r.schema, expectHead = Some(base),
        txn = java.util.UUID.randomUUID().toString.take(12),
        cdf = Some(""), partitionBy = layoutOf(root, r),
        op = Some("SET CLUSTER"), cluster = Some(cols))
    }
  }

  /** The table's recorded clustering keys (empty when never declared). */
  def clusterKeysOf(root: String): Seq[String] =
    if (headVersion(root) == 0L) Nil
    else replay(root, headVersion(root)).clusterBy

  /** Keyless incremental clustered compaction: the keys come from the
    * LOG (recorded by [[setClusterKeys]] or a previous keyed pass), so
    * the routine maintenance job needs zero configuration and
    * automatically follows a key change.
    */
  def compactZOrder(
      spark: SparkSession,
      root: String,
      smallBytes: Long): Long = {
    val keys = clusterKeysOf(root)
    require(keys.size == 2,
      s"txlog: $root has no recorded clustering keys — declare them with " +
        "setClusterKeys or run a keyed compactZOrder/optimizeZOrder once")
    compactZOrder(spark, root, keys.head, keys(1), smallBytes)
  }

  def compactZOrder(spark: SparkSession, root: String): Long =
    compactZOrder(spark, root, 64L * 1024 * 1024)

  /** DV PURGE: rewrite ONLY the files whose deleted fraction
    * `dvRows / rows` exceeds `threshold`, materializing their deletion
    * vectors; every other file — including lightly-deleted ones — is
    * carried by reference, refs intact. This is the maintenance op the
    * merge-on-read trade requires: a large file that is 90% deleted
    * never qualifies for the small-file COMPACT backlog, so without a
    * deleted-fraction selector it pays its read-side anti-join forever.
    * Cost is O(selected live rows); a file with unknown row counts but
    * live DV refs is conservatively selected. Content-preserving
    * (`cdf = ""`) and append-rebase-safe like compact, so it survives
    * racing ingest without recompute. Returns the committed version, or
    * the head untouched when nothing crosses the threshold.
    */
  def purge(
      spark: SparkSession,
      root: String,
      threshold: Double = 0.3,
      statsCols: Seq[String] = Nil,
      targetBytes: Long = 64L * 1024 * 1024): Long =
    readModifyWrite(root, "purge") { (base, r) =>
      val (hot, cold) = r.entries.partition(e => e.dvs.nonEmpty &&
        (e.rows match {
          case Some(n) if n > 0L => e.dvRows.toDouble / n > threshold
          case _                 => true // unknown counts + live refs: rewrite
        }))
      if (hot.isEmpty) base
      else {
        // read the selected files DV-APPLIED (the index subtracts the
        // positions), sized to the surviving fraction
        val liveBytes = hot.iterator.map { e =>
          val b = e.bytes.getOrElse(targetBytes)
          e.rows match {
            case Some(n) if n > 0L => (b * (n - e.dvRows).toDouble / n).toLong
            case _                 => b
          }
        }.sum
        val nOut = math.max(1L, (liveBytes + targetBytes - 1) / targetBytes).toInt
        val rewritten = TxLogFileIndex
          .read(spark, root, r.copy(entries = hot))
          .repartition(nOut)
        commit(spark, root, rewritten, Overwrite,
          statsCols = statsCols, carry = cold, carrySchema = r.schema,
          expectHead = Some(base), cdf = Some(""),
          partitionBy = layoutOf(root, r), rebaseAppends = true,
          op = Some("PURGE"))
      }
    }

  def compact(
      spark: SparkSession,
      root: String,
      smallBytes: Long = 64L * 1024 * 1024,
      statsCols: Seq[String] = Nil): Long =
    readModifyWrite(root, "compact") { (base, r) =>
      val (small, big) = r.entries.partition(_.bytes.forall(_ < smallBytes))
      if (small.size <= 1) base // nothing worth rewriting: no-op
      else {
        val totalSmall = math.max(small.flatMap(_.bytes).sum, 1L)
        val nOut = math.max(1L, (totalSmall + smallBytes - 1) / smallBytes).toInt
        // index-read of JUST the small entries: the recorded union schema
        // backfills evolved columns and partition values attach, so a
        // compaction of a partitioned table round-trips the layout
        val rewritten = TxLogFileIndex
          .read(spark, root, r.copy(entries = small))
          .repartition(nOut)
        commit(spark, root, rewritten, Overwrite,
          statsCols = statsCols, carry = big, carrySchema = r.schema,
          expectHead = Some(base), cdf = Some(""),
          partitionBy = layoutOf(root, r), rebaseAppends = true,
          op = Some("COMPACT"))
      }
    }

  /** Logical stats columns worth preserving across a maintenance
    * rewrite, FROM THE LOG: the distinct zone-map keys the live entries
    * already carry (physical), mapped back to logical names and
    * filtered to the current schema — so [[maintain]]'s rewrites keep
    * the data-skipping the original commits paid for, without the
    * caller re-declaring anything.
    */
  private def ledgerStatsCols(r: Replay): Seq[String] = {
    val inv = r.colMap.map(_.swap) // physical → logical
    r.entries.iterator
      .flatMap(e => e.stats.keysIterator ++ e.strStats.keysIterator)
      .toSeq.distinct
      .map(p => inv.getOrElse(p, p))
      .filter(c => r.schema.forall(_.fieldNames.contains(c)))
  }

  /** ONE-CALL maintenance policy, decided entirely from the LOG's own
    * ledger (manifest file sizes, per-file row/deleted counts, recorded
    * clustering keys) — zero data reads to DECIDE, data jobs only for
    * the rewrites it actually chooses. In dependency order:
    *
    *  1. [[purge]] when any live file's deleted fraction crosses
    *     `dvThreshold` — materializing heavy deletion vectors FIRST so
    *     the compaction below never re-carries their positions;
    *  2. [[compactZOrder]] through the log-recorded clustering keys
    *     when the table has them and ≥ 2 small files exist (a plain
    *     compact would destroy the clustering a prior zorder paid
    *     for); plain [[compact]] otherwise;
    *  3. [[vacuum]] retaining the last `retainVersions` snapshots.
    *
    * Stats columns for the rewrites come from the ledger too
    * ([[ledgerStatsCols]]): whatever zone maps the live files already
    * carry survive the rewrite. Returns the (op, result) pairs actually
    * performed; a healthy table is all-skips and ZERO Spark jobs, so
    * the operator's whole maintenance loop is `TxLog.maintain(spark,
    * root)` on a schedule — Delta's OPTIMIZE + VACUUM cron in one call.
    */
  def maintain(
      spark: SparkSession,
      root: String,
      smallBytes: Long = 64L * 1024 * 1024,
      dvThreshold: Double = 0.3,
      retainVersions: Long = 10L,
      inflightGraceMs: Long = 24L * 3600 * 1000): Seq[(String, Long)] = {
    val head0 = headVersion(root)
    if (head0 == 0L) return Nil
    val out = Seq.newBuilder[(String, Long)]
    val r0 = replay(root, head0)
    val needsPurge = r0.entries.exists(e => e.dvs.nonEmpty && (e.rows match {
      case Some(n) if n > 0L => e.dvRows.toDouble / n > dvThreshold
      case _                 => true // unknown counts + live refs: rewrite
    }))
    if (needsPurge)
      out += ("PURGE" -> purge(spark, root, dvThreshold,
        statsCols = ledgerStatsCols(r0), targetBytes = smallBytes))
    // re-resolve: the purge may have rewritten (or folded) entries
    val r1 = replay(root, headVersion(root))
    if (r1.entries.count(_.bytes.forall(_ < smallBytes)) >= 2) {
      val keys = r1.clusterBy
      if (keys.size == 2)
        out += ("ZORDER" -> compactZOrder(spark, root, keys.head, keys(1),
          smallBytes, statsCols = ledgerStatsCols(r1)))
      else
        out += ("COMPACT" -> compact(spark, root, smallBytes,
          statsCols = ledgerStatsCols(r1)))
    }
    val horizon = math.max(1L, headVersion(root) - retainVersions + 1)
    val reclaimed = vacuum(root, retainFrom = horizon,
      inflightGraceMs = inflightGraceMs)
    if (reclaimed > 0) out += ("VACUUM" -> reclaimed.toLong)
    out.result()
  }

  /** Snapshot read: the table as of `version` (head when None). The file
    * list is resolved ONCE here; later commits only add files this list
    * never mentions, so the returned DataFrame is a consistent snapshot no
    * matter when (or how often) it is executed.
    *
    * The read goes through [[TxLogFileIndex]], so any pushed-down range/
    * equality predicate on a zone-mapped column prunes files at PLAN time
    * — `snapshot(...).filter($"d".between(31, 58))` opens only the files
    * whose manifest stats can match, without the caller knowing a
    * special range API exists (the way Delta/Iceberg surface data
    * skipping). Schema: the union of all live files' schemas (parquet
    * mergeSchema), so additive evolution reads with nulls backfilled and
    * time travel below the evolution sees only the old columns.
    */
  def snapshot(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(headVersion(root))
    val r = replay(root, v)
    // a version whose commits left no file still has a recorded schema
    require(r.files.nonEmpty || r.schema.nonEmpty,
      s"txlog: snapshot v$v of $root lists no files")
    TxLogFileIndex.read(spark, root, r)
  }

  /** Range read with data skipping — [[snapshot]] + a between filter.
    * Kept as an explicit API for callers that want the pruning stated in
    * the code (and for pre-round-8 call sites); the plain snapshot path
    * now prunes identically through [[TxLogFileIndex]]. The residual
    * filter still applies (zone maps prune files, they don't evaluate
    * predicates); files committed WITHOUT `col` stats are conservatively
    * always read.
    *
    * The filter column is cast to long FIRST — the legacy contract: a
    * non-integral column truncates toward zero before the bound check
    * (a double 58.9 is kept by between(31, 58)). Pruning is unaffected:
    * zone maps exist only for integral columns, where the upcast is
    * value-preserving and [[TxLogFileIndex.mayMatch]] unwraps it.
    */
  def snapshotRange(
      spark: SparkSession,
      root: String,
      col: String,
      lo: Long,
      hi: Long,
      version: Option[Long] = None): DataFrame =
    snapshot(spark, root, version)
      .filter(org.apache.spark.sql.functions.col(col).cast("long").between(lo, hi))

  /** The file list a `[lo, hi]` range read of `col` opens — exposed so
    * specs can assert the PRUNING, not just the result.
    */
  def prunedFiles(root: String, v: Long, col: String, lo: Long, hi: Long): Seq[String] = {
    val r = replay(root, v)
    r.files.filter { p =>
      r.stats.get(p).flatMap(_.get(col)) match {
        case Some((flo, fhi)) => fhi >= lo && flo <= hi
        case None             => true // no zone map for col: cannot skip
      }
    }.map(p => absPath(root, p))
  }

  /** Change-data-feed read: the row-level delta between `from`
    * (exclusive) and `to` (inclusive), each row tagged with the
    * `_commit_version` that landed it — the incremental-consumer
    * subscription surface (`snapshot(to) ≡ snapshot(from) ∪
    * changes(from, to)` for an append-only range; TxLogSpec proves it,
    * and TxLogCdfSpec proves the typed equivalent ACROSS a merge).
    *
    * Rewrite commits in range, by kind:
    *   - empty-delta rewrites (optimize/compact mark `"cdf":""`):
    *     contribute nothing and the read passes through — a compaction
    *     must never kill a subscriber;
    *   - merges persist their delta under `_change_data/` at commit time
    *     (the one moment it is computable); with `withChangeType = true`
    *     those rows flow tagged `update_preimage` / `update_postimage` /
    *     `insert` (appends tag `insert`), Delta's CDF row types;
    *   - rewrites with NO recorded delta (plain overwrite, restore,
    *     legacy manifests) refuse unless `skipRewrites` (Delta's
    *     skipChangeCommits: the subscriber knowingly misses them), since
    *     silently returning rewritten files would double-count.
    * A merge in range without `withChangeType` also refuses — its delta
    * includes updates a plain "appended rows" reader would misapply.
    *
    * Cost: the manifests in (from, to] plus ONLY the appended/change
    * files — independent of table size, which is what makes a 100 TB
    * table subscribable.
    */
  def changes(
      spark: SparkSession,
      root: String,
      from: Long,
      to: Long,
      skipRewrites: Boolean = false,
      withChangeType: Boolean = false): DataFrame = {
    require(from <= to, s"txlog: changes range v$from..v$to is inverted")
    val head = headVersion(root)
    require(to <= head, s"txlog: changes upper bound v$to exceeds head v$head")
    import scala.jdk.CollectionConverters._
    val perVersion: Seq[(Long, Seq[String])] = ((from + 1) to to).flatMap { v =>
      val m = readVersion(root, v)
      val action = m.action
      if (action == Append.name) Some(v -> m.files.map(_.path))
      else (m.cdf, skipRewrites) match {
        case (Some(""), _) => None // content-preserving rewrite: empty delta
        case (_, true)     => None // subscriber opted out of rewrite effects
        case (Some(dir), _) if withChangeType =>
          val fs = store(root).list(s"$root/_change_data/$dir")
            .filter(_.endsWith(".parquet"))
            .map(n => s"_change_data/$dir/$n")
          Some(v -> fs)
        case (Some(_), _) => throw new IllegalArgumentException(
          s"txlog: changes(v$from, v$to) crosses a $action at v$v that " +
            "persisted change data — read it with withChangeType = true " +
            "(or skipRewrites = true to ignore it)")
        case (None, _) => throw new IllegalArgumentException(
          s"txlog: changes(v$from, v$to) crosses a $action at v$v — " +
            "row-level deltas don't exist across a rewrite; diff snapshots instead")
      }
    }
    val nonEmpty = perVersion.filter(_._2.nonEmpty)
    val tagged =
      if (nonEmpty.isEmpty) // empty range: the table's schema + tags, zero rows
        snapshot(spark, root, Some(to)).filter(lit(false))
          .withColumn("_commit_version", lit(from))
      else {
        // ONE scan over all appended/change files, the version derived
        // map-side from each file's txn-dir component (every commit and
        // every change set writes under its own uuid dir) — a per-version
        // read unioned N times would bloat the plan linearly with the
        // catch-up range
        import org.apache.spark.sql.functions.{coalesce, element_at, regexp_extract}
        val all = nonEmpty.flatMap(_._2).map(f => literalPath(s"$root/$f"))
        val dirToV = nonEmpty.flatMap { case (v, fs) =>
          fs.map(f => f.split("/")(1) -> v)
        }.distinct
        val mapCol = org.apache.spark.sql.functions.map(
          dirToV.flatMap { case (d, v) => Seq(lit(d), lit(v)) }: _*)
        val scanned = spark.read.option("mergeSchema", "true").parquet(all: _*)
          .withColumn("_commit_version",
            element_at(mapCol, regexp_extract(input_file_name(), "/(txn-[^/]+)/", 1)))
        // hive-partitioned tables keep partition values in k=v DIRS, not
        // in the leaf files this one-scan read lists — re-derive them
        // from the path (change files carry the full row, so coalesce)
        val rp = replay(root, to)
        val withParts = rp.partitionBy.getOrElse(Nil).foldLeft(scanned) { (df, c) =>
          val dt = rp.schema.flatMap(_.fields.find(_.name == c))
            .map(_.dataType)
            .getOrElse(org.apache.spark.sql.types.StringType)
          // the k=v DIRECTORIES carry the PHYSICAL name (a renamed
          // partition column's declaration is logical, its dirs are
          // not) — extract physical, create the column physical, and
          // let the mapped-table select below surface it logical
          val physC = rp.colMap.getOrElse(c, c)
          val raw = regexp_extract(input_file_name(),
            "/" + java.util.regex.Pattern.quote(physC) + "=([^/]+)/", 1)
          val typed = when(raw === "", lit(null)).otherwise(raw).cast(dt)
          if (df.columns.contains(physC))
            df.withColumn(physC, coalesce(col(physC), typed))
          else df.withColumn(physC, typed)
        }
        // mapped tables' data + change files carry PHYSICAL names —
        // surface the logical schema as of `to` (a pre-rename file's
        // column flows out under its post-rename name, Delta's CDF
        // column-mapping behavior)
        val inv = rp.colMap.map(_.swap)
        if (inv.isEmpty) withParts
        else withParts.select(withParts.columns.toSeq.map(c =>
          col(c).as(inv.getOrElse(c, c))): _*)
      }
    if (!withChangeType) tagged
    else {
      // append files carry no _change_type column: they ARE inserts
      val typed =
        if (tagged.columns.contains("_change_type"))
          tagged.withColumn("_change_type",
            org.apache.spark.sql.functions.coalesce(
              col("_change_type"), lit("insert")))
        else tagged.withColumn("_change_type", lit("insert"))
      // pin the tag columns last, data columns in table order first
      val dataCols = typed.columns.toSeq
        .filterNot(c => c == "_change_type" || c == "_commit_version")
      typed.select((dataCols.map(col) :+ col("_change_type") :+
        col("_commit_version")): _*)
    }
  }

  /** Commit history as a DataFrame — the audit surface (DESCRIBE HISTORY). */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    versions(root).map { v =>
      val m = readVersion(root, v)
      (v, m.action, m.op.getOrElse(m.action.toUpperCase),
        m.files.size.toLong, m.ts.getOrElse(0L))
    }.toDF("version", "action", "operation", "n_files", "commit_ts")
  }

  /** One-row table summary — the DESCRIBE DETAIL surface: head version,
    * live file count, manifest-carried total bytes, the declared
    * partition layout, and the recorded column count (zero jobs — every
    * number comes from the checkpoint-bounded replay).
    */
  def detail(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val head = headVersion(root)
    val r = replay(root, head)
    // n_rows: the metadata-only ledger, -1 when any entry predates
    // counting (same degradation contract as rowCount)
    val nRows =
      if (r.entries.isEmpty || r.entries.exists(_.rows.isEmpty)) -1L
      else r.entries.iterator.map(e => e.rows.get - e.dvRows).sum
    Seq((head, r.entries.size.toLong, r.entries.flatMap(_.bytes).sum,
      r.partitionBy.map(_.mkString(",")).getOrElse("MIXED"),
      r.schema.map(_.fields.length.toLong).getOrElse(-1L),
      nRows,
      r.entries.count(_.dvs.nonEmpty).toLong,
      r.entries.iterator.map(_.dvRows).sum,
      r.constraints.size.toLong,
      r.entries.iterator.flatMap(_.blooms.keys).toSet.size.toLong))
      .toDF("version", "n_files", "total_bytes", "partition_by", "n_columns",
        "n_rows", "n_dv_files", "n_deleted_rows", "n_constraints",
        "n_bloom_cols")
  }

  /** The newest version whose commit timestamp is ≤ `tsMillis` —
    * resolved by binary search over the dense version range, O(log V)
    * manifest reads (commit timestamps are monotone up to clock skew
    * between writers, the Delta caveat; a pre-round-9 manifest without a
    * timestamp reads as 0 = always eligible). Refuses a timestamp before
    * the first commit.
    */
  def versionAsOf(root: String, tsMillis: Long): Long = {
    val head = headVersion(root)
    require(head >= 1, s"txlog: $root has no committed version yet")
    def ts(v: Long): Long = readVersion(root, v).ts.getOrElse(0L)
    require(ts(1L) <= tsMillis,
      s"txlog: no version of $root exists at or before timestamp $tsMillis")
    var lo = 1L; var hi = head
    while (lo < hi) { // invariant: ts(lo) <= tsMillis
      val mid = lo + (hi - lo + 1) / 2
      if (ts(mid) <= tsMillis) lo = mid else hi = mid - 1
    }
    lo
  }

  /** TIMESTAMP AS OF: the snapshot at [[versionAsOf]] `tsMillis`. */
  def snapshotAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    snapshot(spark, root, Some(versionAsOf(root, tsMillis)))

  /** Garbage-collect data files no snapshot ≥ `retainFrom` can reach:
    * aborted-commit residue (data dirs whose manifest never published) and
    * files dropped by an overwrite at or before the retention horizon.
    * Time travel BELOW `retainFrom` stops working afterwards — the same
    * contract as Delta's VACUUM retention window, and why the default
    * retains everything (`retainFrom = 1`).
    *
    * Safe under concurrent readers of retained versions (their files are
    * kept) AND under concurrent committers, by two ordered checks:
    * every commit brackets its data-write → manifest-link window with an
    * in-flight marker (`_txlog/inflight/txn-*`), and vacuum re-lists the
    * markers AFTER listing the data dirs — a commit's marker exists
    * before its data dir does, so any dir vacuum can see either has a
    * visible marker in one of the two scans or has already published its
    * manifest, and the head is re-read after the second scan to fold
    * such just-published commits into the keep-set (round 8 scanned
    * markers once, before the slow keep-set replay: a commit starting in
    * that window could lose its files — the TOCTOU the second scan
    * closes). A crashed committer's marker goes stale after
    * `inflightGraceMs` and its files become ordinary garbage (markers
    * are GC'd with them) — Delta VACUUM's file-age double-check.
    *
    * Cost: the keep-set is ONE forward replay — a checkpoint-bounded
    * resolve at the horizon, then one manifest read per later version,
    * accumulating the union of retained live sets as it rolls (round 8
    * replayed per retained version: O(versions · CheckpointEvery)
    * manifest reads; TxLogScaleSpec counts the bound).
    *
    * @return number of data files deleted
    */
  def vacuum(
      root: String,
      retainFrom: Long = 1L,
      inflightGraceMs: Long = 24L * 3600 * 1000,
      dryRun: Boolean = false): Int = {
    val vs = versions(root)
    if (vs.isEmpty) return 0
    val s = store(root)
    // txn dirs currently inside a commit window: skip them wholesale
    val now = System.currentTimeMillis()
    def listInflight(gcStale: Boolean): Set[String] =
      s.list(inflightDir(root)).flatMap { n =>
        val m = s"${inflightDir(root)}/$n"
        val fresh = try now - s.mtimeMillis(m) < inflightGraceMs
        catch { case scala.util.control.NonFatal(_) => false }
        if (fresh) Some(n)
        else if (gcStale) {
          try s.delete(m) catch { case scala.util.control.NonFatal(_) => () }; None
        } else None
      }.toSet
    // dryRun previews the reclaim count with ZERO filesystem mutation
    // (Delta's VACUUM DRY RUN) — the operator's what-if before committing
    // to a retention horizon; stale-marker GC is a mutation too, so it
    // is equally gated
    val inflight1 = listInflight(gcStale = !dryRun)
    // clamp the horizon to the head: retainFrom > headVersion would
    // otherwise produce an EMPTY keep-set and delete the current
    // snapshot's own files — Delta's VACUUM never deletes current-head
    // files no matter the retention window, and neither does this
    val horizon = math.min(retainFrom, vs.last)
    // every file any retained snapshot lists, in ONE forward pass: the
    // horizon's live set (checkpoint-bounded), then roll version by
    // version, folding each intermediate live set into the union
    val horizonReplay = replay(root, horizon)
    var cur: Set[String] = horizonReplay.files.map(f => absPath(root, f)).toSet
    var keep: Set[String] = cur
    // change-data dirs any retained changes() read can still reference
    var keepCdf: Set[String] =
      if (horizon >= 1) readVersion(root, horizon).cdf.toSet - "" else Set.empty
    // deletion-vector dirs any retained snapshot still subtracts
    var keepDv: Set[String] = horizonReplay.entries.iterator.flatMap(_.dvs).toSet
    def roll(fromV: Long, toV: Long): Unit = (fromV to toV).foreach { v =>
      val m = readVersion(root, v)
      val fs = m.files.map(e => absPath(root, e.path)).toSet
      cur = if (m.action == Overwrite.name) fs else cur ++ fs
      keep ++= cur
      keepCdf ++= m.cdf.toSet - ""
      keepDv ++= m.files.iterator.flatMap(_.dvs)
    }
    var upper = vs.last
    roll(horizon + 1, upper)
    val dataRoot = s"$root/data"
    if (!s.isDir(dataRoot)) return 0
    var deleted = 0
    val dirs = s.list(dataRoot)
    // TOCTOU closure, in this order: (1) data dirs listed above, (2)
    // markers re-listed — any commit whose dir we can see created its
    // marker first, so it is visible here unless it already published —
    // (3) head re-read, folding commits that published since the replay
    // into the keep-set
    val inflight = inflight1 ++ listInflight(gcStale = false)
    val h2 = headVersion(root)
    if (h2 > upper) { roll(upper + 1, h2); upper = h2 }
    dirs.foreach { d =>
      if (inflight.contains(d)) ()
      else {
        val dirPath = s"$dataRoot/$d"
        // recursive walk: a partitioned commit nests its files under k=v
        // subdirs, so a flat listing would try to delete non-empty dirs
        val all = s.walk(dirPath)
        def canonical(rel: String) = s"$dataRoot/$d/$rel"
        val anyKept = all.exists(f => keep.contains(canonical(f.relPath)))
        all.foreach { f =>
          val cp = canonical(f.relPath)
          if (f.relPath.endsWith(".parquet")) {
            if (!keep.contains(cp)) {
              if (!dryRun) s.delete(cp)
              deleted += 1
            }
          } else Bloom.sidecarOf(cp) match {
            case Some(dataPath) =>
              // a bloom sidecar lives exactly as long as its data file
              if (!keep.contains(dataPath) && !dryRun) s.delete(cp)
            case None if !anyKept =>
              // write markers (_SUCCESS, .crc) go when nothing in the dir is kept
              if (!dryRun) s.delete(cp)
            case None => ()
          }
        }
        // drop now-empty dirs bottom-up (deepest first; delete refuses a
        // non-empty dir) — a mutation, so dry runs skip it
        if (!dryRun) {
          (s.walkDirs(dirPath).map(r0 => s"$dirPath/$r0") :+ dirPath)
            .sortBy(-_.count(_ == '/'))
            .foreach(sd => try s.delete(sd) catch { case scala.util.control.NonFatal(_) => () })
        }
      }
    }
    // GC change-data dirs no retained changes() read can reference. A
    // dir younger than the grace may belong to a merge whose commit
    // window is still open (change data lands BEFORE the commit's
    // in-flight marker exists), so unreferenced change dirs are
    // age-gated exactly like crashed-committer residue
    def gcSideDirs(sub: String, keepNames: String => Boolean): Unit = {
      val dirRoot = s"$root/$sub"
      if (!s.isDir(dirRoot)) return
      s.list(dirRoot).foreach { n =>
        val d = s"$dirRoot/$n"
        val fresh = try now - s.mtimeMillis(d) < inflightGraceMs
        catch { case scala.util.control.NonFatal(_) => true }
        if (!keepNames(n) && !fresh) {
          s.walk(d).foreach(f =>
            try s.delete(s"$d/${f.relPath}") catch { case scala.util.control.NonFatal(_) => () })
          try s.delete(d) catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }
    if (!dryRun) {
      gcSideDirs("_change_data", keepCdf.contains)
      // deletion-vector dirs follow the same rule (a dv lands BEFORE its
      // commit publishes, so unreferenced young dirs may be in-window)
      gcSideDirs("_dv", n => keepDv.contains(s"_dv/$n"))
    }
    deleted
  }
}
