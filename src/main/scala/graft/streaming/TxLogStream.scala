package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.{LongType, StructType}

import graft.io.TxLog

/** Structured Streaming SOURCE over a [[TxLog]] table — the "table as a
  * stream" half of the lakehouse streaming story (the exactly-once
  * `appendOnce` foreachBatch sink is the other half; together they chain
  * txlog → transform → txlog pipelines end-to-end with no duplicate and
  * no loss, the Delta streaming-source/sink pattern at this size).
  *
  * Offsets ARE table versions: `getOffset` reports the head version and
  * each microbatch is exactly `TxLog.changes(from, to)` — the appended
  * rows of the claimed version range, tagged `_commit_version`. That
  * makes the source incremental by construction (a microbatch reads
  * ONLY the appended files — never the table) and replayable: offsets
  * live in the stream's checkpoint, and re-planning any committed range
  * re-reads the same immutable files, so recovery is deterministic.
  *
  * Rewrite handling: empty-delta rewrites (optimize/compact) pass
  * through — a compaction never kills a subscriber. A MERGE persists its
  * row-level delta; `.option("changeTypes", "true")` consumes it (rows
  * gain a `_change_type` tag: insert / update_preimage /
  * update_postimage, appends tagging insert — Delta's CDF stream). By
  * default the stream still FAILS on a delta-bearing rewrite (the reader
  * must choose a policy, Delta's stance), and
  * `.option("skipRewrites", "true")` subscribes to appends only,
  * knowingly missing rewrite effects.
  *
  * `.option("maxVersionsPerBatch", n)` bounds catch-up: after downtime
  * the backlog is chunked into microbatches of ≤ n versions instead of
  * planning one giant batch over thousands of commits (Delta's
  * maxFilesPerTrigger shape, in versions because versions ARE offsets).
  *
  * Usage:
  * {{{
  *   spark.readStream
  *     .format("graft.streaming.TxLogSourceProvider")
  *     .option("root", tableRoot)
  *     .load()
  * }}}
  */
class TxLogSourceProvider extends StreamSourceProvider {

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("graft-txlog", TxLogSource.streamSchema(parameters))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val root = parameters.getOrElse("root",
      throw new IllegalArgumentException("graft-txlog source needs .option(\"root\", ...)"))
    // startingTimestamp (epoch millis or ISO-8601 instant): subscribe to
    // commits STRICTLY AFTER the newest version at or before it —
    // resolved once at stream creation via the asOf binary search
    val startingVersion = parameters.get("startingVersion").map(_.toLong)
      .orElse(parameters.get("startingTimestamp").map { t =>
        val ms = scala.util.Try(t.toLong)
          .getOrElse(java.time.Instant.parse(t).toEpochMilli)
        TxLog.versionAsOf(root, ms)
      })
      .getOrElse(0L)
    new TxLogSource(
      sqlContext,
      root,
      startingVersion,
      parameters.get("skipRewrites").exists(_.toBoolean),
      parameters.get("changeTypes").exists(_.toBoolean),
      parameters.get("maxVersionsPerBatch").map(_.toLong),
      metadataPath,
      TxLogSource.streamSchema(parameters))
  }
}

object TxLogSource {
  /** Table schema from the LOG (manifest-recorded, checkpoint-bounded
    * replay — no footers) + the `_commit_version` tag. The table must
    * have at least one commit when the stream starts, the same
    * precondition as a Delta streaming read of a not-yet-created table.
    */
  private[streaming] def streamSchema(parameters: Map[String, String]): StructType = {
    val root = parameters.getOrElse("root",
      throw new IllegalArgumentException("graft-txlog source needs .option(\"root\", ...)"))
    val head = TxLog.headVersion(root)
    require(head > 0, s"graft-txlog source: $root has no committed version yet")
    val base = TxLog.replay(root, head).schema.getOrElse(
      throw new IllegalStateException(
        s"graft-txlog source: $root predates schema-recording manifests"))
    val withType =
      if (parameters.get("changeTypes").exists(_.toBoolean))
        base.add("_change_type", org.apache.spark.sql.types.StringType,
          nullable = false)
      else base
    withType.add("_commit_version", LongType, nullable = false)
  }

  /** Pin a batch to the stream's declared column order, backfilling
    * typed nulls for declared columns the batch lacks: a catch-up batch
    * over appends that predate an additive schema evolution reads only
    * pre-evolution files, and a bare select of the new column would kill
    * the stream at recovery.
    */
  private[streaming] def conform(batch: DataFrame, schema: StructType): DataFrame = {
    val have = batch.columns.toSet
    batch.select(schema.fields.toSeq.map { f =>
      if (have(f.name)) col(f.name)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** The v1 Source contract requires getBatch's DataFrame to carry
    * isStreaming = true; the only constructor for that is the session's
    * `private[sql] internalCreateDataFrame` (what FileStreamSource
    * itself uses), reached through
    * [[org.apache.spark.sql.GraftPlanBridge]]. The plan is the batch's
    * own physical RDD, so the data path is identical to the batch read.
    */
  private[streaming] def asStreamingFrame(batch: DataFrame): DataFrame =
    org.apache.spark.sql.GraftPlanBridge.fromRows(batch.sparkSession,
      batch.queryExecution.toRdd, batch.schema, isStreaming = true)
}

class TxLogSource(
    sqlContext: SQLContext,
    root: String,
    startingVersion: Long,
    skipRewrites: Boolean,
    changeTypes: Boolean,
    maxVersionsPerBatch: Option[Long],
    metadataPath: String,
    override val schema: StructType) extends Source {

  private val spark = sqlContext.sparkSession

  // The rate-control floor: the highest version already claimed by an
  // offer or a (recovered) batch — monotone, never beyond the head.
  // PERSISTED under the stream's own metadataPath, because a v1 source
  // cannot see the engine's committed offset at restart: a clean restart
  // would otherwise reset the floor to startingVersion and getOffset
  // could offer an offset AT OR BELOW the committed one — the engine
  // treats "available != committed" as new data, so the stream stalls
  // on equality or plans an inverted range below it. The claim is
  // written BEFORE the batch commits, so the persisted floor is always
  // ≥ the committed offset; a floor ahead of committed only makes the
  // next microbatch larger, never wrong.
  private val claimedFile =
    new org.apache.hadoop.fs.Path(metadataPath, "claimed-version")
  private lazy val metaFs =
    claimedFile.getFileSystem(spark.sessionState.newHadoopConf())
  @volatile private var claimed: Long = {
    val persisted =
      try {
        if (!metaFs.exists(claimedFile)) None
        else {
          val in = metaFs.open(claimedFile)
          try Some(in.readLong()) finally in.close()
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    math.max(startingVersion, persisted.getOrElse(startingVersion))
  }
  private def persistClaim(v: Long): Unit =
    try {
      val out = metaFs.create(claimedFile, true)
      try out.writeLong(v) finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort: worst case re-offers

  override def getOffset: Option[V1Offset] = {
    val head = TxLog.headVersion(root)
    val floor = claimed
    // bound the catch-up: offer at most maxVersionsPerBatch versions per
    // microbatch so a post-downtime backlog chunks instead of planning
    // one scan over thousands of commits
    val next = maxVersionsPerBatch
      .map(m => math.min(head, floor + math.max(1L, m)))
      .getOrElse(head)
    if (next <= floor) None
    else { claimed = next; persistClaim(next); Some(LongOffset(next)) }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val from = start.map(asVersion).getOrElse(startingVersion)
    val to = asVersion(end)
    if (to > claimed) { claimed = to; persistClaim(to) } // recovery replay
    val batch = TxLog.changes(spark, root, from, to, skipRewrites,
      withChangeType = changeTypes)
    // a declared column MISSING from the batch is either pre-evolution
    // data (the column was added after these files — backfill nulls) or
    // a RENAME/DROP that happened during the stream. The two are
    // indistinguishable from columns alone, so consult the log's schema
    // as of `to`: a declared column no longer in it was renamed/dropped —
    // null-filling it would be silent data loss, so fail loudly and let
    // the restart adopt the new schema (Delta's column-mapping stream
    // stance). Zero cost on the steady path (no missing column, no
    // replay).
    val declaredData = schema.fields.map(_.name).toSet -
      "_commit_version" - "_change_type"
    val missing = declaredData -- batch.columns.toSet
    if (missing.nonEmpty) {
      val cur = TxLog.replay(root, to).schema
      val gone = missing.filter(m => cur.exists(s => !s.fieldNames.contains(m)))
      if (gone.nonEmpty) throw new IllegalStateException(
        s"graft-txlog source: column(s) ${gone.mkString(", ")} were renamed " +
          "or dropped during the stream — restart the stream to adopt the " +
          "new schema")
    }
    TxLogSource.asStreamingFrame(TxLogSource.conform(batch, schema))
  }

  // offsets arrive as LongOffset from this source or SerializedOffset
  // from checkpoint recovery; both serialize as the bare version number
  private def asVersion(o: V1Offset): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }

  override def stop(): Unit = ()

  override def toString: String = s"TxLogSource[$root]"
}
