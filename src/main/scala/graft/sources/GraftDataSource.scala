package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.io.{TxLog, TxLogFileIndex}
import graft.streaming.{TxLogSinkProvider, TxLogSourceProvider}

/** `spark.read.format("graft")` / `df.write.format("graft")` / the
  * session catalog's `USING graft`: the transaction-log table as a
  * first-class Spark data source, registered through the standard
  * `DataSourceRegister` service file.
  *
  * Architecture: a V1 provider ON PURPOSE, after measuring the V2
  * alternative. DataSourceV2's scan builders cannot carry a custom
  * [[org.apache.spark.sql.execution.datasources.FileIndex]], and the
  * entire value of this table format at 100 TB IS its file index
  * (manifest-listed files, zone-map + bloom pruning, no LIST on read) —
  * so the scan must plan through the V1 relation path either way. Delta
  * handles this by shipping a `TableProvider` whose batch reads are
  * rewritten back to V1 relations BY ITS INJECTED ANALYZER RULE, which
  * works only because Delta mandates cluster-wide
  * `spark.sql.extensions`. In a session WITHOUT extensions (the kind a
  * driver hands a library), a `TableProvider` is strictly worse: the
  * session catalog serves its `USING graft` tables as V2 relations and
  * every `SELECT` fails `UNSUPPORTED_FEATURE.TABLE_OPERATION` ("does
  * not support batch scan") — measured on Spark 4.1.2, where
  * `V2TableWithV1Fallback` is consulted only by `DataStreamWriter`
  * (streaming), never by batch resolution. A pure V1 source keeps every
  * surface working in EVERY session: `format("graft")` reads/writes,
  * catalog tables through `FindDataSourceTable`, pruning in the user's
  * plan. SQL DML (the one statement family V1 lacks) rides the
  * [[GraftDmlExtensions]] analyzer rule — exactly where Delta needs its
  * extensions too.
  *
  * Scan planning reuses [[TxLogFileIndex]] wholesale:
  *
  *  - a snapshot with no merge-on-read state (the steady state of any
  *    maintained table) surfaces as the BARE `HadoopFsRelation` the
  *    internal read path builds — parquet pushdown, zone maps, and
  *    partition pruning sit directly in the user's plan;
  *  - a snapshot carrying deletion vectors / a column mapping / a mixed
  *    partition layout surfaces as [[GraftSnapshotRelation]], which
  *    keeps full semantics by planning the internal snapshot QUERY
  *    behind a pruned-filtered scan (pushed filters still reach the
  *    inner parquet scans and zone maps).
  *
  * Options: `versionAsOf` (long) / `timestampAsOf` (millis or ISO-8601
  * instant) select a snapshot; writes honor `SaveMode.Append` /
  * `Overwrite` / `ErrorIfExists` / `Ignore` and `partitionBy`.
  *
  * The SAME format string also serves Structured Streaming —
  * `readStream.format("graft").load(root)` (incremental per-commit
  * microbatches) and `writeStream.format("graft")` (exactly-once
  * appends) delegate to the txlog stream source/sink. And the one V1
  * hazard — Spark routing an extension-less INSERT to its destructive
  * direct-to-path command — is closed structurally: see
  * [[GraftBareRelation]].
  */
final class GraftDataSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {
  import GraftDataSource._

  override def shortName(): String = "graft"

  // ----------------------------------------------------- streaming path
  // `readStream.format("graft").load(root)` / `writeStream
  // .format("graft")...` delegate to the txlog stream source/sink, so
  // ONE format string covers batch reads, batch writes, catalog tables,
  // and both streaming halves (Delta's surface shape). The path operand
  // maps onto the providers' `root` option.

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    new TxLogSourceProvider().sourceSchema(
      sqlContext, schema, providerName, withRoot(parameters))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new TxLogSourceProvider().createSource(
      sqlContext, metadataPath, schema, providerName, withRoot(parameters))

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink =
    new TxLogSinkProvider().createSink(
      sqlContext, withRoot(parameters), partitionColumns, outputMode)

  // ---------------------------------------------------------- scan path

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val (root, version) = resolve(CaseInsensitiveMap(parameters))
    relationFor(spark, root, version, parameters)
  }

  // ------------------------------------------------------ V1 write path

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val params = CaseInsensitiveMap(parameters)
    val (root, version) = resolve(params)
    require(version.isEmpty, "graft: cannot write to a time-travel snapshot")
    val partitionBy: Seq[String] = params.get("partitionby").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty) ++
      // DataFrameWriter.partitionBy arrives as the __partition_columns
      // JSON list for V1 external sources
      params.get("__partition_columns").toSeq.flatMap(parseJsonStringArray)
    val exists = TxLog.headVersion(root) > 0L
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft: $root already exists (mode=ErrorIfExists)")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Overwrite =>
        TxLog.commit(spark, root, data, TxLog.Overwrite,
          partitionBy = partitionBy.distinct)
      case _ => // Append, or first write under any mode
        TxLog.commit(spark, root, data, TxLog.Append,
          partitionBy = partitionBy.distinct)
    }
    relationFor(spark, root, None, parameters)
  }
}

object GraftDataSource {

  /** Streaming option map: the load-path operand (or `location` from a
    * catalog table) becomes the stream providers' `root`; an explicit
    * `root` option wins.
    */
  private def withRoot(parameters: Map[String, String]): Map[String, String] = {
    val params = CaseInsensitiveMap(parameters)
    params.get("root") match {
      case Some(_) => parameters
      case None =>
        val root = params.get("path").orElse(params.get("location")).getOrElse(
          throw new IllegalArgumentException(
            "graft stream: a table path is required — " +
              "readStream.format(\"graft\").load(root)"))
        parameters + ("root" -> root)
    }
  }

  /** (root, pinned version) from reader/writer/catalog options. */
  private[graft] def resolve(
      params: CaseInsensitiveMap[String]): (String, Option[Long]) = {
    val root = params.get("path").orElse(params.get("location")).getOrElse(
      throw new IllegalArgumentException(
        "graft: a table path is required — spark.read.format(\"graft\").load(root)"))
    val byVersion = params.get("versionasof").map(_.trim.toLong)
    val byTs = params.get("timestampasof").map { raw =>
      val t = raw.trim
      val millis =
        if (t.forall(c => c.isDigit || c == '-')) t.toLong
        else java.time.Instant.parse(t).toEpochMilli
      TxLog.versionAsOf(root, millis)
    }
    require(byVersion.isEmpty || byTs.isEmpty,
      "graft: versionAsOf and timestampAsOf are mutually exclusive")
    (root, byVersion.orElse(byTs))
  }

  /** The scan relation: bare `HadoopFsRelation` when the snapshot fits
    * one, full-semantics wrapper otherwise (see class doc).
    */
  private[graft] def relationFor(
      spark: SparkSession,
      root: String,
      version: Option[Long],
      parameters: Map[String, String]): BaseRelation = {
    val v = version.getOrElse(TxLog.headVersion(root))
    val r = TxLog.replay(root, v)
    require(r.files.nonEmpty || r.schema.nonEmpty,
      s"txlog: snapshot v$v of $root lists no files")
    TxLogFileIndex.bareRelation(spark, root, r)
      .map { h =>
        val idx = h.location.asInstanceOf[TxLogFileIndex].insertGuarded
        // options = the provider parameters VERBATIM: on a catalog
        // cache hit, FindDataSourceTable compares the cached relation's
        // options against the freshly generated ones (path + storage
        // properties — exactly what this provider was handed) and, on
        // ANY mismatch, rebuilds the relation via the case-class copy —
        // which would re-instantiate the PARENT HadoopFsRelation and
        // silently drop this class's InsertableRelation. The internal
        // relation's own options (mergeSchema) are not load-bearing
        // here: the data schema is already declared, never re-inferred.
        new GraftBareRelation(spark, root, idx, h.partitionSchema,
          h.dataSchema, parameters)
      }
      .getOrElse(GraftSnapshotRelation(spark, root, v))
  }

  /** The `InsertableRelation` body shared by both relation shapes:
    * `data` arrives pre-aligned to the relation schema (Spark's
    * `PreprocessTableInsertion` casts, pads, and reorders, partition
    * columns last); re-order by name to the log-recorded schema and
    * commit through the log, inheriting the table's recorded zone-map
    * columns so SQL-inserted files land as prunable as the data around
    * them.
    */
  private[sources] def transactionalInsert(
      spark: SparkSession,
      root: String,
      data: DataFrame,
      overwrite: Boolean): Unit = {
    val r = TxLog.replay(root, TxLog.headVersion(root))
    val layout = r.partitionBy.getOrElse(throw new IllegalStateException(
      s"graft: $root has a mixed partition layout; restore first"))
    val ordered = r.schema match {
      case Some(rec) =>
        val present = data.columns.toSet
        data.select(rec.fieldNames.toSeq.filter(present).map(col): _*)
      case None => data
    }
    TxLog.commit(spark, root, ordered,
      if (overwrite) TxLog.Overwrite else TxLog.Append,
      statsCols = TxLog.recordedStatsCols(root), partitionBy = layout,
      op = Some(if (overwrite) "INSERT OVERWRITE" else "INSERT"))
    ()
  }

  /** Minimal parse of the `["a","b"]` shape DataFrameWriter encodes
    * partition columns as (no nesting, names are identifiers).
    */
  private def parseJsonStringArray(s: String): Seq[String] =
    "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(s)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
}

/** Parquet reads, no parquet writes: the `FileFormat` inside the bare
  * graft relation. Every read surface is inherited from
  * [[ParquetFileFormat]] byte-for-byte — vectorized reader, schema
  * pruning, pushdown (rules matching on the parquet class see a
  * subclass) — while `prepareWrite`, the entry point of Spark's
  * direct-to-directory insert command, refuses with the transactional
  * alternatives. Defense in depth behind the analysis-time multi-path
  * guard ([[graft.io.TxLogFileIndex.insertGuarded]]): even if some path
  * reaches the physical write, no file can land outside the log.
  */
final class GraftReadOnlyParquetFormat
    extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
  override def prepareWrite(
      sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: StructType)
      : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "graft: writing files directly into a transaction-log table would " +
        "bypass the log (rows would never become visible). Write through " +
        "df.write.format(\"graft\").mode(...), TxLog.append/overwrite, or " +
        "SQL INSERT with GraftDmlExtensions enabled.")
}

/** The catalog/format-surface bare relation: the internal snapshot's
  * own `HadoopFsRelation` (same [[TxLogFileIndex]], so pushdown,
  * zone-map pruning, and partition pruning sit directly in the user's
  * plan) hardened for the one statement family V1 file relations get
  * wrong — INSERT. Without [[GraftDmlExtensions]], Spark would route an
  * INSERT on this relation to its direct-to-path command, which DELETES
  * the overwritten paths (manifest-referenced immutable files, the log
  * dir itself on a full overwrite) before writing, then lands files no
  * manifest references; the guarded index's multi-path `rootPaths`
  * makes that command REFUSE AT ANALYSIS instead — loud, zero mutation
  * — and the read-only format refuses any residual direct write. With
  * extensions (or [[GraftSession.withDml]]), [[GraftDmlRule]] rewrites
  * every INSERT shape into transactional commits before any of this is
  * consulted.
  *
  * It also implements [[sources.InsertableRelation]] (a transactional
  * append/overwrite). On Spark 4.1 the catalog path cannot reach it for
  * THIS class — resolution of an INSERT target injects a
  * write-privilege option, and the resulting options mismatch makes
  * `FindDataSourceTable` rebuild the cached relation via the case-class
  * copy, which re-instantiates plain `HadoopFsRelation` and drops the
  * mixin — but the merge-on-read wrapper ([[GraftSnapshotRelation]], no
  * case-class copy applies) does serve extension-less `INSERT INTO`
  * through it, and any direct `InsertIntoDataSourceCommand` stays
  * correct here.
  */
final class GraftBareRelation(
    spark: SparkSession,
    val root: String,
    index: graft.io.TxLogFileIndex,
    partitionSchema0: StructType,
    dataSchema0: StructType,
    options0: Map[String, String])
    extends HadoopFsRelation(index, partitionSchema0, dataSchema0, None,
      new GraftReadOnlyParquetFormat, options0)(spark)
    with sources.InsertableRelation {

  /** `data` arrives aligned to this relation's schema (Spark's
    * `PreprocessTableInsertion` casts and reorders, partition columns
    * last); re-order by name to the log-recorded schema and commit. The
    * written files inherit the table's recorded zone-map columns.
    */
  override def insert(data: DataFrame, overwrite: Boolean): Unit =
    GraftDataSource.transactionalInsert(spark, root, data, overwrite)
}

/** Full-semantics snapshot scan for merge-on-read state a bare
  * file-source relation cannot express (live deletion vectors, a column
  * mapping, a mixed partition layout): plans the internal snapshot
  * QUERY — whose own optimization keeps parquet pushdown, zone-map file
  * pruning, and the broadcast DV anti-join — behind a
  * [[PrunedFilteredScan]]. Column pruning and the translatable pushed
  * filters are applied INSIDE that query, so file skipping still fires;
  * Spark re-evaluates every filter above the scan (`unhandledFilters`
  * stays conservative), so partially-translatable predicates stay
  * correct. `needConversion = false` hands the inner query's unsafe
  * rows through without a per-row Row conversion — the scan boundary
  * costs one pipeline break, not a format change.
  */
final case class GraftSnapshotRelation(
    @transient spark: SparkSession,
    root: String,
    version: Long) extends BaseRelation with PrunedFilteredScan
    with sources.InsertableRelation {

  @transient private lazy val snap: DataFrame =
    TxLog.snapshot(spark, root, Some(version))

  override def sqlContext: SQLContext = spark.sqlContext
  // the SCAN's schema, not the log-recorded one: the recorded schema may
  // carry non-nullable fields (from the writer's DataFrame), and a
  // non-nullable declared attribute whose scan produces null makes
  // downstream codegen read garbage instead of null
  override val schema: StructType = snap.schema
  override def needConversion: Boolean = false
  override def sizeInBytes: Long =
    TxLog.replay(root, version).entries.flatMap(_.bytes).sum max 1L

  /** Same transactional insert as [[GraftBareRelation.insert]] — an
    * extension-less `INSERT INTO` works on merge-on-read tables too.
    */
  override def insert(data: DataFrame, overwrite: Boolean): Unit =
    GraftDataSource.transactionalInsert(spark, root, data, overwrite)

  override def buildScan(
      requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    // filter FIRST (predicates may reference columns outside the
    // projection), then prune to exactly the requested columns — a
    // zero-column request (count(*)) keeps row multiplicity
    val filtered = filters.flatMap(GraftSnapshotRelation.toColumn(snap, _))
      .foldLeft(snap)(_ filter _)
    val projected =
      if (requiredColumns.isEmpty) filtered.select()
      else filtered.select(requiredColumns.toSeq.map(col): _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

object GraftSnapshotRelation {

  /** V1 `Filter` → `Column`, `None` for shapes we don't push (Spark
    * re-applies everything above the scan, so skipping is only a
    * pruning loss, never a correctness one).
    */
  private[graft] def toColumn(df: DataFrame, f: Filter): Option[Column] = {
    def c(name: String): Column = df.col(name)
    f match {
      case sources.EqualTo(a, v) => Some(c(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(c(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case sources.LessThan(a, v) => Some(c(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case sources.In(a, vs) => Some(c(a).isin(vs.toSeq: _*))
      case sources.IsNull(a) => Some(c(a).isNull)
      case sources.IsNotNull(a) => Some(c(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case sources.StringContains(a, v) => Some(c(a).contains(v))
      case sources.And(l, r) =>
        for (lc <- toColumn(df, l); rc <- toColumn(df, r)) yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- toColumn(df, l); rc <- toColumn(df, r)) yield lc || rc
      case sources.Not(x) => toColumn(df, x).map(!_)
      case _ => None
    }
  }
}
