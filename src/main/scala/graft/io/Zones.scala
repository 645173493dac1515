package graft.io

import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Data-lake zone I/O (SURVEY.md §2.1 S1-S7): raw → staging → curated
  * directory prefixes, schema'd CSV + parquet.
  *
  * Replaces the reference's hand-rolled boto3 GET/PUT + temp-file dance
  * (`unpack_to_raw.py:54-68`): Spark writes directly to the sink path; with
  * an object store the same paths are `s3a://bucket/...` and the Hadoop
  * connector does multipart uploads from executors — no driver staging.
  */
final case class Zones(root: String) {
  val raw: String     = s"$root/raw"
  val staging: String = s"$root/staging"
  val curated: String = s"$root/curated"

  /** S6 — idempotent zone ensure (no-op on object stores). */
  def ensure(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(raw, staging, curated).foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(conf).mkdirs(path)
    }
  }
}

object Zones {

  /** Process-lifetime temp zone path: unique per call (a FIXED path would
    * let a concurrent invocation's Overwrite delete files a previous
    * invocation's lazy scan already listed — a real bug this replaced),
    * deleted recursively at JVM exit so repeated bench/verify runs don't
    * accumulate garbage in the temp dir. The path lives under the JVM's
    * `java.io.tmpdir`, so a run that pins its temp dir keeps every zone
    * inside it. Deletion can't happen earlier: the
    * returned DataFrames are lazy, so the files must outlive the call.
    * ONE shutdown hook drains a shared queue — registering a hook thread
    * per call would accumulate live Threads for the process lifetime.
    */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val tempDirHook: Unit = sys.addShutdownHook {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    var f = tempDirs.poll()
    while (f != null) { rm(f); f = tempDirs.poll() }
  }

  def tempDir(prefix: String): String = {
    val path = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}").toString
    tempDirHook // register the single hook on first use
    tempDirs.add(new java.io.File(path))
    path
  }

  /** S1 — schema'd headerless CSV scan over any number of shard paths: one
    * job, parallelism = input splits; never `inferSchema` on a fact table
    * (inference is a second full scan). Multi-path read is the reference's
    * per-file loop + concat (S2) collapsed into one plan.
    */
  def readCsv(
      spark: SparkSession,
      schema: StructType,
      header: Boolean,
      paths: Seq[String]): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE") // malformed rows → nulls, dropped by Clean.dropNa (SURVEY §1.3)
      .csv(paths: _*)

  /** S3/S5 — CSV sink. `single` mirrors the reference's one-object-per-table
    * S3 layout; leave false at scale (one file per partition).
    */
  def writeCsv(df: DataFrame, path: String, single: Boolean = false): Unit =
    (if (single) df.coalesce(1) else df).write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(path)

  /** JSONL (newline-delimited JSON) sink — the interchange staple of LLM
    * data pipelines (every open-data corpus ships as *.jsonl.zst). One
    * JSON object per line, so the format splits at newlines and a 100 TB
    * prefix scans with full input parallelism, unlike a single JSON array.
    */
  def writeJsonl(df: DataFrame, path: String, single: Boolean = false): Unit =
    (if (single) df.coalesce(1) else df).write
      .mode(SaveMode.Overwrite)
      .json(path)

  /** JSONL scan with an EXPLICIT schema — never infer on a fact table
    * (inference is a second full scan, and a late malformed line would
    * silently widen a column to string). Malformed lines null out and are
    * droppable by the caller, mirroring [[readCsv]].
    */
  def readJsonl(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .json(paths: _*)

  /** ORC sink/scan — the columnar alternative a Hive-heritage lake speaks;
    * same predicate-pushdown/column-pruning story as parquet (Spark's ORC
    * reader is vectorized), so a zone written here costs queries nothing.
    */
  def writeOrc(df: DataFrame, path: String, single: Boolean = false): Unit =
    (if (single) df.coalesce(1) else df).write
      .mode(SaveMode.Overwrite)
      .orc(path)

  def readOrc(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame =
    spark.read.schema(schema).orc(paths: _*)

  def readParquet(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Hive-style partitioned parquet: queries filtering on `partitionCols`
    * prune directories at planning time (scan shows `PartitionFilters`, and
    * only matching files are listed) — the first lever against a 100 TB
    * scan. Verified in `PartitionPruningSpec`.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Small-files compaction: rewrite a parquet prefix into
    * `ceil(bytes / targetFileBytes)` files (the pattern behind OPTIMIZE in
    * table formats). At 100 TB, thousands of tiny part files — the residue
    * of incremental appends — dominate scan cost through footer reads and
    * task-per-file scheduling; a periodic compaction keeps file count
    * proportional to data size. Merge is `coalesce` (partition merge, no
    * shuffle). Returns the target file count.
    *
    * The swap here is delete + rename, which is atomic-enough on HDFS/local;
    * on an object store (rename = copy) compact into a NEW prefix and flip a
    * pointer — or use a table format whose transaction log does exactly this.
    */
  def compact(spark: SparkSession, path: String, targetFileBytes: Long = 128L << 20): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    // normalize: a trailing slash would make the tmp prefix a CHILD of the
    // prefix being replaced, and the delete below would eat the new data
    val p    = new org.apache.hadoop.fs.Path(path.replaceAll("/+$", ""))
    val fs   = p.getFileSystem(conf)
    val size = fs.getContentSummary(p).getLength
    val n    = math.max(1L, (size + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp  = new org.apache.hadoop.fs.Path(p.toString + ".compact_tmp")
    spark.read.parquet(p.toString).coalesce(n).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // the swap must not fail silently — original data is gone after delete
    if (!fs.delete(p, true))
      throw new java.io.IOException(s"compact: failed to delete $p (compacted data left at $tmp)")
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"compact: failed to rename $tmp to $p (data is at $tmp)")
    n
  }

  /** Bucketed + sorted catalog table: repeated equi-joins/aggregations on
    * `bucketCol` between tables bucketed the same way run shuffle-free
    * (Spark plans a sort-merge join over co-located buckets — verified in
    * `BucketingSpec` by asserting the plan has no shuffle exchange). This is
    * the 100 TB lever for fact⋈fact joins the broadcast path can't cover.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
}
