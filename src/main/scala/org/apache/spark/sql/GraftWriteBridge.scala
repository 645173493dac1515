package org.apache.spark.sql

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.SerializableConfiguration

/** Bridge into Spark's file writer for writes that need their own
  * [[WriteJobStatsTracker]]s — the hook Delta Lake's transactional write
  * uses to collect per-file statistics while the rows stream out, so no
  * job has to read the files back. `df.write` builds its trackers
  * internally and takes no extra ones.
  */
object GraftWriteBridge {

  /** Write `df` as parquet under the fresh directory `path` (hive `k=v`
    * dirs by `partitionBy`) in one job, with Spark's own task metrics
    * tracker plus `trackers`. Each tracker's `processStats` has run on
    * the driver when this returns.
    */
  def writeParquet(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String],
      trackers: Seq[WriteJobStatsTracker]): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    // a fresh execution per write, as `df.write` plans one
    val qe = classic.Dataset.ofRows(spark, ds.logicalPlan).queryExecution
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString,
      outputPath = path)
    SQLExecution.withNewExecutionId(qe, Some(s"graft write $path")) {
      val plan = qe.executedPlan
      val output = plan.output
      FileFormatWriter.write(
        sparkSession = spark,
        plan = plan,
        fileFormat = new ParquetFileFormat,
        committer = committer,
        outputSpec = FileFormatWriter.OutputSpec(path, Map.empty, output),
        hadoopConf = hadoopConf,
        partitionColumns = partitionBy.map(c => output.find(_.name == c).get),
        bucketSpec = None,
        statsTrackers = new BasicWriteJobStatsTracker(
          new SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics) +: trackers,
        options = Map.empty)
    }
    ()
  }
}
