package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode

import graft.io.TxLog

/** Structured Streaming SINK into a [[TxLog]] table — the write half of
  * the lakehouse streaming story as a first-class `writeStream.format`,
  * so the canonical pipeline reads symmetrically end to end:
  *
  * {{{
  *   spark.readStream
  *     .format("graft.streaming.TxLogSourceProvider").option("root", src)
  *     .load()
  *     .transform(...)
  *     .writeStream
  *     .format("graft.streaming.TxLogSinkProvider").option("root", dst)
  *     .option("checkpointLocation", ck)
  *     .start()
  * }}}
  *
  * Exactly-once by construction: each microbatch commits through
  * [[TxLog.appendOnce]] with `txnId = <txnPrefix>#<batchId>`, so a
  * re-delivered batch after failure recovery is a no-op returning the
  * original version (the same contract the foreachBatch pattern wires by
  * hand — this class just removes the hand-wiring). Append output mode
  * only: a streaming UPDATE into an immutable-file table is the CDC
  * merge-apply pipeline's job, not a sink mode.
  *
  * `.option("statsCols", "a,b")` zone-maps each microbatch's files at
  * commit time (and records row counts), so the table every batch lands
  * in is born prunable and metadata-countable; `writeStream
  * .partitionBy(...)` flows through as the commit's hive layout.
  */
class TxLogSinkProvider extends StreamSinkProvider {
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"txlog sink is exactly-once APPEND; got $outputMode")
    val root = parameters.getOrElse("root", throw new IllegalArgumentException(
      """txlog sink requires .option("root", <table path>)"""))
    val txnPrefix = parameters.getOrElse("txnPrefix", "stream")
    val statsCols = parameters.get("statsCols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    new TxLogSink(root, txnPrefix, statsCols, partitionColumns)
  }
}

/** The sink behind [[TxLogSinkProvider]]: `addBatch` gets a streaming
  * frame, which refuses batch writes, so its rows are re-wrapped as a
  * batch frame ([[org.apache.spark.sql.GraftPlanBridge]]) and committed.
  */
class TxLogSink(
    root: String,
    txnPrefix: String,
    statsCols: Seq[String],
    partitionBy: Seq[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the exact inverse of the source's asStreamingFrame
    val session = data.sparkSession
    val batch = org.apache.spark.sql.GraftPlanBridge.fromRows(session,
      data.queryExecution.toRdd, data.schema, isStreaming = false)
    TxLog.appendOnce(session, root, s"$txnPrefix#$batchId", batch,
      partitionBy = partitionBy, statsCols = statsCols)
    ()
  }

  override def toString: String = s"TxLogSink[$root]"
}
