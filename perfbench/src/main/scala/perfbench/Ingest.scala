package perfbench

import java.nio.file.{Files, Path}

import graft.io.Zones
import graft.pipeline.Stages

/** The paper's pipeline: raw → staging → curated over generated Pfam-shaped
  * CSV shards. Each stage call is one operation; each pass writes a fresh
  * lake root.
  */
final class Ingest(input: String) extends Workload {
  private val shardDirs: Seq[String] = Seq("train", "dev", "test")
    .map(d => s"$input/$d").filter(d => Files.isDirectory(Path.of(d)))
  private val inputBytes: Long = Main.treeBytes(Path.of(input))
  private var zoneBytes = 0L

  /** First touch: list the shards behind a schema'd read. */
  def setUp(ctx: Ctx): Unit = {
    Zones.readCsv(ctx.spark, Stages.RawSchema, header = false, shardDirs).inputFiles
    ()
  }

  /** The lake roots of measured passes stay for the invariant check that
    * follows the run (perfbench/checks.py), which deletes them.
    */
  def pass(ctx: Ctx): Unit = {
    val root = ctx.freshDir(s"lake-${ctx.pass}")
    val zones = Zones(root.toString)
    zones.ensure(ctx.spark)
    val t = ctx.tracer
    for {
      raw <- ctx.op("unpack", "ingest")(t("pipeline.unpack")(Stages.unpackToRaw(ctx.spark, shardDirs, zones)))
      out <- ctx.op("preprocess", "ingest")(
        t("pipeline.preprocess")(Stages.preprocessToStaging(raw, zones, orderCol = "sequence_name")))
    } Seq("train" -> out.train, "dev" -> out.dev, "test" -> out.test).foreach { case (name, df) =>
      ctx.op(s"curate_$name", "ingest")(t("pipeline.curate")(Stages.processToCurated(df, zones, name)))
    }
    if (ctx.measuring) zoneBytes += Main.treeBytes(root)
    else Main.deleteTree(root)
  }

  def report(ctx: Ctx): Map[String, Double] = {
    val n = math.max(ctx.passes, 1).toDouble
    val t = ctx.tracer
    Map("bytes_per_input_byte" -> zoneBytes / n / inputBytes) ++ (if (!t.enabled) Map.empty else Map(
      "pipeline.unpack_s" -> t.durations("pipeline.unpack").sum / n,
      "pipeline.preprocess_s" -> t.durations("pipeline.preprocess").sum / n,
      "pipeline.curate_s" -> t.durations("pipeline.curate").sum / n,
      "pipeline.bytes_written" -> zoneBytes / n))
  }
}
