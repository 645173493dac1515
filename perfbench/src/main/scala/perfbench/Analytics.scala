package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.SparkEntry

/** The query surface: registry queries over generated harness tables, in
  * an order permuted per pass from the seed. Each query is one
  * operation — build (call the query function), plan (force the executed
  * plan) and execute (collect every output column through that plan).
  */
final class Analytics(input: String) extends Workload {
  import Analytics._

  /** Rows of the first (set-up) execution of each query: written out for
    * the DuckDB oracle check, and every later execution must equal them.
    */
  private val reference = mutable.Map.empty[String, Array[Row]]

  /** First touch: every input table's schema, read from its footer. */
  def setUp(ctx: Ctx): Unit =
    Files.list(Path.of(input)).iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(p => ctx.spark.read.parquet(p.toString).schema)

  def pass(ctx: Ctx): Unit = {
    val order = new scala.util.Random(ctx.seed * 1000003L + ctx.pass).shuffle(All)
    val t = ctx.tracer
    for (q <- order) {
      val group = if (Eda.contains(q)) "eda" else "curation"
      val rows = ctx.op(q, group) {
        val df = t(s"$group.build")(SparkEntry.queries(q)(ctx.spark, input))
        t(s"$group.plan")(df.queryExecution.executedPlan)
        (df.schema, t(s"$group.exec")(df.collect()))
      }
      rows.foreach { case (schema, got) =>
        reference.get(q) match {
          case None =>
            reference(q) = got
            val dir = ctx.work.resolve("reference").resolve(q)
            ctx.spark.createDataFrame(java.util.Arrays.asList(got: _*), schema)
              .coalesce(1).write.mode("overwrite").parquet(dir.toString)
          case Some(want) =>
            if (!java.util.Arrays.equals(want.asInstanceOf[Array[AnyRef]], got.asInstanceOf[Array[AnyRef]])) {
              System.err.println(s"[perfbench] $q pass ${ctx.pass}: result differs from its first execution")
              ctx.fail(q)
            }
        }
      }
      ctx.spark.catalog.clearCache()
    }
    if (!Files.exists(ctx.work.resolve("reference").resolve("oracle_sql.json")))
      Files.write(ctx.work.resolve("reference").resolve("oracle_sql.json"), Json.obj(
        All.filter(SparkEntry.oracleSql.contains).map(q => q -> Json.str(SparkEntry.oracleSql(q)))).getBytes(UTF_8))
  }

  def report(ctx: Ctx): Map[String, Double] = {
    val n = math.max(ctx.passes, 1).toDouble
    val t = ctx.tracer
    if (!t.enabled) Map.empty else
      Seq("eda", "curation").flatMap { g =>
        Seq("build", "plan", "exec").map(s => s"$g.${s}_s" -> t.durations(s"$g.$s").sum / n)
      }.toMap ++ ctx.listener.toSeq.flatMap { l =>
        Seq("eda", "curation").flatMap(g => l.metrics(g, Set(g), ctx.passes, wallS = 0, cores = 1)
          .filter { case (k, _) => GroupMetrics(k.stripPrefix(s"$g.")) })
      }.toMap
  }
}

object Analytics {
  /** Descriptive EDA queries: sub-second, dominated by fixed per-query cost. */
  val Eda: Seq[String] = Seq("q07_encode_apply")

  /** Curation operators: tokenizer, dedup, similarity, graph, entity resolution. */
  val Curation: Seq[String] = Seq("q18_tokenize", "q32_dedup_apply")

  val All: Seq[String] = Eda ++ Curation

  /** Engine counts reported per query group. */
  val GroupMetrics = Set("tasks", "executor_run_s", "shuffle_write_bytes", "useful_task_ratio")
}
