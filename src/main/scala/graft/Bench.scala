package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev loop: SPARK_GRAFT_QUERIES=q163_power_pca,q216_prefix_filter_join
    // times just those queries; unset = the full driver-contract run
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    // steady-state measurement: an untimed warm-up pass (the first query on
    // a full run — matching the driver's protocol — or every selected query
    // on a filtered dev run, where per-query JIT warmth is the point)
    (if (only.isDefined) selected else selected.take(1)).foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case NonFatal(_) => () }
      spark.catalog.clearCache()
    }
    val failed = scala.collection.mutable.ListBuffer[String]()
    val results = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case NonFatal(e) =>
          // a failed query must not masquerade as a fast one
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // leftover cached relations and localCheckpoint blocks from one
      // query otherwise pile up across the 200+ query run and tax later
      // queries with GC pauses they didn't cause — release them OUTSIDE
      // the timed section so each timing is that query's own cost
      spark.catalog.clearCache()
      System.gc()
      name -> dt
    }
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Full per-query map → a committed FILE (the 639-entry map is ~25 kB,
    // which overflowed the driver's stdout capture in round 6 and left
    // BENCH_r06.json unparseable); stdout gets a compact <1 kB line —
    // total + the 10 slowest — emitted LAST, after spark.stop(), so no
    // shutdown logging can follow it on stdout.
    val round = sys.env.getOrElse("SPARK_GRAFT_ROUND", deriveRound())
    // never silently overwrite an existing local bench file: round 7's
    // driver run clobbered the committed builder run because both
    // defaulted to the same literal — collide into a fresh suffixed name.
    // The default lands in the working directory (the checkout under
    // `sbt run`), like the VERDICT.md the round is derived from
    val fullPath = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse {
      val base = java.nio.file.Paths.get(s"BENCH_LOCAL_r$round").toAbsolutePath.toString
      Iterator.single(s"$base.json")
        .concat(Iterator.from(2).map(k => s"$base.$k.json"))
        .find(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
        .get
    }
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":$qsFull,"errors":$errs,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), fullJson + "\n")
    catch { case NonFatal(e) => System.err.println(s"[bench] full-map write failed: ${e.getMessage}") }
    val top = results.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    spark.stop()
    System.out.println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":$top,"queries_note":"10 slowest; full map in $fullPath","errors":$errs,"sf":"$sfDir"}""")
    System.out.flush()
  }

  /** The current build round, derived from the newest driver artifact
    * (`VERDICT.md` header "round N" describes the PREVIOUS round) so the
    * default bench filename can't collide with a past round's committed
    * history. `VERDICT.md` is read from the working directory. Env
    * `SPARK_GRAFT_ROUND` still overrides.
    */
  private def deriveRound(): String =
    try {
      // explicit UTF-8: the header's em dash breaks the Java-17 POSIX
      // default (ASCII) decoder with MalformedInputException
      val head = new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("VERDICT.md")),
        java.nio.charset.StandardCharsets.UTF_8)
      val n = "round (\\d+)".r.findFirstMatchIn(head.linesIterator.next())
        .map(_.group(1).toInt).getOrElse(0)
      require(n > 0, "no round number in VERDICT.md header")
      f"${n + 1}%02d"
    } catch { case NonFatal(_) => "99" }
}
