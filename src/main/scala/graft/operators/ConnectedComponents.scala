package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair list — turns near-dup
  * candidate PAIRS (Dedup.minhashCandidates / simhashPairs / cosine LSH)
  * into dup CLUSTERS, the form a curation pipeline actually consumes (keep
  * one doc per cluster, not "drop doc_b of every pair": pair-wise dropping
  * over-deletes transitively-linked chains and under-counts cluster sizes).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
  * O(log²) rounds on any graph (O(log) in practice; near-dup graphs are
  * unions of LSH-bucket cliques with tiny diameter, converging in 1-2
  * rounds). Each round is two (groupBy-min + same-key self join) stages —
  * no `collect_set` of neighbor lists, so a high-degree hub (one document
  * duplicated a million times) never materializes its adjacency in a
  * single row.
  *
  * Scale notes: every stage keys by node id, so AQE coalesces/splits
  * post-shuffle partitions; lineage is truncated each round (iterative
  * plans otherwise grow and re-execute from the scan) — reliable
  * `checkpoint()` when the session has a checkpoint dir configured
  * (executor-loss resilience on a real cluster), `localCheckpoint`
  * otherwise. Rounds run one after another as plain plan operators on
  * the caller's thread: a reliable round's `rdd-N` checkpoint dir is
  * deleted as soon as the next round is materialized, and only the final
  * round's dir (it backs the returned frame) lives until JVM exit.
  * Convergence is an EXACT structural test on the round's own edge set
  * (the star-forest fixed-point property, see [[isStarForest]]), not a
  * checksum and not a diff against the previous round.
  */
object ConnectedComponents {

  /** Deferred delete list for the FINAL round's checkpoint dir of each
    * [[labels]] call: that dir backs the returned (lazy) DataFrame, so it
    * must outlive the call — deleted by one shared JVM shutdown hook
    * (Zones.tempDir discipline). Intermediate rounds never reach this
    * queue; they are deleted eagerly as soon as the next round's
    * checkpoint materializes, so a long-lived session running many dedup
    * queries holds at most one dir per labels() result, not one per round
    * (`spark.cleaner.referenceTracking.cleanCheckpoints` is off by
    * default and would anyway wait for GC of the RDD reference).
    */
  private val leftoverCheckpointDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[(org.apache.hadoop.conf.Configuration, String)]()
  private lazy val checkpointCleanupHook: Unit = sys.addShutdownHook {
    var e = leftoverCheckpointDirs.poll()
    while (e != null) { deleteQuietly(e._1, e._2); e = leftoverCheckpointDirs.poll() }
  }

  private def deleteQuietly(conf: org.apache.hadoop.conf.Configuration, dir: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(conf).delete(p, true)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Per-round materialization — see class doc. The reliable path caches
    * the round first: `Dataset.checkpoint` runs its eager count, then the
    * checkpoint WRITE re-executes the lineage a second time unless the
    * blocks are persisted (round 0's lineage is the entire candidate
    * generation). `localCheckpoint` stores computed blocks directly and
    * needs no such guard.
    */
  private def persistRound(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) {
      df.persist()
      try df.checkpoint() finally df.unpersist()
    } else df.localCheckpoint()

  /** The files behind a reliably checkpointed round: Spark writes each
    * checkpointed RDD to its own `<session checkpoint dir>/rdd-N`, so the
    * round is deletable as a unit without touching the session's
    * checkpoint dir or other checkpoints sharing it. None for a local
    * checkpoint (its blocks go with the RDD).
    */
  private def roundDir(df: DataFrame): Option[String] =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.getCheckpointFile
    }.flatten

  /** Canonical directed edges (src > dst), self-loops dropped. */
  private def canonical(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull && col(aCol) =!= col(bCol))
      .select(
        greatest(col(aCol), col(bCol)).as("src"),
        least(col(aCol), col(bCol)).as("dst"))
      .distinct()

  /** Large-star: every node u links its strictly-larger neighbors to
    * m(u) = min(Γ(u) ∪ {u}). Keeps src > dst (v > u ≥ m).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
    val m = und.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    und.filter(col("v") > col("u"))
      .join(m, "u")
      .select(col("v").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-star: every node u links its smaller neighbors (and itself) to
    * m(u) = min of those neighbors. Operates on the canonical orientation
    * directly (N(src) = {dst} already holds dst < src).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("src").agg(min(col("dst")).as("m"))
    e.join(m, "src")
      .filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .unionByName(m.select(col("src"), col("m").as("dst")))
      .distinct()
  }

  /** A canonically-oriented (src > dst) edge set is this algorithm's fixed
    * point iff it is a STAR FOREST: every source has out-degree EXACTLY
    * one AND no source is also a target. (Out-degree alone is not enough —
    * edges 4→2, 4→3 pass the disjointness test while {2,3,4} is one
    * uncollapsed component.) Orientation makes every star min-rooted
    * (hub < each leaf), and largeStar/smallStar map a min-rooted star
    * forest to itself, so the check detects convergence ON the converging
    * round; comparing against the previous round's edges (count+except,
    * or a symmetric difference) always pays one extra full star round to
    * observe "no change". One cheap aggregation over the just-materialized
    * checkpoint.
    */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("src").as("n"), lit(1L).as("w"))
      .unionByName(e.select(col("dst").as("n"), lit(0L).as("w")))
      .groupBy("n")
      .agg(min(col("w")).as("mn"), max(col("w")).as("mx"), sum(col("w")).as("outd"))
      .filter(col("mn") =!= col("mx") || col("outd") > 1)
      .isEmpty

  /** (node, cluster_id) for every node appearing in `pairs`, where
    * cluster_id is the minimum node id of the node's connected component
    * (the deterministic "keeper" id).
    *
    * One loop on the caller's thread: materialize the canonical edges,
    * then while they are not a star forest run one star round, materialize
    * it and delete the previous round's checkpoint. Every job runs under
    * the caller's job group and local properties, and no `SparkContext`
    * state is changed, so concurrent callers need no coordination.
    */
  def labels(pairs: DataFrame, aCol: String, bCol: String, maxRounds: Int = 50): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    // The checkpoints are EAGER: the convergence probe references each
    // round's edges twice (src and dst projections), and a lazy checkpoint
    // would race both union branches into re-computing the pipeline per
    // reference (measured +30% on q40 for the initial round, whose
    // pipeline is the whole LSH candidate generation).
    var edges = persistRound(canonical(pairs, aCol, bCol), reliable)
    var converged = isStarForest(edges)
    var round = 0
    while (!converged && round < maxRounds) {
      val prev = edges
      edges = persistRound(smallStar(largeStar(prev)), reliable)
      // the new round's lineage no longer reaches the previous one
      roundDir(prev).foreach(deleteQuietly(sc.hadoopConfiguration, _))
      round += 1
      converged = isStarForest(edges)
    }
    // The final round's checkpoint backs the lazy result — defer its
    // delete to JVM exit.
    roundDir(edges).foreach { d =>
      checkpointCleanupHook
      leftoverCheckpointDirs.add((sc.hadoopConfiguration, d))
    }
    require(converged, s"connected components did not converge in $maxRounds rounds")
    // Converged edge set is a star forest (v, m); hubs m label themselves.
    edges.select(col("src").as("node"), col("dst").as("cluster_id"))
      .unionByName(edges.select(col("dst").as("node"), col("dst").as("cluster_id")).distinct())
  }

  /** Cluster roll-up: one row per component with ≥2 members —
    * (cluster_id = min doc id, EXACT n_docs, comma-joined member SAMPLE:
    * the `sampleK` smallest ids). The cap is the 100 TB guard: boilerplate
    * duplicated across 10⁸ docs is ONE component, and an uncapped
    * `collect_list` would materialize a gigabyte string in a single
    * aggregation buffer. Here the rank filter runs in a window whose sort
    * is external (spillable) and the aggregation buffer holds ≤ sampleK
    * ids; `collect_list` skips the nulls the `when` emits past the cap, so
    * one pass yields both the exact count and the bounded sample.
    */
  def clusters(pairs: DataFrame, aCol: String, bCol: String, sampleK: Int = 20): DataFrame = {
    val w = Window.partitionBy("cluster_id").orderBy("node")
    labels(pairs, aCol, bCol)
      .withColumn("rk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_docs"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rk") <= sampleK, col("node")))),
            _.cast("string")),
          ",").as("members"))
      .orderBy("cluster_id")
  }

  /** Duplicate-cluster SIZE distribution: how many components of each
    * size, and how many docs cluster-based dedup would remove at that
    * size — the "what will dedup save" histogram a curation team reads
    * before paying for the apply pass ([[graft.operators.Dedup.survivors]]
    * keeps one doc per component, so a size-n component removes n−1).
    *
    * Scale shape: two hash aggregations over the [[labels]] output (per
    * component, then per size). The output is at most |largest component|
    * rows — bounded and skinny no matter how pathological the dup graph;
    * the mega-cluster that OOMs a member roll-up is ONE row here.
    */
  def sizeDistribution(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    labels(pairs, aCol, bCol)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(
        col("cluster_size"),
        col("n_clusters"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"))
      .orderBy("cluster_size")

  /** Incremental label maintenance — the nightly-ingest shape: yesterday's
    * `(node, cluster_id)` labels contract each component to a STAR, so
    * merging today's edge batch runs [[labels]] over |labels| + |batch|
    * edges whose old side has diameter ≤ 2 (converges in a round or two)
    * instead of re-clustering the full pair corpus. Components the batch
    * never touches keep their rows unchanged (left-anti re-add), so the
    * output is exactly `labels(oldEdges ∪ newEdges)` restricted to nodes
    * that appear in either input — spec-proven in
    * `ConnectedComponentsSpec`, and q343 hash-matches the full-recompute
    * recursive-CTE oracle through this path.
    */
  def incrementalLabels(oldLabels: DataFrame, newEdges: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val contracted = oldLabels
      .filter(col("node") =!= col("cluster_id"))
      .select(col("cluster_id").as(aCol), col("node").as(bCol))
    val merged = labels(contracted.unionByName(
      newEdges.select(col(aCol), col(bCol))), aCol, bCol)
    // hub self-rows of touched components are already in `merged`; only
    // components fully outside the batch (all-singleton after contraction)
    // need their old rows passed through
    val untouched = oldLabels.join(merged.select("node"), Seq("node"), "left_anti")
    merged.unionByName(untouched)
  }
}
