package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.TestSpark
import graft.GenSampling.forAllSampled

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side union-find reference. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // Path-compress to root, which is the component min by the ordered union above.
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  private def ccLabels(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents
      .labels(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)]
      .collect()
      .toMap

  test("chain graph collapses to one component labeled by its min") {
    // Worst case for one-hop propagation: a path 0-1-2-...-19.
    val edges = (0L until 19L).map(i => (i, i + 1))
    val got = ccLabels(edges)
    assert(got === (0L to 19L).map(_ -> 0L).toMap)
  }

  test("two cliques plus a bridge merge; disjoint pair stays separate") {
    val cliqueA = for { i <- 0 to 3; j <- i + 1 to 3 } yield (i.toLong, j.toLong)
    val cliqueB = for { i <- 10 to 13; j <- i + 1 to 13 } yield (i.toLong, j.toLong)
    val edges = cliqueA ++ cliqueB ++ Seq((3L, 10L), (100L, 101L))
    val got = ccLabels(edges)
    assert((0 to 3).forall(i => got(i.toLong) == 0L))
    assert((10 to 13).forall(i => got(i.toLong) == 0L))
    assert(got(100L) == 100L && got(101L) == 100L)
  }

  test("empty and self-loop-only inputs yield no labels") {
    assert(ccLabels(Seq.empty).isEmpty)
    assert(ccLabels(Seq((5L, 5L))).isEmpty)
  }

  test("incremental labels over a new edge batch equal a full recompute") {
    // old graph: {0,1,2}, {5,6}, {10,11}; batch merges {0,1,2}+{5,6} via
    // (2,5), leaves {10,11} untouched, and adds a brand-new pair {20,21}
    val oldE = Seq((0L, 1L), (1L, 2L), (5L, 6L), (10L, 11L))
    val newE = Seq((2L, 5L), (20L, 21L))
    val full = ccLabels(oldE ++ newE)
    val inc = ConnectedComponents.incrementalLabels(
        ConnectedComponents.labels(oldE.toDF("a", "b"), "a", "b"),
        newE.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(inc === full)
    assert(inc(10L) === 10L && inc(11L) === 10L) // untouched pass-through
    assert(inc(6L) === 0L)                       // merged across batches
  }

  test("labels match union-find on random graphs") {
    val genEdges = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(1, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong)
      } yield (a, b))
    } yield edges.filter { case (a, b) => a != b }

    forAllSampled(genEdges, 8) { edges =>
      if (edges.nonEmpty) {
        assert(ccLabels(edges) === unionFind(edges.flatMap(e => Seq(e, e.swap))))
      }
    }
  }

  test("clusters roll-up counts and members") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 9L))
    val rows = ConnectedComponents.clusters(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long, String)].collect().toSeq
    assert(rows === Seq((1L, 3L, "1,2,3"), (7L, 2L, "7,9")))
  }

  test("clusters member sample is capped at sampleK while n_docs stays exact") {
    val edges = (1L to 9L).map(i => (0L, i))
    val rows = ConnectedComponents.clusters(edges.toDF("a", "b"), "a", "b", sampleK = 3)
      .as[(Long, Long, String)].collect().toSeq
    assert(rows === Seq((0L, 10L, "0,1,2")))
  }

  test("mega-cluster guard: a 10^4-member star stays bounded in the capped roll-up") {
    import org.apache.spark.sql.functions.{col, lit}
    // The hottest real input: one boilerplate doc paired with 10^4 others —
    // ONE component. The roll-up must emit the exact count but only a
    // bounded member sample (an uncapped collect_list is the OOM at 10^8).
    val n = 10000L
    val pairs = spark.range(1, n).select(lit(0L).as("a"), col("id").as("b"))
    val rows = ConnectedComponents.clusters(pairs, "a", "b")
      .as[(Long, Long, String)].collect().toSeq
    assert(rows.length === 1)
    val (cid, nDocs, members) = rows.head
    assert(cid === 0L && nDocs === n)
    assert(members === (0L until 20L).map(_.toString).mkString(","))
  }

  test("reliable-checkpoint path labels correctly and deletes intermediate round dirs") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.jdk.CollectionConverters._
    // A chain needs several star rounds — exactly the case that used to
    // leave one checkpoint dir per round on disk for the session lifetime.
    val ckRoot = java.nio.file.Files.createTempDirectory("graft_cc_ck").toFile
    val sc = spark.sparkContext
    val before = sc.getCheckpointDir
    sc.setCheckpointDir(ckRoot.getAbsolutePath)
    val sessionDir = sc.getCheckpointDir
    // every value the session's checkpoint dir takes while labels() runs
    val seenDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Option[String]]()
    @volatile var watching = true
    val watcher = new Thread(() =>
      while (watching) { seenDirs.add(sc.getCheckpointDir); Thread.sleep(1) })
    watcher.start()
    // Spark checkpoints each RDD into its own rdd-N dir under the root
    def find(f: java.io.File): Seq[java.io.File] =
      Seq(f) ++ Option(f.listFiles()).toSeq.flatten.flatMap(find)
    def roundDirs: Seq[java.io.File] =
      find(ckRoot).filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
    try {
      val edges = (0L until 19L).map(i => (i, i + 1))
      val got = ccLabels(edges)
      assert(got === (0L to 19L).map(_ -> 0L).toMap)
      // all round dirs but the final one must already be gone (the final
      // backs the result until JVM exit)
      assert(roundDirs.length === 1, s"leftover round dirs: ${roundDirs.mkString(", ")}")
      // two concurrent callers on one session, each leaving its final dir
      val graphs = Seq(
        (100L until 130L).map(i => (i, i + 1)),
        (for { i <- 0L to 4L; j <- i + 1 to 4L } yield (i, j)) ++ Seq((4L, 50L), (50L, 51L), (60L, 61L)))
      val labelled = Await.result(Future.sequence(graphs.map(g => Future(ccLabels(g)))), 5.minutes)
      graphs.zip(labelled).foreach { case (g, l) =>
        assert(l === unionFind(g.flatMap(e => Seq(e, e.swap))))
      }
      assert(roundDirs.length === 3, s"round dirs: ${roundDirs.mkString(", ")}")
    } finally {
      watching = false
      watcher.join()
      sc.setCheckpointDir(before.orNull) // Option(null) → None inside Spark
    }
    assert(seenDirs.asScala.toSet === Set(sessionDir))
  }

  test("every job labels() starts runs under the caller's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val chain = (0L until 19L).map(i => (i, i + 1)).toDF("a", "b")
    val caller = s"cc-caller-${java.util.UUID.randomUUID()}"
    // the job group of every job started by one labels() call, delimited
    // by one fence job before and after it (listener events are async)
    def jobGroupsOfOneCall(): Seq[String] = {
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          groups.add(Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
      }
      val tag = java.util.UUID.randomUUID().toString
      def fence(name: String): Unit = {
        sc.setJobGroup(name, name)
        sc.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!groups.contains(name) && System.nanoTime() < deadline) Thread.sleep(10)
        assert(groups.contains(name), s"listener never saw fence $name")
      }
      sc.addSparkListener(listener)
      try {
        fence(s"$tag-begin")
        sc.setJobGroup(caller, "connected components caller")
        ConnectedComponents.labels(chain, "a", "b")
        fence(s"$tag-end")
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      val all = groups.asScala.toSeq
      all.slice(all.lastIndexOf(s"$tag-begin") + 1, all.indexOf(s"$tag-end"))
    }
    val first = jobGroupsOfOneCall()
    assert(first.nonEmpty && first.forall(_ == caller), s"job groups: ${first.distinct}")
    assert(jobGroupsOfOneCall().length === first.length)
  }

  test("size distribution counts components per size with removable docs") {
    // components: {1,2,3} (chain), {10,11}, {20,21} → one size-3, two size-2
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("a", "b")
    val rows = ConnectedComponents.sizeDistribution(pairs, "a", "b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows === Seq((2L, 2L, 2L), (3L, 1L, 2L)))
  }
}
