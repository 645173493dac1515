package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (session startup dominates test
  * wall-clock otherwise).
  */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // in-process object store (CAS put, paged LIST, no rename) — the
    // txlog protocol specs run tables end-to-end on mem:// roots
    .config("spark.hadoop.fs.mem.impl", "graft.io.MemFileSystem")
    .getOrCreate()

  /** Spark jobs started by `body`, counted by job group. Listener events
    * are asynchronous: a fence job seen means every earlier job start was
    * seen too.
    */
  def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc  = spark.sparkContext
    val tag = s"jobs-under-test-${java.util.UUID.randomUUID()}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "call under test")
      val result = body
      sc.setJobGroup(s"$tag-fence", "fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains(s"$tag-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(s"$tag-fence"), "listener never saw the fence job")
      (result, groups.toArray.count(_ == tag))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
