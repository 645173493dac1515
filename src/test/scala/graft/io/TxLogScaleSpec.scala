package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The round-8 scale contracts of the transaction log, each proven
  * mechanically: checkpoint-bounded STATS replay (not just file lists),
  * one-job commit stats, file-granular MERGE, plan-time pruning on the
  * ordinary `snapshot().filter(...)` read path, change-data-feed reads,
  * and the vacuum retention clamp.
  */
class TxLogScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(): String = Zones.tempDir("txlog8")

  private def batch(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"row-$i")).toDF("id", "payload")
  }

  test("stats replay is checkpoint-bounded: a range read at v25 reads ≤ CheckpointEvery+1 manifests") {
    val root = freshTable()
    // 25 stats-bearing commits, CheckpointEvery = 10 → checkpoints at 10, 20
    (0 until 25).foreach { k =>
      TxLog.commit(spark, root, batch(k * 100, k * 100 + 100).coalesce(1),
        TxLog.Append, statsCols = Seq("id"))
    }
    val v = TxLog.headVersion(root)
    assert(v === 25L)
    TxLog.manifestReads.set(0L)
    val pruned = TxLog.prunedFiles(root, v, "id", 450, 460)
    val reads = TxLog.manifestReads.get()
    assert(pruned.size === 1, s"disjoint zone maps must isolate one file, got ${pruned.size}")
    // ONE replay: the c20 checkpoint + v21..v25 = 6 log reads; the bound
    // the checkpoint design promises is ≤ CheckpointEvery + 1, version-
    // count-independent — round 7's liveStats scanned all 25 from v1
    assert(reads <= TxLog.CheckpointEvery + 1,
      s"stats replay read $reads manifests; checkpoint bound is ${TxLog.CheckpointEvery + 1}")
    // and the checkpoint really CARRIES the stats: destroy every
    // pre-checkpoint manifest — the pruned range read must not care
    (1 to 19).foreach { k =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "_txlog", f"v$k%08d.json"),
        "garbage".getBytes)
    }
    val got = TxLog.snapshotRange(spark, root, "id", 450, 460)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === (450L to 460L),
      "stats-bearing checkpoint must reconstruct zone maps without old manifests")
    assert(TxLog.prunedFiles(root, v, "id", 450, 460).size === 1)
  }

  test("commit computes N-file stats in O(1) Spark jobs, not one job per file") {
    val root = freshTable()
    val df = batch(0, 4000).repartitionByRange(16, col("id"))
    spark.sparkContext.setJobGroup("txlog8-commit", "commit under test", true)
    try TxLog.commit(spark, root, df, TxLog.Append, statsCols = Seq("id"))
    finally spark.sparkContext.clearJobGroup()
    // status store updates are async — poll briefly before asserting
    def jobs(): Int = spark.sparkContext.statusTracker
      .getJobIdsForGroup("txlog8-commit").length
    val deadline = System.nanoTime() + 10_000_000_000L
    while (jobs() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
    val n = jobs()
    // the write (plus its range-sampling pass), which records the stats
    // — a fixed handful regardless of file count. Round 7 launched one
    // stats job PER FILE: this 16-file commit would be ≥ 17 jobs, a
    // 1,000-file commit 1,000 sequential driver round-trips
    assert(n >= 1 && n < 16, s"commit of a 16-file batch launched $n jobs (per-file loop?)")
    // and the stats are per-file and correct: 16 disjoint range files
    val stats = TxLog.liveStats(root, 1L)
    assert(stats.size === 16, s"expected 16 stats-bearing files, got ${stats.size}")
    val ranges = stats.values.map(_("id")).toSeq.sortBy(_._1)
    assert(ranges.head._1 === 0L && ranges.last._2 === 3999L)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, "range files must be disjoint")
      case _ => ()
    }
  }

  test("merge rewrites ONLY the files whose key zone map intersects the batch") {
    val root = freshTable()
    // 10 range-disjoint files with id zone maps
    TxLog.commit(spark, root, batch(0, 1000).repartitionByRange(10, col("id")),
      TxLog.Append, statsCols = Seq("id"))
    val before = TxLog.liveFiles(root, TxLog.headVersion(root)).toSet
    assert(before.size === 10)
    import spark.implicits._
    // updates land inside ONE file's range (plus one brand-new key)
    val updates = Seq((150L, "UPDATED-150"), (160L, "UPDATED-160"), (5000L, "NEW-5000"))
      .toDF("id", "payload")
    TxLog.merge(spark, root, updates, "id")
    val after = TxLog.liveFiles(root, TxLog.headVersion(root)).toSet
    val carried = before.intersect(after)
    assert(carried.size === 9,
      s"exactly one data file should be rewritten; ${before.size - carried.size} were")
    // carried files keep their zone maps (the NEXT merge stays granular)
    val stats = TxLog.liveStats(root, TxLog.headVersion(root))
    carried.foreach(f => assert(stats.contains(f), s"carried file lost its stats: $f"))
    // and the content is a correct upsert
    val now = TxLog.snapshot(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(now.size === 1001)
    assert(now(150L) === "UPDATED-150" && now(160L) === "UPDATED-160")
    assert(now(5000L) === "NEW-5000")
    assert(now(149L) === "row-149" && now(161L) === "row-161")
    // an all-new-key batch touches NOTHING: zero rewrites, pure insert
    val before2 = TxLog.liveFiles(root, TxLog.headVersion(root)).toSet
    TxLog.merge(spark, root, Seq((7000L, "NEW-7000")).toDF("id", "payload"), "id")
    val after2 = TxLog.liveFiles(root, TxLog.headVersion(root)).toSet
    assert(before2.subsetOf(after2), "an insert-only merge must rewrite no file")
    assert(TxLog.snapshot(spark, root).count() === 1002L)
  }

  test("one merge with matched keys starts at most 5 Spark jobs") {
    import spark.implicits._
    val root = freshTable()
    TxLog.commit(spark, root, batch(0, 400).repartitionByRange(4, col("id")),
      TxLog.Append, statsCols = Seq("id"))
    assert(TxLog.liveStats(root, 1L).size === 4)
    val updates = Seq((150L, "U-150"), (250L, "U-250"), (5000L, "NEW-5000"))
      .toDF("id", "payload")
    val (_, jobs) = TestSpark.jobsStartedBy(TxLog.merge(spark, root, updates, "id"))
    // touched files (1), the tagging shuffle (1), filling the cache (1),
    // the change files' write and the data write (2)
    assert(jobs >= 1 && jobs <= 5, s"one merge started $jobs Spark jobs")
    val now = TxLog.snapshot(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(now.size === 401)
    assert(now(150L) === "U-150" && now(250L) === "U-250" && now(5000L) === "NEW-5000")
  }

  /** Four one-file commits of ids [0, 400) with `id` zone maps. */
  private def fourFiles(): String = {
    val root = freshTable()
    (0 until 4).foreach(k => TxLog.commit(spark, root,
      batch(k * 100, k * 100 + 100).coalesce(1), TxLog.Append, statsCols = Seq("id")))
    root
  }

  /** `body` against `root` registered as a SQL table of a DML session. */
  private def withSqlTable[T](root: String)(body: (org.apache.spark.sql.SparkSession, String) => T): T = {
    val s2 = graft.sources.GraftSession.withDml(spark)
    val tbl = s"txlog_jobs_${java.util.UUID.randomUUID().toString.take(8)}"
    s2.sql(s"CREATE TABLE $tbl USING graft LOCATION '$root'")
    try body(s2, tbl) finally s2.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("an append with zone maps and a bloom index starts exactly one Spark job") {
    val root = freshTable()
    val df = spark.range(0, 400, 1, 4)
      .select(col("id"), concat(lit("row-"), col("id")).as("payload"))
    val (_, jobs) = TestSpark.jobsStartedBy(
      TxLog.append(spark, root, df, Seq("id", "payload"), Map("id" -> 100L)))
    // the write, which records counts, zone maps and bitsets as it goes
    assert(jobs === 1, s"an indexed append started $jobs Spark jobs")
    val r = TxLog.replay(root, 1L)
    assert(r.entries.size === 4)
    assert(r.entries.forall(e => e.stats.contains("id") &&
      e.strStats.contains("payload") && e.blooms.contains("id")))
    assert(TxLog.rowCount(root) === Some(400L))
  }

  test("SQL DELETE on a table without deletion vectors starts at most 3 Spark jobs") {
    val root = fourFiles()
    val (_, jobs) = withSqlTable(root) { (s2, tbl) =>
      TestSpark.jobsStartedBy(
        s2.sql(s"DELETE FROM $tbl WHERE id >= 150 AND id <= 249").head().getLong(0))
    }
    // one pass that fills the matched-row cache and counts per file, the
    // positions' write and the change rows' write
    assert(jobs <= 3, s"one SQL DELETE started $jobs Spark jobs")
    assert(TxLog.snapshot(spark, root).count() === 300L)
    assert(TxLog.rowCount(root) === Some(300L))
    assert(TxLog.changes(spark, root, 4L, 5L, withChangeType = true)
      .filter(col("_change_type") === "delete").count() === 100L)
  }

  test("SQL UPDATE starts at most 4 Spark jobs") {
    val root = fourFiles()
    val (_, jobs) = withSqlTable(root) { (s2, tbl) =>
      TestSpark.jobsStartedBy(
        s2.sql(s"UPDATE $tbl SET payload = 'u' WHERE id >= 150 AND id <= 249").head().getLong(0))
    }
    // the DELETE's three, plus the post-images' commit
    assert(jobs <= 4, s"one SQL UPDATE started $jobs Spark jobs")
    val now = TxLog.snapshot(spark, root).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(now.size === 400 && now(150L) === "u" && now(249L) === "u" && now(250L) === "row-250")
  }

  test("a copy-on-write delete starts at most 2 Spark jobs") {
    val root = fourFiles()
    val (_, jobs) = TestSpark.jobsStartedBy(
      TxLog.delete(spark, root, col("id") >= 150L && col("id") <= 249L, Seq("id")))
    // the change rows' write and the survivors' commit, no count pass
    assert(jobs <= 2, s"one copy-on-write delete started $jobs Spark jobs")
    assert(TxLog.snapshot(spark, root).count() === 300L)
    assert(TxLog.changes(spark, root, 4L, 5L, withChangeType = true)
      .filter(col("_change_type") === "delete").count() === 100L)
  }

  test("a copy-on-write update starts at most 2 Spark jobs") {
    val root = fourFiles()
    val (_, jobs) = TestSpark.jobsStartedBy(
      TxLog.update(spark, root, col("id") >= 150L && col("id") <= 249L,
        Map("payload" -> lit("u")), Seq("id")))
    // the pre/post images' write and the rewritten files' commit
    assert(jobs <= 2, s"one copy-on-write update started $jobs Spark jobs")
    val now = TxLog.snapshot(spark, root).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(now.size === 400 && now(150L) === "u" && now(249L) === "u" && now(250L) === "row-250")
  }

  test("optimize of a table with deletion vectors starts at most 4 Spark jobs") {
    val root = fourFiles()
    TxLog.deleteVectors(spark, root, col("id") % 10 === 3)
    val (_, jobs) = TestSpark.jobsStartedBy(
      TxLog.optimize(spark, root, targetFiles = 2, sortCol = Some("id")))
    // the vector's broadcast, the range sample, the shuffle and the write
    assert(jobs <= 4, s"one optimize started $jobs Spark jobs")
    assert(TxLog.snapshot(spark, root).count() === 360L)
    assert(TxLog.replay(root, TxLog.headVersion(root)).entries.forall(_.dvs.isEmpty))
  }

  test("plain snapshot().filter(...) prunes files at plan time via the file index") {
    val root = freshTable()
    (0 until 4).foreach { k =>
      TxLog.commit(spark, root, batch(k * 100, k * 100 + 100).coalesce(1),
        TxLog.Append, statsCols = Seq("id"))
    }
    val v = TxLog.headVersion(root)
    val q = TxLog.snapshot(spark, root).filter(col("id").between(150, 160))
    val got = q.orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === (150L to 160L))
    // the scan's planned file list must equal the zone-map pruning —
    // the caller never named a range API, the ordinary filter did it
    // (read per-index: the global hook raced concurrent planning)
    assert(TxLogFileIndex.of(q).lastListed.toSet ===
      TxLog.prunedFiles(root, v, "id", 150, 160).toSet)
    assert(TxLogFileIndex.of(q).lastListed.size === 1)
    // unsupported predicate shapes prune nothing and stay correct
    val q2 = TxLog.snapshot(spark, root)
      .filter(length(col("payload")) === lit(7)) // row-N, N<10 → len 5..7
    assert(q2.count() === 300L) // row-100..row-399 have length 7
    assert(TxLogFileIndex.of(q2).lastListed.size === 4)
  }

  test("changes(v1, v2) is the row-level delta of an append-only range") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 10))   // v1
    TxLog.append(spark, root, batch(10, 25))  // v2
    TxLog.append(spark, root, batch(25, 30))  // v3
    val delta = TxLog.changes(spark, root, 1L, 3L)
    assert(delta.columns.contains("_commit_version"))
    val byV = delta.groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byV === Map(2L -> 15L, 3L -> 5L))
    // the subscription contract: snapshot(to) ≡ snapshot(from) ∪ changes
    val rebuilt = TxLog.snapshot(spark, root, Some(1L))
      .unionByName(delta.drop("_commit_version"))
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    val direct = TxLog.snapshot(spark, root, Some(3L))
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(rebuilt === direct)
    // an empty range is empty but schema-complete
    assert(TxLog.changes(spark, root, 3L, 3L).count() === 0L)
    // a rewrite in range refuses: its row delta does not exist
    TxLog.overwrite(spark, root, batch(100, 103)) // v4
    intercept[IllegalArgumentException] {
      TxLog.changes(spark, root, 3L, 4L)
    }
    // ... but ranges strictly after the rewrite work again
    TxLog.append(spark, root, batch(103, 105)) // v5
    assert(TxLog.changes(spark, root, 4L, 5L).count() === 2L)
  }

  test("2-D z-order zone maps: a rectangle read prunes on both columns at once") {
    import spark.implicits._
    val root = freshTable()
    // 64×64 grid; z-order layout gives each of 16 files a small (x, y)
    // rectangle, so BOTH columns' zone maps are selective
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong, x * 64L + y)).toDF("x", "y", "payload")
    val zv = ZOrder.zvalue(grid, "x", "y", bits = 6)
    TxLog.commit(spark, root,
      grid.repartitionByRange(16, zv).sortWithinPartitions(zv),
      TxLog.Append, statsCols = Seq("x", "y"))
    val v = TxLog.headVersion(root)
    val stats = TxLog.liveStats(root, v)
    assert(stats.size === 16)
    val q = TxLog.snapshot(spark, root)
      .filter(col("x").between(10, 15) && col("y").between(20, 25))
    assert(q.count() === 36L)
    // plan-time file set == the 2-D zone-map intersection, and it prunes
    val expected = TxLog.liveFiles(root, v).filter { f =>
      val cs = stats.getOrElse(f, Map.empty)
      cs.get("x").forall { case (lo, hi) => hi >= 10 && lo <= 15 } &&
        cs.get("y").forall { case (lo, hi) => hi >= 20 && lo <= 25 }
    }
    assert(TxLogFileIndex.of(q).lastListed.toSet === expected.toSet)
    assert(expected.size < 16,
      s"z-order rectangle read should prune some of 16 files, kept ${expected.size}")
    // a 1-D slice on the SECOND column alone also prunes — the property
    // a plain x-sort cannot give
    val qy = TxLog.snapshot(spark, root).filter(col("y").between(0, 3))
    qy.count()
    assert(TxLogFileIndex.of(qy).lastListed.size < 16,
      "y-only predicate must prune under z-order layout")
  }

  test("manifests carry sizes and schema: a snapshot resolves from log bytes alone") {
    import spark.implicits._
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 5)) // (id, payload)
    TxLog.append(spark, root,
      Seq((10L, "row-10", "en")).toDF("id", "payload", "lang")) // evolved
    val r = TxLog.replay(root, 2L)
    // every entry records its real byte size — the read path never stats
    // a data file (and on an object store never HEADs one)
    r.entries.foreach { e =>
      assert(e.bytes.contains(
        java.nio.file.Files.size(java.nio.file.Paths.get(s"$root/${e.path}"))),
        s"entry ${e.path} missing/mismatching manifest size ${e.bytes}")
    }
    // the snapshot schema is replayed from the manifests: additive union
    // at head, old schema below the evolution — no footer inference
    assert(r.schema.map(_.fieldNames.sorted.toSeq) === Some(Seq("id", "lang", "payload")))
    assert(TxLog.replay(root, 1L).schema.map(_.fieldNames.sorted.toSeq)
      === Some(Seq("id", "payload")))
    // a carry-bearing merge keeps the recorded schema complete
    TxLog.merge(spark, root, Seq((0L, "U-0")).toDF("id", "payload"), "id")
    val rm = TxLog.replay(root, TxLog.headVersion(root))
    assert(rm.schema.map(_.fieldNames.sorted.toSeq) === Some(Seq("id", "lang", "payload")))
    val head = TxLog.snapshot(spark, root).collect()
      .map(x => x.getLong(0) -> Option(x.getAs[String]("lang"))).toMap
    assert(head(10L) === Some("en") && head(0L) === None)
  }

  test("vacuum skips an in-flight commit window and collects it once stale") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 5)) // v1
    // a normal commit leaves no marker behind
    val inflightDir = java.nio.file.Paths.get(root, "_txlog", "inflight")
    val listMarkers = () => {
      import scala.jdk.CollectionConverters._
      if (!java.nio.file.Files.isDirectory(inflightDir)) Nil
      else {
        val it = java.nio.file.Files.list(inflightDir)
        try it.iterator().asScala.map(_.getFileName.toString).toList
        finally it.close()
      }
    }
    assert(listMarkers() === Nil, "commit must clear its in-flight marker")
    // simulate a committer mid-window: marker + unpublished data dir
    java.nio.file.Files.createDirectories(inflightDir)
    val marker = inflightDir.resolve("txn-window01")
    java.nio.file.Files.createFile(marker)
    batch(90, 95).coalesce(1).write.parquet(s"$root/data/txn-window01")
    assert(TxLog.vacuum(root) === 0,
      "a live in-flight window's files must survive vacuum")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data/txn-window01")))
    // the committer crashed: the marker ages past the grace and the
    // residue becomes ordinary garbage (marker GC'd with it)
    java.nio.file.Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime.fromMillis(0L))
    assert(TxLog.vacuum(root) >= 1, "stale in-flight residue must be collected")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data/txn-window01")))
    assert(listMarkers() === Nil, "stale marker must be GC'd")
    assert(TxLog.snapshot(spark, root).count() === 5L)
  }

  test("exactly-once bookkeeping is checkpoint-bounded and survives rewrites") {
    val root = freshTable()
    // 25 idempotent-keyed commits: the txnId→version map crosses two
    // checkpoints (CheckpointEvery = 10)
    (0 until 25).foreach(k =>
      TxLog.appendOnce(spark, root, s"batch#$k", batch(k * 2, k * 2 + 2)))
    TxLog.manifestReads.set(0L)
    // replaying a txnId COMMITTED BEFORE the last checkpoint must be a
    // no-op (the checkpoint carries the map) at checkpoint-bounded cost
    // — round 7's bookkeeping scanned every manifest per appendOnce,
    // O(stream-lifetime²) over a streaming sink's life
    assert(TxLog.appendOnce(spark, root, "batch#3", batch(6, 8)) === 4L)
    assert(TxLog.manifestReads.get() <= TxLog.CheckpointEvery + 1,
      s"appendOnce read ${TxLog.manifestReads.get()} manifests; bound is ${TxLog.CheckpointEvery + 1}")
    assert(TxLog.headVersion(root) === 25L)
    assert(TxLog.snapshot(spark, root).count() === 50L)
    // a rewrite must NOT reset the map: replay after OPTIMIZE still no-ops
    TxLog.optimize(spark, root, targetFiles = 2, sortCol = Some("id")) // v26
    assert(TxLog.appendOnce(spark, root, "batch#7", batch(14, 16)) === 8L)
    assert(TxLog.headVersion(root) === 26L,
      "a replayed batch after a rewrite must not double-land")
    // ... and destroying the pre-checkpoint manifests doesn't lose it
    (1 to 19).foreach { k =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "_txlog", f"v$k%08d.json"),
        "garbage".getBytes)
    }
    assert(TxLog.appendOnce(spark, root, "batch#2", batch(4, 6)) === 3L)
    assert(TxLog.headVersion(root) === 26L)
  }

  test("restore is a metadata-only commit: old state back, history intact, no data moved") {
    val root = freshTable()
    TxLog.commit(spark, root, batch(0, 10).coalesce(1), TxLog.Append,
      statsCols = Seq("id"))                       // v1
    TxLog.overwrite(spark, root, batch(100, 103))  // v2 — bad deploy
    val dataFilesBefore = TxLog.liveFiles(root, 1L).toSet
    val v = TxLog.restore(spark, root, 1L)         // v3
    assert(v === 3L)
    // the restored head IS v1's state: same files BY REFERENCE (no new
    // data dir — a 100 TB restore moves zero bytes), same rows, and the
    // zone maps came along (pruning still works)
    assert(TxLog.liveFiles(root, v).toSet === dataFilesBefore)
    assert(TxLog.snapshot(spark, root).orderBy("id")
      .collect().map(_.getLong(0)).toSeq === (0L until 10L))
    assert(TxLog.prunedFiles(root, v, "id", 3, 4).size === 1)
    // history preserved: the bad v2 is still time-travelable
    assert(TxLog.snapshot(spark, root, Some(2L)).count() === 3L)
    // and the schema restored from the log (no inference fallback)
    assert(TxLog.replay(root, v).schema.map(_.fieldNames.sorted.toSeq)
      === Some(Seq("id", "payload")))
  }

  test("a future-format manifest is refused loudly, never silently misparsed") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 5)) // v1, fmt = current
    assert(TxLog.snapshot(spark, root).count() === 5L)
    // a v3-format writer committed something this reader can't understand
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_txlog", "v00000002.json"),
      s"""{"version":2,"fmt":${TxLog.FormatVersion + 1},"action":"append","files":[]}"""
        .getBytes)
    val e = intercept[java.io.IOException] {
      TxLog.snapshot(spark, root).count()
    }
    assert(e.getMessage.contains("format"), e.getMessage)
    // versions BELOW the upgrade stay readable (their replay never
    // touches the future manifest)
    assert(TxLog.snapshot(spark, root, Some(1L)).count() === 5L)
  }

  test("vacuum's keep-set is ONE forward replay, not one replay per retained version") {
    val root = freshTable()
    (0 until 25).foreach(k => TxLog.append(spark, root, batch(k * 10, k * 10 + 10)))
    TxLog.overwrite(spark, root, batch(0, 5)) // v26
    TxLog.manifestReads.set(0L)
    assert(TxLog.vacuum(root) === 0) // full retention: nothing collectable
    val reads = TxLog.manifestReads.get()
    // checkpoint-bounded resolve at the horizon + ONE manifest read per
    // later version (+ slack for the TOCTOU head re-check) — round 8
    // replayed per retained version, O(versions · CheckpointEvery)
    val bound = 26 + TxLog.CheckpointEvery + 2
    assert(reads <= bound,
      s"vacuum read $reads manifests; one-forward-pass bound is $bound")
    // and the collection semantics are unchanged: retain-head collects
    // the pre-overwrite files, the head snapshot survives
    assert(TxLog.vacuum(root, retainFrom = 26L) >= 1)
    assert(TxLog.snapshot(spark, root).count() === 5L)
  }

  test("a legacy checkpoint without a txns map falls back to manifest scan, not amnesia") {
    val root = freshTable()
    (0 until 12).foreach(k =>
      TxLog.appendOnce(spark, root, s"batch#$k", batch(k * 2, k * 2 + 2)))
    // simulate a pre-fmt-2 checkpoint: strip the fmt and txns fields
    val cp = java.nio.file.Paths.get(root, "_txlog", "c00000010.json")
    val txt = new String(java.nio.file.Files.readAllBytes(cp),
      java.nio.charset.StandardCharsets.UTF_8)
    val legacy = txt.replaceAll(""""fmt":\d+,""", "")
      .replaceAll(""","txns":\{[^}]*\}""", "")
    assert(legacy != txt, "fixture must actually strip the fmt-2 fields")
    java.nio.file.Files.write(cp,
      legacy.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // replaying a txnId committed BELOW the legacy checkpoint must still
    // no-op: absent-from-checkpoint means UNKNOWN on a legacy chain, and
    // the fallback rescans the pre-checkpoint manifests once
    assert(TxLog.appendOnce(spark, root, "batch#3", batch(6, 8)) === 4L)
    assert(TxLog.headVersion(root) === 12L,
      "a replayed microbatch double-landed off a legacy checkpoint")
  }

  test("snapshotRange keeps the legacy truncate-toward-zero boundary on non-integral columns") {
    import spark.implicits._
    val root = freshTable()
    TxLog.append(spark, root,
      Seq((58.9, "edge"), (30.2, "low"), (59.5, "out")).toDF("d", "tag"))
    // the filter column casts to long FIRST: 58.9 → 58 is kept by
    // between(31, 58); 30.2 → 30 and 59.5 → 59 are out
    val kept = TxLog.snapshotRange(spark, root, "d", 31, 58)
      .collect().map(_.getString(1)).toSet
    assert(kept === Set("edge"), s"got $kept")
  }

  test("snapshotRange's long-cast wrapper still prunes integral zone maps") {
    import spark.implicits._
    val root = freshTable()
    (0 until 4).foreach { k =>
      TxLog.commit(spark, root,
        (k * 100 until (k + 1) * 100).map(i => (i, s"row-$i"))
          .toDF("iid", "payload").coalesce(1),
        TxLog.Append, statsCols = Seq("iid"))
    }
    // iid is INT: the wrapper's cast("long") wraps the attribute, and the
    // index (or Catalyst's unwrap rule) must see through the upcast
    val q = TxLog.snapshotRange(spark, root, "iid", 150, 160)
    assert(q.count() === 11L)
    assert(TxLogFileIndex.of(q).lastListed.size === 1,
      "cast(long) range filter lost zone-map pruning")
  }

  test("string zone maps prune a lang-clustered corpus on its hottest predicates") {
    import spark.implicits._
    val root = freshTable()
    val langs = Seq("de", "en", "fr", "ja")
    langs.foreach { l =>
      TxLog.commit(spark, root,
        (0 until 50).map(i => (l, s"$l-doc-$i")).toDF("lang", "text").coalesce(1),
        TxLog.Append, statsCols = Seq("lang"))
    }
    // equality — the `lang = 'en'` shape a 100 TB corpus filters hardest on
    val q = TxLog.snapshot(spark, root).filter(col("lang") === "en")
    assert(q.count() === 50L)
    assert(TxLogFileIndex.of(q).lastListed.size === 1,
      "lang = 'en' must open only the en file")
    // IN-list and prefix predicates prune too
    val q2 = TxLog.snapshot(spark, root).filter(col("lang").isin("de", "fr"))
    assert(q2.count() === 100L)
    assert(TxLogFileIndex.of(q2).lastListed.size === 2)
    val q3 = TxLog.snapshot(spark, root).filter(col("lang").startsWith("j"))
    assert(q3.count() === 50L)
    assert(TxLogFileIndex.of(q3).lastListed.size === 1)
    // a >64-char value truncates: max degrades to unbounded-above, min
    // stays a valid (prefix) lower bound — and still prunes an 'en' probe
    TxLog.commit(spark, root,
      Seq(("zz" + "x" * 100, "long")).toDF("lang", "text").coalesce(1),
      TxLog.Append, statsCols = Seq("lang"))
    val v = TxLog.headVersion(root)
    val longStats = TxLog.liveStrStats(root, v).values.flatMap(_.get("lang")).toSeq
    assert(longStats.exists { case (lo, hi) =>
      lo.length == TxLog.StrStatMaxLen && hi.isEmpty })
    val q4 = TxLog.snapshot(spark, root).filter(col("lang") === "en")
    assert(q4.count() === 50L)
    assert(TxLogFileIndex.of(q4).lastListed.size === 1,
      "the truncated file's lower bound must still exclude an 'en' probe")
  }

  test("string stats with hostile characters round-trip the manifest") {
    import spark.implicits._
    val root = freshTable()
    // quotes, backslashes, braces, brackets, control chars — anything
    // that could terminate the manifest's stats object early
    val nasty = Seq("a\"b\\c{d}e[f]\n\ttail", "zz-plain")
    TxLog.commit(spark, root, nasty.map(x => (x, 1)).toDF("s", "n").coalesce(1),
      TxLog.Append, statsCols = Seq("s"))
    val st = TxLog.liveStrStats(root, 1L).values.head("s")
    assert(st._1 === nasty.min && st._2 === Some(nasty.max))
    assert(TxLog.snapshot(spark, root).count() === 2L)
    // and the escaped entry never breaks a later-appended plain one
    TxLog.commit(spark, root, Seq(("mm", 2)).toDF("s", "n").coalesce(1),
      TxLog.Append, statsCols = Seq("s"))
    assert(TxLog.liveStrStats(root, 2L).size === 2)
  }

  test("steady-state commits and reads never LIST the log directory (head pointer)") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 5))
    TxLog.append(spark, root, batch(5, 10))
    // a commit resolves the head from the pointer + forward probes; on
    // an object store a LIST is a paged billed O(V) call per attempt
    TxLog.dirLists.set(0L)
    TxLog.append(spark, root, batch(10, 15))
    assert(TxLog.dirLists.get() === 0L,
      s"a steady-state commit LISTed the log dir ${TxLog.dirLists.get()}×")
    TxLog.dirLists.set(0L)
    assert(TxLog.snapshot(spark, root).count() === 15L)
    assert(TxLog.dirLists.get() === 0L, "a snapshot read LISTed the log dir")
    // stale pointer: probes walk forward past it, never a wrong answer
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_txlog", "_head"), "1".getBytes)
    assert(TxLog.headVersion(root) === 3L)
    // pointer-less legacy chain: ONE list rebuilds, the next commit
    // restores the pointer
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_txlog", "_head"))
    TxLog.dirLists.set(0L)
    assert(TxLog.headVersion(root) === 3L)
    assert(TxLog.dirLists.get() >= 1L)
    TxLog.append(spark, root, batch(15, 20))
    TxLog.dirLists.set(0L)
    assert(TxLog.headVersion(root) === 4L)
    assert(TxLog.dirLists.get() === 0L)
  }

  test("date and timestamp columns carry zone maps in their Catalyst-internal image") {
    import spark.implicits._
    val root = freshTable()
    val rows = (0 until 90).map { i =>
      (i.toLong,
        java.sql.Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(i)),
        java.sql.Timestamp.from(
          java.time.Instant.parse("1995-01-01T00:00:00Z").plusSeconds(i * 86400L)))
    }.toDF("id", "dt", "ts")
    (0 until 3).foreach(m => TxLog.commit(spark, root,
      rows.filter(col("id").between(m * 30, m * 30 + 29)).coalesce(1),
      TxLog.Append, statsCols = Seq("dt", "ts")))
    // a date-literal range — the fact-table predicate shape — prunes to
    // the one file whose day range can match
    val q = TxLog.snapshot(spark, root).filter(col("dt").between(
      lit(java.sql.Date.valueOf("1995-02-01")),
      lit(java.sql.Date.valueOf("1995-02-10"))))
    assert(q.count() === 10L)
    assert(TxLogFileIndex.of(q).lastListed.size === 1,
      "date zone maps must isolate the one covering file")
    // a timestamp lower bound prunes files entirely below it
    val q2 = TxLog.snapshot(spark, root).filter(col("ts") >= lit(
      java.sql.Timestamp.from(java.time.Instant.parse("1995-03-05T00:00:00Z"))))
    assert(q2.count() === 27L)
    assert(TxLogFileIndex.of(q2).lastListed.size === 1,
      "timestamp zone maps must drop files ending before the bound")
  }

  test("TIMESTAMP AS OF resolves by commit time in O(log V) manifest reads") {
    val root = freshTable()
    (0 until 12).foreach(k => TxLog.append(spark, root, batch(k * 5, k * 5 + 5)))
    val hist = TxLog.history(spark, root).orderBy("version").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("commit_ts")).toMap
    assert(hist.values.forall(_ > 0L), "every commit must record its timestamp")
    // pick a version whose successor committed in a LATER millisecond, so
    // the boundary is unambiguous (parquet commits take ≫1 ms, but don't
    // bet a test on it)
    val v = (1L to 11L).find(v => hist(v + 1) > hist(v)).get
    assert(TxLog.snapshotAsOf(spark, root, hist(v)).count() === v * 5)
    assert(TxLog.snapshotAsOf(spark, root, System.currentTimeMillis())
      .count() === 60L)
    intercept[IllegalArgumentException] {
      TxLog.snapshotAsOf(spark, root, hist(1L) - 1)
    }
    // binary search, not a per-version scan
    TxLog.manifestReads.set(0L)
    TxLog.snapshotAsOf(spark, root, hist(v)).count()
    assert(TxLog.manifestReads.get() <= 6 + TxLog.CheckpointEvery + 1,
      s"asOf read ${TxLog.manifestReads.get()} manifests; want ~log2(12) + one replay")
  }

  test("vacuum clamps the retention horizon to the head: current files always survive") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 5))      // v1
    TxLog.overwrite(spark, root, batch(10, 15)) // v2
    // a horizon PAST the head must behave as retain-head, never delete-all
    val deleted = TxLog.vacuum(root, retainFrom = 99L)
    assert(TxLog.snapshot(spark, root).count() === 5L,
      "head snapshot files must survive any retention horizon")
    assert(deleted >= 1, "the overwritten v1 files are legitimately collectable")
  }
}
