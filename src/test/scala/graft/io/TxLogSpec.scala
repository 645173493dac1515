package graft.io

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The transaction-log guarantees, each proven mechanically:
  * concurrent committers serialize without loss, snapshots are immune to
  * later commits, overwrite resets the live set, and time travel replays
  * any historical version byte-for-byte.
  */
class TxLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshTable(): String = Zones.tempDir("txlog")

  private def batch(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"row-$i")).toDF("id", "payload")
  }

  test("append commits are serialized and contiguous under 8 concurrent committers") {
    val root = freshTable()
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val commits = (0 until 8).map { k =>
        Future(TxLog.append(spark, root, batch(k * 10, k * 10 + 10)))
      }
      val versions = Await.result(Future.sequence(commits), 120.seconds)
      // every committer got a DISTINCT version and the chain has no gaps —
      // the atomic hard-link claim is what forces this
      assert(versions.sorted == (1L to 8L))
      assert(TxLog.versions(root) == (1L to 8L))
      val all = TxLog.snapshot(spark, root)
      assert(all.count() === 80L)
      assert(all.agg(countDistinct(col("id"))).head.getLong(0) === 80L)
    } finally pool.shutdown()
  }

  test("a pinned snapshot is repeatable while later commits land") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 5))
    TxLog.append(spark, root, batch(5, 10))
    val pinned = TxLog.snapshot(spark, root, Some(2L))
    val before = pinned.orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(before == (0L until 10L))
    // commits after the pin: the resolved file list never mentions them
    TxLog.append(spark, root, batch(10, 15))
    TxLog.overwrite(spark, root, batch(100, 103))
    val after = pinned.orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(after == before, "snapshot changed under a concurrent writer")
    assert(TxLog.snapshot(spark, root).count() === 3L, "head must see only the overwrite")
  }

  test("overwrite resets the live set; time travel still reads every older version") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 4))     // v1
    TxLog.append(spark, root, batch(4, 6))     // v2
    TxLog.overwrite(spark, root, batch(50, 53)) // v3
    TxLog.append(spark, root, batch(53, 54))   // v4
    assert(TxLog.snapshot(spark, root, Some(1L)).count() === 4L)
    assert(TxLog.snapshot(spark, root, Some(2L)).count() === 6L)
    assert(TxLog.snapshot(spark, root, Some(3L)).count() === 3L)
    assert(TxLog.snapshot(spark, root, Some(4L)).count() === 4L)
    val ids4 = TxLog.snapshot(spark, root, Some(4L))
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(ids4 == (50L until 54L), "post-overwrite chain must not resurrect pre-overwrite files")
  }

  test("history reports one row per version with the committed action") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 2))
    TxLog.overwrite(spark, root, batch(2, 4))
    val h = TxLog.history(spark, root).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(h.map(_.getString(1)).toSeq == Seq("append", "overwrite"))
    assert(h.forall(_.getAs[Long]("n_files") >= 1L))
    // plain commits render their action as the operation
    assert(h.map(_.getAs[String]("operation")).toSeq == Seq("APPEND", "OVERWRITE"))
  }

  test("manifests reference only fully-written parquet files (no partial visibility)") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 10))
    val files = TxLog.liveFiles(root, 1L)
    assert(files.nonEmpty)
    files.foreach { f =>
      val p = java.nio.file.Paths.get(f)
      assert(java.nio.file.Files.exists(p), s"manifest lists missing file $f")
      assert(java.nio.file.Files.size(p) > 0L, s"manifest lists empty file $f")
    }
    // no temp-claim residue in the log directory
    val leftovers = {
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(root, "_txlog"))
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(".tmp")).toList
      } finally it.close()
    }
    assert(leftovers.isEmpty, s"unreclaimed claim temps: $leftovers")
  }

  test("vacuum removes only what no retained snapshot can reach") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 5))       // v1
    TxLog.overwrite(spark, root, batch(10, 15))  // v2 — v1's files now unreachable from v2+
    TxLog.append(spark, root, batch(15, 20))     // v3
    // full retention: nothing reachable may go
    assert(TxLog.vacuum(root, retainFrom = 1L) === 0)
    assert(TxLog.snapshot(spark, root, Some(1L)).count() === 5L)
    // retain from v2: v1's overwritten files are the only garbage
    val deleted = TxLog.vacuum(root, retainFrom = 2L)
    assert(deleted >= 1, "the overwritten v1 data must be collected")
    assert(TxLog.snapshot(spark, root, Some(2L)).count() === 5L)
    assert(TxLog.snapshot(spark, root, Some(3L)).count() === 10L)
    intercept[Throwable] { // pre-horizon time travel is gone by contract
      TxLog.snapshot(spark, root, Some(1L)).count()
    }
  }

  test("appendOnce is exactly-once under batch replay") {
    val root = freshTable()
    assert(TxLog.appendOnce(spark, root, "stream#0", batch(0, 5)) === 1L)
    assert(TxLog.appendOnce(spark, root, "stream#1", batch(5, 10)) === 2L)
    // failure recovery re-delivers batch 1: same version back, no new data
    assert(TxLog.appendOnce(spark, root, "stream#1", batch(5, 10)) === 2L)
    assert(TxLog.headVersion(root) === 2L)
    assert(TxLog.snapshot(spark, root).count() === 10L)
    // an interleaved plain append does not confuse the txn bookkeeping
    TxLog.append(spark, root, batch(10, 12))
    assert(TxLog.appendOnce(spark, root, "stream#2", batch(12, 15)) === 4L)
    assert(TxLog.appendOnce(spark, root, "stream#2", batch(12, 15)) === 4L)
    assert(TxLog.snapshot(spark, root).count() === 15L)
  }

  test("merge upserts by key: matched rows replaced, unmatched inserted, history preserved") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 6)) // ids 0..5, payload row-i
    import spark.implicits._
    val updates = Seq((4L, "UPDATED-4"), (5L, "UPDATED-5"), (9L, "NEW-9"))
      .toDF("id", "payload")
    val v = TxLog.merge(spark, root, updates, "id")
    assert(v === 2L)
    val now = TxLog.snapshot(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(now === Seq(0L -> "row-0", 1L -> "row-1", 2L -> "row-2",
      3L -> "row-3", 4L -> "UPDATED-4", 5L -> "UPDATED-5", 9L -> "NEW-9"))
    // pre-merge snapshot is intact (copy-on-write, not in-place)
    val old = TxLog.snapshot(spark, root, Some(1L)).filter(col("id") === 4L)
      .head.getString(1)
    assert(old === "row-4")
  }

  /** Appends `df` as one zone-mapped file; returns the file's path. */
  private def appendFile(root: String, df: org.apache.spark.sql.DataFrame): String = {
    val before = TxLog.liveFiles(root, TxLog.headVersion(root)).toSet
    val v = TxLog.commit(spark, root, df.coalesce(1), TxLog.Append, statsCols = Seq("id"))
    val added = TxLog.liveFiles(root, v).toSet -- before
    assert(added.size === 1)
    added.head
  }

  private def lastAction(root: String): String =
    TxLog.history(spark, root).orderBy(desc("version")).head().getString(1)

  /** The version's change rows as (id, payload, _change_type), sorted. */
  private def changeRows(root: String, v: Long): Seq[(Option[Long], String, String)] =
    TxLog.changes(spark, root, v - 1, v, withChangeType = true)
      .select("id", "payload", "_change_type").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1), r.getString(2)))
      .toSeq.sortBy(t => (t._1, t._3, t._2))

  test("merge rewrites every file whose zone map holds a key, overlapping ranges included") {
    import spark.implicits._
    val root = freshTable()
    val a = appendFile(root, Seq(0L, 5L, 10L).map(i => (i, s"row-$i")).toDF("id", "payload"))
    val b = appendFile(root, Seq(8L, 12L, 20L).map(i => (i, s"row-$i")).toDF("id", "payload"))
    val c = appendFile(root, Seq(30L, 40L).map(i => (i, s"row-$i")).toDF("id", "payload"))
    // 9 lies inside both [0, 10] and [8, 20] and matches no row: both rewrite
    TxLog.merge(spark, root, Seq((9L, "NEW-9")).toDF("id", "payload"), "id")
    val after = TxLog.liveFiles(root, TxLog.headVersion(root)).toSet
    assert(!after(a) && !after(b) && after(c), s"live after the merge: $after")
    assert(lastAction(root) === "overwrite")
    // 25 falls in the gap between [0, 20] and [30, 40]: nothing rewrites
    TxLog.merge(spark, root, Seq((25L, "NEW-25")).toDF("id", "payload"), "id")
    assert(after.subsetOf(TxLog.liveFiles(root, TxLog.headVersion(root)).toSet))
    assert(lastAction(root) === "append")
    val ids = TxLog.snapshot(spark, root).select("id").as[Long].collect().toSeq.sorted
    assert(ids === Seq(0L, 5L, 8L, 9L, 10L, 12L, 20L, 25L, 30L, 40L))
  }

  test("a null-key update row inserts and never replaces a live null-key row") {
    import spark.implicits._
    val root = freshTable()
    appendFile(root, Seq((Some(1L), "one"), (None, "live-null"), (Some(2L), "two"))
      .toDF("id", "payload"))
    val v = TxLog.merge(spark, root,
      Seq((None: Option[Long], "upd-null"), (Some(1L), "U1")).toDF("id", "payload"), "id")
    val now = TxLog.snapshot(spark, root).select("id", "payload").as[(Option[Long], String)]
      .collect().toSeq.sortBy(t => (t._1, t._2))
    assert(now === Seq((None, "live-null"), (None, "upd-null"), (Some(1L), "U1"), (Some(2L), "two")))
    assert(changeRows(root, v) === Seq(
      (None, "upd-null", "insert"),
      (Some(1L), "U1", "update_postimage"),
      (Some(1L), "one", "update_preimage")))
  }

  test("duplicate update keys all land, each as an update_postimage") {
    import spark.implicits._
    val root = freshTable()
    appendFile(root, batch(0, 5))
    val v = TxLog.merge(spark, root,
      Seq((2L, "A"), (2L, "B"), (7L, "C"), (7L, "D")).toDF("id", "payload"), "id")
    val now = TxLog.snapshot(spark, root).select("id", "payload").as[(Long, String)]
      .collect().toSeq.sorted
    assert(now === Seq(0L -> "row-0", 1L -> "row-1", 2L -> "A", 2L -> "B",
      3L -> "row-3", 4L -> "row-4", 7L -> "C", 7L -> "D"))
    assert(changeRows(root, v) === Seq(
      (Some(2L), "A", "update_postimage"),
      (Some(2L), "B", "update_postimage"),
      (Some(2L), "row-2", "update_preimage"),
      (Some(7L), "C", "insert"),
      (Some(7L), "D", "insert")))
  }

  test("an all-null-key merge is a pure append: no file rewritten, no change files") {
    import spark.implicits._
    val root = freshTable()
    appendFile(root, batch(0, 10))
    val before = TxLog.liveFiles(root, TxLog.headVersion(root)).toSet
    TxLog.merge(spark, root,
      Seq((None: Option[Long], "n1"), (None: Option[Long], "n2")).toDF("id", "payload"), "id")
    assert(lastAction(root) === "append")
    assert(before.subsetOf(TxLog.liveFiles(root, TxLog.headVersion(root)).toSet))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_change_data")))
    assert(TxLog.snapshot(spark, root).count() === 12L)
  }

  test("merge writes data and change files with the key column first") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = freshTable()
    appendFile(root, Seq(("row-1", 10, 1L), ("row-2", 20, 2L)).toDF("payload", "n", "id"))
    val v = TxLog.merge(spark, root,
      Seq((2L, "U2", "t2"), (3L, "NEW-3", "t3")).toDF("id", "payload", "tag"), "id")
    def fields(path: String): Seq[(String, DataType)] =
      spark.read.parquet(path).schema.fields.map(f => f.name -> f.dataType).toSeq
    val rewritten = TxLog.liveFiles(root, v).toSet -- TxLog.liveFiles(root, v - 1)
    assert(rewritten.nonEmpty)
    rewritten.foreach(f => assert(fields(f) === Seq("id" -> LongType,
      "payload" -> StringType, "n" -> IntegerType, "tag" -> StringType)))
    val changeFiles = new java.io.File(root, "_change_data").listFiles().toSeq
    assert(changeFiles.size === 1)
    assert(fields(changeFiles.head.getPath) === Seq("id" -> LongType,
      "payload" -> StringType, "n" -> IntegerType, "_change_type" -> StringType,
      "tag" -> StringType))
  }

  test("merge keeps the key layout: a later merge hitting one key rewrites one file") {
    import spark.implicits._
    val root = freshTable()
    val v0 = TxLog.commit(spark, root, batch(0, 400).repartitionByRange(4, col("id")),
      TxLog.Append, statsCols = Seq("id"))
    val ranges = TxLog.liveStats(root, v0).values.map(_("id")).toSeq.sorted
    assert(ranges.size === 4)
    def mergeKeys(keys: Long*): Long =
      TxLog.merge(spark, root, keys.map(k => (k, s"U-$k")).toDF("id", "payload"), "id")
    def rewritten(v: Long): Int =
      (TxLog.liveFiles(root, v - 1).toSet -- TxLog.liveFiles(root, v)).size
    // touches the 2nd and 3rd files and inserts above every range
    val first = mergeKeys(ranges(1)._1 + 10, ranges(2)._1 + 10, 5000L)
    assert(rewritten(first) === 2)
    val fresh = TxLog.liveStats(root, first) -- TxLog.liveFiles(root, v0)
    val allowed = Seq(ranges(1), ranges(2), (5000L, 5000L))
    fresh.values.map(_("id")).foreach { case (lo, hi) =>
      assert(allowed.exists { case (a, b) => a <= lo && hi <= b },
        s"rewritten file's zone map [$lo, $hi] leaves the touched ranges $allowed")
    }
    // a key of the untouched 4th file, then one of the rewritten 2nd file
    assert(rewritten(mergeKeys(ranges(3)._1)) === 1)
    assert(rewritten(mergeKeys(ranges(1)._1)) === 1)
    val now = TxLog.snapshot(spark, root).select("id", "payload").as[(Long, String)]
      .collect().toMap
    assert(now.size === 401)
    Seq(ranges(1)._1, ranges(1)._1 + 10, ranges(2)._1 + 10, ranges(3)._1, 5000L)
      .foreach(k => assert(now(k) === s"U-$k"))
  }

  test("checkpoints bound replay: reads above a checkpoint never touch older manifests") {
    val root = freshTable()
    // 25 commits with CheckpointEvery = 10 → checkpoints at v10 and v20
    (0 until 25).foreach(k => TxLog.append(spark, root, batch(k * 2, k * 2 + 2)))
    val ckpts = {
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(root, "_txlog"))
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.map(_.getFileName.toString)
          .filter(_.matches("""c\d{8}\.json""")).toList.sorted
      } finally it.close()
    }
    assert(ckpts === List("c00000010.json", "c00000020.json"))
    assert(TxLog.snapshot(spark, root).count() === 50L)
    assert(TxLog.snapshot(spark, root, Some(15L)).count() === 30L)
    // destroy an early manifest: replay for any pin ≥ 10 starts at a
    // checkpoint and must not care; a pin below the first checkpoint needs
    // it and must fail — proof the replay REALLY starts at the checkpoint
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_txlog", "v00000003.json"),
      "garbage".getBytes)
    assert(TxLog.snapshot(spark, root).count() === 50L)
    assert(TxLog.snapshot(spark, root, Some(12L)).count() === 24L)
    intercept[Throwable] { TxLog.snapshot(spark, root, Some(5L)).count() }
  }

  test("per-file stats prune a range read to the matching commits only") {
    val root = freshTable()
    // 4 commits with disjoint id ranges, stats on id — zone maps disjoint
    (0 until 4).foreach { k =>
      TxLog.commit(spark, root, batch(k * 100, k * 100 + 100).coalesce(1),
        TxLog.Append, statsCols = Seq("id"))
    }
    // plus one stats-free commit: must never be skipped
    TxLog.append(spark, root, batch(1000, 1001).coalesce(1))
    val v = TxLog.headVersion(root)
    val all = TxLog.liveFiles(root, v)
    val pruned = TxLog.prunedFiles(root, v, "id", 150, 160)
    assert(pruned.size < all.size, "pruning must drop non-matching files")
    // exactly: the k=1 commit's file + the stats-free file
    assert(pruned.size === 2, s"expected 2 candidate files, got ${pruned.size}")
    val got = TxLog.snapshotRange(spark, root, "id", 150, 160)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === (150L to 160L))
    // boundary inclusivity: a range touching a file's max must read it
    assert(TxLog.snapshotRange(spark, root, "id", 99, 100).count() === 2L)
    // stats survive replay order under an overwrite reset
    TxLog.commit(spark, root, batch(5000, 5100).coalesce(1),
      TxLog.Overwrite, statsCols = Seq("id"))
    assert(TxLog.prunedFiles(root, TxLog.headVersion(root), "id", 0, 400).isEmpty,
      "overwrite must reset the zone maps with the live set")
  }

  test("date zone maps of pre-1582 dates written with LEGACY rebase never skip live rows") {
    // LEGACY writes hybrid-calendar day counts into the parquet footers;
    // pushed-down literals are proleptic, so zone maps must be proleptic
    val key = "spark.sql.parquet.datetimeRebaseModeInWrite"
    val prev = spark.conf.getOption(key)
    val root = freshTable()
    val days = Seq("1000-01-01", "1000-01-04", "1000-01-07", "1000-01-10", "1500-06-15")
    val src = {
      import spark.implicits._
      days.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "s")
        .select(col("id"), to_date(col("s")).as("d"))
    }
    spark.conf.set(key, "LEGACY")
    try days.indices.foreach { i =>
      TxLog.commit(spark, root, src.filter(col("id") === i.toLong).coalesce(1),
        TxLog.Append, statsCols = Seq("d"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    def ids(df: org.apache.spark.sql.DataFrame, lo: String, hi: String): Seq[Long] =
      df.filter(col("d").between(to_date(lit(lo)), to_date(lit(hi))))
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
    val snap = TxLog.snapshot(spark, root)
    for ((lo, hi) <- days.map(d => (d, d)) ++ Seq(
        ("1000-01-02", "1000-01-08"), ("0999-12-20", "1000-01-01"), ("1000-01-10", "1600-01-01")))
      assert(ids(snap, lo, hi) === ids(src, lo, hi), s"range [$lo, $hi]")
  }

  test("optimize compacts and range-clusters without changing content or history") {
    val root = freshTable()
    // 6 interleaved commits: ids NOT clustered by file
    (0 until 6).foreach { k =>
      import spark.implicits._
      val rows = (0 until 60).filter(_ % 6 == k)
        .map(i => (i.toLong, s"row-$i")).toDF("id", "payload")
      TxLog.append(spark, root, rows.coalesce(1))
    }
    val before = TxLog.snapshot(spark, root).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    val preVersion = TxLog.headVersion(root)
    // every file spans nearly the whole id range: pruning is useless
    assert(TxLog.prunedFiles(root, preVersion, "id", 10, 15).size ===
      TxLog.liveFiles(root, preVersion).size)
    val v = TxLog.optimize(spark, root, targetFiles = 3, sortCol = Some("id"))
    assert(v === preVersion + 1)
    // content byte-identical, file count compacted
    val after = TxLog.snapshot(spark, root).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(after === before, "optimize must not change table content")
    assert(TxLog.liveFiles(root, v).size === 3)
    // range clustering: a narrow range now touches ONE file
    assert(TxLog.prunedFiles(root, v, "id", 10, 15).size === 1,
      "range-sorted rewrite must make zone maps disjoint")
    // pre-optimize snapshots read their own (untouched) files
    assert(TxLog.snapshot(spark, root, Some(preVersion)).count() === 60L)
    assert(TxLog.snapshot(spark, root, Some(3L)).count() === 30L)
  }

  test("concurrent merges serialize: no lost update under read-modify-write races") {
    import spark.implicits._
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 10)) // ids 0..9, payload row-i
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // two merges over DISJOINT keys race; without the expectHead
      // conflict check, whichever overwrite lands second was derived from
      // the PRE-race snapshot and silently reverts the first one
      val m1 = Future(TxLog.merge(spark, root,
        Seq((2L, "M1-2"), (20L, "M1-20")).toDF("id", "payload"), "id"))
      val m2 = Future(TxLog.merge(spark, root,
        Seq((5L, "M2-5"), (50L, "M2-50")).toDF("id", "payload"), "id"))
      Await.result(Future.sequence(Seq(m1, m2)), 180.seconds)
      val now = TxLog.snapshot(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(now.size === 12, s"expected 12 rows, got ${now.size}")
      assert(now(2L) === "M1-2" && now(20L) === "M1-20", "merge 1 effect lost")
      assert(now(5L) === "M2-5" && now(50L) === "M2-50", "merge 2 effect lost")
    } finally pool.shutdown()
  }

  test("additive schema evolution: head reads the union schema, time travel the old one") {
    import spark.implicits._
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 3)) // (id, payload)
    TxLog.append(spark, root,
      Seq((10L, "row-10", "en")).toDF("id", "payload", "lang"))
    val head = TxLog.snapshot(spark, root)
    assert(head.columns.sorted.toSeq === Seq("id", "lang", "payload"))
    val byId = head.collect().map(r => r.getLong(0) ->
      Option(r.getAs[String]("lang"))).toMap
    assert(byId(10L) === Some("en"))
    assert(byId(0L) === None, "pre-evolution rows must backfill null")
    // time travel below the evolution: old schema only
    assert(TxLog.snapshot(spark, root, Some(1L)).columns.sorted.toSeq
      === Seq("id", "payload"))
  }

  test("vacuum collects aborted-commit residue (data dir with no manifest)") {
    val root = freshTable()
    TxLog.append(spark, root, batch(0, 5))
    // simulate a crash between data write and manifest publish
    batch(90, 95).write.parquet(s"$root/data/txn-aborted0001")
    val deleted = TxLog.vacuum(root)
    assert(deleted >= 1, "unpublished data files must be collected")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data/txn-aborted0001")))
    assert(TxLog.snapshot(spark, root).count() === 5L, "published data must survive")
  }

  test("a copy-on-write delete that empties a file leaves no zero-row entry for merges to rewrite") {
    import spark.implicits._
    val root = freshTable()
    // four one-file commits with disjoint id zone maps: [0, 100), ..., [300, 400)
    (0 until 4).foreach(k => TxLog.commit(spark, root,
      batch(k * 100, k * 100 + 100).coalesce(1), TxLog.Append, statsCols = Seq("id")))
    // the delete's only input file is [0, 100), and it deletes every row
    TxLog.delete(spark, root, col("id") < 100, statsCols = Seq("id"))
    val r = TxLog.replay(root, TxLog.headVersion(root))
    assert(r.entries.size === 3 && r.entries.forall(_.rows.exists(_ > 0L)),
      s"live entries after the emptying delete: ${r.entries}")
    val before = TxLog.liveFiles(root, TxLog.headVersion(root)).toSet
    TxLog.merge(spark, root, Seq((250L, "U-250")).toDF("id", "payload"), "id")
    val after = TxLog.liveFiles(root, TxLog.headVersion(root)).toSet
    assert((before -- after).size === 1,
      s"the merge of key 250 rewrote ${(before -- after).toSeq.sorted}")
    val now = TxLog.snapshot(spark, root).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(now.size === 300 && now(250L) === "U-250" && !now.contains(50L))
  }

  test("a table root holding a backslash reads back exactly: append, vector delete, update, changes") {
    val root = s"${Zones.tempDir("txbs")}/a\\b"
    TxLog.append(spark, root, batch(0, 10))
    TxLog.deleteVectors(spark, root, col("id") === 3L)
    TxLog.update(spark, root, col("id") === 5L, Map("payload" -> lit("U")))
    val got = TxLog.snapshot(spark, root).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(got === (0 until 10).filter(_ != 3)
      .map(i => i.toLong -> (if (i == 5) "U" else s"row-$i")).toMap)
    val byType = TxLog.changes(spark, root, 0L, TxLog.headVersion(root),
        withChangeType = true)
      .groupBy("_change_type").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byType === Map("insert" -> 10L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L))
  }

  test("a copy-on-write delete and update on a table with a column named a.b") {
    import spark.implicits._
    val root = freshTable()
    TxLog.append(spark, root, (0 until 4).map(i => (i.toLong, s"v-$i")).toDF("id", "a.b"))
    TxLog.delete(spark, root, col("id") === 1L)
    TxLog.update(spark, root, col("id") === 2L, Map("a.b" -> lit("U")))
    val got = TxLog.snapshot(spark, root).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(got === Map(0L -> "v-0", 2L -> "U", 3L -> "v-3"))
  }
}
