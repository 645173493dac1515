package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Shallow clone: a metadata-only fork whose first manifest references
  * the source's files by absolute path. Proven: zero data movement, full
  * read equivalence (incl. time travel), carried zone maps + blooms
  * still prune, write isolation in BOTH directions (appends and
  * copy-on-write rewrites land in the clone; the source never changes),
  * and vacuum-on-clone never touches external files.
  */
class TxLogCloneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sourceTable(): String = {
    import spark.implicits._
    val root = Zones.tempDir("txclone_src")
    (0 until 4).foreach { f =>
      val df = (0 until 500).map(i => (500L * f + i, s"row-$f-$i"))
        .toDF("id", "payload")
      TxLog.commit(spark, root, df.coalesce(1), TxLog.Append,
        statsCols = Seq("id"), bloomCols = Map("id" -> 500L))
    }
    root
  }

  test("clone is metadata-only and reads back the source snapshot exactly") {
    val src = sourceTable()
    val dst = Zones.tempDir("txclone_dst")
    TxLog.cloneTable(src, dst)
    // zero data movement: the clone has a log but NO data directory
    assert(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dst, "data")))
    val a = TxLog.snapshot(spark, src).orderBy("id").collect()
    val b = TxLog.snapshot(spark, dst).orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
    // carried zone maps prune on the clone (file 2 = ids [1000, 1499])
    val q = TxLog.snapshot(spark, dst).filter(col("id").between(1100L, 1200L))
    assert(q.count() === 101L)
    assert(TxLogFileIndex.of(q).lastListed.size === 1,
      "carried zone maps must prune the clone's read")
    // carried blooms prune an absent-key lookup (in-range, not present
    // is impossible here — all ids dense — so probe beyond a file's ids)
    val miss = TxLog.snapshot(spark, dst).filter(col("id") === 99999L)
    assert(miss.count() === 0L)
  }

  test("clone of a root holding a quote and a backslash reads back the source exactly") {
    // the clone's entries carry the source root inside every path, so
    // the root's characters must survive the manifest's string encoding.
    // The source's log is root-relative, so the table is built at a
    // plain path and moved under the quoted name (a commit INTO a root
    // with a backslash fails in Spark's glob of the written dir).
    val src = s"${Zones.tempDir("txclone_q")}/src\"q\\r"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src).getParent)
    java.nio.file.Files.move(java.nio.file.Paths.get(sourceTable()),
      java.nio.file.Paths.get(src))
    val dst = Zones.tempDir("txclone_qdst")
    TxLog.cloneTable(src, dst)
    val a = TxLog.snapshot(spark, src).orderBy("id").collect()
    val b = TxLog.snapshot(spark, dst).orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
    assert(TxLog.rowCount(src) === Some(2000L))
    assert(TxLog.rowCount(dst) === TxLog.rowCount(src))
    // the carried zone maps still prune (file 2 = ids [1000, 1499])
    val q = TxLog.snapshot(spark, dst).filter(col("id").between(1100L, 1200L))
    assert(q.count() === 101L)
    assert(TxLogFileIndex.of(q).lastListed.size === 1,
      "the clone's entries lost their zone maps")
  }

  test("clone of an old version is that version, not the head") {
    val src = sourceTable() // 4 commits
    val dst = Zones.tempDir("txclone_v2")
    TxLog.cloneTable(src, dst, version = Some(2L))
    assert(TxLog.snapshot(spark, dst).count() === 1000L)
    assert(TxLog.snapshot(spark, src).count() === 2000L)
  }

  test("writes land in the clone; the source never changes (both directions)") {
    import spark.implicits._
    val src = sourceTable()
    val dst = Zones.tempDir("txclone_w")
    TxLog.cloneTable(src, dst)
    // append to the clone
    TxLog.append(spark, dst, Seq((90000L, "clone-only")).toDF("id", "payload"))
    assert(TxLog.snapshot(spark, dst).count() === 2001L)
    assert(TxLog.snapshot(spark, src).count() === 2000L)
    // copy-on-write rewrite on the clone: the touched EXTERNAL file is
    // rewritten INTO the clone; untouched entries stay external
    TxLog.merge(spark, dst, Seq((750L, "patched")).toDF("id", "payload"), "id")
    assert(TxLog.snapshot(spark, dst).filter(col("id") === 750L)
      .head().getString(1) === "patched")
    assert(TxLog.snapshot(spark, src).filter(col("id") === 750L)
      .head().getString(1) === "row-1-250", "merge on the clone mutated the source")
    val r = TxLog.replay(dst, TxLog.headVersion(dst))
    assert(r.entries.exists(_.path.startsWith("/")),
      "untouched entries should remain external")
    assert(r.entries.exists(e => !e.path.startsWith("/")),
      "the rewrite should have landed inside the clone")
    // and writes to the SOURCE don't leak into the clone's pinned fork
    TxLog.append(spark, src, Seq((91000L, "src-only")).toDF("id", "payload"))
    assert(TxLog.snapshot(spark, dst).filter(col("id") === 91000L).count() === 0L)
  }

  test("vacuum on the clone never deletes external files") {
    import spark.implicits._
    val src = sourceTable()
    val dst = Zones.tempDir("txclone_vac")
    TxLog.cloneTable(src, dst)
    // rewrite everything in the clone, then vacuum to the head only
    TxLog.overwrite(spark, dst,
      Seq((1L, "fresh")).toDF("id", "payload").coalesce(1))
    TxLog.vacuum(dst, retainFrom = TxLog.headVersion(dst))
    // the source's files (externally referenced by the clone's v1) are
    // all still there and the source reads fine
    assert(TxLog.snapshot(spark, src).count() === 2000L)
    assert(TxLog.snapshot(spark, dst).count() === 1L)
  }

  test("clone refuses a target that already has a log") {
    val src = sourceTable()
    val dst = Zones.tempDir("txclone_taken")
    TxLog.cloneTable(src, dst)
    assertThrows[IllegalArgumentException](TxLog.cloneTable(src, dst))
  }
}
