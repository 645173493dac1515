package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Metadata-only COUNT(*): row counts recorded by the commit's write as
  * its rows stream out, and deleted-position counts kept by the one
  * deletion-vector skeleton behind DELETE and UPDATE, let `rowCount`
  * answer from the log alone — its signature takes no SparkSession,
  * which IS the proof no data is scanned. Degrades to None (never a
  * wrong number) when any live entry predates counting.
  */
class TxLogRowCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def batch(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"row-$i")).toDF("id", "payload")
  }

  test("rowCount answers from the log and tracks commits, DV deletes, and MoR updates") {
    val root = Zones.tempDir("txrc")
    (0 until 3).foreach(k => TxLog.commit(spark, root,
      batch(k * 100, k * 100 + 100).repartition(2), TxLog.Append,
      statsCols = Seq("id")))
    assert(TxLog.rowCount(root) === Some(300L))
    assert(TxLog.rowCount(root, Some(1L)) === Some(100L))
    TxLog.deleteVectors(spark, root, col("id") % 10 === 4)
    assert(TxLog.rowCount(root) === Some(270L))
    assert(TxLog.snapshot(spark, root).count() === 270L)
    // MoR update: n old positions deleted + n post-images appended — net 0
    TxLog.updateVectors(spark, root, col("id") % 10 === 5,
      Map("payload" -> lit("u")), statsCols = Seq("id"))
    assert(TxLog.rowCount(root) === Some(270L))
    assert(TxLog.snapshot(spark, root).count() === 270L)
    // a merge (rewrite + carry) keeps the ledger exact
    import spark.implicits._
    TxLog.merge(spark, root,
      Seq((5L, "patched"), (9999L, "new")).toDF("id", "payload"), "id")
    assert(TxLog.rowCount(root) === Some(271L))
    assert(TxLog.snapshot(spark, root).count() === 271L)
    // DESCRIBE DETAIL surfaces the ledger (SQL TVF reads this frame)
    val d = TxLog.detail(spark, root).head()
    assert(d.getAs[Long]("n_rows") === 271L)
    assert(d.getAs[Long]("n_deleted_rows") >= 30L)
    assert(d.getAs[Long]("n_dv_files") >= 1L)
    assert(d.getAs[Long]("n_constraints") === 0L)
  }

  test("every commit records counts now — even a plain statsCols-free append") {
    val root = Zones.tempDir("txrcn")
    TxLog.commit(spark, root, batch(0, 50), TxLog.Append, statsCols = Seq("id"))
    assert(TxLog.rowCount(root) === Some(50L))
    TxLog.append(spark, root, batch(50, 60)) // counts ride the write free
    assert(TxLog.rowCount(root) === Some(60L))
    assert(TxLog.snapshot(spark, root).count() === 60L)
  }

  test("a LEGACY count-free manifest degrades rowCount to None, never to a wrong number") {
    val root = Zones.tempDir("txrcl")
    TxLog.commit(spark, root, batch(0, 50), TxLog.Append, statsCols = Seq("id"))
    TxLog.append(spark, root, batch(50, 60))
    // simulate a pre-row-count chain: strip the "r" fields from v2
    val m = java.nio.file.Paths.get(root, "_txlog", "v00000002.json")
    val txt = new String(java.nio.file.Files.readAllBytes(m),
      java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(m, txt.replaceAll(""","r":\d+""", "")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(TxLog.rowCount(root) === None)
    assert(TxLog.snapshot(spark, root).count() === 60L)
  }
}
