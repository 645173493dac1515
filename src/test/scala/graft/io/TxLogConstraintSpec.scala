package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** CHECK constraints on the transaction log: write-time guarantees with
  * SQL semantics (NULL passes, only provably-FALSE rows violate),
  * enforced by a read-back scan proportional to the COMMIT, validated
  * retroactively at ADD time, surviving checkpoints, and costing
  * constraint-free tables zero extra replay on the append hot path.
  */
class TxLogConstraintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.DataFrame

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "payload")
  }

  test("a violating commit is refused atomically; valid commits land") {
    val root = Zones.tempDir("txcons")
    TxLog.append(spark, root, df(1L -> "a", 2L -> "b"))
    TxLog.addConstraint(spark, root, "pos_id", "id > 0")
    assert(TxLog.constraintsOf(root) === Map("pos_id" -> "id > 0"))
    val headBefore = TxLog.headVersion(root)
    assertThrows[TxLog.ConstraintViolation](
      TxLog.append(spark, root, df(3L -> "c", -7L -> "bad")))
    // nothing published: head unchanged, table readable, bad rows absent
    assert(TxLog.headVersion(root) === headBefore)
    assert(TxLog.snapshot(spark, root).count() === 2L)
    TxLog.append(spark, root, df(3L -> "c"))
    assert(TxLog.snapshot(spark, root).count() === 3L)
  }

  test("ADD CONSTRAINT validates the existing table and refuses retroactive violations") {
    val root = Zones.tempDir("txconsadd")
    TxLog.append(spark, root, df(1L -> "a", -2L -> "already-bad"))
    assertThrows[TxLog.ConstraintViolation](
      TxLog.addConstraint(spark, root, "pos_id", "id > 0"))
    assert(TxLog.constraintsOf(root).isEmpty)
    // the failed add left no metadata commit behind
    assert(TxLog.headVersion(root) === 1L)
  }

  test("SQL CHECK semantics: NULL passes, FALSE fails") {
    import spark.implicits._
    val root = Zones.tempDir("txconsnull")
    TxLog.append(spark, root,
      Seq((1L, Some(10L))).toDF("id", "v"))
    TxLog.addConstraint(spark, root, "v_pos", "v > 0")
    // a NULL v evaluates the predicate to UNKNOWN — the row passes
    TxLog.append(spark, root,
      Seq((2L, None: Option[Long])).toDF("id", "v"))
    assert(TxLog.snapshot(spark, root).count() === 2L)
    assertThrows[TxLog.ConstraintViolation](
      TxLog.append(spark, root, Seq((3L, Some(-1L))).toDF("id", "v")))
  }

  test("DROP lifts enforcement and survives a checkpoint; ADD survives one too") {
    val root = Zones.tempDir("txconsck")
    TxLog.append(spark, root, df(1L -> "a"))
    TxLog.addConstraint(spark, root, "pos_id", "id > 0")
    // push past a checkpoint boundary (CheckpointEvery = 10)
    (0 until 10).foreach(i => TxLog.append(spark, root, df((10L + i) -> s"r$i")))
    assert(TxLog.headVersion(root) >= TxLog.CheckpointEvery)
    // the checkpoint carries the constraint: still enforced
    assertThrows[TxLog.ConstraintViolation](
      TxLog.append(spark, root, df(-1L -> "bad")))
    TxLog.dropConstraint(root, "pos_id")
    assert(TxLog.constraintsOf(root).isEmpty)
    TxLog.append(spark, root, df(-1L -> "now-fine"))
    // and the drop itself survives the NEXT checkpoint
    (0 until 10).foreach(i => TxLog.append(spark, root, df((50L + i) -> s"s$i")))
    TxLog.append(spark, root, df(-2L -> "still-fine"))
    assert(TxLog.snapshot(spark, root).filter(col("id") < 0L).count() === 2L)
  }

  test("merge enforces constraints on its rewritten + inserted rows") {
    val root = Zones.tempDir("txconsmrg")
    TxLog.commit(spark, root, df(1L -> "a", 2L -> "b"), TxLog.Append,
      statsCols = Seq("id"))
    TxLog.addConstraint(spark, root, "no_x", "payload <> 'x'")
    assertThrows[TxLog.ConstraintViolation](
      TxLog.merge(spark, root, df(2L -> "x"), "id"))
    assert(TxLog.snapshot(spark, root).filter(col("id") === 2L)
      .head().getString(1) === "b")
    TxLog.merge(spark, root, df(2L -> "y"), "id")
    assert(TxLog.snapshot(spark, root).filter(col("id") === 2L)
      .head().getString(1) === "y")
  }

  test("an ADD CONSTRAINT landing inside a commit's publish window is still enforced") {
    val root = Zones.tempDir("txconsrace")
    TxLog.append(spark, root, df(1L -> "a"))
    // the race: the append read the (empty) constraint map, wrote its
    // files, and THEN the constraint publishes — deterministically, via
    // the publish-window hook. The append must re-validate and refuse.
    TxLog.testRaceHook =
      () => { TxLog.addConstraint(spark, root, "pos_id", "id > 0"); () }
    assertThrows[TxLog.ConstraintViolation](
      TxLog.append(spark, root, df(-5L -> "bad")))
    assert(TxLog.constraintsOf(root) === Map("pos_id" -> "id > 0"))
    assert(TxLog.snapshot(spark, root).filter(col("id") < 0L).count() === 0L)
    // a CONFORMING commit sails through the same window: re-validated, kept
    TxLog.testRaceHook =
      () => { TxLog.addConstraint(spark, root, "no_z", "payload <> 'z'"); () }
    TxLog.append(spark, root, df(2L -> "b"))
    assert(TxLog.snapshot(spark, root).count() === 2L)
    assert(TxLog.constraintsOf(root).keySet === Set("pos_id", "no_z"))
  }

  test("a bloom-indexed commit racing an ADD CONSTRAINT re-validates its files, not their sidecars") {
    import spark.implicits._
    def rows(lo: Int, hi: Int, grp: String) =
      (lo until hi).map(i => (i.toLong, s"s-$i", grp)).toDF("id", "s", "grp")
    // flat: the publish-time re-check runs after the `.bloom` sidecars
    // landed in the commit's txn dir; every row satisfies the constraint
    val root = Zones.tempDir("txconsbloom")
    TxLog.append(spark, root, rows(0, 20, "g0"), Nil, Map("s" -> 10L))
    TxLog.testRaceHook =
      () => { TxLog.addConstraint(spark, root, "nonneg", "id >= 0"); () }
    TxLog.append(spark, root, rows(20, 40, "g0"), Nil, Map("s" -> 10L))
    assert(TxLog.snapshot(spark, root).count() === 40L)
    assert(TxLog.constraintsOf(root) === Map("nonneg" -> "id >= 0"))
    // partitioned: the re-check reads the partition column back from the
    // k=v dirs, so a constraint on it still catches a violating row
    val proot = Zones.tempDir("txconsbloomp")
    def commitP(df: org.apache.spark.sql.DataFrame): Long =
      TxLog.commit(spark, proot, df, TxLog.Append, partitionBy = Seq("grp"),
        bloomCols = Map("s" -> 10L))
    commitP(rows(0, 20, "g0"))
    TxLog.testRaceHook =
      () => { TxLog.addConstraint(spark, proot, "known_grp", "grp IN ('g0', 'g1')"); () }
    assertThrows[TxLog.ConstraintViolation](commitP(rows(20, 30, "g7")))
    TxLog.testRaceHook =
      () => { TxLog.addConstraint(spark, proot, "nonneg", "id >= 0"); () }
    commitP(rows(30, 40, "g1"))
    assert(TxLog.snapshot(spark, proot).count() === 30L)
    assert(TxLog.snapshot(spark, proot).filter(col("grp") === "g7").count() === 0L)
  }

  test("constraint-free tables pay zero extra manifest reads per append") {
    val root = Zones.tempDir("txconsfree")
    TxLog.append(spark, root, df(1L -> "a"))
    TxLog.manifestReads.set(0L)
    TxLog.append(spark, root, df(2L -> "b"))
    assert(TxLog.manifestReads.get() === 0L,
      "plain append on a constraint-free table must not replay the log")
  }
}
