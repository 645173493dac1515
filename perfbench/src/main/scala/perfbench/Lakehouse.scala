package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.io.TxLog
import graft.sources.GraftSession

/** A seeded commit stream against a fresh transaction-log table, with a
  * read after every write. One pass is one episode on a new table root;
  * the op schedule is fixed, the key ranges come from the seed. Every read
  * is compared with an in-memory model of the live rows at each version
  * and of each version's change rows.
  */
final class Lakehouse extends Workload {
  import Lakehouse._

  private val userBytes = mutable.ArrayBuffer.empty[Double] // table bytes ÷ user bytes, per episode
  private val versions = mutable.ArrayBuffer.empty[Double]
  private val filesLive = mutable.ArrayBuffer.empty[Double]
  private val scannedRatio = mutable.ArrayBuffer.empty[Double]

  /** First touch: the SQL DML session (analyzer rules registered). */
  def setUp(ctx: Ctx): Unit = {
    GraftSession.withDml(ctx.spark)
    ()
  }

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = ctx.freshDir(s"table-${ctx.pass}").toString
    val rng = new scala.util.Random(ctx.seed * 7919L + ctx.pass)
    val t = ctx.tracer
    val model = new Model
    var next = 0L // first never-used key
    var written = 0L // user rows written
    val table = s"perfbench_${ctx.pass + 1}"
    val dml = GraftSession.withDml(spark)

    def rows(keys: Dataset[_], opIx: Int): DataFrame =
      keys.select(col("id").as("k"), sOf(col("id")).as("s"), vOf(col("id"), opIx, ctx.seed).as("v"))
        .withColumn("pad", lpad(col("v").cast("string"), PadChars, "#"))

    /** One write; the model advances only when a new version was committed. */
    def write(name: String)(commit: => Long)(apply: Long => Unit): Unit = {
      val head = model.head
      ctx.op(name, "lakehouse")(commit).foreach(v => if (v != head) apply(v))
    }

    def append(n: Long, opIx: Int): Unit = {
      val lo = next
      next += n
      written += n
      write("append")(t("txlog.append")(TxLog.append(spark, root,
        rows(spark.range(lo, lo + n, 1, FileCount), opIx), Seq("k"), Map("s" -> n / FileCount)))) { v =>
        model.commit(v, (lo until lo + n).map(k => Change("insert", k, vOf(k, opIx, ctx.seed))))
      }
    }

    def keyRange(width: Long): (Long, Long) = {
      val a = (rng.nextDouble() * (next - width)).toLong
      (a, a + width - 1)
    }

    def deleteChanges(lo: Long, hi: Long): Seq[Change] =
      (lo to hi).flatMap(k => model.live.get(k).map(v => Change("delete", k, v)))

    // the episode's schedule: writes in a fixed order, each followed by a read
    val writes: Seq[Int => Unit] = Seq(
      ix => append(AppendRows, ix),
      ix => {
        val (lo, hi) = keyRange(MergeRows)
        val fresh = next
        next += MergeInserts
        written += MergeRows + MergeInserts
        val keys = spark.range(lo, hi + 1).union(spark.range(fresh, fresh + MergeInserts))
        write("merge")(t("txlog.merge")(TxLog.merge(spark, root, rows(keys, ix), "k"))) { v =>
          model.commit(v, ((lo to hi) ++ (fresh until fresh + MergeInserts)).flatMap { k =>
            val nv = vOf(k, ix, ctx.seed)
            model.live.get(k) match {
              case Some(old) => Seq(Change("update_preimage", k, old), Change("update_postimage", k, nv))
              case None => Seq(Change("insert", k, nv))
            }
          })
        }
      },
      _ => {
        val (lo, hi) = keyRange(DeleteRows)
        write("delete")(t("txlog.delete")(TxLog.delete(spark, root, col("k").between(lo, hi), Seq("k")))) { v =>
          model.commit(v, deleteChanges(lo, hi))
        }
      },
      _ => {
        val (lo, hi) = keyRange(DeleteRows)
        write("sql_delete")(t("txlog.sql_delete")(
          dml.sql(s"DELETE FROM $table WHERE k >= $lo AND k <= $hi").head().getLong(0))) { v =>
          model.commit(v, deleteChanges(lo, hi))
        }
      },
      _ => write("optimize")(t("txlog.optimize")(TxLog.optimize(spark, root, FileCount, Some("k")))) { v =>
        model.commit(v, Nil)
      })
    val schedule = Seq(1, 0, 2, 3, 4)

    def aggregate(df: DataFrame): (Long, Long, Long) = {
      val r = t("txlog.scan")(df.agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("v"), lit(0L))).head())
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    def readCheck(name: String)(body: => Boolean): Unit =
      if (ctx.op(name, "lakehouse")(body).contains(false)) {
        System.err.println(s"[perfbench] $name at v${model.head} (pass ${ctx.pass}) disagrees with the model")
        ctx.fail(name)
      }
    val reads: Seq[() => Unit] = Seq(
      () => readCheck("read_full") {
        aggregate(t("txlog.snapshot")(TxLog.snapshot(spark, root))) == model.aggregate(model.live)
      },
      () => {
        val (lo, hi) = keyRange(RangeRows)
        if (t.enabled) {
          val v = model.head
          scannedRatio += TxLog.prunedFiles(root, v, "k", lo, hi).size.toDouble / TxLog.liveFiles(root, v).size
        }
        readCheck("read_range") {
          aggregate(t("txlog.snapshot")(TxLog.snapshot(spark, root)).filter(col("k").between(lo, hi))) ==
            model.aggregate(model.live.range(lo, hi + 1))
        }
      },
      () => {
        val k = (rng.nextDouble() * next).toLong
        readCheck("read_point") {
          val got = t("txlog.scan")(t("txlog.snapshot")(TxLog.snapshot(spark, root))
            .filter(col("s") === sOfL(k)).select("k", "v").collect()).map(r => r.getLong(0) -> r.getLong(1)).toSeq
          got == model.live.get(k).map(k -> _).toSeq
        }
      },
      () => {
        val v = model.versions(rng.nextInt(model.versions.size))
        readCheck("read_version") {
          aggregate(t("txlog.snapshot")(TxLog.snapshot(spark, root, Some(v)))) == model.aggregate(model.at(v))
        }
      },
      () => {
        val head = model.head
        val from = model.versions(math.max(0, model.versions.size - 4))
        readCheck("read_changes") {
          val got = t("txlog.changes") {
            TxLog.changes(spark, root, from, head, withChangeType = true)
              .groupBy("_change_type").agg(count(lit(1)), sum("v")).collect()
              .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
          }
          got == model.changes(from, head)
        }
      })

    try {
      append(InitialRows, 0)
      dml.sql(s"CREATE TABLE $table USING graft LOCATION '$root'")
      schedule.zipWithIndex.foreach { case (w, i) =>
        writes(w)(i + 1)
        reads(i % reads.size)()
      }
    } finally dml.sql(s"DROP TABLE IF EXISTS $table")
    if (ctx.measuring) {
      userBytes += Main.treeBytes(java.nio.file.Path.of(root)).toDouble / (written * UserRowBytes)
      versions += model.versions.size
      filesLive += TxLog.liveFiles(root, model.head).size
    }
    Main.deleteTree(java.nio.file.Path.of(root))
  }

  def report(ctx: Ctx): Map[String, Double] = {
    val t = ctx.tracer
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    Map("bytes_per_input_byte" -> mean(userBytes)) ++ (if (!t.enabled) Map.empty else
      Seq("append", "merge", "delete", "sql_delete", "optimize", "snapshot", "scan", "changes")
        .map(n => s"txlog.${n}_s" -> median(t.durations(s"txlog.$n"))).toMap ++ Map(
        "txlog.versions" -> mean(versions),
        "txlog.files_live" -> mean(filesLive),
        "txlog.files_scanned_ratio" -> mean(scannedRatio)))
  }
}

object Lakehouse {
  /** Files per append and after optimize. */
  val FileCount = 4
  val InitialRows = 5000L
  val AppendRows = 1000L
  val MergeRows = 500L
  val MergeInserts = 125L
  val DeleteRows = 250L
  val RangeRows = 750L
  val PadChars = 40
  /** k, s and v as longs plus the padded payload. */
  val UserRowBytes: Long = 3 * 8 + PadChars

  /** Secondary key: a bijective multiplicative hash of the key, so a point
    * lookup on it is served by the bloom index, not the key's zone maps.
    */
  def sOfL(k: Long): Long = (k * 2654435761L) & 0xffffffffL
  def sOf(k: Column): Column = (k * 2654435761L).bitwiseAND(0xffffffffL)
  def vOf(k: Long, opIx: Int, seed: Long): Long = (k * 1000003L + opIx * 7919L + seed) % 1000000007L
  def vOf(k: Column, opIx: Int, seed: Long): Column = (k * 1000003L + (opIx * 7919L + seed)) % 1000000007L

  final case class Change(kind: String, k: Long, v: Long)

  /** Live rows (key → value) at every committed version, and the change
    * rows each version produced.
    */
  final class Model {
    private val states = mutable.LinkedHashMap.empty[Long, scala.collection.immutable.TreeMap[Long, Long]]
    private val deltas = mutable.Map.empty[Long, Seq[Change]]
    def versions: IndexedSeq[Long] = states.keys.toIndexedSeq
    def head: Long = if (states.isEmpty) -1L else states.last._1
    def live: scala.collection.immutable.TreeMap[Long, Long] =
      if (states.isEmpty) scala.collection.immutable.TreeMap.empty else states.last._2
    def at(v: Long): scala.collection.immutable.TreeMap[Long, Long] = states(v)

    def commit(v: Long, changes: Seq[Change]): Unit = {
      val next = changes.foldLeft(live) { (m, c) =>
        c.kind match {
          case "delete" | "update_preimage" => m - c.k
          case _ => m.updated(c.k, c.v)
        }
      }
      states(v) = next
      deltas(v) = changes
    }

    def aggregate(rows: collection.Map[Long, Long]): (Long, Long, Long) =
      (rows.size.toLong, rows.keysIterator.sum, rows.valuesIterator.sum)

    /** Change rows in (from, to], per change type: (rows, sum of v). */
    def changes(from: Long, to: Long): Map[String, (Long, Long)] =
      versions.filter(v => v > from && v <= to).flatMap(deltas).groupBy(_.kind)
        .map { case (kind, cs) => kind -> (cs.size.toLong, cs.map(_.v).sum) }
  }
}
