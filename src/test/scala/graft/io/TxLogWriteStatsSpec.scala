package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Commit statistics recorded by the write itself equal what an
  * independent read-back computes: per written file, a
  * `groupBy(input_file_name())` aggregation of the row count, the min/max
  * of each zone-mapped column's long image (or string, truncated), and
  * `Bloom.agg` (Spark's `BloomFilterAggregate`) of each bloom column. Counts, zone maps and sidecar bytes
  * must match exactly.
  */
class TxLogWriteStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Commit `df` into a fresh table, recompute every file's stats from
    * the files, assert they equal the manifest's and the sidecars', and
    * return the number of files compared.
    */
  private def parity(
      df: DataFrame,
      statsCols: Seq[String],
      bloomCols: Map[String, Long] = Map.empty,
      partitionBy: Seq[String] = Nil): Int = {
    val root = Zones.tempDir("txws")
    TxLog.commit(spark, root, df, TxLog.Append, statsCols = statsCols,
      partitionBy = partitionBy, bloomCols = bloomCols)
    val r = TxLog.replay(root, 1L)
    val schema = r.schema.get
    if (r.entries.isEmpty) return 0
    val txnDir = TxLog.absPath(root, r.entries.head.path.split("/").take(2).mkString("/"))
    def image(c: String): Column = schema(c).dataType match {
      case DateType      => datediff(col(c), to_date(lit("1970-01-01"))).cast("long")
      case TimestampType => unix_micros(col(c))
      case _             => col(c).cast("long")
    }
    val isStr = statsCols.map(c => c -> (schema(c).dataType == StringType)).toMap
    val aggs = count(lit(1)).as("_rc") +: (statsCols.flatMap { c =>
      val v = if (isStr(c)) col(c) else image(c)
      Seq(min(v).as(s"lo_$c"), max(v).as(s"hi_$c"))
    } ++ bloomCols.toSeq.map { case (c, n) => Bloom.agg(col(c), n).as(s"bf_$c") })
    // the entries' files only: the dir also holds the bloom sidecars
    val rows = spark.read.schema(schema).option("basePath", txnDir)
      .parquet(r.entries.map(e => TxLog.absPath(root, e.path)): _*)
      .groupBy(input_file_name().as("_f")).agg(aggs.head, aggs.tail: _*).collect()
    assert(rows.length === r.entries.size, "every manifest entry is a non-empty file")
    rows.foreach { row =>
      val uri = new java.net.URI(row.getString(0)).getPath
      val e = r.entries.find(e => uri.endsWith("/" + e.path))
        .getOrElse(fail(s"no manifest entry for $uri"))
      assert(e.rows === Some(row.getAs[Long]("_rc")), e.path)
      val ints = statsCols.filterNot(isStr).flatMap { c =>
        Option(row.getAs[Any](s"lo_$c")).map(lo =>
          c -> (lo.asInstanceOf[Long], row.getAs[Long](s"hi_$c")))
      }.toMap
      val strs = statsCols.filter(isStr).flatMap { c =>
        Option(row.getAs[String](s"lo_$c")).map(lo =>
          c -> (TxLog.truncLo(lo), TxLog.truncHi(row.getAs[String](s"hi_$c"))))
      }.toMap
      assert(e.stats === ints, e.path)
      assert(e.strStats === strs, e.path)
      assert(e.blooms.keySet === bloomCols.keySet, e.path)
      bloomCols.keys.foreach { c =>
        val sidecar = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(TxLog.absPath(root, Bloom.sidecar(e.path, c))))
        assert(java.util.Arrays.equals(sidecar, row.getAs[Array[Byte]](s"bf_$c")),
          s"bloom sidecar of $c in ${e.path}")
      }
    }
    rows.length
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("long, int, short and byte columns") {
    val df = spark.range(-500, 500, 1, 4).select(
      col("id"), (col("id") * 7).cast("int").as("i"),
      (col("id") % 3000).cast("short").as("s"), (col("id") % 100).cast("byte").as("b"))
    assert(parity(df, Seq("id", "i", "s", "b"),
      Map("id" -> 300L, "i" -> 300L, "s" -> 50L, "b" -> 10L)) === 4)
  }

  test("dates and timestamps under LEGACY and CORRECTED rebase, and INT96") {
    val df = spark.range(0, 400, 1, 4).select(col("id"),
      date_add(to_date(lit("1000-01-01")), (col("id") * 1500).cast("int")).as("d"),
      timestamp_micros(col("id") * 100000000000000L - 40000000000000000L).as("t"))
    for ((mode, tsType) <- Seq(("LEGACY", "INT96"), ("CORRECTED", "INT96"),
        ("LEGACY", "TIMESTAMP_MICROS"), ("CORRECTED", "TIMESTAMP_MICROS")))
      withConf(
        "spark.sql.parquet.datetimeRebaseModeInWrite" -> mode,
        "spark.sql.parquet.int96RebaseModeInWrite" -> mode,
        "spark.sql.parquet.outputTimestampType" -> tsType) {
        assert(parity(df, Seq("d", "t"), Map("d" -> 100L, "t" -> 100L)) === 4,
          s"$mode / $tsType")
      }
  }

  test("strings over 64 chars with non-ASCII text") {
    val df = spark.range(0, 300, 1, 3).select(col("id"),
      concat(lit("ключ-"), lpad(col("id").cast("string"), 70, "é"), lit("-😀")).as("s"),
      when(col("id") % 2 === 0, concat(lit("zß"), col("id").cast("string")))
        .otherwise(lit("a")).as("short"))
    assert(parity(df, Seq("s", "short"), Map("s" -> 100L, "short" -> 100L)) === 3)
  }

  test("all-null columns and an empty write") {
    val df = spark.range(0, 200, 1, 2).select(col("id"),
      lit(null).cast("long").as("n"), lit(null).cast("string").as("ns"))
    assert(parity(df, Seq("id", "n", "ns"), Map("n" -> 10L, "ns" -> 10L)) === 2)
    // no row: no entry, but the schema is recorded and the table reads
    val root = Zones.tempDir("txwse")
    TxLog.commit(spark, root, df.filter(lit(false)), TxLog.Append,
      statsCols = Seq("id"), bloomCols = Map("id" -> 10L))
    assert(TxLog.replay(root, 1L).entries.isEmpty)
    assert(TxLog.replay(root, 1L).schema.map(_.fieldNames.toSeq) === Some(Seq("id", "n", "ns")))
    assert(TxLog.snapshot(spark, root).count() === 0L)
    assert(TxLog.rowCount(root) === Some(0L))
  }

  test("a partitioned write whose stats column is the partition column") {
    val df = spark.range(0, 300, 1, 3).select(col("id"),
      (col("id") % 3).cast("int").as("g"),
      concat(lit("k"), (col("id") % 2).cast("string")).as("sg"))
    assert(parity(df, Seq("id", "g"), Map("g" -> 10L), partitionBy = Seq("g")) >= 3)
    assert(parity(df, Seq("id", "sg"), Map("sg" -> 10L), partitionBy = Seq("sg")) >= 2)
  }

  test("a 40-file commit") {
    val df = spark.range(0, 4000, 1, 40).select(col("id"),
      concat(lit("row-"), col("id").cast("string")).as("payload"))
    assert(parity(df, Seq("id", "payload"), Map("id" -> 100L)) === 40)
  }
}
