package graft.io

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.xxhash64
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file bloom-filter index for the transaction log — the point-lookup
  * pruning path zone maps can't provide. A min/max zone map on a
  * SECONDARY column (one the table isn't clustered by) spans essentially
  * the whole key domain in every file, so `id = X` reads the full table;
  * a bloom answers "provably absent from this file" for exactly that
  * shape. The bitset is a Spark `sketch.BloomFilter` over `xxhash64(col)`
  * of every row, built by the commit's write as the rows stream out
  * ([[WriteStats]]) byte-identical to what Spark's own
  * `BloomFilterAggregate` ([[agg]], the aggregate behind runtime filter
  * injection) computes. It lands as a SIDECAR next to its data
  * file (`file.parquet.<col>.bloom`, Parquet/Iceberg-Puffin layout) so
  * manifests stay skinny and checkpoint size is independent of index
  * size. The serialized `sketch.BloomFilter` self-describes its bit and
  * hash counts; the manifest entry records only WHICH columns are indexed
  * plus their write-time type — the hash authority
  * ([[TxLogFileIndex.mayMatch]] reconciles widened filter literals
  * against it, because `xxhash64` of the same value at different integer
  * widths differs).
  *
  * Sizing: `optimalNumOfBits(expectedItems, 0.001)` (~14 bits/key, ~0.1%
  * false keeps) capped at [[MaxBits]] — 1 MiB of bitset per file per
  * column, ~1% storage overhead at the 100 MB file sizes a 100 TB table
  * compacts to, the Parquet bloom design point. An undersized estimate
  * degrades to more false keeps, never to a false skip.
  */
object Bloom {

  /** Default false-positive rate the sizing targets. */
  val Fpp: Double = 0.001

  /** Bitset cap: 2^23 bits = 1 MiB per file per column. */
  val MaxBits: Long = 1L << 23

  /** Spark's own aggregate producing one serialized bloom per group —
    * the reference a file's bitset is byte-identical to: insert
    * `xxhash64(c)` of every row. Nulls hash like Spark hashes them (the
    * seed folds through), which costs one phantom bit pattern and
    * nothing else — equality lookups are never null-valued.
    */
  def agg(c: Column, expectedItems: Long): Column = {
    val n = math.max(1L, expectedItems)
    val bits = math.min(BloomFilter.optimalNumOfBits(n, Fpp), MaxBits)
    toCol(new BloomFilterAggregate(
      toExpr(xxhash64(c)), Literal(n), Literal(bits), 0, 0)
      .toAggregateExpression())
  }

  /** The `(items, bits)` [[agg]]'s aggregate creates its filter with —
    * the sizing above after the aggregate's own caps — so
    * `BloomFilter.create(items, bits)` fed the same hashes serializes to
    * the same bytes.
    */
  def sizing(expectedItems: Long): (Long, Long) = {
    val n = math.max(1L, expectedItems)
    val bits = math.min(BloomFilter.optimalNumOfBits(n, Fpp), MaxBits)
    val conf = SQLConf.get
    (math.min(n, conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)),
      math.min(bits, conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)))
  }

  /** Sidecar path of column `c`'s bitset for data file `p` (both
    * manifest-relative and absolute forms work — the suffix just
    * appends).
    */
  def sidecar(p: String, c: String): String = s"$p.$c.bloom"

  /** Does sidecar file name `name` belong to data file `dataName`?
    * (vacuum's liveness rule: a sidecar lives exactly as long as its
    * data file).
    */
  def sidecarOf(name: String): Option[String] = {
    val i = name.indexOf(".parquet.")
    if (i >= 0 && name.endsWith(".bloom")) Some(name.substring(0, i + 8))
    else None
  }

  /** The probe hash of filter-literal `v` AS write-time type `dt` — the
    * exact `xxhash64` (seed 42) the writer's aggregate computed, via the
    * same Catalyst expression evaluated over a literal. `Some(Right(h))`
    * when `v` converts value-preservingly to `dt`; `Some(Left(()))` when
    * `v` provably cannot be a value of `dt` (an out-of-range widened
    * literal — the file can't contain it, so a skip is CORRECT, not a
    * false negative); `None` when the types don't reconcile — the caller
    * keeps the file and pruning stays conservative. `v` is the Catalyst
    * internal value straight out of the filter's `Literal` node.
    */
  def probeHash(v: Any, litType: DataType, dt: String): Option[Either[Unit, Long]] = {
    def hash(value: Any, t: DataType): Option[Either[Unit, Long]] =
      Some(Right(new XxHash64(Seq(Literal(value, t)), 42L)
        .eval(null).asInstanceOf[Long]))
    def narrowed(x: Long): Option[Either[Unit, Long]] = dt match {
      case "bigint" => hash(x, LongType)
      case "int" =>
        if (x >= Int.MinValue && x <= Int.MaxValue) hash(x.toInt, IntegerType)
        else Some(Left(()))
      case "smallint" =>
        if (x >= Short.MinValue && x <= Short.MaxValue) hash(x.toShort, ShortType)
        else Some(Left(()))
      case "tinyint" =>
        if (x >= Byte.MinValue && x <= Byte.MaxValue) hash(x.toByte, ByteType)
        else Some(Left(()))
      case _ => None
    }
    (litType, v) match {
      case (StringType, _) if dt == "string" => hash(v, StringType)
      case (LongType, x: java.lang.Long)     => narrowed(x)
      case (IntegerType, x: java.lang.Integer)
          if dt == "int" || dt == "smallint" || dt == "tinyint" =>
        narrowed(x.longValue())
      case (ShortType, x: java.lang.Short) if dt == "smallint" || dt == "tinyint" =>
        narrowed(x.longValue())
      case (ByteType, x: java.lang.Byte) if dt == "tinyint" =>
        narrowed(x.longValue())
      case (DateType, x: java.lang.Integer) if dt == "date" =>
        hash(x, DateType)
      case (TimestampType, x: java.lang.Long) if dt == "timestamp" =>
        hash(x, TimestampType)
      case _ => None // unreconcilable: caller keeps the file
    }
  }

  /** Deserialize an already-fetched sidecar (any [[graft.io.LogStore]]
    * can produce the bytes); null or structurally broken bytes read as
    * `None` — keep the file, pruning stays conservative.
    */
  def readSidecarBytes(bytes: Array[Byte]): Option[BloomFilter] =
    try {
      if (bytes == null) None
      else Some(BloomFilter.readFrom(new ByteArrayInputStream(bytes)))
    } catch { case scala.util.control.NonFatal(_) => None }
}
