package graft.io

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Per-file commit statistics recorded by the write itself: a
  * [[WriteJobStatsTracker]] whose task instances see every row as it
  * streams into its file (Delta Lake's stats-collection hook), so a
  * commit's row counts, zone maps and bloom bitsets cost no job of their
  * own and no read of the files just written.
  *
  * The tracker sees Catalyst-internal values — exactly what a pushed-down
  * literal carries — so a zone map is the value's internal image with no
  * conversion: integral → the value, date → days since epoch, timestamp →
  * microseconds since epoch. Strings compare as UTF-8 bytes (Spark's own
  * ordering) and truncate as [[TxLog.StrColStats]] says. A bloom bitset
  * is `BloomFilter.create` at [[Bloom.sizing]] fed `xxhash64(v, 42)` of
  * every row (a null hashes to the seed), so its bytes equal what
  * [[Bloom.agg]] computes over the same rows.
  */
private[io] object WriteStats {

  /** A stats or bloom column: its manifest (physical) name, its ordinal
    * in the written data row — or, when `part`, in the file's hive
    * partition values — and its type.
    */
  final case class Source(name: String, ord: Int, part: Boolean, dt: DataType)

  /** What to record per file. `partDepth` is the number of hive `k=v`
    * dir levels between the write dir and each file.
    */
  final case class Spec(
      zones: Seq[Source],
      strs: Seq[Source],
      blooms: Seq[(Source, Long, Long)], // column, expected items, bits
      partDepth: Int)

  /** One written file: its path relative to the write dir, its row
    * count, and the stats of every column that had a non-null value.
    */
  final case class FileStats(
      rel: String,
      rows: Long,
      zones: TxLog.ColStats,
      strs: TxLog.StrColStats,
      blooms: Map[String, Array[Byte]])

  final case class TaskStats(files: Seq[FileStats]) extends WriteTaskStats

  /** Is `dt` zone-mapped by its long image? */
  def longImage(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType => true
    case _ => false
  }

  /** The driver side: every committed task's files, once the job commits. */
  final class JobTracker(spec: Spec) extends WriteJobStatsTracker {
    @transient private var collected: Seq[FileStats] = Nil
    def files: Seq[FileStats] = collected
    override def newTaskInstance(): WriteTaskStatsTracker = new TaskTracker(spec)
    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      collected = stats.flatMap { case t: TaskStats => t.files }
  }

  private final class TaskTracker(spec: Spec) extends WriteTaskStatsTracker {
    private val zones = spec.zones.toArray
    private val strs = spec.strs.toArray
    private val blooms = spec.blooms.toArray
    private val hashes = blooms.map { case (s, _, _) =>
      new XxHash64(Seq(BoundReference(s.ord, s.dt, nullable = true)), 42L)
    }
    private var partValues: InternalRow = InternalRow.empty
    private val open = scala.collection.mutable.HashMap.empty[String, FileState]
    private val done = scala.collection.mutable.ArrayBuffer.empty[FileStats]

    override def newPartition(values: InternalRow): Unit = partValues = values.copy()
    override def newFile(path: String): Unit = open(path) = new FileState(partValues)
    override def closeFile(path: String): Unit =
      open.remove(path).foreach(st => done += st.result(path))
    override def newRow(path: String, row: InternalRow): Unit = open(path).add(row)
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = TaskStats(done.toSeq)

    private final class FileState(part: InternalRow) {
      private var rows = 0L
      private val lo = new Array[Long](zones.length)
      private val hi = new Array[Long](zones.length)
      private val seen = new Array[Boolean](zones.length)
      private val slo = new Array[UTF8String](strs.length)
      private val shi = new Array[UTF8String](strs.length)
      private val bfs = blooms.map { case (_, n, bits) => BloomFilter.create(n, bits) }

      def add(row: InternalRow): Unit = {
        rows += 1
        for (i <- zones.indices) {
          val s = zones(i)
          val r = if (s.part) part else row
          if (!r.isNullAt(s.ord)) {
            val v = s.dt match {
              case ByteType               => r.getByte(s.ord).toLong
              case ShortType              => r.getShort(s.ord).toLong
              case IntegerType | DateType => r.getInt(s.ord).toLong
              case _                      => r.getLong(s.ord)
            }
            if (!seen(i) || v < lo(i)) lo(i) = v
            if (!seen(i) || v > hi(i)) hi(i) = v
            seen(i) = true
          }
        }
        for (i <- strs.indices) {
          val s = strs(i)
          val r = if (s.part) part else row
          if (!r.isNullAt(s.ord)) {
            val v = r.getUTF8String(s.ord)
            if (slo(i) == null || v.compareTo(slo(i)) < 0) slo(i) = v.clone()
            if (shi(i) == null || v.compareTo(shi(i)) > 0) shi(i) = v.clone()
          }
        }
        for (i <- bfs.indices)
          bfs(i).putLong(hashes(i).eval(if (blooms(i)._1.part) part else row).asInstanceOf[Long])
      }

      def result(path: String): FileStats = FileStats(
        path.split('/').takeRight(spec.partDepth + 1).mkString("/"),
        rows,
        zones.indices.filter(seen(_)).map(i => zones(i).name -> (lo(i), hi(i))).toMap,
        strs.indices.filter(slo(_) != null).map(i => strs(i).name ->
          (TxLog.truncLo(slo(i).toString), TxLog.truncHi(shi(i).toString))).toMap,
        if (rows == 0L) Map.empty
        else blooms.indices.map { i =>
          val out = new ByteArrayOutputStream()
          bfs(i).writeTo(out)
          blooms(i)._1.name -> out.toByteArray
        }.toMap)
    }
  }
}
