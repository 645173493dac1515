package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import scala.util.control.NonFatal

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.io.TxLog.Entry

/** One `_txlog` file as a typed record: a version manifest
  * (`vNNNNNNNN.json`, action `append` / `overwrite`) or a checkpoint
  * (`cNNNNNNNN.json`, action `checkpoint`, the full folded state at its
  * version). [[TxLogManifest.encode]] and [[TxLogManifest.decode]] are
  * the only code that reads or writes log text — compact JSON, one
  * object per file, `files` last — so [[TxLog]]'s replay, publish and
  * checkpoint logic handle records only (Delta Lake keeps its log as
  * JSON actions behind one protocol-version gate the same way).
  *
  * The schema and constraint values stay base64 inside the JSON, as the
  * fmt ≤ 5 writers wrote them, so old and new logs share one read path.
  *
  * Absent and present-empty differ where a field REPLACES table state
  * on replay (`partitionBy`, `constraints`, `cluster`): those are
  * Options. Every other field is accumulative or per-commit, so empty
  * and absent mean the same and the writer omits empties.
  *
  * @param version  the version this file records
  * @param action   `append` adds `files` to the live set, `overwrite`
  *                 resets the live set to them, `checkpoint` is full state
  * @param files    the file's entries (see [[TxLog.Entry]]) — a bare
  *                 path string when the entry carries nothing else
  * @param fmt      the format stamp (see [[TxLog.FormatVersion]]); files
  *                 written before the stamp existed read as 1
  * @param ts       commit wall-clock millis, for TIMESTAMP AS OF and
  *                 history (absent in checkpoints and pre-round-9 logs)
  * @param txnId    the exactly-once id an idempotent append carries
  * @param op       the OPERATION that produced the commit (MERGE,
  *                 OPTIMIZE, CLONE, ...) — history's audit column; plain
  *                 appends and overwrites carry none
  * @param cdf      an overwrite's row-level delta: "" = content-preserving
  *                 rewrite (optimize/compact — the delta is empty by
  *                 construction), a dir name = change rows persisted
  *                 under `_change_data/<dir>` (merge, row-level DML);
  *                 absent = delta unknown (plain overwrite, restore)
  * @param partitionBy hive-style partition spec of the file's entries
  *                 (data under k=v dirs, partition columns not in the
  *                 data files). Some(Nil) = an EXPLICIT flat layout
  *                 (partition evolution to unpartitioned); None = no
  *                 declaration, so a blind statsless append never flips
  *                 a partitioned table's current spec
  * @param schema   the schema recorded at commit time (`schemaB64`:
  *                 base64 of Spark's schema JSON)
  * @param txns     checkpoint-carried txnId → version map: exactly-once
  *                 bookkeeping must survive checkpoint-bounded replay,
  *                 and rewrites, so it never resets
  * @param constraints CHECK constraints, name → SQL expression (each
  *                 value base64 in the file). Add/drop commits and
  *                 checkpoints write the FULL current map; replay keeps
  *                 the most recent one seen (None = no change,
  *                 Some(empty) = reset after the last drop)
  * @param dvb      deletion-vector dir → byte size, recorded by the
  *                 commit that wrote the dir so the read path's
  *                 broadcast-vs-shuffle choice is metadata-only.
  *                 Accumulative across manifests (dir names are
  *                 uuid-unique); checkpoints keep the live refs only
  * @param touched  pre-existing files whose deletion-vector state a
  *                 row-level commit changed — lets a RACING row-level op
  *                 on disjoint files fold instead of conflict; empty =
  *                 no declaration (conflicts)
  * @param cluster  the declared clustering keys: an explicit field
  *                 replaces, checkpoints persist, present-empty resets.
  *                 Changing the keys is a metadata commit — old files
  *                 keep their old-key zone maps
  * @param colmap   COLUMN MAPPING additions, logical → physical name: the
  *                 recorded schema carries logical names, data files
  *                 physical ones, and this maps the non-identity pairs
  * @param colunmap logical names whose mapping this commit removes
  *                 (replay applies removals before additions)
  * @param coldrop  retired physical names (union across the log): a
  *                 re-added logical column gets a FRESH physical, or old
  *                 files' dropped data would resurface
  */
final case class TxLogManifest(
    version: Long,
    action: String,
    files: Seq[Entry],
    fmt: Long = TxLog.FormatVersion,
    ts: Option[Long] = None,
    txnId: Option[String] = None,
    op: Option[String] = None,
    cdf: Option[String] = None,
    partitionBy: Option[Seq[String]] = None,
    schema: Option[StructType] = None,
    txns: Map[String, Long] = Map.empty,
    constraints: Option[Map[String, String]] = None,
    dvb: Map[String, Long] = Map.empty,
    touched: Set[String] = Set.empty,
    cluster: Option[Seq[String]] = None,
    colmap: Map[String, String] = Map.empty,
    colunmap: Set[String] = Set.empty,
    coldrop: Set[String] = Set.empty)

object TxLogManifest {

  private val Actions = Set("append", "overwrite", "checkpoint")

  /** Compact JSON, fields in one fixed order with `files` last. */
  def encode(m: TxLogManifest): String = {
    val fields = List[Option[JField]](
      Some("version" -> JLong(m.version)),
      Some("fmt" -> JLong(m.fmt)),
      m.ts.map(t => "ts" -> JLong(t)),
      Some("action" -> JString(m.action)),
      m.txnId.map(t => "txnId" -> JString(t)),
      m.op.map(o => "op" -> JString(o)),
      m.cdf.map(d => "cdf" -> JString(d)),
      m.partitionBy.map(p => "partitionBy" -> strs(p)),
      m.schema.map(sc => "schemaB64" -> JString(b64(sc.json))),
      Option.when(m.txns.nonEmpty)("txns" ->
        JObject(m.txns.toList.sortBy(_._2).map { case (t, v) => t -> JLong(v) })),
      m.constraints.map(c => "constraints" -> obj(c)(ex => JString(b64(ex)))),
      Option.when(m.dvb.nonEmpty)("dvb" -> obj(m.dvb)(JLong(_))),
      Option.when(m.touched.nonEmpty)("touched" -> strs(m.touched.toSeq.sorted)),
      m.cluster.map(c => "cluster" -> strs(c)),
      Option.when(m.colmap.nonEmpty)("colmap" -> obj(m.colmap)(JString(_))),
      Option.when(m.colunmap.nonEmpty)("colunmap" -> strs(m.colunmap.toSeq.sorted)),
      Option.when(m.coldrop.nonEmpty)("coldrop" -> strs(m.coldrop.toSeq.sorted)),
      Some("files" -> JArray(m.files.map(entryJson).toList)))
    JsonMethods.compact(JObject(fields.flatten))
  }

  /** Parse one log file. Refuses a file stamped with a format newer than
    * [[TxLog.FormatVersion]]; any malformed file is an IOException
    * naming it.
    */
  def decode(name: String, txt: String): TxLogManifest = {
    def bad(why: String, cause: Throwable = null) =
      new java.io.IOException(s"txlog: bad manifest $name: $why", cause)
    val f: Map[String, JValue] =
      (try JsonMethods.parse(txt, useBigIntForLong = false)
      catch { case NonFatal(e) => throw bad(e.getMessage, e) }) match {
        case JObject(fs) => fs.toMap
        case _           => throw bad("not a JSON object")
      }
    val fmt = try f.get("fmt").map(long).getOrElse(1L)
      catch { case NonFatal(e) => throw bad(e.toString, e) }
    if (fmt > TxLog.FormatVersion)
      throw new java.io.IOException(s"txlog: $name uses format v$fmt but " +
        s"this reader supports ≤ v${TxLog.FormatVersion} — upgrade before reading")
    val action = f.get("action").collect { case JString(a) if Actions(a) => a }
      .getOrElse(throw bad(s"no valid action (${f.get("action")})"))
    try {
      TxLogManifest(
        version = long(f("version")),
        action = action,
        files = f.get("files").map(arr(_).map(entryOf)).getOrElse(Nil),
        fmt = fmt,
        ts = f.get("ts").map(long),
        txnId = f.get("txnId").map(str),
        op = f.get("op").map(str),
        cdf = f.get("cdf").map(str),
        partitionBy = f.get("partitionBy").map(strsOf),
        schema = f.get("schemaB64").map(j =>
          DataType.fromJson(unb64(str(j))).asInstanceOf[StructType]),
        txns = f.get("txns").map(objOf(_)(long)).getOrElse(Map.empty),
        constraints = f.get("constraints").map(objOf(_)(j => unb64(str(j)))),
        dvb = f.get("dvb").map(objOf(_)(long)).getOrElse(Map.empty),
        touched = f.get("touched").map(strsOf(_).toSet).getOrElse(Set.empty),
        cluster = f.get("cluster").map(strsOf),
        colmap = f.get("colmap").map(objOf(_)(str)).getOrElse(Map.empty),
        colunmap = f.get("colunmap").map(strsOf(_).toSet).getOrElse(Set.empty),
        coldrop = f.get("coldrop").map(strsOf(_).toSet).getOrElse(Set.empty))
    } catch { case NonFatal(e) => throw bad(e.toString, e) }
  }

  /** `{"p":path,"b":bytes,"s":{col:[lo,hi]},"t":{col:[lo,hi|null]},
    * "m":{col:type},"d":[dvRef],"r":rows,"x":deletedRows}`, each field
    * but `p` omitted when empty.
    */
  private def entryJson(e: Entry): JValue =
    if (e == Entry(e.path, None, Map.empty)) JString(e.path)
    else JObject(List[Option[JField]](
      Some("p" -> JString(e.path)),
      e.bytes.map(b => "b" -> JLong(b)),
      Option.when(e.stats.nonEmpty)("s" -> obj(e.stats) { case (lo, hi) =>
        JArray(List(JLong(lo), JLong(hi))) }),
      Option.when(e.strStats.nonEmpty)("t" -> obj(e.strStats) { case (lo, hi) =>
        JArray(List(JString(lo), hi.map(JString(_)).getOrElse(JNull))) }),
      Option.when(e.blooms.nonEmpty)("m" -> obj(e.blooms)(JString(_))),
      Option.when(e.dvs.nonEmpty)("d" -> strs(e.dvs)),
      e.rows.map(n => "r" -> JLong(n)),
      Option.when(e.dvRows != 0L)("x" -> JLong(e.dvRows))).flatten)

  private def entryOf(j: JValue): Entry = j match {
    case JString(p) => Entry(p, None, Map.empty)
    case JObject(fs) =>
      val f = fs.toMap
      def m[V](k: String)(v: JValue => V): Map[String, V] =
        f.get(k).map(objOf(_)(v)).getOrElse(Map.empty)
      Entry(
        str(f("p")),
        f.get("b").map(long),
        m("s") { x => val (lo, hi) = pair(x); (long(lo), long(hi)) },
        m("t") { x => val (lo, hi) = pair(x)
          (str(lo), if (hi == JNull) None else Some(str(hi))) },
        m("m")(str),
        f.get("d").map(strsOf(_).toVector).getOrElse(Vector.empty),
        f.get("r").map(long),
        f.get("x").map(long).getOrElse(0L))
    case other => throw new IllegalArgumentException(s"entry $other")
  }

  private def obj[V](m: Map[String, V])(v: V => JValue): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, x) => k -> v(x) })
  private def strs(xs: Seq[String]): JValue = JArray(xs.map(JString(_)).toList)

  private def long(j: JValue): Long = j match {
    case JLong(n) => n
    case JInt(n)  => n.toLong
    case other    => throw new IllegalArgumentException(s"expected a number, got $other")
  }
  private def str(j: JValue): String = j match {
    case JString(s) => s
    case other      => throw new IllegalArgumentException(s"expected a string, got $other")
  }
  private def arr(j: JValue): List[JValue] = j match {
    case JArray(xs) => xs
    case other      => throw new IllegalArgumentException(s"expected an array, got $other")
  }
  private def pair(j: JValue): (JValue, JValue) = arr(j) match {
    case List(lo, hi) => (lo, hi)
    case other        => throw new IllegalArgumentException(s"expected [lo,hi], got $other")
  }
  private def strsOf(j: JValue): List[String] = arr(j).map(str)
  private def objOf[V](j: JValue)(v: JValue => V): Map[String, V] = j match {
    case JObject(fs) => fs.map { case (k, x) => k -> v(x) }.toMap
    case other       => throw new IllegalArgumentException(s"expected an object, got $other")
  }

  private def b64(s: String): String = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
  private def unb64(s: String): String = new String(Base64.getDecoder.decode(s), UTF_8)
}
