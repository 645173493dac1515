package graft.io

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.GenSampling.forAllSampled
import graft.io.TxLog.Entry

/** The manifest codec: `decode(encode(r)) == r` for records whose every
  * string draws from arbitrary Unicode (JSON specials, control chars and
  * supplementary code points included), every encoding is strict JSON,
  * and the written layout keeps what readers and specs rely on.
  */
class TxLogManifestSpec extends AnyFunSuite {

  private val special: Gen[String] =
    Gen.oneOf("\"", "\\", "{", "}", "[", "]", ".", "/", " ", "\u0000")
  private val control: Gen[String] = Gen.choose(0, 0x1f).map(_.toChar.toString)
  private val bmp: Gen[String] =
    Gen.choose(0x20, 0xd7ff).map(_.toChar.toString)
  private val astral: Gen[String] =
    Gen.choose(0x10000, 0x10ffff).map(cp => new String(Character.toChars(cp)))
  private val str: Gen[String] = Gen.choose(0, 8).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(3 -> special, 2 -> control, 4 -> bmp,
      1 -> astral, 4 -> Gen.alphaNumChar.map(_.toString))).map(_.mkString))

  private def mapOf[V](v: Gen[V]): Gen[Map[String, V]] =
    Gen.choose(0, 3).flatMap(n => Gen.mapOfN(n, Gen.zip(str, v)))
  private def setOf: Gen[Set[String]] =
    Gen.choose(0, 3).flatMap(n => Gen.containerOfN[Set, String](n, str))
  private def seqOf: Gen[List[String]] = Gen.choose(0, 3).flatMap(Gen.listOfN(_, str))
  private val long: Gen[Long] = Gen.oneOf(Gen.choose(-1000L, 1000L),
    Gen.oneOf(Long.MinValue, Long.MaxValue, 0L))

  private val entry: Gen[Entry] = for {
    path <- str
    bare <- Gen.oneOf(true, false)
    bytes <- Gen.option(long)
    stats <- mapOf(Gen.zip(long, long))
    strStats <- mapOf(Gen.zip(str, Gen.option(str)))
    blooms <- mapOf(str)
    dvs <- seqOf
    rows <- Gen.option(long)
    dvRows <- long
  } yield
    if (bare) Entry(path, None, Map.empty)
    else Entry(path, bytes, stats, strStats, blooms, dvs.toVector, rows, dvRows)

  private val schema: Gen[StructType] = Gen.choose(1, 3).flatMap(n =>
    Gen.listOfN(n, for {
      name <- str
      dt <- Gen.oneOf[DataType](LongType, StringType, DoubleType,
        ArrayType(StringType), StructType(Seq(StructField("n", IntegerType))))
      nullable <- Gen.oneOf(true, false)
    } yield StructField(name, dt, nullable)).map(StructType(_)))

  private val record: Gen[TxLogManifest] = for {
    version <- Gen.choose(0L, Long.MaxValue)
    action <- Gen.oneOf("append", "overwrite", "checkpoint")
    files <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, entry))
    fmt <- Gen.choose(1L, TxLog.FormatVersion)
    ts <- Gen.option(long)
    txnId <- Gen.option(str)
    op <- Gen.option(str)
    cdf <- Gen.option(str)
    partitionBy <- Gen.option(seqOf)
    sch <- Gen.option(schema)
    txns <- mapOf(long)
    constraints <- Gen.option(mapOf(str))
    dvb <- mapOf(long)
    touched <- setOf
    cluster <- Gen.option(seqOf)
    colmap <- mapOf(str)
    colunmap <- setOf
    coldrop <- setOf
  } yield TxLogManifest(version, action, files, fmt, ts, txnId, op, cdf,
    partitionBy, sch, txns, constraints, dvb, touched, cluster, colmap,
    colunmap, coldrop)

  private val strict = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)

  test("decode(encode(r)) == r for arbitrary Unicode in every string field") {
    forAllSampled(record, 300) { r =>
      val txt = TxLogManifest.encode(r)
      assert(TxLogManifest.decode("v00000001.json", txt) === r, txt)
    }
  }

  test("every encoding parses as strict JSON") {
    forAllSampled(record, 300) { r =>
      val txt = TxLogManifest.encode(r)
      val tree = strict.readTree(txt)
      assert(tree.isObject, txt)
      // files last: every spec that edits manifest text relies on it
      assert(tree.fieldNames().asScala.toSeq.last === "files", txt)
    }
  }

  test("a stats column named x\"y keeps its name (the fmt <= 5 writer lost the x)") {
    val e = Entry("data/p.parquet", Some(1L), Map("x\"y" -> (1L, 2L)))
    val r = TxLogManifest.decode("v00000001.json",
      TxLogManifest.encode(TxLogManifest(1L, "append", Seq(e))))
    assert(r.files === Seq(e))
  }

  test("the writer stamps the current format; a newer stamp is refused, garbage named") {
    val txt = TxLogManifest.encode(TxLogManifest(3L, "append", Nil))
    assert(txt.startsWith(s"""{"version":3,"fmt":${TxLog.FormatVersion},"""), txt)
    val future = intercept[java.io.IOException](TxLogManifest.decode("v00000002.json",
      s"""{"version":2,"fmt":${TxLog.FormatVersion + 1},"action":"append","files":[]}"""))
    assert(future.getMessage.contains("format"), future.getMessage)
    Seq("garbage", "[]", """{"version":1,"files":[]}""",
      """{"version":1,"action":"rename","files":[]}""").foreach { bad =>
      val e = intercept[java.io.IOException](TxLogManifest.decode("v00000007.json", bad))
      assert(e.getMessage.contains("v00000007.json"), e.getMessage)
    }
  }
}
