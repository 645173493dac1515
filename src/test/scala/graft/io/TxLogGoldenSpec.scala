package graft.io

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.TxLog.Replay

/** Logs written by the fmt 2–5 writer (the regex-read format, before the
  * JSON codec) still replay exactly as that writer's own reader replayed
  * them. `src/test/resources/txlog-golden/` holds four `_txlog` dirs
  * (log files only, no data):
  *   - `entries`: bare and object entries with every field (b, s, t, m,
  *     d, r, x), a string zone map whose values hold the JSON specials
  *     and one with a truncated (null) hi, a deletion-vector commit with
  *     `touched` and `dvb`, and a txnId holding a quote and a dot;
  *   - `partitioned`: a partitioned append, a blind append, then an
  *     explicit flat `"partitionBy":[]`;
  *   - `metadata`: a constraint add then a drop to empty, a rename and a
  *     drop column (colmap, colunmap, coldrop), cluster keys, txnIds, and
  *     a checkpoint at v10 carrying `txns`;
  *   - `legacy`: unstamped files whose checkpoint carries neither `fmt`
  *     nor `txns`, so the txns map is rebuilt from the manifests.
  * The expected lines are what the fmt ≤ 5 reader's replay produced.
  */
class TxLogGoldenSpec extends AnyFunSuite {

  private def show(r: Replay): Seq[String] = {
    def m[V](x: Map[String, V])(f: V => String): String =
      x.toSeq.sortBy(_._1).map { case (k, v) => s"$k->${f(v)}" }.mkString("{", ",", "}")
    r.entries.map { e =>
      s"entry ${e.path} b=${e.bytes.getOrElse("-")} s=${m(e.stats)(v => s"${v._1}..${v._2}")} " +
        s"t=${m(e.strStats)(v => s"${v._1}..${v._2.getOrElse("null")}")} " +
        s"m=${m(e.blooms)(identity)} d=${e.dvs.mkString("[", ",", "]")} " +
        s"r=${e.rows.getOrElse("-")} x=${e.dvRows}"
    } ++ Seq(
      s"schema ${r.schema.map(_.simpleString).getOrElse("-")}",
      s"txns ${m(r.txns)(_.toString)}",
      s"partitionBy ${r.partitionBy.map(_.mkString("[", ",", "]")).getOrElse("MIXED")}",
      s"constraints ${m(r.constraints)(identity)}",
      s"dvBytes ${m(r.dvBytes)(_.toString)}",
      s"colMap ${m(r.colMap)(identity)}",
      s"droppedPhys ${r.droppedPhys.toSeq.sorted.mkString("[", ",", "]")}",
      s"clusterBy ${r.clusterBy.mkString("[", ",", "]")}")
  }

  /** A private copy of a golden table, so no run can touch the fixture. */
  private def golden(name: String): String = {
    val src = Paths.get(getClass.getResource(s"/txlog-golden/$name").toURI)
    val dst = Paths.get(Zones.tempDir(s"golden_$name"))
    val it = Files.walk(src)
    try it.forEach { (p: Path) =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally it.close()
    dst.toString
  }

  private val expected: Map[String, Seq[Seq[String]]] = Map(
    "entries" -> Seq(
      Seq(
        "entry data/txn-a/bare.parquet b=- s={} t={} m={} d=[] r=- x=0",
        "entry data/txn-a/full.parquet b=1234 s={id->1..50} t={name->a\"{}[].\\b..z\"{}[].\\y} m={id->bigint} d=[] r=50 x=0",
        "entry data/txn-a/trunc.parquet b=99 s={id->-5..7} t={name->aaa..null} m={} d=[] r=3 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {stream\"q.1->1}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-a/bare.parquet b=- s={} t={} m={} d=[] r=- x=0",
        "entry data/txn-a/full.parquet b=1234 s={id->1..50} t={name->a\"{}[].\\b..z\"{}[].\\y} m={id->bigint} d=[_dv/txn-d1] r=50 x=2",
        "entry data/txn-a/trunc.parquet b=99 s={id->-5..7} t={name->aaa..null} m={} d=[] r=3 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {stream\"q.1->1}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {_dv/txn-d1->321}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-a/bare.parquet b=- s={} t={} m={} d=[] r=- x=0",
        "entry data/txn-a/full.parquet b=1234 s={id->1..50} t={name->a\"{}[].\\b..z\"{}[].\\y} m={id->bigint} d=[_dv/txn-d1] r=50 x=2",
        "entry data/txn-a/trunc.parquet b=99 s={id->-5..7} t={name->aaa..null} m={} d=[] r=3 x=0",
        "entry data/txn-b/p.parquet b=10 s={id->60..60} t={} m={} d=[] r=1 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {stream\"q.1->1}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {_dv/txn-d1->321}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []")),
    "partitioned" -> Seq(
      Seq(
        "entry data/txn-p/lang=en/part-0.parquet b=100 s={id->0..9} t={} m={} d=[] r=10 x=0",
        "schema struct<id:bigint,lang:string>",
        "txns {}",
        "partitionBy [lang]",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-p/lang=en/part-0.parquet b=100 s={id->0..9} t={} m={} d=[] r=10 x=0",
        "entry data/txn-q/part-0.parquet b=50 s={} t={} m={} d=[] r=5 x=0",
        "schema struct<id:bigint,lang:string>",
        "txns {}",
        "partitionBy [lang]",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-p/lang=en/part-0.parquet b=100 s={id->0..9} t={} m={} d=[] r=10 x=0",
        "entry data/txn-q/part-0.parquet b=50 s={} t={} m={} d=[] r=5 x=0",
        "entry data/txn-r/part-0.parquet b=70 s={id->20..29} t={} m={} d=[] r=10 x=0",
        "schema struct<id:bigint,lang:string>",
        "txns {}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []")),
    "metadata" -> Seq(
      Seq(
        "entry data/txn-m1/part-0.parquet b=101 s={k->10..19} t={} m={} d=[] r=10 x=0",
        "schema struct<k:bigint,s:string,a:bigint,b:bigint>",
        "txns {batch#0->1}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-m1/part-0.parquet b=101 s={k->10..19} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m2/part-0.parquet b=102 s={k->20..29} t={} m={} d=[] r=10 x=0",
        "schema struct<k:bigint,s:string,a:bigint,b:bigint>",
        "txns {batch\"1.x->2,batch#0->1}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-m1/part-0.parquet b=101 s={k->10..19} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m2/part-0.parquet b=102 s={k->20..29} t={} m={} d=[] r=10 x=0",
        "schema struct<k:bigint,s:string,a:bigint,b:bigint>",
        "txns {batch\"1.x->2,batch#0->1}",
        "partitionBy []",
        "constraints {pos->k > 0 AND s <> 'x\"}'}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-m1/part-0.parquet b=101 s={k->10..19} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m2/part-0.parquet b=102 s={k->20..29} t={} m={} d=[] r=10 x=0",
        "schema struct<k:bigint,s:string,a:bigint,b:bigint>",
        "txns {batch\"1.x->2,batch#0->1}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-m1/part-0.parquet b=101 s={k->10..19} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m2/part-0.parquet b=102 s={k->20..29} t={} m={} d=[] r=10 x=0",
        "schema struct<key:bigint,s:string,a:bigint,b:bigint>",
        "txns {batch\"1.x->2,batch#0->1}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {key->k}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-m1/part-0.parquet b=101 s={k->10..19} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m2/part-0.parquet b=102 s={k->20..29} t={} m={} d=[] r=10 x=0",
        "schema struct<key:bigint,a:bigint,b:bigint>",
        "txns {batch\"1.x->2,batch#0->1}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {key->k}",
        "droppedPhys [s]",
        "clusterBy []"),
      Seq(
        "entry data/txn-m1/part-0.parquet b=101 s={k->10..19} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m2/part-0.parquet b=102 s={k->20..29} t={} m={} d=[] r=10 x=0",
        "schema struct<key:bigint,a:bigint,b:bigint>",
        "txns {batch\"1.x->2,batch#0->1}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {key->k}",
        "droppedPhys [s]",
        "clusterBy [a,b]"),
      Seq(
        "entry data/txn-m1/part-0.parquet b=101 s={k->10..19} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m2/part-0.parquet b=102 s={k->20..29} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m8/part-0.parquet b=108 s={k->80..89} t={} m={} d=[] r=10 x=0",
        "schema struct<key:bigint,a:bigint,b:bigint>",
        "txns {batch\"1.x->2,batch#0->1,batch#8->8}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {key->k}",
        "droppedPhys [s]",
        "clusterBy [a,b]"),
      Seq(
        "entry data/txn-m1/part-0.parquet b=101 s={k->10..19} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m2/part-0.parquet b=102 s={k->20..29} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m8/part-0.parquet b=108 s={k->80..89} t={} m={} d=[] r=10 x=0",
        "schema struct<key:bigint,a:bigint,b:bigint>",
        "txns {batch\"1.x->2,batch#0->1,batch#8->8}",
        "partitionBy []",
        "constraints {nn->a IS NOT NULL}",
        "dvBytes {}",
        "colMap {key->k}",
        "droppedPhys [s]",
        "clusterBy [a,b]"),
      Seq(
        "entry data/txn-m1/part-0.parquet b=101 s={k->10..19} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m2/part-0.parquet b=102 s={k->20..29} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m8/part-0.parquet b=108 s={k->80..89} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m10/part-0.parquet b=110 s={k->100..109} t={} m={} d=[] r=10 x=0",
        "schema struct<key:bigint,a:bigint,b:bigint>",
        "txns {batch\"1.x->2,batch#0->1,batch#10->10,batch#8->8}",
        "partitionBy []",
        "constraints {nn->a IS NOT NULL}",
        "dvBytes {}",
        "colMap {key->k}",
        "droppedPhys [s]",
        "clusterBy [a,b]"),
      Seq(
        "entry data/txn-m1/part-0.parquet b=101 s={k->10..19} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m2/part-0.parquet b=102 s={k->20..29} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m8/part-0.parquet b=108 s={k->80..89} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m10/part-0.parquet b=110 s={k->100..109} t={} m={} d=[] r=10 x=0",
        "entry data/txn-m11/part-0.parquet b=111 s={k->110..119} t={} m={} d=[] r=10 x=0",
        "schema struct<key:bigint,a:bigint,b:bigint>",
        "txns {batch\"1.x->2,batch#0->1,batch#10->10,batch#8->8}",
        "partitionBy []",
        "constraints {nn->a IS NOT NULL}",
        "dvBytes {}",
        "colMap {key->k}",
        "droppedPhys [s]",
        "clusterBy [a,b]")),
    "legacy" -> Seq(
      Seq(
        "entry data/txn-l1/part-0.parquet b=201 s={id->2..3} t={} m={} d=[] r=2 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {batch#1->1}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-l1/part-0.parquet b=201 s={id->2..3} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l2/part-0.parquet b=202 s={id->4..5} t={} m={} d=[] r=2 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {batch#1->1,batch#2->2}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-l1/part-0.parquet b=201 s={id->2..3} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l2/part-0.parquet b=202 s={id->4..5} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l3/part-0.parquet b=203 s={id->6..7} t={} m={} d=[] r=2 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {batch#1->1,batch#2->2,batch#3->3}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-l1/part-0.parquet b=201 s={id->2..3} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l2/part-0.parquet b=202 s={id->4..5} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l3/part-0.parquet b=203 s={id->6..7} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l4/part-0.parquet b=204 s={id->8..9} t={} m={} d=[] r=2 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {batch#1->1,batch#2->2,batch#3->3,batch#4->4}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-l1/part-0.parquet b=201 s={id->2..3} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l2/part-0.parquet b=202 s={id->4..5} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l3/part-0.parquet b=203 s={id->6..7} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l4/part-0.parquet b=204 s={id->8..9} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l5/part-0.parquet b=205 s={id->10..11} t={} m={} d=[] r=2 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {batch#1->1,batch#2->2,batch#3->3,batch#4->4,batch#5->5}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-l1/part-0.parquet b=201 s={id->2..3} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l2/part-0.parquet b=202 s={id->4..5} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l3/part-0.parquet b=203 s={id->6..7} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l4/part-0.parquet b=204 s={id->8..9} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l5/part-0.parquet b=205 s={id->10..11} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l6/part-0.parquet b=206 s={id->12..13} t={} m={} d=[] r=2 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {batch#1->1,batch#2->2,batch#3->3,batch#4->4,batch#5->5,batch#6->6}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-l1/part-0.parquet b=201 s={id->2..3} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l2/part-0.parquet b=202 s={id->4..5} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l3/part-0.parquet b=203 s={id->6..7} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l4/part-0.parquet b=204 s={id->8..9} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l5/part-0.parquet b=205 s={id->10..11} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l6/part-0.parquet b=206 s={id->12..13} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l7/part-0.parquet b=207 s={id->14..15} t={} m={} d=[] r=2 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {batch#1->1,batch#2->2,batch#3->3,batch#4->4,batch#5->5,batch#6->6,batch#7->7}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-l1/part-0.parquet b=201 s={id->2..3} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l2/part-0.parquet b=202 s={id->4..5} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l3/part-0.parquet b=203 s={id->6..7} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l4/part-0.parquet b=204 s={id->8..9} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l5/part-0.parquet b=205 s={id->10..11} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l6/part-0.parquet b=206 s={id->12..13} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l7/part-0.parquet b=207 s={id->14..15} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l8/part-0.parquet b=208 s={id->16..17} t={} m={} d=[] r=2 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {batch#1->1,batch#2->2,batch#3->3,batch#4->4,batch#5->5,batch#6->6,batch#7->7,batch#8->8}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-l1/part-0.parquet b=201 s={id->2..3} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l2/part-0.parquet b=202 s={id->4..5} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l3/part-0.parquet b=203 s={id->6..7} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l4/part-0.parquet b=204 s={id->8..9} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l5/part-0.parquet b=205 s={id->10..11} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l6/part-0.parquet b=206 s={id->12..13} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l7/part-0.parquet b=207 s={id->14..15} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l8/part-0.parquet b=208 s={id->16..17} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l9/part-0.parquet b=209 s={id->18..19} t={} m={} d=[] r=2 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {batch#1->1,batch#2->2,batch#3->3,batch#4->4,batch#5->5,batch#6->6,batch#7->7,batch#8->8,batch#9->9}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-l1/part-0.parquet b=201 s={id->2..3} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l2/part-0.parquet b=202 s={id->4..5} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l3/part-0.parquet b=203 s={id->6..7} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l4/part-0.parquet b=204 s={id->8..9} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l5/part-0.parquet b=205 s={id->10..11} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l6/part-0.parquet b=206 s={id->12..13} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l7/part-0.parquet b=207 s={id->14..15} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l8/part-0.parquet b=208 s={id->16..17} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l9/part-0.parquet b=209 s={id->18..19} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l10/part-0.parquet b=210 s={id->20..21} t={} m={} d=[] r=2 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {batch#1->1,batch#10->10,batch#2->2,batch#3->3,batch#4->4,batch#5->5,batch#6->6,batch#7->7,batch#8->8,batch#9->9}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []"),
      Seq(
        "entry data/txn-l1/part-0.parquet b=201 s={id->2..3} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l2/part-0.parquet b=202 s={id->4..5} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l3/part-0.parquet b=203 s={id->6..7} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l4/part-0.parquet b=204 s={id->8..9} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l5/part-0.parquet b=205 s={id->10..11} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l6/part-0.parquet b=206 s={id->12..13} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l7/part-0.parquet b=207 s={id->14..15} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l8/part-0.parquet b=208 s={id->16..17} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l9/part-0.parquet b=209 s={id->18..19} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l10/part-0.parquet b=210 s={id->20..21} t={} m={} d=[] r=2 x=0",
        "entry data/txn-l11/part-0.parquet b=211 s={id->22..23} t={} m={} d=[] r=2 x=0",
        "schema struct<id:bigint,name:string>",
        "txns {batch#1->1,batch#10->10,batch#11->11,batch#2->2,batch#3->3,batch#4->4,batch#5->5,batch#6->6,batch#7->7,batch#8->8,batch#9->9}",
        "partitionBy []",
        "constraints {}",
        "dvBytes {}",
        "colMap {}",
        "droppedPhys []",
        "clusterBy []")))

  for ((name, perVersion) <- expected.toSeq.sortBy(_._1))
    test(s"golden fmt<=5 log '$name' replays as its writer's reader replayed it") {
      val root = golden(name)
      assert(TxLog.headVersion(root) === perVersion.size.toLong)
      perVersion.zipWithIndex.foreach { case (want, i) =>
        assert(show(TxLog.replay(root, i + 1L)) === want, s"$name v${i + 1}")
      }
    }
}
