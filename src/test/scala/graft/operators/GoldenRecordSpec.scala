package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.plans.JaroWinkler

/** r13 optimization guard: q338 replaced ConnectedComponents over the
  * part-pair edge list with [[GoldenRecord.clusters]] — a contraction
  * onto (block, name) supernodes plus a per-block union-find over the
  * bounded name dictionary. This spec pins the contraction ≡ the
  * original uncontracted pipeline on the real sf0.001 part table AND on
  * synthetic graphs exercising the tricky cases: transitive linking
  * through a present intermediate name, NO linking through an absent
  * intermediate name, same-name multi-part supernodes, singleton
  * exclusion, and cross-block isolation.
  */
class GoldenRecordSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The original q338 tail: pair edges → CC → per-cluster aggregate. */
  private def viaCC(b: DataFrame, simNames: DataFrame): DataFrame = {
    val edges = b.select(col("k").as("doc_a"), col("p_brand").as("brand"),
        col("p_type").as("ptype"), col("p_name").as("name_a"))
      .join(b.select(col("k").as("doc_b"), col("p_brand").as("brand_b"),
        col("p_type").as("ptype_b"), col("p_name").as("name_b")),
        col("brand") === col("brand_b") && col("ptype") === col("ptype_b")
          && col("doc_a") < col("doc_b"))
      .withColumn("na", least(col("name_a"), col("name_b")))
      .withColumn("nb", greatest(col("name_a"), col("name_b")))
      .join(broadcast(simNames), Seq("na", "nb"))
      .select("doc_a", "doc_b")
    ConnectedComponents.labels(edges, "doc_a", "doc_b")
      .join(b, col("node") === col("k"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("p_name")).as("n_names"),
        min(col("price_c")).as("min_price_c"),
        max(col("psize")).as("max_size"))
  }

  private def viaContraction(b: DataFrame, simNames: DataFrame): DataFrame =
    GoldenRecord.clusters(b, Seq("p_brand", "p_type"), "p_name", "k",
      "price_c", "psize", simNames)

  private def sorted(df: DataFrame): Seq[String] =
    df.select("cluster_id", "n_members", "n_names", "min_price_c", "max_size")
      .collect().map(_.mkString("|")).sorted.toSeq

  private def check(b: DataFrame, simNames: DataFrame): Unit = {
    val exp = sorted(viaCC(b, simNames))
    val got = sorted(viaContraction(b, simNames))
    assert(got == exp)
    assert(exp.forall(_.split('|')(1).toLong >= 2))
  }

  private def synth(parts: Seq[(Long, String, String, String, Long, Long)],
      sims: Seq[(String, String)]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val b = parts.toDF("k", "p_brand", "p_type", "p_name", "price_c", "psize")
    // reflexive pairs included, na <= nb — exactly the q338 simNames shape
    val names = parts.map(_._4).distinct
    val refl = names.map(n => (n, n))
    val sn = (sims.map { case (a, bb) =>
      if (a <= bb) (a, bb) else (bb, a)
    } ++ refl).distinct.toDF("na", "nb")
    (b, sn)
  }

  test("contraction ≡ CC on the real sf0.001 part table") {
    val b = graft.Tables.part(spark, "/root/testdata/sf0.001").select(
      col("p_partkey").as("k"), col("p_brand"), col("p_type"), col("p_name"),
      graft.queries.Shared.centsOf(col("p_retailprice")).as("price_c"),
      col("p_size").cast("long").as("psize"))
    val names = b.select(col("p_name").as("na")).distinct()
    val simNames = names
      .join(broadcast(names.select(col("na").as("nb"))), col("na") <= col("nb"))
      .filter(round(JaroWinkler(col("na"), col("nb")), 6) >= 0.88)
      .select("na", "nb")
    check(b, simNames)
  }

  test("transitive link through a PRESENT intermediate name") {
    // a~m, m~c, a!~c: one component {1,2,3} because m is present
    val (b, sn) = synth(
      Seq((1L, "B1", "T1", "alpha", 10L, 1L), (2L, "B1", "T1", "medium", 20L, 2L),
        (3L, "B1", "T1", "charly", 30L, 3L)),
      Seq(("alpha", "medium"), ("medium", "charly")))
    check(b, sn)
    assert(sorted(viaContraction(b, sn)) == Seq("1|3|3|10|3"))
  }

  test("NO link through an ABSENT intermediate name") {
    // same name graph, but no part carries "medium" in the block: alpha
    // and charly stay apart (each a 1-part singleton → excluded)
    val (b, sn) = synth(
      Seq((1L, "B1", "T1", "alpha", 10L, 1L), (3L, "B1", "T1", "charly", 30L, 3L),
        (9L, "B2", "T1", "medium", 5L, 9L)),
      Seq(("alpha", "medium"), ("medium", "charly")))
    check(b, sn)
    assert(sorted(viaContraction(b, sn)).isEmpty)
  }

  test("same-name supernode links its parts; singletons excluded") {
    val (b, sn) = synth(
      Seq((4L, "B1", "T1", "dup", 40L, 4L), (5L, "B1", "T1", "dup", 50L, 5L),
        (6L, "B1", "T1", "lonely", 60L, 6L),
        (7L, "B1", "T2", "dup", 70L, 7L)), // other block: singleton
      Seq.empty)
    check(b, sn)
    assert(sorted(viaContraction(b, sn)) == Seq("4|2|1|40|5"))
  }

  test("blocks isolate: similar names in different blocks never merge") {
    val (b, sn) = synth(
      Seq((1L, "B1", "T1", "alpha", 10L, 1L), (2L, "B1", "T1", "alphb", 20L, 2L),
        (3L, "B2", "T1", "alpha", 30L, 3L), (4L, "B2", "T1", "alphb", 5L, 9L)),
      Seq(("alpha", "alphb")))
    check(b, sn)
    assert(sorted(viaContraction(b, sn)) == Seq("1|2|2|10|2", "3|2|2|5|9"))
  }

  test("null-named parts form no cluster, as on the uncontracted path") {
    // two null names in one block: the name-pair join links neither part
    val (b, sn) = synth(
      Seq((1L, "B1", "T1", null, 10L, 1L), (2L, "B1", "T1", null, 20L, 2L),
        (3L, "B2", "T1", "aa", 30L, 3L), (4L, "B2", "T1", "aa", 40L, 4L)),
      Seq.empty)
    check(b, sn)
    assert(sorted(viaContraction(b, sn)) == Seq("3|2|1|30|4"))
  }

  test("mixed same-name multiplicity and similarity chain in one block") {
    val (b, sn) = synth(
      Seq((1L, "B1", "T1", "aa", 10L, 1L), (2L, "B1", "T1", "aa", 9L, 8L),
        (3L, "B1", "T1", "ab", 30L, 3L), (4L, "B1", "T1", "zz", 40L, 4L),
        (5L, "B1", "T1", "zy", 50L, 5L), (6L, "B1", "T1", "zy", 60L, 6L)),
      Seq(("aa", "ab"), ("zz", "zy")))
    check(b, sn)
    assert(sorted(viaContraction(b, sn)) ==
      Seq("1|3|2|9|8", "4|3|2|40|6"))
  }
}
