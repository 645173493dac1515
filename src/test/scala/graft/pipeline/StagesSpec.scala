package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.Zones
import graft.ops.{Clean, ClassWeights, LabelEncode}

/** End-to-end pipeline fixture (SURVEY.md §5.4, FIXTURES.md §B): mini
  * Pfam-shaped CSV shards through all three stages; asserts zone outputs'
  * schemas and invariants (dense lexicographic codes, SP1 branch counts,
  * w = n_min/n_c, curated token shape).
  */
class StagesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def seqOf(n: Int, c: Char = 'A'): String = c.toString * n

  /** Classes of sizes 1,2,3,4,7 (every SP1 branch) + one malformed row. */
  private def writeFixture(root: Path): Seq[String] = {
    val fams = Seq("FAM1" -> 1, "FAM2" -> 2, "FAM3" -> 3, "FAM4" -> 4, "FAM5" -> 7)
    var i = 0
    val rows = fams.flatMap { case (fam, n) =>
      (0 until n).map { _ =>
        i += 1
        s"${seqOf(4 + i)},$fam,name_${f"$i%03d"},${seqOf(4 + i, 'G')},${fam}_id"
      }
    } :+ s"${seqOf(5)},FAM1,name_999,," // empty aligned_sequence → dropna
    writeShards(root, rows)
  }

  /** Spreads CSV lines over train/dev/test shard dirs to exercise the
    * multi-path union read (S1/S2).
    */
  private def writeShards(root: Path, rows: Seq[String]): Seq[String] = {
    val dirs = Seq("train", "dev", "test").map(d => root.resolve(d))
    dirs.foreach(Files.createDirectories(_))
    rows.grouped((rows.size + 2) / 3).zipWithIndex.foreach { case (chunk, si) =>
      Files.writeString(dirs(si % 3).resolve(s"shard_$si.csv"), chunk.mkString("", "\n", "\n"))
    }
    dirs.map(_.toString)
  }

  /** Well-formed rows, `n` per class, with unique names and sequences. */
  private def classRows(sizes: Seq[(String, Int)]): Seq[String] = {
    var i = 0
    sizes.flatMap { case (fam, n) =>
      (0 until n).map { _ =>
        i += 1
        s"S$i${seqOf(3 + i % 7)},$fam,name_${f"$i%05d"},A$i${seqOf(3 + i % 5, 'G')},${i % 9}_id"
      }
    }
  }

  /** Stage 1 + 2 over `rows` in a fresh lake. */
  private def stage2(rows: Seq[String]): (Zones, DataFrame, Stages.StagingOutputs) = {
    val root  = Files.createTempDirectory("graft_stage2")
    val zones = Zones(root.resolve("lake").toString)
    zones.ensure(spark)
    val raw = Stages.unpackToRaw(spark, writeShards(root, rows), zones)
    (zones, raw, Stages.preprocessToStaging(raw, zones, orderCol = "sequence_name"))
  }

  /** A CSV sink's part files, concatenated in name order. */
  private def sinkText(dir: String): String =
    Files.list(Path.of(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
      .map(p => new String(Files.readAllBytes(p), UTF_8)).mkString

  private def writtenText(df: DataFrame): String = {
    val dir = Files.createTempDirectory("graft_ref").resolve("out").toString
    Zones.writeCsv(df, dir, single = true)
    sinkText(dir)
  }

  private def readsCache(df: DataFrame): Boolean =
    df.select("*").queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation])

  test("three stages end-to-end on the Pfam-shaped fixture") {
    val root  = Files.createTempDirectory("graft_fixture")
    val dirs  = writeFixture(root)
    val zones = Zones(root.resolve("lake").toString)
    zones.ensure(spark)

    // stage 1: ingest (S1/S2/S3)
    val raw = Stages.unpackToRaw(spark, dirs, zones)
    assert(raw.count() === 18) // 17 clean + 1 malformed

    // stage 2: clean/encode/split/weights
    val out = Stages.preprocessToStaging(raw, zones, orderCol = "sequence_name")

    val mapping = out.labelMapping.as[(String, Long)].collect().toMap
    assert(mapping === Map("FAM1" -> 0L, "FAM2" -> 1L, "FAM3" -> 2L, "FAM4" -> 3L, "FAM5" -> 4L))

    assert(out.train.columns.toSet === Set("sequence", "aligned_sequence", "class_encoded"))
    val trainPerClass = out.train.groupBy("class_encoded").count()
      .as[(Long, Long)].collect().toMap
    // sizes 1,2,3,4,7 → train 0,0,1,3,4 / dev 0,1,1,0,1 / test 1,1,1,1,2
    assert(trainPerClass === Map(2L -> 1L, 3L -> 3L, 4L -> 4L))
    assert(out.dev.count() === 3)
    assert(out.test.count() === 6)
    assert(out.train.count() + out.dev.count() + out.test.count() === 17)

    val weights = out.classWeights.as[(Long, Double)].collect().toMap
    assert(weights === Map(2L -> 1.0, 3L -> 0.333333, 4L -> 0.25))

    // stage 3: tokenize (F2/F3)
    val curated = Stages.processToCurated(out.train, zones, "train", maxLength = 16)
    assert(curated.columns.toSet === Set("aligned_sequence", "class_encoded", "tokens"))
    val tokens = curated.select("tokens").as[Seq[Int]].collect()
    assert(tokens.forall(_.length === 16))
    assert(tokens.forall(_.head === 0))
    assert(tokens.forall(_.count(_ == 2) === 1))

    // sinks exist on disk (S3/S5 shape)
    assert(Files.list(root.resolve("lake/staging")).count() >= 5)
  }

  test("stage 2 starts at most 10 Spark jobs") {
    val root  = Files.createTempDirectory("graft_fixture")
    val zones = Zones(root.resolve("lake").toString)
    zones.ensure(spark)
    val raw = Stages.unpackToRaw(spark, writeFixture(root), zones)
    val (out, jobs) = TestSpark.jobsStartedBy(Stages.preprocessToStaging(raw, zones, orderCol = "sequence_name"))
    // the class-size collect (2), label_mapping and class_weights (1 each),
    // the dictionary's broadcast (1), the split's exchange + cache fill +
    // first sink (3), two more sinks (2); building the dictionary twice took 17
    assert(jobs >= 1 && jobs <= 10, s"stage 2 started $jobs Spark jobs")
    assert(out.train.count() + out.dev.count() + out.test.count() === 17)
    out.unpersist()
  }

  test("label_mapping and class_weights sinks match LabelEncode.mapping and ClassWeights.weights") {
    // Zipf-like sizes 284/r: the largest class trains on 128 rows, and
    // n_min = 1 (the size-3 class), so its weight 1/128 = 0.0078125 is a
    // HALF_UP tie at the 6th digit; 1/6 rounds up, 1/7 down. The tail covers
    // SP1's n = 1, 2, 3, 4 branches; the last two keys sort differently in
    // UTF-8 bytes (Spark's order) than in UTF-16 units.
    val sizes = (1 to 60).map(r => f"PF$r%05d.${r % 3}" -> 284 / r) ++
      Seq("pf_tail" -> 1, "Zz" -> 2, "\uFF21x" -> 3, "\uD83D\uDE00x" -> 4)
    val rows = classRows(sizes) ++ Seq("SBAD,PF00001.1,name_bad,,x", "SBAD2,,name_bad2,AA,x")
    val (zones, raw, out) = stage2(rows)
    val mappingText = sinkText(s"${zones.staging}/label_mapping")
    val weightsText = sinkText(s"${zones.staging}/class_weights")
    val refMapping = LabelEncode.mapping(Clean.dropNa(raw), "family_accession")
    val refWeights = ClassWeights.weights(out.train, "class_encoded")
    assert(mappingText === writtenText(refMapping))
    assert(weightsText === writtenText(refWeights))
    assert(out.labelMapping.schema === refMapping.schema)
    assert(out.classWeights.schema === refWeights.schema)
    assert(mappingText.linesIterator.size === 1 + sizes.size)
    assert(mappingText.linesIterator.toSeq.takeRight(2) ===
      Seq(s"\uFF21x,${sizes.size - 2}", s"\uD83D\uDE00x,${sizes.size - 1}"))
    val w = weightsText.linesIterator.drop(1).map(_.split(",")).map(a => a(0).toLong -> a(1)).toMap
    assert(w(0L) === "0.007813")
    assert(w.values.toSet.contains("0.166667") && w.values.toSet.contains("0.142857"))
    out.unpersist()
  }

  test("classes of at most 2 rows: empty train split, header-only class_weights") {
    val (zones, _, out) = stage2(classRows(Seq("A" -> 1, "B" -> 2, "C" -> 2, "D" -> 1)))
    assert(out.train.count() === 0)
    assert(out.dev.count() === 2 && out.test.count() === 4)
    assert(out.classWeights.count() === 0)
    assert(sinkText(s"${zones.staging}/class_weights") === "class_encoded,weight\n")
    assert(sinkText(s"${zones.staging}/label_mapping").linesIterator.size === 5)
    out.unpersist()
  }

  test("all rows malformed: every staging sink is header-only") {
    val rows = (1 to 6).map(i => s"S$i,FAM$i,name_$i") // no aligned_sequence/family_id
    val (zones, raw, out) = stage2(rows)
    assert(raw.count() === 6)
    assert(out.labelMapping.count() === 0 && out.classWeights.count() === 0)
    assert(sinkText(s"${zones.staging}/label_mapping") === "family_accession,class_encoded\n")
    assert(sinkText(s"${zones.staging}/class_weights") === "class_encoded,weight\n")
    Seq("train", "dev", "test").foreach { n =>
      assert(sinkText(s"${zones.staging}/preprocessed_$n") === "sequence,aligned_sequence,class_encoded\n", n)
    }
    out.unpersist()
  }

  test("unpersist() releases the split cache the stage filled") {
    val root  = Files.createTempDirectory("graft_fixture")
    val zones = Zones(root.resolve("lake").toString)
    zones.ensure(spark)
    val raw = Stages.unpackToRaw(spark, writeFixture(root), zones)
    val out = Stages.preprocessToStaging(raw, zones, orderCol = "sequence_name")
    val frames = Seq(out.train, out.dev, out.test, out.labelMapping, out.classWeights)
    assert(Seq(out.train, out.dev, out.test).forall(readsCache))
    out.unpersist()
    assert(!frames.exists(readsCache), "a stage-2 frame still reads cached data")
    assert(out.train.count() + out.dev.count() + out.test.count() === 17) // recomputed
  }
}
