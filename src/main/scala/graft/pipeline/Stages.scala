package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Zones
import graft.functions.EsmTokenizer
import graft.ops.{Clean, LabelEncode, StratifiedSplit}

/** The reference's three pipeline stages re-expressed as lazy Spark plans
  * (SURVEY.md §3). Each stage is one declarative DAG ending in sinks — no
  * temp files, no per-class loops, and no driver-side data beyond stage 2's
  * one-row-per-class size table.
  */
object Stages {

  /** RAW ingest schema — positional names from `unpack_to_raw.py:42`. */
  val RawSchema: StructType = StructType(
    Seq("sequence", "family_accession", "sequence_name", "aligned_sequence", "family_id")
      .map(StructField(_, StringType, nullable = true)))

  /** Stage 1 (`unpack_to_raw.py`): shard CSVs → one raw table. The
    * reference's sequential per-file loop + concat (S1/S2) is a single
    * multi-path schema'd read; parallelism = input splits.
    */
  def unpackToRaw(spark: SparkSession, shardDirs: Seq[String], zones: Zones): DataFrame = {
    val df = Zones.readCsv(spark, RawSchema, header = false, shardDirs)
    Zones.writeCsv(df, s"${zones.raw}/combined", single = false)
    df
  }

  /** What stage 2 returns. `train`/`dev`/`test` read one persisted split
    * frame (`split`); [[unpersist]] releases it once the caller is done
    * with them (they recompute from the raw zone if read afterwards).
    * `labelMapping` and `classWeights` are local frames.
    */
  final case class StagingOutputs(
      train: DataFrame,
      dev: DataFrame,
      test: DataFrame,
      labelMapping: DataFrame,
      classWeights: DataFrame)(split: DataFrame) {
    def unpersist(): Unit = { split.unpersist(); () }
  }

  /** Columns of the staging split CSVs (what `preprocessToStaging` writes
    * after its drops) — [[graft.pipeline.ProcessToCurated]] reads with this
    * schema so `class_encoded` stays a long across the CLI path, identical
    * to the in-process `RunPipeline` path.
    */
  val StagingSchema: StructType = StructType(Seq(
    StructField("sequence", StringType, nullable = true),
    StructField("aligned_sequence", StringType, nullable = true),
    StructField("class_encoded", LongType, nullable = true)))

  /** Stage 2 (`preprocess_to_staging.py`): dropna → label-encode →
    * stratified split → class weights, in two parts:
    *
    *  - ONE aggregation, `StratifiedSplit.splitSizes` over the cleaned
    *    rows, collected to the driver — K rows, one per class (17,930 in
    *    full Pfam), so bounded like the broadcast dictionary. Both small
    *    outputs are local frames derived from it: the dictionary (keys in
    *    Spark's string order, codes 0..K-1, as `LabelEncode.mapping`) and
    *    the class weights (`n_min / n_train` over classes with train rows,
    *    rounded by Spark's `round`, as `ClassWeights.weights` over the
    *    train rows; SP1 fixes each class's train count from its size).
    *  - The split: the cleaned rows joined to the broadcast dictionary, one
    *    window exchange on the class code (`StratifiedSplit.withSplit`),
    *    PERSISTED (MEMORY_AND_DISK, so an oversized split spills) because
    *    three sinks and the returned frames read it. Its first write costs
    *    three jobs under AQE (the exchange, filling the cache, the write),
    *    each later sink one.
    *
    * Ten jobs in all: the collect (2), the two local sinks (1 each), the
    * dictionary's broadcast (1), the three split sinks (5). Call
    * [[StagingOutputs.unpersist]] when the returned frames are no longer
    * needed.
    *
    * `orderCol`: a stable per-row key standing in for file order (SP1); the
    * raw zone has none, so ingest must provide one (e.g. shard path + line).
    */
  def preprocessToStaging(raw: DataFrame, zones: Zones, orderCol: String): StagingOutputs = {
    val spark = raw.sparkSession
    val clean = Clean.dropNa(raw)
    val sizes = StratifiedSplit.splitSizes(clean, "family_accession")
      .select("family_accession", "n_train").collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)(Utf8BinaryOrder)
    val mapping = spark.createDataFrame(
      sizes.indices.map(i => Row(sizes(i)._1, i.toLong)).asJava, MappingSchema)
    val trainSizes = sizes.indices.collect { case i if sizes(i)._2 > 0 => Row(i.toLong, sizes(i)._2) }
    val nMin = trainSizes.map(_.getLong(1)).minOption.getOrElse(0L)
    val weights = spark.createDataFrame(trainSizes.asJava, TrainSizeSchema)
      .select(col("class_encoded"), round(lit(nMin).cast("double") / col("n_train"), 6).as("weight"))
    val encoded = LabelEncode.encode(clean, mapping, "family_accession")
    val withSplit = StratifiedSplit
      .withSplit(encoded, "class_encoded", orderCol)
      .drop("family_id", "sequence_name") // P2 (family_accession kept until after encode)
      .drop("family_accession")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def one(name: String): DataFrame =
      withSplit.filter(col("split") === name).drop("split")
    val train   = one("train")
    val dev     = one("dev")
    val test    = one("test")
    Zones.writeCsv(mapping, s"${zones.staging}/label_mapping", single = true)
    Zones.writeCsv(weights, s"${zones.staging}/class_weights", single = true)
    Seq("train" -> train, "dev" -> dev, "test" -> test).foreach {
      case (n, d) => Zones.writeCsv(d.drop(orderCol), s"${zones.staging}/preprocessed_$n")
    }
    StagingOutputs(train, dev, test, mapping, weights)(withSplit)
  }

  /** The dictionary's schema as `LabelEncode.mapping` produces it. */
  private val MappingSchema = StructType(Seq(
    StructField("family_accession", StringType, nullable = true),
    StructField("class_encoded", LongType, nullable = false)))

  private val TrainSizeSchema = StructType(Seq(
    StructField("class_encoded", LongType, nullable = false),
    StructField("n_train", LongType, nullable = false)))

  /** Spark's default string order: unsigned bytes of the UTF-8 encoding
    * (UTF-16 `compareTo` differs above U+FFFF).
    */
  private val Utf8BinaryOrder: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** Stage 3 (`process_to_curated.py`): tokenize → drop sequence → sink.
    * The per-row Python tokenizer loop becomes a data-parallel UDF; tokens
    * stay an array column (F3): the reference's scalar `token_i` column is
    * `tokens[i]`.
    */
  def processToCurated(
      staging: DataFrame,
      zones: Zones,
      splitName: String,
      maxLength: Int = EsmTokenizer.DefaultMaxLength): DataFrame = {
    Clean.requireColumns(staging, "sequence")
    val out = staging
      .withColumn("tokens", EsmTokenizer.tokenizeCol(col("sequence"), maxLength))
      .drop("sequence")
    Zones.writeParquet(out, s"${zones.curated}/tokenized_$splitName")
    out
  }
}
