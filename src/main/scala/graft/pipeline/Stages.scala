package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Zones
import graft.functions.EsmTokenizer
import graft.ops.{Clean, ClassWeights, LabelEncode, StratifiedSplit}

/** The reference's three pipeline stages re-expressed as lazy Spark plans
  * (SURVEY.md §3). Each stage is one declarative DAG ending in sinks — no
  * temp files, no driver-side data movement, no per-class loops.
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

  final case class StagingOutputs(
      train: DataFrame,
      dev: DataFrame,
      test: DataFrame,
      labelMapping: DataFrame,
      classWeights: DataFrame)

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
    * stratified split → class weights. One logical plan fanning into five
    * sinks; the split never leaves the DataFrame domain (the reference's
    * pandas→numpy→pandas round-trip collapses into window+CASE).
    *
    * The split frame is PERSISTED before the fan-out: five sinks plus the
    * returned frames would otherwise re-execute the dropna → join → window
    * lineage once per action (~an order of magnitude of repeated work on
    * the full dataset). Caller may `unpersist()` the returned frames'
    * common ancestor when done; the cache is MEMORY_AND_DISK so an
    * oversized split spills instead of evicting to recompute.
    *
    * `orderCol`: a stable per-row key standing in for file order (SP1); the
    * raw zone has none, so ingest must provide one (e.g. shard path + line).
    */
  def preprocessToStaging(raw: DataFrame, zones: Zones, orderCol: String): StagingOutputs = {
    val clean   = Clean.dropNa(raw)
    val mapping = LabelEncode.mapping(clean, "family_accession")
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
    val weights = ClassWeights.weights(train, "class_encoded")
    Zones.writeCsv(mapping, s"${zones.staging}/label_mapping", single = true)
    Zones.writeCsv(weights, s"${zones.staging}/class_weights", single = true)
    Seq("train" -> train, "dev" -> dev, "test" -> test).foreach {
      case (n, d) => Zones.writeCsv(d.drop(orderCol), s"${zones.staging}/preprocessed_$n")
    }
    StagingOutputs(train, dev, test, mapping, weights)
  }

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
