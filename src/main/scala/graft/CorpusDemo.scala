package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Runnable end-to-end training-corpus pipeline over the documents
  * table — the LLM-side counterpart of [[PipelineDemo]]'s medallion
  * flow. Stages: quality + repetition filtering → exact dedup →
  * near-dup clustering → representative selection → language-stratified
  * mixture → sequence-packing plan. Prints per-stage survivor counts.
  *
  * Usage: runMain graft.CorpusDemo [sfDir]
  */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = Cores.local
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
    println(s"CORPUS stage=raw rows=${docs.count()}")

    // 1. quality gate: length band + Gopher repetition caps
    val toks = docs.select(col("doc_id"), col("text"),
      length(col("text")).as("tlen"), TextOps.tokens(col("text")).as("toks"))
    val quality = toks.filter(
      size(col("toks")).between(8, 5000) &&
        TextOps.dupTokenFrac(col("toks")) < 0.99 &&
        TextOps.topNgramCharFrac(col("toks"), col("tlen"), 2) < 0.30)
      .select("doc_id", "text")
    println(s"CORPUS stage=quality rows=${quality.count()}")

    // 2. exact dedup on content hash
    val exact = operators.Dedup.exactDedup(quality, "doc_id", Seq("text"))
    println(s"CORPUS stage=exact_dedup rows=${exact.count()}")

    // 3. near-dup pairs -> connected components -> keep representatives
    val pairs = dedup.NearDup.nearDupPairs(exact, "doc_id", "text",
      threshold = 0.7)
    val comps = operators.ConnectedComponents.components(
      pairs.select("id1", "id2"), "id1", "id2")
    val reps = operators.ConnectedComponents.keepRepresentatives(
      exact, "doc_id", comps)
    println(s"CORPUS stage=near_dedup rows=${reps.count()}")

    // 4. language-stratified mixture (equal en/fr/es/de shares)
    val scored = reps
      .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("toks"))
      .select((col("doc_id") +: col("text") +:
        TextOps.langScoresToks(col("toks"))): _*)
      .withColumn("lang", TextOps.langIdFromScores)
    val mixed = operators.Sample.mixtureSample(scored, "doc_id", "lang",
      Map("en" -> 0.25, "fr" -> 0.25, "es" -> 0.25, "de" -> 0.25))
    println(s"CORPUS stage=mixture rows=${mixed.count()}")

    // 5. sequence-packing plan into 512-token windows
    val plan = operators.Pack.packPlan(mixed, "doc_id",
      TextOps.tokenCount(col("text")), nShards = 8, ctxTokens = 512)
    val packs = plan.agg(
      countDistinct(col("shard"), col("pack_seq")).as("n_packs"),
      sum(col("n_tokens")).as("total_tokens")).head()
    println(s"CORPUS stage=packed docs=${plan.count()} " +
      s"packs=${packs.getLong(0)} tokens=${packs.getLong(1)}")

    spark.stop()
  }
}
