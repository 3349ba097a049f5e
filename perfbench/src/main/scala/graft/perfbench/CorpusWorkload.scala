package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.ScaleDedup
import graft.functions.GraftFunctions
import graft.registry.{ScaleDedupQueries, SimilarityQueries}
import graft.similarity.Clustering
import graft.text.TextAnalysis

/** `corpus_curation`: one curation job over the generated corpus —
  * `ScaleDedup.prepareCorpus`, then `ScaleDedup.ngramJaccardPairsPrefix`,
  * then `Clustering.semDedup`, each writing its output as parquet. The
  * inputs are the registry's near-dup and perturbed-vector fixtures
  * over the generated tables, and the arguments are the registry's, so
  * the outputs have DuckDB twins (`corpus_prep`,
  * `dedup_ngram_jaccard_prefix`, `emb_semdedup_cluster`).
  */
final class CorpusWorkload(val spark: SparkSession, val input: String,
                           val work: String) extends Workload {

  private val out = s"$work/out"
  private var first: Option[Seq[Long]] = None
  private var last: Seq[Long] = Nil
  private var tracedAgrees = true

  private def docs: DataFrame = ScaleDedupQueries.withNearDups(spark, input)
  private def vectors: DataFrame = SimilarityQueries.withPerturbed(spark, input)
  private val SemIters = 2

  def setup(): Unit = run(-1, new Tracer(false, null))

  def run(i: Int, tr: Tracer): Unit =
    if (!tr.enabled) {
      ScaleDedup.prepareCorpus(docs, "doc_id", "text",
          minQuality = 0.5, lang = "en", n = 3, threshold = 0.6)
        .write.mode("overwrite").parquet(s"$out/corpus_prep")
      ScaleDedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", n = 3, threshold = 0.5)
        .write.mode("overwrite").parquet(s"$out/dedup_ngram_jaccard_prefix")
      Clustering.semDedup(vectors, k = 0, iters = SemIters, threshold = 0.99,
          targetCellSize = 256)
        .write.mode("overwrite").parquet(s"$out/emb_semdedup_cluster")
    } else traced(tr)

  /** Output sizes of the last job: survivors, prefix pairs, kept vectors. */
  private def outputCounts: Seq[Long] = Seq(
    spark.read.parquet(s"$out/corpus_prep").count(),
    spark.read.parquet(s"$out/dedup_ngram_jaccard_prefix").count(),
    spark.read.parquet(s"$out/emb_semdedup_cluster").filter(col("is_kept")).count())

  override def after(i: Int, traced: Boolean): Boolean = {
    last = outputCounts
    if (first.isEmpty) first = Some(last)
    val same = first.contains(last)
    if (traced && !same) tracedAgrees = false
    same
  }

  /** DuckDB twins the Python side runs: the timed job's prefix pairs
    * against the full exact-Jaccard replay, and `semDedup` through its
    * registered hash-slice query. The full `corpus_prep` and
    * `emb_semdedup_cluster` twins (and `corpus_prep_sampled`) take
    * minutes in DuckDB at this size, so `prepareCorpus` is replayed in
    * Python over the twin-checked pairs instead (check.py).
    */
  private val Twins = Seq("dedup_ngram_jaccard_prefix", "emb_semdedup_sampled")

  override def finalChecks(): Seq[(String, Boolean, String)] = {
    graft.SparkEntry.queries("emb_semdedup_sampled")(spark, input)
      .write.mode("overwrite").parquet(s"$out/emb_semdedup_sampled")
    Seq(
      ("corpus.iterations_agree", first.contains(last),
        s"first=${first.getOrElse(Nil).mkString(",")} last=${last.mkString(",")}"),
      ("corpus.traced_agrees", tracedAgrees,
        "the step-by-step traced job must give the same output sizes"))
  }

  override def facts: Map[String, Any] = {
    val w = new java.io.PrintWriter(s"$work/oracle_sql.json", "UTF-8")
    try w.println(Json.value(Twins.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
    finally w.close()
    Map("out_dir" -> out, "oracle_sql" -> s"$work/oracle_sql.json",
      "output_counts" -> last, "input_docs" -> docs.count(),
      "input_vectors" -> vectors.count())
  }

  /** The same job with `prepareCorpus` split into its public steps (as
    * `tools.ScaleProbe` does), each inside its layer's span.
    */
  private def traced(tr: Tracer): Unit = {
    val sets = tr.span("text.TextAnalysis") {
      // tokenize + quality/language gate + shingle sets, exact dedup by
      // the token fingerprint (prepareCorpus' first two stages)
      val toked = docs.select(col("doc_id").as("id"), col("text").as("_text"),
          TextAnalysis.tokens(col("text")).as("_toks"))
        .filter(
          TextAnalysis.qualityScoreOf(col("_text"), col("_toks")) >= 0.5 &&
            TextAnalysis.langIdOf(col("_toks")) === "en")
        .select(col("id"),
          md5(concat_ws(" ", col("_toks"))).as("_fp"),
          GraftFunctions.longSortedSet(
            GraftFunctions.shingleHashes(col("_toks"), 3)).as("shs"))
      val sets = graft.plans.TopK.perKey(toked,
          Seq(col("_fp")), Seq(col("id").asc), 1)
        .select(col("id"), col("shs"))
        .localCheckpoint()
      tr.count("docs_kept", sets.count().toDouble)
      sets
    }
    tr.span("dedup.ScaleDedup.lsh") {
      val cands = ScaleDedup.minhashCandidatesFromSets(sets, 64, 32).localCheckpoint()
      tr.count("candidates", cands.count().toDouble)
      val verified = ScaleDedup.verifyJaccardSets(cands, sets, 0.6).localCheckpoint()
      tr.count("verified", verified.count().toDouble)
      ScaleDedup.assignCanonical(sets.select(col("id")), verified)
        .filter(col("id") === col("canonical_id"))
        .select(col("id").as("doc_id"))
        .write.mode("overwrite").parquet(s"$out/corpus_prep")
      tr.count("survivors", spark.read.parquet(s"$out/corpus_prep").count().toDouble)
    }
    tr.span("dedup.ScaleDedup.prefix") {
      ScaleDedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", n = 3, threshold = 0.5)
        .write.mode("overwrite").parquet(s"$out/dedup_ngram_jaccard_prefix")
      tr.count("pairs",
        spark.read.parquet(s"$out/dedup_ngram_jaccard_prefix").count().toDouble)
    }
    tr.span("similarity.Clustering") {
      Clustering.semDedup(vectors, k = 0, iters = SemIters, threshold = 0.99,
          targetCellSize = 256)
        .write.mode("overwrite").parquet(s"$out/emb_semdedup_cluster")
      tr.count("iters", SemIters.toDouble)
      tr.count("kept", spark.read.parquet(s"$out/emb_semdedup_cluster")
        .filter(col("is_kept")).count().toDouble)
    }
  }
}
