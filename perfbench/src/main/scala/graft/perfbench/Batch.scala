package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Sampling, TextAnalysis}

/** curation: the LLM-curation chain over a generated corpus, composed from
  * the public operators in order: text filters, exact dedup, MinHash pairs
  * -> connected components -> near-dup drop, embedding LSH near-dup, then
  * the leak-free split. No streaming. */
final class Curation(dir: String) extends Workload {
  val MinQuality = 0.4
  val MinCosine = 0.9

  def warmUp(spark: SparkSession): Unit =
    run(spark, new Tracer(false), s"$dir/warm", s"$dir/warmrun")

  def pass(spark: SparkSession, t: Tracer, n: Int): Pass =
    Pass(Map("out" -> s"$dir/pass-$n"),
      run(spark, t, s"$dir/in", s"$dir/pass-$n"))

  /** Candidate pairs the two pair generators verify, counted after the
    * traced pass by re-running their banding / bucketing self-join with the
    * same parameters over that pass's exact-dedup and near-dup survivors. */
  override def tracedExtras(cores: Int, mkSession: Int => SparkSession,
      last: Map[String, Any]): Map[String, Any] = {
    val out = last("out")
    val s = mkSession(cores)
    try {
      val corpus = s.read.parquet(s"$dir/in/corpus.parquet")
      def docs(ids: String) = corpus.join(s.read.parquet(ids), "doc_id")
      val bands = Dedup.minhashBands(Dedup.minhashSignatures(
          docs(s"$out/exact")))
        .select(col("doc_id"), col("band_idx"), col("band_val"))
      val buckets = graft.operators.Similarity.lshBucketsMulti(
        docs(s"$out/split").select("doc_id", "embedding"), "doc_id",
        "embedding", tables = 8, planes = 8)
      def pairs(df: DataFrame, keys: Seq[String], id: String): Long =
        df.as("l").join(df.as("r"), keys)
          .filter(col(s"l.$id") < col(s"r.$id"))
          .select(col(s"l.$id"), col(s"r.$id")).distinct().count()
      Map("minhash_candidates" -> pairs(bands, Seq("band_idx", "band_val"),
          "doc_id"),
        "lsh_candidates" -> pairs(buckets, Seq("table", "bucket"), "id"),
        "text_rows_in" -> corpus.count())
    } finally s.stop()
  }

  /** Returns the number of stage actions. */
  private def run(spark: SparkSession, t: Tracer, in: String, out: String)
      : Int = {
    val corpus = spark.read.parquet(s"$in/corpus.parquet")
    val filtered = Stage.checkpoint(t, "text", "TextAnalysis filters") {
      val en = TextAnalysis.withLangId(corpus)
        .filter(col("lang_pred") === "en")
      val good = TextAnalysis.withQuality(en)
        .filter(col("quality_score") >= MinQuality)
      TextAnalysis.withRepetitionStats(good).filter(col("keep"))
        .select("doc_id", "text", "embedding")
    }
    Stage.output(t, "text", "write filtered", s"$out/filtered")(
      filtered.select("doc_id"))
    val exact = Stage.checkpoint(t, "dedup", "Dedup.dropExact")(
      Dedup.dropExact(filtered))
    Stage.output(t, "dedup", "write exact", s"$out/exact")(
      exact.select("doc_id"))
    val pairs = Stage.checkpoint(t, "dedup", "Dedup.minhashPairs")(
      Dedup.minhashPairs(exact))
    Stage.output(t, "dedup", "write minhash pairs", s"$out/minhash_pairs")(
      pairs.select("a", "b"))
    val survivors = Stage.checkpoint(t, "dedup", "Dedup.dropNearDuplicates")(
      Dedup.dropNearDuplicates(exact, pairs))
    val embPairs = Stage.checkpoint(t, "similarity",
        "Dedup.embeddingNearDupPairsLsh")(
      Dedup.embeddingNearDupPairsLsh(survivors, "doc_id", "embedding",
        MinCosine, tables = 8, planes = 8))
    Stage.output(t, "similarity", "write embedding pairs",
      s"$out/embedding_pairs")(embPairs.select("a", "b"))
    Stage.output(t, "dedup", "Sampling.leakFreeSplit", s"$out/split")(
      Sampling.leakFreeSplit(survivors, embPairs))
    9
  }
}

/** graph_reach: exact k-hop counts on both sides of the 4096-seed width
  * guard, and the delta-only reach sketch, over a generated bipartite order
  * graph. */
final class GraphReach(dir: String) extends Workload {
  val K = 3

  /** One hop on the small graph: every hop of every call plans and
    * generates the same code, so this warms them at a third of the jobs. */
  def warmUp(spark: SparkSession): Unit =
    run(spark, new Tracer(false), s"$dir/warm", s"$dir/warmrun", 1)

  def pass(spark: SparkSession, t: Tracer, n: Int): Pass =
    Pass(Map("out" -> s"$dir/pass-$n"),
      run(spark, t, s"$dir/in", s"$dir/pass-$n", K))

  private def run(spark: SparkSession, t: Tracer, in: String, out: String,
      k: Int): Int = {
    val edges = spark.read.parquet(s"$in/edges.parquet")
    val small = spark.read.parquet(s"$in/seeds_small.parquet")
    val large = spark.read.parquet(s"$in/seeds_large.parquet")
    Stage.output(t, "graph", "Graph.kHopCountsBitset small",
      s"$out/khop_small")(Graph.kHopCountsBitset(edges, small, k))
    Stage.output(t, "graph", "Graph.kHopCountsBitset large",
      s"$out/khop_large")(Graph.kHopCountsBitset(edges, large, k))
    Stage.output(t, "graph", "Graph.reachSketch deltaOnly",
      s"$out/reach_delta")(Graph.reachSketch(edges, small, k,
        deltaOnly = true))
    3
  }
}
