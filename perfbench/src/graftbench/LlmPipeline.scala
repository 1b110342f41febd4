package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Queries, SparkEntry}
import graft.functions.GraftFunctions
import graft.operators.{EmbeddingOps, PackingOps, RetrievalOps, TextOps}

/** The LLM-data user: repeated passes of one curation battery over the
  * seeded corpus, each stage a public `operators/` call whose result is
  * written out as parquet (the stage's action). Stages and parameters
  * follow the catalog entries that pin them (q48/q49, q199, q42, q178,
  * q204, q45, q66, q200), so each stage's output has an oracle. */
final class LlmPipeline extends Workload {
  private val stages = Seq("quality_lang", "exact_substr", "minhash", "simhash",
    "bm25", "knn", "ann", "pack")
  private val queries = 300 // query vectors for knn and ann
  // the warm pass runs on this slice
  private val warmDocs = 600
  private val warmEmbs = 600
  private val bm25Terms = Seq("hash", "join", "merge", "filter")

  private def frame(stage: String, docs: DataFrame, emb: DataFrame)
      : DataFrame =
    stage match {
      case "quality_lang" =>
        docs.select(col("doc_id"), col("lang"),
          TextOps.qualityScore(col("text")).as("score"),
          TextOps.langId(col("text")).as("pred"))
          .where(col("score") >= 0.5 && col("pred") === col("lang"))
      case "exact_substr" =>
        TextOps.exactSubstrDedup(docs, "doc_id", "text", n = 8)
      case "minhash" =>
        TextOps.minhashDupPairs(docs, "doc_id", "text", threshold = 0.5)
          .select(col("id_a"), col("id_b"),
            GraftFunctions.duckRound(col("jac"), 6).as("jac"))
      case "simhash" =>
        TextOps.simhashMd5TopKNeighbors(docs, "doc_id", "text",
          maxHamming = 3, k = 2)
          .select(col("id").as("doc_id"), col("nbr"),
            col("hamming").cast("long").as("hamming"),
            col("rk").cast("long").as("rk"))
      case "bm25" =>
        RetrievalOps.bm25TopN(docs, "doc_id", "text", bm25Terms, n = 10)
      case "knn" =>
        EmbeddingOps.knnBruteForce(emb, emb.where(col("vec_id") < queries),
          "vec_id", "embedding", k = 5)
      case "ann" =>
        EmbeddingOps.annIvf(emb, emb.where(col("vec_id") < queries),
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 3,
          trainIters = 2)
      case "pack" =>
        PackingOps.packChunks(docs.select(col("doc_id"),
          size(split(col("text"), " ")).as("toks")),
          "doc_id", "toks", chunkLen = 512)
    }

  def prepare(ctx: Ctx): Unit = Queries.prep(ctx.spark, ctx.dataDir)

  /** Every stage once over a slice of the corpus. */
  def warm(ctx: Ctx): Unit = {
    val docs = ctx.spark.table("documents").where(col("doc_id") < warmDocs)
    val emb = ctx.spark.table("embeddings").where(col("vec_id") < warmEmbs)
    stages.foreach(s => frame(s, docs, emb).write.mode("overwrite")
      .parquet(s"${ctx.workDir}/warm/$s"))
  }

  def reset(ctx: Ctx): Unit = ()

  def op(ctx: Ctx, i: Int): Op =
    Op(i, stages(i % stages.size), stages(i % stages.size), "")

  /** The loop stops only between whole passes, so every stage runs
    * equally often. */
  override def boundary(i: Int): Boolean = i > 0 && i % stages.size == 0

  def run(ctx: Ctx, op: Op): OpOut = {
    // each pass overwrites the last; the check reads what the last wrote
    ctx.tr.span(s"operators.${op.name}") {
      frame(op.name, ctx.spark.table("documents"),
        ctx.spark.table("embeddings"))
        .write.mode("overwrite").parquet(s"${ctx.workDir}/out/${op.name}")
    }
    OpOut(0, "")
  }

  override def layers(ctx: Ctx, ops: Seq[Map[String, Any]])
      : Map[String, Double] = {
    val tr = ctx.tr
    val stageMs = stages.map { s =>
      val n = tr.count(s"operators.$s")
      s"operators.${s}_ms" -> (if (n == 0) 0.0
        else tr.totalMs(s"operators.$s") / n)
    }
    // each public kernel once as a projection plus aggregate over the
    // corpus (the second of two runs, so code generation is excluded)
    val docs = ctx.spark.table("documents")
    val emb = ctx.spark.table("embeddings")
    val probe = Array.tabulate(64)(i => math.sin(i).toFloat)
    def nsPerRow(df: DataFrame, c: org.apache.spark.sql.Column): Double = {
      val rows = df.count().toDouble
      def once(): Long = {
        val s = System.nanoTime(); df.select(max(c)).collect()
        System.nanoTime() - s
      }
      once()
      once() / rows
    }
    stageMs.toMap ++ Map(
      "functions.minhash_ns_per_row" -> nsPerRow(docs, xxhash64(
        GraftFunctions.minhashSig(TextOps.wordShingles(col("text"), 3),
          lit(64)))),
      "functions.simhash_ns_per_row" -> nsPerRow(docs,
        GraftFunctions.simhashMd5(TextOps.tokens(col("text")))),
      "functions.cosine_ns_per_row" -> nsPerRow(emb,
        GraftFunctions.vecCosine(col("embedding"), typedLit(probe))))
  }

  def finish(ctx: Ctx): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    Map(
      "docs" -> ctx.spark.table("documents").count(),
      "embs" -> ctx.spark.table("embeddings").count(),
      "queries" -> queries,
      "stages" -> stages,
      "oracles" -> Seq("q48_quality_score", "q49_lang_id", "q42_dedup_minhash",
        "q178_simhash_pairs_topk",
        "q199_exact_substr_dedup", "q204_bm25_topn", "q45_knn_brute",
        "q200_sequence_packing").map(k => k -> oracle(k)).toMap,
      "work_dir" -> ctx.workDir)
  }
}
