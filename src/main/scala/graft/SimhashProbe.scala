package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage decomposition of the wide-simhash top-k pipeline (r16) — the
  * measurement behind q283's floor note. Prints per-stage seconds:
  * bare text scan, tokenize+digest (signatures), groups aggregate,
  * full top-k. Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.SimhashProbe */
object SimhashProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // chmod-fork-free local FS (r17-opt: programmatic install,
      // replacing the classpath core-site.xml — see FastLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", "graft.fs.FastLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.fs.FastLocalFs")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Queries.prep(spark, sfDir)
    val docs = spark.table("documents")
    def time(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[probe] $name%-22s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    docs.count() // cache warm-up like Bench
    time("scan_text_len")(
      docs.select(sum(length(col("text")))).head())
    time("tokenize_count")(
      docs.select(sum(size(graft.operators.TextOps.tokens(col("text")))))
        .head())
    time("signatures_wide")(
      docs.select(sum(graft.functions.GraftFunctions.simhashMd5Wide(
        graft.operators.TextOps.tokens(col("text"))).cast("double"))).head())
    time("signatures_32")(
      docs.select(sum(graft.functions.GraftFunctions.simhashMd5(
        graft.operators.TextOps.tokens(col("text"))).cast("double"))).head())
    // stage internals of the wide top-k (mirrors
    // TextOps.simhashMd5TopKNeighbors)
    val sigsDf = docs.select(col("doc_id").as("id"),
      graft.functions.GraftFunctions.simhashMd5Wide(
        graft.operators.TextOps.tokens(col("text"))).as("sig"))
    var sigsCp: org.apache.spark.sql.DataFrame = null
    time("stage_sigs_ckpt") { sigsCp = sigsDf.localCheckpoint() }
    var groups: org.apache.spark.sql.DataFrame = null
    time("stage_groups_ckpt") {
      groups = sigsCp.groupBy("sig").agg(
        graft.functions.GraftFunctions.boundedMin(col("id"), 3)
          .as("head_ids")).localCheckpoint()
    }
    time("stage_groups_count")(println("  distinct=" + groups.count()))
    time("stage_band_pairs")(println("  pairs=" +
      graft.operators.TextOps.hammingPairs(
        groups.select(col("sig").as("id"), col("sig")),
        "id", "sig", bits = 64, maxHamming = 3).count()))
    // candidate volume per band: Σ bucket·(bucket-1)/2 — the pre-verify
    // pair expansion the bucket self-join pays
    time("stage_candidates") {
      for (c <- 0 until 4) {
        val w = 16
        val chunk = shiftright(col("sig"), c * w)
          .bitwiseAND(lit((1L << w) - 1))
        val agg = groups.select(chunk.as("b")).groupBy("b").count()
          .agg(sum(expr("count * (count - 1) / 2")).as("pairs"),
            max("count").as("hottest"), count(lit(1)).as("buckets"))
          .head()
        println(s"  band $c: candPairs=${agg.get(0)} " +
          s"hottest=${agg.get(1)} buckets=${agg.get(2)}")
      }
    }
    time("full_topk_wide")(
      graft.operators.TextOps.simhashMd5TopKNeighbors(docs, "doc_id",
        "text", maxHamming = 3, k = 2, wide = true).count())
    spark.stop()
  }
}
