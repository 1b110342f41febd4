package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** The reference's document-retrieval dataflow (eval/doc_retriever.py:28-94)
  * as distributed operators: fixed-size overlapped chunking
  * (split_documents :39-57, 500 chars / 50 overlap), embedding
  * (embed_documents :65-75 — an external API call there; STUBBED here as a
  * deterministic text-derived vector, clearly fake), and dot-product top-n
  * ranking (query_docs :78-94).
  *
  * Scale design (100 TB): chunking and embedding are map-only (pipeline
  * with the scan, zero shuffle); ranking broadcasts the query batch and
  * streams the corpus once, ranked per-query with a window over the
  * candidate slice — the corpus never shuffles. (EmbeddingOps' cosine
  * kNN paths rank with a bounded top-k aggregate instead, which also
  * keeps the full candidate stream off the shuffle.) For corpus×corpus
  * loads use [[EmbeddingOps.annLsh]] instead.
  */
object RetrievalOps {

  /** Splits text into `size`-char chunks starting every `size - overlap`
    * chars (the reference's recursive splitter bottoms out at exactly this
    * sliding window). Every doc yields at least one chunk. Output:
    * (idCol, chunk_idx, chunk). */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      size: Int = 500, overlap: Int = 50): DataFrame = {
    require(overlap >= 0 && overlap < size,
      s"overlap ($overlap) must be in [0, size=$size) — step would be " +
        "non-positive and chunking would silently truncate")
    val step = size - overlap
    val text = col(textCol)
    val nChunks = greatest(
      ceil((length(text) - overlap) / lit(step.toDouble)).cast("bigint"),
      lit(1L))
    docs.select(col(idCol),
        posexplode(transform(sequence(lit(0L), nChunks - 1),
          i => text.substr((i * step + 1).cast("int"), lit(size))))
          .as(Seq("chunk_idx", "chunk")))
  }

  /** STUB embedding — deterministic fake (the real embed_documents calls
    * an external model API; none ships in this environment). Vector of
    * `dim` doubles derived from characters at strided positions; integer-
    * valued and engine-portable, so retrieval math stays oracle-checkable
    * end-to-end. Swap for a real encoder via [[Embedder]]. */
  def stubEmbed(chunk: Column, dim: Int = 16): Column =
    // coalesce: a NULL chunk embeds like the empty string (all zeros),
    // keeping the column kernel bit-identical to stubEncodeBatch's
    // JVM branch for null text
    transform(sequence(lit(0), lit(dim - 1)),
      i => ((coalesce(ascii(chunk.substr(i * 7 + 1, lit(1))), lit(0))
        * (i + 1)) % 97).cast("double"))

  /** JVM twin of [[stubEmbed]] (bit-identity proven in RetrievalOpsSpec):
    * the deterministic default `encode` of [[BatchedEmbedder]]. */
  def stubEncodeBatch(texts: Seq[String], dim: Int): Seq[Array[Double]] =
    texts.map { t =>
      Array.tabulate(dim) { i =>
        val pos = i * 7
        val c = if (t != null && pos < t.length) t.charAt(pos).toInt else 0
        ((c * (i + 1)) % 97).toDouble
      }
    }

  /** Injectable embedding interface — the seam where the reference calls
    * its external embedding API (eval/doc_retriever.py:65-75). Both
    * implementations append `outCol: array<double>` without shuffling:
    * embedding is a map-side stage of the retrieval pipeline at any
    * scale. */
  trait Embedder {
    def dim: Int
    def embed(df: DataFrame, textCol: String,
        outCol: String = "embedding"): DataFrame
  }

  /** The stub as an [[Embedder]]: a codegen'd column kernel. */
  final class StubEmbedder(val dim: Int = 16) extends Embedder {
    def embed(df: DataFrame, textCol: String,
        outCol: String = "embedding"): DataFrame =
      df.withColumn(outCol, stubEmbed(col(textCol), dim))
  }

  /** Batched per-partition embedder — the call shape of a real model
    * server: texts cross the boundary in `batchSize` groups so a
    * vectorized encoder amortizes call overhead and bounds memory
    * (MediaOps.extractFeaturesBatched is the same move for codecs).
    * `encode` is the external hook; the default is [[stubEncodeBatch]],
    * bit-identical to the column stub, so swapping in a real model
    * changes exactly one function. mapPartitions preserves the scan
    * partitioning — no shuffle. */
  final class BatchedEmbedder(val dim: Int = 16, batchSize: Int = 64,
      encode: (Seq[String], Int) => Seq[Array[Double]] = stubEncodeBatch)
      extends Embedder {
    def embed(df: DataFrame, textCol: String,
        outCol: String = "embedding"): DataFrame = {
      val spark = df.sparkSession
      val schema = df.schema.add(outCol,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))
      val ti = df.schema.fieldIndex(textCol)
      val (d, bs, enc) = (dim, batchSize, encode)
      val rdd = df.rdd.mapPartitions { it =>
        it.grouped(bs).flatMap { batch =>
          // one encoder call per batch — where the model server runs
          val embs = enc(batch.map(r =>
            if (r.isNullAt(ti)) null else r.getString(ti)), d)
          batch.iterator.zip(embs.iterator).map { case (r, e) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ e.toSeq)
          }
        }
      }
      spark.createDataFrame(rdd, schema)
    }
  }

  /** REAL embedding transport behind the [[Embedder]] seam — the dual
    * of LlmOrchestrator.HttpGenerationClient for the reference's
    * embedding API call (eval/doc_retriever.py:65-75, an OpenAI-style
    * batch endpoint). Each [[BatchedEmbedder]] batch POSTs
    * `{"texts":[…], "dim":d}` as JSON and expects
    * `{"embeddings":[[…],…]}` (or a bare array) with exactly one
    * `dim`-length numeric vector per text — count/length mismatches
    * fail loudly (misaligned vectors would silently corrupt retrieval).
    * Built on JDK java.net.http plus Spark-bundled Jackson, transient
    * per-executor client. INERT OFFLINE: nothing constructs it unless
    * `spark.graft.embed.endpoint` is set ([[embedderFromConf]]);
    * loopback-spec'd in RetrievalOpsSpec. */
  final class HttpEmbedder(endpoint: String, val dim: Int = 16,
      batchSize: Int = 64, connectTimeoutMs: Long = 5000,
      requestTimeoutMs: Long = 120000) extends Embedder with Serializable {
    @transient private lazy val http: java.net.http.HttpClient =
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
        .build()
    @transient private lazy val mapper =
      new com.fasterxml.jackson.databind.ObjectMapper()

    private[operators] def encode(texts: Seq[String],
        d: Int): Seq[Array[Double]] = {
      val root = mapper.createObjectNode()
      root.put("dim", d)
      val arr = root.putArray("texts")
      texts.foreach(t => if (t == null) arr.addNull() else arr.add(t))
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(endpoint))
        .timeout(java.time.Duration.ofMillis(requestTimeoutMs))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers
          .ofString(mapper.writeValueAsString(root)))
        .build()
      val resp = http.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"embed endpoint $endpoint returned HTTP ${resp.statusCode()}")
      val parsed = mapper.readTree(resp.body())
      val embs = if (parsed.isArray) parsed else parsed.get("embeddings")
      require(embs != null && embs.isArray,
        s"embed endpoint $endpoint: response has no embeddings array")
      require(embs.size() == texts.length,
        s"embed endpoint $endpoint returned ${embs.size()} embeddings " +
          s"for ${texts.length} texts")
      (0 until embs.size()).map { i =>
        val v = embs.get(i)
        require(v.isArray && v.size() == d,
          s"embed endpoint $endpoint: embedding $i has " +
            s"${if (v.isArray) v.size() else -1} dims, expected $d")
        Array.tabulate(d)(j => v.get(j).asDouble())
      }
    }

    def embed(df: DataFrame, textCol: String,
        outCol: String = "embedding"): DataFrame =
      new BatchedEmbedder(dim, batchSize, encode).embed(df, textCol, outCol)
  }

  /** [[LlmOrchestrator.clientFromConf]]'s dual for the embedding seam:
    * `spark.graft.embed.endpoint` set → [[HttpEmbedder]] (dim from
    * `spark.graft.embed.dim`, default 16); unset → the deterministic
    * [[BatchedEmbedder]] stub, so offline runs are bit-reproducible. */
  def embedderFromConf(
      spark: org.apache.spark.sql.SparkSession): Embedder = {
    val dim = spark.conf.getOption("spark.graft.embed.dim")
      .map(_.toInt).getOrElse(16)
    spark.conf.getOption("spark.graft.embed.endpoint")
      .map(new HttpEmbedder(_, dim))
      .getOrElse(new BatchedEmbedder(dim))
  }

  /** Dot-product top-n: ranks corpus rows against each broadcast query
    * vector (the reference's query_docs). `corpus`/`queries` carry key
    * columns + an embedding column; ties break on the key columns. */
  def retrieveTopN(corpus: DataFrame, corpusKeys: Seq[String],
      queries: DataFrame, queryKeys: Seq[String],
      embCol: String, n: Int): DataFrame = {
    require(queryKeys.size == corpusKeys.size,
      "queryKeys and corpusKeys must align 1:1 (zip would silently drop " +
        "the excess keys from the self-exclusion predicate)")
    val q = broadcast(queries.select(
      queryKeys.map(col) :+ col(embCol).as("__qemb"): _*))
    val notSelf = queryKeys.zip(corpusKeys)
      .map { case (qk, ck) => col(qk) === col(ck) }
      .reduce(_ && _)
    corpus.join(q, !notSelf)
      .select((queryKeys ++ corpusKeys).map(col) :+
        GraftFunctions.vecDot(col(embCol), col("__qemb")).as("score"): _*)
      .withColumn("rn", row_number().over(
        Window.partitionBy(queryKeys.map(col): _*)
          .orderBy(col("score").desc +: corpusKeys.map(col): _*)))
      .where(col("rn") <= n)
  }

  /** Lexical BM25 top-n retrieval (Robertson/Okapi; the Lucene idf
    * variant ln(1 + (N - df + 0.5)/(df + 0.5))) — the standard sparse
    * complement to [[retrieveTopN]]'s dense scoring.
    *
    * Plan shape for a corpus-scale index: one explode+groupBy builds
    * per-(doc, term) tf restricted to the query's terms (the filter is
    * pushed INTO the aggregation input, so the shuffle carries only
    * query-term postings — the inverted-list slice, not the corpus);
    * df/idf derive from that same slice; doc lengths ride in a
    * broadcast-sized per-doc table only for matching docs. All float
    * steps are IEEE-deterministic given identical inputs; the final
    * score is rounded (duck_round) BEFORE ranking so cross-engine
    * 1-ulp log/division drift cannot flip the doc_id tie-break.
    *
    * k1 = 1.2, b = 0.75 (the standard defaults). Scores use natural
    * log; avgdl is the exact integer-sum ratio. */
  def bm25TopN(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], n: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("words"))
    // lens and tf are each consumed twice (lens by stats + the scoring
    // join, tf by df + scoring); materializing them caps the corpus at
    // TWO text scans instead of four — the plan-audited shape
    val lens = toks.select(col("doc_id"), size(col("words")).cast("long")
      .as("dl")).localCheckpoint()
    // N and avgdl as exact scalars broadcast from the tiny aggregate —
    // no driver collect
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("sum_dl"))
    val tf = toks
      .select(col("doc_id"), explode(col("words")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("norm", col("tf").cast("double") * (k1 + 1.0) /
        (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) + lit(b) *
          col("dl").cast("double") * col("n_docs").cast("double") /
          col("sum_dl").cast("double"))))
      .groupBy("doc_id")
      .agg(GraftFunctions.duckRound(sum(col("idf") * col("norm")), 6)
          .as("score"),
        count(lit(1)).as("n_terms_hit"))
    // top-n FIRST (TakeOrderedAndProject — distributed per-partition
    // top-n, no global sort), then rank the n survivors; the global
    // window runs over n rows, not the corpus
    scored.orderBy(col("score").desc, col("doc_id")).limit(n)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
  }
}
