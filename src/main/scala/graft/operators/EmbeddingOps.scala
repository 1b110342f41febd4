package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Vector-similarity operators over an embedding column
  * (`array<float>`): exact cosine top-k (the correctness baseline) and a
  * cosine-LSH bucketed variant (the scale path).
  *
  * Generalizes the reference's retrieval operator — dot-product top-n in
  * eval/doc_retriever.py:78-94, which materializes the whole corpus matrix
  * in one process — into distributed form.
  *
  * Scale design (100 TB):
  *   - [[knnBruteForce]] broadcasts the (small) query set and streams the
  *     corpus once: O(corpus × queries) work, zero corpus shuffle, ranked
  *     per query by a bounded top-k aggregate whose O(k) partials combine
  *     map-side, so only k rows per query per partition reach the
  *     shuffle.
  *   - [[annLsh]] buckets both sides by a 16-bit random-hyperplane sketch
  *     ([[graft.functions.GraftHash.rpSketch]], codegen'd single pass):
  *     the corpus shuffles once on the sketch key, each query probes only
  *     its own bucket — the cross-corpus scan disappears. Recall is tuned
  *     by sketch width (fewer bits → bigger buckets → higher recall).
  *   - [[nearestPairs]] (all-pairs) is quadratic by definition and exists
  *     as the small-data oracle baseline; corpus-scale dedup should use
  *     the LSH route (`annLsh` with corpus as queries, or simhash over
  *     [[TextOps]]).
  *
  * All arithmetic is double-precision SQL (`aggregate`/`zip_with` higher-
  * order functions) — deterministic sequential fold per row, matching the
  * DuckDB oracle's `sum(unnest*unnest)` evaluation order.
  */
object EmbeddingOps {

  /** Dot product of two array<float> columns — fused codegen'd kernel
    * ([[graft.functions.GraftVector.dot]]); double accumulation in array
    * order, identical numerics to the `zip_with`+`aggregate` fold (which
    * is interpreted and ~20× slower on the kNN hot path). */
  def dot(a: Column, b: Column): Column = GraftFunctions.vecDot(a, b)

  def l2norm(a: Column): Column = GraftFunctions.vecNorm(a)

  /** Cosine similarity — dot and both norms in ONE pass per pair. */
  def cosine(a: Column, b: Column): Column = GraftFunctions.vecCosine(a, b)

  /** Shared scoring tail for every kNN variant: exact cosine over the
    * candidate set, then the top k per query by (cos DESC, id ASC) with
    * `rn` its 1-based rank — `row_number() <= k` over that order. One
    * definition so a semantics change (rounding, tie-break, NaN policy)
    * cannot diverge between the exact and approximate paths. The rank is
    * a bounded aggregate ([[GraftFunctions.boundedMin]] over
    * `struct(cos, id)`): O(k) state per query, combined map-side, so the
    * shuffle carries k rows per query per partition instead of every
    * candidate, and nothing sorts the candidate stream. */
  private def rankTopK(candidates: DataFrame, k: Int): DataFrame =
    candidates
      .select(col("qid"), struct(
        GraftFunctions.duckRound(cosine(col("vec"), col("qvec")), 6)
          .as("cos"), col("id")).as("c"))
      .groupBy("qid")
      .agg(GraftFunctions.boundedMin(col("c"), k, true, false).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "c")))
      .select(col("qid"), col("c.id").as("id"), col("c.cos").as("cos"),
        (col("pos") + 1).as("rn"))

  /** Exact top-k cosine neighbors for each query vector.
    * Queries must be small enough to broadcast (they are, by construction:
    * a query batch, not a corpus). Rank is deterministic: cosine rounded
    * to 6 dp, id as tie-break. */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("qvec")))
    rankTopK(corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .join(q, col("id") =!= col("qid")), k)
  }

  /** Contrastive training-pair mining: for each labeled query vector,
    * the most-similar SAME-label corpus vector (the positive) and the
    * most-similar DIFFERENT-label one (the hard negative) — the pair
    * construction step for embedding-model contrastive training
    * (in-batch negatives are free; the HARD negative needs this
    * corpus-wide argmax).
    *
    * Scale shape: the query batch broadcasts, the corpus streams once,
    * and the per-(query, polarity) argmax is a plain `max` over a
    * `(cos, -id)` struct — map-side combinable partial aggregation, so
    * only 2 rows per query per partition reach the shuffle (a window
    * over the candidate set would shuffle all |corpus|·|queries|
    * candidate rows instead). Ties on the 6-dp-rounded cosine resolve
    * to the smaller id via the negated-id struct field. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(labelCol).as("qlabel"), col(vecCol).as("qvec")))
    corpus.select(col(idCol).as("id"), col(labelCol).as("clabel"),
        col(vecCol).as("vec"))
      .join(q, col("id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("id"),
        (col("clabel") === col("qlabel")).as("same"),
        GraftFunctions.duckRound(cosine(col("vec"), col("qvec")), 6)
          .as("cos"))
      .groupBy("qid", "qlabel")
      .agg(
        max(when(col("same"), struct(col("cos"), (-col("id")).as("nid"))))
          .as("p"),
        max(when(!col("same"), struct(col("cos"), (-col("id")).as("nid"))))
          .as("n"))
      .select(col("qid"), col("qlabel").as("label"),
        (-col("p.nid")).as("pos_id"), col("p.cos").as("pos_cos"),
        (-col("n.nid")).as("neg_id"), col("n.cos").as("neg_cos"),
        GraftFunctions.duckRound(col("p.cos") - col("n.cos"), 6)
          .as("margin"))
  }

  /** Approximate top-k: both sides keyed by an `bits`-wide random-
    * hyperplane sketch; candidates are corpus vectors in the query's
    * probed buckets, ranked exactly within them. The corpus is indexed
    * under its ONE bucket; only the (broadcast-small) query side fans
    * out to `probes` buckets — its own plus Hamming-1 flips of the
    * smallest-|margin| sketch bits (multi-probe LSH, Lv et al. 2007) —
    * recovering the recall lost to hyperplane boundary effects at
    * `probes`× candidate cost and ZERO index growth. Join stays
    * broadcast (no shuffle of the corpus). */
  def annLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 8, seed: Long = 7L,
      probes: Int = 1): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      GraftFunctions.rpSketch(col(vecCol), lit(bits), lit(seed)).as("bkt"))
    val q = broadcast(queries.select(col(idCol).as("qid"),
      col(vecCol).as("qvec"),
      explode(GraftFunctions.rpSketchProbes(col(vecCol), lit(bits),
        lit(seed), lit(probes))).as("bkt")))
    // no dedup needed: the corpus vector lives in exactly ONE bucket and
    // a query's probed buckets are pairwise distinct, so a (qid, id)
    // pair can match at most once
    rankTopK(c.join(q, Seq("bkt")).where(col("id") =!= col("qid")), k)
  }

  /** Approximate top-k via IVF (inverted-file) lists: `nlist` centroids
    * are seeded deterministically from the corpus (hash-ordered sample)
    * and optionally tightened by `trainIters` spherical-k-means Lloyd
    * steps; every corpus vector is assigned to its nearest centroid by a
    * fused probe kernel whose centroid matrix travels as a literal
    * (map-only, zero shuffle), and each query probes its `nprobe`
    * nearest lists.
    *
    * Scale shape (100 TB): centroid selection is a top-`nlist` sample
    * (driver holds nlist·d floats, e.g. 64×1024 = 256 KB); each Lloyd
    * step is one distributed mean per (cluster, dimension) — a map-side
    * partial aggregate whose result is nlist·d rows, the same tiny
    * matrix, collected and re-broadcast; assignment is embedded in the
    * scan; the only other movement is the broadcast of the (small)
    * query batch and a final per-query bounded top-k aggregate over
    * candidates bounded by nprobe/nlist of the corpus. */
  /** Seeds `nlist` centroids from a deterministic hash-ordered corpus
    * sample and tightens them with `trainIters` spherical-k-means Lloyd
    * steps. Each step: fused nearest-centroid assignment, projected
    * BELOW the dimension explode so the probe runs once per vector, not
    * once per exploded dimension (map-only) → per-(cluster, dim) mean
    * (one partial-agg shuffle whose result is nlist·dim cells) → collect
    * the tiny matrix and re-broadcast. Cosine assignment is
    * scale-invariant, so the unnormalized mean is a valid spherical
    * update; empty clusters keep their seed. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long = 7L, trainIters: Int = 0): Array[Float] = {
    val sample = corpus
      .select(col(vecCol).as("v"))
      .orderBy(xxhash64(col(idCol), lit(seed)))
      .limit(nlist)
      .collect()
    var cents: Array[Float] = sample.flatMap(_.getSeq[Float](0))
    // dim from an actual vector, NOT cents.length/nlist: a corpus with
    // fewer than nlist vectors yields fewer centroids, and a wrong dim
    // would scatter Lloyd updates across centroid boundaries
    val dim = if (sample.isEmpty) 0 else sample.head.getSeq[Float](0).length
    for (_ <- 0 until trainIters) {
      val means = lloydMeans(corpus, vecCol, cents).collect()
      val next = cents.clone()
      means.foreach { r =>
        next(r.getInt(0) * dim + r.getInt(1)) = r.getDouble(2).toFloat
      }
      cents = next
    }
    cents
  }

  /** One Lloyd step's per-(cid, pos) means. The nearest-centroid probe
    * sits in a projection below the dimension explode, so it runs once
    * per vector; above the Generate it would run once per dimension. */
  private[graft] def lloydMeans(corpus: DataFrame, vecCol: String,
      cents: Array[Float]): DataFrame =
    corpus
      .select(element_at(
          GraftFunctions.ivfProbe(col(vecCol), lit(cents), lit(1)), 1)
          .as("cid"), col(vecCol).as("v"))
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cid", "pos").agg(avg("x").as("m"))

  private val centroidMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Float]]()

  /** [[ivfCentroids]] memoized under a caller-chosen key (e.g. the sf
    * directory + parameters): training reads the corpus 1+trainIters
    * times, and a resident engine would persist its IVF lists rather
    * than re-train per query. Keyed on data identity, not session —
    * the result is a plain deterministic float matrix. */
  def ivfCentroidsMemo(key: String, corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int, seed: Long = 7L,
      trainIters: Int = 0): Array[Float] =
    centroidMemo.computeIfAbsent(key,
      _ => ivfCentroids(corpus, idCol, vecCol, nlist, seed, trainIters))

  def annIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 2,
      seed: Long = 7L, trainIters: Int = 0,
      centroids: Option[Array[Float]] = None): DataFrame = {
    val cents = centroids.getOrElse(
      ivfCentroids(corpus, idCol, vecCol, nlist, seed, trainIters))
    val cLit = lit(cents)
    def probe(v: Column, n: Int) = GraftFunctions.ivfProbe(v, cLit, lit(n))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      element_at(probe(col(vecCol), 1), 1).as("cid"))
    val q = broadcast(queries
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("cid", explode(probe(col("qvec"), nprobe))))
    rankTopK(c.join(q, Seq("cid")).where(col("id") =!= col("qid")), k)
  }

  /** Exact top-k through an int8-quantized prefilter — the
    * storage-compression scale path, complementary to the
    * candidate-reduction paths ([[annLsh]]/[[annIvf]]): the wide scoring
    * pass reads only the 4×-smaller symmetric-int8 form of the corpus
    * (at 100 TB the embedding column IS the scan cost) and scores with
    * the integer kernel; only the top `m` approximate candidates per
    * query are re-joined to the float vectors and re-scored exactly.
    * Output contract equals [[knnBruteForce]] whenever every true
    * top-k member survives in the approximate top-m — int8 cosine error
    * is ≤ ~1e-2 worst-case, so `m` buys the safety margin
    * (EmbeddingOpsSpec pins equality plus the measured margin on the
    * test corpus; q187 pins it to the DuckDB exact oracle).
    *
    * Plan shape: quantized corpus scan × broadcast quantized queries →
    * per-query top-m window → candidate-sized join back to the float
    * corpus → exact [[rankTopK]] aggregate. The corpus is never
    * shuffled; the only exchanges carry ≤ m·|queries| candidate rows. */
  def knnQuantizedRerank(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int): DataFrame =
    knnQuantizedRerankMargin(corpus, queries, idCol, vecCol, k, m)
      .drop("worst_rank")

  /** [[knnQuantizedRerank]] plus the measured safety margin as a
    * column: `worst_rank` is the worst (largest) approximate rank any
    * surviving top-k member took in the int8 prefilter, constant across
    * the output. This is the quantization-drift GATE surfaced into the
    * result itself (q187 pins it against the oracle): a kernel or
    * scale-handling change that pushes true neighbors down the
    * approximate ordering moves worst_rank before it breaks top-k
    * equality, so the driver goes red while m still carries headroom —
    * the same early-warning discipline as q185's probe-order pin.
    * Cost: the margin is a max over the |queries|·k output rows (a
    * broadcast-ready scalar join), nothing touching the corpus scan. */
  def knnQuantizedRerankMargin(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int): DataFrame = {
    require(m >= k, s"prefilter width m=$m must be >= k=$k")
    val q8 = GraftFunctions.vecQuantize8 _
    val cq = corpus.select(col(idCol).as("id"), q8(col(vecCol)).as("qv"))
    val qq = broadcast(queries.select(col(idCol).as("qid"),
      q8(col(vecCol)).as("qqv")))
    val cand = cq.join(qq, col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        GraftFunctions.vecCosineQ8(col("qv"), col("qqv")).as("acos"))
      .withColumn("arn", row_number().over(
        Window.partitionBy("qid").orderBy(col("acos").desc, col("id"))))
      .where(col("arn") <= m)
      .select(col("qid"), col("id"), col("arn"))
    val exact = cand
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")),
        Seq("id"))
      .join(broadcast(queries.select(col(idCol).as("qid"),
        col(vecCol).as("qvec"))), Seq("qid"))
    // the global max runs as an empty-key window over the |queries|·k
    // output rows (tiny: one single-partition exchange of the final
    // result), NOT as a self-join — a crossJoin against topk.agg would
    // re-execute the whole candidate pipeline a second time
    rankTopK(exact.drop("arn"), k)
      .join(cand, Seq("qid", "id"))
      .withColumn("worst_rank",
        max(col("arn")).over(Window.partitionBy()).cast("int"))
      .drop("arn")
  }

  /** Exact top-k through a PRODUCT-QUANTIZATION prefilter — the
    * next compression step past [[knnQuantizedRerank]]'s int8: each
    * vector stores only `nsub` codebook indices (4 bytes here vs 64
    * for float32 — 16× less scan bandwidth), the wide pass scores by
    * asymmetric distance (ADC: per-query LUT of subspace distances to
    * every centroid, summed over the stored codes), and only the top
    * `m` candidates per query re-join the float vectors for exact
    * re-scoring. Output contract equals [[knnBruteForce]] whenever
    * every true top-k member survives the approximate top-m
    * (EmbeddingOpsSpec measures the margin; q209 pins equality to the
    * DuckDB exact oracle).
    *
    * The codebook is the first `ncent` corpus vectors by id sliced
    * into `nsub` subspaces (q172's deterministic-centroids convention
    * — reproducible, engine-independent); encoding takes argmin of
    * fixed-order double L2 sums with index tie-break, so codes are
    * deterministic. ADC sums 4 doubles per candidate whose order is
    * not pinned — harmless 1-ulp candidate-boundary wiggle far inside
    * the margin, never in the exact rerank.
    *
    * Plan shape: corpus × broadcast codebook → one shuffle to argmin
    * codes; queries × codebook LUT broadcast; candidate scoring joins
    * the 4-bytes-per-vector code table only; exchanges carry ≤
    * m·|queries| rows into the rerank. */
  def knnPqRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int, dim: Int, nsub: Int = 4,
      ncent: Int = 16): DataFrame = {
    require(m >= k, s"prefilter width m=$m must be >= k=$k")
    require(dim % nsub == 0, s"dim=$dim must divide into nsub=$nsub")
    val dsub = dim / nsub
    def sub(c: Column, s: Int): Column = slice(c, s * dsub + 1, dsub)
    // fixed-order double L2 over one subspace: reduce-left keeps the
    // fold order identical everywhere, so argmin codes never drift
    def d2(a: Column, b: Column): Column = (0 until dsub).map { i =>
      val d = element_at(a, i + 1).cast("double") -
        element_at(b, i + 1).cast("double")
      d * d
    }.reduce(_ + _)
    val cb = broadcast(corpus.orderBy(col(idCol)).limit(ncent)
      .select(row_number().over(Window.orderBy(col(idCol))).cast("int")
        .as("j"), col(vecCol).as("cvec")))
    val codes = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(cb)
      .select(col("id") +: (0 until nsub).map(s =>
        struct(d2(sub(col("vec"), s), sub(col("cvec"), s)).as("d"),
          col("j")).as(s"c$s")): _*)
      .groupBy("id")
      .agg(min(s"c0").as("m0"),
        (1 until nsub).map(s => min(col(s"c$s")).as(s"m$s")): _*)
      .select(col("id"), explode(array((0 until nsub).map(s =>
        struct(lit(s).as("s"), col(s"m$s.j").as("j"))): _*)).as("e"))
      .select(col("id"), col("e.s").as("s"), col("e.j").as("j"))
    val qlut = broadcast(queries
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .crossJoin(cb)
      .select(col("qid"), col("j"), explode(array((0 until nsub).map(s =>
        struct(lit(s).as("s"),
          d2(sub(col("qvec"), s), sub(col("cvec"), s)).as("d2"))): _*))
        .as("e"))
      .select(col("qid"), col("e.s").as("s"), col("j"), col("e.d2")
        .as("d2")))
    val cand = codes.join(qlut, Seq("s", "j"))
      .where(col("id") =!= col("qid"))
      .groupBy("qid", "id").agg(sum("d2").as("adist"))
      .withColumn("arn", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist").asc, col("id"))))
      .where(col("arn") <= m)
      .select(col("qid"), col("id"))
    val exact = cand
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")),
        Seq("id"))
      .join(broadcast(queries.select(col(idCol).as("qid"),
        col(vecCol).as("qvec"))), Seq("qid"))
    rankTopK(exact, k)
  }

  /** Global top-n most-similar pairs by exact cosine — the all-pairs
    * baseline (small data / oracle checking only; see class doc). */
  // ---------------------------------------------------------------
  // Bitext margin mining (q220) — Artetxe & Schwenk 2019
  // (arXiv:1811.01136) mutual-margin alignment over the even/odd
  // vec_id halves: score(x,y) = cos(x,y) normalized by the mean of
  // each side's top-4 neighborhood (penalizing hub vectors), keep
  // only MUTUAL best matches. Margins round to 6dp BEFORE the argmax
  // so a cross-engine ulp cannot flip a rank (house rule).
  // ---------------------------------------------------------------

  /** Vector count above which [[bitextMarginMining]] switches from the
    * exact dense cross (by contract quadratic — fine at oracle scales,
    * 651.9 s of the r12 sf3sv run past them) to LSH candidate
    * generation. A DynamicVariable so a spec can FORCE the LSH branch
    * at oracle scale and pin it to the dense kernel (the DvTiers
    * pattern) — production never overrides. 4000 covers every oracle
    * sf with 2× headroom. */
  private val bitextDenseBound =
    new scala.util.DynamicVariable[Long](4000L)

  private[graft] def withBitextDenseBound[T](b: Long)(body: => T): T =
    bitextDenseBound.withValue(b)(body)

  /** Parquet-footer row counts, memoized per file per JVM (immutable
    * files; bounded, cleared when it outgrows the cap). */
  private val footerRowCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Corpus cardinality WITHOUT a Spark job where the plan allows it:
    * when `df` is (aliases/caching/repartition over) one bare parquet
    * relation, the count is the sum of the files' footer row counts —
    * pure driver metadata, the manifest-count dual for raw parquet
    * dirs. Any other shape falls back to `df.count()`. Kernel gates
    * (q220's dense-vs-LSH choice) must not cost a full corpus scan
    * per invocation at 100 TB. */
  private[graft] def metadataRowCount(df: DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    @annotation.tailrec
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => unwrap(c)
      case v: View => unwrap(v.child)
      case r: Repartition => unwrap(r.child)
      case r: RepartitionByExpression => unwrap(r.child)
      case Project(ps, c) if ps.forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]) =>
        unwrap(c)
      case other => other
    }
    unwrap(df.queryExecution.analyzed) match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[
          org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          val conf = df.sparkSession.sessionState.newHadoopConf()
          if (footerRowCache.size > 65536) footerRowCache.clear()
          fs.location.inputFiles.iterator.map { f =>
            footerRowCache.computeIfAbsent(f, p => {
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new org.apache.hadoop.fs.Path(p), conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try r.getRecordCount finally r.close()
            }).longValue
          }.sum
        case _ => df.count()
      }
      case _ => df.count()
    }
  }

  /** Margin-based cross-corpus alignment. Scale shape: the cross-score
    * table is NEVER materialized, shuffled, or sorted — each consumer
    * streams the fused cosine kernel. The per-side top-4 neighborhoods
    * run as bounded_min over an order-encoded long
    * ((1e6 - cos·1e6) << 33 | otherId, so k-smallest == (cos DESC,
    * id ASC) top-k exactly) — O(k) agg state, map-side combined. Both
    * argmax directions are struct-maxes — partial-aggregable again.
    *
    * KERNEL GATE: at or below [[bitextDenseBound]] vectors (counted
    * from parquet footers — no count job) the candidate pairs are the
    * exact dense cross and the side-sized neighborhood tables
    * broadcast; above it candidates come from the q46 random-
    * hyperplane LSH kernel (A-side multi-probes 4 buckets, B-side
    * indexes under its one bucket — a bucket join, never the cross)
    * and the neighborhood joins run SHUFFLED (hood tables are
    * O(side) rows — a broadcast there is a driver OOM at 10⁹
    * vectors). Scoring, neighborhood normalization and mutuality are
    * IDENTICAL in both branches; recall contract: a pair is only
    * visible if the sides share a probed bucket — mutual-best pairs
    * are by construction high-cosine, exactly the pairs LSH recalls
    * best (Artetxe & Schwenk mine from FAISS candidates the same
    * way). The forced-LSH spec pins branch equality on a
    * bucket-recall-1 corpus (EmbeddingOpsSpec). */
  def bitextMarginMining(emb: DataFrame): DataFrame = {
    val a = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = emb.where(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val n = metadataRowCount(emb)
    val dense = n <= bitextDenseBound.value
    // artifacts are self-describing: the log names which kernel ran
    System.err.println(s"[bitext] kernel=${if (dense) "dense" else "lsh"}" +
      s" corpus_rows=$n bound=${bitextDenseBound.value}")
    val rawPairs =
      if (dense) a.join(broadcast(b))
      else {
        val (bits, probes, seed) = (10, 4, 7L)
        val ca = a.select(col("a_id"), col("va"),
          explode(GraftFunctions.rpSketchProbes(col("va"), lit(bits),
            lit(seed), lit(probes))).as("bkt"))
        val cb = b.select(col("b_id"), col("vb"),
          GraftFunctions.rpSketch(col("vb"), lit(bits), lit(seed))
            .as("bkt"))
        // one bucket per B vector, pairwise-distinct probes per A
        // vector ⇒ a (a_id, b_id) pair matches at most once
        ca.join(cb, Seq("bkt"))
      }
    // dense branch (r16-opt): the cross-score table is consumed FOUR
    // times (both hoods, fwd, bwd) — materialize it once instead of
    // re-running the cosine cross per consumer. Sound only here: the
    // dense gate bounds pairs at bound² (≤16M rows by contract), and
    // the blocks release below once the result is materialized. The
    // LSH branch keeps the never-materialized contract (its pair
    // table is corpus-shaped).
    val pairs0 = rawPairs
      .select(col("a_id"), col("b_id"),
        GraftFunctions.duckRound(cosine(col("va"), col("vb")), 6).as("cos"))
    // LAZY checkpoint (r17-opt, the r16 ADVICE item): eager would run
    // the full cross-score job at frame-CONSTRUCTION time, so a caller
    // that only builds the frame (explain/plan tooling, composition
    // into a pruned plan) paid the whole compute and plan dumps
    // degraded to an 8-line LogicalRDD scan. Lazy materializes on the
    // first action — same single materialization for real consumers,
    // zero cost and full plan visibility for build-only callers.
    val pairs = if (dense) pairs0.localCheckpoint(false) else pairs0
    def hood(key: String): DataFrame = {
      val other = if (key == "a_id") "b_id" else "a_id"
      pairs
        .select(col(key),
          ((lit(1000000L) - round(col("cos") * 1e6, 0).cast("long")) *
            lit(8589934592L) + col(other)).as("ek"))
        .groupBy(key)
        .agg(GraftFunctions.boundedMin(col("ek"), 4).as("eks"))
        .select(col(key), GraftFunctions.duckRound(
          expr("aggregate(eks, 0D, (s, x) -> " +
            "s + (1000000 - (x div 8589934592)) / 1e6) / size(eks)"), 6)
          .as(if (key == "a_id") "ma" else "mb"))
    }
    // side-sized tables: broadcast only at dense scale
    def sized(df: DataFrame): DataFrame = if (dense) broadcast(df) else df
    val scored = pairs
      .join(sized(hood("a_id")), "a_id")
      .join(sized(hood("b_id")), "b_id")
      .select(col("a_id"), col("b_id"), col("cos"),
        GraftFunctions.duckRound(
          col("cos") / ((col("ma") + col("mb")) / 2.0), 6).as("margin"))
    val fwd = scored.groupBy("a_id")
      .agg(max(struct(col("margin"), (-col("b_id")).as("nb"),
        col("b_id"), col("cos"))).as("f"))
      .select(col("a_id"), col("f.b_id").as("b_id"),
        col("f.cos").as("cos"), col("f.margin").as("margin"))
    val bwd = scored.groupBy("b_id")
      .agg(max(struct(col("margin"), (-col("a_id")).as("na"),
        col("a_id"))).as("g"))
      .select(col("b_id"), col("g.a_id").as("back_a"))
    val mutual = fwd.join(bwd, "b_id")
      .where(col("back_a") === col("a_id"))
      .select(col("a_id"), col("b_id"), col("cos"), col("margin"))
      .orderBy("a_id")
    if (!dense) mutual
    else {
      // materialize the (side-sized) result, then drop the pair blocks
      val out = mutual.localCheckpoint()
      graft.operators.SnapshotOps.releaseCheckpoint(pairs)
      out
    }
  }

  def nearestPairs(corpus: DataFrame, idCol: String, vecCol: String,
      n: Int): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        GraftFunctions.duckRound(cosine(col("va"), col("vb")), 6).as("cos"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(n)
  }
}
