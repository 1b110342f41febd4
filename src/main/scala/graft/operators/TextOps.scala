package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-pipeline operators for LLM training-data curation: tokenization,
  * shingling, MinHash+LSH near-dup detection, SimHash, normalization
  * fingerprints, language ID and quality scoring.
  *
  * Generalizes the reference's only text operator — the chunk/embed/rank
  * retrieval flow in eval/doc_retriever.py:28-94 — to the corpus scale the
  * north-star demands. Everything here is declarative Column algebra
  * (higher-order functions over arrays, codegen'd hash calls via
  * [[graft.functions.GraftHash]]) — no UDFs, no driver-side loops — so
  * Catalyst keeps pushdown/pruning and the operators parallelize over
  * whatever partitioning the input already has.
  *
  * Scale design (100 TB):
  *   - per-document transforms (tokens/shingles/signatures) are map-only:
  *     zero shuffle, pipeline with the scan;
  *   - candidate generation shuffles once on (band, bandHash) — the classic
  *     MinHash-LSH join — instead of the O(n²) cross join;
  *   - degenerate buckets (boilerplate/empty docs hashing together) are
  *     capped by `maxBucket` before pairing, bounding the quadratic blowup
  *     a skewed bucket would cause on a real corpus;
  *   - exact-Jaccard verification joins candidate pairs back to the
  *     (doc_id → shingles) map — two hash joins on doc_id, proportional to
  *     the candidate count, not the corpus.
  */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word n-gram shingles ("w1 w2 w3") — fused single-pass
    * kernel ([[graft.functions.GraftVector.wordShingles]]); same output
    * as the `transform(sequence, slice, concat_ws)` + `array_distinct`
    * chain, which is interpreted and re-slices the token array per
    * shingle position. */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.wordShingles(text, lit(n))

  /** Distinct character k-gram shingles. */
  def charShingles(text: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => text.substr(i, lit(k))))

  /** MinHash signature: k independent min-hashes of the shingle set —
    * fused single-pass kernel (graft.functions.GraftHash.minhashSig). */
  def minhashSignature(shingles: Column, k: Int): Column =
    graft.functions.GraftFunctions.minhashSig(shingles, lit(k))

  /** Small single-file inputs arrive as one split; per-row signature work
    * is CPU-bound, so fan out to the session's parallelism first. On a
    * real multi-file corpus the scan already yields enough splits and the
    * round-robin repartition is a cheap no-op-sized shuffle relative to
    * the signature compute it unlocks. */
  private def parallelize(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** LSH banding: b bands of r rows each (b*r = signature length); a pair
    * agreeing on any whole band becomes a candidate. Fused kernel: all b
    * band hashes in one pass over the signature. */
  def lshBands(sig: Column, b: Int, r: Int): Column =
    graft.functions.GraftFunctions.lshBandHashes(sig, lit(b), lit(r))

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** MinHash+LSH near-duplicate pairs, exact-Jaccard verified.
    *
    * @param docs      input with an id column and a text column
    * @param threshold keep pairs with exact shingle Jaccard >= threshold
    * @param shingleN  word n-gram size
    * @param k         signature length; b*r must equal k
    * @param b         LSH bands   (recall at j: 1-(1-j^r)^b; the default
    *                  32×2 gives >0.999 at j=0.5 — chosen so the verified
    *                  output matches an exact-pairwise oracle)
    * @param maxBucket drop LSH buckets larger than this before pairing
    *                  (skew guard; a 100k-doc boilerplate bucket would
    *                  otherwise cost 10^10 candidate pairs)
    * @return (id_a, id_b, jac) with id_a < id_b
    */
  def minhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleN: Int = 3, k: Int = 64, b: Int = 32,
      maxBucket: Int = 1000): DataFrame = {
    require(k % b == 0, "bands must divide signature length")
    val r = k / b
    // shingled feeds the banding AND both verification joins: persist it
    // so the shingle kernel runs once, not three times, per corpus pass
    val shingled = parallelize(docs).select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleN).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val banded = shingled
      .select(col("id"), posexplode(lshBands(
        minhashSignature(col("sh"), k), b, r)).as(Seq("band", "bh")))

    // one shuffle to the buckets; pairs expand from the grouped id list
    // (no self-join). Skew guard: buckets over maxBucket are dropped
    // before the quadratic expansion, and for long ids the COLLECTION
    // itself is capped (CappedCollectLongsAgg stops at maxBucket+1
    // elements, which the size filter then drops) so the aggregation
    // buffer is O(maxBucket) even against a pathological boilerplate
    // bucket; a doc appears once per (band, bh), so a within-cap bucket
    // is collected completely and the output is exactly collect_list's.
    val idIsLong = banded.schema("id").dataType ==
      org.apache.spark.sql.types.LongType
    val collected =
      if (idIsLong)
        graft.functions.GraftFunctions.cappedCollectLongs(col("id"), maxBucket)
      else collect_list(col("id"))
    val candidates = banded.groupBy("band", "bh")
      .agg(collected.as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()

    candidates
      .join(shingled.select(col("id"), col("sh").as("sh_a")),
        col("id_a") === col("id"))
      .drop("id")
      .join(shingled.select(col("id"), col("sh").as("sh_b")),
        col("id_b") === col("id"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jac"))
      // threshold at 6-dp rounding, matching the exact-pairwise oracle's
      // round-then-filter convention (a pair at 0.4999996 rounds IN)
      .where(graft.functions.GraftFunctions.duckRound(col("jac"), 6)
        >= threshold)
  }

  /** Incremental MinHash dedup: candidates of a (small) NEW batch
    * against an existing corpus — the shape of continuous ingestion,
    * where re-pairing the whole corpus per batch would be ruinous.
    * The corpus side is banded and shuffled once on (band, hash); the
    * batch side is broadcast, so batch size never re-shuffles the
    * corpus. At steady state the corpus bands are a materialized table
    * and each ingest touches only its own band buckets.
    * @param maxBucket drop corpus band-buckets larger than this before
    *                  the candidate join — same skew guard as
    *                  [[minhashDupPairs]]: a 100k-doc boilerplate bucket
    *                  would emit 100k candidates per matching batch doc
    * @return (batch_id, corpus_id, jac) pairs with jac >= threshold */
  def minhashDupAgainst(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      shingleN: Int = 3, k: Int = 64, b: Int = 32,
      maxBucket: Int = 1000): DataFrame = {
    require(k % b == 0, "bands must divide signature length")
    val r = k / b
    def shingled(df: DataFrame, as: String) =
      parallelize(df).select(col(idCol).as(as),
        wordShingles(col(textCol), shingleN).as(s"sh_$as"))
    def banded(df: DataFrame, idAs: String) =
      df.select(col(idAs), posexplode(lshBands(
        minhashSignature(col(s"sh_$idAs"), k), b, r)).as(Seq("band", "bh")))

    val corpusSh = shingled(corpus, "corpus_id")
    val batchSh = shingled(batch, "batch_id")
    // skew guard: one count-window shuffle over the (small) band table —
    // at steady state this is the precomputed corpus-bands table anyway
    val guarded = banded(corpusSh, "corpus_id")
      .withColumn("__bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
      .where(col("__bsz") <= maxBucket)
      .drop("__bsz")
    val candidates = guarded
      .join(broadcast(banded(batchSh, "batch_id")), Seq("band", "bh"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
    candidates
      .join(batchSh, Seq("batch_id"))
      .join(corpusSh, Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        jaccard(col("sh_batch_id"), col("sh_corpus_id")).as("jac"))
      // 6-dp round-then-filter, matching the exact oracle's convention
      .where(graft.functions.GraftFunctions.duckRound(col("jac"), 6)
        >= threshold)
  }

  /** SimHash near-duplicate pairs: 64-bit simhash per doc (one codegen'd
    * pass over the token array), candidates via chunk banding with
    * `maxHamming + 1` chunks — by pigeonhole, any pair within the
    * Hamming budget shares at least one INTACT chunk, whatever the
    * budget (a fixed 4-chunk split would silently lose recall for
    * maxHamming > 3). Identical signatures (boilerplate dups) collapse
    * BEFORE banding, so they can never blow a bucket; `maxBucket` caps
    * chunk buckets of DISTINCT signatures — the remaining adversarial
    * density case. Verified by exact Hamming distance. */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    collapsedHammingPairs(
      parallelize(docs).select(col(idCol).as("id"),
        graft.functions.GraftFunctions.simhash64(tokens(col(textCol)))
          .as("sig")),
      bits = 64, maxHamming = maxHamming, maxBucket = maxBucket)

  /** Portable-simhash near-dup pairs: same banding/verify structure as
    * [[simhashDupPairs]] but over the md5-nibble 32-bit signature
    * ([[graft.functions.GraftFunctions.simhashMd5]]), which any engine
    * with md5()+substr() reproduces bit-for-bit — so THIS pipeline
    * (hash → candidate banding → exact-Hamming verify) is checked
    * against a quadratic DuckDB oracle, not just rows-only. */
  def simhashMd5DupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000000): DataFrame =
    collapsedHammingPairs(
      parallelize(docs).select(col(idCol).as("id"),
        graft.functions.GraftFunctions.simhashMd5(tokens(col(textCol)))
          .as("sig")),
      bits = 32, maxHamming = maxHamming, maxBucket = maxBucket)

  /** Signature-collapsed Hamming pair emission (r7): banding DOCUMENTS
    * degenerates on a signature-dense corpus — identical sigs form
    * bucket-sized cross products inside the join and the mandatory
    * distinct() then re-shuffles the full Θ(pairs) output (measured
    * 175 s at sf1). Collapse to DISTINCT signatures first (28k sigs for
    * 50k docs at sf1), run the pigeonhole banding there, and EMIT pairs
    * from group combinations: each (id_a, id_b) appears exactly once by
    * construction — no distinct over the pair list, work and output
    * both proportional to the answer (8.2 s at sf1). Two-step explodes
    * keep per-row arrays group-sized, never product-sized. */
  /** Materialize a signature-GROUP table (localCheckpoint) with AQE's
    * partition-size floor scoped DOWN for the materializing job. The
    * group tables are byte-small (one row per distinct signature) but
    * feed compute-dense expansion — chunk banding, band self-join,
    * exact-Hamming verify — so each row costs ~100× its bytes
    * downstream, and AQE's default 1 MB minPartitionSize coalesces the
    * post-groupBy layout to 1-2 partitions, capping every downstream
    * consumer's map parallelism at the checkpoint's partition count
    * until the next exchange (guide §2.3: partition for the COMPUTE
    * that follows, not the bytes that precede). Measured at sf3sv:
    * q283 ran an 875 ms 2-task serial job and benched flat 8.3 s at
    * BOTH 8 and 32 cores; with the floor at 16 KB the group shuffle
    * keeps the session parallelism and the entry halves (8.31 →
    * 4.03 s at 32c) with a restored core slope (5.35 s at 8c).
    * Deliberately NOT a blanket coalescing disable: AQE stays
    * adaptive, so at 100 TB (shuffle.partitions in the thousands, a
    * corpus-sized group table) the materialization still coalesces to
    * cluster parallelism instead of pinning to the raw shuffle
    * partition count, and at sf0.1 a ~100 KB table still lands in a
    * handful of partitions rather than 32 near-empty tasks. The conf
    * is restored in a finally — localCheckpoint is eager, so the
    * materializing job runs entirely inside the scope. */
  private def checkpointComputeDense(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val keys = Seq(
      // the floor that matters under parallelismFirst (the default):
      // target = max(totalBytes / defaultParallelism, minPartitionSize)
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16384",
      // pin parallelism-first so the 64 KB floor (not the 64 MB
      // advisory size) governs even if a deployment flipped it
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.localCheckpoint()
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def collapsedHammingPairs(sigs: DataFrame, bits: Int,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    val groups = checkpointComputeDense(sigs.groupBy("sig")
      .agg(sort_array(collect_list(col("id"))).as("ids")))
      // feeds the banding and both pair expansions
    val gp = bandedHammingPairs(
      groups.select(col("sig").as("id"), col("sig")),
      bits = bits, maxHamming = maxHamming, maxBucket = maxBucket)
    // within-group pairs: Hamming 0, ids sorted so a < b
    val within = groups
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2),
          greatest(size(col("ids")) - col("i") - 1, lit(0)))).as("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    // across-group pairs: every member of A × every member of B, once;
    // orientation normalized by value (groups are disjoint). The pair
    // stream is explicitly re-spread first: without it the whole
    // member-expansion pipeline runs on the banding window's
    // (chunk, value) partitioning — few keys, saturation-skewed — and
    // one hot chunk value turns into one straggler task. (The old
    // distinct() paid a shuffle AND a dedup aggregate here; the plain
    // repartition keeps the even spread for the shuffle cost alone —
    // measured 68-72 s → 59-61 s for the full sf3 expansion.)
    val across = gp.repartition(col("id_a"))
      .join(groups.select(col("sig").as("id_a"), col("ids").as("ids_a")),
        Seq("id_a"))
      .join(groups.select(col("sig").as("id_b"), col("ids").as("ids_b")),
        Seq("id_b"))
      .select(explode(col("ids_a")).as("a"), col("ids_b"), col("hamming"))
      .select(col("a"), explode(col("ids_b")).as("b"), col("hamming"))
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("hamming"))
    within.unionByName(across)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("integer").as("hamming"))
  }

  /** Per-document top-k nearest neighbors under a Hamming budget over
    * the portable md5-nibble simhash — the OUTPUT- and WORK-bounded
    * near-dup formulation.
    *
    * [[simhashMd5DupPairs]] + a window is NOT scale-safe on a dup-dense
    * corpus: identical texts share a signature, so banding degenerates
    * to bucket-sized cross products and the full Θ(dups²) pair list
    * materializes before any per-doc cap can trim it (measured 206 s at
    * sf1 vs this formulation's single-digit seconds). The fix is
    * algebraic: collapse to DISTINCT signatures first (the dup-dense
    * shape makes that table tiny), run the same chunk-banding over
    * distinct signatures only, and expand back per document just the
    * k+1 smallest member ids of each neighboring signature group —
    * enough to serve any member's top-k, since within a group all
    * members are at the same Hamming distance and rank by id. Work is
    * O(n · g · k) for g neighbor groups per signature; nothing
    * quadratic in document count ever materializes.
    *
    * Matches the quadratic definition exactly (oracle-checked at q178):
    * for each doc, the k nearest others with Hamming ≤ `maxHamming`,
    * ordered by (hamming, neighbor id).
    *
    * Join-strategy gate: the signature-level tables (`groups` and the
    * pair list derived from them) are broadcast-joined into the doc
    * stream only while the DISTINCT-signature count stays under
    * `broadcastSigLimit`. Dup-dense corpora collapse to a tiny group
    * table and take the broadcast path; a diverse corpus (the 100 TB
    * default — the sf3 probe measured 99.8% distinct shingle sets) has
    * distinct signatures ≈ docs, where a hard broadcast would ship the
    * whole corpus to every task — those fall back to plain shuffle
    * joins. The count is read off the already-materialized group
    * checkpoint, so the gate costs one metadata-cheap job, not a
    * recompute.
    *
    * @param maxBucket      cap on a (chunk, value) band bucket before the
    *                       distinct-signature pairing — same skew guard
    *                       as [[minhashDupPairs]], sized for signature
    *                       (not document) multiplicity
    * @param broadcastSigLimit distinct-signature count above which the
    *                       candidate expansion switches from broadcast
    *                       to shuffle joins. The default (2^16) is the
    *                       measured crossover: broadcast wins at 28k/38k
    *                       distinct signatures (12.2 vs 15.7 s, 9.2 vs
    *                       10.6 s at sf1/sf1sv) but loses 2.3× by 67k
    *                       (sf3: 141 vs 62 s; sf3sv: 87 vs 37 s,
    *                       identical outputs) — the derived pair table,
    *                       which grows superlinearly in signature count,
    *                       is what gets shipped to every task */
  def simhashMd5TopKNeighbors(docs: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3, k: Int = 2,
      maxBucket: Int = 1 << 16,
      broadcastSigLimit: Long = 1L << 16,
      wide: Boolean = false): DataFrame = {
    // `wide` (r16): the 64-bit portable signature
    // (GraftHash.simhashMd5Wide) — the scale-safe HEADLINE form. At
    // maxHamming=3 banding gets 16-bit chunks, so the band-collision
    // rate drops from the 32-bit form's 2^-8 to 2^-16: the sf10sv
    // saturation of the 32-bit entry (30.8 s — Θ(sigs²/2^8) band
    // pairs) was exactly that tail. Same pipeline, same bounded
    // contracts, still md5-portable for the DuckDB oracle.
    val width = if (wide) 64 else 32
    // materialize signatures once: the subplan feeds groups, the
    // signature pairing AND the per-doc candidate expansion — without
    // this the md5-per-token digest pass runs three times (measured
    // 3.0 s → 1.9 s at sf0.1; ~1.5× at sf1 in a same-session A/B on the
    // noisy bench host). The warehouse analogue is a persisted
    // signature column.
    val sigOf =
      if (wide) graft.functions.GraftFunctions.simhashMd5Wide _
      else graft.functions.GraftFunctions.simhashMd5 _
    val sigs = parallelize(docs).select(col(idCol).as("id"),
      sigOf(tokens(col(textCol))).as("sig"))
      .localCheckpoint()
    // one shuffle: distinct-signature groups with the k+1 smallest
    // member ids and the group size. Checkpointed: the table feeds the
    // banding, the self-group arm, the head_ids expansion AND the
    // broadcast-gate count — one materialization serves all four. The
    // aggregate is the BOUNDED k+1-smallest kernel (BoundedMinAgg,
    // O(k) buffer, map-side combined): collect_list+sort+slice computes
    // the same value but carries the whole member list per signature
    // through the aggregation — on a dup-dense 100 TB corpus a hot
    // signature group holds millions of ids of which only k+1 are used.
    val groups = checkpointComputeDense(sigs.groupBy("sig").agg(
      graft.functions.GraftFunctions.boundedMin(col("id"), k + 1)
        .as("head_ids")))
    val distinctSigs = groups.count()
    val gate: DataFrame => DataFrame =
      if (distinctSigs <= broadcastSigLimit) df => broadcast(df)
      else df => df
    // Hamming pairs over DISTINCT signatures — same pigeonhole banding,
    // with the finite bucket cap (a degenerate band value shared by
    // maxBucket+ distinct signatures is boilerplate collapsing to one
    // band, and would cost a quadratic bucket expansion); then orient
    // both ways and add the self-group (Hamming 0) so every doc sees
    // its own group's other members
    val gp = bandedHammingPairs(
      groups.select(col("sig").as("id"), col("sig")),
      bits = width, maxHamming = maxHamming, maxBucket = maxBucket)
    // both orientations EXPLODE out of one pass over the banded join
    // (r16): the previous gp.union(gp-flipped) shape referenced the gp
    // subtree twice, and exchange reuse does not cover the join+verify
    // compute above the reused shuffles — the whole candidate stage
    // ran twice (measured at sf10sv: the pair stage alone 6.5 s, the
    // old two-reference pipeline 37 s end-to-end; one-pass orientation
    // puts the full query at ~11 s)
    val oriented = gp.select(explode(array(
        struct(col("id_a").as("sig"), col("id_b").as("nbr_sig"),
          col("hamming")),
        struct(col("id_b").as("sig"), col("id_a").as("nbr_sig"),
          col("hamming")))).as("p"))
      .select(col("p.sig"), col("p.nbr_sig"), col("p.hamming"))
    val nbrGroups = oriented
      .union(groups.select(col("sig"), col("sig").as("nbr_sig"),
        lit(0).as("hamming")))
    // signature-level prune BEFORE the doc join: per (sig, hamming
    // level), only the k+1 neighbor groups with the smallest lead
    // member id can ever serve a top-k request. Soundness: a doc's
    // candidates rank by (hamming, nbr id); within one level, if k+1
    // groups all have lead id below some id x, those leads alone are
    // k+1 ids smaller than x, so x can never place in the smallest k+1
    // (and k+1 covers the worst case where one candidate is the doc
    // itself). This cuts per-doc expansion from Θ(g) neighbor groups
    // to ≤ (maxHamming+1)·(k+1) regardless of corpus diversity —
    // measured: sf3 62 s → 14.2 s, sf3sv 37 s → 6.7 s, sf1 12 s →
    // 6.7 s, identical outputs (oracle + quadratic-truth specs).
    val nbrPruned = nbrGroups
      .join(groups.select(col("sig").as("nbr_sig"), col("head_ids")),
        Seq("nbr_sig"))
      .withColumn("gr", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("sig", "hamming").orderBy(col("head_ids")(0))))
      .where(col("gr") <= k + 1)
      .select(col("sig"), col("hamming"), col("head_ids"))
    // per-doc candidates: ≤ (maxHamming+1)·(k+1)² rows per doc, joined
    // via the pruned signature-level table (broadcast when dup-dense,
    // shuffle when diverse — see the gate above); then one window on id
    val cand = sigs
      .join(gate(nbrPruned), Seq("sig"))
      .select(col("id"), explode(col("head_ids")).as("nbr"),
        col("hamming"))
      .where(col("nbr") =!= col("id"))
    cand.withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy(col("hamming"), col("nbr"))))
      .where(col("rk") <= k)
  }

  /** Generic banded Hamming-pair search over an arbitrary signature
    * column — the same pigeonhole kernel the simhash text paths use,
    * exposed for non-text fingerprints (perceptual image hashes, q205).
    * Returns (id_a, id_b, hamming) with id_a < id_b, hamming ≤
    * `maxHamming`. */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      bits: Int = 64, maxHamming: Int = 3,
      maxBucket: Int = 1 << 16): DataFrame =
    bandedHammingPairs(
      sigs.select(col(idCol).as("id"), col(sigCol).as("sig")),
      bits, maxHamming, maxBucket)

  /** Two-level pigeonhole banding for 64-bit signatures (r16): a pair
    * within Hamming ≤ 3 shares an intact 16-bit chunk (level 1), and —
    * since all its diffs then live in the remaining 48 bits — ALSO an
    * intact 12-bit sub-chunk of that remainder (level 2, pigeonhole
    * again over 4 sub-chunks ≥ maxHamming+1). The candidate key is
    * (chunk, chunkBits, sub, subBits): 16 keys per signature instead
    * of 4, but a HOT level-1 bucket (tens of thousands of signatures
    * sharing one 16-bit chunk without being near-dups — measured
    * 2.2 B candidate pairs at sf10sv, 0.2% verify precision) splits by
    * the 12-bit sub-value, cutting its quadratic expansion ~4096×/4.
    * Exact: both levels are necessary conditions, so recall is
    * unchanged; each pair still emits exactly once, at its minimal
    * agreeing (chunk, sub) — the same row-local dedup discipline as
    * the one-level form. Measured sf10sv (485k distinct sigs): the
    * pair stage 11.7 s → the candidate volume collapses from 2.2 B to
    * the near-dup structure itself. */
  private def bandedHammingPairs2L(sigs: DataFrame,
      maxBucket: Int): DataFrame = {
    val W = 16
    val SW = 12
    def chunkBitsOf(c: Int, sig: Column): Column =
      shiftright(sig, c * W).bitwiseAND(lit((1L << W) - 1))
    // the 48-bit remainder of `sig` with chunk `c` excised
    def remainder48(c: Int, sig: Column): Column = {
      val lowBits = c * W
      val low =
        if (lowBits == 0) lit(0L)
        else sig.bitwiseAND(lit((1L << lowBits) - 1))
      val high =
        if (c == 3) lit(0L)
        else shiftleft(shiftright(sig, (c + 1) * W)
          .bitwiseAND(lit((1L << (48 - lowBits)) - 1)), lowBits)
      low.bitwiseOR(high)
    }
    def subBitsOf(c: Int, s: Int, sig: Column): Column =
      shiftright(remainder48(c, sig), s * SW)
        .bitwiseAND(lit((1L << SW) - 1))
    val keys = for (c <- 0 until 4; s <- 0 until 4) yield
      struct(lit(c).as("chunk"), lit(s).as("sub"),
        chunkBitsOf(c, col("sig")).as("ch"),
        subBitsOf(c, s, col("sig")).as("sch"))
    val banded = sigs.select(col("id"), col("sig"),
        explode(array(keys: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.chunk"), col("bb.sub"),
        col("bb.ch"), col("bb.sch"))
      .withColumn("__bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("chunk", "sub", "ch", "sch")))
      .where(col("__bsz") <= maxBucket)
      .drop("__bsz")
    val firstChunk: Column = (0 until 4)
      .foldRight(lit(-1): Column) { (c, rest) =>
        when(chunkBitsOf(c, col("x.sig")) === chunkBitsOf(c, col("y.sig")),
          lit(c)).otherwise(rest)
      }
    def firstSubFor(c: Int): Column = (0 until 4)
      .foldRight(lit(-1): Column) { (s, rest) =>
        when(subBitsOf(c, s, col("x.sig")) ===
          subBitsOf(c, s, col("y.sig")), lit(s)).otherwise(rest)
      }
    val firstSub: Column = (0 until 4)
      .foldLeft(lit(-1): Column) { (acc, c) =>
        when(col("x.chunk") === c, firstSubFor(c)).otherwise(acc)
      }
    banded.as("x").join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.sub") === col("y.sub") &&
          col("x.ch") === col("y.ch") && col("x.sch") === col("y.sch") &&
          col("x.id") < col("y.id"))
      .where(col("x.chunk") === firstChunk && col("x.sub") === firstSub)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .where(col("hamming") <= 3)
  }

  private def bandedHammingPairs(sigs: DataFrame, bits: Int,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming in [0, $bits)")
    // the 64-bit maxHamming=3 shape takes the two-level pigeonhole
    // (exact — see bandedHammingPairs2L); other shapes keep the
    // one-level form
    if (bits == 64 && maxHamming == 3)
      return bandedHammingPairs2L(sigs, maxBucket)
    val chunks = maxHamming + 1
    val width = bits / chunks // last chunk absorbs the remainder bits
    def chunkBitsOf(c: Int, sig: Column): Column = {
      val w = if (c == chunks - 1) bits - c * width else width
      val shifted = shiftright(sig, c * width)
      if (c * width + w >= 64) shifted
      else shifted.bitwiseAND(lit((1L << w) - 1))
    }
    val banded = sigs.select(col("id"), col("sig"),
        explode(array((0 until chunks).map(c =>
          struct(lit(c).as("chunk"),
            chunkBitsOf(c, col("sig")).as("ch"))): _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.chunk"), col("bb.ch"))
      .withColumn("__bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("chunk", "ch")))
      .where(col("__bsz") <= maxBucket)
      .drop("__bsz")
    // each qualifying pair is emitted at its MINIMAL agreeing chunk
    // only — a row-local filter on the two signatures — so every pair
    // appears exactly once WITHOUT a distinct() re-shuffle of the
    // Θ(pairs) output (previously the dominant exchange on a diverse
    // corpus). Cap interaction: if a pair's minimal agreeing chunk was
    // dropped by maxBucket while a later chunk survived, the pair is
    // lost where the distinct() formulation would have found it — a
    // strictly-within-contract narrowing (capped buckets already
    // forfeit their candidates) that cannot trigger below bucket sizes
    // of maxBucket, i.e. never at oracle scales.
    val firstAgree: Column = (0 until chunks)
      .foldRight(lit(-1): Column) { (c, rest) =>
        when(chunkBitsOf(c, col("x.sig")) === chunkBitsOf(c, col("y.sig")),
          lit(c)).otherwise(rest)
      }
    banded.as("x").join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ch") === col("y.ch") &&
          col("x.id") < col("y.id"))
      .where(col("x.chunk") === firstAgree)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Incremental dedup against an existing corpus through a Bloom-filter
    * prefilter — the shuffle-avoidance pattern for "dedup today's crawl
    * against the 100 TB index": a plain anti-join shuffles the ENTIRE
    * incoming batch on the fingerprint key, but almost all incoming rows
    * are new, so almost all of that shuffle is wasted. Instead:
    *
    *   1. aggregate the seen side's fingerprints into one Bloom filter
    *      (Spark's own `BloomFilterAggregate` over `xxhash64` — the same
    *      machinery the optimizer injects for runtime row-group
    *      filtering, used here explicitly). The sketch is model-sized
    *      state: `numBits/8` bytes regardless of corpus size, built by a
    *      map-side-combining aggregate (partial filters OR-merge);
    *   2. one map-only pass flags each incoming row via
    *      `BloomFilterMightContain` against the broadcast-literal sketch:
    *      `might = false` rows are DEFINITELY new (Bloom filters have no
    *      false negatives) and bypass the shuffle entirely;
    *   3. only the `might = true` candidates — true dups plus the ~fpp
    *      false-positive sliver — pay the exact anti-join that removes
    *      the real dups.
    *
    * Output is EXACTLY the plain anti-join (the filter only prunes, the
    * join confirms), so the entry is oracle-checkable while the plan
    * ships ≈ |dups| + fpp·|incoming| rows to the exchange instead of
    * |incoming|. Both branches re-scan `incoming` (map-only, columnar);
    * at warehouse scale the sketch would be persisted alongside the
    * index rather than rebuilt per batch.
    *
    * @param fpCol         fingerprint column present on both inputs
    *                      (e.g. [[normFingerprint]])
    * @param expectedItems Bloom capacity; with `numBits` sets the
    *                      false-positive rate (~0.03 at 5 bits/item)
    * @param numBits       sketch size in bits (must stay under Spark's
    *                      67,108,864-bit runtime-filter creation cap) */
  def bloomNewDocs(incoming: DataFrame, seen: DataFrame, fpCol: String,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val fpHash = xxhash64(col(fpCol))
    // the sketch rides as a SCALAR SUBQUERY — the same shape the
    // optimizer's own runtime-filter injection emits — so the whole
    // operator stays ONE declarative plan: no driver collect barrier,
    // and its (null on empty seen ⇒ might = null ⇒ filters false)
    // result feeds both branches. ONE ScalarSubquery instance is built
    // and referenced from both branches, so sharing its single
    // execution doesn't depend on ReuseSubquery re-deduplicating two
    // canonicalized copies (it still would under the default config,
    // but the single-instance plan doesn't need the rule to fire).
    val bloomPlan = seen
      .select(toCol(new BloomFilterAggregate(toExpr(fpHash),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
        .as("bf"))
      .queryExecution.analyzed
    val bloomSubquery = ScalarSubquery(bloomPlan)
    def might = toCol(BloomFilterMightContain(bloomSubquery, toExpr(fpHash)))
    // null-safe negation: on an EMPTY seen side the subquery yields a
    // null sketch, might_contain is null, and both branches must agree
    // that everything is new
    val definitelyNew = incoming.where(!coalesce(might, lit(false)))
    val confirmedNew = incoming.where(coalesce(might, lit(false)))
      .join(seen.select(col(fpCol)), Seq(fpCol), "left_anti")
    definitelyNew.unionByName(confirmedNew)
  }

  /** Exact-substring dedup at ≥`n`-token granularity — the sorted
    * shingle-fingerprint formulation of Lee et al.'s suffix-array
    * ExactSubstr (arXiv:2107.06499, "Deduplicating Training Data Makes
    * Language Models Better"): any token-aligned duplicated substring
    * of ≥ n tokens contains a duplicated n-token window, and the UNION
    * of duplicated windows is exactly the maximal duplicated spans —
    * so counting n-gram fingerprints replaces the (inherently
    * sequential) suffix array with key-partitioned, skew-free shuffles
    * of window starts only; no per-token row is ever materialized:
    *
    *   1. fingerprint every n-token window of each document in one
    *      fused kernel (48-bit md5-prefix here — the hash both engines
    *      compute identically; at 100 TB widen to 128-bit), groupBy fp
    *      → starts whose fingerprint occurs ≥ 2 times anywhere
    *      (including a repeat inside the same document — Lee et al.
    *      remove self-repeats too);
    *   2. collect each document's duplicated starts (only documents
    *      that have any) and left-join them back to the documents on
    *      doc_id;
    *   3. one per-document kernel pass marks token p covered iff a
    *      duplicated start lies in [p-n+1, p] and rolls up the
    *      removed-token count, the maximal-span count and the surviving
    *      text.
    *
    * vs q171's disjoint 10-token-segment dedup: this removes
    * duplicated spans at ANY offset (q171 only aligned equal
    * segments) and enforces a principled ≥n-token floor (q171's floor
    * degenerates on final partial segments, banning duplicated tails
    * as short as one token). Measured at sf0.01 the two remove
    * similar token mass from different places — see the BASELINE.md
    * r9 note for the numbers.
    *
    * Tokens are `split(text, " ")`, so a double space yields an empty
    * token; a null text yields no output row. Ids must be unique.
    *
    * Output: (doc_id, n_tokens, n_removed, n_spans, kept_text). */
  def exactSubstrDedup(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, s"span granularity n=$n must be >= 2")
    val w = substrWords(docs, idCol, textCol)
    val starts = shingleStarts(w, n)
    val dupFp = starts.groupBy("fp")
      .agg(count(lit(1)).as("cnt")).where(col("cnt") >= 2).select("fp")
    spanRollup(w, starts.join(dupFp, "fp"), n)
  }

  /** Incremental [[exactSubstrDedup]]: remove from `batch` every
    * ≥n-token span that appears ANYWHERE in the standing `corpus` —
    * the form a warehouse actually runs daily (the corpus's distinct
    * shingle-fingerprint set is the persisted index; the batch joins
    * against it, the corpus is never re-deduped). Same contract family
    * as q99 (incremental MinHash) and q188 (incremental exact):
    * corpus-side artifact + batch-side map/join work only.
    *
    * Note the deliberate contract difference from the batch form:
    * duplication WITHIN the batch alone does not remove (count ≥ 1 in
    * the corpus is the test), so a batch is always deduped against the
    * same index state regardless of how ingestion was micro-batched. */
  def exactSubstrDedupAgainst(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    require(n >= 2, s"span granularity n=$n must be >= 2")
    val indexFp = shingleStarts(substrWords(corpus, idCol, textCol), n)
      .select("fp").distinct()
    val bw = substrWords(batch, idCol, textCol)
    spanRollup(bw, shingleStarts(bw, n).join(indexFp, "fp"), n)
  }

  /** (doc_id, words) on single spaces; null texts are dropped. */
  private def substrWords(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("words"))
      .where(col("words").isNotNull)

  /** Shingle starts `p` (1-based) with the portable 48-bit fingerprint
    * ([[graft.functions.GraftVector.wordWindowFps]]); docs shorter than
    * n emit none. */
  private def shingleStarts(w: DataFrame, n: Int): DataFrame =
    w.select(col("doc_id"), posexplode(
        graft.functions.GraftFunctions.wordWindowFps(col("words"), lit(n)))
        .as(Seq("p0", "fp")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("fp"))

  /** Per-document coverage and span/survivor rollup shared by the batch
    * and incremental forms (see [[exactSubstrDedup]]): each document's
    * duplicated starts, collected, meet its words in one kernel call
    * ([[graft.functions.GraftVector.spanRollup]]). */
  private def spanRollup(w: DataFrame, dupStarts: DataFrame, n: Int)
      : DataFrame = {
    val perDoc = dupStarts.groupBy("doc_id")
      .agg(collect_list(col("p")).as("dup"))
    w.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), graft.functions.GraftFunctions.spanRollup(
        col("words"), col("dup"), lit(n)).as("r"))
      .select(col("doc_id"), col("r.n_tokens"), col("r.n_removed"),
        col("r.n_spans"), col("r.kept_text"))
  }

  /** T5-style span-corruption training-example construction (Raffel et
    * al. 2020, arXiv:1910.10683 §3.1.4): mask ~10% of tokens in short
    * spans, replace each masked span with a numbered sentinel in the
    * input and emit the spans behind their sentinels as the target.
    *
    * Where T5 samples spans stochastically, this is the DETERMINISTIC
    * formulation a reproducible data pipeline needs: span starts live
    * on a fixed `spanLen`-token grid (so spans can never overlap — no
    * sequential scan to resolve collisions) and a grid cell is masked
    * iff a portable 48-bit md5 hash of (doc_id, grid start) lands in
    * 1/`gateMod` of the space. Every per-token decision is then a pure
    * function of (doc_id, position): embarrassingly parallel, no state.
    * The only ordered step is the per-doc sentinel NUMBERING (a
    * doc-keyed window cumsum — scalable, the partition key is the doc).
    *
    * Output: (doc_id, n_tokens, n_masked, n_spans, corrupted, target);
    * `corrupted` has each masked span replaced by `<extra_id_k>`,
    * `target` is the concatenation of `<extra_id_k> span tokens…`. */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 3, gateMod: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(spanLen >= 1 && gateMod >= 1)
    val toks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("words"))
      .select(col("doc_id"), posexplode(col("words")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("word"))
      // grid start of p's cell, and the portable hash gate on that cell
      .withColumn("s", col("p") - pmod(col("p") - 1, lit(spanLen)))
      .withColumn("masked", expr(
        s"""CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':',
           |  CAST(s AS STRING))), 1, 12), 16, 10) AS BIGINT)
           |  % $gateMod = 0""".stripMargin))
    val perDoc = Window.partitionBy("doc_id").orderBy("p")
    val marked = toks
      .withColumn("is_start", (col("masked") && col("p") === col("s"))
        .cast("int"))
      // sentinel number = masked spans started up to here, minus one
      .withColumn("k", sum("is_start").over(perDoc) - 1)
      .withColumn("corrupted_tok",
        when(!col("masked"), col("word"))
          .when(col("is_start") === 1,
            concat(lit("<extra_id_"), col("k"), lit(">"))))
      .withColumn("target_tok",
        when(col("masked") && col("is_start") === 1,
          concat(lit("<extra_id_"), col("k"), lit("> "), col("word")))
          .when(col("masked"), col("word")))
    marked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("masked").cast("long")).as("n_masked"),
        sum("is_start").cast("long").as("n_spans"),
        concat_ws(" ", expr(
          """transform(filter(
            |  sort_array(collect_list(struct(p, corrupted_tok))),
            |  x -> x.corrupted_tok IS NOT NULL), x -> x.corrupted_tok)"""
            .stripMargin)).as("corrupted"),
        concat_ws(" ", expr(
          """transform(filter(
            |  sort_array(collect_list(struct(p, target_tok))),
            |  x -> x.target_tok IS NOT NULL), x -> x.target_tok)"""
            .stripMargin)).as("target"))
  }

  /** Content-normalization fingerprint: lowercase, strip non-alnum, collapse
    * whitespace, md5 — the standard "exact dup after normalization" key.
    * Deterministic and engine-portable (SQL-expressible in DuckDB too —
    * the oracles keep the regexp_replace formulation; the engine runs
    * the fused single-pass [[graft.functions.GraftVector.normPrefix]]
    * kernel, which the oracle gate proves equivalent). */
  def normFingerprint(text: Column): Column =
    md5(graft.functions.GraftFunctions.normPrefix(text, lit(-1)))

  /** Lead-content fingerprint: [[normFingerprint]] over only the first
    * `n` normalized characters — the coarser key for "same article,
    * trailing edits differ" dedup (mirror/boilerplate detection keys on
    * the lead, which survives tail edits). */
  def leadFingerprint(text: Column, n: Int): Column =
    md5(graft.functions.GraftFunctions.normPrefix(text, lit(n)))

  /** Stopword tables for the n-gram-free language-ID heuristic. Tiny,
    * closed-class word lists — the standard cheap signal. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "est", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Per-language stopword hit count over the token array. */
  def langScore(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t =>
      array_contains(array(words.map(lit): _*), t)))

  /** Let-binding for Column trees: evaluates `bound` ONCE per row and
    * feeds it to `body` as a lambda variable (a one-element `transform`).
    * Catalyst has no shared-subexpression node, and codegen CSE does not
    * reach interpreted contexts (Filter above Window, higher-order
    * lambdas) — referencing an expensive Column N times evaluates it N
    * times there. */
  def letOnce(bound: Column, body: Column => Column): Column =
    element_at(transform(array(bound), body), 1)

  /** Heuristic language ID: argmax of stopword hits, 'und' (undetermined)
    * when nothing matches. Deterministic tie-break: first language in
    * [[langStopwords]] order wins.
    *
    * The argmax is one `array_max` over (score, -index, lang) structs —
    * lexicographic struct ordering picks the highest score and breaks
    * ties toward the first language — so each per-language score is
    * evaluated exactly ONCE per row. A when/otherwise fold would embed
    * every earlier score tree in each later comparison (2^n copies);
    * outside whole-stage codegen's subexpression elimination (e.g. in a
    * Filter directly above a Window) that fold re-tokenizes the text
    * tens of times per row — observed 20x slower on the curation
    * pipeline. */
  def langId(text: Column): Column =
    letOnce(tokens(lower(text)), { toks =>
      val entries = langStopwords.zipWithIndex.map {
        case ((lang, words), i) =>
          struct(langScore(toks, words).as("s"), lit(-i).as("o"),
            lit(lang).as("l"))
      }
      // 'und' rides along as a sentinel at (s=0, o=1): it outranks every
      // real language at score 0 (o=1 beats o<=0) and loses to any
      // positive score — so ONE array_max copy yields both the argmax and
      // the nothing-matched fallback (a when(best.s > 0, ...) wrapper
      // would duplicate the whole array_max tree per field reference)
      val und = struct(lit(0).as("s"), lit(1).as("o"), lit("und").as("l"))
      array_max(array(entries :+ und: _*)).getField("l")
    })

  /** Quality score in [0,1]: blend of length band, alpha ratio, mean word
    * length band and whitespace sanity — the shape of heuristic corpus
    * filters (Gopher/C4-style rules) as one deterministic formula. */
  def qualityScore(text: Column): Column =
    // nTok (a full tokenization) is referenced three times below —
    // letOnce binds it to a single evaluation per row
    letOnce(size(tokens(text)).cast("double"), { nTok =>
      val nChar = length(text).cast("double")
      val alphaRatio =
        length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
          greatest(nChar, lit(1.0))
      val meanWordLen = nChar / greatest(nTok, lit(1.0))
      val lenBand = when(nTok.between(10, 1000), 1.0).otherwise(0.3)
      val wordBand = when(meanWordLen.between(2.5, 12.0), 1.0).otherwise(0.4)
      graft.functions.GraftFunctions.duckRound(
        lenBand * 0.4 + wordBand * 0.2 + alphaRatio * 0.4, 6)
    })

  // ---- tokenizer seam + iterated BPE training (r10) ----------------

  /** CORPUS TOKENIZER CONTRACT: every token-level operator in this
    * library (token counts, shingles, language ID, packing budgets,
    * Zipf/vocab stats, the exact-substring kernels) tokenizes by
    * `split(trim(text), "\\s+")` — whitespace words, a documented
    * simplification that keeps the DuckDB oracles byte-exact
    * (`string_split_regex(trim(text), '\s+')`). Operators that should
    * work under a REAL subword vocabulary take a [[GraftTokenizer]]
    * instead of calling [[tokens]] directly; [[WhitespaceTokenizer]]
    * reproduces the contract above, [[BpeTokenizer]] applies a merge
    * list trained by [[bpeTrain]]. Both are pure Column algebra —
    * swapping tokenizers never changes an operator's plan shape. */
  trait GraftTokenizer extends Serializable {
    /** text column → array<string> of tokens. */
    def tokenize(text: Column): Column
  }

  /** The default: the whitespace contract verbatim. */
  object WhitespaceTokenizer extends GraftTokenizer {
    def tokenize(text: Column): Column = tokens(text)
  }

  /** Canonical BPE word form: characters joined by DOUBLE spaces, one
    * space padding each end (` a  b  c `). The doubled separator makes
    * a single-space-delimited merge pattern (` a  b ` → ` ab `) consume
    * exactly one boundary space per side, so left-to-right non-overlap
    * `replace` — the semantics of both Spark's and DuckDB's replace —
    * IS greedy BPE merge application, and consecutive/overlapping
    * occurrences resolve exactly like Sennrich et al.'s reference
    * (arXiv:1508.07909). */
  private[graft] def bpeCanonical(word: Column): Column =
    concat(lit(" "), rtrim(regexp_replace(word, "(.)", "$1  ")), lit(" "))

  /** Subword tokenizer from a trained merge list: each whitespace word
    * expands to characters, the merges apply in training order, the
    * merged symbols flatten back into one token array. Pure nested
    * Column algebra (transform + chained literal replaces) — map-only,
    * codegen'd, no UDF. */
  final class BpeTokenizer(merges: Seq[(String, String)])
      extends GraftTokenizer {
    def tokenize(text: Column): Column =
      // array_remove "": text with edge NON-SPACE whitespace (a prompt
      // ending "\n") yields an empty edge word under the whitespace
      // contract (trim strips spaces only; split keeps the trailing
      // empty match) — a real subword tokenizer emits no token there
      flatten(transform(array_remove(tokens(lower(text)), ""), { w =>
        val merged = merges.foldLeft(bpeCanonical(w)) { case (s, (l, r)) =>
          replace(s, lit(s" $l  $r "), lit(s" $l$r "))
        }
        split(trim(merged), "  ")
      }))
  }

  /** Iterated BPE vocabulary training (Sennrich et al. 2016,
    * arXiv:1508.07909) — the fixpoint generalization of the one-step
    * pair count (q165): repeat `numMerges` times {count adjacent
    * symbol pairs frequency-weighted over the distinct-WORD table,
    * merge the best pair everywhere}. Returns the merge list with
    * per-step stats: (step, lt, rt, merged, cnt, n_symbols).
    *
    * Scale design: the corpus collapses to the word-frequency table
    * before the loop (ONE corpus-sized shuffle; everything after is
    * vocabulary-sized — the standard trick that makes BPE training
    * tractable at any corpus size). Each round is two small jobs on
    * that table (pair count + merge apply), the chosen pair is the
    * only driver-side value (one 1-row collect — the merge decision is
    * global by definition), and state re-anchors through
    * [[org.apache.spark.sql.graft.PlanBridge.freshStats]] so neither
    * plan lineage nor stats estimates compound across rounds.
    * Tie-break: (cnt DESC, lt ASC, rt ASC) — binary string order,
    * identical in Spark and DuckDB. */
  def bpeTrain(docs: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("f"))
    var state = org.apache.spark.sql.graft.PlanBridge.freshStats(
      wc.select(bpeCanonical(col("w")).as("seq"), col("f"))
        .localCheckpoint(true))
    // fused per-round scan (r17-opt, guide §2.3 "aggregate before you
    // shuffle" / §1.2 fewer passes): ONE job over the state computes
    // both results a round needs — the distinct-symbol count of the
    // CURRENT state and the argmax pair for the NEXT merge — instead
    // of two separate vocabulary-sized actions. Symbols and adjacent
    // pairs explode into one tagged stream, collapse by (kind, a, b),
    // then a global aggregate takes n_sym = count of symbol groups and
    // best = min_by over (−cnt, lt, rt) — EXACTLY the previous
    // (cnt DESC, lt ASC, rt ASC) tie-break in binary string order, so
    // the merge SEQUENCE is bit-identical (the oracle pins it).
    val pairTy = "array<struct<kind:string,a:string,b:string>>"
    def scan(st: DataFrame): (Option[(String, String, Long)], Long) = {
      val l = split(trim(col("seq")), "  ")
      val syms = transform(l, s =>
        struct(lit("s").as("kind"), s.as("a"),
          lit(null).cast("string").as("b")))
      val pairs = when(size(l) >= 2,
        transform(sequence(lit(1), size(l) - 1),
          i => struct(lit("p").as("kind"), element_at(l, i).as("a"),
            element_at(l, i + 1).as("b"))))
        .otherwise(array().cast(pairTy))
      val row = st
        .select(col("f"), explode(concat(syms, pairs)).as("e"))
        .groupBy(col("e.kind").as("kind"), col("e.a").as("a"),
          col("e.b").as("b"))
        .agg(sum("f").as("cnt"))
        .agg(
          count(when(col("kind") === "s", 1)).as("n_sym"),
          min_by(
            when(col("kind") === "p",
              struct(col("a"), col("b"), col("cnt"))),
            when(col("kind") === "p",
              struct((-col("cnt")).as("nc"), col("a"), col("b"))))
            .as("best"))
        .head()
      val best = Option(row.getStruct(1))
        .map(s => (s.getString(0), s.getString(1), s.getLong(2)))
      (best, row.getLong(0))
    }
    val merges =
      scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, String, Long, Long)]
    var k = 1
    var best = scan(state)._1 // round 1's argmax (n_sym of state 0 unused)
    while (k <= numMerges && best.isDefined) {
      val (lt, rt, cnt) = best.get
      state = org.apache.spark.sql.graft.PlanBridge.freshStats(
        state.select(
          replace(col("seq"), lit(s" $lt  $rt "), lit(s" $lt$rt "))
            .as("seq"), col("f"))
          .localCheckpoint(true))
      // one fused job: this round's n_symbols + next round's argmax
      val (nextBest, nSym) = scan(state)
      merges += ((k, lt, rt, lt + rt, cnt, nSym))
      best = nextBest
      k += 1
    }
    merges.toSeq.toDF("step", "lt", "rt", "merged", "cnt", "n_symbols")
  }
}
