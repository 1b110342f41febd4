package graft

import org.apache.spark.sql.functions._
import graft.operators.{EmbeddingOps, MediaOps, PromptOps, RetrievalOps, TextOps}
import graft.functions.GraftFunctions

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis) as driver-contract entries — the north-star extension of the
  * reference's doc_retriever.py dataflow (SURVEY.md §2.9 H4).
  *
  * Oracle strategy: wherever the semantics are deterministic and
  * engine-portable (exact dedup, blocked/verified Jaccard, brute-force
  * cosine, token/quality/lang-id formulas), the DuckDB oracle recomputes
  * them from first principles (list lambdas + unnest zip), so the whole
  * distributed pipeline is value-checked, not just smoke-tested. Hash-
  * family-dependent ops (simhash, LSH buckets) are rows-only here and
  * property-tested in ScalaTest against planted duplicates.
  */
object PipelineQueries {
  import Queries._

  /** DuckDB-side word-3-gram distinct shingle list (same semantics as
    * [[TextOps.wordShingles]]: slice clamps at the tail, min one shingle). */
  private val duckShingles =
    """list_distinct(list_transform(
      |  range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1) + 1),
      |  i -> array_to_string(string_split_regex(trim(text), '\s+')[i:i+2], ' ')))"""
      .stripMargin

  private val duckJaccard =
    """len(list_intersect(a.sh, b.sh))::DOUBLE /
      |  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"""
      .stripMargin

  /** DuckDB-side quality formula (same bands as [[TextOps.qualityScore]]).
    * Shared by q48 and the q69 pipeline so the two oracles can never
    * drift apart. */
  private val duckQuality =
    """round(
      |  (CASE WHEN len(string_split_regex(trim(text), '\s+'))
      |     BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END) * 0.4 +
      |  (CASE WHEN length(text)::DOUBLE /
      |     greatest(len(string_split_regex(trim(text), '\s+')), 1)
      |     BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.4 END) * 0.2 +
      |  (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE /
      |     greatest(length(text), 1)) * 0.4, 6)""".stripMargin

  /** DuckDB-side stopword-argmax language-ID CASE (same tables and
    * first-max-wins tie-break as [[TextOps.langId]]); shared by q49 and
    * q69, and GENERATED from [[TextOps.langStopwords]] so the table can
    * grow or shrink without touching this formula: branch i fires when
    * its score is positive and >= every LATER language's score (earlier
    * branches already failed, giving first-max-wins). */
  private val duckLangPred: String = {
    val toks = "string_split_regex(trim(lower(text)), '\\s+')"
    def score(words: Seq[String]) =
      s"len(list_filter($toks, t -> list_contains(" +
        words.mkString("['", "', '", "']") + ", t)))"
    val scored = TextOps.langStopwords.map { case (l, ws) => l -> score(ws) }
    val branches = scored.zipWithIndex.map { case ((lang, s), i) =>
      val laterGe = scored.drop(i + 1)
        .map { case (_, s2) => s"$s >= $s2" }
      val cond = (s"$s > 0" +: laterGe).mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }
    branches.mkString("CASE\n    ", "\n    ", "\n    ELSE 'und' END")
  }

  /** DuckDB-side whitespace tokens (same semantics as [[TextOps.tokens]]). */
  private val duckTokens = "string_split_regex(trim(text), '\\s+')"

  /** DuckDB oracle for q235: the BPE training loop UNROLLED as chained
    * CTEs, one (pair-count → argmax → merge-apply → symbol-count) block
    * per step — mechanically generated so the oracle recomputes the
    * full merge SEQUENCE, not just the final state. w0 is the
    * canonical double-space word form (chars joined by '  ', padded);
    * each step's replace pattern consumes one boundary space per side,
    * which makes both engines' left-to-right non-overlapping replace
    * exactly greedy BPE application. DuckDB INLINES every CTE
    * reference, so the chain's expansion is exponential in references
    * per step: the chosen pair rides into the rewrite as a one-row
    * CROSS JOIN (not three scalar subqueries), holding each w_{k-1} to
    * two references — ~2^k scan expansion (~10^2 scans at 8 steps)
    * instead of the 4^k (~10^4, beyond the open-file limit) the
    * scalar-subquery form costs. */
  /** The shared CTE chain: w0 = canonical word forms (with the word
    * itself carried along for downstream joins), then per step k a
    * (pair-count p_k → argmax b_k → rewrite w_k) block, plus symbol
    * counts v_k when the caller outputs them. */
  /** q250 — unigram-LM (SentencePiece-family) tokenizer training as
    * ONE generated SQL text instantiated for BOTH engines, so the
    * kernel and the oracle share a single definition (the duckSimhash
    * convention, scaled up). The algorithm (Kudo 2018,
    * arXiv:1804.10959, reduced to its deterministic core):
    *
    *   1. word-frequency table (corpus collapses in ONE shuffle);
    *      training words capped at 10 chars (longer tails — e.g.
    *      unsegmented CJK runs — are out of the training set).
    *   2. seed vocabulary: every substring of length 1-3, frequency-
    *      weighted; ALL single chars (coverage guarantee: any word
    *      stays segmentable) + the top-24 multi-char pieces.
    *   3. piece costs as INTEGERS: round(ln(total/cnt), 6) · 1e6 —
    *      one ln + one half-up round per piece, so the whole DP is
    *      exact integer arithmetic afterwards.
    *   4. Viterbi segmentation of each word under those costs — the
    *      10-position DP unrolled into generated CTE levels (each
    *      level = 3 broadcast lookups against the 40-ish-piece
    *      vocabulary + an integer least(); ties break toward the
    *      LONGER piece via the enc = cost·4 + (3-k) packing), then the
    *      backtrack unrolled the same way.
    *   5. EM refresh: piece usage (frequency-weighted path counts) +
    *      add-one smoothing re-estimates the costs; a second Viterbi
    *      pass reports usage under the refreshed model.
    *
    * Scale shape: the only corpus-sized operations are the word-freq
    * groupBy and the substring-count groupBy; everything after runs on
    * the VOCABULARY-sized word table (the q235 BPE property). The DP
    * adds no shuffle at all — every level is a broadcast hash join
    * against a ≤64-row table followed by map-side integer arithmetic. */
  private object UnigramLm {
    private val L = 10
    private def len(duck: Boolean) = if (duck) "len" else "length"

    /** Word-frequency table (the only corpus-sized shuffle). */
    def wordsSql(duck: Boolean): String =
      if (duck)
        """SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
          |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
          |  FROM documents) t
          |WHERE len(w) BETWEEN 1 AND 10 GROUP BY w""".stripMargin
      else
        """SELECT w, count(*) AS f FROM (
          |  SELECT explode(split(trim(lower(text)), '\\s+')) AS w
          |  FROM documents) t
          |WHERE length(w) BETWEEN 1 AND 10 GROUP BY w""".stripMargin

    /** Seed vocabulary: all single chars + top-24 multi-char substrings
      * by frequency-weighted count (cnt DESC, piece ASC ties). */
    def vocabSql(duck: Boolean, wf: String): String = {
      val sub =
        if (duck)
          s"""sub AS (SELECT substr(w, i, k) AS piece,
             |    CAST(sum(f) AS BIGINT) AS cnt
             |  FROM $wf, unnest(range(1, len(w) + 1)) AS u(i),
             |       unnest([1, 2, 3]) AS q(k)
             |  WHERE i + k - 1 <= len(w) GROUP BY 1)""".stripMargin
        else
          s"""sub AS (SELECT substr(w, i, k) AS piece, sum(f) AS cnt
             |  FROM $wf
             |  LATERAL VIEW explode(sequence(1, length(w))) ui AS i
             |  LATERAL VIEW explode(sequence(1, 3)) uk AS k
             |  WHERE i + k - 1 <= length(w)
             |  GROUP BY substr(w, i, k))""".stripMargin
      s"""WITH $sub
         |SELECT piece, cnt FROM sub WHERE ${len(duck)}(piece) = 1
         |UNION ALL
         |SELECT piece, cnt FROM (
         |  SELECT piece, cnt FROM sub WHERE ${len(duck)}(piece) >= 2
         |  ORDER BY cnt DESC, piece LIMIT 24) m""".stripMargin
    }

    /** Integer piece costs: ln(total/cnt) · 1e6, half-up — the one
      * float touchpoint; everything downstream is exact integers.
      * Derived as floor(x·1e6 + 0.5): Spark's round() is BigDecimal
      * HALF_UP while DuckDB's is std::round on the scaled value, and
      * Spark's double→BIGINT cast truncates while DuckDB's rounds —
      * either pair can differ by 1 when x·1e6 lands one ulp off an
      * integer, flipping a Viterbi near-tie. floor() of a
      * positive value (tot ≥ cnt ⇒ ln ≥ 0) yields an exactly-integral
      * double, which both engines cast to the same BIGINT. */
    def costSql(vTab: String): String =
      s"""SELECT piece,
         |  CAST(floor(ln(CAST(t.tot AS DOUBLE) / cnt) * 1000000 + 0.5)
         |    AS BIGINT) AS cost
         |FROM $vTab, (SELECT sum(cnt) AS tot FROM $vTab) t""".stripMargin

    /** The (position, pieceLen) pairs a 10-char word can host. */
    private val slots: Seq[(Int, Int)] =
      for (k <- 1 to 3; i <- 1 to L - k + 1) yield (i, k)

    /** One Viterbi round, split into THREE fragments — [[dpSqlHalf1]]
      * / [[dpSqlHalf2]] (cost pivot + unrolled forward levels 1..5,
      * then 6..10, ending at (w, f, k1..k10)) and [[btSql]] (unrolled
      * backtrack + usage count). The cost table
      * joins ONCE: every in-word piece position left-joins `cTab` and
      * pivots into per-word c_<pos>_<len> columns, so the unrolled
      * 10-position DP levels are pure projections — integer least()
      * with enc = cost·4 + (3-k) so ties break toward the longer piece
      * — and the backtrack unrolls the same way. (First cut joined
      * `cTab` once per (level, len) — 30 joins — which DuckDB's CTE
      * inlining re-expanded into 30 cost-chain re-runs; the pivot form
      * is one join on both engines. The r12 DP/backtrack split exists
      * for the SPARK side: one fused 20-level plan was the catalog's
      * largest analysis+codegen constant, and materializing the
      * word-table-sized (w, f, k*) frame between the halves cuts each
      * statement's plan depth in half — DuckDB nests the same two
      * fragments as CTEs, referenced once each, so the oracle is
      * unchanged.) */
    /** Split point of the forward DP: levels [1, Mid] run in the first
      * statement, (Mid, L] in the second (r17-opt, guide §7.3 planning
      * cost): Catalyst analysis + optimization over these unrolled
      * projection chains is superlinear in plan depth × width, so two
      * half-depth statements plan measurably cheaper than one 10-level
      * chain (the same reasoning as the r12 dp/bt split, one level
      * deeper). The ORACLE nests the same two fragments as chained
      * CTEs referenced once each — DuckDB's inlining reconstructs the
      * identical expression, so the computed rows are unchanged. */
    private val Mid = 5

    /** Shared per-level CTE generator for the unrolled forward DP. */
    private def levelCte(duck: Boolean, r: Int, j: Int): String = {
      val ln = len(duck)
      val div = if (duck) "//" else "DIV"
      val ks = 1 to math.min(3, j)
      val cands = ks.map(k =>
        s"coalesce((d.b${j - k} + d.c_${j - k + 1}_$k) * 4 + ${3 - k}, " +
          "9000000000000000)")
      val encExpr =
        if (cands.size == 1) cands.head
        else s"least(\n      ${cands.mkString(",\n      ")})"
      s"""d${r}_$j AS (
         |  SELECT q.*,
         |    CASE WHEN $j <= $ln(q.w) THEN q.enc_$j $div 4 END AS b$j,
         |    CASE WHEN $j <= $ln(q.w) THEN 3 - (q.enc_$j % 4) END AS k$j
         |  FROM (
         |    SELECT d.*, $encExpr AS enc_$j
         |    FROM d${r}_${j - 1} AS d
         |  ) AS q)""".stripMargin
    }

    /** The (position, pieceLen) cost columns levels (Mid, L] consume —
      * the only cost state the fragment boundary must carry. */
    private val carrySlots: Seq[(Int, Int)] =
      (for (j <- Mid + 1 to L; k <- 1 to math.min(3, j))
        yield (j - k + 1, k)).distinct.sorted

    /** First DP half: cost pivot + levels 1..Mid, ending at the
      * fragment boundary (w, f, b/k state of levels Mid-2..Mid, the
      * carry-forward cost columns). */
    def dpSqlHalf1(duck: Boolean, r: Int, wf: String, vTab: String): String = {
      // the cost table rides INSIDE this statement's WITH (referenced
      // once, by the pivot join) instead of being its own materialized
      // stage: at ~64 rows its value is nil and its per-statement
      // dispatch constant is not (r12 stage timing, BASELINE.md)
      val cTab = s"ct$r"
      val costCte = s"$cTab AS (\n${costSql(vTab)})"
      val positions =
        if (duck)
          s"""ps$r AS (SELECT w, i, k, substr(w, i, k) AS piece
             |  FROM $wf, unnest(range(1, len(w) + 1)) AS u(i),
             |       unnest([1, 2, 3]) AS q(k)
             |  WHERE i + k - 1 <= len(w))""".stripMargin
        else
          s"""ps$r AS (SELECT w, i, k, substr(w, i, k) AS piece
             |  FROM $wf
             |  LATERAL VIEW explode(sequence(1, length(w))) ui AS i
             |  LATERAL VIEW explode(sequence(1, 3)) uk AS k
             |  WHERE i + k - 1 <= length(w))""".stripMargin
      val pivotCols = slots.map { case (i, k) =>
        s"max(CASE WHEN i = $i AND k = $k THEN cost END) AS c_${i}_$k"
      }.mkString(",\n    ")
      val pivot =
        s"""pv$r AS (SELECT ps$r.w,
           |    $pivotCols
           |  FROM ps$r LEFT JOIN $cTab ON $cTab.piece = ps$r.piece
           |  GROUP BY ps$r.w)""".stripMargin
      val costCols = slots.map { case (i, k) => s"pv$r.c_${i}_$k" }
        .mkString(", ")
      val d0 =
        s"""d${r}_0 AS (SELECT f0.w, f0.f, CAST(0 AS BIGINT) AS b0,
           |    $costCols
           |  FROM $wf AS f0 JOIN pv$r ON f0.w = pv$r.w)""".stripMargin
      val levels = (1 to Mid).map(j => levelCte(duck, r, j))
      // the boundary carries only what the second half consumes:
      // level j reads b_{j-k} and c_{j-k+1}_k, the final output k1..kL
      val keptB = (Mid - 2 to Mid).map(p => s"b$p").mkString(", ")
      val keptK = (1 to Mid).map(p => s"k$p").mkString(", ")
      val keptC = carrySlots.map { case (i, k) => s"c_${i}_$k" }
        .mkString(", ")
      s"WITH ${(Seq(costCte, positions, pivot, d0) ++ levels)
        .mkString(",\n")}\n" +
        s"SELECT w, f, $keptB, $keptK, $keptC FROM d${r}_$Mid"
    }

    /** Second DP half over the materialized boundary `half1`: levels
      * Mid+1..L, ending at (w, f, k1..kL) — the backtrack's input. */
    def dpSqlHalf2(duck: Boolean, r: Int, half1: String): String = {
      val bridge = s"d${r}_$Mid AS (SELECT * FROM $half1)"
      val levels = (Mid + 1 to L).map(j => levelCte(duck, r, j))
      // the backtrack half needs only (w, f, k1..k10): dropping the
      // cost/enc/b columns at the fragment boundary halves the width
      // the second half's codegen carries
      val kept = (1 to L).map(p => s"k$p").mkString(", ")
      s"WITH ${(Seq(bridge) ++ levels).mkString(",\n")}\n" +
        s"SELECT w, f, $kept FROM d${r}_$L"
    }

    /** Backtrack half of round `r` over [[dpSqlHalf2]]'s output `dTab`. */
    def btSql(duck: Boolean, r: Int, dTab: String): String = {
      val ln = len(duck)
      val bt0 = s"bt${r}_0 AS (SELECT w, f, " +
        (1 to L).map(p => s"k$p").mkString(", ") +
        s", $ln(w) AS pos0 FROM $dTab)"
      val bts = (1 to L).map { i =>
        val kcase = (1 to L).map(p => s"WHEN $p THEN b.k$p").mkString(" ")
        s"""bt${r}_$i AS (
           |  SELECT q.*,
           |    CASE WHEN q.pos${i - 1} >= 1
           |      THEN substr(q.w, q.pos${i - 1} - q.kk$i + 1, q.kk$i)
           |      END AS piece$i,
           |    q.pos${i - 1} - coalesce(q.kk$i, 0) AS pos$i
           |  FROM (
           |    SELECT b.*, CASE WHEN b.pos${i - 1} >= 1
           |      THEN CASE b.pos${i - 1} $kcase END END AS kk$i
           |    FROM bt${r}_${i - 1} AS b
           |  ) AS q)""".stripMargin
      }
      val pieces = (1 to L).map(i => s"piece$i").mkString(", ")
      val flat =
        if (duck) s"unnest(list_value($pieces))"
        else s"explode(array($pieces))"
      s"WITH ${(Seq(bt0) ++ bts).mkString(",\n")}\n" +
        s"""SELECT piece, CAST(sum(f) AS BIGINT) AS usage
           |FROM (SELECT f, $flat AS piece FROM bt${r}_$L) z
           |WHERE piece IS NOT NULL GROUP BY piece""".stripMargin
    }

    /** EM refresh: add-one-smoothed usage becomes the next round's
      * count table (full vocabulary retained — coverage survives). */
    def refreshSql(v1: String, u1: String): String =
      s"""SELECT $v1.piece, coalesce($u1.usage, 0) + 1 AS cnt
         |FROM $v1 LEFT JOIN $u1 ON $v1.piece = $u1.piece""".stripMargin

    def finalSql(v1: String, u1: String, u2: String): String =
      s"""SELECT CAST(rank AS INT) AS rank, piece, usage_r1, usage_r2
         |FROM (
         |  SELECT $v1.piece,
         |    CAST(coalesce($u1.usage, 0) AS BIGINT) AS usage_r1,
         |    CAST(coalesce($u2.usage, 0) AS BIGINT) AS usage_r2,
         |    row_number() OVER (ORDER BY coalesce($u2.usage, 0) DESC,
         |      $v1.piece) AS rank
         |  FROM $v1 LEFT JOIN $u1 ON $v1.piece = $u1.piece
         |    LEFT JOIN $u2 ON $v1.piece = $u2.piece) z
         |WHERE rank <= 20 ORDER BY rank""".stripMargin

    /** The DuckDB oracle: the SAME fragments nested as CTEs under the
      * SAME names the Spark side binds as views. */
    def duckOracle: String = {
      val frags = Seq(
        "g250_wf" -> wordsSql(duck = true),
        "g250_v1" -> vocabSql(duck = true, "g250_wf"),
        "g250_d1a" -> dpSqlHalf1(duck = true, 1, "g250_wf", "g250_v1"),
        "g250_d1" -> dpSqlHalf2(duck = true, 1, "g250_d1a"),
        "g250_u1" -> btSql(duck = true, 1, "g250_d1"),
        "g250_v2" -> refreshSql("g250_v1", "g250_u1"),
        "g250_d2a" -> dpSqlHalf1(duck = true, 2, "g250_wf", "g250_v2"),
        "g250_d2" -> dpSqlHalf2(duck = true, 2, "g250_d2a"),
        "g250_u2" -> btSql(duck = true, 2, "g250_d2"))
      "WITH " + frags.map { case (n, s) => s"$n AS (\n$s)" }
        .mkString(",\n") + "\n" +
        finalSql("g250_v1", "g250_u1", "g250_u2")
    }

    /** The Spark side: each stage materializes as a checkpointed view
      * (vocabulary-sized frames), so the 30 cost lookups per round
      * reference a LogicalRDD instead of re-inlining the corpus
      * pipeline, and each statement's plan stays shallow. */
    def run(spark: org.apache.spark.sql.SparkSession)
        : org.apache.spark.sql.DataFrame = {
      val keys = Seq("spark.sql.analyzer.maxIterations",
        "spark.sql.optimizer.maxIterations",
        "spark.sql.constraintPropagation.enabled")
      val prev = keys.map(k => k -> spark.conf.getOption(k))
      keys.take(2).foreach(k => spark.conf.set(k, "1000"))
      // constraint propagation is quadratic-ish in projection width ×
      // plan depth; on the unrolled 10-level DP statements it is pure
      // planner cost (constraints only feed optimizations these
      // integer-projection chains don't take) — r16-opt measured the
      // whole entry's driver gap at 5.7 s of Catalyst with it on
      spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
      val t0 = System.nanoTime()
      def mark(s: String): Unit =
        if (sys.env.contains("GRAFT_Q250_TIMING"))
          System.err.println(f"[q250] $s at ${(System.nanoTime() - t0) / 1e9}%.2f s")
      try {
        checkpointView(spark, "g250_wf", spark.sql(wordsSql(duck = false)))
        mark("wf")
        checkpointView(spark, "g250_v1",
          spark.sql(vocabSql(duck = false, "g250_wf")))
        mark("v1")
        checkpointView(spark, "g250_d1a",
          spark.sql(dpSqlHalf1(duck = false, 1, "g250_wf", "g250_v1")))
        mark("d1a")
        checkpointView(spark, "g250_d1",
          spark.sql(dpSqlHalf2(duck = false, 1, "g250_d1a")))
        mark("d1")
        checkpointView(spark, "g250_u1",
          spark.sql(btSql(duck = false, 1, "g250_d1")))
        mark("u1")
        checkpointView(spark, "g250_v2",
          spark.sql(refreshSql("g250_v1", "g250_u1")))
        checkpointView(spark, "g250_d2a",
          spark.sql(dpSqlHalf1(duck = false, 2, "g250_wf", "g250_v2")))
        mark("d2a")
        checkpointView(spark, "g250_d2",
          spark.sql(dpSqlHalf2(duck = false, 2, "g250_d2a")))
        mark("d2")
        checkpointView(spark, "g250_u2",
          spark.sql(btSql(duck = false, 2, "g250_d2")))
        mark("u2")
        spark.sql(finalSql("g250_v1", "g250_u1", "g250_u2"))
          .localCheckpoint()
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** `seedWords` (q267): extra ZERO-FREQUENCY words unioned into the
    * base word table so the trained merges also rewrite out-of-corpus
    * words (a prompt template's) — f=0 contributes nothing to any pair
    * count, so the merge SEQUENCE is bit-identical to the unseeded
    * chain; consumers joining per-word symbol counts must GROUP BY w
    * (a seed duplicating a corpus word yields two identical-seq rows). */
  private def bpeChainCtes(numMerges: Int,
      withSymbolCounts: Boolean,
      seedWords: Seq[String] = Nil): String = {
    val seedUnion =
      if (seedWords.isEmpty) ""
      else seedWords.map(w => s"('${w.replace("'", "''")}', 0)")
        .mkString("\n        UNION ALL SELECT * FROM (VALUES ",
          ", ", ") s(w, f)")
    val base =
      s"""w0 AS (
        |  SELECT w, ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g'))
        |      || ' ' AS seq, f
        |  FROM (SELECT t AS w, count(*) AS f
        |        FROM (SELECT unnest(string_split_regex(
        |            trim(lower(text)), '\\s+')) AS t FROM documents) q
        |        WHERE length(t) >= 1 GROUP BY t$seedUnion) wc)""".stripMargin
    val steps = (1 to numMerges).map { k =>
      val core =
        s"""p$k AS (
           |  SELECT l[i] AS lt, l[i+1] AS rt, CAST(sum(f) AS BIGINT) AS cnt
           |  FROM (SELECT string_split(trim(seq), '  ') AS l, f
           |        FROM w${k - 1}) t,
           |       unnest(range(1, len(l))) AS u(i)
           |  GROUP BY 1, 2),
           |b$k AS (SELECT lt, rt, cnt FROM p$k
           |  ORDER BY cnt DESC, lt, rt LIMIT 1),
           |w$k AS (SELECT w, replace(seq,
           |    ' ' || lt || '  ' || rt || ' ',
           |    ' ' || lt || rt || ' ') AS seq, f
           |  FROM w${k - 1} CROSS JOIN b$k)""".stripMargin
      if (!withSymbolCounts) core else core + ",\n" +
        s"""v$k AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS n_symbols
           |  FROM (SELECT unnest(string_split(trim(seq), '  ')) AS s
           |        FROM w$k) q)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  private def bpeTrainOracle(numMerges: Int): String = {
    val rows = (1 to numMerges).map { k =>
      s"""SELECT $k AS step, lt, rt, lt || rt AS merged, cnt,
         |  (SELECT n_symbols FROM v$k) AS n_symbols FROM b$k""".stripMargin
    }
    "WITH " + bpeChainCtes(numMerges, withSymbolCounts = true) + "\n" +
      rows.mkString("", "\nUNION ALL\n", "\nORDER BY step")
  }

  /** Oracle for q236: tokenize every document under the TRAINED merge
    * list — per word, the subword count is the final chain state's
    * symbol count for that word (BPE never crosses word boundaries),
    * so a doc's count is one join against w_n. */
  private def bpeTokenizeOracle(numMerges: Int): String =
    "WITH " + bpeChainCtes(numMerges, withSymbolCounts = false) + s""",
       |dw AS (
       |  SELECT doc_id, unnest(string_split_regex(
       |    trim(lower(text)), '\\s+')) AS w FROM documents),
       |wl AS (SELECT w,
       |    CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n
       |  FROM w$numMerges)
       |SELECT dw.doc_id,
       |  CAST(coalesce(sum(wl.n), count(*)) AS BIGINT)
       |    AS subword_tokens,
       |  CAST(count(*) AS BIGINT) AS ws_tokens
       |FROM dw LEFT JOIN wl ON dw.w = wl.w
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin

  /** q267's fixed prompt shape: the duckdbinst formatter over a small
    * constant schema, question = the document text. Everything but the
    * question is a driver-side constant, so the DuckDB oracle renders
    * the same prompt as `'<prefix>' || text || '<suffix>'` and the
    * template's words are enumerable for zero-frequency seeding. */
  private object PromptTelemetry {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val tables: Seq[(String, StructType)] = Seq("documents" ->
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    val (prefix, suffix) = PromptOps.promptParts("duckdbinst",
      PromptOps.formatAllTables(tables),
      PromptOps.formatContext("duckdbinst", Nil))
    /** Distinct whitespace-split lowercase template words — exactly the
      * prompt words that are NOT document words (the prefix ends and
      * the suffix starts with whitespace, so no word fuses with the
      * text at either junction). */
    val seedWords: Seq[String] = (prefix + " " + suffix)
      .toLowerCase.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    val budgets: Seq[Int] = Seq(512, 2048)
  }

  /** Oracle for q267: re-train the q235 chain with the template words
    * seeded at f=0, render the same prompts literally, and count each
    * prompt's subword tokens by one word-level join against the final
    * chain state (GROUP BY w because a seed may duplicate a corpus
    * word — identical seq either way). */
  private def promptOverflowOracle(numMerges: Int): String = {
    def q(s: String) = s.replace("'", "''")
    val budgets = PromptTelemetry.budgets.mkString(", ")
    "WITH " + bpeChainCtes(numMerges, withSymbolCounts = false,
      seedWords = PromptTelemetry.seedWords) + s""",
       |pr AS (SELECT doc_id,
       |    '${q(PromptTelemetry.prefix)}' || text ||
       |    '${q(PromptTelemetry.suffix)}' AS prompt FROM documents),
       |pw AS (SELECT doc_id, unnest(string_split_regex(
       |    trim(lower(prompt)), '\\s+')) AS w FROM pr),
       |wl AS (SELECT w,
       |    CAST(min(len(string_split(trim(seq), '  '))) AS BIGINT) AS n
       |  FROM w$numMerges GROUP BY w),
       |pt AS (SELECT pw.doc_id, CAST(sum(wl.n) AS BIGINT) AS toks
       |  FROM pw JOIN wl ON pw.w = wl.w GROUP BY pw.doc_id)
       |SELECT CAST(budget AS BIGINT) AS budget,
       |  CAST(count(*) AS BIGINT) AS n_prompts,
       |  CAST(sum(toks) AS BIGINT) AS total_tokens,
       |  CAST(max(toks) AS BIGINT) AS max_tokens,
       |  CAST(sum(CASE WHEN toks > budget THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_overflow,
       |  round(CAST(sum(CASE WHEN toks > budget THEN 1 ELSE 0 END)
       |      AS DOUBLE) / count(*), 6) AS overflow_frac
       |FROM pt, (SELECT unnest([$budgets]) AS budget) b
       |GROUP BY budget ORDER BY budget""".stripMargin
  }

  /** DuckDB-side portable 32-bit SimHash over a token list column `tk`
    * (same bits as [[graft.functions.GraftHash.simhashMd5]]): for bit j,
    * the vote is the MSB of hex nibble j of each token's md5 — char
    * `>= '8'` ⇔ nibble in [8, 15] — and the bit is set when the vote sum
    * is strictly positive, matching the kernel's `counts(j) > 0`.
    * GENERATED 32-term SQL so kernel and oracle share one definition. */
  private val duckSimhashMd5: String = {
    val terms = (0 until 32).map { j =>
      s"""CASE WHEN sum(CASE WHEN substr(md5(t), ${j + 1}, 1) >= '8'
         |  THEN 1 ELSE -1 END) > 0 THEN ${1L << j} ELSE 0 END"""
        .stripMargin
    }.mkString(" +\n    ")
    s"(SELECT $terms\n   FROM (SELECT unnest(tk) AS t) z)"
  }

  /** Membership test for BIT j of an md5 digest read from its hex
    * string (r16): nibble j/4, within-nibble bit 3-(j%4) — each bit is
    * a fixed 8-char set over the hex alphabet (the MSB is the existing
    * `>= '8'` trick). The portable dual of
    * GraftHash.simhashMd5Wide's digest-bit extraction. */
  private def md5BitCond(j: Int): String = {
    val ch = s"substr(md5(t), ${j / 4 + 1}, 1)"
    (3 - (j % 4)) match {
      case 3 => s"$ch >= '8'"
      case 2 => s"$ch IN ('4','5','6','7','c','d','e','f')"
      case 1 => s"$ch IN ('2','3','6','7','a','b','e','f')"
      case _ => s"$ch IN ('1','3','5','7','9','b','d','f')"
    }
  }

  /** One 32-bit HALF of the 64-bit portable signature (r16): majority
    * votes of md5 digest bits [lo, lo+32). The oracle keeps the halves
    * separate (two 32-bit BIGINTs) so no term ever renders the
    * unrepresentable 1<<63 literal; Hamming distance is the sum of the
    * halves' bit_counts, identical to the packed 64-bit form. */
  private def duckSimhashMd5Bits(lo: Int): String = {
    val terms = (0 until 32).map { k =>
      s"""CASE WHEN sum(CASE WHEN ${md5BitCond(lo + k)}
         |  THEN 1 ELSE -1 END) > 0 THEN ${1L << k} ELSE 0 END"""
        .stripMargin
    }.mkString(" +\n    ")
    s"(SELECT $terms\n   FROM (SELECT unnest(tk) AS t) z)"
  }

  /** Hex-nibble split buckets (first md5 nibble: 12/2/2 of 16) — ONE
    * definition interpolated by q63, q64 and q69 so the split can never
    * silently diverge between the splitter, the contamination check and
    * the pipeline. */
  /** Materializes `df` once (localCheckpoint) and binds it as temp view
    * `name` — the fix for multiply-referenced CTEs wrapping an
    * aggregate, where filter pushdown/column pruning makes the inlined
    * branch subplans non-canonical so exchange reuse never fires and
    * each consumer re-runs the whole upstream pipeline. The blocks of
    * the PREVIOUS checkpoint bound to the same (session, name) are
    * released first: bench/verify invoke entries repeatedly in one
    * session, and without the release each pass would stack storage
    * blocks until the old plans happen to be GC'd. */
  // weak session keys: reference-identity (no cross-session hash
  // collisions) and entries for stopped sessions evict with the session
  private val ckpts = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[
        String, org.apache.spark.rdd.RDD[_]]]())
  /** Binds an ALREADY-materialized (LogicalRDD-backed) frame as `name`,
    * releasing the previous checkpoint bound to that (session, name). */
  private[graft] def bindCheckpointView(
      spark: org.apache.spark.sql.SparkSession,
      name: String, ck: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rdd = ck.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.orNull
    val perSession = ckpts.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[
        String, org.apache.spark.rdd.RDD[_]]())
    val prev =
      if (rdd == null) perSession.remove(name)
      else perSession.put(name, rdd)
    if (prev != null && (prev ne rdd)) scala.util.Try(prev.unpersist(false))
    ck.createOrReplaceTempView(name)
    ck
  }
  private def checkpointView(spark: org.apache.spark.sql.SparkSession,
      name: String, df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bindCheckpointView(spark, name, df.localCheckpoint())

  /** Shared recall-oracle scaffolding for the ANN entries (q46/q66):
    * materializes the ANN result under `dir`, then scores per-query
    * overlap against the exact top-5 (q45's contract). The handoff is
    * guarded twice: rows go into a subdirectory KEYED by a corpus
    * fingerprint (xor of per-vec_id md5-nibble hashes — the portable
    * hash both engines compute identically), and carry that tag plus
    * the row count as columns. Concurrent runs against different
    * corpora therefore write different subdirs (no clobber), and the
    * oracle's glob + `corpus_tag`/`n_corpus` filter drops any stale
    * subdir from another corpus — two datasets with the same embedding
    * COUNT but different ids no longer collide (a same-tag leftover is
    * byte-identical by determinism of the seeded ANN paths). A
    * mismatch empties the result and fails LOUDLY. The exact baseline
    * is corpus state (deterministic per sf dir), so it is cached once
    * per session+dir like q135's edge list rather than re-running the
    * brute-force scan on every invocation. */
  private def annRecall(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, ann: org.apache.spark.sql.DataFrame,
      dir: String): org.apache.spark.sql.DataFrame = {
    val emb = spark.table("embeddings")
    val nCorpus = emb.count()
    // bit_xor, not sum: a sum of 48-bit hashes wraps signed 64-bit
    // around ~65k vectors (silently on the Spark side only, so the
    // engines' tags would diverge and drop every row); xor is
    // order-independent and never overflows.
    val tag = emb.agg(expr(
        "bit_xor(CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 12),"
          + " 16, 10) AS BIGINT))"))
      .first.getLong(0)
    // Atomic handoff protocol (r9): the DuckDB oracle globs
    // `$dir/*/*.parquet` from ANOTHER process, so a t<tag> dir must
    // only ever appear COMPLETE — an in-place overwrite deletes the
    // old file set first and a mid-overwrite glob sees a partial one.
    // Rows are therefore staged in a run-unique dir OUTSIDE the glob
    // root (`${dir}_tmp`, which the oracle's glob never matches) and
    // the whole dir is renamed into place only if no same-tag dir
    // exists yet; directory rename on the local fs is one syscall, so
    // the oracle observes either no dir or a complete one. Losing the
    // rename race (or finding an existing t<tag>) is a no-op — the tag
    // fingerprints the corpus, and the seeded ANN paths are
    // deterministic, so a same-tag dir is row-identical; the staging
    // copy is just dropped.
    val destP = new org.apache.hadoop.fs.Path(dir, s"t$tag")
    val stagingRoot = new org.apache.hadoop.fs.Path(dir + "_tmp")
    val stagingP = new org.apache.hadoop.fs.Path(
      stagingRoot, s"t$tag-${SystemQueries.runToken}")
    ann.withColumn("n_corpus", lit(nCorpus))
      .withColumn("corpus_tag", lit(tag))
      .write.mode("overwrite").parquet(stagingP.toString)
    val sfs = destP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    sfs.mkdirs(destP.getParent)
    if (sfs.exists(destP) || !sfs.rename(stagingP, destP))
      sfs.delete(stagingP, true)
    // exists-then-rename can interleave with another process's rename:
    // Hadoop rename onto an existing dir moves the source INSIDE it.
    // The nested leftover sits at depth 3 (never globbed by the
    // oracle's 2-level pattern) but would confuse Spark's reader —
    // sweep it.
    val nested = new org.apache.hadoop.fs.Path(destP, stagingP.getName)
    if (sfs.exists(nested)) sfs.delete(nested, true)
    // prune staging leftovers from crashed runs, age-gated like the
    // sibling-tag prune below
    val stagingCutoff = System.currentTimeMillis() - 6L * 60 * 60 * 1000
    if (sfs.exists(stagingRoot)) sfs.listStatus(stagingRoot).foreach { st =>
      if (st.getPath.getName != stagingP.getName &&
        st.getModificationTime < stagingCutoff) sfs.delete(st.getPath, true)
    }
    // prune sibling tag dirs: each distinct corpus (sf dir) writes its
    // own t<tag> subdir, and without this the fixed handoff root grows
    // one orphan per corpus ever benched. The root must stay FIXED (the
    // DuckDB oracle is static SQL globbing this exact path from another
    // process), so a per-session temp root isn't an option; instead the
    // prune is age-gated — only dirs untouched for six hours go, so a
    // concurrent bench's live handoff is never a casualty even when a
    // long interleaved pass re-reads a dir written at pass start (the
    // cutoff sits well past any observed whole-bench duration, ~10 min
    // at sf1; one hour was uncomfortably close to a worst-case slow
    // pass under co-tenant load). Stale old dirs are ignorable anyway
    // (the oracle's corpus_tag filter drops them); this just bounds
    // disk growth.
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - 6L * 60 * 60 * 1000
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("t") && n != s"t$tag" &&
        st.getModificationTime < cutoff) fs.delete(st.getPath, true)
    }
    val view = "graft_knn_exact"
    if (!spark.catalog.tableExists(view) ||
        !spark.conf.getOption("graft.knn.built").contains(sfDir)) {
      if (spark.catalog.tableExists(view)) {
        spark.table(view).unpersist()
        spark.catalog.dropTempView(view)
      }
      EmbeddingOps.knnBruteForce(emb, emb.where(col("vec_id") < 50),
          "vec_id", "embedding", k = 5)
        .select(col("qid"), col("id"), lit(1).as("hit"))
        .cache().createOrReplaceTempView(view)
      spark.conf.set("graft.knn.built", sfDir)
    }
    spark.read.parquet(s"$dir/t$tag").where(col("n_corpus") === nCorpus)
      .join(spark.table(view), Seq("qid", "id"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_ann"),
        coalesce(sum("hit"), lit(0)).cast("long").as("n_hit"))
      .orderBy("qid")
  }

  private val trainNibbleSeq: Seq[String] =
    Seq("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b")
  private val valNibbleSeq: Seq[String] = Seq("c", "d")
  private val trainNibbles = trainNibbleSeq.mkString("('", "','", "')")
  private val valNibbles = valNibbleSeq.mkString("('", "','", "')")

  /** Normalized-embedding CTE shared by the q44/q45/q65 oracles: casts
    * to DOUBLE[] so DuckDB folds products in double precision like the
    * fused Spark kernels (float-precision products diverge in the last
    * ulp and break 6-dp hash matching — the round-1 q65 failure). */
  private val duckNormEmbeddings =
    """(SELECT vec_id,
      |    CAST(embedding AS DOUBLE[]) AS embedding,
      |    sqrt((SELECT sum(x*x) FROM
      |      (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x) z)) AS nrm
      |  FROM embeddings)""".stripMargin

  /** Spark-side construction of the boundary-clustered probe-gate
    * corpus (the [[duckProbeGateVec]] mirror): 16-dim axis clusters
    * keyed on vec_id with ±0.19 jitter exact in float AND double.
    * Shared by q185 (multi-probe exactness), q193 (incremental IVF)
    * and q209 (PQ) — each pins a different ANN path to the same
    * independently derived exact answer. */
  private def probeGateCorpus(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame =
    spark.table("embeddings").select(col("vec_id"),
      array((0 until 16).map { i =>
        ((when(pmod(col("vec_id"), lit(16)) === i, 1.0).otherwise(0.0)) +
          (pmod(pmod(col("vec_id"), lit(16)) * 131 +
            expr("vec_id div 16") * 37 + lit(i * 101), lit(257)) - 128) *
            lit(6.0) / lit(4096.0)).cast("float")
      }: _*).as("embedding"))

  /** DuckDB-side construction of q185's boundary-clustered probe-gate
    * corpus: element i of the 16-dim vector for `vec_id`. Mirrors the
    * Spark-side expression exactly; every term is a small integer over
    * 2^12, so DOUBLE here equals Spark's FLOAT bit-for-bit. */
  private val duckProbeGateVec: String = (0 until 16).map(i =>
    s"(CASE WHEN vec_id % 16 = $i THEN 1.0 ELSE 0.0 END + " +
      s"(((vec_id % 16) * 131 + (vec_id // 16) * 37 + ${i * 101}) " +
      "% 257 - 128) * 6.0 / 4096.0)")
    .mkString("[", ", ", "]")

  /** DuckDB-side normalization fingerprint ([[TextOps.normFingerprint]]);
    * shared by q50 and q69. */
  /** HTML fixture (tools/gen_html_fixture.py): generated pages plus the
    * html.parser-stack expected extraction — q197/q198's oracle. */
  private val HtmlFix = "/root/repo/fixtures/html/htmldocs.parquet"

  private val duckFingerprint =
    """md5(regexp_replace(regexp_replace(lower(text),
      |  '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))""".stripMargin

  val all: Seq[(String, Spec)] = Seq(

    // Exact dedup: hash-groupBy on the content digest, keep first doc.
    // One shuffle on the digest — the canonical dedup at any scale.
    "q40_dedup_exact" -> same(
      """SELECT doc_id, md5(text) AS digest FROM (
        |  SELECT doc_id, text,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // Blocked exact n-gram Jaccard: quadratic only within (lang, source)
    // blocks — the classic blocking strategy when a natural key exists.
    "q41_dedup_jaccard_blocked" -> api((spark, _) => {
      val d = spark.table("documents").select(col("doc_id"),
        col("lang"), col("source"),
        TextOps.wordShingles(col("text"), 3).as("sh"))
      d.as("a").join(d.as("b"),
          col("a.lang") === col("b.lang") &&
            col("a.source") === col("b.source") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          GraftFunctions.duckRound(TextOps.jaccard(col("a.sh"), col("b.sh")), 6).as("jac"))
        .where(col("jac") >= 0.5)
        .orderBy("id_a", "id_b")
    },
      s"""WITH d AS (SELECT doc_id, lang, source, $duckShingles AS sh
         |  FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round($duckJaccard, 6) AS jac
         |FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
         |  AND a.doc_id < b.doc_id
         |WHERE round($duckJaccard, 6) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),

    // MinHash+LSH near-dup detection, exact-Jaccard verified. The oracle
    // is the full exact pairwise answer: with 32 bands × 2 rows recall at
    // j>=0.5 is >0.999, and the verification step removes false positives,
    // so LSH output == exact output on real data (checked at both SFs).
    "q42_dedup_minhash" -> api((spark, _) =>
      TextOps.minhashDupPairs(spark.table("documents"), "doc_id", "text",
          threshold = 0.5)
        .select(col("id_a"), col("id_b"), GraftFunctions.duckRound(col("jac"), 6).as("jac"))
        .orderBy("id_a", "id_b"),
      s"""WITH d AS (SELECT doc_id, $duckShingles AS sh FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round($duckJaccard, 6) AS jac
         |FROM d a JOIN d b ON a.doc_id < b.doc_id
         |WHERE round($duckJaccard, 6) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
      headline = true),

    // Incremental ingest dedup: a new batch (doc_id < 25 stands in for
    // the day's arrivals) against the standing corpus. Oracle = exact
    // batch×corpus pairwise Jaccard (cheap: |batch| × |corpus|, not
    // corpus²). LSH recall at j>=0.5 with 32×2 bands is >0.999 and
    // verification removes false positives, so LSH output == exact.
    "q70_dedup_incremental" -> api((spark, _) => {
      val d = spark.table("documents")
      TextOps.minhashDupAgainst(
          d.where(col("doc_id") >= 25), d.where(col("doc_id") < 25),
          "doc_id", "text", threshold = 0.5)
        .select(col("batch_id"), col("corpus_id"),
          GraftFunctions.duckRound(col("jac"), 6).as("jac"))
        .orderBy("batch_id", "corpus_id")
    },
      s"""WITH d AS (SELECT doc_id, $duckShingles AS sh FROM documents)
         |SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
         |  round($duckJaccard, 6) AS jac
         |FROM d a JOIN d b ON a.doc_id < 25 AND b.doc_id >= 25
         |WHERE round($duckJaccard, 6) >= 0.5
         |ORDER BY batch_id, corpus_id""".stripMargin),

    // Incremental EXACT dedup against a standing index through a
    // Bloom-filter prefilter (TextOps.bloomNewDocs): the seen side's
    // fingerprints aggregate into one model-sized sketch
    // (BloomFilterAggregate — Spark's own runtime-filter machinery used
    // explicitly); a map-only mightContain pass lets definitely-new rows
    // BYPASS the anti-join shuffle (no false negatives), and only the
    // candidate sliver pays the exact confirm. Output == the plain
    // anti-join, which is what the oracle computes — so the gate pins
    // the no-false-negative property end to end. The key is the
    // LEAD-content fingerprint (normalized first-50-chars md5): the
    // corpus's near-dup mechanism preserves leads, so the split carries
    // real cross-side dups at every sf (11/12/116 dropped at
    // sf0.001/0.01/0.1) — full-text fingerprints find zero and would
    // make the entry vacuous.
    "q188_bloom_dedup" -> api((spark, _) => {
      // fingerprint materialized ONCE (the warehouse analogue: a
      // persisted column computed at ingest) — the operator's plan
      // reads the incoming side in both branches plus the seen side in
      // the sketch subquery and the confirm join, and without the
      // checkpoint each consumer re-runs the normalization kernel over
      // the corpus
      val d = checkpointView(spark, "graft_q188_fp",
        spark.table("documents").select(col("doc_id"),
          TextOps.leadFingerprint(col("text"), 50).as("fp")))
      TextOps.bloomNewDocs(
          incoming = d.where(pmod(col("doc_id"), lit(2)) === 1),
          seen = d.where(pmod(col("doc_id"), lit(2)) === 0),
          fpCol = "fp",
          expectedItems = 1L << 16, numBits = 1L << 19)
        .orderBy("doc_id")
    },
      s"""WITH f AS (SELECT doc_id,
        |    md5(substring(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'), 1, 50)) AS fp
        |  FROM documents),
        |s AS (SELECT fp FROM f WHERE doc_id % 2 = 0),
        |i AS (SELECT fp, doc_id FROM f WHERE doc_id % 2 = 1)
        |SELECT fp, doc_id FROM i
        |WHERE fp NOT IN (SELECT fp FROM s)
        |ORDER BY doc_id""".stripMargin,
      headline = true),

    // SimHash near-dups, value-checked end to end: the portable
    // md5-nibble signature (q103's family) makes the banding + exact-
    // Hamming-verify pipeline reproducible in DuckDB, so the oracle is
    // the full quadratic pairwise check. Budget 2 → 3-chunk banding
    // (uneven 10/10/12-bit chunks), a different pigeonhole split than
    // q104's 4×8 — both must be algebraically invisible. The xxHash64
    // in-engine variant stays covered by TextOpsSpec planted-dup recall.
    "q43_dedup_simhash" -> api((spark, _) =>
      TextOps.simhashMd5DupPairs(spark.table("documents"), "doc_id",
          "text", maxHamming = 2)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b"),
      s"""WITH s AS (
         |  SELECT doc_id, $duckSimhashMd5 AS sig
         |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 2
         |ORDER BY id_a, id_b""".stripMargin),

    // All-pairs embedding similarity, top-10 — the exact baseline the ANN
    // path is measured against (quadratic: small data / oracle use only).
    "q44_embed_top_pairs" -> api((spark, _) =>
      EmbeddingOps.nearestPairs(spark.table("embeddings"), "vec_id",
        "embedding", 10),
      s"""WITH n AS $duckNormEmbeddings,
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round((SELECT sum(x*y) FROM
        |        (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y)
        |        z) / (a.nrm * b.nrm), 6) AS cos
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos FROM p
        |ORDER BY cos DESC, id_a, id_b LIMIT 10""".stripMargin),

    // Exact kNN: broadcast query batch, one corpus pass, per-query top-5.
    "q45_knn_brute" -> api((spark, _) => {
      val emb = spark.table("embeddings")
      EmbeddingOps.knnBruteForce(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5).orderBy("qid", "rn")
    },
      s"""WITH n AS $duckNormEmbeddings,
        |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n
        |  WHERE vec_id < 10),
        |p AS (SELECT q.qid, n.vec_id AS id,
        |    round((SELECT sum(x*y) FROM
        |        (SELECT unnest(q.qe) AS x, unnest(n.embedding) AS y) z)
        |      / (q.qn * n.nrm), 6) AS cos
        |  FROM n, q WHERE n.vec_id <> q.qid),
        |r AS (SELECT qid, id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id)
        |      AS rn
        |  FROM p)
        |SELECT qid, id, cos, rn FROM r WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin,
      headline = true),

    // ANN via cosine-LSH buckets, oracle-checked recall accounting: the
    // hash family is engine-specific, so the ANN rows themselves can't
    // be re-derived in DuckDB — instead the ANN result is materialized
    // and BOTH engines join it against their own exact top-5 (q45's
    // contract, proven equal) and count per-query overlap. This value-
    // checks the evaluation the reference's retriever runs against
    // exact top-n (eval/doc_retriever.py:78-94); EmbeddingOpsSpec still
    // asserts the recall floor.
    "q46_knn_ann_lsh" -> api((spark, sfDir) => {
      val emb = spark.table("embeddings")
      // probes=3 (multi-probe): on THIS corpus — near-uniform random
      // vectors, median pairwise cosine ~0 — recall for ANY bucketed
      // ANN is bounded by the corpus fraction scanned (measured r7:
      // 0.14 @ probes=1, 0.38 @ probes=3, at equal-or-lower latency;
      // IVF nprobe=6/16 → 0.71 ≈ its scanned fraction). The primitive
      // is value-checked where structure exists (EmbeddingOpsSpec
      // multi-probe test: 0.82 → 1.00 on boundary-jittered clusters).
      annRecall(spark, sfDir,
        EmbeddingOps.annLsh(emb, emb.where(col("vec_id") < 50),
          "vec_id", "embedding", k = 5, bits = 4, probes = 3),
        "/tmp/graft_ann_lsh")
    },
      s"""WITH n AS $duckNormEmbeddings,
        |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n
        |  WHERE vec_id < 50),
        |p AS (SELECT q.qid, n.vec_id AS id,
        |    round((SELECT sum(x*y) FROM
        |        (SELECT unnest(q.qe) AS x, unnest(n.embedding) AS y) z)
        |      / (q.qn * n.nrm), 6) AS cos
        |  FROM n, q WHERE n.vec_id <> q.qid),
        |r AS (SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id)
        |      AS rn
        |  FROM p),
        |e AS (SELECT qid, id FROM r WHERE rn <= 5),
        |ann AS (SELECT qid, id
        |        FROM read_parquet('/tmp/graft_ann_lsh/*/*.parquet')
        |        WHERE n_corpus = (SELECT count(*) FROM embeddings)
        |          AND corpus_tag = (SELECT bit_xor(('0x' ||
        |            substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT)
        |            FROM embeddings))
        |SELECT a.qid, count(*) AS n_ann,
        |  CAST(sum(CASE WHEN e.id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit
        |FROM ann a LEFT JOIN e ON a.qid = e.qid AND a.id = e.id
        |GROUP BY a.qid ORDER BY a.qid""".stripMargin,
      headline = true),

    // Multi-probe ANN pinned to the EXACT answer: q46's oracle verifies
    // the recall ACCOUNTING (both engines score the same materialized
    // ANN rows), so a probe-ORDER regression that degrades recall would
    // stay green there. This entry closes that gap: a deterministic
    // boundary-clustered corpus (16-dim axis clusters keyed on vec_id,
    // ±0.19 jitter exact in float AND double — every element is a small
    // integer over 2^12, so Spark's FLOAT pipeline and DuckDB's DOUBLE
    // build bit-identical vectors) is tuned so margin-ordered
    // multi-probe at probes=4 reaches recall EXACTLY 1.0 while
    // single-probe measures 0.964 (n=500) — the missed neighbors sit
    // across precisely the lowest-|margin| sketch bits. Recall 1.0
    // makes the ANN output equal the exact top-5, which DuckDB derives
    // independently — so the driver hash pins the probe sequence: a
    // regression in margin ordering or flip selection drops pairs and
    // goes red here. Measured stable at n=500 and n=2000 (sf0.001-0.1).
    "q185_ann_multiprobe_recall" -> api((spark, _) => {
      val corpus = probeGateCorpus(spark)
      EmbeddingOps.annLsh(corpus, corpus.where(col("vec_id") < 50),
          "vec_id", "embedding", k = 5, bits = 8, probes = 4)
        .orderBy("qid", "rn")
    },
      s"""WITH v AS (SELECT vec_id, $duckProbeGateVec AS vec
        |  FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |    sqrt((SELECT sum(x*x) FROM (SELECT unnest(vec) AS x) z))
        |      AS nrm FROM v),
        |q AS (SELECT vec_id AS qid, vec AS qv, nrm AS qn FROM n
        |  WHERE vec_id < 50),
        |p AS (SELECT q.qid, n.vec_id AS id,
        |    round((SELECT sum(x*y) FROM
        |        (SELECT unnest(q.qv) AS x, unnest(n.vec) AS y) z)
        |      / (q.qn * n.nrm), 6) AS cos
        |  FROM n, q WHERE n.vec_id <> q.qid),
        |r AS (SELECT qid, id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id)
        |      AS rn
        |  FROM p)
        |SELECT qid, id, cos, rn FROM r WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin, headline = true),

    // IVF index MAINTENANCE — the production concern the other ANN
    // entries don't cover: centroids are trained on the INDEXED 80% of
    // the corpus only (memoized — the standing index), a "new" 20%
    // batch joins by map-only assignment against those frozen centroids
    // (zero retrain, zero shuffle — exactly how a warehouse absorbs a
    // daily embedding batch), and queries search the union. On the
    // deterministic probe-gate corpus (q185's construction) nprobe=5
    // reaches recall EXACTLY 1.0 at both driver corpus sizes (500 and
    // 2000; nprobe=4 measures 249/250 at 500 — the entry discriminates)
    // so the output equals the exact top-5, which DuckDB derives
    // independently: a centroid-training or assignment regression goes
    // red here.
    "q193_ann_ivf_incremental" -> api((spark, sfDir) => {
      val corpus = probeGateCorpus(spark)
      val old = corpus.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val fresh = corpus.where(pmod(col("vec_id"), lit(5)) === 0)
      val (nlist, seed, iters) = (16, 7L, 4)
      val cents = EmbeddingOps.ivfCentroidsMemo(
        s"$sfDir|inc|$nlist|$seed|$iters",
        old, "vec_id", "embedding", nlist = nlist, seed = seed,
        trainIters = iters)
      EmbeddingOps.annIvf(old.unionByName(fresh),
          corpus.where(col("vec_id") < 50), "vec_id", "embedding", k = 5,
          nlist = nlist, nprobe = 5, centroids = Some(cents))
        .orderBy("qid", "rn")
    },
      s"""WITH v AS (SELECT vec_id, $duckProbeGateVec AS vec
        |  FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |    sqrt((SELECT sum(x*x) FROM (SELECT unnest(vec) AS x) z))
        |      AS nrm FROM v),
        |q AS (SELECT vec_id AS qid, vec AS qv, nrm AS qn FROM n
        |  WHERE vec_id < 50),
        |p AS (SELECT q.qid, n.vec_id AS id,
        |    round((SELECT sum(x*y) FROM
        |        (SELECT unnest(q.qv) AS x, unnest(n.vec) AS y) z)
        |      / (q.qn * n.nrm), 6) AS cos
        |  FROM n, q WHERE n.vec_id <> q.qid),
        |r AS (SELECT qid, id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id)
        |      AS rn
        |  FROM p)
        |SELECT qid, id, cos, rn FROM r WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin, headline = true),

    // ANN via IVF lists (the FAISS-style scale path): hash-seeded
    // centroids tightened by two distributed Lloyd iterations, map-only
    // assignment, nprobe-list probing. Same materialized-result recall
    // oracle as q46: per-query overlap against each engine's own exact
    // top-5.
    "q66_knn_ann_ivf" -> api((spark, sfDir) => {
      val emb = spark.table("embeddings")
      // trained lists are corpus state, not per-query work: memoize per
      // sf dir (the IVF-index role; cf. q135's edge-cache memo); the
      // key is derived from the actual parameters so they cannot drift
      val (nlist, seed, iters) = (16, 7L, 2)
      val cents = EmbeddingOps.ivfCentroidsMemo(
        s"$sfDir|$nlist|$seed|$iters",
        emb, "vec_id", "embedding", nlist = nlist, seed = seed,
        trainIters = iters)
      annRecall(spark, sfDir,
        EmbeddingOps.annIvf(emb, emb.where(col("vec_id") < 50),
          "vec_id", "embedding", k = 5, nlist = nlist, nprobe = 3,
          centroids = Some(cents)),
        "/tmp/graft_ann_ivf")
    },
      s"""WITH n AS $duckNormEmbeddings,
        |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n
        |  WHERE vec_id < 50),
        |p AS (SELECT q.qid, n.vec_id AS id,
        |    round((SELECT sum(x*y) FROM
        |        (SELECT unnest(q.qe) AS x, unnest(n.embedding) AS y) z)
        |      / (q.qn * n.nrm), 6) AS cos
        |  FROM n, q WHERE n.vec_id <> q.qid),
        |r AS (SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id)
        |      AS rn
        |  FROM p),
        |e AS (SELECT qid, id FROM r WHERE rn <= 5),
        |ann AS (SELECT qid, id
        |        FROM read_parquet('/tmp/graft_ann_ivf/*/*.parquet')
        |        WHERE n_corpus = (SELECT count(*) FROM embeddings)
        |          AND corpus_tag = (SELECT bit_xor(('0x' ||
        |            substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT)
        |            FROM embeddings))
        |SELECT a.qid, count(*) AS n_ann,
        |  CAST(sum(CASE WHEN e.id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit
        |FROM ann a LEFT JOIN e ON a.qid = e.qid AND a.id = e.id
        |GROUP BY a.qid ORDER BY a.qid""".stripMargin,
      headline = true),

    // Exact kNN through the int8-quantized prefilter — the
    // storage-compression scale path (the wide pass reads the 4×-smaller
    // quantized corpus and scores with the integer kernel; only top-m
    // approximate candidates per query are re-scored in float). The
    // oracle is q45's EXACT brute-force answer: identical output is the
    // contract, so a quantization-error regression (kernel change, scale
    // handling, m too small) goes red here. Measured margin: the worst
    // approximate rank any true top-5 member takes is 6 across
    // sf0.001/0.01/0.1 (500–2000 vectors), so m=64 carries ~10×
    // headroom; EmbeddingOpsSpec re-measures and fails at 32.
    // r9: the measured margin rides in the output as `worst_rank` (the
    // worst approximate rank any true top-5 member takes in the int8
    // prefilter — measured 6 at every driver corpus size, see
    // knnQuantizedRerankMargin), pinned by the oracle as the expected
    // constant: quantization drift moves worst_rank and goes red in
    // CORRECTNESS while m=64 still carries ~10× headroom, instead of
    // staying green until top-k equality itself breaks.
    "q187_knn_quantized" -> api((spark, _) => {
      val emb = spark.table("embeddings")
      EmbeddingOps.knnQuantizedRerankMargin(emb,
        emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, m = 64).orderBy("qid", "rn")
    },
      // The worst_rank arm re-derives the int8 prefilter INDEPENDENTLY:
      // symmetric quantization with Spark-rint parity (round() is
      // nearest for every non-tie double; exact .5 ties overridden to
      // half-even), integer-exact norm/dot sums, IEEE double division —
      // so the approximate ranking is bit-identical to the integer
      // kernel's and max(arn) over the true top-5 members reproduces
      // the engine's measured margin, not a pinned constant.
      s"""WITH n AS $duckNormEmbeddings,
        |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n
        |  WHERE vec_id < 10),
        |p AS (SELECT q.qid, n.vec_id AS id,
        |    round((SELECT sum(x*y) FROM
        |        (SELECT unnest(q.qe) AS x, unnest(n.embedding) AS y) z)
        |      / (q.qn * n.nrm), 6) AS cos
        |  FROM n, q WHERE n.vec_id <> q.qid),
        |r AS (SELECT qid, id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id)
        |      AS rn
        |  FROM p),
        |e AS (SELECT qid, id, cos, rn FROM r WHERE rn <= 5),
        |qz AS (SELECT vec_id,
        |    CASE WHEN m = 0 THEN list_transform(emb, x -> CAST(0 AS BIGINT))
        |      ELSE list_transform(emb, x -> CAST(greatest(-127.0,
        |        least(127.0,
        |          CASE WHEN x*127.0/m = floor(x*127.0/m) + 0.5
        |            THEN floor(x*127.0/m) + CAST(
        |              CAST(floor(x*127.0/m) AS BIGINT) % 2 <> 0 AS INT)
        |            ELSE round(x*127.0/m) END)) AS BIGINT)) END AS qv
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |      (SELECT max(abs(x)) FROM (SELECT
        |        unnest(CAST(embedding AS DOUBLE[])) AS x) z) AS m
        |    FROM embeddings) t),
        |nq AS (SELECT vec_id, qv,
        |    (SELECT sum(x*x) FROM (SELECT unnest(qv) AS x) z) AS s2
        |  FROM qz),
        |aq AS (SELECT qj.vec_id AS qid, c.vec_id AS id,
        |    CASE WHEN c.s2 = 0 OR qj.s2 = 0 THEN 0.0
        |      ELSE CAST((SELECT sum(x*y) FROM (SELECT unnest(c.qv) AS x,
        |          unnest(qj.qv) AS y) z) AS DOUBLE)
        |        / (sqrt(CAST(c.s2 AS DOUBLE)) * sqrt(CAST(qj.s2 AS DOUBLE)))
        |      END AS acos
        |  FROM nq c, nq qj
        |  WHERE qj.vec_id < 10 AND c.vec_id <> qj.vec_id),
        |ar AS (SELECT qid, id, row_number() OVER (PARTITION BY qid
        |    ORDER BY acos DESC, id) AS arn FROM aq),
        |w AS (SELECT CAST(max(ar.arn) AS INT) AS worst_rank
        |  FROM e JOIN ar ON e.qid = ar.qid AND e.id = ar.id)
        |SELECT e.qid, e.id, e.cos, e.rn, w.worst_rank FROM e, w
        |ORDER BY qid, rn""".stripMargin,
      headline = true),

    // Token counting: whitespace + BPE-ish regex tokenization.
    "q47_token_stats" -> sql(
      """SELECT doc_id,
        |  CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]', 0))
        |    AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]'))
        |    AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
      headline = true),

    // Heuristic quality score (length/alpha-ratio/word-shape bands).
    "q48_quality_score" -> api((spark, _) =>
      spark.table("documents")
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("score"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, $duckQuality AS score
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Stopword-argmax language ID (first-max-wins tie-break, 'und' if no
    // stopword hits). `lang` column is the generator's truth label.
    "q49_lang_id" -> api((spark, _) =>
      spark.table("documents")
        .select(col("doc_id"), col("lang"),
          TextOps.langId(col("text")).as("pred"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, lang, $duckLangPred AS pred
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Content-normalization fingerprint (md5 of canonicalized text).
    "q50_fingerprint" -> api((spark, _) =>
      spark.table("documents")
        .select(col("doc_id"),
          TextOps.normFingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, $duckFingerprint AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Retrieval chunking (the reference's split_documents: 500-char
    // windows, 50 overlap, min one chunk per doc) — map-only, value-
    // checked via chunk boundaries + lengths.
    "q60_chunk_docs" -> api((spark, _) =>
      RetrievalOps.chunkDocuments(spark.table("documents"),
          "doc_id", "text")
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).cast("long").as("chunk_len"))
        .orderBy("doc_id", "chunk_idx"),
      """SELECT doc_id, u.i AS chunk_idx,
        |  length(substring(text, u.i*450 + 1, 500)) AS chunk_len
        |FROM documents, unnest(range(0, greatest(
        |    CAST(ceil((length(text) - 50) / 450.0) AS BIGINT), 1))) AS u(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // The reference's full retrieval dataflow (doc_retriever.py:28-94):
    // chunk → embed (deterministic stub) → dot-product top-3 per query.
    // Integer-valued stub vectors make the ranking exact on both engines,
    // so the whole distributed pipeline is value-checked end-to-end.
    "q61_doc_retrieval" -> api((spark, _) => {
      val chunks = RetrievalOps.chunkDocuments(
        spark.table("documents"), "doc_id", "text")
      val emb = chunks.select(col("doc_id"), col("chunk_idx"),
        RetrievalOps.stubEmbed(col("chunk")).as("emb"))
      val queries = emb.where(col("chunk_idx") === 0 && col("doc_id") < 3)
        .select(col("doc_id").as("qdoc"), col("chunk_idx").as("qidx"),
          col("emb"))
      RetrievalOps.retrieveTopN(emb, Seq("doc_id", "chunk_idx"),
          queries, Seq("qdoc", "qidx"), "emb", 3)
        .select(col("qdoc"), col("doc_id"), col("chunk_idx"),
          col("score"), col("rn"))
        .orderBy("qdoc", "rn")
    },
      """WITH c AS (
        |  SELECT doc_id, u.i AS chunk_idx,
        |    substring(text, u.i*450 + 1, 500) AS chunk
        |  FROM documents, unnest(range(0, greatest(
        |     CAST(ceil((length(text) - 50) / 450.0) AS BIGINT), 1))) AS u(i)
        |), e AS (
        |  SELECT doc_id, chunk_idx, list_transform(range(0,16), i ->
        |    CAST((ascii(substring(chunk, i*7 + 1, 1)) * (i+1)) % 97
        |      AS DOUBLE)) AS emb
        |  FROM c
        |), q AS (
        |  SELECT doc_id AS qdoc, 0 AS qidx, emb AS qemb FROM e
        |  WHERE chunk_idx = 0 AND doc_id < 3
        |), s AS (
        |  SELECT q.qdoc, e.doc_id, e.chunk_idx,
        |    (SELECT sum(x*y) FROM
        |      (SELECT unnest(e.emb) AS x, unnest(q.qemb) AS y) z) AS score
        |  FROM e, q WHERE NOT (e.doc_id = q.qdoc AND e.chunk_idx = q.qidx)
        |), r AS (
        |  SELECT qdoc, doc_id, chunk_idx, score,
        |    row_number() OVER (PARTITION BY qdoc
        |      ORDER BY score DESC, doc_id, chunk_idx) AS rn
        |  FROM s)
        |SELECT qdoc, doc_id, chunk_idx, score, rn FROM r WHERE rn <= 3
        |ORDER BY qdoc, rn""".stripMargin),

    // Edit distance (harness metric H10, eval/metric_utils.py:23-40) —
    // Spark's levenshtein is already a codegen'd Catalyst expression.
    "q62_edit_distance" -> same(
      """SELECT a.doc_id,
        |  CAST(levenshtein(substring(a.text, 1, 80),
        |    substring(b.text, 1, 80)) AS BIGINT) AS dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY a.doc_id""".stripMargin),

    // Deterministic train/val/test split: assignment is a pure function
    // of the content fingerprint (NOT row order or partitioning), so the
    // split is reproducible at any scale and cluster layout; buckets are
    // the first hex nibble of md5 (12/2/2 of 16 → 75/12.5/12.5%).
    // Map-only + one tiny agg shuffle. Portable across engines ⇒ fully
    // oracle-checked.
    "q63_train_split" -> same(
      s"""SELECT CASE
         |    WHEN substring(md5(text), 1, 1) IN $trainNibbles
         |      THEN 'train'
         |    WHEN substring(md5(text), 1, 1) IN $valNibbles THEN 'val'
         |    ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // Train/test contamination: documents whose normalized 100-char
    // prefix fingerprint appears in both splits of q63's partition — the
    // standard eval-leakage check (prefix fingerprint so near-dup
    // rewrites are caught, not just byte-identical copies). One shuffle
    // on the fingerprint; at corpus scale the fingerprint table is tiny
    // relative to the corpus (32 bytes/doc).
    "q64_contamination" -> same(
      s"""WITH fp AS (
         |  SELECT doc_id,
         |    md5(substring(lower(trim(text)), 1, 100)) AS fp,
         |    CASE WHEN substring(md5(text), 1, 1) IN $trainNibbles
         |      THEN 'train' ELSE 'heldout' END AS split
         |  FROM documents)
        |SELECT a.doc_id AS train_id, b.doc_id AS heldout_id, a.fp
        |FROM fp a JOIN fp b ON a.fp = b.fp
        |  AND a.split = 'train' AND b.split = 'heldout'
        |ORDER BY train_id, heldout_id""".stripMargin),

    // End-to-end curation pipeline — the operators composed the way a
    // real corpus run chains them: normalize-fingerprint dedup (keep
    // lowest doc_id) → quality gate → language gate (predicted == label)
    // → fingerprint split → per-(split, lang) accounting. Map-only until
    // the dedup shuffle on the fingerprint, then one small agg shuffle;
    // every stage is the already-oracle-checked operator. Fully
    // SQL-expressible, so the whole composition is value-checked too.
    "q69_curation_pipeline" -> api((spark, _) => {
      val d = spark.table("documents")
      // cheap keys (fingerprint, split nibble) BEFORE the dedup; the
      // expensive scoring kernels (quality, lang-id) only on survivors —
      // on a high-duplicate crawl, duplicates must not pay for scoring
      val keyed = d.select(col("doc_id"), col("lang"), col("n_chars"),
        col("text"),
        TextOps.normFingerprint(col("text")).as("fp"),
        substring(md5(col("text")), 1, 1).as("h1"))
      val deduped = keyed.withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("fp").orderBy("doc_id")))
        .where(col("rn") === 1)
      deduped
        .withColumn("q", TextOps.qualityScore(col("text")))
        .withColumn("pred", TextOps.langId(col("text")))
        .where(col("q") >= 0.5 && col("pred") === col("lang"))
        .withColumn("split",
          when(col("h1").isin(trainNibbleSeq: _*), "train")
            .when(col("h1").isin(valNibbleSeq: _*), "val")
            .otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"))
        .orderBy("split", "lang")
    }, {
      // the scoring fragments are the SHARED vals the q48/q49/q50
      // oracles use — the pipeline oracle can never drift from the
      // per-operator oracles
      s"""WITH keyed AS (
         |  SELECT doc_id, lang, n_chars, text, $duckFingerprint AS fp,
         |    substring(md5(text), 1, 1) AS h1
         |  FROM documents),
         |deduped AS (
         |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
         |    AS rn
         |  FROM keyed),
         |survivors AS (
         |  SELECT *, $duckQuality AS q, $duckLangPred AS pred
         |  FROM deduped WHERE rn = 1)
         |SELECT CASE
         |    WHEN h1 IN $trainNibbles THEN 'train'
         |    WHEN h1 IN $valNibbles THEN 'val'
         |    ELSE 'test' END AS split,
         |  lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM survivors
         |WHERE q >= 0.5 AND pred = lang
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }, headline = true),

    // Embedding-cosine similar pairs above a threshold (the exact variant
    // of cosine dedup; the LSH route is q46). Fused cosine kernel over
    // the pairs; threshold 0.3 ≈ the 99th percentile of this corpus.
    "q65_dedup_embed" -> api((spark, _) => {
      val e = spark.table("embeddings")
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          GraftFunctions.duckRound(EmbeddingOps.cosine(col("va"), col("vb")), 6).as("cos"))
        .where(col("cos") >= 0.3)
        .orderBy("id_a", "id_b")
    },
      s"""WITH n AS $duckNormEmbeddings
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round((SELECT sum(x*y) FROM
        |      (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y)
        |      z) / (a.nrm * b.nrm), 6) AS cos
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE round((SELECT sum(x*y) FROM
        |    (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y)
        |    z) / (a.nrm * b.nrm), 6) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin),

    // Deterministic hash sample: a content-keyed Bernoulli sample
    // (md5 prefix below a hex threshold ≈ 26/256 ≈ 10.2%) — unlike
    // q29's seeded RNG sample this is reproducible on ANY engine,
    // partitioning or cluster size, so it is fully oracle-checked.
    // Map-only (the filter pipelines with the scan); the standard way
    // to cut a stable dev subset from a 100 TB corpus.
    "q92_hash_sample" -> same(
      """SELECT doc_id, lang, substring(md5(text), 1, 2) AS hh
        |FROM documents WHERE substring(md5(text), 1, 2) < '1a'
        |ORDER BY doc_id""".stripMargin),

    // KMV (k-minimum-values) distinct sketch: per language, keep the
    // k=32 smallest 48-bit hash fractions of the distinct texts; the
    // estimator (k-1)/kth_min approximates the distinct count with
    // ~1/sqrt(k-1) ≈ 18% relative error. Mergeable across partitions
    // (min-of-mins), so at corpus scale each partition ships only k
    // values to the final merge — this entry value-checks the sketch
    // itself against DuckDB computing the SAME sketch, and carries the
    // exact distinct count alongside for the error story.
    "q93_kmv_sketch" -> sql(
      """WITH h AS (
        |  SELECT DISTINCT lang,
        |    CAST(conv(substring(md5(text), 1, 12), 16, 10) AS BIGINT)
        |      / 281474976710656.0 AS f
        |  FROM documents),
        |r AS (SELECT lang, f,
        |    row_number() OVER (PARTITION BY lang ORDER BY f) AS rn
        |  FROM h),
        |k AS (SELECT lang, max(f) AS fk, count(*) AS kk
        |  FROM r WHERE rn <= 32 GROUP BY lang),
        |x AS (SELECT lang, count(DISTINCT text) AS exact_distinct
        |  FROM documents GROUP BY lang)
        |SELECT k.lang,
        |  CAST(round(CASE WHEN kk < 32 THEN kk ELSE (kk - 1) / fk END)
        |    AS BIGINT) AS est_distinct,
        |  x.exact_distinct
        |FROM k JOIN x ON k.lang = x.lang ORDER BY k.lang""".stripMargin,
      """WITH h AS (
        |  SELECT DISTINCT lang,
        |    ('0x' || substring(md5(text), 1, 12))::BIGINT
        |      / 281474976710656.0 AS f
        |  FROM documents),
        |r AS (SELECT lang, f,
        |    row_number() OVER (PARTITION BY lang ORDER BY f) AS rn
        |  FROM h),
        |k AS (SELECT lang, max(f) AS fk, count(*) AS kk
        |  FROM r WHERE rn <= 32 GROUP BY lang),
        |x AS (SELECT lang, count(DISTINCT text) AS exact_distinct
        |  FROM documents GROUP BY lang)
        |SELECT k.lang,
        |  CAST(round(CASE WHEN kk < 32 THEN kk ELSE (kk - 1) / fk END)
        |    AS BIGINT) AS est_distinct,
        |  x.exact_distinct
        |FROM k JOIN x ON k.lang = x.lang ORDER BY k.lang""".stripMargin),

    // Near-dup pairs → duplicate CLUSTERS: connected components over the
    // verified MinHash pair graph (min-label fixpoint, IterativeOps), so
    // a dedup pass can keep exactly one representative per component.
    // Oracle: DuckDB recursive CTE over the exact pairwise edges —
    // min reachable id == component id. Output: members of non-singleton
    // components.
    "q94_dup_clusters" -> api((spark, _) => {
      val pairs = TextOps.minhashDupPairs(spark.table("documents"),
        "doc_id", "text", threshold = 0.5)
      val comp = graft.operators.IterativeOps
        .connectedComponents(pairs, "id_a", "id_b")
      comp.select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, $duckShingles AS sh FROM documents),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE round($duckJaccard, 6) >= 0.5),
         |e AS (SELECT id_a AS a, id_b AS b FROM p
         |  UNION SELECT id_b, id_a FROM p),
         |reach(id, lab) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, r.lab FROM e JOIN reach r ON r.id = e.b),
         |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id)
         |SELECT id AS doc_id, component FROM comp
         |ORDER BY doc_id""".stripMargin),

    // TF-IDF top terms: tf (per-doc term count) × ln(N/df), top-3 terms
    // per document. The ranking ORDER BY is (tf DESC, df ASC, tok) —
    // exactly the score order but computed on integers, so float-ulp
    // differences between engines' ln() can never flip a rank; the
    // score column itself is rounded display output. Two shuffles
    // (doc-term agg, term df agg) + a broadcast of the tiny df table.
    "q95_tfidf" -> api({ (spark, _) =>
      // tf is materialized once; df is tf's row count per token (each
      // (doc, tok) row is one containing doc), so the corpus is
      // exploded exactly once instead of once per consumer
      checkpointView(spark, "graft_q95_tf", spark.sql(
        """SELECT doc_id, tok, count(*) AS tf FROM documents
          |LATERAL VIEW explode(split(trim(lower(text)), '\\s+')) u AS tok
          |GROUP BY doc_id, tok""".stripMargin))
      spark.sql(
        """WITH df AS (SELECT tok, count(*) AS df FROM graft_q95_tf
          |            GROUP BY tok),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.tok) AS rn
        |  FROM graft_q95_tf tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
        |SELECT doc_id, tok, tf, df, score, rn FROM s WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin)
    },
      """WITH t AS (
        |  SELECT doc_id, u.tok AS tok FROM documents,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS u(tok)),
        |tf AS (SELECT doc_id, tok, count(*) AS tf
        |  FROM t GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.tok) AS rn
        |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
        |SELECT doc_id, tok, tf, df, score, rn FROM s WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin),

    // Character-5-gram Jaccard near-dups, blocked by (lang, source) —
    // the char-shingle complement of q41's word n-grams (robust to
    // whitespace/tokenization noise). Same blocked-quadratic shape.
    "q99_char_ngram_jaccard" -> api((spark, _) => {
      val d = spark.table("documents").select(col("doc_id"),
        col("lang"), col("source"),
        TextOps.charShingles(col("text"), 5).as("sh"))
      d.as("a").join(d.as("b"),
          col("a.lang") === col("b.lang") &&
            col("a.source") === col("b.source") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          GraftFunctions.duckRound(
            TextOps.jaccard(col("a.sh"), col("b.sh")), 6).as("jac"))
        .where(col("jac") >= 0.5)
        .orderBy("id_a", "id_b")
    },
      """WITH d AS (SELECT doc_id, lang, source,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(text) - 4, 1) + 1),
        |      i -> substring(text, i, 5))) AS sh
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
        |    AS jac
        |FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
        |  AND a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
        |    >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    // Corpus heavy hitters: top-20 tokens by frequency. The explode is
    // map-side; the count aggregates partially before its one shuffle;
    // the top-k is TakeOrderedAndProject (no global sort) — the shape
    // that survives a 100 TB vocabulary scan. Deterministic tie-break on
    // the token.
    "q83_heavy_hitters" -> sql(
      """SELECT tok, count(*) AS n FROM (
        |  SELECT explode(split(trim(lower(text)), '\\s+')) AS tok
        |  FROM documents) t
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
      """SELECT u.tok AS tok, count(*) AS n
        |FROM documents,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS u(tok)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
      headline = true),

    // PII redaction: email + phone masking, the standard pre-training
    // scrub. Map-only regexp_replace chain (codegen'd, zero shuffle).
    // The corpus text carries no PII, so a synthetic contact suffix
    // derived from doc_id is appended first — the redaction then has
    // real work to do on every row and the oracle checks it value-wise.
    "q84_pii_redact" -> sql(
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    concat(text, ' contact user', doc_id, '@mail.example.com or +1-555-',
        |      lpad(CAST(doc_id AS STRING), 4, '0')),
        |    '[\\w.+-]+@[\\w.-]+\\.[a-z]{2,}', '<EMAIL>'),
        |    '\\+?\\d[\\d-]{6,}', '<PHONE>') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    text || ' contact user' || doc_id || '@mail.example.com or +1-555-'
        |      || lpad(CAST(doc_id AS VARCHAR), 4, '0'),
        |    '[\w.+-]+@[\w.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?\d[\d-]{6,}', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Within-document repetition stats (the Gopher-style repetition
    // rule): duplicate-sentence ratio per doc. Count-based (set sizes,
    // not order), so list_distinct's ordering freedom can't bite.
    // Map-only: sentence split + two set sizes per row, zero shuffle.
    "q85_repetition_stats" -> sql(
      """SELECT doc_id,
        |  CAST(size(split(text, '\\. ')) AS BIGINT) AS n_sent,
        |  CAST(size(array_distinct(split(text, '\\. '))) AS BIGINT)
        |    AS n_uniq,
        |  duck_round(1.0 - size(array_distinct(split(text, '\\. ')))
        |    / CAST(size(split(text, '\\. ')) AS DOUBLE), 6) AS dup_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |  len(string_split_regex(text, '\. ')) AS n_sent,
        |  len(list_distinct(string_split_regex(text, '\. '))) AS n_uniq,
        |  round(1.0 - len(list_distinct(string_split_regex(text, '\. ')))
        |    / CAST(len(string_split_regex(text, '\. ')) AS DOUBLE), 6)
        |    AS dup_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Portable 32-bit SimHash per document: bit j = majority vote of the
    // MSB of md5 hex nibble j over the whitespace tokens. Unlike the
    // xxHash64-based q43 (engine-internal hash ⇒ rows-only check), every
    // engine with md5()+substr() reproduces this signature bit-for-bit —
    // the oracle below is the same 32-nibble vote written as plain SQL.
    // Map-only (one digest pass per row, zero shuffle) at any scale.
    "q103_simhash_portable" -> api((spark, _) =>
      spark.table("documents").select(col("doc_id"),
        GraftFunctions.simhashMd5(TextOps.tokens(col("text"))).as("sig"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, $duckSimhashMd5 AS sig
         |FROM (SELECT doc_id, $duckTokens AS tk FROM documents)
         |ORDER BY doc_id""".stripMargin, headline = true),

    // Near-dup pairs over the portable signature: candidates via
    // (maxHamming+1)-chunk banding — by pigeonhole any pair within the
    // Hamming budget shares an intact chunk — then EXACT Hamming verify.
    // The oracle is the full quadratic pairwise check, so the whole
    // LSH-style pipeline (hash → band → verify) is value-checked, not
    // rows-only: banding must be algebraically invisible. One shuffle
    // on the (chunk, bits) key at corpus scale vs the oracle's O(n²).
    // NON-headline (r16): pair EMISSION is linear in the OUTPUT by
    // contract — 1.73 B pairs at sf10sv (56.2 s) is the pair list's
    // own size, not a plan defect. The headline near-dup entries are
    // the output-bounded forms (q283, q178); this one stays for
    // pipelines that genuinely consume the full pair list.
    "q104_simhash_hamming_pairs" -> api((spark, _) =>
      TextOps.simhashMd5DupPairs(spark.table("documents"), "doc_id",
          "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b"),
      s"""WITH s AS (
         |  SELECT doc_id, $duckSimhashMd5 AS sig
         |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // Bounded sibling of q104: per-document top-2 nearest neighbors
    // under the Hamming budget, computed WITHOUT materializing the pair
    // list — identical signatures collapse first, banding runs over
    // DISTINCT signatures, and only the k+1 smallest member ids of each
    // neighboring group expand back per document (see
    // TextOps.simhashMd5TopKNeighbors: the naive pairs+window variant
    // measured 206 s at sf1 on the dup-dense corpus; this one is
    // output- AND work-bounded at O(k·n)). The oracle recomputes the
    // same top-k from the full quadratic pair list, so signature
    // collapsing, banding, and the per-doc cap are all value-checked.
    // NON-headline (r16): at maxHamming=3 the 32-bit signature gives
    // 8-bit bands, and the candidate stage saturates at Θ(sigs²/2^8)
    // on a diverse corpus (30.8 s at sf10sv) — a signature-width
    // contract, not a plan defect. The headline form is q283: the SAME
    // bounded pipeline over the 64-bit portable signature (16-bit
    // bands, 2^-16 band collisions).
    "q178_simhash_pairs_topk" -> api((spark, _) =>
      TextOps.simhashMd5TopKNeighbors(spark.table("documents"),
          "doc_id", "text", maxHamming = 3, k = 2)
        .select(col("id").as("doc_id"), col("nbr"),
          col("hamming").cast("long").as("hamming"),
          col("rk").cast("long").as("rk"))
        .orderBy("doc_id", "rk"),
      s"""WITH s AS (
         |  SELECT doc_id, $duckSimhashMd5 AS sig
         |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents)),
         |p AS (
         |  SELECT a.doc_id AS doc_id, b.doc_id AS nbr,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM s a JOIN s b ON a.doc_id <> b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 3)
         |SELECT doc_id, nbr, hamming, rk FROM (
         |  SELECT doc_id, nbr, hamming,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY hamming, nbr) AS BIGINT) AS rk
         |  FROM p)
         |WHERE rk <= 2
         |ORDER BY doc_id, rk""".stripMargin),

    // HEADLINE near-dup dedup (r16, the r15 verdict's #5): the bounded
    // top-k pipeline of q178 over the 64-BIT portable signature
    // (GraftHash.simhashMd5Wide — bit j votes digest bit j of ONE md5
    // per token, the same hash cost as the 32-bit form, which uses
    // only the 32 nibble MSBs of the same 128 bits). At maxHamming=3
    // banding gets 16-bit chunks, so band collisions run at 2^-16
    // instead of the 32-bit form's 2^-8 — the form whose candidate
    // stage stays output-bounded on a diverse 100 TB corpus
    // (measured sf10sv: this entry vs the 32-bit q178's saturation).
    // The oracle recomputes the top-k from the full quadratic pair
    // list over the same bits read as two 32-bit halves off the hex
    // digest (hamming = sum of the halves' bit_counts — identical to
    // the packed 64-bit distance), so the wide kernel, the banding
    // and the per-doc cap are all value-checked.
    "q283_simhash64_topk" -> api((spark, _) =>
      TextOps.simhashMd5TopKNeighbors(spark.table("documents"),
          "doc_id", "text", maxHamming = 3, k = 2, wide = true)
        .select(col("id").as("doc_id"), col("nbr"),
          col("hamming").cast("long").as("hamming"),
          col("rk").cast("long").as("rk"))
        .orderBy("doc_id", "rk"),
      s"""WITH s AS (
         |  SELECT doc_id, ${duckSimhashMd5Bits(0)} AS lo,
         |    ${duckSimhashMd5Bits(32)} AS hi
         |  FROM (SELECT doc_id, $duckTokens AS tk FROM documents)),
         |p AS (
         |  SELECT a.doc_id AS doc_id, b.doc_id AS nbr,
         |    CAST(bit_count(xor(a.lo, b.lo))
         |      + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
         |  FROM s a JOIN s b ON a.doc_id <> b.doc_id
         |  WHERE bit_count(xor(a.lo, b.lo))
         |    + bit_count(xor(a.hi, b.hi)) <= 3)
         |SELECT doc_id, nbr, hamming, rk FROM (
         |  SELECT doc_id, nbr, hamming,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY hamming, nbr) AS BIGINT) AS rk
         |  FROM p)
         |WHERE rk <= 2
         |ORDER BY doc_id, rk""".stripMargin, headline = true),

    // Gopher-style filter rules (Rae et al. 2021 §A1.1): mean word
    // length, symbol-to-word ratio, and the hash-fraction rule, with the
    // boolean keep decision. Complements q48's scoring: these are the
    // RULES formulation (hard thresholds), map-only over the corpus.
    "q113_gopher_rules" -> sql(
      """SELECT doc_id,
        |  duck_round(length(replace(text, ' ', ''))
        |    / CAST(size(split(trim(text), '\\s+')) AS DOUBLE), 6)
        |    AS mean_word_len,
        |  duck_round(size(filter(split(trim(text), '\\s+'),
        |      w -> w RLIKE '^[#$%&@*+=_~^|\\\\/<>-]+$'))
        |    / CAST(size(split(trim(text), '\\s+')) AS DOUBLE), 6)
        |    AS symbol_ratio,
        |  (size(split(trim(text), '\\s+')) BETWEEN 50 AND 100000
        |   AND length(replace(text, ' ', ''))
        |     / CAST(size(split(trim(text), '\\s+')) AS DOUBLE)
        |     BETWEEN 3 AND 10) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |  round(length(replace(text, ' ', ''))
        |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE),
        |    6) AS mean_word_len,
        |  round(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      w -> regexp_matches(w, '^[#$%&@*+=_~^|\\/<>-]+$')))
        |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE),
        |    6) AS symbol_ratio,
        |  (len(string_split_regex(trim(text), '\s+')) BETWEEN 50 AND 100000
        |   AND length(replace(text, ' ', ''))
        |     / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
        |     BETWEEN 3 AND 10) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Ordered event funnel (view → click → purchase): each stage's first
    // qualifying timestamp must follow the previous stage's. Three
    // per-user min-aggregates chained by join — every shuffle is on
    // user_id so they collapse into one exchange reused across stages.
    "q115_funnel" -> same(
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |  JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CASE WHEN p.user_id IS NOT NULL THEN 3
        |       WHEN c.user_id IS NOT NULL THEN 2 ELSE 1 END AS stage
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin),

    // CDC-style compaction: latest event per user (ts, event_id as the
    // deterministic tie-break) — the "current state" table a changelog
    // stream compacts into. One window pass over a single shuffle; at
    // 100 TB this is the standard incremental-snapshot shape.
    "q116_cdc_latest" -> same(
      """SELECT user_id, event_type, value, ts FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // Time-series resampling: per-user daily grid (sequence + explode)
    // LEFT JOINed to daily aggregates, gaps forward-filled with an
    // IGNORE NULLS running last_value. The grid is generated, never
    // materialized wider than (users × days); the fill is one window
    // pass over the user_id shuffle.
    "q118_resample_ffill" -> sql(
      """WITH grid AS (
        |  SELECT user_id, explode(sequence(DATE '2024-01-01',
        |    DATE '2024-01-30', interval 1 day)) AS d
        |  FROM (SELECT DISTINCT user_id FROM events)),
        |daily AS (
        |  SELECT user_id, CAST(date_trunc('DAY', ts) AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        |  FROM events GROUP BY user_id, CAST(date_trunc('DAY', ts) AS DATE))
        |SELECT g.user_id, g.d,
        |  last_value(dv.v, true) OVER (PARTITION BY g.user_id
        |    ORDER BY g.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
        |FROM grid g LEFT JOIN daily dv
        |  ON g.user_id = dv.user_id AND g.d = dv.d
        |ORDER BY g.user_id, g.d""".stripMargin,
      """WITH grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(DATE '2024-01-01',
        |    DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM (SELECT DISTINCT user_id FROM events)),
        |daily AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        |  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE))
        |SELECT g.user_id, g.d,
        |  last_value(dv.v IGNORE NULLS) OVER (PARTITION BY g.user_id
        |    ORDER BY g.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
        |FROM grid g LEFT JOIN daily dv
        |  ON g.user_id = dv.user_id AND g.d = dv.d
        |ORDER BY g.user_id, g.d""".stripMargin),

    // Deterministic stratified sample: first-k-per-class by content
    // hash order — reproducible on any engine/partitioning (the
    // per-class counterpart of q92's corpus-wide hash sample).
    "q120_stratified_sample" -> same(
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 30 ORDER BY doc_id""".stripMargin),

    // Winsorization (outlier clipping) at the per-group 5th/95th order
    // statistic. The bounds are EXACT k-th elements (rank selection, no
    // interpolation) so both engines pick bit-identical doubles, and the
    // clipped mean goes through DECIMAL partials — fully deterministic
    // at any parallelism. One window pass + one agg, both on the same
    // group key, so the shuffle is reused.
    "q132_winsorize" -> same(
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice AS p,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |b AS (
        |  SELECT l_returnflag,
        |    min(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
        |      THEN p END) AS lo,
        |    min(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
        |      THEN p END) AS hi
        |  FROM r GROUP BY l_returnflag)
        |SELECT r.l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN r.p < b.lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN r.p > b.hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  round(CAST(sum(CAST(r.p AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*), 4) AS mean_raw,
        |  round(CAST(sum(CAST(least(greatest(r.p, b.lo), b.hi)
        |    AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS mean_winsor
        |FROM r JOIN b ON r.l_returnflag = b.l_returnflag
        |GROUP BY r.l_returnflag ORDER BY r.l_returnflag""".stripMargin),

    // Statistical profile: Pearson correlation, sample covariance and
    // stddev per group — the numeric-feature screening pass of a
    // training pipeline. Co-moment aggregates are mergeable, so this is
    // partial-agg + one tiny shuffle; round(…) absorbs the last-ulp
    // accumulation-order difference between engines.
    "q133_corr_stats" -> same(
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_extendedprice), 2)
        |    AS covar_qty_price,
        |  round(stddev_samp(l_extendedprice), 2) AS std_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / count(*), 4) AS mean_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin),

    // Per-label per-dimension embedding moments (the feature-scaling
    // statistics a normalization step consumes). posexplode pivots the
    // vector column into (dim, value) rows — 64×|rows| — which partial-
    // aggregates down to |labels|×64 before the only shuffle.
    "q134_feature_moments" -> sql(
      """SELECT label, CAST(pos AS INT) AS dim,
        |  round(sum(x) / count(*), 4) AS mean_x,
        |  round(stddev_samp(x), 4) AS std_x
        |FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, x
        |GROUP BY label, pos ORDER BY label, dim""".stripMargin,
      """SELECT label, CAST(pos AS INT) AS dim,
        |  round(sum(x) / count(*), 4) AS mean_x,
        |  round(stddev_samp(x), 4) AS std_x
        |FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings) t
        |GROUP BY label, pos ORDER BY label, dim""".stripMargin),

    // PageRank (3 damped iterations, d = 0.85) over the bipartite
    // customer↔supplier trade graph derived from the fact tables. The
    // Spark side is the honest iterative formulation — rank and degree
    // DataFrames re-joined per step, all shuffles on the node key — the
    // shape that scales to billions of edges; the oracle unrolls the
    // same three steps as CTEs. round(9) absorbs add-order ulps.
    "q135_pagerank" -> api((spark, sfDir) => {
      val d = 0.85
      // The (src, dst, deg) edge table is derived once per session and
      // cached (buffer-pool role, same class as Tables.hot): the three
      // iterations re-scan the cache instead of recomputing the distinct
      // pair join per step. Memoized like Tables.registerAll, keyed on
      // the sf directory so a session that switches scale factors
      // rebuilds instead of reusing stale edges.
      if (!spark.catalog.tableExists("graft_pr_edges") ||
          !spark.catalog.tableExists("graft_pr_nodes") ||
          !spark.conf.getOption("graft.pr.built").contains(sfDir)) {
        // drop a stale cache before rebuilding (sf switch mid-session)
        Seq("graft_pr_edges", "graft_pr_nodes").foreach { v =>
          if (spark.catalog.tableExists(v)) {
            spark.table(v).unpersist()
            spark.catalog.dropTempView(v)
          }
        }
        val e0 = spark.table("orders")
          .join(spark.table("lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select(concat(lit("C"), col("o_custkey")).as("src"),
            concat(lit("S"), col("l_suppkey")).as("dst"))
          .distinct()
        val ed = e0.union(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        val deg = ed.groupBy("src").agg(count(lit(1)).as("deg"))
        // deg is node-sized (≪ edges) — broadcast it onto the edge list
        ed.join(broadcast(deg), "src").cache()
          .createOrReplaceTempView("graft_pr_edges")
        ed.select(col("src").as("node")).distinct().cache()
          .createOrReplaceTempView("graft_pr_nodes")
        spark.conf.set("graft.pr.built", sfDir)
      }
      val edges = spark.table("graft_pr_edges")
      val nodes = spark.table("graft_pr_nodes")
      val n = nodes.count().toDouble
      var rank = nodes.withColumn("r", lit(1.0 / n))
      for (_ <- 1 to 3) {
        // rank is node-sized: broadcast it into the edge scan so the only
        // shuffle per iteration is the tiny partial-agg on dst. (At a
        // billion-node graph the rank side outgrows broadcast — there the
        // co-located alternative is bucketing edges and rank on the node
        // key so the join is shuffle-free; the iteration structure is
        // identical.)
        val contrib = edges
          .join(broadcast(rank), edges("src") === rank("node"))
          .groupBy(col("dst"))
          .agg(sum(col("r") / col("deg")).as("s"))
        rank = nodes
          .join(broadcast(contrib), nodes("node") === contrib("dst"),
            "left")
          .select(col("node"),
            (lit((1 - d) / n) + lit(d) * coalesce(col("s"), lit(0.0)))
              .as("r"))
      }
      rank.select(col("node"),
          graft.functions.GraftFunctions.duckRound(col("r"), 9).as("r"))
        .orderBy("node")
    },
      """WITH e0 AS (
        |  SELECT DISTINCT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0
        |      UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS node, sum(r0.r / deg.deg) AS s
        |       FROM e JOIN r0 ON e.src = r0.node
        |       JOIN deg ON e.src = deg.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.node, 0.15 / nn.n + 0.85 * coalesce(c1.s, 0)
        |         AS r
        |       FROM nodes CROSS JOIN nn
        |       LEFT JOIN c1 ON nodes.node = c1.node),
        |c2 AS (SELECT e.dst AS node, sum(r1.r / deg.deg) AS s
        |       FROM e JOIN r1 ON e.src = r1.node
        |       JOIN deg ON e.src = deg.src GROUP BY e.dst),
        |r2 AS (SELECT nodes.node, 0.15 / nn.n + 0.85 * coalesce(c2.s, 0)
        |         AS r
        |       FROM nodes CROSS JOIN nn
        |       LEFT JOIN c2 ON nodes.node = c2.node),
        |c3 AS (SELECT e.dst AS node, sum(r2.r / deg.deg) AS s
        |       FROM e JOIN r2 ON e.src = r2.node
        |       JOIN deg ON e.src = deg.src GROUP BY e.dst),
        |r3 AS (SELECT nodes.node, 0.15 / nn.n + 0.85 * coalesce(c3.s, 0)
        |         AS r
        |       FROM nodes CROSS JOIN nn
        |       LEFT JOIN c3 ON nodes.node = c3.node)
        |SELECT node, round(r, 9) AS r FROM r3 ORDER BY node"""
        .stripMargin),

    // K-means assignment step (the IVF-training inner loop): every
    // vector scored against 8 fixed centroids (the lowest-vec_id
    // embeddings) through the fused cosine kernel, argmax by rounded
    // cosine with centroid-id tie-break. The centroid side broadcasts;
    // the fact side never shuffles until the final ORDER BY.
    "q136_kmeans_assign" -> api((spark, _) => {
      val e = spark.table("embeddings")
      val cents = e.orderBy("vec_id").limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val scored = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          GraftFunctions.duckRound(
            EmbeddingOps.cosine(col("embedding"), col("cvec")), 6).as("cos"))
      // argmax as a partial aggregate (max of a (cos, -cid) struct), not a
      // window: no per-partition sort, map-side combine collapses the 8
      // candidate rows per vector before the shuffle. Ties on the rounded
      // cosine break to the smallest centroid id, same as the oracle.
      scored.groupBy("vec_id")
        .agg(max(struct(col("cos"), (-col("cid")).as("ncid"))).as("m"))
        .select(col("vec_id"), (-col("m.ncid")).as("cid"),
          col("m.cos").as("cos"))
        .orderBy("vec_id")
    },
      s"""WITH n AS $duckNormEmbeddings,
        |c AS (SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm
        |      FROM n ORDER BY vec_id LIMIT 8),
        |s AS (SELECT n.vec_id, c.cid,
        |    round((SELECT sum(x*y) FROM (SELECT unnest(n.embedding) AS x,
        |        unnest(c.cvec) AS y) z) / (n.nrm * c.cnrm), 6) AS cos
        |  FROM n CROSS JOIN c),
        |b AS (SELECT vec_id, cid, cos, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM s)
        |SELECT vec_id, cid, cos FROM b WHERE rn = 1 ORDER BY vec_id"""
        .stripMargin),

    // BM25 ranking (k1 = 1.2, b = 0.75) for a fixed term set — the
    // classical lexical-retrieval scorer next to q61's embedding
    // retrieval. For a FIXED query, tf and dl are per-document array
    // kernels (one tokenizing scan, no explode shuffle and no doc-level
    // join); the single corpus-stats row (df per term, N, avgdl) comes
    // from one tiny aggregate and broadcasts into the map-side scorer —
    // at 100 TB the whole query is two scans plus a one-row exchange.
    // Both engines run the same fixed-order term sum, so the float fold
    // is reproducible (the r2 shape summed terms in engine order).
    "q137_bm25" -> sql(
      """WITH d AS (
        |  SELECT doc_id, CAST(size(ts) AS BIGINT) AS dl,
        |    size(filter(ts, x -> x = 'spark')) AS tf_spark,
        |    size(filter(ts, x -> x = 'join')) AS tf_join,
        |    size(filter(ts, x -> x = 'fast')) AS tf_fast
        |  FROM (SELECT doc_id, split(trim(lower(text)), '\\s+') AS ts
        |        FROM documents) t),
        |st AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
        |    sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
        |    sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
        |    sum(CASE WHEN tf_fast > 0 THEN 1 ELSE 0 END) AS df_fast
        |  FROM d)
        |SELECT doc_id, round(
        |  CASE WHEN tf_spark > 0 THEN
        |    ln((st.n - df_spark + 0.5) / (df_spark + 0.5) + 1.0) *
        |    (tf_spark * 2.2) /
        |    (tf_spark + 1.2 * (0.25 + 0.75 * dl / st.avgdl)) ELSE 0 END +
        |  CASE WHEN tf_join > 0 THEN
        |    ln((st.n - df_join + 0.5) / (df_join + 0.5) + 1.0) *
        |    (tf_join * 2.2) /
        |    (tf_join + 1.2 * (0.25 + 0.75 * dl / st.avgdl)) ELSE 0 END +
        |  CASE WHEN tf_fast > 0 THEN
        |    ln((st.n - df_fast + 0.5) / (df_fast + 0.5) + 1.0) *
        |    (tf_fast * 2.2) /
        |    (tf_fast + 1.2 * (0.25 + 0.75 * dl / st.avgdl)) ELSE 0 END,
        |  5) AS bm25
        |FROM d CROSS JOIN st
        |WHERE tf_spark > 0 OR tf_join > 0 OR tf_fast > 0
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
      """WITH d AS (
        |  SELECT doc_id, len(ts) AS dl,
        |    len(list_filter(ts, x -> x = 'spark')) AS tf_spark,
        |    len(list_filter(ts, x -> x = 'join')) AS tf_join,
        |    len(list_filter(ts, x -> x = 'fast')) AS tf_fast
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(text)), '\s+') AS ts
        |        FROM documents) t),
        |st AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
        |    sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
        |    sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
        |    sum(CASE WHEN tf_fast > 0 THEN 1 ELSE 0 END) AS df_fast
        |  FROM d)
        |SELECT doc_id, round(
        |  CASE WHEN tf_spark > 0 THEN
        |    ln((st.n - df_spark + 0.5) / (df_spark + 0.5) + 1.0) *
        |    (tf_spark * 2.2) /
        |    (tf_spark + 1.2 * (0.25 + 0.75 * dl / st.avgdl)) ELSE 0 END +
        |  CASE WHEN tf_join > 0 THEN
        |    ln((st.n - df_join + 0.5) / (df_join + 0.5) + 1.0) *
        |    (tf_join * 2.2) /
        |    (tf_join + 1.2 * (0.25 + 0.75 * dl / st.avgdl)) ELSE 0 END +
        |  CASE WHEN tf_fast > 0 THEN
        |    ln((st.n - df_fast + 0.5) / (df_fast + 0.5) + 1.0) *
        |    (tf_fast * 2.2) /
        |    (tf_fast + 1.2 * (0.25 + 0.75 * dl / st.avgdl)) ELSE 0 END,
        |  5) AS bm25
        |FROM d CROSS JOIN st
        |WHERE tf_spark > 0 OR tf_join > 0 OR tf_fast > 0
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),

    // Inter-event gap profile per user (lag diff + min/max + exact
    // interpolated median/p90): the session-health statistics pass.
    // One window shuffle on user_id, reused by the aggregate.
    "q138_gap_stats" -> sql(
      """WITH g AS (
        |  SELECT user_id, CAST(unix_timestamp(ts) -
        |    unix_timestamp(lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) AS BIGINT) AS gap
        |  FROM events)
        |SELECT user_id, count(*) AS n_gaps,
        |  min(gap) AS min_gap, max(gap) AS max_gap,
        |  round(percentile(gap, 0.5), 4) AS p50_gap,
        |  round(percentile(gap, 0.9), 4) AS p90_gap
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
      """WITH g AS (
        |  SELECT user_id, date_diff('second',
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |    ts) AS gap
        |  FROM events)
        |SELECT user_id, count(*) AS n_gaps,
        |  min(gap) AS min_gap, max(gap) AS max_gap,
        |  round(CAST(quantile_cont(gap, 0.5) AS DOUBLE), 4) AS p50_gap,
        |  round(CAST(quantile_cont(gap, 0.9) AS DOUBLE), 4) AS p90_gap
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Z-order (Morton) interleave of two 16-bit dimensions — the sort
    // key a multi-dimensional clustering write uses so min/max file
    // stats prune on BOTH columns at scan time (the 100 TB layout move
    // q71's single-column hive partitioning can't express). The classic
    // bit-spread is written with multiply/AND/OR only, so the identical
    // text runs on both engines; sorting by the code IS the clustering.
    "q139_zorder" -> same(
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey % 65536 AS x,
        |    (year(o_orderdate) * 12 + month(o_orderdate)) % 65536 AS y
        |  FROM orders),
        |sx AS (SELECT o_orderkey, x, y,
        |    (x | (x * 256)) & 16711935 AS a,
        |    (y | (y * 256)) & 16711935 AS b FROM src),
        |s2 AS (SELECT o_orderkey, x, y,
        |    (a | (a * 16)) & 252645135 AS a,
        |    (b | (b * 16)) & 252645135 AS b FROM sx),
        |s3 AS (SELECT o_orderkey, x, y,
        |    (a | (a * 4)) & 858993459 AS a,
        |    (b | (b * 4)) & 858993459 AS b FROM s2),
        |s4 AS (SELECT o_orderkey, x, y,
        |    (a | (a * 2)) & 1431655765 AS a,
        |    (b | (b * 2)) & 1431655765 AS b FROM s3)
        |SELECT o_orderkey, x, y, a | (b * 2) AS zcode
        |FROM s4 ORDER BY zcode, o_orderkey LIMIT 200""".stripMargin),

    // Item-item co-occurrence with lift (market-basket / co-purchase
    // prep): pair counts against independent-frequency expectation.
    // Spark side groups each customer's distinct items in ONE shuffle
    // (map-side partial collect_set; no DISTINCT pre-pass) and
    // MATERIALIZES the basket table (localCheckpoint): pairs, item
    // frequencies and the basket total all derive from it, and without
    // the barrier each CTE branch re-runs the whole 3-table basket
    // build (filter pushdown makes the branch subplans non-canonical,
    // defeating exchange reuse; measured 4×). Pair emission is fused
    // into the downstream grouped pass: one explode per basket, pairs
    // travel as ONE BIGINT (a*2^32 + b — primitive explode+agg keys
    // codegen cheaper than array<struct> rows). The packing is only
    // valid while partkeys < 2^31 (x*2^32 must stay inside SIGNED
    // 64-bit; TPC-H reaches 2^31 partkeys around SF~10,700); the basket
    // build GUARDS it (items is sorted, so checking the last element is
    // O(1) per basket) and fails loudly with the struct-key fallback
    // named in the error, instead of silently colliding.
    // The pair/freq aggregations shuffle <1 MB at bench sf, so the
    // reducer count is sized down (8) AFTER the heavy 3-table basket
    // build has materialized at full parallelism — only the post-build
    // sub-MB shuffles see the small knob; at warehouse scale this knob
    // is sized by volume, and the plan shape (broadcast joins on the
    // item-cardinality freq table, no pair self-join) is unchanged.
    // cache+count forces execution while the conf is armed (q153's
    // pattern); the previous invocation's pinned result is released
    // first. Oracle keeps the self-join formulation.
    // Stage shape (measured, not guessed — r7): the fully-fused
    // alternative ("emit pairs + item markers + basket marker in ONE
    // explode, group once, self-join the grouped table") was built and
    // benched at 3.3 s vs this form's 1.7 s at sf0.1 — it materializes
    // and rescans the PAIR-sized counts table four times, losing the
    // pipelining where pair counts stream straight into the top-50
    // TakeOrdered without ever being stored. The scale-correct shape is
    // therefore: checkpoint the small basket view once; fuse the two
    // ITEM-sized statistics (per-item frequency + basket total) into
    // one marker-trick grouped pass; keep the pair aggregation
    // streaming into the broadcast-join + top-k. Residual vs DuckDB
    // (~0.1 s) is Spark's per-stage dispatch constant on a 3-job chain
    // (basket checkpoint, ft, final) — the floor for this plan shape.
    "q140_item_cooccur" -> api({ (spark, _) =>
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        checkpointView(spark, "graft_q140_baskets", spark.sql(
          """SELECT /*+ BROADCAST(part) */ o_custkey AS cust,
            |  IF(element_at(items, -1) < 2147483648, items, raise_error(
            |    'q140: l_partkey >= 2^31 breaks BIGINT pair packing — '
            |    || 'switch the pair key to struct(item_a, item_b)'))
            |    AS items
            |FROM (
            |  SELECT o_custkey, sort_array(collect_set(l_partkey)) AS items
            |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            |  JOIN part ON p_partkey = l_partkey
            |  WHERE p_type = 'PROMO'
            |  GROUP BY o_custkey)""".stripMargin))
        // reducer count sized by MEASURED pair volume (r15 — the
        // "sized by volume at warehouse scale" note, now real): one
        // cheap agg over the checkpointed basket table estimates the
        // packed-pair rows; ~2M pair rows per reducer, floor 8 (the
        // dispatch-floor knob at bench sf). The fixed 8 measured 80 s
        // at sf10sv (spilling reducers); sized, the plan is linear.
        val pairsEst = spark.sql(
          """SELECT coalesce(sum(CAST(size(items) AS BIGINT) *
            |  (size(items) - 1) DIV 2), 0) FROM graft_q140_baskets"""
            .stripMargin).collect()(0).getLong(0)
        spark.conf.set("spark.sql.shuffle.partitions",
          Math.max(8L, Math.min(4096L, pairsEst / 2000000L)).toString)
        // item frequency AND basket total from one grouped pass: each
        // basket emits its items plus a -1 marker (item ids are >= 1,
        // so the ranges cannot collide); both results are item-sized
        // and broadcast into the pair stream below.
        checkpointView(spark, "graft_q140_ft", spark.sql(
          """SELECT it, count(*) AS n FROM graft_q140_baskets
            |LATERAL VIEW explode(concat(
            |  array(CAST(-1 AS BIGINT)),
            |  transform(items, x -> CAST(x AS BIGINT)))) e AS it
            |GROUP BY it""".stripMargin))
        val view = "graft_q140_cache"
        if (spark.catalog.tableExists(view)) {
          spark.table(view).unpersist()
          spark.catalog.dropTempView(view)
        }
        val df = spark.sql(
          """WITH pairs AS (
            |  SELECT pr DIV 4294967296 AS item_a, pr % 4294967296 AS item_b,
            |    count(*) AS together
            |  FROM graft_q140_baskets
            |  LATERAL VIEW explode(flatten(transform(items, (x, i) ->
            |    transform(slice(items, i + 2, size(items)),
            |      y -> x * 4294967296 + y)))) e AS pr
            |  GROUP BY pr)
            |SELECT /*+ BROADCAST(fa, fb, tot) */ p.item_a, p.item_b,
            |  p.together,
            |  round(CAST(p.together AS DOUBLE) * tot.n /
            |    (fa.n * fb.n), 4) AS lift
            |FROM pairs p
            |JOIN graft_q140_ft fa ON p.item_a = fa.it
            |JOIN graft_q140_ft fb ON p.item_b = fb.it
            |CROSS JOIN (SELECT n FROM graft_q140_ft WHERE it = -1) tot
            |ORDER BY p.together DESC, p.item_a, p.item_b LIMIT 50"""
            .stripMargin)
        df.cache().count()
        df.createOrReplaceTempView(view)
        df
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    },
      """WITH bought AS (
        |  SELECT DISTINCT o_custkey AS cust, l_partkey AS item
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'PROMO'),
        |freq AS (SELECT item, count(*) AS n_cust FROM bought
        |         GROUP BY item),
        |tot AS (SELECT count(DISTINCT cust) AS n FROM bought),
        |pairs AS (
        |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS together
        |  FROM bought a JOIN bought b
        |    ON a.cust = b.cust AND a.item < b.item
        |  GROUP BY a.item, b.item)
        |SELECT p.item_a, p.item_b, p.together,
        |  round(CAST(p.together AS DOUBLE) * tot.n /
        |    (fa.n_cust * fb.n_cust), 4) AS lift
        |FROM pairs p
        |JOIN freq fa ON p.item_a = fa.item
        |JOIN freq fb ON p.item_b = fb.item
        |CROSS JOIN tot
        |ORDER BY p.together DESC, p.item_a, p.item_b LIMIT 50"""
        .stripMargin, headline = true),

    // Character-trigram language-model cross-entropy per document (the
    // perplexity-style quality filter of corpus curation): corpus
    // trigram counts are self-trained in one pass, then each document
    // is scored by the mean surprise -ln(count/total) of its trigrams.
    // The per-document trigram-count table (dtc) is aggregated ONCE and
    // MATERIALIZED (localCheckpoint); exactly TWO consumers read it —
    // the corpus-count pass and the scoring join. The corpus total is
    // NOT a third scan of dtc: it folds into the corpus-count pass as a
    // global window over the already-aggregated trigram table (trigram-
    // cardinality small, broadcast anyway — the one place a global
    // window is scale-safe). The corpus count table broadcasts back for
    // scoring — the scale-safe shape (a per-trigram window would put
    // every doc sharing a hot trigram in one partition). Scoring weights
    // each distinct trigram by its in-doc count (identical math to the
    // per-instance avg). Post-dtc shuffles are trigram/doc-cardinality
    // small, so the reducer count is sized down while the entry
    // executes (q140's pattern — cache+count while the conf is armed).
    "q141_trigram_lm" -> api({ (spark, _) =>
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        // fused char_ngrams_all: the transform(sequence, substring)
        // chain is a higher-order function — never codegen'd — and this
        // explode is the entry's dominant pass
        checkpointView(spark, "graft_q141_dtc", spark.sql(
          """SELECT doc_id, t, count(*) AS k FROM documents
            |LATERAL VIEW explode(char_ngrams_all(text, 3)) x AS t
            |GROUP BY doc_id, t""".stripMargin))
        // small knob armed only now: the corpus-wide explode+agg above
        // ran at full parallelism; what follows shuffles sub-MB tables
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        val view = "graft_q141_cache"
        if (spark.catalog.tableExists(view)) {
          spark.table(view).unpersist()
          spark.catalog.dropTempView(view)
        }
        val df = spark.sql(
          """WITH cnt AS (SELECT t, sum(k) AS c FROM graft_q141_dtc
            |             GROUP BY t),
            |cn AS (SELECT t, c, sum(c) OVER () AS n FROM cnt)
            |SELECT /*+ BROADCAST(cn) */ dtc.doc_id,
            |  CAST(sum(k) AS BIGINT) AS n_tri,
            |  round(sum(k * ln(CAST(cn.n AS DOUBLE) / cn.c)) / sum(k), 4)
            |    AS cross_entropy
            |FROM graft_q141_dtc dtc
            |JOIN cn ON dtc.t = cn.t
            |GROUP BY dtc.doc_id ORDER BY dtc.doc_id""".stripMargin)
        df.cache().count()
        df.createOrReplaceTempView(view)
        df
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    },
      """WITH tri AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(length(text) - 2, 1) + 1),
        |    i -> substring(text, i, 3))) AS t
        |  FROM documents),
        |dtc AS (SELECT doc_id, t, count(*) AS k FROM tri
        |        GROUP BY doc_id, t),
        |cnt AS (SELECT t, sum(k) AS c FROM dtc GROUP BY t),
        |tot AS (SELECT sum(k) AS n FROM dtc)
        |SELECT dtc.doc_id, CAST(sum(k) AS BIGINT) AS n_tri,
        |  round(sum(k * ln(CAST(tot.n AS DOUBLE) / cnt.c)) / sum(k), 4)
        |    AS cross_entropy
        |FROM dtc JOIN cnt ON dtc.t = cnt.t CROSS JOIN tot
        |GROUP BY dtc.doc_id ORDER BY dtc.doc_id""".stripMargin, headline = true),

    // Tokenizer-vocabulary build + per-document OOV rate: the top-k
    // corpus vocabulary (count-desc, term tie-break) LEFT-joined back
    // into the token stream. The vocabulary is top-k-small by
    // construction, so the scoring join broadcasts; this corpus has a
    // ~30-word synthetic vocabulary, so k=15 makes OOV non-vacuous.
    "q145_vocab_oov" -> sql(
      """WITH tok AS (
        |  SELECT doc_id, explode(split(trim(lower(text)), '\\s+')) AS term
        |  FROM documents),
        |vocab AS (SELECT term FROM (
        |  SELECT term, count(*) AS c FROM tok GROUP BY term
        |  ORDER BY c DESC, term LIMIT 15) v)
        |SELECT t.doc_id, count(*) AS n_tok,
        |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS oov_ratio
        |FROM tok t LEFT JOIN vocab v ON t.term = v.term
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |vocab AS (SELECT term FROM (
        |  SELECT term, count(*) AS c FROM tok GROUP BY term
        |  ORDER BY c DESC, term LIMIT 15) v)
        |SELECT t.doc_id, count(*) AS n_tok,
        |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS oov_ratio
        |FROM tok t LEFT JOIN vocab v ON t.term = v.term
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),

    // Sequence packing for training batches: running token offset per
    // language shard, documents assigned to fixed 512-token budget
    // batches by their start offset. One window pass per shard key —
    // the deterministic batch layout step before tensorization. (The
    // shard key bounds the window partition; a global pack would
    // serialize on one partition at scale.)
    "q146_seq_pack" -> sql(
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |p AS (SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT lang,
        |  CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS batch_id,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS batch_tokens
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |p AS (SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT lang,
        |  CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS batch_id,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS batch_tokens
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Quality-weighted deterministic sampling: accept a document iff
    // its content-hash fraction falls below its length-derived weight —
    // importance sampling that is reproducible on any engine or
    // partitioning (the weighted generalization of q92's flat hash
    // sample). Map-only; the filter pipelines with the scan.
    "q147_weighted_sample" -> sql(
      """SELECT doc_id,
        |  round(least(1.0, CAST(n_chars AS DOUBLE) / 1000.0), 6) AS w,
        |  round(CAST(conv(substring(md5(text), 1, 6), 16, 10) AS DOUBLE)
        |    / 16777216.0, 6) AS hf
        |FROM documents
        |WHERE CAST(conv(substring(md5(text), 1, 6), 16, 10) AS DOUBLE)
        |    / 16777216.0 < least(1.0, CAST(n_chars AS DOUBLE) / 1000.0)
        |ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |  round(least(1.0, CAST(n_chars AS DOUBLE) / 1000.0), 6) AS w,
        |  round(CAST(('0x' || substring(md5(text), 1, 6))::BIGINT
        |    AS DOUBLE) / 16777216.0, 6) AS hf
        |FROM documents
        |WHERE CAST(('0x' || substring(md5(text), 1, 6))::BIGINT AS DOUBLE)
        |    / 16777216.0 < least(1.0, CAST(n_chars AS DOUBLE) / 1000.0)
        |ORDER BY doc_id""".stripMargin),

    // Character-unigram entropy per document — the compression-ratio
    // proxy that flags keyboard-mash and boilerplate text (low entropy)
    // independently of the trigram LM score (q141). Character counts
    // partial-aggregate map-side; the per-document entropy fold is one
    // small agg on the doc key.
    "q148_char_entropy" -> sql(
      """WITH ch AS (
        |  SELECT doc_id, c, count(*) AS k FROM documents
        |  LATERAL VIEW explode(transform(
        |    sequence(1, greatest(length(text), 1)),
        |    i -> substring(text, i, 1))) x AS c
        |  GROUP BY doc_id, c),
        |n AS (SELECT doc_id, sum(k) AS n FROM ch GROUP BY doc_id)
        |SELECT ch.doc_id,
        |  count(*) AS n_distinct_chars,
        |  round(-sum((CAST(k AS DOUBLE) / n.n) *
        |    ln(CAST(k AS DOUBLE) / n.n)), 4) AS entropy
        |FROM ch JOIN n ON ch.doc_id = n.doc_id
        |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin,
      """WITH ch AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(length(text), 1) + 1),
        |    i -> substring(text, i, 1))) AS c
        |  FROM documents),
        |cc AS (SELECT doc_id, c, count(*) AS k FROM ch
        |       GROUP BY doc_id, c),
        |n AS (SELECT doc_id, sum(k) AS n FROM cc GROUP BY doc_id)
        |SELECT cc.doc_id,
        |  count(*) AS n_distinct_chars,
        |  round(-sum((CAST(k AS DOUBLE) / n.n) *
        |    ln(CAST(k AS DOUBLE) / n.n)), 4) AS entropy
        |FROM cc JOIN n ON cc.doc_id = n.doc_id
        |GROUP BY cc.doc_id ORDER BY cc.doc_id""".stripMargin),

    // Prompt construction (reference H3, eval/prompt_formatters.py:89-127
    // duckdbinst): the schema text folds into literal prefix/suffix, so a
    // corpus of prompts is ONE codegen'd concat per row — map-only. The
    // oracle rebuilds the identical byte string with DuckDB string
    // concatenation; the hardcoded schema text doubles as a drift guard
    // (if the Spark-side nation schema changed, the hash would diverge).
    "q149_prompt_format" -> api((spark, _) => {
      val qdf = spark.table("documents").select(col("doc_id"),
        concat(lit("Answer using nation: "), substring(col("text"), 1, 40))
          .as("question"))
      PromptOps.withPrompt(qdf, "question", "duckdbinst",
          Seq("nation" -> spark.table("nation").schema))
        .select(col("doc_id"), col("prompt"))
        .orderBy("doc_id")
    }, {
      val nationText = "CREATE TABLE nation (\n    n_nationkey INTEGER," +
        "\n    n_name VARCHAR,\n    n_regionkey INTEGER\n)"
      val (pre, post) = PromptOps.promptParts("duckdbinst", nationText, "")
      def sqlLit(s: String) = "'" + s.replace("'", "''") + "'"
      s"""SELECT doc_id,
         |  ${sqlLit(pre + "Answer using nation: ")} ||
         |  substring(text, 1, 40) || ${sqlLit(post)} AS prompt
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // Eval-set decontamination by 13-gram overlap (the GPT-3/PaLM rule:
    // a train document is contaminated if it shares any 13-gram with a
    // held-out document). Reuses q63's md5-nibble split. Grams travel as
    // md5 fingerprints, distinct-ed per doc map-side (array_distinct
    // inside the explode), so the join key is 32 bytes regardless of n;
    // the held-out gram set is split-fraction-small and one fingerprint
    // shuffle matches train grams against it — no doc×doc comparison at
    // any scale. Complements q64 (whole-prefix fingerprints): this
    // catches partial copies a prefix fingerprint misses.
    // Spark side shingles via the fused word_shingles kernel (one pass,
    // distinct, no per-position re-slice of the token array — the
    // interpreted transform(sequence, slice, array_join) chain it
    // replaces cost ~2x the kernel at sf0.1) with the 32-byte md5
    // fingerprint applied per exploded row (codegen'd), not inside a
    // higher-order lambda.
    "q150_ngram_decontam" -> sql(
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    CASE WHEN substring(md5(text), 1, 1) IN $trainNibbles
         |      THEN 'train' ELSE 'heldout' END AS split,
         |    word_shingles(text, 13) AS sh
         |  FROM documents),
         |ng AS (
         |  SELECT doc_id, split, md5(s) AS g
         |  FROM tok LATERAL VIEW explode(sh) t AS s),
         |hg AS (SELECT DISTINCT g FROM ng WHERE split = 'heldout')
         |SELECT t.doc_id, count(*) AS n_shared_13grams
         |FROM ng t JOIN hg ON t.g = hg.g
         |WHERE t.split = 'train'
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    CASE WHEN substring(md5(text), 1, 1) IN $trainNibbles
         |      THEN 'train' ELSE 'heldout' END AS split,
         |    string_split(trim(text), ' ') AS w
         |  FROM documents),
         |ng AS (
         |  SELECT doc_id, split, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(w) - 12, 1) + 1),
         |    i -> md5(array_to_string(w[i:i+12], ' '))))) AS g
         |  FROM tok),
         |hg AS (SELECT DISTINCT g FROM ng WHERE split = 'heldout')
         |SELECT t.doc_id, count(*) AS n_shared_13grams
         |FROM ng t JOIN hg ON t.g = hg.g
         |WHERE t.split = 'train'
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
      headline = true),

    // Duplicated-n-gram fraction per document (the Gopher repetition
    // filter measured CORPUS-wide: what share of a doc's 10-gram
    // occurrences also appear in some other doc). The corpus-wide doc
    // count per gram is a window over the per-(doc, gram) count table
    // (count(*) OVER (PARTITION BY g)) rather than a self-join against
    // a dup-gram set — the corpus is exploded and aggregated exactly
    // once, then only the compact (doc, gram, k) table moves through
    // the g-window and the doc rollup. Distinguishes in-doc repetition
    // (q85) from cross-doc boilerplate: this is the signal that strips
    // shared headers/footers at corpus scale.
    // Spark side via the non-distinct fused kernel (word_shingles_all):
    // occurrence counting needs every gram position, so the distinct
    // word_shingles kernel q150 uses would undercount; md5 runs
    // codegen'd per exploded row, not inside a higher-order lambda.
    "q151_dup_ngram_frac" -> sql(
      """WITH ng AS (
        |  SELECT doc_id, md5(s) AS g
        |  FROM documents
        |  LATERAL VIEW explode(word_shingles_all(text, 10)) t AS s),
        |dgc AS (SELECT doc_id, g, count(*) AS k FROM ng
        |        GROUP BY doc_id, g),
        |dgd AS (SELECT doc_id, k,
        |          count(*) OVER (PARTITION BY g) AS ndocs FROM dgc)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN ndocs > 1 THEN k ELSE 0 END)
        |    AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN ndocs > 1 THEN k ELSE 0 END)
        |    AS DOUBLE) / sum(k), 6) AS dup_frac
        |FROM dgd GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      headline = true,
      duckSql = """WITH tok AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(w) - 9, 1) + 1),
        |    i -> md5(array_to_string(w[i:i+9], ' ')))) AS g
        |  FROM tok),
        |dgc AS (SELECT doc_id, g, count(*) AS k FROM ng
        |        GROUP BY doc_id, g),
        |dgd AS (SELECT doc_id, k,
        |          count(*) OVER (PARTITION BY g) AS ndocs FROM dgc)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN ndocs > 1 THEN k ELSE 0 END)
        |    AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN ndocs > 1 THEN k ELSE 0 END)
        |    AS DOUBLE) / sum(k), 6) AS dup_frac
        |FROM dgd GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Slowly-changing-dimension type 2 build: each user's event stream
    // becomes validity intervals (valid_from, valid_to, is_current) —
    // the dimension-table shape a warehouse derives from CDC feeds.
    // One window pass per user partition (lead), no joins; identical
    // text runs on both engines.
    "q152_scd2_history" -> same(
      """WITH s AS (
        |  SELECT user_id, event_type AS status, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS valid_to
        |  FROM events WHERE event_type IN ('signup', 'purchase', 'error'))
        |SELECT user_id, status, valid_from, valid_to,
        |  CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM s
        |ORDER BY user_id, valid_from, status, valid_to""".stripMargin),

    // DSIR-style importance weights (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score each doc by
    // the average log-likelihood ratio of its hashed-unigram features
    // under a target distribution (here the 'en' subcorpus) vs the raw
    // corpus. Two linear passes, exactly how DSIR runs at scale: a fit
    // pass reduces the corpus to a 256-bucket count table (bucket = the
    // first md5 byte of the token, portable across engines), which is
    // broadcast back for the score pass — no giant per-bucket window
    // partitions, no driver-side model. The add-one-smoothed
    // normalizers ln(T+256) - ln(R+256) are doc-independent, so they
    // fold into one constant instead of a per-row division.
    "q154_dsir_weights" -> api({ (spark, _) =>
      // ONE tokenize+md5 pass: reduce straight to the (doc, bucket)
      // count table (lang rides along — functionally dependent on
      // doc_id) and derive the 256-bucket model FROM that table,
      // instead of running the explode once for the model and again
      // for the score pass (the branch-subplan re-run phenomenon of
      // q140/q172; measured 1.29 s → ~0.8 s at sf0.1). Checkpointed:
      // it feeds the model aggregation AND the score join.
      checkpointView(spark, "graft_q154_dbc", spark.table("documents")
        .select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("lang"),
          substring(md5(col("t")), 1, 2).as("b"))
        .agg(count(lit(1)).as("k")))
      val dbc = spark.table("graft_q154_dbc")
      val st = dbc.groupBy("b").agg(
        sum(when(col("lang") === "en", col("k")).otherwise(0L)).as("tc"),
        sum(col("k")).as("rc"))
      val tot = st.agg(sum("tc").as("t_tot"), sum("rc").as("r_tot"))
      dbc.join(broadcast(st), "b").crossJoin(broadcast(tot))
        .withColumn("c", log((col("t_tot") + lit(256.0)) /
          (col("r_tot") + lit(256.0))))
        .groupBy("doc_id")
        .agg(sum("k").cast("long").as("n_tok"),
          GraftFunctions.duckRound(
            sum(col("k") * (log(col("tc") + 1) - log(col("rc") + 1)))
              / sum(col("k")) - max(col("c")), 6).as("dsir_w"))
        .orderBy("doc_id")
    },
      s"""WITH tok AS (
         |  SELECT doc_id, lang, unnest($duckTokens) AS t FROM documents),
         |tb AS (SELECT doc_id, lang, substr(md5(t), 1, 2) AS b FROM tok),
         |st AS (SELECT b,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc,
         |    count(*) AS rc FROM tb GROUP BY b),
         |tot AS (SELECT sum(tc) AS t_tot, sum(rc) AS r_tot FROM st),
         |dbc AS (SELECT doc_id, b, count(*) AS k FROM tb
         |        GROUP BY doc_id, b)
         |SELECT d.doc_id, CAST(sum(d.k) AS BIGINT) AS n_tok,
         |  round(sum(d.k * (ln(st.tc + 1) - ln(st.rc + 1))) / sum(d.k)
         |    - ln((t.t_tot + 256.0) / (t.r_tot + 256.0)), 6) AS dsir_w
         |FROM dbc d JOIN st ON d.b = st.b CROSS JOIN tot t
         |GROUP BY d.doc_id, t.t_tot, t.r_tot
         |ORDER BY d.doc_id""".stripMargin,
      headline = true),

    // Quality-ranked domain mixing under a token budget: each source
    // keeps its best-quality docs (rounded-quality-desc, doc_id
    // tie-break) until half its token mass is spent — the mixture-
    // construction step that turns per-doc quality scores into an
    // actual training corpus. Integer budget arithmetic (cum*2 <=
    // src_tok) so the cut is exact on both engines; the per-source
    // totals are a tiny broadcast, and the only wide shuffle is the
    // per-source ranking window.
    "q155_token_budget_mix" -> api({ (spark, _) =>
      import org.apache.spark.sql.expressions.Window
      val d = spark.table("documents").select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
        TextOps.qualityScore(col("text")).as("q"))
      val stot = d.groupBy("source").agg(sum("n_tok").as("src_tok"))
      val w = Window.partitionBy("source")
        .orderBy(col("q").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.join(broadcast(stot), "source")
        .withColumn("cum", sum("n_tok").over(w))
        .where(col("cum") * 2 <= col("src_tok"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_kept"),
          sum("n_tok").cast("long").as("tok_kept"),
          round(min("q"), 6).as("min_quality"))
        .orderBy("source")
    },
      s"""WITH d AS (
         |  SELECT doc_id, source, len($duckTokens) AS n_tok,
         |    $duckQuality AS q
         |  FROM documents),
         |s AS (SELECT source, sum(n_tok) AS src_tok FROM d GROUP BY source),
         |w AS (SELECT d.doc_id, d.source, d.n_tok, d.q,
         |    sum(d.n_tok) OVER (PARTITION BY d.source
         |      ORDER BY d.q DESC, d.doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |    s.src_tok
         |  FROM d JOIN s USING (source))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_kept,
         |  round(min(q), 6) AS min_quality
         |FROM w WHERE cum * 2 <= src_tok
         |GROUP BY source ORDER BY source""".stripMargin),

    // Padding-efficiency profile for length-bucketed batching: docs
    // binned to the next power-of-two token length, per-bucket padding
    // waste if every doc pads to the bucket size. The report a packing
    // strategy is tuned against (cf. q146's greedy packer). Map-only
    // + one small agg; integer outputs except the final ratio. The
    // Spark bucket is bit-length arithmetic (length(bin(n-1))), not
    // float ceil(log2(n)): Spark's log2 = ln(x)/ln(2) overshoots at
    // exact powers of two (ceil(log2(2^29)) = 30), which would both
    // diverge from DuckDB's exact log2 and double the pad size.
    "q156_pad_efficiency" -> sql(
      """WITH d AS (
        |  SELECT doc_id,
        |    greatest(size(split(trim(text), '\\s+')), 1) AS n_tok
        |  FROM documents),
        |b AS (SELECT n_tok,
        |    CASE WHEN n_tok <= 1 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(power(2,
        |        length(bin(CAST(n_tok AS BIGINT) - 1))) AS BIGINT)
        |    END AS bucket FROM d)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS toks,
        |  CAST(sum(bucket - n_tok) AS BIGINT) AS pad_waste,
        |  round(CAST(sum(bucket - n_tok) AS DOUBLE) / sum(bucket), 6)
        |    AS waste_frac
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
      s"""WITH d AS (
         |  SELECT doc_id, greatest(len($duckTokens), 1) AS n_tok
         |  FROM documents),
         |b AS (SELECT n_tok,
         |    CASE WHEN n_tok <= 1 THEN CAST(1 AS BIGINT)
         |      ELSE CAST(power(2,
         |        length(bin(CAST(n_tok AS BIGINT) - 1))) AS BIGINT)
         |    END AS bucket FROM d)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS toks,
         |  CAST(sum(bucket - n_tok) AS BIGINT) AS pad_waste,
         |  round(CAST(sum(bucket - n_tok) AS DOUBLE) / sum(bucket), 6)
         |    AS waste_frac
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Deterministic language rebalancing: downsample every language to
    // the smallest language's expected share by accepting a doc iff its
    // content-hash fraction clears the per-language rate (min_count /
    // lang_count). Content-keyed like q92, so the kept set is stable
    // under repartitioning and across engines; the rate table is a
    // 5-row broadcast. `f * c < mc` keeps the accept test in one IEEE
    // multiply instead of a division per row.
    "q157_lang_rebalance" -> sql(
      """WITH lc AS (SELECT lang, count(*) AS c FROM documents
        |            GROUP BY lang),
        |m AS (SELECT min(c) AS mc FROM lc),
        |d AS (SELECT doc_id, lang,
        |    CAST(conv(substring(md5(text), 1, 12), 16, 10) AS DOUBLE)
        |      / CAST(281474976710656 AS DOUBLE) AS f
        |  FROM documents)
        |SELECT d.doc_id, d.lang
        |FROM d JOIN lc ON d.lang = lc.lang CROSS JOIN m
        |WHERE d.f * lc.c < CAST(m.mc AS DOUBLE)
        |ORDER BY d.doc_id""".stripMargin,
      """WITH lc AS (SELECT lang, count(*) AS c FROM documents
        |            GROUP BY lang),
        |m AS (SELECT min(c) AS mc FROM lc),
        |d AS (SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5(text), 1, 12))::BIGINT AS DOUBLE)
        |      / CAST(281474976710656 AS DOUBLE) AS f
        |  FROM documents)
        |SELECT d.doc_id, d.lang
        |FROM d JOIN lc ON d.lang = lc.lang CROSS JOIN m
        |WHERE d.f * lc.c < CAST(m.mc AS DOUBLE)
        |ORDER BY d.doc_id""".stripMargin),

    // Corpus snapshot DIFF — dataset versioning's core query: given two
    // snapshots of the corpus (derived deterministically here: snapshot
    // A drops every 7th doc, snapshot B drops every 5th and rewrites
    // every 11th's text), report per doc_id whether it was added,
    // removed, changed (content fingerprint differs) or unchanged. One
    // full-outer hash join on the id with map-side fingerprints — the
    // shape that scales to a 100 TB snapshot pair; at warehouse scale
    // the fingerprints are persisted columns and the join is the whole
    // cost. Unchanged rows are the overwhelming mass in practice, so
    // the entry reports them as one aggregate row (status='same',
    // count) and lists only the interesting ids.
    "q195_corpus_diff" -> api((spark, _) => {
      val d = spark.table("documents")
      val fpA = TextOps.normFingerprint(col("text"))
      val fpB = TextOps.normFingerprint(
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
      val a = d.where(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id").as("id_a"), fpA.as("fp_a"))
      val b = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id").as("id_b"), fpB.as("fp_b"))
      val joined = a.join(b, col("id_a") === col("id_b"), "full_outer")
        .select(coalesce(col("id_a"), col("id_b")).as("doc_id"),
          when(col("id_a").isNull, "added")
            .when(col("id_b").isNull, "removed")
            .when(col("fp_a") =!= col("fp_b"), "changed")
            .otherwise("same").as("status"))
      // one pass: collapsing 'same' ids to the sentinel makes the mixed
      // granularity (per-id rows + one aggregate row) a single groupBy —
      // a union of two filters over `joined` would run the full-outer
      // join twice
      joined.select(col("status"),
          when(col("status") === "same", lit(-1L)).otherwise(col("doc_id"))
            .as("doc_id"))
        .groupBy("status", "doc_id").agg(count(lit(1)).as("n"))
        .orderBy("status", "doc_id")
    },
      """WITH a AS (SELECT doc_id,
        |    md5(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 7 <> 0),
        |b AS (SELECT doc_id,
        |    md5(regexp_replace(regexp_replace(lower(
        |      CASE WHEN doc_id % 11 = 0 THEN text || ' edited'
        |           ELSE text END),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 5 <> 0),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.fp <> b.fp THEN 'changed'
        |         ELSE 'same' END AS status
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT status, doc_id, CAST(1 AS BIGINT) AS n FROM j
        |WHERE status <> 'same'
        |UNION ALL
        |SELECT status, CAST(-1 AS BIGINT) AS doc_id, count(*) AS n
        |FROM j WHERE status = 'same' GROUP BY status
        |ORDER BY status, doc_id""".stripMargin,
      headline = true),

    // HTML main-content extraction (r9) — the crawl-ingestion front
    // every 100 TB web corpus starts from, generalizing the reference's
    // plain-file document loading (eval/doc_retriever.py:28-37). One
    // fused codegen'd scan per page (GraftHtml.extractMain): tag strip,
    // script/style + head/nav/header/footer/aside boilerplate removal,
    // entity decode, main → article → whole-document scope choice,
    // whitespace collapse. Oracle = the fixture's expected text,
    // precomputed by a DIFFERENT stack (tools/gen_html_fixture.py,
    // Python's event-driven html.parser over 5000 generated pages with
    // nested boilerplate, quoted '>' in attributes, entities, comments
    // containing tags) — byte-exact equality pins the shared spec.
    "q197_html_extract" -> api((spark, _) =>
      spark.read.parquet(HtmlFix)
        .join(broadcast(spark.table("documents").select(col("doc_id"))),
          Seq("doc_id"), "leftsemi")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.htmlExtractMain(col("html"))
            .as("main_text"))
        .orderBy("doc_id"),
      s"""SELECT e.doc_id, e.main_text
        |FROM read_parquet('$HtmlFix') e
        |JOIN documents d ON e.doc_id = d.doc_id
        |ORDER BY e.doc_id""".stripMargin,
      headline = true),

    // The extraction COMPOSED in front of the curation chain (q69's
    // shape): extract → normalization-fingerprint dedup → quality
    // scoring on survivors only (the `when(rn = 1, ...)` guard keeps
    // the expensive kernels off duplicate rows) → one-row corpus
    // funnel summary. The oracle rebuilds the funnel from the
    // fixture's independently extracted main_text with the SAME shared
    // SQL fragments the q48/q50 oracles use, so extraction, dedup and
    // scoring can't drift apart unnoticed.
    "q198_html_curation_front" -> api((spark, _) => {
      import org.apache.spark.sql.expressions.Window
      val extracted = spark.read.parquet(HtmlFix)
        .join(broadcast(spark.table("documents").select(col("doc_id"))),
          Seq("doc_id"), "leftsemi")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.htmlExtractMain(col("html"))
            .as("text"))
      extracted
        .withColumn("fp", TextOps.normFingerprint(col("text")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("fp").orderBy("doc_id")))
        .withColumn("q",
          when(col("rn") === 1, TextOps.qualityScore(col("text"))))
        .withColumn("toks", when(col("q") >= 0.5,
          size(split(trim(col("text")), "\\s+")).cast("long")))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_unique"),
          sum(when(col("q") >= 0.5, 1L).otherwise(0L)).as("n_kept"),
          coalesce(sum("toks"), lit(0L)).as("kept_tokens"))
    },
      s"""WITH e AS (SELECT e.doc_id, e.main_text AS text
        |  FROM read_parquet('$HtmlFix') e
        |  JOIN documents d ON e.doc_id = d.doc_id),
        |keyed AS (SELECT doc_id, text, $duckFingerprint AS fp FROM e),
        |dd AS (SELECT *, row_number() OVER (PARTITION BY fp
        |    ORDER BY doc_id) AS rn FROM keyed),
        |sc AS (SELECT *, CASE WHEN rn = 1 THEN $duckQuality END AS q
        |  FROM dd)
        |SELECT count(*) AS n_docs,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unique,
        |  CAST(sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN q >= 0.5 THEN
        |    len(string_split_regex(trim(text), '\\s+')) END), 0)
        |    AS BIGINT) AS kept_tokens
        |FROM sc""".stripMargin,
      headline = true),

    // Exact-substring dedup at ≥8-token granularity (r9) — the
    // distributed formulation of Lee et al.'s suffix-array ExactSubstr
    // (see TextOps.exactSubstrDedup: union of duplicated 8-token
    // windows == the maximal duplicated spans). The oracle derives the
    // same spans INDEPENDENTLY: coverage via a correlated EXISTS range
    // probe (dup start in [p-7, p]) instead of the engine's
    // per-document span kernel, so the two formulations cross-check
    // each other.
    "q199_exact_substr_dedup" -> api((spark, _) =>
      TextOps.exactSubstrDedup(spark.table("documents"),
        "doc_id", "text", n = 8).orderBy("doc_id"),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |ex AS (SELECT doc_id, words,
        |    unnest(range(1, len(words) - 6)) AS i FROM w),
        |stf AS (SELECT doc_id, i AS s,
        |    ('0x' || substring(md5(array_to_string(words[i:i+7], ' ')),
        |      1, 12))::BIGINT AS fp
        |  FROM ex),
        |dup AS (SELECT fp FROM stf GROUP BY fp HAVING count(*) >= 2),
        |ds AS (SELECT doc_id, s FROM stf JOIN dup USING (fp)),
        |tok AS (SELECT doc_id, unnest(words) AS word,
        |    generate_subscripts(words, 1) AS p FROM w),
        |cov AS (SELECT t.doc_id, t.p, t.word,
        |    EXISTS (SELECT 1 FROM ds WHERE ds.doc_id = t.doc_id
        |      AND ds.s BETWEEN t.p - 7 AND t.p) AS c
        |  FROM tok t),
        |runs AS (SELECT doc_id, p, word, c,
        |    CASE WHEN c AND NOT coalesce(
        |      lag(c) OVER (PARTITION BY doc_id ORDER BY p), FALSE)
        |    THEN 1 ELSE 0 END AS sp
        |  FROM cov)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(count(*) FILTER (c) AS BIGINT) AS n_removed,
        |  CAST(sum(sp) AS BIGINT) AS n_spans,
        |  coalesce(string_agg(word, ' ' ORDER BY p) FILTER (NOT c), '')
        |    AS kept_text
        |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      headline = true),

    // GPT-style concat-and-chunk sequence packing (r9): documents
    // concatenate in doc_id order, the token stream cuts into 512-token
    // training sequences, each doc reports its [chunk_first,
    // chunk_last] span. The global running offset is a distributed
    // TWO-PASS prefix sum (PackingOps.packChunks: per-partition
    // partials + a #partitions-row offsets table broadcast back) — the
    // oracle computes the same offsets with the naive single-window
    // cumsum DuckDB can afford at sf, so the scalable formulation is
    // pinned against the textbook definition.
    "q200_sequence_packing" -> api((spark, _) =>
      operators.PackingOps.packChunks(
        spark.table("documents").select(col("doc_id"),
          size(split(col("text"), " ")).as("toks")),
        "doc_id", "toks", chunkLen = 512).orderBy("doc_id"),
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks,
        |    CAST(coalesce(sum(toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS gstart
        |  FROM t)
        |SELECT doc_id, toks, gstart,
        |  CAST(gstart // 512 AS BIGINT) AS chunk_first,
        |  CAST((gstart + greatest(toks, 1) - 1) // 512 AS BIGINT)
        |    AS chunk_last
        |FROM c ORDER BY doc_id""".stripMargin,
      headline = true),

    // Temperature-resampled language mixing (r9, the XLM-R-style
    // α-sampling that up-weights low-resource slices; α = 0.5 = sqrt,
    // the one power IEEE 754 rounds correctly in both engines). All
    // remaining arithmetic is integer (quantized weight, 128-bit
    // share), and the kept SET is pinned — selection is md5-of-id
    // order (q92's portable sampling key) and kept_id_sum hashes it.
    "q201_temperature_mix" -> api((spark, _) =>
      operators.PackingOps.temperatureMix(
        spark.table("documents"), "doc_id", "lang")
        .orderBy("key"),
      """WITH counts AS (SELECT lang AS key, count(*) AS n_docs,
        |    CAST(round(sqrt(n_docs) * 1e6) AS BIGINT) AS w
        |  FROM documents GROUP BY lang),
        |targets AS (SELECT key, n_docs,
        |    CAST(w::HUGEINT * (sum(n_docs) OVER ())::HUGEINT
        |      // (sum(w) OVER ())::HUGEINT AS BIGINT) AS target_docs
        |  FROM counts),
        |ranked AS (SELECT lang AS key, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT t.key, t.n_docs, t.target_docs,
        |  CAST(sum(CASE WHEN r.rk <= t.target_docs THEN 1 ELSE 0 END)
        |    AS BIGINT) AS kept_docs,
        |  CAST(coalesce(sum(CASE WHEN r.rk <= t.target_docs
        |    THEN r.doc_id END), 0) AS BIGINT) AS kept_id_sum
        |FROM ranked r JOIN targets t USING (key)
        |GROUP BY t.key, t.n_docs, t.target_docs
        |ORDER BY t.key""".stripMargin,
      headline = true),

    // T5-style span corruption (r9, Raffel et al. 2020 §3.1.4) in its
    // deterministic form: fixed 3-token grid (spans cannot overlap →
    // no sequential collision scan), portable md5 gate per (doc_id,
    // grid cell) at rate 1/10, numbered sentinels via a doc-keyed
    // window cumsum. Oracle rebuilds corrupted+target strings from the
    // same spec in DuckDB — byte-exact string equality pins grid,
    // gate, numbering and both reassemblies.
    "q202_span_corruption" -> api((spark, _) =>
      TextOps.spanCorrupt(spark.table("documents"), "doc_id", "text",
        spanLen = 3, gateMod = 10).orderBy("doc_id"),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS word,
        |    generate_subscripts(words, 1) AS p FROM w),
        |g AS (SELECT doc_id, p, word,
        |    p - ((p - 1) % 3) AS s FROM tok),
        |m AS (SELECT doc_id, p, word, s,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(s AS VARCHAR)), 1, 12))::BIGINT % 10 = 0 AS masked
        |  FROM g),
        |k AS (SELECT doc_id, p, word, masked,
        |    CASE WHEN masked AND p = s THEN 1 ELSE 0 END AS is_start,
        |    sum(CASE WHEN masked AND p = s THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) - 1 AS sk
        |  FROM m)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_masked,
        |  CAST(sum(is_start) AS BIGINT) AS n_spans,
        |  coalesce(string_agg(
        |    CASE WHEN NOT masked THEN word
        |         WHEN is_start = 1 THEN '<extra_id_' || sk || '>' END,
        |    ' ' ORDER BY p) FILTER (NOT masked OR is_start = 1), '')
        |    AS corrupted,
        |  coalesce(string_agg(
        |    CASE WHEN is_start = 1
        |         THEN '<extra_id_' || sk || '> ' || word
        |         ELSE word END,
        |    ' ' ORDER BY p) FILTER (masked), '') AS target
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      headline = true),

    // Length-outlier trim by exact interpolated percentiles (r9): the
    // curation step that drops truncation-fodder and fragment docs.
    // Spark's `percentile` and DuckDB's `quantile_cont` share the
    // interpolated definition (the q152 precedent); bounds ride in the
    // output so the driver pins them, and the kept set is the id-sum-
    // checked complement of the tails.
    "q203_length_trim" -> api((spark, _) => {
      val d = spark.table("documents")
        .select(col("doc_id"), col("n_chars").cast("double").as("len"))
      val bounds = d.agg(
        expr("percentile(len, 0.01)").as("p01"),
        expr("percentile(len, 0.99)").as("p99"))
      d.crossJoin(broadcast(bounds))
        .groupBy("p01", "p99")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("len") >= col("p01") && col("len") <= col("p99"),
            1L).otherwise(0L)).as("n_kept"),
          coalesce(sum(when(col("len") >= col("p01") &&
              col("len") <= col("p99"), col("doc_id"))), lit(0L))
            .as("kept_id_sum"))
        .select(round(col("p01"), 4).as("p01"),
          round(col("p99"), 4).as("p99"),
          col("n_docs"), col("n_kept"), col("kept_id_sum"))
    },
      """WITH d AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS len
        |  FROM documents),
        |b AS (SELECT CAST(quantile_cont(len, 0.01) AS DOUBLE) AS p01,
        |    CAST(quantile_cont(len, 0.99) AS DOUBLE) AS p99 FROM d)
        |SELECT round(b.p01, 4) AS p01, round(b.p99, 4) AS p99,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN d.len BETWEEN b.p01 AND b.p99
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN d.len BETWEEN b.p01 AND b.p99
        |    THEN d.doc_id END), 0) AS BIGINT) AS kept_id_sum
        |FROM d, b GROUP BY b.p01, b.p99""".stripMargin,
      headline = true),

    // Lexical BM25 top-10 retrieval (r9) — the sparse complement to
    // the dense retrieval entries (q60/q61): Okapi BM25 with the
    // Lucene idf, k1=1.2 b=0.75, natural log. The tf shuffle carries
    // only query-term postings (isin filter below the aggregation);
    // scores round to 6dp BEFORE ranking so cross-engine 1-ulp ln
    // drift cannot flip the doc_id tie-break; the corpus-wide top-10
    // runs as TakeOrderedAndProject, not a global window.
    "q204_bm25_topn" -> api((spark, _) =>
      operators.RetrievalOps.bm25TopN(spark.table("documents"),
        "doc_id", "text", Seq("hash", "join", "merge", "filter"),
        n = 10).orderBy("rn"),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |lens AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl
        |  FROM w),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl
        |  FROM lens),
        |tf AS (SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(words) AS t FROM w)
        |  WHERE t IN ('hash', 'join', 'merge', 'filter')
        |  GROUP BY doc_id, t),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (SELECT tf.doc_id,
        |    round(sum(
        |      ln(1.0 + (CAST(s.n_docs AS DOUBLE) - df.df + 0.5)
        |        / (CAST(df.df AS DOUBLE) + 0.5)) *
        |      (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0) /
        |        (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          CAST(lens.dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE)
        |          / CAST(s.sum_dl AS DOUBLE))))), 6) AS score,
        |    count(*) AS n_terms_hit
        |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id)
        |  CROSS JOIN stats s
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, score, n_terms_hit,
        |  row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        |FROM scored ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      headline = true),

    // Image near-dup dedup via perceptual hashing (r9) — the
    // multimodal sibling of the text near-dup kernels: REAL JDK PNG
    // decode → integer-exact dHash (9×8 nearest-neighbor downsample,
    // luma gradient sign bits) → the SAME banded Hamming kernel the
    // simhash paths use (TextOps.hammingPairs), threshold 6. The
    // fixture's 300 pages contain 100 phase-shifted companion pairs
    // (tools/gen_dhash_fixture.py — hashes computed from RAW pixel
    // arrays, never the JVM decoder, so decode+hash is cross-stack);
    // the oracle re-derives the pairs quadratically from the expected
    // hashes: 88 companions land within the threshold, 0 accidental
    // collisions, and a decode or hash regression moves the pair set.
    "q205_image_dhash_dedup" -> api((spark, _) =>
      TextOps.hammingPairs(
        MediaOps.imageDHash(
          spark.read.parquet("/root/repo/fixtures/dhash/pngs.parquet")),
        "media_id", "dhash", bits = 64, maxHamming = 6)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b"),
      """SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |FROM read_parquet('/root/repo/fixtures/dhash/expected.parquet') a
        |JOIN read_parquet('/root/repo/fixtures/dhash/expected.parquet') b
        |  ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
        |ORDER BY id_a, id_b""".stripMargin,
      headline = true),

    // Chunk-to-document embedding mean-pooling (r9): the aggregation
    // step between chunk-level embedding (q61's pipeline) and
    // doc-level similarity (q65/q172 consume doc vectors). Pure
    // built-in higher-order functions — `aggregate` folding `zip_with`
    // element-wise sums, `transform` for the divide — no UDF, no
    // custom expression. Order-safety is by construction, not luck:
    // the stub embeddings are small integers, so the double sums are
    // EXACT in any collect_list order; division and rounding then
    // can't drift. Oracle re-derives per-element means by exploding in
    // DuckDB (generate_subscripts — a different aggregation shape).
    "q206_embed_mean_pool" -> api((spark, _) => {
      val chunks = RetrievalOps.chunkDocuments(
        spark.table("documents"), "doc_id", "text")
      chunks
        .select(col("doc_id"), RetrievalOps.stubEmbed(col("chunk"))
          .as("emb"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          collect_list(col("emb")).as("embs"))
        .select(col("doc_id"), col("n_chunks"), posexplode(expr(
          """transform(
            |  aggregate(embs, array_repeat(0.0D, 16),
            |    (acc, x) -> zip_with(acc, x, (a, b) -> a + b)),
            |  s -> s / n_chunks)""".stripMargin)).as(Seq("i", "v")))
        .select(col("doc_id"), col("n_chunks"), col("i"),
          graft.functions.GraftFunctions.duckRound(col("v"), 6).as("v"))
        .orderBy("doc_id", "i")
    },
      """WITH c AS (
        |  SELECT doc_id, u.i AS chunk_idx,
        |    substring(text, u.i*450 + 1, 500) AS chunk
        |  FROM documents, unnest(range(0, greatest(
        |     CAST(ceil((length(text) - 50) / 450.0) AS BIGINT), 1))) AS u(i)
        |), e AS (
        |  SELECT doc_id, chunk_idx, list_transform(range(0,16), i ->
        |    CAST((ascii(substring(chunk, i*7 + 1, 1)) * (i+1)) % 97
        |      AS DOUBLE)) AS emb
        |  FROM c
        |), x AS (
        |  SELECT doc_id, generate_subscripts(emb, 1) - 1 AS i,
        |    unnest(emb) AS v
        |  FROM e)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(i AS INT) AS i, round(sum(v) / count(*), 6) AS v
        |FROM x GROUP BY doc_id, i ORDER BY doc_id, i""".stripMargin),

    // Audio near-dup dedup via temporal energy-delta fingerprints (r9)
    // — q205's audio sibling, completing the text/image/audio near-dup
    // axis: REAL byte-level WAV decode → integer-exact 64-bit
    // fingerprint (65 time-bin energies, gradient sign bits) → the
    // shared banded Hamming kernel, threshold 6. Fixture: 240 clips
    // with 80 level-nudged companions (tools/gen_audio_fp_fixture.py —
    // fingerprints computed from raw samples, stdlib-wave encoded, so
    // decode+hash is cross-stack); all 80 land within the threshold,
    // 0 accidental collisions, min unrelated distance 20.
    "q207_audio_fp_dedup" -> api((spark, _) =>
      TextOps.hammingPairs(
        MediaOps.audioFingerprint(
          spark.read.parquet("/root/repo/fixtures/afp/wavs.parquet")),
        "media_id", "afp", bits = 64, maxHamming = 6)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b"),
      """SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
        |FROM read_parquet('/root/repo/fixtures/afp/expected.parquet') a
        |JOIN read_parquet('/root/repo/fixtures/afp/expected.parquet') b
        |  ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.afp, b.afp)) <= 6
        |ORDER BY id_a, id_b""".stripMargin,
      headline = true),

    // Incremental exact-substring dedup (r9): a new batch (doc_id % 5
    // == 0) dedupes against the standing corpus's distinct
    // shingle-fingerprint INDEX — corpus-side artifact + batch-side
    // join work only, never a corpus re-dedup. Completes the
    // incremental axis: q99 (MinHash), q188 (exact), q208 (substring).
    // Oracle mirrors the split and uses the EXISTS range probe, as
    // q199.
    "q208_exact_substr_incremental" -> api((spark, _) => {
      val d = spark.table("documents")
      TextOps.exactSubstrDedupAgainst(
        d.where(pmod(col("doc_id"), lit(5)) =!= 0),
        d.where(pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", n = 8).orderBy("doc_id")
    },
      """WITH cw AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents WHERE doc_id % 5 <> 0),
        |bw AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents WHERE doc_id % 5 = 0),
        |cex AS (SELECT doc_id, words,
        |    unnest(range(1, len(words) - 6)) AS i FROM cw),
        |idx AS (SELECT DISTINCT
        |    ('0x' || substring(md5(array_to_string(words[i:i+7], ' ')),
        |      1, 12))::BIGINT AS fp
        |  FROM cex),
        |bex AS (SELECT doc_id, words,
        |    unnest(range(1, len(words) - 6)) AS i FROM bw),
        |bst AS (SELECT doc_id, i AS s,
        |    ('0x' || substring(md5(array_to_string(words[i:i+7], ' ')),
        |      1, 12))::BIGINT AS fp
        |  FROM bex),
        |ds AS (SELECT doc_id, s FROM bst JOIN idx USING (fp)),
        |tok AS (SELECT doc_id, unnest(words) AS word,
        |    generate_subscripts(words, 1) AS p FROM bw),
        |cov AS (SELECT t.doc_id, t.p, t.word,
        |    EXISTS (SELECT 1 FROM ds WHERE ds.doc_id = t.doc_id
        |      AND ds.s BETWEEN t.p - 7 AND t.p) AS c
        |  FROM tok t),
        |runs AS (SELECT doc_id, p, word, c,
        |    CASE WHEN c AND NOT coalesce(
        |      lag(c) OVER (PARTITION BY doc_id ORDER BY p), FALSE)
        |    THEN 1 ELSE 0 END AS sp
        |  FROM cov)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(count(*) FILTER (c) AS BIGINT) AS n_removed,
        |  CAST(sum(sp) AS BIGINT) AS n_spans,
        |  coalesce(string_agg(word, ' ' ORDER BY p) FILTER (NOT c), '')
        |    AS kept_text
        |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      headline = true),

    // Exact kNN through a PRODUCT-QUANTIZATION prefilter (r9) — the
    // compression step past q187's int8: 4 codebook indices per vector
    // (16× less scan bandwidth than float32), ADC scoring over a
    // broadcast per-query LUT, top-m rerank in float. On the
    // near-uniform random corpus ANY coarse bucketer is recall-bound
    // by scanned fraction (measured and documented at q46), so — like
    // q185/q193 — the exactness contract runs on the deterministic
    // probe-gate corpus, where PQ's top-64 provably retains the true
    // top-5 and the output EQUALS the independent DuckDB exact answer:
    // a codebook, encoding or ADC regression goes red here. The
    // first-16-by-id codebook covers each of the 16 clusters exactly
    // once (q172's deterministic-centroids convention).
    "q209_knn_pq" -> api((spark, _) => {
      val corpus = probeGateCorpus(spark)
      EmbeddingOps.knnPqRerank(corpus, corpus.where(col("vec_id") < 50),
        "vec_id", "embedding", k = 5, m = 64, dim = 16)
        .orderBy("qid", "rn")
    },
      s"""WITH v AS (SELECT vec_id, $duckProbeGateVec AS vec
        |  FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |    sqrt((SELECT sum(x*x) FROM (SELECT unnest(vec) AS x) z))
        |      AS nrm FROM v),
        |q AS (SELECT vec_id AS qid, vec AS qv, nrm AS qn FROM n
        |  WHERE vec_id < 50),
        |p AS (SELECT q.qid, n.vec_id AS id,
        |    round((SELECT sum(x*y) FROM
        |        (SELECT unnest(q.qv) AS x, unnest(n.vec) AS y) z)
        |      / (q.qn * n.nrm), 6) AS cos
        |  FROM n, q WHERE n.vec_id <> q.qid),
        |r AS (SELECT qid, id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id)
        |      AS rn
        |  FROM p)
        |SELECT qid, id, cos, rn FROM r WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin, headline = true),

    // Canonical-document selection: q94's near-dup clusters +
    // survivorship — per connected component keep the highest-quality
    // member (rounded-quality desc, doc_id tie-break) and report the
    // cluster size it speaks for. The last step of a dedup pass: the
    // kept set is `canonical_id`, the dropped mass is cluster_size - 1.
    // Oracle recomputes components from exact pairwise Jaccard via a
    // recursive CTE, then applies the same argmax.
    "q158_canonical_docs" -> api({ (spark, _) =>
      import org.apache.spark.sql.expressions.Window
      val pairs = TextOps.minhashDupPairs(spark.table("documents"),
        "doc_id", "text", threshold = 0.5)
      val comp = graft.operators.IterativeOps
        .connectedComponents(pairs, "id_a", "id_b")
      val q = spark.table("documents").select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("q"))
      val w = Window.partitionBy("component")
        .orderBy(col("q").desc, col("doc_id"))
      comp.select(col("id").as("doc_id"), col("component"))
        .join(q, "doc_id")
        .withColumn("rn", row_number().over(w))
        .withColumn("sz",
          count(lit(1)).over(Window.partitionBy("component")))
        .where(col("rn") === 1)
        .select(col("component"), col("doc_id").as("canonical_id"),
          round(col("q"), 6).as("canonical_q"),
          col("sz").cast("long").as("cluster_size"))
        .orderBy("component")
    },
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, $duckShingles AS sh FROM documents),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE round($duckJaccard, 6) >= 0.5),
         |e AS (SELECT id_a AS a, id_b AS b FROM p
         |  UNION SELECT id_b, id_a FROM p),
         |reach(id, lab) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, r.lab FROM e JOIN reach r ON r.id = e.b),
         |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
         |q AS (SELECT doc_id, $duckQuality AS q FROM documents),
         |r AS (SELECT comp.component, comp.id AS doc_id, q.q,
         |    row_number() OVER (PARTITION BY comp.component
         |      ORDER BY q.q DESC, comp.id) AS rn,
         |    count(*) OVER (PARTITION BY comp.component) AS sz
         |  FROM comp JOIN q ON comp.id = q.doc_id)
         |SELECT component, doc_id AS canonical_id,
         |  round(q, 6) AS canonical_q, CAST(sz AS BIGINT) AS cluster_size
         |FROM r WHERE rn = 1 ORDER BY component""".stripMargin),

    // Count-min sketch (Cormode & Muthukrishnan 2005): 4 rows × 512
    // columns of md5-derived counters over the token stream, then the
    // top-20 exact heavy hitters are estimated as the min over their 4
    // cells. Like q93's KMV, the entry value-checks THE SKETCH — DuckDB
    // builds the identical structure, so every counter and every
    // estimate must agree, not just the trend. The corpus is exploded
    // ONCE into a materialized (token, count) table; cell counts sum
    // those counts per (row, column) over distinct tokens (identical
    // totals, 4-way fan-out over vocabulary not token instances) and
    // the exact top-20 is the same table's head. Mergeable at scale:
    // the 2048-cell table is a hash-agg partial per partition, and the
    // estimate never undershoots (cms_est >= exact_n by construction).
    "q159_countmin_sketch" -> api({ (spark, _) =>
      checkpointView(spark, "graft_q159_tc", spark.sql(
        """SELECT t, count(*) AS cnt FROM documents
          |LATERAL VIEW explode(split(trim(lower(text)), '\\s+')) u AS t
          |GROUP BY t""".stripMargin))
      spark.sql(
        """WITH h AS (
          |  SELECT t, cnt, j,
          |    CAST(conv(substring(md5(concat(CAST(j AS STRING), '|', t)),
          |      1, 4), 16, 10) AS BIGINT) % 512 AS c
          |  FROM graft_q159_tc
          |  LATERAL VIEW explode(array(0, 1, 2, 3)) x AS j),
          |cells AS (SELECT j, c, sum(cnt) AS n FROM h GROUP BY j, c),
          |ex AS (SELECT t, cnt AS exact_n FROM graft_q159_tc
          |       ORDER BY cnt DESC, t LIMIT 20),
          |lk AS (
          |  SELECT ex.t, ex.exact_n, j,
          |    CAST(conv(substring(md5(concat(CAST(j AS STRING), '|', ex.t)),
          |      1, 4), 16, 10) AS BIGINT) % 512 AS c
          |  FROM ex LATERAL VIEW explode(array(0, 1, 2, 3)) x AS j)
          |SELECT lk.t AS token, CAST(max(lk.exact_n) AS BIGINT) AS exact_n,
          |  CAST(min(cells.n) AS BIGINT) AS cms_est
          |FROM lk JOIN cells ON lk.j = cells.j AND lk.c = cells.c
          |GROUP BY lk.t ORDER BY exact_n DESC, token""".stripMargin)
    },
      """WITH tc AS (
        |  SELECT t, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS t FROM documents) z
        |  GROUP BY t),
        |tj AS (SELECT t, cnt, unnest([0, 1, 2, 3]) AS j FROM tc),
        |h AS (
        |  SELECT t, cnt, j,
        |    ('0x' || substring(md5(CAST(j AS VARCHAR) || '|' || t),
        |      1, 4))::BIGINT % 512 AS c
        |  FROM tj),
        |cells AS (SELECT j, c, sum(cnt) AS n FROM h GROUP BY j, c),
        |ex AS (SELECT t, cnt AS exact_n FROM tc
        |       ORDER BY cnt DESC, t LIMIT 20),
        |ej AS (SELECT t, exact_n, unnest([0, 1, 2, 3]) AS j FROM ex),
        |lk AS (
        |  SELECT t, exact_n, j,
        |    ('0x' || substring(md5(CAST(j AS VARCHAR) || '|' || t),
        |      1, 4))::BIGINT % 512 AS c
        |  FROM ej)
        |SELECT lk.t AS token, CAST(max(lk.exact_n) AS BIGINT) AS exact_n,
        |  CAST(min(cells.n) AS BIGINT) AS cms_est
        |FROM lk JOIN cells ON lk.j = cells.j AND lk.c = cells.c
        |GROUP BY lk.t ORDER BY exact_n DESC, token""".stripMargin),

    // Weekly retention cohorts: users grouped by first-seen week, the
    // classic (cohort, week-offset) retention triangle. Week-truncated
    // dates on both engines start Monday, so offsets are exact integer
    // arithmetic; DISTINCT (user, cohort, offset) before the count
    // makes n_users a per-cell distinct-user count with one shuffle.
    "q160_retention_cohorts" -> sql(
      """WITH f AS (
        |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT DISTINCT e.user_id, f.cw,
        |    CAST(datediff(CAST(date_trunc('week', e.ts) AS DATE), f.cw)
        |      / 7 AS INT) AS wk
        |  FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT cw AS cohort_week, wk AS week_offset,
        |  count(*) AS n_users
        |FROM a GROUP BY cw, wk ORDER BY cw, wk""".stripMargin,
      """WITH f AS (
        |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT DISTINCT e.user_id, f.cw,
        |    CAST(date_diff('day', f.cw,
        |      CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INT) AS wk
        |  FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT cw AS cohort_week, wk AS week_offset,
        |  count(*) AS n_users
        |FROM a GROUP BY cw, wk ORDER BY cw, wk""".stripMargin),

    // Equi-depth histogram (the q97 fixed-width dual): per-language
    // length quartiles via ntile over a deterministic total order.
    // Partitioned by the group key, so each window sort is local to its
    // partition and spills rather than funneling through one task —
    // the per-group formulation a stats collector uses; identical text
    // runs on both engines.
    "q161_equidepth_hist" -> same(
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    CAST(ntile(4) OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS INT) AS b
        |  FROM documents)
        |SELECT lang, b AS bucket, count(*) AS n,
        |  min(n_chars) AS lo, max(n_chars) AS hi
        |FROM r GROUP BY lang, b ORDER BY lang, b""".stripMargin),

    // H6 SQL post-processing as engine operators: stop-token truncation
    // (text_to_sql.py:162), whitespace collapse (:18-20) and the
    // question cleaner (data_utils.py:69-80), exercised on adversarial
    // strings synthesized deterministically from the corpus (quotes,
    // tabs, a non-ASCII char, trailing explanation after the stop
    // token) so every regex step is non-vacuous. The oracle replays
    // the identical chain in DuckDB ('g' flag: Spark regexp_replace is
    // global by default, DuckDB's is first-match).
    "q163_sql_postprocess" -> api({ (spark, _) =>
      // the literal embeds U+00A0 (NBSP) + U+2003 (em space) after
      // the tab — as visible \u escapes, not raw bytes, so an editor's
      // whitespace normalization can't silently break oracle agreement
      // — forcing the whitespace collapse to do real UNICODE work — Java's (?U)\s and the oracle's enumerated RE2
      // class must agree beyond ASCII (DuckDB: chr(160)||chr(8195))
      val raw = concat(lit("SELECT '"), substring(col("text"), 1, 30),
        lit("' AS q,\t\u00A0\u2003\"col\" FROM t;\n-- explanation"))
      val ques = concat(lit("what is "), substring(col("text"), 1, 20),
        lit("'' ``\t\u00E9  ?"))
      spark.table("documents").select(col("doc_id"),
        PromptOps.truncateAtStops(raw, Seq("\n", ";")).as("sql_out"),
        PromptOps.cleanWhitespace(raw).as("collapsed"),
        PromptOps.cleanStr(ques).as("question"))
        .orderBy("doc_id")
    },
      """WITH b AS (
        |  SELECT doc_id,
        |    'SELECT ' || chr(39) || substring(text, 1, 30) || chr(39) ||
        |      ' AS q,' || chr(9) || chr(160) || chr(8195) ||
        |      '"col" FROM t;' || chr(10) ||
        |      '-- explanation' AS raw,
        |    'what is ' || substring(text, 1, 20) || chr(39) || chr(39) ||
        |      ' ``' || chr(9) || chr(233) || '  ?' AS ques
        |  FROM documents)
        |SELECT doc_id,
        |  string_split(string_split(raw, chr(10))[1], ';')[1] AS sql_out,
        |  regexp_replace(raw,
        |    '[\x09-\x0D \x{0085}\x{00A0}\x{1680}\x{2000}-\x{200A}' ||
        |    '\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+',
        |    ' ', 'g') AS collapsed,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(ques, '[^\x00-\x7f]', ' ', 'g'),
        |          chr(39) || chr(39), ' ', 'g'),
        |        '``', ' ', 'g'),
        |      '"', chr(39), 'g'),
        |    '[\t ]+', ' ', 'g')) AS question
        |FROM b ORDER BY doc_id""".stripMargin),

    // H9 + H13 evaluation metrics as engine operators: per-language
    // exact-match rollup (evaluate.py:85-113) and set-overlap
    // precision/recall/F1 (metric_utils.py:15-20) over synthesized
    // gold/pred pairs — every third doc's prediction goes through the
    // `<db> | <sql>` extraction path (predict.py:83-91) and must
    // exact-match after it; the rest carry a `<>` for the rewrite and
    // intentionally miss. Token sets overlap partially (positions 1-10
    // vs 4-13) so P/R/F1 are non-trivial on every row. Map-only
    // metrics, one rollup shuffle.
    "q164_eval_metrics" -> api({ (spark, _) =>
      val w = TextOps.tokens(col("text"))
      val idStr = col("doc_id").cast("string")
      val goldSql = concat(lit("SELECT x FROM t WHERE id = "), idStr)
      val predSql = when(col("doc_id") % 3 === 0,
          concat(lit("db | SELECT x FROM t WHERE id = "), idStr))
        .otherwise(concat(lit("SELECT y FROM t WHERE id <> "), idStr))
      spark.table("documents").select(col("doc_id"), col("lang"),
          PromptOps.setPrf(slice(w, 1, 10), slice(w, 4, 10)).as("prf"),
          (PromptOps.extractSql(predSql) === goldSql)
            .cast("int").as("em"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n"),
          sum("em").cast("long").as("n_exact"),
          GraftFunctions.duckRound(avg(col("prf.prec")), 6)
            .as("avg_prec"),
          GraftFunctions.duckRound(avg(col("prf.recall")), 6)
            .as("avg_recall"),
          GraftFunctions.duckRound(avg(col("prf.f1")), 6).as("avg_f1"))
        .orderBy("lang")
    },
      s"""WITH t AS (
         |  SELECT doc_id, lang, $duckTokens AS w FROM documents),
         |b AS (
         |  SELECT doc_id, lang,
         |    list_distinct(w[1:10]) AS g, list_distinct(w[4:13]) AS p,
         |    'SELECT x FROM t WHERE id = ' || CAST(doc_id AS VARCHAR)
         |      AS gold_sql,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN 'db | SELECT x FROM t WHERE id = ' ||
         |        CAST(doc_id AS VARCHAR)
         |      ELSE 'SELECT y FROM t WHERE id <> ' ||
         |        CAST(doc_id AS VARCHAR) END AS pred_sql
         |  FROM t),
         |m AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN len(p) = 0 THEN 0.0
         |      ELSE len(list_intersect(g, p))::DOUBLE / len(p) END AS prec,
         |    CASE WHEN len(g) = 0 THEN 0.0
         |      ELSE len(list_intersect(g, p))::DOUBLE / len(g) END
         |      AS recall,
         |    CASE WHEN trim(string_split(
         |        replace(trim(pred_sql), '<>', '!='), '|')[-1]) = gold_sql
         |      THEN 1 ELSE 0 END AS em
         |  FROM b),
         |m2 AS (SELECT *, CASE WHEN prec + recall = 0 THEN 0.0
         |  ELSE 2 * prec * recall / (prec + recall) END AS f1 FROM m)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(em) AS BIGINT) AS n_exact,
         |  round(avg(prec), 6) AS avg_prec,
         |  round(avg(recall), 6) AS avg_recall,
         |  round(avg(f1), 6) AS avg_f1
         |FROM m2 GROUP BY lang ORDER BY lang""".stripMargin),

    // One BPE merge step (the tokenizer-training inner loop): count
    // adjacent character pairs across the corpus weighted by word
    // frequency, rank merge candidates. The corpus collapses to the
    // distinct-word table first (vocabulary-sized — the BPE trick that
    // makes training tractable), so the pair explode fans out over the
    // vocab, not the token stream; per-word pair multiplicity times
    // word frequency reproduces token-stream counts exactly.
    "q165_bpe_merge_step" -> sql(
      """WITH wc AS (
        |  SELECT t AS w, count(*) AS f FROM documents
        |  LATERAL VIEW explode(split(trim(lower(text)), '\\s+')) u AS t
        |  GROUP BY t),
        |pe AS (
        |  SELECT f, explode(transform(
        |    sequence(1, length(w) - 1),
        |    i -> substring(w, i, 2))) AS pr
        |  FROM wc WHERE length(w) >= 2)
        |SELECT pr AS pair, CAST(sum(f) AS BIGINT) AS cnt
        |FROM pe GROUP BY pr
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |    AS t FROM documents),
        |wc AS (SELECT t AS w, count(*) AS f FROM tok GROUP BY t),
        |pe AS (
        |  SELECT f, unnest(list_transform(
        |    range(1, length(w)),
        |    i -> substring(w, i, 2))) AS pr
        |  FROM wc WHERE length(w) >= 2)
        |SELECT pr AS pair, CAST(sum(f) AS BIGINT) AS cnt
        |FROM pe GROUP BY pr
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin),

    // ITERATED BPE vocabulary training (r10) — the fixpoint q165 is one
    // step of: `numMerges` rounds of {frequency-weighted adjacent-pair
    // count over the distinct-word table, merge the argmax pair
    // everywhere}, per Sennrich et al. 2016. The oracle UNROLLS the
    // same loop as chained DuckDB CTEs (one pair-count/argmax/replace
    // block per step, mechanically generated below), so every per-step
    // decision — counts, tie-breaks, the greedy left-to-right merge
    // application, the surviving symbol count — is re-derived
    // end-to-end by the second engine. Merge application is exact by
    // construction: the canonical double-space word form makes plain
    // `replace` (both engines: left-to-right, non-overlapping) equal
    // greedy BPE (TextOps.bpeCanonical scaladoc).
    "q235_bpe_train" -> api((spark, _) =>
      TextOps.bpeTrain(spark.table("documents"), "text", 8)
        .orderBy("step"),
      bpeTrainOracle(8), headline = true),

    // The TOKENIZER SEAM exercised end-to-end (r10): train the merge
    // list (q235's loop), plug it into TextOps.BpeTokenizer — the
    // pluggable GraftTokenizer the token ops accept in place of the
    // whitespace contract — and tokenize the whole corpus with it.
    // Pure Column algebra (per-word char expand → chained literal
    // replaces → flatten): map-only over the corpus, the trained
    // merges ride as literals (model-sized broadcast by construction).
    // The oracle re-trains the chain in DuckDB and joins each doc's
    // words against the final state's per-word symbol counts.
    "q236_subword_token_stats" -> api((spark, _) => {
      val merges = TextOps.bpeTrain(spark.table("documents"), "text", 8)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val tok = new TextOps.BpeTokenizer(merges)
      spark.table("documents")
        .select(col("doc_id"),
          size(tok.tokenize(col("text"))).cast("long")
            .as("subword_tokens"),
          size(TextOps.WhitespaceTokenizer.tokenize(lower(col("text"))))
            .cast("long").as("ws_tokens"))
        .orderBy("doc_id")
    }, bpeTokenizeOracle(8), headline = true),

    // PROMPT-OVERFLOW TELEMETRY (r14) — the reference's only prompt-
    // cost stat (eval/predict.py:324-341): tokenize every FINAL prompt
    // with a real tokenizer, report the fraction over the context
    // budget. Prompts are the REAL duckdbinst formatter output
    // (PromptOps.withPrompt — byte-exact per PromptOpsSpec) with the
    // document text as the per-row instruction (the context-stuffed
    // shape doc retrieval produces); the tokenizer is the q235-trained
    // BPE, so token counts are INTEGERS both engines derive exactly.
    // The oracle re-trains the merge chain (q235's CTEs) with the
    // prompt template's words seeded at frequency 0 — training is
    // bit-identical, but the final state also rewrites the template
    // words, so every prompt word resolves by one join. Budget 2048 is
    // the reference's; 512 discriminates at oracle scales (sf0.01
    // prompts run ~300-650 tokens).
    "q267_prompt_overflow" -> api((spark, _) => {
      val merges = TextOps.bpeTrain(spark.table("documents"), "text", 8)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val prompted = PromptOps.withPrompt(
        spark.table("documents")
          .select(col("doc_id"), col("text").as("question")),
        "question", "duckdbinst", PromptTelemetry.tables)
      graft.operators.LlmOrchestrator.promptOverflowStats(prompted,
        "prompt", new TextOps.BpeTokenizer(merges),
        budgets = PromptTelemetry.budgets)
    }, promptOverflowOracle(8), headline = true),

    // Corpus ROUGE-N (r10) — Lin 2004's clipped n-gram overlap, the
    // standard summarization/eval metric, micro-averaged over the
    // corpus: candidate = the lead-40 extractive summary shifted by 10
    // tokens (tokens 11..50), reference = tokens 1..40, over docs with
    // >= 50 whitespace tokens, so overlap is real but partial. Clipped
    // counts (min of candidate/reference multiplicity per gram) make
    // it the true ROUGE definition, not bag intersection.
    //
    // Scale shape: ONE pass — both n values and both sides ride a
    // single explode into per-(n, doc, gram, side) counts pivoted to
    // (ck, rk) columns in the same map-side-combined aggregation, so
    // the whole metric is one shuffle on the natural (n, doc, gram)
    // key + a 2-row final agg. No join at all: the clipped overlap is
    // least(ck, rk) per key. P/R are single divisions of exact
    // integer sums (micro-averaging), so no float-accumulation drift
    // can split the engines; F1 = 2o/(c+r) stays integer-derived.
    "q241_rouge_eval" -> api((spark, _) => {
      def grams(side: String, n: Int) = expr(
        s"transform(sequence(1, size($side) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice($side, i, $n)))")
      val counts = spark.table("documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        .where(size(col("w")) >= 50)
        .select(col("doc_id"),
          expr("slice(w, 11, 40)").as("cand"),
          expr("slice(w, 1, 40)").as("ref"))
        .select(col("doc_id"), explode(array(
          Seq(1, 2).flatMap(n => Seq(
            struct(lit(n).as("n"), lit("c").as("side"),
              grams("cand", n).as("gs")),
            struct(lit(n).as("n"), lit("r").as("side"),
              grams("ref", n).as("gs")))): _*)).as("x"))
        .select(col("doc_id"), col("x.n").as("n"), col("x.side").as("side"),
          explode(col("x.gs")).as("g"))
        .groupBy("n", "doc_id", "g")
        .agg(count(when(col("side") === "c", 1)).as("ck"),
          count(when(col("side") === "r", 1)).as("rk"))
      counts.groupBy("n")
        .agg(sum(col("ck")).as("cand_grams"), sum(col("rk")).as("ref_grams"),
          sum(least(col("ck"), col("rk"))).as("overlap"))
        .select(col("n"), col("cand_grams"), col("ref_grams"), col("overlap"),
          graft.functions.GraftFunctions.duckRound(
            col("overlap").cast("double") / col("cand_grams"), 6)
            .as("prec"),
          graft.functions.GraftFunctions.duckRound(
            col("overlap").cast("double") / col("ref_grams"), 6)
            .as("rec"),
          graft.functions.GraftFunctions.duckRound(
            lit(2.0) * col("overlap") /
              (col("cand_grams") + col("ref_grams")), 6).as("f1"))
        .orderBy("n")
    },
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |sl AS (SELECT doc_id, w[11:50] AS cand, w[1:40] AS ref
        |  FROM tok WHERE len(w) >= 50),
        |ns(n) AS (VALUES (1), (2)),
        |cg AS (SELECT n, doc_id, unnest(list_transform(
        |    range(1, len(cand) - n + 2),
        |    i -> array_to_string(cand[i:i+n-1], ' '))) AS g
        |  FROM sl, ns),
        |rg AS (SELECT n, doc_id, unnest(list_transform(
        |    range(1, len(ref) - n + 2),
        |    i -> array_to_string(ref[i:i+n-1], ' '))) AS g
        |  FROM sl, ns),
        |cc AS (SELECT n, doc_id, g, count(*) AS ck FROM cg
        |  GROUP BY n, doc_id, g),
        |rc AS (SELECT n, doc_id, g, count(*) AS rk FROM rg
        |  GROUP BY n, doc_id, g),
        |ov AS (SELECT cc.n, sum(least(cc.ck, rc.rk)) AS o FROM cc
        |  JOIN rc ON cc.n = rc.n AND cc.doc_id = rc.doc_id
        |    AND cc.g = rc.g
        |  GROUP BY cc.n),
        |ct AS (SELECT n, sum(ck) AS c FROM cc GROUP BY n),
        |rt AS (SELECT n, sum(rk) AS r FROM rc GROUP BY n)
        |SELECT ov.n, CAST(ct.c AS BIGINT) AS cand_grams,
        |  CAST(rt.r AS BIGINT) AS ref_grams, CAST(ov.o AS BIGINT)
        |    AS overlap,
        |  round(ov.o * 1.0 / ct.c, 6) AS prec,
        |  round(ov.o * 1.0 / rt.r, 6) AS rec,
        |  round(2.0 * ov.o / (ct.c + rt.r), 6) AS f1
        |FROM ov JOIN ct ON ov.n = ct.n JOIN rt ON ov.n = rt.n
        |ORDER BY ov.n""".stripMargin,
      headline = true),

    // DPO preference-pair construction (r10) — Rafailov et al. 2023's
    // dataset-prep step: from q219's best-of-n candidate pool (4
    // deterministic md5 rewards per doc), each prompt yields one
    // (chosen, rejected) pair = reward argmax vs argmin; pairs below a
    // margin floor are dropped (weak preferences teach nothing), then
    // a per-language quota keeps the top-20 pairs by margin — the
    // stratified capping every multilingual preference set applies.
    //
    // Scale shape: argmax AND argmin ride one groupBy as struct
    // max/min (map-side combinable — 2 rows per prompt per partition
    // reach the shuffle, never the n candidates); the quota window
    // runs per-lang over only margin-surviving pairs. Tie order
    // matches the oracle's (reward DESC, i ASC / reward ASC, i ASC)
    // via the negated-i struct component, the q219 convention.
    "q242_dpo_pairs" -> api((spark, _) =>
      spark.table("documents")
        .select(col("doc_id"), col("lang"),
          explode(expr("sequence(0, 3)")).as("i"))
        .select(col("doc_id"), col("lang"), col("i"),
          expr("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING)," +
            " ':', CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT)")
            .as("reward"))
        .groupBy("doc_id", "lang")
        .agg(max(struct(col("reward"), (-col("i")).as("ni"), col("i")))
            .as("best"),
          min(struct(col("reward"), col("i"))).as("worst"))
        .select(col("doc_id"), col("lang"),
          col("best.i").as("chosen_i"), col("worst.i").as("rejected_i"),
          (col("best.reward") - col("worst.reward")).as("margin"))
        .where(col("margin") >= lit(2500000000L))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")
            .orderBy(col("margin").desc, col("doc_id"))))
        .where(col("rank") <= 20)
        .orderBy("lang", "rank"),
      """WITH cand AS (SELECT doc_id, lang, i,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(i AS VARCHAR)), 1, 8))::BIGINT AS reward
        |  FROM documents, unnest([0, 1, 2, 3]) AS u(i)),
        |r AS (SELECT doc_id, lang, i, reward,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY reward DESC, i) AS rn,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY reward ASC, i) AS wn
        |  FROM cand),
        |pairs AS (SELECT doc_id, lang,
        |    max(CASE WHEN rn = 1 THEN i END) AS chosen_i,
        |    max(CASE WHEN wn = 1 THEN i END) AS rejected_i,
        |    CAST(max(CASE WHEN rn = 1 THEN reward END)
        |      - max(CASE WHEN wn = 1 THEN reward END) AS BIGINT)
        |      AS margin
        |  FROM r GROUP BY doc_id, lang),
        |kept AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY margin DESC, doc_id) AS BIGINT) AS rank
        |  FROM pairs WHERE margin >= 2500000000)
        |SELECT doc_id, lang, chosen_i, rejected_i, margin, rank
        |FROM kept WHERE rank <= 20 ORDER BY lang, rank""".stripMargin,
      headline = true),

    // GRPO group-relative advantages (r10) — Shao et al. 2024
    // (arXiv:2402.03300): the PPO-critic-free baseline where each
    // prompt's n sampled candidates are standardized against their own
    // group: adv_i = (r_i - mean) / std. The exactness trick: with
    // integer rewards, d_i = n·r_i - Σr is an exact integer and
    // adv_i = d_i / sqrt(Σd²/n), so both engines reach the SAME double
    // through one sqrt and one division of exact integers — no
    // mean-of-floats accumulation drift anywhere. Rewards are 16-bit
    // so Σd² stays exactly representable.
    //
    // Scale shape: one shuffle on doc_id; both group moments are
    // window sums over the same 8-row partitions (Catalyst shares the
    // exchange), no join, no second pass over the candidates.
    "q243_grpo_advantages" -> api((spark, _) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      spark.table("documents")
        .where(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), explode(expr("sequence(0, 7)")).as("i"))
        .select(col("doc_id"), col("i"),
          expr("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING)," +
            " ':', CAST(i AS STRING))), 1, 4), 16, 10) AS BIGINT)")
            .as("reward"))
        .withColumn("d", lit(8) * col("reward") - sum("reward").over(w))
        .withColumn("ssq", sum(col("d") * col("d")).over(w))
        .select(col("doc_id"), col("i"), col("reward"),
          graft.functions.GraftFunctions.duckRound(
            when(col("ssq") === 0, lit(0.0)).otherwise(
              col("d") / sqrt(col("ssq") / lit(8.0))), 6).as("advantage"))
        .orderBy("doc_id", "i")
    },
      """WITH cand AS (SELECT doc_id, i,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(i AS VARCHAR)), 1, 4))::BIGINT AS reward
        |  FROM documents, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS u(i)
        |  WHERE doc_id % 4 = 0),
        |d AS (SELECT doc_id, i, reward,
        |    8 * reward - sum(reward) OVER (PARTITION BY doc_id) AS d
        |  FROM cand),
        |s AS (SELECT *, sum(d * d) OVER (PARTITION BY doc_id) AS ssq
        |  FROM d)
        |SELECT doc_id, i, reward,
        |  round(CASE WHEN ssq = 0 THEN 0.0
        |    ELSE d / sqrt(ssq / 8.0) END, 6) AS advantage
        |FROM s ORDER BY doc_id, i""".stripMargin,
      headline = true),

    // Bootstrap confidence interval for a corpus eval metric (r10) —
    // the POISSON bootstrap (Chamandy et al. 2012, the distributed
    // form: resample counts are independent Poisson(1) draws, so no
    // resample is ever materialized and the whole B=200 ensemble is
    // ONE pass): per (resample, doc) the count is the inverse-CDF
    // bucket of a 32-bit md5 draw against precomputed INTEGER
    // thresholds (floor(2^32·P[X<=k]) for k=0..4, else 5) — no float
    // compare anywhere in the sampling. Each resample's estimate is
    // one division of exact integer sums (metric = mean n_chars), the
    // CI is order statistics (5th / 196th of 200, ties by resample
    // id), so every value is cross-engine deterministic.
    //
    // Scale shape: explode by B then ONE map-side-combined groupBy(b)
    // — B×partitions partials on the wire, never the corpus×B rows;
    // the ranking window orders 200 rows; the point estimate is a
    // broadcast scalar crossJoin.
    "q244_bootstrap_ci" -> api((spark, _) => {
      val ests = spark.table("documents")
        .select(col("n_chars"), col("doc_id"),
          explode(expr("sequence(0, 199)")).as("b"))
        .withColumn("u",
          expr("CAST(conv(substring(md5(concat('boot:', " +
            "CAST(b AS STRING), ':', CAST(doc_id AS STRING))), 1, 8), " +
            "16, 10) AS BIGINT)"))
        .withColumn("w",
          when(col("u") < 1580030168L, 0)
            .when(col("u") < 3160060337L, 1)
            .when(col("u") < 3950075421L, 2)
            .when(col("u") < 4213413783L, 3)
            .when(col("u") < 4279248373L, 4).otherwise(5))
        .groupBy("b")
        .agg((sum(col("w") * col("n_chars")).cast("double") /
          sum(col("w"))).as("est"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("est"), col("b")))) // 200 rows — driver-safe
      spark.table("documents")
        .agg((sum(col("n_chars")).cast("double") /
          count(lit(1))).as("point"))
        .crossJoin(ests.agg(
          max(when(col("rn") === 5, col("est"))).as("lo"),
          max(when(col("rn") === 196, col("est"))).as("hi")))
        .select(lit(200).cast("int").as("n_resamples"),
          graft.functions.GraftFunctions.duckRound(col("point"), 6)
            .as("point"),
          graft.functions.GraftFunctions.duckRound(col("lo"), 6)
            .as("ci_lo"),
          graft.functions.GraftFunctions.duckRound(col("hi"), 6)
            .as("ci_hi"))
    },
      """WITH bt AS (SELECT b, doc_id, n_chars,
        |    ('0x' || substring(md5('boot:' || CAST(b AS VARCHAR) || ':'
        |      || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
        |  FROM documents, range(0, 200) AS r(b)),
        |ws AS (SELECT b, n_chars,
        |    CASE WHEN u < 1580030168 THEN 0
        |      WHEN u < 3160060337 THEN 1
        |      WHEN u < 3950075421 THEN 2
        |      WHEN u < 4213413783 THEN 3
        |      WHEN u < 4279248373 THEN 4 ELSE 5 END AS w
        |  FROM bt),
        |est AS (SELECT b,
        |    CAST(sum(w * n_chars) AS DOUBLE) / sum(w) AS est
        |  FROM ws GROUP BY b),
        |rk AS (SELECT est, row_number() OVER (ORDER BY est, b) AS rn
        |  FROM est),
        |pt AS (SELECT CAST(sum(n_chars) AS DOUBLE) / count(*) AS point
        |  FROM documents)
        |SELECT 200 AS n_resamples, round(pt.point, 6) AS point,
        |  round(max(CASE WHEN rn = 5 THEN est END), 6) AS ci_lo,
        |  round(max(CASE WHEN rn = 196 THEN est END), 6) AS ci_hi
        |FROM rk, pt GROUP BY pt.point""".stripMargin,
      headline = true),

    // pass@k estimation (r10) — Chen et al. 2021 (arXiv:2107.03374)'s
    // unbiased estimator for sampled code/task evals: per problem with
    // n=10 samples and c observed successes, pass@k = 1 - C(n-c,k)/
    // C(n,k), computed as the falling-factorial ratio — PURE INTEGER
    // arithmetic per problem (numerators bounded by 10·9·8·7·6), and
    // the corpus means are single divisions of exact integer sums
    // (Σnum / (den·P)) so no float accumulation exists anywhere.
    // Per-sample correctness is a deterministic md5 draw against a
    // per-problem difficulty (the eval-harness seam stand-in, q219's
    // reward convention).
    //
    // Scale shape: one map-side-combined groupBy(problem) for c, one
    // scalar agg for the corpus sums — nothing else touches the wire.
    "q246_passk_eval" -> api((spark, _) =>
      spark.table("documents")
        .select(col("doc_id"), explode(expr("sequence(0, 9)")).as("i"))
        .select(col("doc_id"),
          when(expr("CAST(conv(substring(md5(concat('pass:', " +
            "CAST(doc_id AS STRING), ':', CAST(i AS STRING))), 1, 8), " +
            "16, 10) AS BIGINT) % 100") < lit(20) + pmod(col("doc_id"),
            lit(60)), 1L).otherwise(0L).as("ok"))
        .groupBy("doc_id").agg(sum(col("ok")).as("c"))
        .select(col("doc_id"), col("c"),
          (lit(30240L) - (lit(10) - col("c")) * (lit(9) - col("c")) *
            (lit(8) - col("c")) * (lit(7) - col("c")) *
            (lit(6) - col("c"))).as("num5"))
        .agg(count(lit(1)).as("p"), sum(col("c")).as("sum_c"),
          sum(col("num5")).as("sum5"))
        .select(col("p").cast("bigint").as("n_problems"),
          col("sum_c").as("sum_correct"),
          graft.functions.GraftFunctions.duckRound(
            col("sum_c").cast("double") / (lit(10) * col("p")), 6)
            .as("mean_pass1"),
          graft.functions.GraftFunctions.duckRound(
            col("sum5").cast("double") / (lit(30240) * col("p")), 6)
            .as("mean_pass5")),
      """WITH s AS (SELECT doc_id, i,
        |    CASE WHEN ('0x' || substring(md5('pass:' ||
        |        CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
        |        1, 8))::BIGINT % 100 < 20 + doc_id % 60
        |      THEN 1 ELSE 0 END AS ok
        |  FROM documents, unnest([0,1,2,3,4,5,6,7,8,9]) AS u(i)),
        |pc AS (SELECT doc_id, sum(ok) AS c FROM s GROUP BY doc_id),
        |n5 AS (SELECT doc_id, c, 30240 - (10 - c) * (9 - c) * (8 - c)
        |    * (7 - c) * (6 - c) AS num5 FROM pc)
        |SELECT CAST(count(*) AS BIGINT) AS n_problems,
        |  CAST(sum(c) AS BIGINT) AS sum_correct,
        |  round(CAST(sum(c) AS DOUBLE) / (10 * count(*)), 6)
        |    AS mean_pass1,
        |  round(CAST(sum(num5) AS DOUBLE) / (30240 * count(*)), 6)
        |    AS mean_pass5
        |FROM n5""".stripMargin,
      headline = true),

    // Self-consistency / majority-vote eval (r10) — Wang et al. 2022
    // (arXiv:2203.11171): per problem, 10 sampled answers over a
    // 5-answer space (deterministic md5 draws; the true answer is
    // doc_id-derived), the majority answer wins with ties broken
    // toward the smaller answer id, and the corpus reports majority
    // accuracy vs raw per-sample accuracy — the measurement behind
    // "sample many, vote" inference. The vote argmax is a struct-max
    // over (votes, -answer): map-side combinable, no window; all
    // accuracies are divisions of exact integer counts.
    "q247_self_consistency" -> api((spark, _) =>
      spark.table("documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(5)).as("truth"),
          explode(expr("sequence(0, 9)")).as("i"))
        .select(col("doc_id"), col("truth"),
          expr("CAST(conv(substring(md5(concat('vote:', " +
            "CAST(doc_id AS STRING), ':', CAST(i AS STRING))), 1, 8), " +
            "16, 10) AS BIGINT) % 5").as("answer"))
        .groupBy("doc_id", "truth", "answer")
        .agg(count(lit(1)).as("votes"))
        .groupBy("doc_id", "truth")
        .agg(max(struct(col("votes"), (-col("answer")).as("na"),
            col("answer"))).as("m"),
          sum(when(col("answer") === col("truth"), col("votes"))
            .otherwise(0L)).as("correct_samples"))
        .agg(count(lit(1)).as("p"),
          sum(when(col("m.answer") === col("truth"), 1L).otherwise(0L))
            .as("maj_ok"),
          sum(col("correct_samples")).as("ok_samples"),
          sum(col("m.votes")).as("sum_top_votes"))
        .select(col("p").cast("bigint").as("n_problems"),
          col("maj_ok").as("majority_correct"),
          graft.functions.GraftFunctions.duckRound(
            col("maj_ok").cast("double") / col("p"), 6)
            .as("majority_acc"),
          graft.functions.GraftFunctions.duckRound(
            col("ok_samples").cast("double") / (lit(10) * col("p")), 6)
            .as("sample_acc"),
          graft.functions.GraftFunctions.duckRound(
            col("sum_top_votes").cast("double") / (lit(10) * col("p")), 6)
            .as("mean_agreement")),
      """WITH s AS (SELECT doc_id, doc_id % 5 AS truth,
        |    ('0x' || substring(md5('vote:' || CAST(doc_id AS VARCHAR)
        |      || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 5
        |      AS answer
        |  FROM documents, unnest([0,1,2,3,4,5,6,7,8,9]) AS u(i)),
        |v AS (SELECT doc_id, truth, answer, count(*) AS votes FROM s
        |  GROUP BY doc_id, truth, answer),
        |m0 AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY votes DESC, answer) AS rn FROM v),
        |m AS (SELECT doc_id, truth,
        |    max(CASE WHEN rn = 1 THEN votes END) AS top_votes,
        |    max(CASE WHEN rn = 1 THEN answer END) AS maj_answer,
        |    sum(CASE WHEN answer = truth THEN votes ELSE 0 END)
        |      AS correct_samples
        |  FROM m0 GROUP BY doc_id, truth)
        |SELECT CAST(count(*) AS BIGINT) AS n_problems,
        |  CAST(sum(CASE WHEN maj_answer = truth THEN 1 ELSE 0 END)
        |    AS BIGINT) AS majority_correct,
        |  round(CAST(sum(CASE WHEN maj_answer = truth THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 6) AS majority_acc,
        |  round(CAST(sum(correct_samples) AS DOUBLE) / (10 * count(*)),
        |    6) AS sample_acc,
        |  round(CAST(sum(top_votes) AS DOUBLE) / (10 * count(*)), 6)
        |    AS mean_agreement
        |FROM m""".stripMargin,
      headline = true),

    // Unigram-LM tokenizer training (r10) — the OTHER tokenizer family
    // (Kudo 2018), completing the axis with q235's BPE: seed substring
    // vocabulary → integer-cost Viterbi segmentation (10-position DP
    // as generated CTE levels, ties toward the longer piece) → EM
    // usage refresh → second Viterbi pass. ONE generated SQL text
    // instantiated for both engines (see unigramTrainSql) — the kernel
    // and the oracle cannot diverge structurally. Corpus-sized work is
    // two groupBys; the DP itself is vocabulary-sized with broadcast
    // lookups only.
    // Each stage materializes as a checkpointed view (vocabulary-sized)
    // so the DP's 30 cost lookups per round reference a LogicalRDD
    // instead of re-inlining the corpus pipeline per reference — the
    // single-statement form re-ran the word-frequency chain once per
    // lookup and tripped the analyzer's fixpoint cap (measured, then
    // restructured; the oracle nests the SAME fragments as CTEs).
    "q250_unigram_lm_train" -> api((spark, _) => UnigramLm.run(spark),
      UnigramLm.duckOracle, headline = true),

    // Zipf-slope fit over the token frequency table: least-squares
    // slope/intercept of ln(freq) on ln(rank) — the power-law
    // diagnostic that flags synthetic or template-heavy corpora
    // (natural text sits near slope -1). Closed-form sums on the
    // vocabulary-sized table; rank is a deterministic total order.
    "q166_zipf_fit" -> sql(
      """WITH tc AS (
        |  SELECT t, count(*) AS c FROM documents
        |  LATERAL VIEW explode(split(trim(lower(text)), '\\s+')) u AS t
        |  GROUP BY t),
        |r AS (SELECT ln(CAST(row_number() OVER
        |    (ORDER BY c DESC, t) AS DOUBLE)) AS x,
        |    ln(CAST(c AS DOUBLE)) AS y
        |  FROM tc),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx FROM r)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
        |    / n, 6) AS intercept
        |FROM s""".stripMargin,
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |    AS t FROM documents),
        |tc AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |r AS (SELECT ln(CAST(row_number() OVER
        |    (ORDER BY c DESC, t) AS DOUBLE)) AS x,
        |    ln(CAST(c AS DOUBLE)) AS y
        |  FROM tc),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx FROM r)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
        |    / n, 6) AS intercept
        |FROM s""".stripMargin),

    // Template/boilerplate detection by shared normalized prefix
    // (the cheap first pass CCNet-style pipelines run before MinHash):
    // docs opening with the same 16 normalized chars are template
    // candidates. Map-side fingerprint, one group-by shuffle; at
    // corpus scale the multi-member groups are the tiny output and
    // feed a per-group strip/keep decision.
    "q167_template_prefixes" -> sql(
      """WITH p AS (
        |  SELECT doc_id,
        |    md5(substring(lower(trim(text)), 1, 16)) AS fp
        |  FROM documents)
        |SELECT fp, count(*) AS n_docs,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY fp HAVING count(*) > 1
        |ORDER BY n_docs DESC, fp""".stripMargin,
      """WITH p AS (
        |  SELECT doc_id,
        |    md5(substring(lower(trim(text)), 1, 16)) AS fp
        |  FROM documents)
        |SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY fp HAVING count(*) > 1
        |ORDER BY n_docs DESC, fp""".stripMargin),

    // H11 — SQL keyword-casing canonicalization as an engine function
    // (the sqlglot roundtrip's metric effect, metric_utils.py:9-12 /
    // evaluate.py:326-329). Each doc synthesizes a lowercase SQL string
    // carrying the hard cases — a single-quoted literal full of
    // keywords (must stay lowercase), a quoted identifier "select"
    // (verbatim), and doc-dependent identifiers (untouched) — and the
    // oracle CONSTRUCTS the expected canonical text directly, so the
    // quote-aware scan is value-checked per row. Map-only, zero
    // shuffle.
    "q168_sql_casing" -> api({ (spark, _) =>
      spark.sql(
        """SELECT doc_id, correct_casing(concat(
          |  'select t.col_a as a, ''group by order'' as s, "select" as q',
          |  ' from tab_', CAST(doc_id % 7 AS STRING),
          |  ' t where id between 1 and ', CAST(doc_id AS STRING),
          |  ' group by a order by a desc limit 5')) AS canon
          |FROM documents ORDER BY doc_id""".stripMargin)
    },
      """SELECT doc_id,
        |  'SELECT t.col_a AS a, ''group by order'' AS s, "select" AS q'
        |  || ' FROM tab_' || CAST(doc_id % 7 AS VARCHAR)
        |  || ' t WHERE id BETWEEN 1 AND ' || CAST(doc_id AS VARCHAR)
        |  || ' GROUP BY a ORDER BY a DESC LIMIT 5' AS canon
        |FROM documents ORDER BY doc_id""".stripMargin, headline = true),

    // Segment-level corpus dedup (the RefinedWeb/CCNet "line dedup"
    // shape, over fixed 10-word segments since the synthetic corpus has
    // no newlines): segment map-only via array slicing, count segments
    // corpus-wide (one shuffle, partial agg), keep only the DUPLICATED
    // segments as the banned set — far smaller than the corpus, so it
    // broadcasts; beyond broadcast size flip the hint and the same plan
    // runs as a shuffle join — then drop banned occurrences and
    // reassemble each document in segment order (second shuffle).
    // Per-doc output: segment count, dropped count, surviving text.
    "q171_segment_dedup" -> sql(
      """WITH w AS (SELECT doc_id, split(text, ' ') AS words
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id, s.i AS seg_id, s.t AS seg_text
        |  FROM w LATERAL VIEW explode(transform(
        |    sequence(0, CAST(ceil(size(words) / 10.0) AS INT) - 1),
        |    i -> struct(i AS i,
        |      array_join(slice(words, i * 10 + 1, 10), ' ') AS t))) e AS s),
        |banned AS (
        |  SELECT seg_text FROM seg GROUP BY seg_text
        |  HAVING count(*) >= 2),
        |k AS (
        |  SELECT /*+ BROADCAST(b) */ s.doc_id, s.seg_id, s.seg_text,
        |    b.seg_text IS NOT NULL AS is_dup
        |  FROM seg s LEFT JOIN banned b ON s.seg_text = b.seg_text)
        |SELECT doc_id, count(*) AS n_segs,
        |  count_if(is_dup) AS n_dropped,
        |  array_join(transform(
        |    filter(sort_array(collect_list(struct(seg_id, is_dup, seg_text))),
        |      x -> NOT x.is_dup),
        |    x -> x.seg_text), ' ') AS kept_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS word,
        |    generate_subscripts(words, 1) AS ord FROM w),
        |seg AS (
        |  SELECT doc_id, (ord - 1) // 10 AS seg_id,
        |    string_agg(word, ' ' ORDER BY ord) AS seg_text
        |  FROM tok GROUP BY doc_id, (ord - 1) // 10),
        |banned AS (
        |  SELECT seg_text FROM seg GROUP BY seg_text
        |  HAVING count(*) >= 2),
        |k AS (
        |  SELECT s.doc_id, s.seg_id, s.seg_text,
        |    b.seg_text IS NOT NULL AS is_dup
        |  FROM seg s LEFT JOIN banned b ON s.seg_text = b.seg_text)
        |SELECT doc_id, count(*) AS n_segs,
        |  count(*) FILTER (is_dup) AS n_dropped,
        |  coalesce(string_agg(seg_text, ' ' ORDER BY seg_id)
        |    FILTER (NOT is_dup), '') AS kept_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin, headline = true),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    // that bounds the pairwise work by clustering first — assign every
    // vector to its nearest centroid (q136's broadcast + partial-agg
    // argmax shape), then compare ONLY within a cluster and drop any
    // vector with an earlier same-cluster member above the cosine
    // threshold. The pair join is keyed on cluster id, so its cost is
    // sum of squared CLUSTER sizes, not corpus²; at scale nlist grows
    // with n, holding cluster size — and per-cluster work — constant.
    // Deterministic first-8 centroids keep the oracle SQL-expressible.
    "q172_semdedup" -> api((spark, _) => {
      val e = spark.table("embeddings")
      val cents = e.orderBy("vec_id").limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      // materialized: asg feeds both self-join sides AND the final
      // select — without a checkpoint the corpus×centroids cosine pass
      // would re-run per consumer (branch subplans de-canonicalize, so
      // exchange reuse never fires; same phenomenon as q140/q141)
      checkpointView(spark, "graft_q172_asg", e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          GraftFunctions.duckRound(
            EmbeddingOps.cosine(col("embedding"), col("cvec")), 6).as("cos"))
        .groupBy("vec_id")
        .agg(max(struct(col("cos"), (-col("cid")).as("ncid"))).as("m"))
        .select(col("vec_id"), (-col("m.ncid")).as("cid")))
      val asg = spark.table("graft_q172_asg")
      val withVec = asg
        .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      val a = withVec.select(col("cid").as("cid_a"),
        col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = withVec.select(col("cid").as("cid_b"),
        col("vec_id").as("id_b"), col("embedding").as("vb"))
      val dropped = a
        .join(b, col("cid_a") === col("cid_b") && col("id_a") < col("id_b"))
        .where(GraftFunctions.duckRound(
          EmbeddingOps.cosine(col("va"), col("vb")), 6) >= 0.4)
        .select(col("id_b").as("vec_id")).distinct()
        .withColumn("d", lit(true))
      asg.join(broadcast(dropped), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          coalesce(col("d"), lit(false)).as("is_dup"))
        .orderBy("vec_id")
    },
      s"""WITH n AS $duckNormEmbeddings,
        |c AS (SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm
        |      FROM n ORDER BY vec_id LIMIT 8),
        |s AS (SELECT n.vec_id, c.cid,
        |    round((SELECT sum(x*y) FROM (SELECT unnest(n.embedding) AS x,
        |        unnest(c.cvec) AS y) z) / (n.nrm * c.cnrm), 6) AS cos
        |  FROM n CROSS JOIN c),
        |b AS (SELECT vec_id, cid, cos, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM s),
        |asg AS (SELECT vec_id, cid FROM b WHERE rn = 1),
        |pair AS (SELECT bb.vec_id AS idb,
        |    round((SELECT sum(x*y) FROM (SELECT unnest(na.embedding) AS x,
        |        unnest(nb.embedding) AS y) z) / (na.nrm * nb.nrm), 6) AS cos
        |  FROM asg a JOIN asg bb
        |    ON a.cid = bb.cid AND a.vec_id < bb.vec_id
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = bb.vec_id),
        |dropped AS (SELECT DISTINCT idb FROM pair WHERE cos >= 0.4)
        |SELECT a.vec_id, a.cid, d.idb IS NOT NULL AS is_dup
        |FROM asg a LEFT JOIN dropped d ON a.vec_id = d.idb
        |ORDER BY vec_id""".stripMargin, headline = true),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020,
    // arXiv:1911.00359): score each document by its unigram
    // cross-entropy under the corpus LM, then split the corpus into
    // head/middle/tail terciles — the standard quality-stratified
    // sampling gate. The LM is vocabulary-sized, so it broadcasts; the
    // scoring pass is one explode + broadcast join + per-doc re-agg;
    // the tercile is one window over doc-sized rows. Natural log on
    // both engines (identical libm semantics), terciles by ntile with
    // a deterministic (score, doc_id) tie-break; the window orders by
    // the ROUNDED score so a 1-ulp cross-engine libm difference near a
    // tercile boundary cannot flip buckets.
    // One explode pass: the corpus reduces to a checkpointed
    // (doc, word, k) count table that feeds BOTH the vocabulary LM and
    // the scoring join (without the checkpoint, branch subplans re-run
    // the explode — the q141/q154 phenomenon; 1.20 s → ~0.8 s at
    // sf0.1). Scoring weights each distinct word by its in-doc count —
    // identical math to the per-instance avg, mirrored verbatim in the
    // oracle so both engines fold the same algebra.
    "q173_ccnet_buckets" -> api({ (spark, _) =>
      checkpointView(spark, "graft_q173_dwc", spark.sql(
        """SELECT doc_id, word, count(*) AS k FROM documents
          |LATERAL VIEW explode(split(text, ' ')) x AS word
          |GROUP BY doc_id, word""".stripMargin))
      spark.sql(
        """WITH wc AS (SELECT word, sum(k) AS n FROM graft_q173_dwc
          |            GROUP BY word),
          |tot AS (SELECT sum(n) AS t FROM wc),
          |x AS (
          |  SELECT /*+ BROADCAST(wc) */ d.doc_id,
          |    sum(k * -ln(CAST(wc.n AS DOUBLE) / t)) / sum(k) AS xent
          |  FROM graft_q173_dwc d JOIN wc ON d.word = wc.word
          |  CROSS JOIN tot
          |  GROUP BY d.doc_id)
          |SELECT doc_id, CAST(round(xent, 6) AS DOUBLE) AS xent,
          |  CAST(ntile(3) OVER (ORDER BY round(xent, 6), doc_id) AS BIGINT)
          |    AS bucket
          |FROM x ORDER BY doc_id""".stripMargin)
    },
      """WITH dwc AS (
        |  SELECT doc_id, word, count(*) AS k FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |    FROM documents) z
        |  GROUP BY doc_id, word),
        |wc AS (SELECT word, sum(k) AS n FROM dwc GROUP BY word),
        |tot AS (SELECT sum(n) AS t FROM wc),
        |x AS (
        |  SELECT dwc.doc_id,
        |    sum(k * -ln(CAST(wc.n AS DOUBLE) / t)) / sum(k) AS xent
        |  FROM dwc JOIN wc ON dwc.word = wc.word CROSS JOIN tot
        |  GROUP BY dwc.doc_id)
        |SELECT doc_id, round(xent, 6) AS xent,
        |  ntile(3) OVER (ORDER BY round(xent, 6), doc_id) AS bucket
        |FROM x ORDER BY doc_id""".stripMargin, headline = true),

    // Tokenizer fertility report: tokens-per-word and chars-per-token
    // by language, under the same BPE-ish regex tokenizer as q47 — the
    // standard check that a tokenizer doesn't over-fragment some
    // language before committing a training mix. Map-side counting
    // into a lang-sized aggregate (one shuffle); ratios from corpus
    // sums, not averaged per-doc ratios, so shards merge exactly.
    "q174_tokenizer_fertility" -> sql(
      """WITH c AS (
        |  SELECT lang,
        |    CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS ws,
        |    CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]', 0))
        |      AS BIGINT) AS bpe,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, sum(ws) AS ws_tokens,
        |  sum(bpe) AS bpe_tokens,
        |  CAST(round(CAST(sum(bpe) AS DOUBLE) / sum(ws), 6) AS DOUBLE)
        |    AS fertility,
        |  CAST(round(CAST(sum(chars) AS DOUBLE) / sum(bpe), 6) AS DOUBLE)
        |    AS chars_per_token
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
      """WITH c AS (
        |  SELECT lang,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS ws,
        |    len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]'))
        |      AS bpe,
        |    length(replace(text, ' ', '')) AS chars
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
        |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
        |  round(CAST(sum(bpe) AS DOUBLE) / sum(ws), 6) AS fertility,
        |  round(CAST(sum(chars) AS DOUBLE) / sum(bpe), 6)
        |    AS chars_per_token
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin, headline = true),

    // fastText-style linear quality classifier (the DataComp/Llama
    // quality-gate shape): hashed bag-of-words features, a broadcast
    // (here: closed-form) weight vector, sigmoid score, threshold keep.
    // MAP-ONLY — the per-word fold runs inside the scan with zero
    // shuffle, the shape a 100 TB scoring pass needs. Feature hash is
    // the portable md5-prefix idiom (identical in both engines);
    // weights w(b) = ((b*37) % 129 - 64) / 64 are exact 1/64-grid
    // doubles, so the fold is bit-exact regardless of evaluation order.
    "q175_quality_classifier" -> sql(
      """SELECT doc_id,
        |  CAST(round(1.0 / (1.0 + exp(-z)), 6) AS DOUBLE) AS score,
        |  z >= 0 AS keep
        |FROM (
        |  SELECT doc_id,
        |    aggregate(split(trim(lower(text)), '\\s+'), CAST(0.0 AS DOUBLE),
        |      (a, w) -> a + CAST(
        |        (pmod(CAST(conv(substring(md5(w), 1, 4), 16, 10) AS BIGINT),
        |          64) * 37) % 129 - 64 AS DOUBLE) / 64.0)
        |      / size(split(trim(lower(text)), '\\s+')) AS z
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |  round(1.0 / (1.0 + exp(-z)), 6) AS score,
        |  z >= 0 AS keep
        |FROM (
        |  SELECT doc_id,
        |    list_sum(list_transform(
        |      regexp_split_to_array(trim(lower(text)), '\s+'),
        |      w -> CAST((('0x' || substr(md5(w), 1, 4))::BIGINT % 64 * 37)
        |        % 129 - 64 AS DOUBLE) / 64.0))
        |      / len(regexp_split_to_array(trim(lower(text)), '\s+')) AS z
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin, headline = true),

    // Reciprocal-rank fusion (Cormack et al. 2009) of two retriever
    // rankings — the standard hybrid-retrieval merge (BM25 + dense).
    // Each ranker is a window over doc-sized rows with a deterministic
    // tie-break; the fused score 1/(60+r_a) + 1/(60+r_b) is computed
    // identically on both engines; top-20 via the rank-ordered limit.
    "q176_rrf_fusion" -> sql(
      """WITH f AS (
        |  SELECT doc_id,
        |    size(filter(ts, x -> x = 'spark')) AS tf_a,
        |    size(filter(ts, x -> x = 'join')) AS tf_b,
        |    size(ts) AS dl
        |  FROM (SELECT doc_id, split(trim(lower(text)), '\\s+') AS ts
        |        FROM documents) t),
        |r AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY CAST(tf_a AS DOUBLE) / dl DESC,
        |      doc_id) AS ra,
        |    row_number() OVER (ORDER BY CAST(tf_b AS DOUBLE) / dl DESC,
        |      doc_id) AS rb
        |  FROM f)
        |SELECT doc_id, ra, rb,
        |  CAST(round(1.0 / (60 + ra) + 1.0 / (60 + rb), 6) AS DOUBLE)
        |    AS rrf
        |FROM r ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
      """WITH f AS (
        |  SELECT doc_id,
        |    len(list_filter(ts, x -> x = 'spark')) AS tf_a,
        |    len(list_filter(ts, x -> x = 'join')) AS tf_b,
        |    len(ts) AS dl
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |        FROM documents) t),
        |r AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY CAST(tf_a AS DOUBLE) / dl DESC,
        |      doc_id) AS ra,
        |    row_number() OVER (ORDER BY CAST(tf_b AS DOUBLE) / dl DESC,
        |      doc_id) AS rb
        |  FROM f)
        |SELECT doc_id, ra, rb,
        |  round(1.0 / (60 + ra) + 1.0 / (60 + rb), 6) AS rrf
        |FROM r ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin, headline = true),

    // Contrastive training-pair mining (r9): per labeled query, the
    // most-similar same-label vector (positive) and most-similar
    // different-label vector (hard negative) with the training margin
    // pos_cos - neg_cos — the pair-construction step for contrastive
    // embedding training. The per-(query, polarity) argmax runs as a
    // map-side-combinable max over a (cos, -id) struct, NOT a window:
    // only 2 rows per query per partition cross the shuffle, vs the
    // full |corpus|x|queries| candidate set a window would move.
    "q213_hard_negative_mining" -> api((spark, _) => {
      val emb = spark.table("embeddings")
      EmbeddingOps.hardNegatives(emb, emb.where(col("vec_id") < 25),
        "vec_id", "embedding", "label").orderBy("qid")
    },
      """WITH n AS (SELECT vec_id, label,
        |    CAST(embedding AS DOUBLE[]) AS embedding,
        |    sqrt((SELECT sum(x*x) FROM
        |      (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x) z))
        |      AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe,
        |    nrm AS qn FROM n WHERE vec_id < 25),
        |p AS (SELECT q.qid, q.qlabel, n.vec_id AS id,
        |    (n.label = q.qlabel) AS same,
        |    round((SELECT sum(x*y) FROM
        |        (SELECT unnest(q.qe) AS x, unnest(n.embedding) AS y) z)
        |      / (q.qn * n.nrm), 6) AS cos
        |  FROM n, q WHERE n.vec_id <> q.qid),
        |r AS (SELECT qid, qlabel, id, same, cos,
        |    row_number() OVER (PARTITION BY qid, same
        |      ORDER BY cos DESC, id) AS rn
        |  FROM p)
        |SELECT qid, qlabel AS label,
        |  max(CASE WHEN same THEN id END) AS pos_id,
        |  max(CASE WHEN same THEN cos END) AS pos_cos,
        |  max(CASE WHEN NOT same THEN id END) AS neg_id,
        |  max(CASE WHEN NOT same THEN cos END) AS neg_cos,
        |  round(max(CASE WHEN same THEN cos END)
        |    - max(CASE WHEN NOT same THEN cos END), 6) AS margin
        |FROM r WHERE rn = 1 GROUP BY qid, qlabel
        |ORDER BY qid""".stripMargin,
      headline = true),

    // Leakage-safe train/val/test split (r9): q63 splits by content
    // hash and q64 DETECTS near-dup leakage across its splits; this
    // entry PREVENTS it by construction — near-dup connected components
    // (q94's verified MinHash pair graph + min-label fixpoint,
    // singletons keep their own id as cluster) are assigned to splits
    // as whole units, keyed on md5 of the cluster id. No near-dup pair
    // can ever span train and test. One fingerprint-graph fixpoint over
    // the (tiny) pair set + a map-only assignment over the corpus.
    "q214_cluster_safe_split" -> api({ (spark, _) =>
      val docs = spark.table("documents")
      // governance path: a MISSED pair here splits a near-dup cluster
      // across train/test (leakage), so the banding is sized stricter
      // than the reporting entries (q42/q94): 64 bands of 2 rows miss a
      // jac=0.5 pair with prob (1-0.5^2)^64 ≈ 1e-8 (vs ~1e-4 at the
      // default 32x2) — negligible at any target pair count
      val pairs = TextOps.minhashDupPairs(docs, "doc_id", "text",
        threshold = 0.5, k = 128, b = 64)
      // star alternation (O(log n) rounds) over min-label (O(diameter)):
      // the fixpoint's driver-sync count dominates this entry's wall
      // time, so fewer rounds is the lever (r9 verdict #5; A/B at sf1
      // recorded in BASELINE.md)
      val comp = graft.operators.IterativeOps
        .connectedComponentsStar(pairs, "id_a", "id_b")
      val nib = substring(
        md5(concat(lit("split:"), col("cluster").cast("string"))), 1, 1)
      docs.select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"))
        .select(col("doc_id"), col("cluster"),
          when(nib.isin(trainNibbleSeq: _*), "train")
            .when(nib.isin(valNibbleSeq: _*), "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, $duckShingles AS sh FROM documents),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE round($duckJaccard, 6) >= 0.5),
         |e AS (SELECT id_a AS a, id_b AS b FROM p
         |  UNION SELECT id_b, id_a FROM p),
         |reach(id, lab) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, r.lab FROM e JOIN reach r ON r.id = e.b),
         |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
         |cl AS (SELECT doc.doc_id,
         |    coalesce(comp.component, doc.doc_id) AS cluster
         |  FROM documents doc LEFT JOIN comp ON doc.doc_id = comp.id)
         |SELECT doc_id, cluster,
         |  CASE WHEN substring(md5('split:' || CAST(cluster AS VARCHAR)),
         |      1, 1) IN $trainNibbles THEN 'train'
         |    WHEN substring(md5('split:' || CAST(cluster AS VARCHAR)),
         |      1, 1) IN $valNibbles THEN 'val'
         |    ELSE 'test' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin),

    // Deterministic epoch shuffle (r9): the last step before training —
    // a seeded, reproducible permutation of the corpus into shards with
    // a defined within-shard order (restartable data loading: any
    // worker can recompute its shard's order from the seed alone).
    // Shard assignment is map-only (md5 prefix mod n_shards); the
    // within-shard position is a window keyed by shard. Shard count
    // grows with corpus size at scale (shard ~= file), so the window's
    // parallelism scales with the data; a fixed tiny shard count would
    // instead use the q200 two-pass prefix-sum formulation.
    "q215_epoch_shuffle" -> sql(
      """WITH a AS (
        |  SELECT doc_id,
        |    CAST(conv(substring(md5(concat('epoch7:',
        |      CAST(doc_id AS STRING))), 1, 2), 16, 10) AS BIGINT) % 8
        |      AS shard,
        |    substring(md5(concat('epoch7:', CAST(doc_id AS STRING))),
        |      3, 8) AS ok
        |  FROM documents)
        |SELECT shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id)
        |    AS pos,
        |  doc_id
        |FROM a ORDER BY shard, pos""".stripMargin,
      """WITH a AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5('epoch7:' || CAST(doc_id AS VARCHAR)),
        |      1, 2))::BIGINT % 8 AS shard,
        |    substring(md5('epoch7:' || CAST(doc_id AS VARCHAR)), 3, 8)
        |      AS ok
        |  FROM documents)
        |SELECT shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id)
        |    AS pos,
        |  doc_id
        |FROM a ORDER BY shard, pos""".stripMargin),

    // Ranking-quality evaluation: nDCG@10 of the q204 BM25 ranking
    // against graded relevance (r9) — the harness has set metrics
    // (P/R/F1, H13) but no RANKING metric; nDCG is the standard one
    // for retrieval stacks. Graded relevance = distinct query terms
    // matched (0..4, integer — exact in both engines); DCG discounts
    // by log2(rank+1); the ideal ranking re-ranks the whole corpus by
    // relevance. Integer relevance grades mean only the final two
    // 10-term sums are floating-point, rounded at 6 dp.
    "q216_ndcg" -> api((spark, _) => {
      val docs = spark.table("documents")
      val terms = Seq("hash", "join", "merge", "filter")
      val ranked = operators.RetrievalOps.bm25TopN(docs, "doc_id",
        "text", terms, n = 10)
      val rel = docs.select(col("doc_id"), expr(
        """size(filter(array('hash','join','merge','filter'),
          |  t -> array_contains(split(trim(lower(text)), '\\s+'), t)))
          |""".stripMargin).cast("long").as("rel"))
      val dcg = ranked.join(rel, "doc_id")
        .agg(sum((pow(lit(2.0), col("rel")) - 1.0) /
          log2(col("rn") + 1.0)).as("dcg"))
      // corpus-wide ideal top-10 as TakeOrderedAndProject (orderBy +
      // limit), NOT an unpartitioned row_number window — the rank
      // window then runs over the 10 surviving rows only
      val idcg = rel.orderBy(col("rel").desc, col("doc_id")).limit(10)
        .withColumn("rn", row_number().over(org.apache.spark.sql
          .expressions.Window.orderBy(col("rel").desc, col("doc_id"))))
        .agg(sum((pow(lit(2.0), col("rel")) - 1.0) /
          log2(col("rn") + 1.0)).as("idcg"))
      dcg.crossJoin(idcg).select(
        round(col("dcg"), 6).as("dcg"),
        round(col("idcg"), 6).as("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
    },
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |lens AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl
        |  FROM w),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl
        |  FROM lens),
        |tf AS (SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(words) AS t FROM w)
        |  WHERE t IN ('hash', 'join', 'merge', 'filter')
        |  GROUP BY doc_id, t),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (SELECT tf.doc_id,
        |    round(sum(
        |      ln(1.0 + (CAST(s.n_docs AS DOUBLE) - df.df + 0.5)
        |        / (CAST(df.df AS DOUBLE) + 0.5)) *
        |      (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0) /
        |        (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |          CAST(lens.dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE)
        |          / CAST(s.sum_dl AS DOUBLE))))), 6) AS score,
        |    count(*) AS n_terms_hit
        |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id)
        |  CROSS JOIN stats s
        |  GROUP BY tf.doc_id),
        |ranked AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        |  FROM scored ORDER BY score DESC, doc_id LIMIT 10),
        |rel AS (SELECT doc_id, CAST(len(list_filter(
        |    ['hash', 'join', 'merge', 'filter'],
        |    t -> list_contains(string_split_regex(trim(lower(text)),
        |      '\s+'), t))) AS BIGINT) AS rel
        |  FROM documents),
        |dcg AS (SELECT sum((pow(2.0, rel) - 1.0) / log2(rn + 1.0))
        |    AS dcg
        |  FROM ranked JOIN rel USING (doc_id)),
        |ideal AS (SELECT rel, row_number() OVER
        |    (ORDER BY rel DESC, doc_id) AS rn
        |  FROM rel),
        |idcg AS (SELECT sum((pow(2.0, rel) - 1.0) / log2(rn + 1.0))
        |    AS idcg
        |  FROM ideal WHERE rn <= 10)
        |SELECT round(dcg.dcg, 6) AS dcg, round(idcg.idcg, 6) AS idcg,
        |  round(dcg.dcg / idcg.idcg, 6) AS ndcg
        |FROM dcg, idcg""".stripMargin,
      headline = true),

    // SFT example assembly with loss-mask accounting (r9): each doc
    // becomes an instruction-tuning example (12 template tokens +
    // instruction body as the MASKED prompt span, an 8-token extractive
    // stub as the trainable completion), packed into 512-token training
    // sequences by q200's two-pass distributed prefix sum (never a
    // single-partition window). The per-example report carries the
    // packing-fragmentation signals that matter for SFT specifically:
    // whether the COMPLETION (loss) span crosses a sequence boundary,
    // and the example's loss fraction.
    "q218_sft_pack_masks" -> api((spark, _) => {
      val docs = spark.table("documents")
      val ex = docs.select(col("doc_id"),
        (size(split(col("text"), " ")) + lit(12)).cast("long")
          .as("prompt_toks"),
        least(size(split(col("text"), " ")), lit(8)).cast("long")
          .as("completion_toks"))
        .withColumn("example_toks",
          col("prompt_toks") + col("completion_toks"))
      operators.PackingOps.packChunks(ex, "doc_id", "example_toks", 512)
        .join(ex, "doc_id")
        .select(col("doc_id"), col("prompt_toks"), col("completion_toks"),
          col("toks").as("example_toks"), col("gstart"),
          col("chunk_first"), col("chunk_last"),
          (expr("(gstart + prompt_toks) div 512") =!=
            expr("(gstart + example_toks - 1) div 512"))
            .as("completion_split"),
          round(col("completion_toks").cast("double") /
            col("example_toks"), 6).as("loss_frac"))
        .orderBy("doc_id")
    },
      """WITH e AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) + 12 AS BIGINT)
        |      AS prompt_toks,
        |    CAST(least(len(string_split(text, ' ')), 8) AS BIGINT)
        |      AS completion_toks
        |  FROM documents),
        |x AS (SELECT doc_id, prompt_toks, completion_toks,
        |    prompt_toks + completion_toks AS example_toks FROM e),
        |c AS (SELECT *, CAST(coalesce(sum(example_toks) OVER (
        |    ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS gstart FROM x)
        |SELECT doc_id, prompt_toks, completion_toks, example_toks,
        |  gstart, gstart // 512 AS chunk_first,
        |  (gstart + greatest(example_toks, 1) - 1) // 512 AS chunk_last,
        |  ((gstart + prompt_toks) // 512)
        |    <> ((gstart + example_toks - 1) // 512) AS completion_split,
        |  round(CAST(completion_toks AS DOUBLE) / example_toks, 6)
        |    AS loss_frac
        |FROM c ORDER BY doc_id""".stripMargin,
      headline = true),

    // Best-of-n candidate selection (r9): the rejection-sampling /
    // distillation loop — n=4 candidate generations per prompt, a
    // reward per candidate, argmax selection with the reward margin
    // over the runner-up (the confidence signal that gates whether the
    // winner enters the training set). The reward is a deterministic
    // md5-derived stand-in at the same seam a real reward model would
    // occupy (a batched scoring call, cf. q217's transport); selection
    // is a single bounded aggregate — sort of an n-sized struct list
    // per prompt, no window, no shuffle beyond the one groupBy.
    "q219_best_of_n" -> api((spark, _) =>
      spark.table("documents")
        .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("i"))
        .select(col("doc_id"), col("i"),
          expr("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING)," +
            " ':', CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT)")
            .as("reward"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("reward"),
          (-col("i")).as("ni"), col("i"))), asc = false).as("arr"))
        .select(col("doc_id"),
          col("arr")(0).getField("i").as("best_i"),
          col("arr")(0).getField("reward").as("best_reward"),
          (col("arr")(0).getField("reward") -
            col("arr")(1).getField("reward")).as("margin"))
        .orderBy("doc_id"),
      """WITH cand AS (SELECT doc_id, i,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(i AS VARCHAR)), 1, 8))::BIGINT AS reward
        |  FROM documents, unnest([0, 1, 2, 3]) AS u(i)),
        |r AS (SELECT doc_id, i, reward,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY reward DESC, i) AS rn
        |  FROM cand)
        |SELECT doc_id,
        |  max(CASE WHEN rn = 1 THEN i END) AS best_i,
        |  max(CASE WHEN rn = 1 THEN reward END) AS best_reward,
        |  CAST(max(CASE WHEN rn = 1 THEN reward END)
        |    - max(CASE WHEN rn = 2 THEN reward END) AS BIGINT) AS margin
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Margin-based cross-corpus alignment (r9) — Artetxe & Schwenk
    // 2019 mutual-margin mining over the even/odd vec_id halves.
    // Kernel (incl. the r13 sf-gated dense-vs-LSH candidate choice,
    // now footer-count-gated and spec-pinned, r14) lives in
    // EmbeddingOps.bitextMarginMining — design notes there.
    "q220_bitext_margin_mining" -> api({ (spark, _) =>
      EmbeddingOps.bitextMarginMining(spark.table("embeddings"))
    },
      """WITH n AS (SELECT vec_id,
        |    CAST(embedding AS DOUBLE[]) AS embedding,
        |    sqrt((SELECT sum(x*x) FROM
        |      (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x) z))
        |      AS nrm
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    round((SELECT sum(x*y) FROM
        |        (SELECT unnest(a.embedding) AS x,
        |                unnest(b.embedding) AS y) z)
        |      / (a.nrm * b.nrm), 6) AS cos
        |  FROM n a, n b
        |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
        |ka AS (SELECT a_id, round(avg(cos), 6) AS ma FROM (
        |    SELECT a_id, cos, row_number() OVER (PARTITION BY a_id
        |      ORDER BY cos DESC, b_id) AS rn FROM p) t
        |  WHERE rn <= 4 GROUP BY a_id),
        |kb AS (SELECT b_id, round(avg(cos), 6) AS mb FROM (
        |    SELECT b_id, cos, row_number() OVER (PARTITION BY b_id
        |      ORDER BY cos DESC, a_id) AS rn FROM p) t
        |  WHERE rn <= 4 GROUP BY b_id),
        |s AS (SELECT p.a_id, p.b_id, p.cos,
        |    round(p.cos / ((ka.ma + kb.mb) / 2.0), 6) AS margin
        |  FROM p JOIN ka USING (a_id) JOIN kb USING (b_id)),
        |fwd AS (SELECT a_id, b_id, cos, margin FROM (
        |    SELECT s.*, row_number() OVER (PARTITION BY a_id
        |      ORDER BY margin DESC, b_id) AS rn FROM s) t
        |  WHERE rn = 1),
        |bwd AS (SELECT b_id, a_id AS back_a FROM (
        |    SELECT s.*, row_number() OVER (PARTITION BY b_id
        |      ORDER BY margin DESC, a_id) AS rn FROM s) t
        |  WHERE rn = 1)
        |SELECT fwd.a_id, fwd.b_id, fwd.cos, fwd.margin
        |FROM fwd JOIN bwd ON fwd.b_id = bwd.b_id
        |  AND bwd.back_a = fwd.a_id
        |ORDER BY fwd.a_id""".stripMargin,
      headline = true),

    // Crawl-front domain governance (r9): blocklist removal + per-domain
    // document cap (top-10 per source by length, deterministic
    // tie-break) — the CommonCrawl-style balancing step that stops one
    // domain from dominating the corpus. The rk<=10 filter over the
    // per-source window plans as WindowGroupLimit (spec-asserted):
    // Spark pushes a partial top-k BELOW the exchange, so only <=10
    // rows per source per input partition reach the shuffle — the
    // per-domain cap costs a capped shuffle, not a corpus sort.
    "q221_domain_cap" -> same(
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents
        |  WHERE source NOT IN ('src17', 'src18', 'src19'))
        |SELECT doc_id, source, n_chars, rk
        |FROM r WHERE rk <= 10 ORDER BY source, rk""".stripMargin),

    // Semantic eval decontamination (r9): the embedding-space
    // complement of the n-gram decontamination (q150) — flag every
    // TRAINING vector whose cosine to ANY eval-set vector clears the
    // threshold (the FineWeb/clean-room practice: n-grams catch copies,
    // embeddings catch paraphrases). Eval side (vec_id % 50 = 0)
    // broadcasts; the per-train argmax over eval candidates is the
    // same map-side-combinable struct-max as q213 — one corpus pass,
    // no window, no corpus shuffle.
    "q222_semantic_decontam" -> api((spark, _) => {
      val emb = spark.table("embeddings")
      val eval_ = broadcast(emb.where(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("eval_id"), col("embedding").as("ev")))
      emb.where(pmod(col("vec_id"), lit(50)) =!= 0)
        .select(col("vec_id"), col("embedding").as("tv"))
        .join(eval_)
        .select(col("vec_id"), col("eval_id"),
          graft.functions.GraftFunctions.duckRound(
            EmbeddingOps.cosine(col("tv"), col("ev")), 6).as("cos"))
        .groupBy("vec_id")
        .agg(max(struct(col("cos"), (-col("eval_id")).as("ne"),
          col("eval_id"))).as("m"))
        .select(col("vec_id"),
          col("m.eval_id").as("nearest_eval_id"),
          col("m.cos").as("max_cos"),
          (col("m.cos") >= 0.5).as("flagged"))
        .orderBy("vec_id")
    },
      """WITH n AS (SELECT vec_id,
        |    CAST(embedding AS DOUBLE[]) AS embedding,
        |    sqrt((SELECT sum(x*x) FROM
        |      (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x) z))
        |      AS nrm
        |  FROM embeddings),
        |ev AS (SELECT vec_id AS eval_id, embedding AS e, nrm AS en
        |  FROM n WHERE vec_id % 50 = 0),
        |p AS (SELECT n.vec_id, ev.eval_id,
        |    round((SELECT sum(x*y) FROM
        |        (SELECT unnest(n.embedding) AS x, unnest(ev.e) AS y) z)
        |      / (n.nrm * ev.en), 6) AS cos
        |  FROM n, ev WHERE n.vec_id % 50 <> 0),
        |r AS (SELECT vec_id, eval_id, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, eval_id) AS rn
        |  FROM p)
        |SELECT vec_id, eval_id AS nearest_eval_id, cos AS max_cos,
        |  cos >= 0.5 AS flagged
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    // Join-key skew diagnosis + salt planning (r9): the measurement
    // that decides between plain shuffle, broadcast, and salting
    // (q101/q102 EXECUTE the salted shapes; this entry produces the
    // numbers that justify them). Per-key counts are one partial-agg
    // shuffle on the key; the corpus-wide stats ride as a broadcast
    // scalar row; the skew head is a top-k reduction
    // (TakeOrderedAndProject), never a global sort. salt_buckets =
    // ceil(cnt / avg) is the replication factor that levels that key
    // to the average — the input q102's salted join needs.
    "q223_skew_report" -> same(
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events
        |  GROUP BY user_id),
        |s AS (SELECT count(*) AS n_keys, sum(cnt) AS n_rows,
        |    avg(cnt) AS avg_cnt FROM c)
        |SELECT c.user_id, c.cnt, s.n_keys,
        |  CAST(s.n_rows AS BIGINT) AS n_rows,
        |  round(c.cnt / s.avg_cnt, 6) AS skew_ratio,
        |  round(c.cnt / CAST(s.n_rows AS DOUBLE), 6) AS share,
        |  CAST(greatest(1, ceil(c.cnt / s.avg_cnt)) AS BIGINT)
        |    AS salt_buckets
        |FROM c CROSS JOIN s
        |ORDER BY c.cnt DESC, c.user_id LIMIT 20""".stripMargin),

    // Full RAG loop as ONE dataflow (r9 capstone composite): dense
    // retrieval (q61's chunk→embed→top-3 kernel) → rank-ordered
    // context assembly → prompt construction → LLM call through the
    // injectable transport (q183's seam; EchoClient offline) → stop
    // truncation and usage accounting. Every stage is a proven kernel;
    // the entry pins their COMPOSITION — the oracle rebuilds the whole
    // loop in SQL, so a drift anywhere (ranking, context order,
    // prompt template, truncation) moves the hash. No corpus shuffle
    // beyond the retrieval join; context assembly groups k-sized rows.
    "q231_rag_pipeline" -> api((spark, _) => {
      val docs = spark.table("documents")
      val chunks = operators.RetrievalOps.chunkDocuments(docs, "doc_id",
        "text")
      val emb = chunks.select(col("doc_id"), col("chunk_idx"),
        col("chunk"),
        operators.RetrievalOps.stubEmbed(col("chunk")).as("emb"))
      val queries = emb.where(col("chunk_idx") === 0 && col("doc_id") < 3)
        .select(col("doc_id").as("qdoc"), col("chunk_idx").as("qidx"),
          col("emb"))
      val top = operators.RetrievalOps.retrieveTopN(
        emb.select(col("doc_id"), col("chunk_idx"), col("emb")),
        Seq("doc_id", "chunk_idx"), queries, Seq("qdoc", "qidx"),
        "emb", 3)
      val ctx = top
        .join(chunks, Seq("doc_id", "chunk_idx"))
        .groupBy("qdoc")
        .agg(count(lit(1)).as("n_ctx"),
          expr("array_join(transform(array_sort(" +
            "collect_list(struct(rn, chunk))), x -> x.chunk), ' | ')")
            .as("ctx"))
      val prompted = ctx
        .join(docs.select(col("doc_id").as("qdoc"),
          col("text").as("question")), "qdoc")
        .select(col("qdoc"), col("n_ctx"),
          concat(lit("-- Context: "), col("ctx"),
            lit("\n-- Question: "), col("question"), lit("\n"))
            .as("prompt"))
      operators.LlmOrchestrator.completePrompts(prompted, "prompt",
          operators.LlmOrchestrator.clientFromConf(spark))
        .select(col("qdoc"), col("n_ctx"),
          operators.PromptOps.truncateAtStops(col("raw_output"),
            Seq(";", "\n")).as("answer"),
          length(col("prompt")).cast("long").as("prompt_chars"),
          length(col("raw_output")).cast("long").as("completion_chars"))
        .orderBy("qdoc")
    },
      """WITH c AS (
        |  SELECT doc_id, u.i AS chunk_idx,
        |    substring(text, u.i*450 + 1, 500) AS chunk
        |  FROM documents, unnest(range(0, greatest(
        |     CAST(ceil((length(text) - 50) / 450.0) AS BIGINT), 1))) AS u(i)
        |), e AS (
        |  SELECT doc_id, chunk_idx, list_transform(range(0,16), i ->
        |    CAST((ascii(substring(chunk, i*7 + 1, 1)) * (i+1)) % 97
        |      AS DOUBLE)) AS emb
        |  FROM c
        |), q AS (
        |  SELECT doc_id AS qdoc, 0 AS qidx, emb AS qemb FROM e
        |  WHERE chunk_idx = 0 AND doc_id < 3
        |), s AS (
        |  SELECT q.qdoc, e.doc_id, e.chunk_idx,
        |    (SELECT sum(x*y) FROM
        |      (SELECT unnest(e.emb) AS x, unnest(q.qemb) AS y) z) AS score
        |  FROM e, q WHERE NOT (e.doc_id = q.qdoc AND e.chunk_idx = q.qidx)
        |), r AS (
        |  SELECT qdoc, doc_id, chunk_idx, score,
        |    row_number() OVER (PARTITION BY qdoc
        |      ORDER BY score DESC, doc_id, chunk_idx) AS rn
        |  FROM s),
        |top AS (SELECT qdoc, doc_id, chunk_idx, rn FROM r WHERE rn <= 3),
        |ctx AS (SELECT t.qdoc, count(*) AS n_ctx,
        |    string_agg(c.chunk, ' | ' ORDER BY t.rn) AS ctx
        |  FROM top t JOIN c ON t.doc_id = c.doc_id
        |    AND t.chunk_idx = c.chunk_idx
        |  GROUP BY t.qdoc),
        |p AS (SELECT ctx.qdoc, ctx.n_ctx,
        |    '-- Context: ' || ctx.ctx || chr(10) || '-- Question: ' ||
        |      d.text || chr(10) AS prompt
        |  FROM ctx JOIN documents d ON ctx.qdoc = d.doc_id),
        |rr AS (SELECT qdoc, n_ctx, prompt,
        |    'SELECT ' || CAST(length(prompt) AS VARCHAR)
        |      || ' AS prompt_len;' || chr(10)
        |      || '-- max_tokens=300 beams=1' AS raw
        |  FROM p)
        |SELECT qdoc, CAST(n_ctx AS BIGINT) AS n_ctx,
        |  string_split(string_split(raw, ';')[1], chr(10))[1] AS answer,
        |  CAST(length(prompt) AS BIGINT) AS prompt_chars,
        |  CAST(length(raw) AS BIGINT) AS completion_chars
        |FROM rr ORDER BY qdoc""".stripMargin),

    // Dataset card (r9): the per-source summary every corpus release
    // ships — doc/char/token mass, language spread, mean quality
    // (q48's formula, shared so the two oracles cannot drift) and
    // exact-dup mass (docs minus distinct lead fingerprints). ONE
    // groupBy over the corpus; every measure is a partial-aggregable
    // count/sum/distinct. The distinct-heavy columns are per-source
    // partial sketches at scale (count-distinct partials), never a
    // second corpus pass.
    "q232_data_card" -> api((spark, _) =>
      spark.table("documents")
        .select(col("source"), col("lang"), col("n_chars"),
          size(split(trim(col("text")), " ")).cast("long").as("toks"),
          TextOps.qualityScore(col("text")).as("q"),
          TextOps.leadFingerprint(col("text"), 50).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"),
          sum("toks").cast("long").as("total_tokens"),
          countDistinct("lang").as("n_langs"),
          graft.functions.GraftFunctions.duckRound(avg(col("q")), 6)
            .as("mean_quality"),
          (count(lit(1)) - countDistinct("fp")).as("dup_docs"))
        .orderBy("source"),
      s"""SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
        |    AS total_tokens,
        |  count(DISTINCT lang) AS n_langs,
        |  round(avg($duckQuality), 6) AS mean_quality,
        |  CAST(count(*) - count(DISTINCT
        |    md5(substring(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'), 1, 50)))
        |    AS BIGINT) AS dup_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // Prefix-cache planning (r9): the inference-serving cost model
    // behind vLLM-style prefix caching — per prompt group (here: one
    // template per source), how long is the SHARED prefix every
    // request re-sends, and how many characters a prefix cache saves
    // ((n−1)·prefix per group). The group-wide common prefix is the
    // common prefix of the lexicographic MIN and MAX prompt (the
    // classic trick — any divergence inside the group moves one of
    // the extremes), so the whole analysis is one groupBy carrying
    // two strings per group; prefix length via a monotone
    // filter-count over positions (equality holds on a prefix of the
    // sequence, so count == max matching i).
    "q233_prefix_cache_plan" -> sql(
      """WITH p AS (SELECT source,
        |    concat('[', source, '] instruction: ', text) AS prompt
        |  FROM documents),
        |g AS (SELECT source, count(*) AS n_prompts,
        |    min(prompt) AS lo, max(prompt) AS hi
        |  FROM p GROUP BY source),
        |x AS (SELECT source, n_prompts,
        |    size(filter(sequence(1, least(length(lo), length(hi))),
        |      i -> substring(lo, 1, i) = substring(hi, 1, i)))
        |      AS prefix_len
        |  FROM g)
        |SELECT source, n_prompts, CAST(prefix_len AS BIGINT)
        |    AS prefix_len,
        |  CAST((n_prompts - 1) * prefix_len AS BIGINT) AS chars_saved
        |FROM x ORDER BY source""".stripMargin,
      """WITH p AS (SELECT source,
        |    '[' || source || '] instruction: ' || text AS prompt
        |  FROM documents),
        |g AS (SELECT source, count(*) AS n_prompts,
        |    min(prompt) AS lo, max(prompt) AS hi
        |  FROM p GROUP BY source),
        |x AS (SELECT source, n_prompts,
        |    len(list_filter(range(1, least(length(lo), length(hi)) + 1),
        |      i -> substring(lo, 1, i) = substring(hi, 1, i)))
        |      AS prefix_len
        |  FROM g)
        |SELECT source, n_prompts, CAST(prefix_len AS BIGINT)
        |    AS prefix_len,
        |  CAST((n_prompts - 1) * prefix_len AS BIGINT) AS chars_saved
        |FROM x ORDER BY source""".stripMargin),

    // Cross-source overlap matrix (r9): which sources share content —
    // the provenance forensic behind licensing audits and mirror
    // detection ("who copied whom"). Lead fingerprints per doc (one
    // map pass), distinct (source, fp) pairs, then a fp-keyed
    // self-join emits source PAIRS that share a fingerprint — the join
    // fans out per fp by its source count (bounded by the 20-source
    // universe), never by doc count, and the matrix is |sources|²
    // rows at most. Spark SQL and DuckDB share everything but the
    // fingerprint normalization spelling.
    "q230_source_overlap" -> sql(
      """WITH f AS (SELECT DISTINCT source,
        |    md5(substring(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ''), ' +', ' '), 1, 50)) AS fp
        |  FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  count(*) AS shared_fps
        |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY a.source, b.source
        |ORDER BY shared_fps DESC, src_a, src_b""".stripMargin,
      """WITH f AS (SELECT DISTINCT source,
        |    md5(substring(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'), 1, 50)) AS fp
        |  FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  count(*) AS shared_fps
        |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY a.source, b.source
        |ORDER BY shared_fps DESC, src_a, src_b""".stripMargin),

    // Streaming split routing (r9): q214's continuous admission path —
    // the standing corpus (even ids) carries cluster-safe splits; an
    // ARRIVING doc inherits its fingerprint-matched cluster's split via
    // a stateless stream-static join, or becomes its own singleton
    // cluster under the same md5 rule. The oracle rebuilds the whole
    // routing table (components, fp index, inheritance, fresh-split
    // fallback) in SQL; drained AvailableNow the stream equals it
    // exactly. Completes the incremental governance axis alongside
    // q188 (exact dedup) and q208 (substring dedup).
    "q224_stream_split_routing" -> api((spark, sfDir) =>
      graft.streaming.StreamingOps.streamSplitRouting(spark, sfDir,
        trainNibbleSeq, valNibbleSeq),
      s"""WITH RECURSIVE f AS (SELECT doc_id,
         |    md5(substring(regexp_replace(regexp_replace(lower(text),
         |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'), 1, 50)) AS fp
         |  FROM documents),
         |d AS (SELECT doc_id, $duckShingles AS sh FROM documents
         |  WHERE doc_id % 2 = 0),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE round($duckJaccard, 6) >= 0.5),
         |e AS (SELECT id_a AS a, id_b AS b FROM p
         |  UNION SELECT id_b, id_a FROM p),
         |reach(id, lab) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT e.a, r.lab FROM e JOIN reach r ON r.id = e.b),
         |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
         |cl AS (SELECT f.doc_id, f.fp,
         |    coalesce(comp.component, f.doc_id) AS cluster
         |  FROM f LEFT JOIN comp ON f.doc_id = comp.id
         |  WHERE f.doc_id % 2 = 0),
         |idx AS (SELECT fp, min(cluster) AS cluster FROM cl GROUP BY fp),
         |idxs AS (SELECT fp,
         |    CASE WHEN substring(md5('split:' ||
         |        CAST(cluster AS VARCHAR)), 1, 1) IN $trainNibbles
         |      THEN 'train'
         |    WHEN substring(md5('split:' ||
         |        CAST(cluster AS VARCHAR)), 1, 1) IN $valNibbles
         |      THEN 'val'
         |    ELSE 'test' END AS inherited
         |  FROM idx),
         |arr AS (SELECT doc_id, fp FROM f WHERE doc_id % 2 = 1)
         |SELECT a.doc_id, (i.inherited IS NOT NULL) AS matched,
         |  coalesce(i.inherited,
         |    CASE WHEN substring(md5('split:' ||
         |        CAST(a.doc_id AS VARCHAR)), 1, 1) IN $trainNibbles
         |      THEN 'train'
         |    WHEN substring(md5('split:' ||
         |        CAST(a.doc_id AS VARCHAR)), 1, 1) IN $valNibbles
         |      THEN 'val'
         |    ELSE 'test' END) AS split
         |FROM arr a LEFT JOIN idxs i ON a.fp = i.fp
         |ORDER BY a.doc_id""".stripMargin),

    // Late-interaction retrieval, ColBERT-style MaxSim (r9; Khattab &
    // Zaharia 2020, arXiv:2004.12832): score(q, d) = Σ over q's chunk
    // vectors of the MAX similarity against any of d's chunk vectors —
    // the multi-vector middle ground between one-vector dense (q61) and
    // token-sparse BM25 (q204). Chunk vectors are the q206 stub
    // embeddings: INTEGER-valued, so every dot, max and sum is exact
    // (BIGINT end to end — no float rounding anywhere in the score).
    // Query chunks broadcast; per-(q-chunk, d) max and per-(q, d) sum
    // are partial-aggregable groupBys; per-query top-5 ranks |corpus|
    // candidates (ANN-prefiltered at real scale, the q187 pattern).
    "q225_colbert_maxsim" -> api((spark, _) => {
      import org.apache.spark.sql.expressions.Window
      val chunks = operators.RetrievalOps.chunkDocuments(
          spark.table("documents"), "doc_id", "text")
        .select(col("doc_id"), col("chunk_idx"),
          operators.RetrievalOps.stubEmbed(col("chunk"))
            .cast("array<float>").as("emb"))
      val qs = broadcast(chunks.where(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("chunk_idx").as("qci"),
          col("emb").as("qe")))
      chunks.select(col("doc_id").as("did"), col("emb").as("de"))
        .join(qs, col("did") =!= col("qid"))
        .select(col("qid"), col("qci"), col("did"),
          graft.functions.GraftFunctions.vecDot(col("qe"), col("de"))
            .cast("long").as("dot"))
        .groupBy("qid", "did", "qci").agg(max("dot").as("mx"))
        .groupBy("qid", "did").agg(sum("mx").as("maxsim"))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("maxsim").desc, col("did"))))
        .where(col("rn") <= 5)
        .select(col("qid"), col("did"), col("maxsim"), col("rn"))
        .orderBy("qid", "rn")
    },
      """WITH c AS (
        |  SELECT doc_id, u.i AS chunk_idx,
        |    substring(text, u.i*450 + 1, 500) AS chunk
        |  FROM documents, unnest(range(0, greatest(
        |     CAST(ceil((length(text) - 50) / 450.0) AS BIGINT), 1))) AS u(i)
        |), e AS (
        |  SELECT doc_id, chunk_idx, list_transform(range(0,16), i ->
        |    CAST((ascii(substring(chunk, i*7 + 1, 1)) * (i+1)) % 97
        |      AS DOUBLE)) AS emb
        |  FROM c
        |), q AS (SELECT doc_id AS qid, chunk_idx AS qci, emb AS qe
        |  FROM e WHERE doc_id < 3),
        |dots AS (SELECT q.qid, q.qci, e.doc_id AS did,
        |    CAST((SELECT sum(x*y) FROM
        |      (SELECT unnest(q.qe) AS x, unnest(e.emb) AS y) z)
        |      AS BIGINT) AS dot
        |  FROM e, q WHERE e.doc_id <> q.qid),
        |mx AS (SELECT qid, did, qci, max(dot) AS mx FROM dots
        |  GROUP BY qid, did, qci),
        |sc AS (SELECT qid, did, CAST(sum(mx) AS BIGINT) AS maxsim
        |  FROM mx GROUP BY qid, did),
        |r AS (SELECT qid, did, maxsim, row_number() OVER
        |    (PARTITION BY qid ORDER BY maxsim DESC, did) AS rn
        |  FROM sc)
        |SELECT qid, did, maxsim, rn FROM r WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin,
      headline = true),

    // Incremental aggregate maintenance (r9) — materialized-view delta
    // refresh: the standing aggregate (count/sum/min/max per group over
    // the 80% base) absorbs a delta batch ALGEBRAICALLY (full-outer
    // merge on the group key, ⊕ per measure) — delta-sized work, the
    // base is never rescanned. The oracle aggregates the full table
    // from scratch, so the refreshed view must equal a cold recompute
    // exactly: a wrong merge identity (null handling, min/max of a
    // group only in one side) goes red. All measures chosen
    // decomposable; avg is derived sum/count at READ time (the
    // standard IVM discipline — never maintain a non-decomposable
    // measure directly).
    "q227_incr_agg_refresh" -> api((spark, _) => {
      val ev = spark.table("events")
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) = df
        .groupBy("event_type")
        .agg(count(lit(1)).as(s"n_$tag"),
          sum(col("value")).as(s"sum_$tag"),
          min(col("value")).as(s"min_$tag"),
          max(col("value")).as(s"max_$tag"))
      val standing = agg(ev.where(pmod(col("event_id"), lit(5)) =!= 0),
        "s")
      val delta = agg(ev.where(pmod(col("event_id"), lit(5)) === 0), "d")
      standing.join(delta, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("n_s"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
            .as("n"),
          round(coalesce(col("sum_s"), lit(0.0)) +
            coalesce(col("sum_d"), lit(0.0)), 6).as("total"),
          least(coalesce(col("min_s"), col("min_d")),
            coalesce(col("min_d"), col("min_s"))).as("mn"),
          greatest(coalesce(col("max_s"), col("max_d")),
            coalesce(col("max_d"), col("max_s"))).as("mx"),
          round((coalesce(col("sum_s"), lit(0.0)) +
            coalesce(col("sum_d"), lit(0.0))) /
            (coalesce(col("n_s"), lit(0L)) +
              coalesce(col("n_d"), lit(0L))), 6).as("avg_value"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 6) AS total,
        |  min(value) AS mn, max(value) AS mx,
        |  round(sum(value) / count(*), 6) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      headline = true),

    // Matryoshka truncation evaluation (r9; Kusupati et al. 2022,
    // arXiv:2205.13147): how much of the exact top-5 ranking survives
    // when the 64-dim embeddings are truncated to their first 16
    // dimensions — the measurement behind choosing a cheaper prefix
    // dim for the ANN scan (the MRL deployment decision; q187/q209
    // compress by quantization, this by truncation). Both rankings are
    // exact brute kNN (shared rankTopK tail), the overlap join is
    // per-query k-sized. Recall@5 of the truncated ranking rides per
    // query, so a truncation-sensitivity regression is driver-visible.
    "q228_matryoshka_overlap" -> api((spark, _) => {
      val emb = spark.table("embeddings")
      val trunc = emb.select(col("vec_id"),
        expr("slice(embedding, 1, 16)").as("embedding"))
      val full = EmbeddingOps.knnBruteForce(emb,
        emb.where(col("vec_id") < 25), "vec_id", "embedding", k = 5)
      val cut = EmbeddingOps.knnBruteForce(trunc,
        trunc.where(col("vec_id") < 25), "vec_id", "embedding", k = 5)
      full.select(col("qid"), col("id"))
        .join(cut.select(col("qid"), col("id"), lit(1L).as("hit")),
          Seq("qid", "id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"),
          coalesce(sum("hit"), lit(0L)).as("n_kept"))
        .select(col("qid"), col("k"), col("n_kept"),
          round(col("n_kept").cast("double") / col("k"), 6)
            .as("recall_at_5"))
        .orderBy("qid")
    },
      """WITH n AS (SELECT vec_id,
        |    CAST(embedding AS DOUBLE[]) AS e64,
        |    CAST(embedding[1:16] AS DOUBLE[]) AS e16
        |  FROM embeddings),
        |m AS (SELECT vec_id, e64, e16,
        |    sqrt((SELECT sum(x*x) FROM (SELECT unnest(e64) AS x) z))
        |      AS n64,
        |    sqrt((SELECT sum(x*x) FROM (SELECT unnest(e16) AS x) z))
        |      AS n16
        |  FROM n),
        |q AS (SELECT vec_id AS qid, e64 AS q64, e16 AS q16,
        |    n64 AS qn64, n16 AS qn16 FROM m WHERE vec_id < 25),
        |p AS (SELECT q.qid, m.vec_id AS id,
        |    round((SELECT sum(x*y) FROM
        |      (SELECT unnest(q.q64) AS x, unnest(m.e64) AS y) z)
        |      / (q.qn64 * m.n64), 6) AS c64,
        |    round((SELECT sum(x*y) FROM
        |      (SELECT unnest(q.q16) AS x, unnest(m.e16) AS y) z)
        |      / (q.qn16 * m.n16), 6) AS c16
        |  FROM m, q WHERE m.vec_id <> q.qid),
        |rf AS (SELECT qid, id, row_number() OVER (PARTITION BY qid
        |    ORDER BY c64 DESC, id) AS rn FROM p),
        |rc AS (SELECT qid, id, row_number() OVER (PARTITION BY qid
        |    ORDER BY c16 DESC, id) AS rn FROM p),
        |tf AS (SELECT qid, id FROM rf WHERE rn <= 5),
        |tc AS (SELECT qid, id FROM rc WHERE rn <= 5)
        |SELECT tf.qid, count(*) AS k,
        |  CAST(sum(CASE WHEN tc.id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  round(sum(CASE WHEN tc.id IS NOT NULL THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS recall_at_5
        |FROM tf LEFT JOIN tc ON tf.qid = tc.qid AND tf.id = tc.id
        |GROUP BY tf.qid ORDER BY tf.qid""".stripMargin)
  )
}
