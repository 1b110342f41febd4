package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Property tests for the hash-family text operators that have no SQL
  * oracle: planted near-duplicates must be caught, distinct texts must
  * not collide. */
class TextOpsSpec extends SparkSpecBase {

  private lazy val planted = {
    import spark.implicits._
    // ~120 tokens: long enough that a 1-word swap keeps simhash bit
    // majorities stable (short docs legitimately flip many bits)
    val base = (1 to 40).map(i =>
      s"sentence $i of the planted document talks about topic-${i % 7}")
      .mkString(" ")
    val nearDup = base.replace("topic-3", "topic-9") // small perturbation
    val other = (1 to 30).map(i =>
      s"completely different document number $i about spark catalyst " +
        s"optimizer internals partition shuffle topic-$i codegen stage-$i")
    ((100L, base) +: (101L, nearDup) +: other.zipWithIndex.map {
      case (t, i) => (200L + i, t)
    }).toDF("doc_id", "text")
  }

  test("minhashDupPairs catches the planted near-duplicate") {
    val pairs = TextOps.minhashDupPairs(planted, "doc_id", "text",
      threshold = 0.5).collect()
    assert(pairs.exists(r => r.getLong(0) == 100L && r.getLong(1) == 101L),
      s"planted pair missing: ${pairs.mkString(",")}")
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("minhashDupPairs finds no pairs among distinct docs") {
    val distinctOnly = planted.where(col("doc_id") >= 200L)
    // the template sentences share boilerplate; threshold 0.8 separates
    val pairs = TextOps.minhashDupPairs(distinctOnly, "doc_id", "text",
      threshold = 0.8).collect()
    assert(pairs.isEmpty, pairs.mkString(","))
  }

  test("simhashDupPairs catches the planted near-duplicate") {
    val pairs = TextOps.simhashDupPairs(planted, "doc_id", "text",
      maxHamming = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 100L && r.getLong(1) == 101L),
      s"planted pair missing: ${pairs.mkString(",")}")
  }

  test("minhash agrees with exact jaccard on the corpus (recall check)") {
    // exact pairwise truth at sf0.001 (500 docs) vs the LSH pipeline
    val docs = Tables.load(spark, sfDir, "documents")
    val sh = docs.select(col("doc_id"),
      TextOps.wordShingles(col("text"), 3).as("sh"))
    val exact = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        TextOps.jaccard(col("a.sh"), col("b.sh")).as("jac"))
      .where(col("jac") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextOps.minhashDupPairs(docs, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"missed=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("normFingerprint is punctuation/case/whitespace-invariant") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello,  World! 42"),
      (2L, "hello world 42"),
      (3L, "HELLO   world?? 42..."),
      (4L, "something else")).toDF("id", "text")
      .select(col("id"), TextOps.normFingerprint(col("text")).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L) && fps(2L) == fps(3L))
    assert(fps(4L) != fps(1L))
  }

  test("langId picks the stopword-majority language") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog of a house in it is"),
      (2L, "der hund und die katze ist nicht ein zu"),
      (3L, "el perro y la casa de que en un por"),
      (4L, "xyzzy qwerty asdf"),
      // 'que'/'un' are stopwords of BOTH es and fr (2-2 tie): the
      // earlier language in langStopwords order must win, matching the
      // DuckDB oracle's first-max-wins CASE
      (5L, "que un")).toDF("id", "text")
      .select(col("id"), TextOps.langId(col("text")).as("pred"))
    val preds = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en")
    assert(preds(2L) == "de")
    assert(preds(3L) == "es")
    assert(preds(4L) == "und")
    assert(preds(5L) == "es")
  }

  test("qualityScore is in [0,1] and penalizes degenerate docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a sensible paragraph with a healthy number of normal words " +
        "spread over a reasonable length of text for scoring"),
      (2L, "x"),
      (3L, "!!!! ???? #### $$$$ %%%%")).toDF("id", "text")
      .select(col("id"), TextOps.qualityScore(col("text")).as("q"))
    val qs = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(qs.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(qs(1L) > qs(2L) && qs(1L) > qs(3L))
  }

  test("simhashMd5 matches an independent per-bit md5-nibble vote") {
    // reference implementation: hex string route (the oracle's view),
    // vs the kernel's digest-byte route
    def ref(tokens: Seq[String]): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](32)
      tokens.foreach { t =>
        val hex = md.digest(t.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        (0 until 32).foreach { j =>
          if (hex(j) >= '8') counts(j) += 1 else counts(j) -= 1
        }
      }
      (0 until 32).foldLeft(0L) { (sig, j) =>
        if (counts(j) > 0) sig | (1L << j) else sig
      }
    }
    import spark.implicits._
    val texts = Seq("the quick brown fox", "a", "",
      "unicode tökens müssen auch gehen",
      (1 to 50).map(i => s"w$i").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"),
        graft.functions.GraftFunctions.simhashMd5(
          TextOps.tokens(col("text"))).as("sig"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      // TextOps.tokens = split(trim(text), "\s+"): empty text → [""]
      val toks = t.trim.split("\\s+").toSeq match {
        case Seq() => Seq(""); case s => s
      }
      assert(got(i.toLong) == ref(toks), s"doc $i ('$t')")
    }
  }

  test("simhashMd5DupPairs banding equals the quadratic exact answer") {
    import spark.implicits._
    val docs = planted
    val got = TextOps.simhashMd5DupPairs(docs, "doc_id", "text",
        maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force over the signatures
    val sigs = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.simhashMd5(
          TextOps.tokens(col("text"))).as("sig"))
      .as[(Long, Long)].collect()
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(got == want, s"got=$got want=$want")
    // the planted near-dup (100, 101) must be far closer in Hamming
    // space than the base is to any unrelated doc
    val bySig = sigs.toMap
    def ham(a: Long, b: Long) =
      java.lang.Long.bitCount(bySig(a) ^ bySig(b))
    val unrelated = sigs.collect { case (id, _) if id >= 200L => id }
    assert(unrelated.forall(u => ham(100L, 101L) < ham(100L, u)),
      s"near-dup hamming ${ham(100L, 101L)} not separated")
  }

  test("wide (64-bit) simhash top-k (r16): equals the quadratic truth " +
      "over the packed wide signature; halves match the portable duals") {
    import spark.implicits._
    val docs = planted
    val got = TextOps.simhashMd5TopKNeighbors(docs, "doc_id", "text",
        maxHamming = 3, k = 2, wide = true)
      .select("id", "nbr", "hamming", "rk")
      .as[(Long, Long, Int, Int)].collect().toSet
    val sigs = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.simhashMd5Wide(
          TextOps.tokens(col("text"))).as("sig"))
      .as[(Long, Long)].collect()
    val want = (for {
      (ia, sa) <- sigs
      cands = (for {
        (ib, sb) <- sigs if ib != ia
        h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
      } yield (h, ib)).sorted.take(2)
      ((h, ib), rk) <- cands.zipWithIndex
    } yield (ia, ib, h, rk + 1)).toSet
    assert(got == want, s"got=$got want=$want")
    // the kernel's bit extraction matches a direct digest-bit
    // reference (what the oracle's hex-membership terms read): bit j =
    // md5 byte j/8, bit 7-(j%8) — majority over tokens
    def refSig(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](64)
      text.trim.split("\\s+").foreach { t =>
        md.reset()
        val d = md.digest(t.getBytes("UTF-8"))
        for (j <- 0 until 64)
          if (((d(j >>> 3) >> (7 - (j & 7))) & 1) == 1) counts(j) += 1
          else counts(j) -= 1
      }
      (0 until 64).foldLeft(0L)((s, j) =>
        if (counts(j) > 0) s | (1L << j) else s)
    }
    val texts = docs.select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    sigs.foreach { case (id, s) =>
      assert(s == refSig(texts(id)), s"wide signature mismatch for $id") }
  }

  test("compute-dense group checkpoint (r17): the AQE-floor scope " +
      "restores the session conf after materialization") {
    val keys = Seq(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst")
    def runAndCheck(): Unit = {
      val before = keys.map(k => spark.conf.getOption(k))
      // building the frame materializes both signature-group
      // checkpoints (localCheckpoint is eager) inside the scope
      val df = TextOps.simhashMd5TopKNeighbors(planted, "doc_id",
        "text", maxHamming = 3, k = 2, wide = true)
      assert(keys.map(k => spark.conf.getOption(k)) == before,
        "coalesce-floor conf leaked out of the checkpoint scope")
      df.collect()
      assert(keys.map(k => spark.conf.getOption(k)) == before)
    }
    // restores both prior states: session default (unset) and an
    // explicit user value
    runAndCheck()
    try {
      keys.foreach(k => spark.conf.set(k, spark.conf.get(k,
        if (k.endsWith("parallelismFirst")) "true" else "1048576")))
      spark.conf.set(keys.head, "2097152")
      runAndCheck()
      assert(spark.conf.get(keys.head) == "2097152")
    } finally keys.foreach(spark.conf.unset)
    // the pair-emission kernel's group checkpoint takes the same scope
    // (getOption surfaces the registered defaults once unset above)
    val defaults = keys.map(k => spark.conf.getOption(k))
    val pairs = TextOps.simhashMd5DupPairs(planted, "doc_id", "text",
      maxHamming = 3)
    pairs.collect()
    assert(keys.map(k => spark.conf.getOption(k)) == defaults)
  }

  test("simhashMd5TopKNeighbors shuffle path (diverse corpus) equals " +
      "the broadcast path and the quadratic truth") {
    import spark.implicits._
    // `planted` is the diverse regime in miniature: ~31 of 32 docs have
    // distinct signatures, so the broadcast-gate limit of 0 models the
    // 100 TB corpus where distinct signatures ≈ docs
    val docs = planted
    def run(limit: Long) = TextOps.simhashMd5TopKNeighbors(docs,
        "doc_id", "text", maxHamming = 3, k = 2,
        broadcastSigLimit = limit)
      .select("id", "nbr", "hamming", "rk")
      .as[(Long, Long, Int, Int)].collect().toSet
    val viaBroadcast = run(Long.MaxValue)
    val viaShuffle = run(0L)
    assert(viaShuffle == viaBroadcast,
      s"shuffle=$viaShuffle broadcast=$viaBroadcast")
    // the gate is visible in the plan: hint present when dup-dense,
    // absent when the distinct-signature count exceeds the limit
    assert(!TextOps.simhashMd5TopKNeighbors(docs, "doc_id", "text",
        broadcastSigLimit = 0L)
      .queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(TextOps.simhashMd5TopKNeighbors(docs, "doc_id", "text")
      .queryExecution.analyzed.toString.contains("ResolvedHint"))
    // quadratic truth: per doc, the 2 nearest others within Hamming 3
    val sigs = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.simhashMd5(
          TextOps.tokens(col("text"))).as("sig"))
      .as[(Long, Long)].collect()
    val want = sigs.flatMap { case (ia, sa) =>
      sigs.collect { case (ib, sb) if ib != ia =>
          (ib, java.lang.Long.bitCount(sa ^ sb)) }
        .filter(_._2 <= 3)
        .sortBy { case (ib, h) => (h, ib) }
        .take(2).zipWithIndex
        .map { case ((ib, h), i) => (ia, ib, h, i + 1) }
    }.toSet
    assert(viaShuffle == want, s"got=$viaShuffle want=$want")
  }

  test("boundedMinLongs equals slice(sort_array(collect_list)) across " +
      "partitionings (the O(k)-state aggregate the top-k kernel rides)") {
    import spark.implicits._
    val rows = (0 until 5000).map(i =>
      ((i * 2654435761L) % 97, (i * 48271L) % 100000))
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.toDF("g", "v").repartition(parts)
      val got = df.groupBy("g")
        .agg(graft.functions.GraftFunctions
          .boundedMin(col("v"), 4).as("ids"))
        .orderBy("g").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
      val want = df.groupBy("g")
        .agg(slice(sort_array(collect_list(col("v"))), 1, 4).as("ids"))
        .orderBy("g").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
      assert(got == want, s"parts=$parts")
    }
  }

  test("cappedCollectLongs: within-cap groups collect completely, " +
      "over-cap groups exceed the size filter, across partitionings") {
    import spark.implicits._
    // group sizes 1, 3, 5, ..., 19 under cap 10: sizes 11+ must yield
    // exactly cap+1 elements; sizes <= 10 must equal collect_list as a
    // multiset
    val rows = for (g <- 0 until 10; i <- 0 until (2 * g + 1))
      yield (g.toLong, (g * 1000 + i).toLong)
    for (parts <- Seq(1, 5, 32)) {
      val df = rows.toDF("g", "v").repartition(parts)
      val got = df.groupBy("g")
        .agg(graft.functions.GraftFunctions
          .cappedCollectLongs(col("v"), 10).as("ids"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
      for (g <- 0L until 10L) {
        val trueSize = 2 * g + 1
        if (trueSize <= 10)
          assert(got(g).sorted ==
            (0L until trueSize).map(g * 1000 + _), s"g=$g parts=$parts")
        else assert(got(g).length == 11, s"g=$g parts=$parts")
      }
    }
  }

  test("norm_prefix kernel equals the regexp_replace chain it replaced, " +
      "including unicode, space runs and the truncation boundary") {
    import spark.implicits._
    val cases = Seq(
      "Hello, World!", "  leading and   trailing  ", "ALL CAPS 123",
      "tabs\tand\nnewlines", "MiXeD-case_with.punct!", "",
      "    ", "!!!", "中文字符 mixed with ascii", "éàüß ñ unicode folds",
      "a" * 120, ("word " * 30).trim, "1234567890" * 6,
      "exactly fifty chars needed here to hit the bound!!" + " tail")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val viaRegex = df.select(col("id"),
      md5(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", ""), " +", " ")).as("full"),
      md5(substring(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", ""), " +", " "), 1, 50)).as("lead"))
      .orderBy("id").collect().toSeq
    val viaKernel = df.select(col("id"),
      TextOps.normFingerprint(col("text")).as("full"),
      TextOps.leadFingerprint(col("text"), 50).as("lead"))
      .orderBy("id").collect().toSeq
    assert(viaKernel == viaRegex)
  }

  test("bloomNewDocs equals the exact anti-join and keeps the Bloom " +
      "prefilter in the executed plan") {
    import spark.implicits._
    // ids ending in 0/1 share boilerplate across the parity split, so
    // the incoming (odd) side has true dups of seen (even) docs; the
    // rest are unique and should bypass the anti-join via the filter.
    // Round-tripped through parquet: a LocalRelation input would let
    // ConvertToLocalRelation evaluate the might_contain filter at
    // optimization time and vacate the plan assertion below.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bloom_spec").toString
    (0 until 200).map { i =>
        (i.toLong, if (i % 10 <= 1) s"Shared boilerplate ${i % 40 / 10}"
                   else s"unique text $i")
      }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
      .select(col("doc_id"), TextOps.normFingerprint(col("text")).as("fp"))
    val seen = docs.where(col("doc_id") % 2 === 0)
    val incoming = docs.where(col("doc_id") % 2 === 1)
    val got = TextOps.bloomNewDocs(incoming, seen, "fp",
      expectedItems = 1L << 12, numBits = 1L << 16)
    val want = incoming.join(seen.select("fp"), Seq("fp"), "left_anti")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(got) == ids(want))
    // dup of an even doc ⇒ dropped; unique odd doc ⇒ kept
    assert(!ids(got).contains(1L) && ids(got).contains(3L))
    assert(got.queryExecution.executedPlan.toString
      .contains("might_contain"), "Bloom prefilter fell out of the plan")
  }

  test("bloomNewDocs passes everything through when the seen side is " +
      "empty") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, s"text $i"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.normFingerprint(col("text")).as("fp"))
    val got = TextOps.bloomNewDocs(docs, docs.where(lit(false)), "fp")
    assert(got.count() == 20)
  }

  test("exactSubstrDedup removes cross-doc duplicated spans at any " +
      "offset and merges overlapping windows") {
    import spark.implicits._
    def words(pre: String, shared: String, post: String) =
      (pre + " " + shared + " " + post).trim
    val shared = (1 to 10).map(i => s"dup$i").mkString(" ") // 10 tokens
    val docs = Seq(
      // shared block at different offsets in docs 1 and 2
      (1L, words("alpha beta", shared, "omega one two")),
      (2L, words("x", shared, "tail")),
      (3L, "totally unique content with no repeats at all here now"),
      (4L, "short doc")) // below n -> fully kept
      .toDF("doc_id", "text")
    val out = TextOps.exactSubstrDedup(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // doc 1: 2 + 10 + 3 tokens; exactly the 10 shared ones removed as
    // ONE maximal span (overlapping 4-token windows merged)
    assert(byId(1L) == ((15L, 10L, 1L, "alpha beta omega one two")))
    assert(byId(2L) == ((12L, 10L, 1L, "x tail")))
    assert(byId(3L)._2 == 0L && byId(3L)._3 == 0L)
    assert(byId(4L) == ((2L, 0L, 0L, "short doc")))
  }

  test("exactSubstrDedup counts a within-doc self-repeat as duplicated") {
    import spark.implicits._
    val run = (1 to 6).map(i => s"r$i").mkString(" ")
    val docs = Seq((1L, s"$run mid1 mid2 $run end")).toDF("doc_id", "text")
    val out = TextOps.exactSubstrDedup(docs, "doc_id", "text", n = 6)
      .collect().head
    // both copies of the 6-token run are removed; the middle survives
    assert(out.getLong(2) == 12L, out.toString)
    assert(out.getString(4) == "mid1 mid2 end", out.toString)
  }

  test("spanCorrupt masks grid-aligned spans and corrupted+target " +
      "reconstruct the original text exactly") {
    import spark.implicits._
    val docs = (0L until 50L).map(i =>
      (i, (1 to 30).map(j => s"w$j").mkString(" "))).toDF("doc_id", "text")
    val out = TextOps.spanCorrupt(docs, "doc_id", "text",
      spanLen = 3, gateMod = 4).orderBy("doc_id").collect()
    val sentinel = "<extra_id_(\\d+)>".r
    var sawMask = false
    out.foreach { r =>
      val (nTok, nMasked, nSpans) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nTok == 30)
      assert(nMasked == nSpans * 3, r.toString) // full 3-token spans
      if (nSpans > 0) sawMask = true
      // numbering is dense from 0 in both strings
      val corr = r.getString(4)
      val tgt = r.getString(5)
      val ks = sentinel.findAllMatchIn(corr).map(_.group(1).toInt).toSeq
      assert(ks == (0 until nSpans.toInt), r.toString)
      // reconstruct: substitute each sentinel with its target span
      val spans = if (tgt.isEmpty) Map.empty[Int, String] else
        tgt.split("<extra_id_").filter(_.nonEmpty).map { s =>
          val Array(k, rest) = s.split(">", 2)
          k.toInt -> rest.trim
        }.toMap
      val rebuilt = sentinel.replaceAllIn(corr,
        m => spans(m.group(1).toInt))
      val original = docs.where(col("doc_id") === r.getLong(0))
        .select("text").as[String].head()
      assert(rebuilt == original, s"doc ${r.getLong(0)}")
    }
    assert(sawMask, "gateMod=4 over 50 docs should mask something")
  }

  test("bpeTrain merge sequence and BpeTokenizer match a plain-Scala " +
      "reference BPE on a hand-checkable corpus") {
    import spark.implicits._
    // reference implementation: the Sennrich algorithm over
    // driver-side maps — a different code path from the Column algebra
    def refTrain(words: Map[String, Long], n: Int)
        : Seq[(String, String)] = {
      var seqs = words.map { case (w, f) => (w.toVector.map(_.toString), f) }
      var merges = Vector.empty[(String, String)]
      for (_ <- 1 to n) {
        val counts = scala.collection.mutable.Map
          .empty[(String, String), Long]
        seqs.foreach { case (s, f) =>
          s.zip(s.tail).foreach(p =>
            counts(p) = counts.getOrElse(p, 0L) + f)
        }
        if (counts.nonEmpty) {
          val best = counts.toSeq
            .minBy { case ((l, r), c) => (-c, l, r) }._1
          merges :+= best
          seqs = seqs.map { case (s, f) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < s.length) {
              if (i + 1 < s.length && (s(i), s(i + 1)) == best) {
                out += s(i) + s(i + 1); i += 2
              } else { out += s(i); i += 1 }
            }
            (out.result(), f)
          }
        }
      }
      merges
    }
    val corpus = Seq("low low low low low", "lower lower newest newest",
      "newest newest newest newest widest widest widest")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val wordFreq = corpus.flatMap(_.split("\\s+")).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val refMerges = refTrain(wordFreq, 6)
    val got = TextOps.bpeTrain(docs, "text", 6).orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got == refMerges)
    // tokenizer: re-tokenize each word with the reference merges and
    // compare the full flattened stream per doc
    def refTok(w: String): Vector[String] = {
      var s = w.toVector.map(_.toString)
      refMerges.foreach { best =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && (s(i), s(i + 1)) == best) {
            out += s(i) + s(i + 1); i += 2
          } else { out += s(i); i += 1 }
        }
        s = out.result()
      }
      s
    }
    val tok = new TextOps.BpeTokenizer(got)
    val sparkToks = docs
      .select(col("doc_id"), tok.tokenize(col("text")).as("t"))
      .orderBy("doc_id").collect()
      .map(_.getSeq[String](1).toVector)
    val refToks = corpus.map(_.split("\\s+").toVector.flatMap(refTok))
    assert(sparkToks.toSeq == refToks)
    // merged symbols really fuse: 'newest' (8 occurrences) should have
    // collapsed below 6 chars of tokens
    assert(refTok("newest").length < 6)
  }

  test("exactSubstrDedup emits two spans when duplicated runs are " +
      "separated by unique tokens") {
    import spark.implicits._
    val a = (1 to 5).map(i => s"a$i").mkString(" ")
    val b = (1 to 5).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$a gapone gaptwo gapthree $b"),
      (2L, s"pre1 pre2 $a post $b post2")).toDF("doc_id", "text")
    val out = TextOps.exactSubstrDedup(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(3) == 2L, out(0).toString)
    assert(out(0).getString(4) == "gapone gaptwo gapthree")
    assert(out(1).getString(4) == "pre1 pre2 post post2")
  }
}
