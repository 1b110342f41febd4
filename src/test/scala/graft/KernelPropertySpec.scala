package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, GraftVector}
import graft.operators.TextOps
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Seeded randomized sweeps over the fused kernels — the fixed-case
  * parity specs catch known edge classes; these hammer the same
  * contracts with 400+ generated inputs per property (deterministic
  * seed, so a failure reproduces). */
class KernelPropertySpec extends SparkSpecBase {

  private def randomStrings(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val alphabets = Seq(
      "abcdefghij XYZ 0123456789", // ascii + digits + case
      "a b  c   d!?.,;:-_()[]",    // punctuation + space runs
      "中文字符テストкирилл ñéü ß",  // multibyte
      " \t\n\u00a0aA1"             // whitespace variants
    )
    (0 until n).map { _ =>
      val ab = alphabets(rnd.nextInt(alphabets.length))
      val len = rnd.nextInt(120)
      (0 until len).map(_ => ab(rnd.nextInt(ab.length))).mkString
    }
  }

  test("norm_prefix equals the regexp chain on 400 seeded random " +
      "strings over mixed alphabets, at three truncation lengths") {
    import spark.implicits._
    val df = randomStrings(400, 0xC0FFEE).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(-1, 1, 50)) {
      val kernel =
        if (n < 0) md5(GraftFunctions.normPrefix(col("text"), lit(-1)))
        else md5(GraftFunctions.normPrefix(col("text"), lit(n)))
      val regexNorm = regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", ""), " +", " ")
      val regex =
        if (n < 0) md5(regexNorm) else md5(substring(regexNorm, 1, n))
      val bad = df.select(col("id"), kernel.as("k"), regex.as("r"))
        .where(col("k") =!= col("r")).count()
      assert(bad == 0, s"n=$n: $bad mismatches")
    }
  }

  test("int8 quantization bounds and cosine error on 200 seeded " +
      "random vectors") {
    val rnd = new scala.util.Random(0xBEEF)
    val vecs = (0 until 200).map { i =>
      val d = 1 + rnd.nextInt(96)
      val scale = math.pow(10, rnd.nextInt(7) - 3).toFloat // 1e-3..1e3
      Array.fill(d)((rnd.nextFloat() * 2 - 1) * scale)
    } :+ Array.fill(8)(0.0f) // zero vector edge
    for (v <- vecs) {
      val q = GraftVector.quantize8(new GenericArrayData(v))
      var i = 0
      while (i < q.numElements()) {
        assert(q.getByte(i) >= -127 && q.getByte(i) <= 127)
        i += 1
      }
      if (v.forall(_ == 0.0f))
        assert((0 until q.numElements()).forall(q.getByte(_) == 0))
    }
    // pairwise cosine error: the prefilter contract assumes ~1e-2
    var worst = 0.0
    for (i <- 0 until 60; j <- i + 1 until 60
         if vecs(i).length == vecs(j).length) {
      val a = new GenericArrayData(vecs(i))
      val b = new GenericArrayData(vecs(j))
      val exact = GraftVector.cosine(a, b)
      val approx = GraftVector.cosineQ8(
        GraftVector.quantize8(a), GraftVector.quantize8(b))
      worst = math.max(worst, math.abs(exact - approx))
    }
    assert(worst < 0.02, s"int8 cosine error $worst exceeds the " +
      "prefilter margin assumption")
  }

  test("normFingerprint/leadFingerprint agree with the DuckDB-side " +
      "formulation on the real corpus (sampled)") {
    Queries.prep(spark, sfDir)
    val d = spark.table("documents").limit(200)
    val bad = d.select(
        TextOps.normFingerprint(col("text")).as("k"),
        md5(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""), " +", " ")).as("r"),
        TextOps.leadFingerprint(col("text"), 50).as("kl"),
        md5(substring(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", ""), " +", " "), 1, 50)).as("rl"))
      .where(col("k") =!= col("r") || col("kl") =!= col("rl")).count()
    assert(bad == 0)
  }

  /** Generated dup-heavy corpus: word sequences with planted shared
    * runs, so the span kernels have real work at every seed. */
  private def dupCorpus(n: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val runs = (0 until 8).map(r =>
      (0 until 10 + rnd.nextInt(6)).map(i => s"run${r}w$i").mkString(" "))
    (0 until n).map { i =>
      val parts = (0 until 1 + rnd.nextInt(4)).flatMap { _ =>
        if (rnd.nextBoolean()) Seq(runs(rnd.nextInt(runs.length)))
        else (0 until 5 + rnd.nextInt(20)).map(_ => s"u${rnd.nextInt(5000)}")
      }
      (i.toLong, parts.mkString(" "))
    }
  }

  test("exactSubstrDedup is invariant to input partitioning and " +
      "shuffle-partition count on a seeded dup-heavy corpus") {
    import spark.implicits._
    val data = dupCorpus(300, 0xD00D)
    def run(parts: Int, shuffle: String): Map[Long, (Long, Long, String)] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        TextOps.exactSubstrDedup(
            data.toDF("doc_id", "text").repartition(parts),
            "doc_id", "text", n = 8)
          .collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val base = run(4, "8")
    assert(base.exists(_._2._1 > 0), "corpus should contain dup spans")
    assert(run(1, "8") == base)
    assert(run(32, "3") == base)
  }

  /** The relational exact-substring formulation the per-document
    * kernels replaced, kept as the reference: an interpreted md5 lambda
    * per window start, then every token posexploded, left-joined to its
    * duplicated-start flag, a sliding-window max for coverage, a lag for
    * span starts and a sorted collect_list for the surviving text. */
  private object SubstrReference {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    def words(df: DataFrame): DataFrame =
      df.select(col("doc_id"), split(col("text"), " ").as("words"))
    def starts(w: DataFrame, n: Int): DataFrame =
      w.where(size(col("words")) >= n)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, size(words) - ${n - 1}),
             |  i -> struct(i AS s, CAST(conv(substring(
             |    md5(array_join(slice(words, i, $n), ' ')),
             |    1, 12), 16, 10) AS BIGINT) AS fp))""".stripMargin))
          .as("st"))
        .select(col("doc_id"), col("st.s").as("p"), col("st.fp").as("fp"))
    def rollup(w: DataFrame, dupStarts: DataFrame, n: Int): DataFrame = {
      val toks = w.select(col("doc_id"),
          posexplode(col("words")).as(Seq("p0", "word")))
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("word"))
      val slide = Window.partitionBy("doc_id").orderBy("p")
        .rowsBetween(-(n - 1), Window.currentRow)
      val seq0 = Window.partitionBy("doc_id").orderBy("p")
      toks.join(dupStarts, Seq("doc_id", "p"), "left")
        .na.fill(0, Seq("isdup"))
        .withColumn("cov", max("isdup").over(slide))
        .withColumn("span_start", (col("cov") === 1 &&
          coalesce(lag("cov", 1).over(seq0), lit(0)) === 0).cast("int"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum("cov").cast("long").as("n_removed"),
          sum("span_start").cast("long").as("n_spans"),
          concat_ws(" ", expr(
            """transform(filter(
              |  sort_array(collect_list(struct(p, cov, word))),
              |  x -> x.cov = 0), x -> x.word)""".stripMargin))
            .as("kept_text"))
    }
    def dedup(docs: DataFrame, n: Int): DataFrame = {
      val w = words(docs)
      val st = starts(w, n)
      val dupFp = st.groupBy("fp").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 2).select("fp")
      rollup(w, st.join(dupFp, "fp")
        .select(col("doc_id"), col("p"), lit(1).as("isdup")), n)
    }
    def against(corpus: DataFrame, batch: DataFrame, n: Int): DataFrame = {
      val indexFp = starts(words(corpus), n).select("fp").distinct()
      val bw = words(batch)
      rollup(bw, starts(bw, n).join(indexFp, "fp")
        .select(col("doc_id"), col("p"), lit(1).as("isdup")), n)
    }
  }

  /** Seeded docs over an ASCII + non-ASCII vocabulary with planted
    * duplicated spans (shared across docs, adjacent, overlapping, and
    * self-repeats), empty tokens from double spaces, and the edge
    * texts: null, "", and shorter than any n used. */
  private def plantedCorpus(n: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("a", "bb", "the", "of", "naïve", "café", "中文",
      "テスト", "кот", "ß", "x1", "z") ++ (0 until 40).map(i => s"w$i")
    def word() = vocab(rnd.nextInt(vocab.length))
    val spans = (0 until 12).map(_ => (0 until 3 + rnd.nextInt(10))
      .map(_ => word()))
    val docs = (0 until n).map { i =>
      val parts = (0 until 1 + rnd.nextInt(5)).flatMap { _ =>
        rnd.nextInt(6) match {
          case 0 | 1 => spans(rnd.nextInt(spans.length))
          case 2 => // overlapping: a suffix of one planted span
            val sp = spans(rnd.nextInt(spans.length))
            sp.drop(rnd.nextInt(sp.length))
          case 3 => Seq("") // an empty token: a double space
          case _ => (0 until rnd.nextInt(12)).map(_ => word())
        }
      }
      (i.toLong, parts.mkString(" "))
    }
    docs ++ Seq(
      (n.toLong, null), (n + 1L, ""), (n + 2L, "a"),
      (n + 3L, " a  bb "), (n + 4L, "中文 テスト"),
      (n + 5L, (spans(0) ++ spans(0) ++ spans(0)).mkString(" ")))
  }

  private def substrRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Long, Long, String)] =
    df.select("doc_id", "n_tokens", "n_removed", "n_spans", "kept_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq.sortBy(_._1)

  test("exactSubstrDedup and exactSubstrDedupAgainst equal the " +
      "relational formulation on seeded docs with planted spans") {
    import spark.implicits._
    for ((n, seed) <- Seq((2, 11L), (4, 12L), (8, 13L))) {
      val data = plantedCorpus(240, seed)
      val docs = data.toDF("doc_id", "text").repartition(3)
      val got = substrRows(TextOps.exactSubstrDedup(docs, "doc_id", "text",
        n))
      assert(got == substrRows(SubstrReference.dedup(docs, n)), s"n=$n")
      assert(got.exists(_._3 > 0) && got.exists(_._3 == 0), s"n=$n")
      assert(got.exists(_._4 > 1), s"n=$n: no doc with two spans")
      // a null text has no output row; "" is one empty token
      assert(!got.exists(_._1 == 240L))
      assert(got.find(_._1 == 241L).contains((241L, 1L, 0L, 0L, "")))
      val corpus = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      val batch = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val inc = substrRows(TextOps.exactSubstrDedupAgainst(corpus, batch,
        "doc_id", "text", n))
      assert(inc == substrRows(SubstrReference.against(corpus, batch, n)),
        s"against n=$n")
      assert(inc.exists(_._3 > 0), s"against n=$n removes nothing")
    }
  }

  test("spanCorrupt is invariant to input partitioning and " +
      "reconstruction holds on 300 seeded docs") {
    import spark.implicits._
    val data = dupCorpus(300, 0xFACE)
    def run(parts: Int): Map[Long, (Long, Long, String, String)] =
      TextOps.spanCorrupt(
          data.toDF("doc_id", "text").repartition(parts),
          "doc_id", "text", spanLen = 3, gateMod = 5)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
        .toMap
    val base = run(4)
    assert(base.exists(_._2._1 > 0))
    assert(run(17) == base)
    // reconstruction on every doc (same invariant as the fixed spec,
    // here across the random corpus)
    val sentinel = "<extra_id_(\\d+)>".r
    data.foreach { case (id, text) =>
      val (_, _, corr, tgt) = base(id)
      val spans = if (tgt.isEmpty) Map.empty[Int, String] else
        tgt.split("<extra_id_").filter(_.nonEmpty).map { s =>
          val Array(k, rest) = s.split(">", 2)
          k.toInt -> rest.trim
        }.toMap
      val rebuilt = sentinel.replaceAllIn(corr, m => spans(m.group(1).toInt))
      assert(rebuilt == text, s"doc $id")
    }
  }

  test("hardNegatives is invariant to input partitioning and " +
      "shuffle-partition count on 300 seeded labeled vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xABBA)
    val data = (0 until 300).map { i =>
      (i.toLong, Array.fill(8)((rnd.nextInt(200) - 100).toFloat),
        i % 7)
    }
    def run(parts: Int, shuffle: String): Seq[Row] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        val df = data.toDF("vec_id", "embedding", "label")
          .repartition(parts)
        graft.operators.EmbeddingOps.hardNegatives(df,
            df.where(col("vec_id") < 20), "vec_id", "embedding", "label")
          .orderBy("qid").collect().toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val base = run(4, "8")
    assert(base.length == 20)
    assert(run(1, "8") == base)
    assert(run(23, "3") == base)
  }

  test("bitext margin mining encoded top-4 equals the window " +
      "formulation and is partitioning-invariant (catalog entry on a " +
      "seeded shuffle)") {
    // the catalog kernel (q220) over the real embeddings table must
    // produce identical rows regardless of how the source is split
    Queries.prep(spark, sfDir)
    def run(shuffle: String): Seq[Row] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        SparkEntry.queries("q220_bitext_margin_mining")(spark, sfDir)
          .collect().toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val base = run("8")
    assert(base.nonEmpty)
    assert(run("3") == base)
  }
}
