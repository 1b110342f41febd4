package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.PromptOps

/** Prompt-formatter parity: each strategy must reproduce the reference
  * template byte for byte (eval/prompt_formatters.py:8-226) for a known
  * schema + question + context fixture. */
class PromptOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType)))
  private val tables = Seq("t" -> schema)
  private val q = "how many rows?"
  private def render(style: String, context: Seq[String] = Nil): String =
    PromptOps.withPrompt(Seq(q).toDF("question"), "question", style,
      tables, context).select("prompt").as[String].collect().head

  test("format_table renders CREATE TABLE with DuckDB type names") {
    assert(PromptOps.formatTable("t", schema) ==
      "CREATE TABLE t (\n    id BIGINT,\n    name VARCHAR\n)")
    assert(PromptOps.formatTable("empty", StructType(Nil)) ==
      "CREATE TABLE empty")
  }

  test("rajkumar template (prompt_formatters.py:55-62)") {
    assert(render("rajkumar") ==
      "CREATE TABLE t (\n    id BIGINT,\n    name VARCHAR\n)\n\n\n" +
        "-- Using valid DuckDB SQL, answer the following question for " +
        "the tables provided above.\n\n-- how many rows?\n")
  }

  test("duckdb template adds the sql fence (prompt_formatters.py:78-86)") {
    assert(render("duckdb") == render("rajkumar") + "```sql\n")
  }

  test("duckdbinst template (prompt_formatters.py:89-127)") {
    assert(render("duckdbinst") ==
      "### Instruction:\nYour task is to generate valid duckdb SQL to " +
        "answer the following question, given a duckdb database " +
        "schema.\n\n### Input:\nHere is the database schema that the " +
        "SQL query will run on:\nCREATE TABLE t (\n    id BIGINT,\n    " +
        "name VARCHAR\n)\n\n### Question:\nhow many rows?\n\n" +
        "### Response (use duckdb shorthand if possible):\n")
  }

  test("duckdbinstnoshort differs only in the response header") {
    assert(render("duckdbinstnoshort") ==
      render("duckdbinst").replace(
        "### Response (use duckdb shorthand if possible):\n",
        "### Response:\n"))
  }

  test("retrieved context blocks per style (py:46-52, 96-102)") {
    val ctx = Seq("docA", "docB")
    assert(PromptOps.formatContext("rajkumar", ctx) ==
      "\n\n/*\nHere is additional documentation about DuckDB that could " +
        "be useful.\n--------\ndocA\n--------\ndocB\n--------\n*/")
    assert(PromptOps.formatContext("duckdbinst", ctx) ==
      "\n### Documentation:\ndocA\n--------\ndocB\n")
    assert(PromptOps.formatContext("rajkumar", Nil) == "")
    assert(render("duckdbinst", ctx).contains(
      "### Documentation:\ndocA\n--------\ndocB"))
  }

  test("chat messages carry system/schema/explain/question roles") {
    val df = PromptOps.withChatPrompt(Seq(q).toDF("question"), "question",
      tables)
    val msgs = df.select(explode(col("messages")).as("m"))
      .select("m.role", "m.content").as[(String, String)].collect()
    assert(msgs.map(_._1).toSeq ==
      Seq("system", "user", "assistant", "user"))
    assert(msgs(1)._2.startsWith("SQL schema of my database:\nCREATE " +
      "TABLE t (") && msgs(1)._2.endsWith(
      "Explain in a few sentences what the data is about:\n        "))
    assert(msgs(3)._2.contains("My quesiton is \n`how many rows?`"))
    assert(msgs(3)._2.endsWith("Generate the DuckDB specific SQL query:"))
  }

  test("no-schema duckdbinst drops the Input block wording") {
    val p = PromptOps.withPrompt(Seq(q).toDF("question"), "question",
        "duckdbinst", Nil).select("prompt").as[String].collect().head
    assert(p.startsWith("### Instruction:\nYour task is to generate " +
      "valid duckdb SQL to answer the following question.\n"))
    assert(!p.contains("Here is the database schema"))
  }

  // H6 post-processing — expected values computed by running the
  // reference's own Python (text_to_sql.py clean_whitespace + stop
  // split, data_utils.py clean_str) on the same inputs
  test("stop-token truncation matches split(token)[0] chaining") {
    val out = Seq("SELECT 1;\n-- note").toDF("raw")
      .select(PromptOps.truncateAtStops(col("raw"), Seq("\n", ";"))
        .as("s")).as[String].collect().head
    assert(out == "SELECT 1")
  }

  test("cleanWhitespace collapses runs like the reference regex") {
    val out = Seq("a\t b\n\nc   d").toDF("raw")
      .select(PromptOps.cleanWhitespace(col("raw")).as("s"))
      .as[String].collect().head
    assert(out == "a b c d")
  }

  test("cleanWhitespace matches Python's Unicode-aware \\s (U+00A0)") {
    val out = Seq("a\u00A0b").toDF("raw")
      .select(PromptOps.cleanWhitespace(col("raw")).as("s"))
      .as[String].collect().head
    assert(out == "a b")
  }

  test("cleanStr mirrors data_utils.clean_str byte for byte") {
    val out = Seq("  quéry '' `` \"x\"\t end ").toDF("raw")
      .select(PromptOps.cleanStr(col("raw")).as("s"))
      .as[String].collect().head
    assert(out == "qu ry 'x' end")
  }

  test("extractSql strips the db prefix and repairs <> (predict.py:83-91)") {
    val rows = Seq("  mydb | SELECT a FROM t WHERE x <> 1  ",
      "SELECT 1").toDF("raw")
      .select(PromptOps.extractSql(col("raw")).as("s"))
      .as[String].collect()
    assert(rows(0) == "SELECT a FROM t WHERE x != 1")
    assert(rows(1) == "SELECT 1")
  }

  test("setPrf matches metric_utils.prec_recall_f1 conventions") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a"), Seq.empty[String]),
      (Seq.empty[String], Seq.empty[String]))
      .toDF("g", "p")
      .select(PromptOps.setPrf(col("g"), col("p")).as("m"))
      .select("m.prec", "m.recall", "m.f1")
      .as[(Double, Double, Double)].collect()
    // gold={a,b,c}, pred={b,c,d}: prec=2/3, recall=2/3, f1=2/3
    assert(math.abs(df(0)._1 - 2.0 / 3) < 1e-12)
    assert(math.abs(df(0)._3 - 2.0 / 3) < 1e-12)
    // empty pred → all zeros (reference returns 0.0, not NaN)
    assert(df(1) == ((0.0, 0.0, 0.0)))
    assert(df(2) == ((0.0, 0.0, 0.0)))
  }

  test("correct_casing uppercases keywords, preserves quoted spans " +
      "and escapes (pinned)") {
    val f = PromptOps.correctCasingString _
    assert(f("SELECT Max(datediff('minute', tpep_pickup_datetime, " +
        "tpep_dropoff_datetime)) from nyc.taxi") ==
      "SELECT MAX(DATEDIFF('minute', tpep_pickup_datetime, " +
        "tpep_dropoff_datetime)) FROM nyc.taxi")
    // single-quoted literal with '' escape: keywords inside stay put
    assert(f("select '''select'' from where' as x") ==
      "SELECT '''select'' from where' AS x")
    // double-quoted identifier collides with a keyword: verbatim
    assert(f("""select "select", t.a from t order by 1 desc""") ==
      """SELECT "select", t.a FROM t ORDER BY 1 DESC""")
    // identifiers merely containing keyword substrings are untouched
    assert(f("select fromage, order_id from selections") ==
      "SELECT fromage, order_id FROM selections")
    assert(f(null) == null)
  }

  private def casingOnlyAndIdempotent(sqls: Seq[String]): Unit =
    sqls.foreach { s =>
      val c = PromptOps.correctCasingString(s)
      // only letter case may change — never content, spacing or quotes
      assert(c.equalsIgnoreCase(s), s.take(60))
      // idempotent: canonical form is a fixed point
      assert(PromptOps.correctCasingString(c) == c, s.take(60))
    }

  test("correct_casing is a pure casing transform and idempotent on " +
      "the in-repo SQL corpus") {
    casingOnlyAndIdempotent(SqlCorpus.inRepo)
  }

  test("correct_casing is a pure casing transform and idempotent on " +
      "every reference dev.json query") {
    assume(GoldSuite.refDevPresent, s"${GoldSuite.refDevPath} absent")
    val sqls = SqlCorpus.devQueries()
    assert(sqls.length == 75)
    casingOnlyAndIdempotent(sqls)
  }

  test("PyRandom reproduces CPython getrandbits(32) streams") {
    // fixtures: python3 -c "random.Random(seed).getrandbits(32) x4"
    val fixtures = Map(
      0L -> Seq(3626764237L, 1654615998L, 3255389356L, 3823568514L),
      1L -> Seq(577090037L, 2444712010L, 3639700191L, 3445702192L),
      42L -> Seq(2746317213L, 478163327L, 107420369L, 3184935163L),
      123456789L -> Seq(2754794679L, 1899526012L, 2328685183L,
        3049235403L),
      (1L << 40) + 7 -> Seq(2635837658L, 3209733218L, 3500038837L,
        4028389051L))
    fixtures.foreach { case (seed, expect) =>
      val r = new graft.functions.PyRandom(seed)
      assert(Seq.fill(4)(r.getrandbits(32)) == expect, s"seed=$seed")
    }
  }

  test("PyRandom.shuffle matches random.Random(seed).shuffle") {
    // fixtures: python3 — xs=list(range(n)); Random(seed).shuffle(xs)
    val fixtures = Seq(
      (0L, 10, Seq(7, 8, 1, 5, 3, 4, 2, 0, 9, 6)),
      (1L, 10, Seq(6, 8, 9, 7, 5, 3, 0, 4, 1, 2)),
      (42L, 10, Seq(7, 3, 2, 8, 5, 6, 9, 4, 0, 1)),
      (123456789L, 10, Seq(0, 1, 9, 4, 3, 5, 2, 6, 8, 7)),
      ((1L << 40) + 7, 10, Seq(0, 5, 2, 3, 6, 1, 8, 4, 7, 9)),
      (0L, 5, Seq(2, 1, 0, 4, 3)),
      (42L, 5, Seq(3, 1, 2, 4, 0)))
    fixtures.foreach { case (seed, n, expect) =>
      assert(new graft.functions.PyRandom(seed).shuffle(0 until n) ==
        expect, s"seed=$seed n=$n")
    }
    // string payloads permute identically (Random(7) over 'ABCDEFG')
    assert(new graft.functions.PyRandom(7).shuffle("ABCDEFG".map(_.toString))
      == Seq("F", "G", "E", "A", "D", "B", "C"))
  }

  test("seeded withPrompt reorders the schema blocks like the reference") {
    val t2 = StructType(Seq(StructField("x", IntegerType)))
    val t3 = StructType(Seq(StructField("y", DoubleType)))
    val three = Seq("a" -> schema, "b" -> t2, "c" -> t3)
    // Random(0).shuffle over 3 items: [2, 1, 0] -> order c, b, a
    val shuffled = PromptOps.formatAllTablesShuffled(three, 0L)
    val expectOrder = new graft.functions.PyRandom(0L).shuffle(three)
      .map { case (n, s) => PromptOps.formatTable(n, s) }
      .mkString("\n\n")
    assert(shuffled == expectOrder)
    val prompt = PromptOps.withPrompt(Seq(q).toDF("question"), "question",
      "rajkumar", three, shuffleSeed = Some(0L))
      .select("prompt").as[String].collect().head
    assert(prompt.contains(shuffled))
    // default path is untouched: caller order, no shuffle
    assert(PromptOps.formatAllTables(three).startsWith("CREATE TABLE a"))
  }
}
