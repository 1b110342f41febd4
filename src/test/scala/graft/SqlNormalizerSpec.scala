package graft

import graft.dialect.SqlNormalizer
import graft.dialect.SqlNormalizer._

/** The parse→render normalizer's three contracts (see SqlNormalizer
  * scaladoc): canonical rendering on exotic inputs, idempotence, and
  * token preservation — the latter two property-tested over the in-repo
  * SQL corpus ([[SqlCorpus]]) and, where the reference checkout exists,
  * over every reference dev.json query. Execution-equivalence (75/75 gold entries
  * through `--normalized`) runs in the GoldSuite gate. */
class SqlNormalizerSpec extends SparkSpecBase {

  private def norm(s: String) = SqlNormalizer.normalize(s)

  test("whitespace, commas and keyword casing canonicalize") {
    assert(norm("select  a ,b   from t\nwhere x in(1 ,2)") ==
      "SELECT a, b FROM t WHERE x IN (1, 2)")
    assert(norm("select count ( * ) from t") ==
      "SELECT COUNT(*) FROM t")
    assert(norm("select a . b , t . * from db . t") ==
      "SELECT a.b, t.* FROM db.t")
  }

  test("comments are dropped, including nested block comments") {
    assert(norm("select a--trailing\nfrom t") == "SELECT a FROM t")
    assert(norm("select /* outer /* inner */ still */ a from t") ==
      "SELECT a FROM t")
  }

  test("strings and quoted identifiers pass through verbatim") {
    assert(norm("select 'it''s  FROM', \"Select  Col\" from t") ==
      "SELECT 'it''s  FROM', \"Select  Col\" FROM t")
    assert(norm("select e'a\\n' , x'1F'") == "SELECT e'a\\n', x'1F'")
    assert(norm("select $tag$raw  select$tag$, $$a$$") ==
      "SELECT $tag$raw  select$tag$, $$a$$")
  }

  test("operators: casts tight, comparisons spaced, json arrows") {
    assert(norm("select x :: int, j ->> 'k' from t where a<=b and c <> d")
      == "SELECT x::int, j ->> 'k' FROM t WHERE a <= b AND c <> d")
    assert(norm("select l[ 1 : 2 ], {'k' : 1} from t") ==
      "SELECT l[1:2], {'k':1} FROM t")
  }

  test("unary signs glue to their operand; binary stays spaced") {
    assert(norm("select - 1, a - 1, (- 2), f(- 3, x)") ==
      "SELECT -1, a - 1, (-2), f(-3, x)")
  }

  test("call parens hug the callee, clause parens keep their space") {
    assert(norm("select sum (x) from t where y in (1) and exists(select 1)")
      == "SELECT SUM(x) FROM t WHERE y IN (1) AND EXISTS(SELECT 1)")
  }

  test("lenient on malformed model output (never throws)") {
    assert(norm("select 'unterminated") == "SELECT 'unterminated")
    assert(norm("select /* runaway") == "SELECT")
    assert(norm(null) == null)
  }

  private def idempotent(sqls: Seq[String]): Unit =
    sqls.foreach { q =>
      val once = norm(q)
      assert(norm(once) == once, q.take(60))
    }

  private def tokenPreserving(sqls: Seq[String]): Unit = {
    def canon(toks: Seq[Tok]): Seq[String] =
      toks.filterNot(_.isInstanceOf[Comment]).map {
        case Word(w) => "w:" + w.toLowerCase(java.util.Locale.ROOT)
        case other => s"${other.getClass.getSimpleName.head}:${other.text}"
      }
    sqls.foreach { q =>
      assert(canon(tokenize(norm(q))) == canon(tokenize(q)), q.take(60))
    }
  }

  test("idempotent over the in-repo SQL corpus (catalog oracles and " +
      "dev.json-cited statements)") {
    assert(SqlCorpus.inRepo.length > 287)
    idempotent(SqlCorpus.inRepo)
  }

  test("token-preserving over the in-repo SQL corpus (comments aside, " +
      "keyword case aside)") {
    tokenPreserving(SqlCorpus.inRepo)
  }

  test("idempotent over every dev.json query") {
    assume(GoldSuite.refDevPresent, s"${GoldSuite.refDevPath} absent")
    idempotent(SqlCorpus.devQueries())
  }

  test("token-preserving over every dev.json query (comments aside, " +
      "keyword case aside)") {
    assume(GoldSuite.refDevPresent, s"${GoldSuite.refDevPath} absent")
    tokenPreserving(SqlCorpus.devQueries())
  }

  test("normalize_sql expression is registered and matches the driver " +
      "form") {
    graft.functions.GraftFunctions.register(spark)
    val out = spark.sql(
      "SELECT normalize_sql('select  a--c\nfrom t') AS s")
      .collect().head.getString(0)
    assert(out == "SELECT a FROM t")
  }
}
