package graft

/** DuckDB-dialect SQL the text-level properties (normalizer, casing) are
  * checked over. The in-repo corpus is always present: every catalog
  * entry's DuckDB oracle statement, plus the statements [[EngineSpec]]
  * runs for the reference dev.json lines it cites (file paths and ports
  * replaced by fixed literals). The reference dev set itself is swept
  * too wherever its checkout exists ([[GoldSuite.refDevPath]]). */
object SqlCorpus {

  val devCited: Seq[String] = Seq(
    "CREATE TABLE IF NOT EXISTS products (maker varchar(10), " +
      "model varchar(10), type varchar(10))",
    "INSERT INTO products (maker, model, type) VALUES ('A', '1001', 'pc')",
    "SELECT * FROM products",
    "CREATE TABLE cust (customer_id varchar, phone_numbers varchar[])",
    "INSERT INTO cust VALUES ('c1', ['12312323', '23123344'])",
    "SELECT phone_numbers[1] AS p1 FROM cust",
    "UPDATE t1 SET email = NULL",
    "ALTER TABLE t4 ADD COLUMN phone_numbers VARCHAR[]",
    "DESCRIBE t4",
    "ALTER TABLE t5 ALTER email SET DATA TYPE INTEGER",
    "COPY customers TO 'customers.csv' (FORMAT CSV)",
    "COPY customers FROM 'customers.csv'",
    "COPY (SELECT c_custkey FROM customers2) TO 'c2.csv' (FORMAT CSV)",
    "COPY customers2 (c_custkey) FROM 'c2.csv'",
    "COPY customers3 TO 'out' (FORMAT PARQUET, PARTITION_BY (c_mktsegment))",
    "ATTACH 'extdb' AS extdb",
    "PRAGMA database_list",
    "SET memory_limit = '20G'",
    "SELECT current_setting('memory_limit') AS m",
    "PRAGMA show_tables",
    "PRAGMA table_info('vis1')",
    "CALL pragma_version()",
    "SUMMARIZE nation_s",
    "FROM t6",
    "SELECT * EXCLUDE (b) FROM t6",
    "SELECT {'a': 1, 'b': 2, 'c': 3} AS s",
    "CREATE TABLE t7 (person STRUCT(name VARCHAR, id INTEGER))",
    "INSERT INTO t7 VALUES ({'name': 'ada', 'id': 1})",
    "SELECT person.name AS n FROM t7",
    "CREATE TABLE http_tbl AS SELECT * FROM " +
      "read_csv_auto('http://127.0.0.1:8000/titanic.csv')")

  /** Catalog oracle statements (by entry name) and the dev.json-cited
    * statements above. */
  lazy val inRepo: Seq[String] =
    SparkEntry.oracleSql.toSeq.sortBy(_._1).map(_._2) ++ devCited

  /** The reference dev set's queries; read only when
    * [[GoldSuite.refDevPresent]]. */
  def devQueries(): Seq[String] =
    GoldSuite.devEntries().map(_("query").toString)
}
