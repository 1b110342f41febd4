package graftbench

import scala.collection.mutable
import scala.util.Random

import graft.{Engine, Queries}
import graft.dialect.{DuckRewriter, SqlNormalizer}

/** The interactive user of graft's DuckDB-dialect SQL surface: read-only
  * statements through `Engine.executeDuck` plus collecting the result,
  * over the sf0.1-shaped star schema. A seeded pool of 24 statements
  * (mostly short and selective, a minority of scans and joins) is
  * issued in passes, each in a seeded order, the way a dashboard user
  * repeats queries. */
final class SqlAnalytic(seed: Long) extends Workload {
  // sf0.1 key ranges (perfbench/gen.py)
  private val nOrders = 150000
  private val nCust = 15000
  private val nPart = 20000
  private val nSupp = 1000
  private val nUsers = 1500

  /** (template, statement): every template appears at least once. */
  private val pool: IndexedSeq[(String, String)] = {
    val r = new Random(seed)
    def k(n: Int) = r.nextInt(n)
    def day(from: Int, span: Int) =
      java.time.LocalDate.of(from, 1, 1).plusDays(k(span)).toString
    val light: Seq[(String, () => String)] = Seq(
      "point" -> (() =>
        s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice " +
          s"FROM orders WHERE o_orderkey = ${k(nOrders)}"),
      "range" -> (() => {
        val a = k(nOrders - 200)
        s"SELECT count(*) AS n, sum(l_quantity) AS qty, " +
          s"sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS revenue " +
          s"FROM lineitem WHERE l_orderkey BETWEEN $a AND ${a + 200}"
      }),
      "group_by" -> (() => {
        val a = k(nPart - 100)
        s"SELECT l_returnflag, l_linestatus, count(*) AS n, " +
          s"sum(l_quantity) AS qty FROM lineitem " +
          s"WHERE l_partkey BETWEEN $a AND ${a + 100} " +
          s"GROUP BY ALL ORDER BY l_returnflag, l_linestatus"
      }),
      "exclude" -> (() => {
        val a = k(nCust - 4)
        s"SELECT * EXCLUDE (c_acctbal) FROM customer " +
          s"WHERE c_custkey BETWEEN $a AND ${a + 3}"
      }),
      "columns" -> (() => {
        val a = k(nPart - 6)
        s"SELECT COLUMNS('^p_(partkey|size|brand)$$') FROM part " +
          s"WHERE p_partkey BETWEEN $a AND ${a + 5}"
      }),
      "slice" -> (() => {
        val a = k(nCust - 20)
        s"SELECT c_custkey, c_name[1:9] AS pre, c_mktsegment[2:] AS tail " +
          s"FROM customer WHERE c_custkey BETWEEN $a AND ${a + 20}"
      }),
      "cast_int" -> (() =>
        s"SELECT o_orderkey, o_totalprice::INT AS price_int FROM orders " +
          s"WHERE o_custkey = ${k(nCust)}"),
      "describe" -> (() =>
        s"DESCRIBE ${Seq("orders", "lineitem", "customer", "part")(k(4))}"),
      "events_user" -> (() =>
        s"SELECT event_type, count(*) AS n, " +
          s"sum(CAST(value AS DECIMAL(12,2))) AS v FROM events " +
          s"WHERE user_id = ${k(nUsers)} GROUP BY event_type " +
          s"ORDER BY event_type"),
      "dim_join" -> (() => {
        val a = k(nSupp - 10)
        s"SELECT s_suppkey, s_name, n_name FROM supplier " +
          s"JOIN nation ON s_nationkey = n_nationkey " +
          s"WHERE s_suppkey BETWEEN $a AND ${a + 10}"
      }))
    val heavy: Seq[(String, () => String)] = Seq(
      "tpch_q1" -> (() =>
        s"SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
          s"sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS sum_base, " +
          s"count(*) AS n FROM lineitem " +
          s"WHERE l_shipdate <= DATE '${day(1998, 900)}' " +
          s"GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2"),
      "nation_revenue" -> (() => {
        val y = 1995 + k(6)
        s"SELECT n_name, count(*) AS n, " +
          s"sum(CAST(o_totalprice AS DECIMAL(15,2))) AS total " +
          s"FROM orders JOIN customer ON o_custkey = c_custkey " +
          s"JOIN nation ON c_nationkey = n_nationkey " +
          s"WHERE o_orderdate >= DATE '$y-01-01' " +
          s"AND o_orderdate < DATE '${y + 1}-01-01' " +
          s"GROUP BY n_name ORDER BY n_name"
      }),
      "priority_join" -> (() => {
        val d = day(1995, 2000)
        s"SELECT o_orderpriority, count(*) AS n, " +
          s"sum(l_quantity) AS qty FROM orders " +
          s"JOIN lineitem ON l_orderkey = o_orderkey " +
          s"WHERE o_orderdate >= DATE '$d' " +
          s"AND o_orderdate < DATE '$d' + INTERVAL 90 DAY " +
          s"AND l_discount >= 0.05 GROUP BY o_orderpriority ORDER BY 1"
      }),
      "events_day" -> (() => {
        val d = 1 + k(28)
        f"SELECT event_type, count(*) AS n, " +
          f"count(DISTINCT user_id) AS users FROM events " +
          f"WHERE ts >= TIMESTAMP '2024-01-$d%02d 00:00:00' " +
          f"AND ts < TIMESTAMP '2024-01-${d + 1}%02d 00:00:00' " +
          f"GROUP BY event_type ORDER BY event_type"
      }))
    // a fixed mix whatever the seed: each short template twice, each
    // scan or join once; the seed picks the parameters
    (light ++ light ++ heavy).map { case (t, g) => (t, g()) }.toIndexedSeq
  }

  // op i -> pool index: passes over the pool, each in a seeded order,
  // drawn once so a second phase replays them
  private val orderRng = new Random(seed ^ 0x5eedL)
  private val order = mutable.ArrayBuffer.empty[Int]

  /** The timed loop stops only between passes over the pool. */
  override def boundary(i: Int): Boolean = i > 0 && i % pool.size == 0

  private var engine: Engine = _
  private val seen = mutable.Set.empty[Int]

  def prepare(ctx: Ctx): Unit = {
    Queries.prep(ctx.spark, ctx.dataDir)
    engine = new Engine(ctx.spark)
  }

  def warm(ctx: Ctx): Unit =
    pool.map(_._1).distinct.foreach { t =>
      val (_, sql) = pool.find(_._1 == t).get
      engine.executeDuck(sql).collect()
    }

  def reset(ctx: Ctx): Unit = seen.clear()

  def op(ctx: Ctx, i: Int): Op = {
    while (order.size <= i) order ++= orderRng.shuffle(pool.indices.toVector)
    val p = order(i)
    Op(i, "read", s"${pool(p)._1}#$p", pool(p)._2)
  }

  private def schemaOf: String => Option[Seq[String]] = t =>
    scala.util.Try(engine.spark.table(t).columns.toSeq).toOption

  def run(ctx: Ctx, op: Op): OpOut = {
    val tr = ctx.tr
    if (tr.on) {
      tr.span("dialect.lex")(SqlNormalizer.lex(op.text))
      tr.span("dialect.rewrite")(DuckRewriter.rewrite(op.text, schemaOf))
    }
    val df = tr.span("engine.call")(engine.executeDuck(op.text))
    val rows = tr.span("engine.action")(df.collect())
    val p = op.name.split('#')(1).toInt
    // the first execution of each distinct statement carries its rows
    // to the DuckDB comparison; repeats must hash the same
    val record =
      if (seen.add(p)) Map("cols" -> df.columns.toSeq,
        "result" -> Main.plainRows(rows))
      else Map.empty[String, Any]
    OpOut(rows.length, Main.hashRows(rows), record)
  }

  def finish(ctx: Ctx): Map[String, Any] = Map("pool" -> pool.size)
}
