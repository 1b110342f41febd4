package graftbench

import scala.collection.mutable
import scala.util.Random

import graft.{Engine, Queries}
import graft.dialect.{DuckRewriter, SqlNormalizer}
import graft.operators.SnapshotOps
import graft.streaming.SnapshotStream

/** Writes and reads on one warehouse table through graft's DuckDB-dialect
  * surface: INSERT batches, UPDATE and DELETE under copy-on-write and
  * merge-on-read, MERGE, commit-time compaction (`auto_compact`),
  * expire and vacuum; pruned point, range and prefix SELECTs,
  * `VERSION AS OF`, `table_changes` and change-feed drains through
  * `SnapshotStream.drainAvailable`. Every phase starts from an empty
  * warehouse directory. Each write op carries the statements DuckDB
  * replays to re-derive the table's contents. */
final class TableLifecycle(seed: Long) extends Workload {
  private val batch = 200     // rows per INSERT batch
  private val nOrders = 15000 // sf0.01 orders: the INSERT source
  private val nCust = 1500
  private val cols = "o_orderkey, o_custkey, o_status, o_total, o_prio"

  private var engine: Engine = _
  private var rng: Random = _
  private var phaseNo = 0
  private var dir: String = _
  private var ckpt: String = _
  private var inserted = 0
  private var version = 0
  private val seenFiles = mutable.Map.empty[String, Long]

  def prepare(ctx: Ctx): Unit = Queries.prep(ctx.spark, ctx.dataDir)

  /** The opening ops and one block on a scratch warehouse. */
  def warm(ctx: Ctx): Unit = {
    reset(ctx)
    var i = 0
    do { run(ctx, op(ctx, i)); i += 1 } while (!boundary(i))
  }

  def reset(ctx: Ctx): Unit = {
    if (engine != null) engine.close()
    phaseNo += 1
    val wh = s"${ctx.workDir}/warehouse-$phaseNo"
    engine = new Engine(ctx.spark)
    engine.workDir = s"${ctx.workDir}/engine-$phaseNo"
    engine.executeDuck(s"SET warehouse = '$wh'")
    engine.executeDuck("SET auto_compact = true")
    dir = s"$wh/lc"
    ckpt = s"${ctx.workDir}/ckpt-$phaseNo"
    rng = new Random(seed)
    inserted = 0
    queue.clear()
    version = 0
    seenFiles.clear()
  }

  override def close(): Unit = if (engine != null) {
    engine.close(); engine = null
  }

  private def insertSql(b: Int): String = {
    val nb = nOrders / batch
    val (cycle, j) = (b / nb, b % nb)
    s"INSERT INTO lc SELECT o_orderkey + ${cycle * 1000000}, o_custkey, " +
      s"o_orderstatus, o_totalprice, o_orderpriority FROM orders " +
      s"WHERE o_orderkey >= ${j * batch} AND o_orderkey < ${(j + 1) * batch}"
  }

  /** A key inside the first cycle's inserted range. */
  private def liveKey(w: Int): Int =
    rng.nextInt(math.max(1, math.min(inserted * batch, nOrders) - w))

  /** Every block issues these in this order; the seed picks keys and
    * values. A fixed order keeps the commit-time compaction policy
    * tripping at the same points whatever the seed, and the timed loop
    * stops only between blocks, so every run sees the same mix. */
  private val block = Seq("insert", "read_point", "update_cow",
    "read_range", "delete_mor", "read_version", "merge", "read_prefix",
    "update_mor", "read_changes", "delete_cow", "maintenance")
  private val queue = mutable.Queue.empty[String]

  override def boundary(i: Int): Boolean = i > 2 && queue.isEmpty

  def op(ctx: Ctx, i: Int): Op = {
    if (i == 0) queue ++= Seq("create", "insert")
    if (queue.isEmpty) queue ++= block.flatMap {
      // expiring versions a change-feed subscriber has not read yet
      // would strand it: every maintenance step drains first
      case "maintenance" => Seq("drain", "expire", "vacuum")
      case k => Seq(k)
    }
    val kind = queue.dequeue()
    val text = kind match {
      case "create" =>
        "CREATE TABLE lc (o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_status VARCHAR, o_total DOUBLE, o_prio VARCHAR)"
      case "insert" => inserted += 1; insertSql(inserted - 1)
      case "update_cow" | "update_mor" =>
        val a = rng.nextInt(nCust - 15)
        s"UPDATE lc SET o_total = o_total + ${1 + rng.nextInt(50)}.5 " +
          s"WHERE o_custkey BETWEEN $a AND ${a + 15}"
      case "delete_cow" | "delete_mor" =>
        val a = liveKey(20)
        s"DELETE FROM lc WHERE o_orderkey BETWEEN $a AND ${a + 20}"
      case "merge" =>
        val a = liveKey(60)
        s"CREATE OR REPLACE TABLE lc_src AS SELECT o_orderkey, " +
          s"o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
          s"FROM orders WHERE o_orderkey BETWEEN $a AND ${a + 60}"
      case "read_point" =>
        s"SELECT * FROM lc WHERE o_orderkey = ${liveKey(1)}"
      case "read_range" =>
        val a = liveKey(300)
        s"SELECT count(*) AS n, sum(CAST(o_total AS DECIMAL(18,2))) AS s " +
          s"FROM lc WHERE o_orderkey BETWEEN $a AND ${a + 300}"
      case "read_prefix" =>
        s"SELECT o_prio, count(*) AS n FROM lc " +
          s"WHERE o_prio LIKE '${1 + rng.nextInt(5)}-%' GROUP BY o_prio"
      case "read_version" | "read_changes" | "drain" | "expire" |
          "vacuum" =>
        // versions resolve against the table when the op runs
        rng.nextInt(1 << 20).toString
    }
    val cls = kind match {
      case k if k.startsWith("read") || k == "drain" => "read"
      case _ => "write"
    }
    Op(i, cls, kind, text)
  }

  private def versions: Seq[Int] = SnapshotOps.availableVersions(dir)

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  /** The versions the op committed and the files it added under the
    * table directory. */
  override def after(ctx: Ctx, op: Op): Map[String, Any] = {
    val v0 = version
    version = SnapshotOps.currentVersion(dir)
    val fresh = walk(new java.io.File(dir))
      .filterNot(f => seenFiles.contains(f.getPath))
    fresh.foreach(f => seenFiles(f.getPath) = f.length)
    Map("v0" -> v0, "v1" -> version, "files_added" -> fresh.size,
      "bytes_added" -> fresh.map(_.length).sum)
  }

  private def exec(ctx: Ctx, sql: String): Array[org.apache.spark.sql.Row] = {
    if (ctx.tr.on) {
      ctx.tr.span("dialect.lex")(SqlNormalizer.lex(sql))
      if (sql.startsWith("SELECT"))
        ctx.tr.span("dialect.rewrite")(DuckRewriter.rewrite(sql,
          t => scala.util.Try(ctx.spark.table(t).columns.toSeq).toOption))
    }
    val df = ctx.tr.span("engine.call")(engine.executeDuck(sql))
    ctx.tr.span("engine.action")(df.collect())
  }

  def run(ctx: Ctx, op: Op): OpOut = {
    val tr = ctx.tr
    val rec = mutable.Map.empty[String, Any]
    var replay = Seq.empty[String]
    val rows: Array[org.apache.spark.sql.Row] = op.name match {
      case "create" | "insert" | "update_cow" | "delete_cow" =>
        replay = Seq(op.text)
        tr.span("snapshot.commit")(exec(ctx, op.text))
      case "update_mor" | "delete_mor" =>
        val mode = if (op.name.startsWith("update")) "update_mode"
          else "delete_mode"
        replay = Seq(op.text)
        exec(ctx, s"SET $mode = 'mor'")
        try tr.span("snapshot.commit")(exec(ctx, op.text))
        finally exec(ctx, s"SET $mode = 'cow'")
      case "merge" =>
        val merge = "MERGE INTO lc USING lc_src " +
          "ON lc.o_orderkey = lc_src.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET o_total = lc_src.o_totalprice * 2 " +
          s"WHEN NOT MATCHED THEN INSERT ($cols) VALUES (lc_src.o_orderkey, " +
          "lc_src.o_custkey, lc_src.o_orderstatus, lc_src.o_totalprice, " +
          "lc_src.o_orderpriority)"
        replay = Seq(op.text,
          "UPDATE lc SET o_total = s.o_totalprice * 2 FROM lc_src s " +
            "WHERE lc.o_orderkey = s.o_orderkey",
          "INSERT INTO lc SELECT * FROM lc_src s WHERE s.o_orderkey " +
            "NOT IN (SELECT o_orderkey FROM lc)")
        exec(ctx, op.text)
        tr.span("snapshot.commit")(exec(ctx, merge))
      case "read_point" | "read_range" | "read_prefix" =>
        engine.lastPrune.remove("lc")
        val r = exec(ctx, op.text)
        engine.lastPrune.get("lc").foreach { case (kept, total) =>
          rec("pruned") = Seq(kept, total) }
        rec("result") = Main.plainRows(r)
        r
      case "read_version" =>
        val vs = versions
        val v = vs(op.text.toInt % vs.size)
        rec("version") = v
        val r = exec(ctx, s"SELECT count(*) AS n, " +
          s"sum(CAST(o_total AS DECIMAL(18,2))) AS s FROM lc VERSION AS OF $v")
        rec("result") = Main.plainRows(r)
        r
      case "read_changes" =>
        val vs = versions
        val to = vs.last
        val from = math.max(vs.head + 1, to - 1).min(to)
        rec("span") = Seq(from, to)
        val df = tr.span("engine.call")(engine.executeDuck(
          s"PRAGMA table_changes('lc', $from, $to)"))
        val r = tr.span("engine.action")(df
          .groupBy("_commit_version", "change_type").count().collect())
        rec("result") = Main.plainRows(r)
        r
      case "drain" =>
        var n = 0L
        var batches = 0
        tr.span("streaming.drain")(SnapshotStream.drainAvailable(
          ctx.spark, dir, ckpt, mode = "diff") {
          (_, df) => n += df.count(); batches += 1 })
        rec("drained") = n
        Array(org.apache.spark.sql.Row(n, batches))
      case "expire" =>
        tr.span("snapshot.maintenance")(exec(ctx,
          "PRAGMA expire_snapshots('lc', 6)"))
      case "vacuum" =>
        tr.span("snapshot.maintenance")(exec(ctx, "PRAGMA vacuum('lc')"))
    }
    rec("replay") = replay
    OpOut(rows.length, Main.hashRows(rows), rec.toMap)
  }

  override def layers(ctx: Ctx, ops: Seq[Map[String, Any]])
      : Map[String, Double] = {
    val tr = ctx.tr
    def avg(name: String) = {
      val n = tr.count(name); if (n == 0) 0.0 else tr.totalMs(name) / n
    }
    val writes = ops.filter(o => o("kind") == "write" && o("ok") == true)
    val commits = writes.map(o =>
      o("v1").asInstanceOf[Int] - o("v0").asInstanceOf[Int]).sum
    val pruned = ops.flatMap(_.get("pruned")).map(_.asInstanceOf[Seq[Int]])
    val drains = ops.flatMap(_.get("drained")).map(_.asInstanceOf[Long])
    Map(
      "snapshot.commit_ms" -> avg("snapshot.commit"),
      "snapshot.maintenance_ms" -> avg("snapshot.maintenance"),
      "snapshot.files_per_commit" -> writes.map(o =>
        o("files_added").asInstanceOf[Int]).sum.toDouble / math.max(1, commits),
      "snapshot.bytes_per_commit" -> writes.map(o =>
        o("bytes_added").asInstanceOf[Long]).sum.toDouble / math.max(1, commits),
      "sources.files_kept_ratio" -> (if (pruned.isEmpty) 0.0 else
        pruned.map(_(0)).sum.toDouble / math.max(1, pruned.map(_(1)).sum)),
      "sources.files_scanned_per_read" -> (if (pruned.isEmpty) 0.0 else
        pruned.map(_(0)).sum.toDouble / pruned.size),
      "streaming.drain_ms" -> avg("streaming.drain"),
      "streaming.rows_per_drain" ->
        (if (drains.isEmpty) 0.0 else drains.sum.toDouble / drains.size))
  }

  /** End state for the check: final and time-travelled contents, bytes
    * on disk, and the live rows written once as plain parquet. */
  def finish(ctx: Ctx): Map[String, Any] = {
    val files = walk(new java.io.File(dir))
    val live = engine.executeDuck("SELECT * FROM lc")
    val plain = s"${ctx.workDir}/plain-$phaseNo"
    live.coalesce(1).write.mode("overwrite").parquet(plain)
    val plainBytes = walk(new java.io.File(plain))
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val vs = versions
    val travel = Seq(vs.head, vs(vs.size / 2)).distinct.map { v =>
      Map("version" -> v, "result" -> Main.plainRows(
        engine.executeDuck(s"SELECT * FROM lc VERSION AS OF $v").collect()))
    }
    val cur = SnapshotOps.currentVersion(dir)
    Map(
      "cols" -> live.columns.toSeq,
      "final" -> Main.plainRows(live.collect()),
      "travel" -> travel,
      "dir_bytes" -> files.map(_.length).sum,
      "meta_bytes" -> files.filterNot(_.getName.endsWith(".parquet"))
        .map(_.length).sum,
      "live_files" -> SnapshotOps.snapshotFileCount(dir, cur),
      "plain_bytes" -> plainBytes,
      "bytes_written" -> seenFiles.values.sum,
      "version" -> cur)
  }
}
