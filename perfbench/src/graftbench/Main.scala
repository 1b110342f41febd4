package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}

/** One operation of a workload's seeded sequence. `kind` groups ops for
  * the latency split (read / write / a pipeline stage). */
final case class Op(i: Int, kind: String, name: String, text: String)

/** What an op reports: result row count, a hash of the result, and any
  * fields the correctness check needs (result rows, versions, ...). */
final case class OpOut(rows: Long, hash: String,
    record: Map[String, Any] = Map.empty)

final class Ctx(val spark: SparkSession, val dataDir: String,
    val workDir: String) {
  var tr: Tracer = new Tracer(false)
}

/** A closed-loop workload: one client issues op i+1 only after op i
  * returned. Ops come from the seed alone, so two runs at one seed issue
  * the same sequence. */
trait Workload {
  /** Set-up work that every session needs (table registration). */
  def prepare(ctx: Ctx): Unit
  /** One untimed pass that fills caches and generated code. */
  def warm(ctx: Ctx): Unit
  /** Fresh state for a timed phase: empty table directories. */
  def reset(ctx: Ctx): Unit
  def op(ctx: Ctx, i: Int): Op
  /** Whether the timed loop may stop before op `i`: only after whole
    * units (a block, a pass), and never before the first one ends. */
  def boundary(i: Int): Boolean = true
  def run(ctx: Ctx, op: Op): OpOut
  /** Bookkeeping after op `op` returned, outside its timing. */
  def after(ctx: Ctx, op: Op): Map[String, Any] = Map.empty
  /** Per-layer figures this workload measures itself (traced phase). */
  def layers(ctx: Ctx, ops: Seq[Map[String, Any]]): Map[String, Double] =
    Map.empty
  /** Figures and artifacts the correctness check needs. */
  def finish(ctx: Ctx): Map[String, Any]
  def close(): Unit = ()
}

object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def hashRows(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Result rows as plain JSON values for the DuckDB comparison. */
  def plainRows(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map(plain))

  private def plain(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case f: Float => f.toDouble
    case s: scala.collection.Seq[_] => s.map(plain)
    case r: Row => r.toSeq.map(plain)
    case x: java.lang.Number => x
    case b: Boolean => b
    case x => x.toString
  }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.fs.file.impl", "graft.fs.FastLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.fs.FastLocalFs")
      .getOrCreate()

  /** Bytes written through Hadoop file systems so far. */
  private def fsBytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator
      .asScala.map(st => Option(st.getLong("bytesWritten"))
        .fold(0L)(_.longValue)).sum

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Peak resident set of this JVM (Linux VmHWM), in MB. */
  private def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) -1.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
      finally src.close()
    }
  }

  final case class Phase(ops: Seq[Map[String, Any]], wallS: Double,
      layers: Map[String, Double])

  /** Runs ops from 0 in a closed loop until `seconds` have passed (at a
    * boundary) or `maxOps` ops ran, whichever the caller set. */
  private def phase(ctx: Ctx, wl: Workload, traced: Boolean,
      seconds: Double, maxOps: Int, cores: Int): Phase = {
    wl.reset(ctx)
    val tr = new Tracer(traced)
    ctx.tr = tr
    val probe = new Probe
    if (traced) {
      ctx.spark.sparkContext.addSparkListener(probe)
      ctx.spark.listenerManager.register(probe)
    }
    val fs0 = fsBytesWritten
    val gc0 = gcMs
    heapPools.foreach(_.resetPeakUsage())
    val ops = ArrayBuffer.empty[Map[String, Any]]
    var gapMs = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    def more: Boolean =
      if (maxOps > 0) i < maxOps
      else System.nanoTime() < deadline || !wl.boundary(i)
    while (more) {
      val op = wl.op(ctx, i)
      tr.op = i
      val ms0 = System.currentTimeMillis()
      val s = System.nanoTime()
      val out =
        try Right(tr.span("op")(wl.run(ctx, op)))
        catch { case NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.toString).take(500)) }
      val ms = (System.nanoTime() - s) / 1e6
      val seen = if (out.isRight) wl.after(ctx, op) else Map.empty
      if (traced) {
        org.apache.spark.graftbench.Bus.drain(ctx.spark.sparkContext)
        gapMs += probe.driverGapMs(ms0, System.currentTimeMillis())
      }
      ops += (Map[String, Any]("i" -> i, "kind" -> op.kind,
        "name" -> op.name, "text" -> op.text, "ms" -> ms,
        "ok" -> out.isRight) ++ (out match {
          case Right(o) =>
            o.record ++ seen ++ Map("rows" -> o.rows, "hash" -> o.hash)
          case Left(err) => Map("error" -> err)
        }))
      i += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        ctx.spark.sparkContext.removeSparkListener(probe)
        ctx.spark.listenerManager.unregister(probe)
        val n = math.max(1, ops.size).toDouble
        val self = tr.selfMs
        val fs1 = fsBytesWritten
        val opMs = ops.map(_("ms").asInstanceOf[Double]).sum
        def per(v: Double) = v / n
        Map(
          "dialect.rewrite_ms" -> per(self.getOrElse("dialect.rewrite", 0)),
          "dialect.lex_ms" -> per(self.getOrElse("dialect.lex", 0)),
          "engine.call_ms" -> per(self.getOrElse("engine.call", 0)),
          "engine.action_ms" -> per(self.getOrElse("engine.action", 0)),
          "engine.statements_per_op" -> per(tr.count("engine.call")),
          "catalyst.analysis_ms" -> per(probe.analysisMs),
          "catalyst.optimization_ms" -> per(probe.optimizationMs),
          "catalyst.planning_ms" -> per(probe.planningMs),
          "catalyst.queries_per_op" -> per(probe.queries),
          "exec.jobs_per_op" -> per(probe.jobs),
          "exec.stages_per_op" -> per(probe.stages),
          "exec.tasks_per_op" -> per(probe.tasks),
          "exec.task_ms" -> per(probe.taskMs),
          "exec.task_cpu_ms" -> per(probe.cpuMs),
          "exec.sched_delay_ms" -> per(probe.schedMs),
          "exec.gc_ms" -> per(probe.gcMs),
          "exec.busy_frac" -> probe.taskMs / math.max(1.0, opMs * cores),
          "exec.driver_gap_ms" -> per(gapMs),
          "exec.task_skew" ->
            (if (probe.skewStages == 0) 0.0
             else probe.skewSum / probe.skewStages),
          "exec.input_bytes" -> per(probe.inputBytes),
          "exec.shuffle_write_bytes" -> per(probe.shuffleWrite),
          "exec.shuffle_read_bytes" -> per(probe.shuffleRead),
          "exec.spill_bytes" -> per(probe.spill),
          "exec.failed_tasks" -> probe.failedTasks.toDouble,
          "fs.bytes_written" -> per(fs1 - fs0),
          "jvm.gc_ms" -> (gcMs - gc0).toDouble,
          "jvm.heap_peak_mb" ->
            heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
        ) ++ wl.layers(ctx, ops.toSeq)
      }
    Phase(ops.toSeq, wallS, layers)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val maxOps = opt.getOrElse("ops", "0").toInt
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors
    val wl: Workload = workload match {
      case "sql_analytic" => new SqlAnalytic(seed)
      case "table_lifecycle" => new TableLifecycle(seed)
      case "llm_pipeline" => new LlmPipeline
      case other => sys.error(s"unknown workload $other")
    }
    // set-up: JVM start to the first timed op (session, table
    // registration, one warm pass)
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opt("data"), work)
    val r0 = System.nanoTime()
    wl.prepare(ctx)
    val w0 = System.nanoTime()
    wl.warm(ctx)
    val w1 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val cachedMb = ctx.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    // traced runs first measure the same ops untraced, so the cost of
    // tracing itself is visible as trace.overhead_frac
    val plainPhase = phase(ctx, wl, traced = false, seconds, maxOps, cores)
    val tracedPhase =
      if (!traced) None
      else Some(phase(ctx, wl, traced = true, seconds, plainPhase.ops.size,
        cores))
    val last = tracedPhase.getOrElse(plainPhase)
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
    val finish = wl.finish(ctx)
    val layers = tracedPhase.map(p => p.layers ++ Map(
      "tables.register_ms" -> (w0 - r0) / 1e6,
      "tables.warm_ms" -> (w1 - w0) / 1e6,
      "tables.cached_mb" -> cachedMb,
      "trace.overhead_frac" -> (p.wallS / plainPhase.wallS - 1.0)))
      .getOrElse(Map.empty)
    tracedPhase.foreach(_ => ctx.tr.write(s"$work/spans.tsv"))
    val out = Map[String, Any](
      "workload" -> workload, "seed" -> seed,
      "host" -> Map("nproc" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark" -> ctx.spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.version")),
      "setup_s" -> setupS,
      "wall_s" -> plainPhase.wallS,
      "ops" -> plainPhase.ops,
      "checked_ops" -> last.ops,
      "layers" -> layers,
      "finish" -> finish,
      "peak_rss_mb" -> peakRssMb,
      "heap_live_mb" -> heapLiveMb)
    wl.close()
    ctx.spark.stop()
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.write(json.writeValueAsString(out)) finally w.close()
  }
}
