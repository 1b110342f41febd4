package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times the headline queries at SPARK_GRAFT_SF_DIR
  * and prints one JSON line. Warm-up is REGISTRATION ONLY (r16-opt):
  * JVM/codegen warm-up and the hot-table cache all materialize inside
  * the first timed pass; the per-entry min over the two interleaved
  * passes reports the warm resident state and the cold pass stays
  * visible in queries_max. Consequence for the noise heuristics: the
  * first entry to touch each hot table deterministically shows
  * pass1 >> pass2 — its "noisy" flag (spread > 4x) then marks
  * first-touch cache-build cost, not necessarily co-tenant load, and
  * the retry it triggers just contributes a third (warm) sample to
  * the min, which is harmless. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // chmod-fork-free local FS (r17-opt: programmatic install,
      // replacing the classpath core-site.xml — see FastLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", "graft.fs.FastLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.fs.FastLocalFs")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // default: the headline set (the driver's contract); explicit args
    // select any catalog entries for ad-hoc measurement
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.headline
    val qs = SparkEntry.queries
    // warm-up: REGISTRATION ONLY (r16-opt measurement fix). prep binds
    // the table views — footer reads, zero materialization. The hot
    // tables' repartitioned cache (Tables.registerAll, the buffer-pool
    // role) now materializes INSIDE the timed region, on the first
    // timed query that touches each table, as do JVM/codegen warm-up:
    // every bench invocation computes from the parquet inputs, with no
    // base-table cache built outside the timed region. The interleaved
    // two-pass / per-entry-min protocol (below) still reports the warm
    // resident state — pass 1 absorbs cache materialization + codegen,
    // pass 2 is warm, and the cold pass stays visible in queries_max.
    // Pre-fix numbers: BENCH_r15.json / tools/bench_r16opt_before.json
    // (same per-entry mins within noise — the min was warm either way).
    // Guarded: a bad table must degrade to named per-query failures in
    // the artifact, not an rc=1 with zero timings (the r6 lesson).
    // NonFatal only: an OutOfMemoryError or interrupt must crash the run
    // (a half-dead JVM would otherwise produce misleading timings)
    def guard(what: String)(body: => Unit): Unit =
      try body catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up $what failed: ${e.getMessage}")
      }
    guard("prep")(Queries.prep(spark, sfDir))
    // two INTERLEAVED passes over the whole list, per-query min across
    // passes: back-to-back best-of-2 is defenseless against a co-tenant
    // load spike that covers both runs (r2 lost ~117 s to exactly that);
    // separating the repetitions by a full pass makes a spike visible as
    // min<<max instead of polluting the min. Same total work as
    // best-of-2 — only the order changes.
    def once(name: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { qs(name)(spark, sfDir).count(); true }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val passes = Seq(1, 2).map(_ => names.map(once))
    // transient-spike self-heal (r12): an entry whose two interleaved
    // passes spread >4x was hit by a co-tenant load spike in at least
    // one of them; ONE retry after the main passes gives its min a
    // third, usually-quiet sample, so a transient spike cannot
    // contaminate the entry mins that survive into the hard artifact.
    // A uniformly loaded host still shows up via run_noisy (the retry
    // is just as slow) — this heals spikes, it cannot hide load.
    val retried: Map[Int, (Double, Boolean)] =
      names.zipWithIndex.filter { case (_, i) =>
        val ok = passes.map(_(i)).collect { case (t, true) => t }
        ok.nonEmpty && ok.min > 0 && ok.max / ok.min > 4
      }.map { case (name, i) =>
        System.err.println(s"[bench] retrying noisy entry $name")
        i -> once(name)
      }.toMap
    val results = names.zipWithIndex.map { case (name, i) =>
      // only successful runs contribute: a failure's time-to-error must
      // not masquerade as a fast min
      val okTimes = (passes.map(_(i)) ++ retried.get(i).toSeq)
        .collect { case (t, true) => t }
      (name, okTimes.minOption.getOrElse(-1.0),
        okTimes.maxOption.getOrElse(-1.0), okTimes.nonEmpty)
    }
    // per-entry quiet floors (r13): the run-level floor check passes
    // while individual entries run 1.6-3.4x their quiet times under
    // uniform co-tenant load (the r12 adjudication). Floors are the
    // recorded quiet-host per-entry mins (tools/bench_floors.json,
    // regenerated whenever the headline set or an entry's shape
    // changes); an entry whose min exceeds 2.5x its floor lands in
    // "hot" — the artifact self-adjudicates per-entry inflation
    // instead of leaving it to cross-referencing after the fact.
    val floors: Map[String, Double] = {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_FLOORS", "tools/bench_floors.json"))
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p))
        // intersect with the timed entry set: the flat regex would
        // otherwise treat any future numeric metadata key in the JSON
        // (a version, a timestamp) as an entry floor and count it in
        // floors_loaded
        val entryNames = names.toSet
        """"([\w]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(s)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter { case (k, _) => entryNames.contains(k) }.toMap
      }
    }
    val hot = results.collect {
      case (k, mn, _, true) if floors.get(k).exists(f => mn > 2.5 * f) =>
        "\"" + k + "\""
    }.mkString("[", ",", "]")
    // floors_loaded makes an empty hot list self-describing: 0 means
    // "no floors found (cwd/env), nothing was adjudicated", not
    // "nothing was inflated"
    val floorsLoaded = results.count { case (k, _, _, _) =>
      floors.contains(k) }
    // a failed query reports -1, is listed under "failed", and is
    // excluded from the total so "value" always equals the sum of the ok
    // entries; "queries_max" exposes the worst pass so a spike window is
    // visible in the artifact itself; "noisy" self-identifies entries
    // whose max/min spread exceeds 4x — a co-tenant load spike signature
    // (observed 5-60x on this host), so a polluted min is flagged in the
    // artifact rather than discovered by cross-referencing later
    val qjson = results.map { case (k, mn, _, ok) =>
      "\"" + k + "\":" + (if (ok) mn else -1) }
      .mkString("{", ",", "}")
    val qmax = results.map { case (k, _, mx, ok) =>
      "\"" + k + "\":" + (if (ok) mx else -1) }
      .mkString("{", ",", "}")
    val noisy = results.collect {
      case (k, mn, mx, true) if mn > 0 && mx / mn > 4 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // the spike-heal retry samples, emitted SEPARATELY so the artifact
    // distinguishes 2-sample from 3-sample mins (the advisor's r12
    // one-directional-bias note): a reader can recompute any entry's
    // min under the fixed two-pass protocol from queries/queries_max
    // alone, and sees exactly which entries got the third sample
    val retryJson = names.zipWithIndex.flatMap { case (name, i) =>
      retried.get(i).collect { case (t, true) =>
        "\"" + name + "\":" + t }
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, mn, _, true) => mn }.sum
    val nOk = results.count(_._4)
    // run-level noise flag (r9): a UNIFORMLY loaded host inflates every
    // min by a similar factor, producing a clean per-entry `noisy: []`
    // story around numbers that are all 2-4x steady state (exactly the
    // r8 q42/q178/q193 confusion). Per-entry spread can't see that; a
    // comparison against the recorded quiet-host floor for the default
    // headline set (BASELINE.md carries the measurement history) can.
    // Only emitted for the full default set at the driver's sf — an
    // args-selected subset has no recorded floor.
    // floor re-measured whenever the headline set changes; r10
    // 90-entry set (q211/q226/q227 + q234-q255 promoted): r9's 65-entry
    // floor 44.9 s + 32.4 s best-of-pass sum for the first 23 additions
    // + 1.9 s q254 + 2.8 s q255 (scoped interleaved runs, BASELINE.md
    // Round-10) ≈ 82 s; rounded down to 81.0. r11 95-entry set adds
    // q256 2.6 s + q257 6.5 s + q258 4.2 s + q259 2.9 s + q260 2.9 s
    // (commit-latency lifecycle entries, scoped quiet runs, BASELINE.md
    // Round-11) → 100.0. r12 96-entry set adds q262 5.0 s (three
    // streaming drains + commits, scoped quiet run) → 105.0; r12
    // 97-entry set adds q263 5.9 s (four change-feed drains + a MOR +
    // a COW commit, scoped quiet run) → 110.0; r12 98-entry set adds
    // q264 5.4 s (4-DML lifecycle + 4-span table_changes read,
    // scoped quiet run) → 115.0; r13 100-entry set adds q265 3.0 s +
    // q266 3.7 s and makes q257 (expire + retention read) and q264
    // (timestamp pin) heavier — two full quiet runs measured 138.8 s
    // (run 2, run_noisy false) and best-of-both 136.3 s → 130.0;
    // r14 102-entry set adds q267 1.2 s + q268 2.0 s — two full quiet
    // runs 125.9/133.4 s, best-of-both per-entry sum 121.4 s → 118.0
    // (the set also got FASTER: the near-dup drain parallelization and
    // the count-gate removal outweigh the two additions)
    val quietFloorSec: Option[Double] =
      if (args.isEmpty && sfDir.endsWith("sf0.1")) Some(118.0) else None
    val runNoisy = quietFloorSec.map { floor =>
      val flag = total > floor * 1.3
      s""","quiet_floor_sec":$floor,"run_noisy":$flag"""
    }.getOrElse("")
    // casing-parity gate in the hard artifact (r10 verdict ask #8):
    // replay the 75 gold entries with H11 casing canonicalization
    // applied first (the reference's --correct-sql-casing analogue) and
    // record pass/checked in the summary the driver parses. Untimed —
    // runs after both measurement passes, so it cannot touch any number.
    // each replay gate fails independently: a normalizer regression
    // must not erase the casing gate's already-computed result
    // a gate that cannot run says why instead of a bare "error"
    def goldGate(key: String)(run: => Seq[GoldSuite.EntryResult]): String =
      if (!GoldSuite.refDevPresent)
        s""","$key":"unavailable: reference checkout absent""""
      else try {
        val checked = run.filterNot(_.skipped)
        s""","$key":"${checked.count(_.ok)}/${checked.length}""""
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $key replay failed: ${e.getMessage}")
        s""","$key":"error""""
      }
    val goldCasing =
      if (args.nonEmpty) ""
      else goldGate("gold_casing")(
        GoldSuite.run(spark, correctCasing = true)) +
        // r11: the full parse->render round trip (normalize_sql) —
        // the sqlglot-analogue execution-equivalence gate
        goldGate("gold_normalized")(GoldSuite.run(spark, normalized = true))
    // print order matters for the driver's artifact, which keeps (a) a
    // parse of a stdout JSON line and (b) the last few KB of stdout.
    // r7's single long line overflowed both; r10 put the ~2.2 KB
    // map-bearing total LAST and the driver's tail window truncated it
    // mid-stream, so the round's parse came back null. Now: the fat
    // per-entry MIN map first (still lands inside a few-KB tail window
    // for the 95-entry set), queries_max second (spike visibility), and
    // the FINAL line is the SHORT summary — small enough that no tail
    // window can split it, so the driver's parse always gets a total.
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","ok":$nOk,"n_queries":${results.size},"noisy":$noisy,"hot":$hot,"floors_loaded":$floorsLoaded,"failed":$failed$runNoisy$goldCasing,"sf":"$sfDir"}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","ok":$nOk,"n_queries":${results.size},"queries":$qjson,"noisy":$noisy,"hot":$hot,"floors_loaded":$floorsLoaded,"failed":$failed$runNoisy,"sf":"$sfDir"}""")
    println(s"""{"metric":"detail_max","value":$total,"unit":"sec","queries_max":$qmax,"queries_retry":$retryJson,"sf":"$sfDir"}""")
    println(summary)
    spark.stop()
  }
}
