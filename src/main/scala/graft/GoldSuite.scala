package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Reference-parity suite: runs every entry of the benchmark's dev.json
  * (setup_sql → query → validation_sql) through [[Engine]] against the
  * exported fixture databases and compares canonicalized results with the
  * DuckDB oracle dump (fixtures/gold_expected.json, produced by
  * tools/gold_oracle.py — the re-implementation of the reference's
  * execution-match evaluator, eval/evaluate.py:116-170).
  *
  * Canonicalization is byte-identical on both sides: NULL marker, fixed
  * 6-dp floats, lowercase booleans, trimmed timestamp fractions, \x01
  * cell separator, sorted rows.
  */
object GoldSuite {

  private val RefDev = "/root/reference/eval/data/dev.json"
  private val Fix = "/root/repo/fixtures"
  private val TitanicUrl =
    "https://raw.githubusercontent.com/datasciencedojo/datasets/master/titanic.csv"

  /** The reference benchmark's dev set — the one place every reader of
    * the gold corpus (this suite, Bench's replay gates, the specs) takes
    * it from. It lives in the read-only reference checkout, which a host
    * may not have: check [[refDevPresent]] before reading. */
  def refDevPath: String = RefDev

  def refDevPresent: Boolean = new java.io.File(RefDev).isFile

  /** The dev set's entries, in file order. */
  def devEntries(): Seq[Map[String, Any]] =
    new ObjectMapper().readValue(
      Files.readString(Paths.get(RefDev)), classOf[java.util.List[Object]])
      .asScala.toSeq.map(_.asInstanceOf[java.util.Map[String, Any]]
        .asScala.toMap)

  def canonCell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => b.toString
    case d: Double => String.format(java.util.Locale.ROOT, "%.6f",
      BigDecimal(d).setScale(6,
        BigDecimal.RoundingMode.HALF_EVEN).toDouble)
    case f: Float => canonCell(f.toDouble)
    case t: java.sql.Timestamp =>
      val s = t.toString
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse
        .stripSuffix(".")
      else s
    case t: java.time.LocalDateTime =>
      canonCell(java.sql.Timestamp.valueOf(t))
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] =>
      "[" + s.map(canonCell).mkString(",") + "]"
    case r: Row =>
      "{" + r.schema.fields.zipWithIndex.map { case (f, i) =>
        s"${f.name}:${canonCell(r.get(i))}"
      }.mkString(",") + "}"
    case other => other.toString
  }

  def canonRows(df: DataFrame): Seq[String] =
    df.collect().map(r =>
      (0 until r.length).map(i => canonCell(r.get(i))).mkString("\u0001"))
      .sorted.toSeq

  /** Registers one fixture database's tables (plain + db-qualified),
    * with the nullability sidecar (parquet drops NOT NULL). */
  def loadFixture(engine: Engine, db: String): Unit = {
    val dir = new java.io.File(s"$Fix/$db")
    if (!dir.isDirectory) return
    val sidecar = new java.io.File(dir, "_schema.json")
    val notNull: Map[String, Set[String]] =
      if (sidecar.exists()) {
        val m = new ObjectMapper().readValue(
          Files.readString(sidecar.toPath),
          classOf[java.util.Map[String, java.util.Map[String, String]]])
        m.asScala.map { case (t, cols) =>
          t.toLowerCase -> cols.asScala.collect {
            case (c, "NO") => c.toLowerCase
          }.toSet
        }.toMap
      } else Map.empty
    dir.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
      val t = f.getName.stripSuffix(".parquet")
      val df = engine.spark.read.parquet(f.getPath)
      engine.register(t, df)
      engine.register(s"$db.$t", df)
      notNull.get(t.toLowerCase).foreach(s =>
        engine.notNullCols(t.toLowerCase) = s)
    }
    engine.defaultDbName = db
  }

  private def localize(sql: String): String =
    sql.replace(TitanicUrl, s"$Fix/titanic_local.csv")
      .replace("ATTACH 'who.ddb'", s"ATTACH '$Fix/who' AS who")

  case class EntryResult(idx: Int, mode: String, ok: Boolean, detail: String,
      skipped: Boolean = false, category: String = "")

  def runEntry(spark: SparkSession, idx: Int, e: Map[String, Any],
      expected: Map[String, Any]): EntryResult = {
    val mode = expected("mode").toString
    // an entry whose oracle failed to generate can't be checked: count it
    // as SKIPPED (excluded from the pass denominator), never as a pass
    if (mode == "oracle_error")
      return EntryResult(idx, mode, ok = false,
        s"oracle failed: ${expected.getOrElse("error", "")}", skipped = true)
    // fresh engine + clean temp-view namespace per entry
    spark.catalog.listTables().collect()
      .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
    val engine = new Engine(spark)
    engine.workDir =
      Files.createTempDirectory(s"gold_$idx").toString
    loadFixture(engine, e("db_id").toString)

    val setup = Option(e.getOrElse("setup_sql", null))
      .map(_.toString).getOrElse("")
    if (setup.trim.nonEmpty) engine.executeScript(localize(setup))
    val result = engine.executeScript(localize(e("query").toString))
    result.createOrReplaceTempView("ddb_benchmark_result")
    val validation = Option(e.getOrElse("validation_sql", null))
      .map(_.toString).filter(_.trim.nonEmpty)
      .getOrElse("SELECT * FROM ddb_benchmark_result")
    val vdf = engine.executeScript(localize(validation))

    val expRows = expected.getOrElse("rows", java.util.List.of())
      .asInstanceOf[java.util.List[String]].asScala.toSeq
    val expCols = expected.getOrElse("ncols", 0).toString.toInt

    // Spark alphabetizes JSON-inferred columns; when the oracle recorded
    // its column names and ours are the same set, restore oracle order so
    // the positional compare is meaningful
    val expNames = Option(expected.getOrElse("cols", null))
      .map(_.asInstanceOf[java.util.List[String]].asScala.toSeq)
      .getOrElse(Seq.empty)
    val vdfOrdered =
      if (expNames.nonEmpty &&
        expNames.map(_.toLowerCase).sorted ==
          vdf.columns.map(_.toLowerCase).toSeq.sorted &&
        expNames.map(_.toLowerCase) !=
          vdf.columns.map(_.toLowerCase).toSeq)
        vdf.select(expNames.map(n => org.apache.spark.sql.functions.col(
          vdf.columns.find(_.equalsIgnoreCase(n)).get)): _*)
      else vdf

    val entryResult = mode match {
      case "project" =>
        val idxs = expected("proj").asInstanceOf[java.util.List[Integer]]
          .asScala.map(_.toInt).toSeq
        val proj = vdfOrdered.select(
          idxs.map(i => org.apache.spark.sql.functions.col(
            vdfOrdered.columns(i))): _*)
        val actual = canonRows(proj)
        EntryResult(idx, mode, actual == expRows,
          if (actual == expRows) "" else s"${actual.take(3)} vs ${expRows.take(3)}")
      case "exact" =>
        val vdf = vdfOrdered
        val actual = canonRows(vdf)
        val okCols = vdf.columns.length == expCols
        if (!okCols)
          EntryResult(idx, mode, ok = false,
            s"ncols ${vdf.columns.length} != $expCols")
        else if (actual == expRows) EntryResult(idx, mode, ok = true, "")
        else {
          val firstDiff = actual.zipAll(expRows, "<missing>", "<missing>")
            .find { case (a, b) => a != b }
          EntryResult(idx, mode, ok = false,
            s"rows ${actual.length} vs ${expRows.length}; first diff: " +
              firstDiff.map { case (a, b) =>
                s"ours=[${a.replace('\u0001', '|')}] oracle=[${b.replace('\u0001', '|')}]"
              }.getOrElse(""))
        }
      case "count" =>
        // oracle records the scalar count VALUE (first cell); compare ours
        val n = canonCell(vdf.collect()(0).get(0))
        EntryResult(idx, mode, n == expRows.head,
          s"count $n vs ${expRows.head}")
      case "summarize" =>
        val actual = canonRows(vdf.selectExpr("column_name", "column_type",
          "count"))
        EntryResult(idx, mode, actual == expRows,
          if (actual == expRows) ""
          else s"${actual.take(2)} vs ${expRows.take(2)}")
      case "sample" =>
        val n = vdf.count()
        val tableRows = expected("table_rows").toString.toLong
        val bound = math.max(50L, tableRows / 20)
        EntryResult(idx, mode, n <= bound, s"sampled $n of $tableRows")
      case "nonempty" =>
        val expNonempty = expected.getOrElse("nonempty", true)
          .toString.toBoolean
        EntryResult(idx, mode, vdf.count() > 0 == expNonempty, "")
      case other => EntryResult(idx, other, ok = false, "unknown mode")
    }
    // every comparison above has consumed its frames — reclaim any
    // first-DML snapshot materializations this entry's engine created
    engine.close()
    entryResult
  }

  /** Runs the suite; with `correctCasing = true` every dev.json query
    * first passes through the H11 casing canonicalizer
    * ([[graft.operators.PromptOps.correctCasingString]]) — the analogue
    * of the reference evaluator's optional `--correct-sql-casing` flag
    * (eval/evaluate.py:260-262, applied to the SQL strings at :326-329).
    * The canonicalized SQL must still produce every expected result:
    * casing correction is metric plumbing, never a semantic change.
    * With `normalized = true` the stronger transform runs instead —
    * [[graft.dialect.SqlNormalizer.normalize]], the full parse→render
    * round trip (comments dropped, whitespace re-rendered) — under the
    * same execution-equivalence contract. */
  def run(spark: SparkSession,
      correctCasing: Boolean = false,
      normalized: Boolean = false): Seq[EntryResult] = {
    val mapper = new ObjectMapper()
    val entries = devEntries()
    val expected = mapper.readValue(
      Files.readString(Paths.get(s"$Fix/gold_expected.json")),
      classOf[java.util.Map[String, Object]]).asScala
    entries.zipWithIndex.map { case (e0, idx) =>
      val e =
        if (normalized) e0.updated("query",
          graft.dialect.SqlNormalizer.normalize(e0("query").toString))
        else if (correctCasing) e0.updated("query",
          graft.operators.PromptOps.correctCasingString(
            e0("query").toString))
        else e0
      val cat = Option(e.getOrElse("category", null))
        .map(_.toString).getOrElse("")
      val r = try runEntry(spark, idx, e,
        expected(idx.toString).asInstanceOf[java.util.Map[String, Any]]
          .asScala.toMap)
      catch {
        case ex: Throwable =>
          EntryResult(idx, "error", ok = false,
            s"${ex.getClass.getSimpleName}: ${Option(ex.getMessage)
              .getOrElse("").linesIterator.take(2).mkString(" ")}")
      }
      r.copy(category = cat)
    }
  }

  /** Category-sliced execution-accuracy rollup, mirroring the reference
    * evaluator's per-slice report (eval/evaluate.py:49-82 print_scores and
    * :354-380 slice_attribute loop → get_to_print CSV rows). Skipped
    * entries (oracle_error) are excluded from the denominator, matching
    * the overall-count rule. */
  def categoryReport(results: Seq[EntryResult]): Seq[(String, Int, Double)] = {
    val checked = results.filterNot(_.skipped)
    val bySlice = checked.groupBy(_.category).map { case (cat, rs) =>
      (cat, rs.length, rs.count(_.ok).toDouble / rs.length)
    }.toSeq.sortBy(_._1)
    ("all", checked.length,
      checked.count(_.ok).toDouble / math.max(checked.length, 1)) +: bySlice
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // chmod-fork-free local FS (r17-opt: programmatic install,
      // replacing the classpath core-site.xml — see FastLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", "graft.fs.FastLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.fs.FastLocalFs")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val casing = args.contains("--casing")
    val normalized = args.contains("--normalized")
    if (casing) println("casing mode: queries canonicalized via " +
      "correct_casing before execution (--correct-sql-casing analogue)")
    if (normalized) println("normalized mode: queries re-rendered via " +
      "normalize_sql (parse->render round trip) before execution")
    val results = run(spark, correctCasing = casing,
      normalized = normalized)
    results.foreach { r =>
      val mark = if (r.skipped) "SKIP" else if (r.ok) "PASS" else "FAIL"
      println(f"$mark ${r.idx}%3d [${r.mode}] ${r.detail}")
    }
    val (skipped, checked) = results.partition(_.skipped)
    val passed = checked.count(_.ok)
    println(s"\ngold suite: $passed/${checked.length} pass" +
      (if (skipped.nonEmpty)
        s"; ${skipped.length} skipped (${skipped.map(_.idx).mkString(",")})"
      else ""))
    // per-category execution-accuracy table + CSV, as the reference
    // evaluator reports (slice,support,exec)
    println("\nslice       support  execution")
    val report = categoryReport(results)
    report.foreach { case (cat, n, acc) =>
      println(f"${if (cat.isEmpty) "(none)" else cat}%-12s$n%7d  $acc%.3f")
    }
    println("\nslice,support,exec")
    report.foreach { case (cat, n, acc) =>
      println(f"$cat,$n,$acc%.3f")
    }
    spark.stop()
  }
}
