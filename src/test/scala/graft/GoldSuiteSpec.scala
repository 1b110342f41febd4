package graft

/** Reference-parity gate: all 75 benchmark entries (setup → query →
  * validation) must match the DuckDB oracle dump. Skips cleanly when the
  * read-only reference checkout is not present. */
class GoldSuiteSpec extends SparkSpecBase {
  test("all 75 reference gold queries match the DuckDB oracle") {
    assume(GoldSuite.refDevPresent, "reference checkout not present")
    assume(new java.io.File("/root/repo/fixtures/gold_expected.json")
      .exists(), "oracle dump not generated (tools/gold_oracle.py)")
    val results = GoldSuite.run(spark)
    // skipped = oracle itself failed to generate; GoldSuite.main excludes
    // these from the pass denominator — mirror that here, don't fail red
    val failed = results.filterNot(r => r.ok || r.skipped)
    assert(failed.isEmpty, failed.map(r =>
      s"${r.idx} [${r.mode}] ${r.detail}").mkString("\n"))
    // category-sliced rollup (reference evaluate.py slice report): the
    // dev set tags every entry, and each slice must be fully green
    val report = GoldSuite.categoryReport(results)
    assert(report.head._1 == "all" && report.head._3 == 1.0)
    val slices = report.tail
    assert(slices.nonEmpty && slices.forall(_._1.nonEmpty),
      s"entries missing category tags: $slices")
    assert(slices.forall(_._3 == 1.0), s"red slice in $slices")
  }
}
