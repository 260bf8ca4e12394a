package graft.etl

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The reference's own test inputs — the CSVs bundled in its repo — are
  * stale relative to its parsers: every row fails the regexes, so both
  * scripts produce zero output (verified experimentally, SURVEY §5).
  * Matching the reference's results on its own inputs therefore means
  * producing exactly nothing; the parity parsers must reproduce that.
  */
class ReferenceBundledInputsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // reconstructions of the reference's two bundled CSVs (SURVEY §5):
  // verbatim headers, 8 and 2 data rows of the documented shapes
  private val itemsCsv = TestSpark.resource("reference/assessmentitems.csv")
  private val assessmentsCsv = TestSpark.resource("reference/assessments.csv")

  test("bundled assessmentitems.csv (10 cols) parses to zero rows, as in the reference") {
    // the pattern needs >= 15 commas; every bundled row has 9 (etl.js:11)
    assert(spark.read.textFile(itemsCsv).count() === 9) // header + 8 rows
    val parsed = ParityParsers.parseItems(spark, itemsCsv)
    assert(parsed.count() === 0)
  }

  test("bundled assessments.csv (8 cols) parses to zero rows, as in the reference") {
    // the pattern needs 13 non-empty fields; every bundled row has 8
    // (etl-assessment-level.js:18)
    assert(spark.read.textFile(assessmentsCsv).count() === 3) // header + 2 rows
    val parsed = ParityParsers.parseAssessments(spark, assessmentsCsv)
    assert(parsed.count() === 0)
  }

  test("end-to-end on the bundled items input: zero event groups (the 'no' path, etl.js:49-50)") {
    val grouped = ItemEvents.groupedByAttempt(
      ItemEvents.events(ParityParsers.parseItems(spark, itemsCsv)))
    assert(grouped.count() === 0)
  }
}
