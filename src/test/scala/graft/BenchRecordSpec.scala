package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench record-rendering gate (round-12 verdict item 1): the compact
  * stdout line — the only complete JSON line inside the driver's
  * 2000-char tail window — MUST carry totals computed from the FULL
  * results map, not from its own top-20 query breakdown. Round 12
  * shipped a record claiming 107.2s for 210 queries because the
  * renderer summed the map it was rendering (the top-20 slice); the
  * honest total was 265.5s. This spec pins the fix on synthetic maps,
  * parsing the rendered lines with the JSON parser bundled in Spark.
  */
class BenchRecordSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parse(line: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(line)

  // 30 queries with distinct, easily-summed times: q01=1.0 .. q30=30.0
  private val results: Map[String, Double] =
    (1 to 30).map(i => f"q$i%02d" -> i.toDouble).toMap
  private val storage: Map[String, (Double, Int)] =
    results.keys.map(k => k -> (1.5, 2)).toMap

  test("compact line's value equals the FULL results sum, not its own top-20 sum") {
    val (full, compact) = Bench.renderRecords(results, Nil, storage,
      Seq("q"), 0.4, 0.3, 0.34, "/root/testdata/sf0.001", 32)
    val f = parse(full); val c = parse(compact)
    val expected = results.values.sum // 465.0
    assert(math.abs(f.get("value").asDouble - expected) < 1e-6)
    assert(math.abs(c.get("value").asDouble - expected) < 1e-6)
    // the top-20 sum (11+12+..+30 = 410) must NOT be what the compact
    // line reports — this is the exact round-12 regression
    assert(math.abs(c.get("value").asDouble - 410.0) > 1.0)
    // both lines agree field-for-field on the headline numbers
    for (k <- Seq("value", "value_normalized", "failed_sec", "cpus"))
      assert(f.get(k) == c.get(k), k)
    assert(f.get("n_queries").asInt == 30)
    assert(c.get("n_queries").asInt == 30)
  }

  test("compact line breaks down the top-20 queries by time; full line all") {
    val (full, compact) = Bench.renderRecords(results, Nil, storage,
      Seq("q"), 0.4, 0.3, 0.34, "sfX", 4)
    assert(parse(full).get("queries").size == 30)
    val cq = parse(compact).get("queries")
    assert(cq.size == 20)
    // top-20 by time = q11..q30
    assert(!cq.has("q10") && cq.has("q11") && cq.has("q30"))
    // compact line omits storage snapshots; full line carries them
    assert(parse(full).get("storage").size == 30)
    assert(!parse(compact).has("storage"))
  }

  test("failed queries are excluded from value, summed in failed_sec, counted in n_failed") {
    val failed = Seq("q05", "q25")
    val (full, compact) = Bench.renderRecords(results, failed, storage,
      Seq("q"), 0.4, 0.3, 0.34, "sfX", 4)
    for (line <- Seq(full, compact)) {
      val j = parse(line)
      assert(math.abs(j.get("value").asDouble - (465.0 - 5.0 - 25.0)) < 1e-6)
      assert(math.abs(j.get("failed_sec").asDouble - 30.0) < 1e-6)
      assert(j.get("n_failed").asInt == 2)
      assert(j.get("n_queries").asInt == 30)
      val errs = j.get("errors")
      assert(errs.size == 2 && errs.get(0).asText == "q05" &&
        errs.get(1).asText == "q25")
    }
  }

  test("normalization scales value by cal_ref over the bracket mean") {
    val (full, _) = Bench.renderRecords(results, Nil, storage,
      Seq("q"), 0.4, 0.64, 0.64, "sfX", 32) // calMeasured = 0.64 = 2×calRef
    val j = parse(full)
    assert(math.abs(j.get("value_normalized").asDouble -
      results.values.sum / 2.0) < 0.01)
  }

  test("value_normalized is null off the 32-core calibration host; cpus is recorded") {
    // cal_ref was measured on 32 cores and the parallel probe scales with
    // core count: a 4-core run used to normalize 273.2s down to 37.8
    val (full, compact) = Bench.renderRecords(results, Nil, storage,
      Seq("q"), 0.4, 0.64, 0.64, "sfX", 4)
    for (line <- Seq(full, compact)) {
      val j = parse(line)
      assert(j.get("value_normalized").isNull, line)
      assert(j.get("cpus").asInt == 4)
      assert(math.abs(j.get("value").asDouble - 465.0) < 1e-6)
    }
  }

  test("the test session is Bench's session recipe") {
    val conf = TestSpark.spark.conf
    for ((k, v) <- Seq(
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.cleaner.periodicGC.interval" -> "45s",
        "spark.sql.shuffle.partitions" -> "4"))
      assert(conf.getOption(k).contains(v), s"$k = ${conf.getOption(k)}")
  }
}
