package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing: the co-located fact⋈fact join. Writing both sides bucketed
  * (and sorted) by the join key lets Spark sort-merge-join them with ZERO
  * exchanges — at 100 TB this converts the biggest shuffle in the
  * pipeline into a pure map-side merge, paid once at write time.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed lineitem ⋈ orders sort-merge-joins with no Exchange") {
    val sf = TestSpark.sf0001
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    Tables.lineitem(spark, sf)
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    Tables.orders(spark, sf)
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_bucketed")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = spark.table("li_bucketed")
      val ord = spark.table("ord_bucketed")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      joined.collect()
      // look only at AQE's final plan (toString appends the pre-AQE
      // "Initial Plan" section too)
      val plan = joined.queryExecution.executedPlan.toString
        .split("\n\\+- == Initial Plan ==", 2)(0)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scans not bucketed in:\n$plan")
      // the join consumes bucketed scans directly — the only exchange in
      // the whole query is the post-join group-by on o_orderpriority
      val exchanges = "Exchange hashpartitioning\\(([a-z_]+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(exchanges === Seq("o_orderpriority"),
        s"join inputs were shuffled despite bucketing: $exchanges\n$plan")

      // cross-check the result against the unbucketed path
      val direct = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val bucketed = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(bucketed === direct)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("bucketed shingle index: candidate self-join consumes buckets with no pre-join exchange") {
    val sf = TestSpark.sf0001
    spark.sql("DROP TABLE IF EXISTS shingle_index")
    // the persisted-index pattern for the dedup family at corpus scale:
    // the exploded (shingle, doc) inverted index is written ONCE bucketed
    // by shingle; every later candidate-generation join then meets on
    // bucketed scans instead of re-shuffling the whole index
    graft.functions.GraftExpressions.register(spark)
    Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(graft.functions.GraftExpressions.shingles(col("text"), 3)).as("s"))
      .write.mode("overwrite").bucketBy(8, "s").sortBy("s")
      .saveAsTable("shingle_index")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val idx = spark.table("shingle_index")
      val cand = idx.as("a").join(idx.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val n = cand.count()
      val plan = cand.queryExecution.executedPlan.toString
        .split("\n\\+- == Initial Plan ==", 2)(0)
      assert(plan.contains("Bucketed: true"), s"scans not bucketed in:\n$plan")
      // the join itself must consume the bucketed scans directly — the
      // only exchange allowed is the post-join distinct on (doc_a, doc_b)
      val exchanges = "Exchange hashpartitioning\\(([a-z_]+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(exchanges === Seq("doc_a"),
        s"join inputs were shuffled despite bucketing: $exchanges\n$plan")
      assert(n > 0, "bucketed index produced no candidates")
      // containment, not a count comparison: every verified near-dup pair
      // must appear among the bucketed-index candidates — a corrupted
      // index write shows up here as a lost pair
      val verified = CrossCheck.jaccardPairsNaive(spark, sf, 0.8)
        .select(col("doc_a"), col("doc_b"))
      assert(verified.exceptAll(cand).isEmpty,
        "bucketed index lost verified near-dup pairs")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS shingle_index")
    }
  }

  test("e6 gate frame consumes bucketed scans with no pre-join exchange") {
    val sf = TestSpark.sf0001
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // at gate sf the orders side is broadcast-sized, which would hide
      // the bucketing; disable it so the spec pins the SMJ shape the
      // layout exists for
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = EtlQueries.bucketedJoinFrame(spark, sf)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("\n\\+- == Initial Plan ==", 2)(0)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scans not bucketed in:\n$plan")
      val exchanges = "Exchange hashpartitioning\\(([a-z_]+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(exchanges === Seq("o_orderstatus"),
        s"join inputs were shuffled despite bucketing: $exchanges\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("partitioned layout prunes non-matching partitions at the scan") {
    val sf = TestSpark.sf0001
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
    // hive-style layout keyed on event_type — the storage layout a 100 TB
    // events table ships with, so type-filtered queries read 1/N of it
    Tables.events(spark, sf)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("event_type") === "click")
      .agg(count(lit(1)).as("n"))
    val n = q.collect()(0).getLong(0)
    val expected = Tables.events(spark, sf)
      .filter(col("event_type") === "click").count()
    assert(n === expected)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), s"no partition filters in:\n$scan")
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(scan).isDefined,
      s"event_type not a partition filter in:\n$scan")
    // the pruned scan must not also carry event_type as a DATA filter —
    // pruning happens at the directory level, before any row is read
    assert(!"PushedFilters: \\[[^\\]]*event_type".r.findFirstIn(scan).isDefined,
      s"event_type leaked into data filters in:\n$scan")
    } finally TestSpark.deleteRecursively(dir)
  }
}
