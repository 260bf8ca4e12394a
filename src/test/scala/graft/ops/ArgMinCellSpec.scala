package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native codegen'd argmin kernel
  * ([[graft.functions.GraftExpressions.ArgMinCell]], behind
  * [[Similarity.assignStructExpr]]) bit-equal to the pre-round-14
  * higher-order formulation ([[CrossCheck.assignStructExprHof]]) it
  * replaced in every assign stage (s14/s16/s18/s20/s21/w23). The HOF
  * chain is the semantics the DuckDB oracles mirror (fixed-order
  * squared-L2 fold, strict-min keep-first = ORDER BY dist, cell LIMIT 1,
  * ragged codebook rows skipped via zip_with null-padding, (∞, -1)
  * init), so equality here is what keeps those oracles valid.
  */
class ArgMinCellSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def bothCols = Seq(
    Similarity.assignStructExpr(col("v"), col("cents")).as("nat"),
    CrossCheck.assignStructExprHof(col("v"), col("cents")).as("hof"))

  test("native == HOF bit-for-bit over the real corpus and a real codebook") {
    graft.functions.GraftExpressions.register(spark)
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // the kmCentArr shape: one-row sorted codebook from the seed vectors
    val cb = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("v").as("cv"))
      .agg(sort_array(collect_list(struct(col("cell"), col("cv")))).as("cents"))
    val r = e.crossJoin(broadcast(cb)).select(bothCols: _*)
      .agg(
        sum(when(col("nat.cell") === col("hof.cell"), 0).otherwise(1)).as("cellDiff"),
        // bit-equality of the winning distance, not approximate equality
        sum(when(col("nat.dist") === col("hof.dist"), 0).otherwise(1)).as("distDiff"),
        count(lit(1)).as("n"))
      .head()
    assert(r.getLong(2) > 0)
    assert(r.getLong(0) === 0L, "cell mismatch vs HOF")
    assert(r.getLong(1) === 0L, "dist mismatch vs HOF")
  }

  test("ragged codebook rows are skipped; empty codebook yields the (inf, -1) init") {
    graft.functions.GraftExpressions.register(spark)
    val df = spark.range(1).select(
      expr("array(3.0d, 4.0d)").as("v"),
      expr("array(named_struct('cell', 0L, 'cv', array(0.0d)), " +
        "named_struct('cell', 1L, 'cv', array(0.0d, 0.0d)))").as("cents"))
    val row = df.select(bothCols: _*).head()
    val nat = row.getStruct(0); val hof = row.getStruct(1)
    assert(nat.getLong(1) === 1L && hof.getLong(1) === 1L) // ragged cell 0 skipped
    assert(nat.getDouble(0) === 25.0 && hof.getDouble(0) === 25.0)

    val empty = spark.range(1).select(
      expr("array(1.0d)").as("v"),
      expr("cast(array() as array<struct<cell: bigint, cv: array<double>>>)").as("cents"))
    val r2 = empty.select(bothCols: _*).head()
    assert(r2.getStruct(0).getLong(1) === -1L && r2.getStruct(1).getLong(1) === -1L)
    assert(r2.getStruct(0).getDouble(0).isPosInfinity)
    assert(r2.getStruct(1).getDouble(0).isPosInfinity)
  }

  test("ties keep the lower cell (first strict minimum in sorted order)") {
    graft.functions.GraftExpressions.register(spark)
    val df = spark.range(1).select(
      expr("array(1.0d, 0.0d)").as("v"),
      expr("array(named_struct('cell', 0L, 'cv', array(0.0d, 0.0d)), " +
        "named_struct('cell', 1L, 'cv', array(0.0d, 1.0d)), " +
        "named_struct('cell', 2L, 'cv', array(2.0d, 0.0d)))").as("cents"))
    val row = df.select(bothCols: _*).head()
    assert(row.getStruct(0).getLong(1) === 0L)
    assert(row.getStruct(1).getLong(1) === 0L)
  }

  test("null inputs: native is strictly null (HOF kept a sentinel on null v — unreachable from non-null vector data)") {
    graft.functions.GraftExpressions.register(spark)
    // null codebook: both formulations null out
    val nullCb = spark.range(1).select(
      expr("array(1.0d)").as("v"),
      expr("cast(null as array<struct<cell: bigint, cv: array<double>>>)").as("cents"))
    val r = nullCb.select(bothCols: _*).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    // null vector: the HOF chain degraded to the (∞, -1) sentinel (every
    // per-cell dist nulls, the outer fold keeps its init); the native
    // kernel returns null instead — a corrupt (null) vector surfaces as
    // null rather than silently flowing cell -1 downstream. Every
    // assign-stage input casts a non-null parquet embedding, so the two
    // differ only on input no query can produce; pinned here so the
    // divergence is a documented contract, not an accident.
    val nullV = spark.range(1).select(
      expr("cast(null as array<double>)").as("v"),
      expr("array(named_struct('cell', 0L, 'cv', array(0.0d)))").as("cents"))
    val r2 = nullV.select(bothCols: _*).head()
    assert(r2.isNullAt(0), "native: null v -> null")
    assert(!r2.isNullAt(1) && r2.getStruct(1).getLong(1) === -1L, "HOF kept the sentinel")
  }
}
