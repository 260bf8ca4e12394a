package graft.ops

import graft.functions.GraftExpressions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-only reference implementations: the naive or pre-kernel
  * formulations the specs compare the production paths against. None
  * of them is registered as a query.
  */
object CrossCheck {

  /** Prefix-filtered pair pipeline (uncached), for the losslessness
    * cross-check in OpsSpec and the plan pin in PlanSpec.
    */
  def jaccardPairsPrefix(spark: SparkSession, dir: String, t: Double): DataFrame = {
    val docs = Dedup.shingledDocs(spark, dir)
    Dedup.jaccardVerify(docs, Dedup.prefixCandidates(docs, t), t)
  }

  /** The naive full inverted-index pair join (all shingles indexed) —
    * the cross-check reference for `Dedup.prefixCandidates`.
    */
  def jaccardPairsNaive(spark: SparkSession, dir: String, t: Double): DataFrame = {
    val docs = Dedup.shingledDocs(spark, dir)
    Dedup.jaccardVerify(docs, naiveCandidates(docs), t)
  }

  /** Naive full-inverted-index containment pairs — the cross-check
    * reference proving d8's asymmetric prefix filter lossless (OpsSpec).
    */
  def containmentPairsNaive(spark: SparkSession, dir: String, t: Double): DataFrame = {
    val docs = Dedup.shingledDocs(spark, dir)
    val withA = broadcast(naiveCandidates(docs))
      .join(docs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("sa.s").as("s_a"))
    val nCommon = GraftExpressions.intersectCount(col("s_a"), col("sb.s"))
    val oc = nCommon.cast("double") /
      least(size(col("s_a")), size(col("sb.s")))
    withA.join(docs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(oc >= t)
      .select(col("doc_a"), col("doc_b"), round(oc, 6).as("overlap_coef"))
  }

  /** Every (doc_a < doc_b) pair sharing at least one shingle. */
  private def naiveCandidates(docs: DataFrame): DataFrame = {
    val ex = docs.select(col("doc_id"), explode(col("s")).as("s"))
    ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The pre-round-14 higher-order formulation of
    * `Similarity.assignStructExpr` — the reference semantics the
    * ArgMinCellSpec equality pin compares the native kernel against
    * (zip_with null-padding, strict-min keep-first, (∞, -1) init).
    */
  def assignStructExprHof(v: Column, cents: Column): Column = {
    val dists = transform(cents, c => struct(
      aggregate(zip_with(v, c.getField("cv"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, z) => acc + z).as("dist"),
      c.getField("cell").as("cell")))
    aggregate(dists,
      struct(lit(Double.PositiveInfinity).as("dist"), lit(-1L).as("cell")),
      (acc, d) => when(d.getField("dist") < acc.getField("dist"), d)
        .otherwise(acc))
  }
}
