package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftExpressions

/** Functions-layer timings: each kernel of `graft.functions`, called
  * through its public `GraftExpressions` column function over one fixed,
  * cached frame built from the seeded `documents` table. A kernel run is
  * one job that folds every result row into an order-independent
  * checksum; the checksum must repeat exactly across repetitions.
  */
object KernelProbe {
  final case class Kernel(name: String, seconds: Seq[Double], checksums: Seq[Long])

  /** Rows the frame reaches with distinct copies of the documents table,
    * so the probe's size does not depend on the workload's input scale.
    */
  val TargetRows = 32000L

  def kernels: Seq[(String, Column)] = {
    import GraftExpressions._
    Seq(
      "shingles" -> shingles(col("text"), 3),
      "minhash" -> minhash(col("sh"), 32),
      "simhash" -> simhash(col("toks"), 60),
      "intersect_count" -> intersectCount(col("sh"), col("sh_prev")),
      "bytehist" -> byteHist(col("bin")),
      "bytehist_arr" -> byteHistArr(col("bin")),
      "pairs" -> packedPairs(col("ids")))
  }

  def run(spark: SparkSession, dataDir: String, reps: Int): (Long, Seq[Kernel]) = {
    GraftExpressions.register(spark)
    // copy k suffixes every token with "_k", so copies never share text
    val base = spark.read.parquet(s"$dataDir/documents.parquet").select(col("doc_id"), col("text"))
    val n = math.max(1L, base.count())
    val copies = (TargetRows + n - 1) / n
    val docs = base
      .crossJoin(spark.range(copies).toDF("copy"))
      .withColumn("text", when(col("copy") === 0, col("text")).otherwise(
        regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1_"), col("copy").cast("string")))))
      .withColumn("toks", split(col("text"), " "))
    val frame = docs
      .withColumn("sh", GraftExpressions.shingles(col("text"), 3))
      .withColumn("sh_prev", coalesce(
        lag(col("sh"), 1).over(Window.partitionBy("copy").orderBy("doc_id")),
        array().cast("array<string>")))
      .withColumn("bin", encode(col("text"), "UTF-8"))
      .withColumn("ids", sequence(lit(0L),
        greatest(least(size(col("toks")), lit(48)), lit(2)).cast("long") - 1L))
      .persist(StorageLevel.MEMORY_ONLY)
    val rows = frame.count()
    val out = kernels.map { case (name, k) =>
      val runs = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        val sum = frame.select(bit_xor(xxhash64(k, col("copy"), col("doc_id"))))
          .head().getLong(0)
        ((System.nanoTime() - t0) / 1e9, sum)
      }
      Kernel(name, runs.map(_._1), runs.map(_._2))
    }
    frame.unpersist(true)
    (rows, out)
  }
}
