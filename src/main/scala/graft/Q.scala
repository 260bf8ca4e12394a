package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the DuckDB oracle the driver uses
  * for the correctness gate. Column names/types must line up exactly —
  * the driver sorts columns by name before hashing values.
  */
final case class Q(
    name: String,
    doc: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def sql(name: String, doc: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, doc, run, Some(oracle))
}
