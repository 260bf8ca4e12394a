package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * verify_manifest.json, one record per dumped query (status, seconds,
  * written rows, and the error class and message of a failure). */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing args: restrict the dump to named queries (dev
    // iteration; the driver always passes exactly two args = full dump)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Bench's recipe: the dump plans and runs every query the way the
    // bench times it
    val spark = Bench.buildSession(sfDir, cpus)
    new java.io.File(outDir).mkdirs()
    // coalesce(1) keeps gate-scale dumps single-file for the driver's
    // reader; soak dumps (sf100: multi-hundred-million-row results) set
    // SPARK_GRAFT_NO_COALESCE=1 to write in parallel — compare_cached
    // globs <dir>/*.parquet either way
    val noCoalesce = sys.env.get("SPARK_GRAFT_NO_COALESCE").contains("1")
    val manifest = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      val outcome = try {
        val df = fn(spark, sfDir)
        (if (noCoalesce) df else df.coalesce(1)).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // rows as written: read back, so the count is the dump's own
        Right(spark.read.parquet(s"$outDir/$name").count())
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Left(e)
      }
      s"${q(name)}: ${manifestRecord((System.nanoTime() - t0) / 1e9, outcome)}"
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_manifest.json"),
      manifest.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }

  /** One query's manifest record: written rows, or the failure. */
  private[graft] def manifestRecord(seconds: Double, outcome: Either[Throwable, Long]): String = {
    val sec = f""""seconds":$seconds%.3f"""
    outcome match {
      case Right(rows) => s"""{"status":"ok",$sec,"rows":$rows}"""
      // the message is capped: analysis errors can embed whole plans
      case Left(e) => s"""{"status":"failed",$sec,"rows":null,""" +
        s""""error_class":${q(e.getClass.getName)},""" +
        s""""error_message":${q(String.valueOf(e.getMessage).take(2000))}}"""
    }
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
