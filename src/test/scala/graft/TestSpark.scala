package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites run in a
  * single forked JVM; building a session per suite costs ~5s each).
  */
object TestSpark {
  val sf0001 = "/root/testdata/sf0.001"

  /** Bench's session recipe at 4 cores, so 4 shuffle partitions (the
    * PlanSpec pins assume them) unless SPARK_GRAFT_SHUFFLE_PARTITIONS
    * overrides the count.
    */
  lazy val spark: SparkSession = Bench.buildSession(sf0001, "4")

  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath

  /** Recursive delete for spec temp dirs; closes the walk stream. */
  def deleteRecursively(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
