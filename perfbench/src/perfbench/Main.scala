package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side: one closed-loop client running one
  * workload's queries, one at a time, for `--passes` passes. A fixed
  * pass count keeps every run's JIT warm-up the same, so runs compare.
  * Each pass gets a fresh copy of the seeded input directory (the
  * program memoizes lakehouse artifacts per input path) and, like
  * `graft.Bench`, a fresh session per query family, built by Bench's own
  * recipe. [[SetupReps]] more sessions are built and stopped after the
  * last pass, so the set-up time has enough samples on every workload.
  *
  * Per query it times the public calls in order: `run` (the registry
  * function: eager work such as stream execution and artifact builds),
  * `plan` (forcing `queryExecution.executedPlan`) and `exec` (`collect`,
  * the complete result). Pass 0's results are written for the oracle
  * check outside the timed region; later passes must return the same
  * row count.
  *
  * With `--trace 1`, odd passes run with the [[Tracer]] listeners and
  * even passes without, so the trace overhead is measured in the same
  * run; the kernel probe runs after the last pass. A traced session's
  * set-up splits at its first warm-up job: before it is session start,
  * after it Bench's warm-up.
  *
  * Usage: perfbench.Main --data <seeded dir> --work <dir> --out <dir>
  *   --queries q1,q2,... --passes N --trace 0|1 --cpus N
  */
object Main {

  final case class Exec(pass: Int, query: String, traced: Boolean, startMs: Long,
      endMs: Long, runS: Double, planS: Double, execS: Double, rows: Long,
      error: Option[String], poolMb: Double, pins: Int, shape: Option[PlanStats.Shape]) {
    def ok: Boolean = error.isEmpty
    def wallS: Double = runS + planS + execS
  }

  /** One session set-up: wall seconds of the whole build (Bench's
    * warm-up included) and, for traced sessions, its split at the first
    * warm-up job.
    */
  final case class Setup(pass: Int, family: String, setupS: Double,
      startS: Option[Double], warmupS: Option[Double])

  /** Sessions built and stopped after the last pass, for `setup_s`. */
  val SetupReps = 5

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try run(opt)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  /** Query families as Bench chunks them: the name prefix before the first digit. */
  def families(queries: Seq[String]): Seq[Seq[String]] =
    queries.foldLeft(Vector.empty[Vector[String]]) { (acc, q) =>
      val f = q.takeWhile(!_.isDigit)
      if (acc.nonEmpty && acc.last.head.takeWhile(!_.isDigit) == f) acc.init :+ (acc.last :+ q)
      else acc :+ Vector(q)
    }

  private def run(opt: Map[String, String]): Int = {
    val data = opt("data")
    val work = Paths.get(opt("work"))
    val out = Paths.get(opt("out"))
    val queries = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val passes = opt("passes").toInt
    val trace = opt.get("trace").contains("1")
    val cpus = opt("cpus").toInt
    val registry = graft.SparkEntry.queries
    val missing = queries.filterNot(registry.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] not in the registry: ${missing.mkString(", ")}")
      return 3
    }
    Files.createDirectories(out)
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle.json"),
      Json.value(queries.map(q => q -> oracle.get(q)).toMap))

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessions = ListBuffer.empty[Setup]
    val execs = ListBuffer.empty[Exec]
    val layers = scala.collection.mutable.Map.empty[(Int, String), Layer.Counts]
    val spans = ListBuffer.empty[String]
    val firstRows = scala.collection.mutable.Map.empty[String, Long]
    var coldS = 0.0
    var pass = 0
    val t0 = System.nanoTime()
    while (pass < passes) {
      val traced = trace && pass % 2 == 1
      val passDir = stageInputs(Paths.get(data), work.resolve(s"p$pass"))
      val passStart = System.currentTimeMillis()
      for (chunk <- families(queries)) {
        if (traced) Tracer.clear()
        val (spark, built) = newSession(passDir.toString, cpus, traced)
        if (sessions.isEmpty) coldS = (built.endMs - jvmStartMs) / 1e3
        val done = chunk.map { q =>
          val e = timeQuery(spark, registry(q), pass, q, passDir.toString, traced,
            firstRows.get(q), if (pass == 0) Some(out.resolve("results").resolve(q)) else None)
          if (pass == 0 && e.ok) firstRows(q) = e.rows
          e
        }
        spark.stop()
        sessions += built.setup(pass, chunk.head.takeWhile(!_.isDigit), traced)
        if (traced) Layer.attribute(done).foreach { case (q, c) => layers((pass, q)) = c }
        execs ++= done
        done.foreach(e => spans ++= Layer.spans(e))
      }
      spans += Json.obj("id" -> s"p$pass", "parent" -> "run", "name" -> "pass",
        "start_ms" -> passStart, "end_ms" -> System.currentTimeMillis(), "traced" -> traced)
      deleteTree(passDir)
      pass += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val peakRssMb = vmHwmMb()
    (0 until SetupReps).foreach { _ =>
      val (spark, built) = newSession(data, cpus, traced = false)
      spark.stop()
      sessions += built.setup(pass, "setup", traced = false)
    }
    if (trace) {
      val (spark, _) = newSession(data, cpus, traced = false)
      try writeProbe(out.resolve("probe.json"), KernelProbe.run(spark, data, reps = 3))
      finally spark.stop()
    }

    write(out.resolve("records.jsonl"), execs.map { e =>
      Json.obj("pass" -> e.pass, "query" -> e.query, "traced" -> e.traced,
        "ok" -> e.ok, "error" -> e.error, "run_s" -> e.runS, "plan_s" -> e.planS,
        "exec_s" -> e.execS, "wall_s" -> e.wallS, "rows" -> e.rows,
        "pool_mb" -> e.poolMb, "pins" -> e.pins,
        "layer" -> layers.get((e.pass, e.query)).map(_.toMap(e.shape)))
    })
    write(out.resolve("sessions.jsonl"), sessions.map { s =>
      Json.obj("pass" -> s.pass, "family" -> s.family, "setup_s" -> s.setupS,
        "start_s" -> s.startS, "warmup_s" -> s.warmupS)
    })
    spans += Json.obj("id" -> "run", "parent" -> null, "name" -> "workload",
      "start_ms" -> jvmStartMs, "end_ms" -> System.currentTimeMillis(), "passes" -> pass)
    write(out.resolve("spans.jsonl"), spans)
    Files.writeString(out.resolve("meta.json"), Json.obj(
      "cpus" -> cpus, "passes" -> pass, "cold_s" -> coldS, "peak_rss_mb" -> peakRssMb,
      "measured_s" -> measuredS))
    0
  }

  /** `graft.Bench`'s private `buildSession`, reached by reflection, so
    * the benchmark runs Bench's session recipe and warm-up unchanged.
    */
  private lazy val benchBuild: java.lang.reflect.Method = {
    val m = graft.Bench.getClass.getDeclaredMethods
      .find(_.getName.endsWith("buildSession"))
      .getOrElse(sys.error("graft.Bench has no buildSession method"))
    m.setAccessible(true)
    m
  }

  /** Epoch-ms bounds and wall seconds of one `newSession` call. */
  final case class Built(startMs: Long, endMs: Long, seconds: Double) {
    /** The set-up record; call it after `stop()`, which drains the
      * listener bus, so a traced session's warm-up jobs are in [[Tracer]].
      */
    def setup(pass: Int, family: String, traced: Boolean): Setup = {
      val firstJobMs =
        if (!traced) None
        else Tracer.jobs.asScala.filter(j => j.query == null && j.atMs >= startMs &&
          j.atMs <= endMs).map(_.atMs).minOption
      Setup(pass, family, seconds, firstJobMs.map(j => (j - startMs) / 1e3),
        firstJobMs.map(j => (endMs - j) / 1e3))
    }
  }

  /** A fresh, warmed-up session built by Bench's recipe. When `traced`,
    * the [[Tracer]] listeners go in as `spark.*` system properties, which
    * `SparkConf` loads, set only around this build.
    */
  private def newSession(dataDir: String, cpus: Int, traced: Boolean): (SparkSession, Built) = {
    val listeners = if (traced) Tracer.conf else Nil
    listeners.foreach { case (k, v) => System.setProperty(k, v) }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark =
      try benchBuild.invoke(graft.Bench, dataDir, cpus.toString).asInstanceOf[SparkSession]
      catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
      finally listeners.foreach { case (k, _) => System.clearProperty(k) }
    val seconds = (System.nanoTime() - t0) / 1e9
    (spark, Built(startMs, System.currentTimeMillis(), seconds))
  }

  /** Run one query through its three timed phases. */
  private def timeQuery(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      pass: Int, q: String, dir: String, traced: Boolean, expectRows: Option[Long],
      resultDir: Option[Path]): Exec = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SpanKey, q)
    val startMs = System.currentTimeMillis()
    // marks(i) ends phase i (1 run, 2 plan, 3 exec); marks(0) is the start
    val marks = new Array[Long](4)
    marks(0) = System.nanoTime()
    var reached = 0
    var df: DataFrame = null
    var rows: Array[Row] = null
    var error: Option[String] = None
    try {
      df = fn(spark, dir)
      marks(1) = System.nanoTime(); reached = 1
      df.queryExecution.executedPlan
      marks(2) = System.nanoTime(); reached = 2
      rows = df.collect()
      marks(3) = System.nanoTime(); reached = 3
    } catch {
      case e: Throwable =>
        // the failing phase runs to the throw; phases after it take no time
        val failedAt = System.nanoTime()
        (reached + 1 to 3).foreach(i => marks(i) = failedAt)
        error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val endMs = System.currentTimeMillis()
    sc.setLocalProperty(Tracer.SpanKey, null)
    val n = if (rows == null) 0L else rows.length.toLong
    if (error.isEmpty) expectRows.filter(_ != n).foreach { want =>
      error = Some(s"row count $n differs from pass 0's $want")
    }
    val shape = if (traced && error.isEmpty) Some(PlanStats.of(df.queryExecution.executedPlan)) else None
    val poolMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val pins = sc.getPersistentRDDs.size
    if (error.isEmpty) resultDir.foreach { d =>
      try spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(d.toString)
      catch { case e: Throwable => error = Some(s"result write failed: ${e.getMessage}") }
    }
    def s(i: Int): Double = (marks(i) - marks(i - 1)) / 1e9
    Exec(pass, q, traced, startMs, endMs, s(1), s(2), s(3), n, error, poolMb, pins, shape)
  }

  /** Copy the seeded tables into a pass-private directory. */
  private def stageInputs(src: Path, dst: Path): Path = {
    Files.createDirectories(dst)
    val files = Files.list(src)
    try files.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
    finally files.close()
    dst
  }

  private def writeProbe(p: Path, probe: (Long, Seq[KernelProbe.Kernel])): Unit =
    Files.writeString(p, Json.obj("rows" -> probe._1, "kernels" -> probe._2.map { k =>
      Map("name" -> k.name, "seconds" -> k.seconds, "checksums" -> k.checksums)
    }))

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  private def write(p: Path, lines: Iterable[String]): Unit =
    Files.writeString(p, lines.map(_ + "\n").mkString)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.deleteIfExists)
}
