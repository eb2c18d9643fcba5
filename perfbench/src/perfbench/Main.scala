package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.PlanBridge

/** One timed operation; `error` is the exception or wrong answer, if any. */
final case class OpRecord(id: Int, pass: Int, name: String, kind: String, phase: String,
    traced: Boolean, t0: Long, t1: Long, error: Option[String])

/** The benchmark's JVM: one process, one client thread, closed loop.
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <answers.json> <workDir> <out.json>
  * }}}
  *
  * Sets up three times (median reported; the second and third set-ups build
  * a new SparkSession on the running Spark context), runs one cold pass, then whole
  * warm passes until `seconds` have passed. With tracing, warm passes
  * alternate untraced and traced, so the run also measures tracing
  * overhead. Writes the raw record (operations, spans, Spark events,
  * per-pass facts) to `out.json`; `benchlib` turns it into metrics.
  */
object Main {
  private val setupReps = 3
  private val spaceAmpPass = 3

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime
    val Array(workload, seedS, secondsS, traceS, dataDir, answersPath, workDir, outPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val loadStart = loadavg()
    val ctx = new Ctx(seed, cores, dataDir, workDir, readAnswers(answersPath))
    val wl = Workload(workload, ctx)

    var spark: SparkSession = null
    val setupS = ArrayBuffer.empty[Double]
    val loadMs = ArrayBuffer.empty[Double]
    for (rep <- 0 until setupReps) {
      val t0 = if (rep == 0) entry else System.nanoTime
      spark =
        if (spark == null) session(cores, workDir)
        else { spark.catalog.clearCache(); spark.newSession() }
      loadMs += wl.setup(spark, rep)
      setupS += (System.nanoTime - t0) / 1e9
    }
    val sc = spark.sparkContext
    val tracer = new Tracer(false, sc)
    val events = new Events
    // load the tracer's own classes before anything is timed, so their first
    // use does not land, unaccounted, in the first traced operation
    if (trace) {
      tracer.enabled = true
      tracer.operation(-1)(tracer.span("warmup")(()))
      tracer.spans.clear()
      tracer.enabled = false
    }

    val ops = ArrayBuffer.empty[OpRecord]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var footprint: (Long, Long) = null
    def runPass(index: Int, phase: String, traced: Boolean): Unit = {
      if (traced) sc.addSparkListener(events)
      tracer.enabled = traced
      val t0 = System.nanoTime
      for (op <- wl.pass(index)) {
        val id = ops.length
        val a = System.nanoTime
        val outcome =
          try Right(tracer.operation(id)(op.run(tracer)))
          catch { case e: Throwable => Left(e) }
        val b = System.nanoTime
        val error = outcome match {
          case Right(check) => try check() catch { case e: Throwable => Some(e.toString) }
          case Left(e) => Some(e.toString)
        }
        error.foreach(m => System.err.println(s"[perfbench] ${op.name} failed: ${m.take(500)}"))
        ops += OpRecord(id, index, op.name, op.kind, phase, traced, a, b, error)
      }
      if (traced) {
        PlanBridge.waitForListenerBus(spark)
        sc.removeSparkListener(events)
      }
      tracer.enabled = false
      passes += Map("index" -> index, "phase" -> phase, "traced" -> traced,
        "t0" -> t0, "t1" -> System.nanoTime) ++ wl.afterPass(index)
      if (index == spaceAmpPass) footprint = wl.footprint
    }

    runPass(0, "cold", traced = false)
    val warmStart = System.nanoTime
    var index = 1
    var untraced = 0
    var traced = 0
    def enough = (System.nanoTime - warmStart) / 1e9 >= seconds &&
      untraced + traced >= wl.minWarmPasses && (!trace || (traced >= 1 && traced == untraced))
    while (!enough) {
      val t = trace && untraced > traced
      runPass(index, "warm", t)
      if (t) traced += 1 else untraced += 1
      index += 1
    }
    if (footprint == null) footprint = wl.footprint

    val record = Map(
      "context" -> Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "spark_cores" -> cores, "shuffle_partitions" -> 8,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "scala_version" -> scala.util.Properties.versionNumberString,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg()),
      "clock" -> Map("nano" -> System.nanoTime, "epoch_ms" -> System.currentTimeMillis),
      "setup_s" -> setupS.toSeq, "load_ms" -> loadMs.toSeq,
      "ops" -> ops.toSeq, "passes" -> passes.toSeq,
      "footprint" -> Map("disk_bytes" -> footprint._1, "live_bytes" -> footprint._2),
      "rss_peak_kb" -> vmHwmKb(),
      "spans" -> tracer.spans.toSeq,
      "jobs" -> events.jobs.asScala.toSeq,
      "tasks" -> events.tasks.asScala.toSeq)
    writeJson(outPath, record)
    spark.stop()
  }

  private[perfbench] def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // case-class fields are written in snake_case (compileNs -> compile_ns)
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  private[perfbench] def writeJson(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)

  private def readAnswers(path: String): Map[String, Seq[Expected]] = {
    val root = mapper.readTree(new java.io.File(path))
    root.fieldNames.asScala.map { wl =>
      wl -> root.get(wl).fields.asScala.map { e =>
        val v = e.getValue
        Expected(e.getKey, Option(v.get("sql")).filterNot(_.isNull).map(_.asText).orNull,
          v.get("rows").asLong, v.get("digest").asText)
      }.toSeq.sortBy(_.name)
    }.toMap
  }

  private def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Nil }

  private def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }
}
