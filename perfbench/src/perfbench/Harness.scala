package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Entry point: `Harness <workload> <inputDir> <workDir> <seconds> <trace> <out.json> [train]`.
  *
  * Runs one workload against the engine on `local[4]` and writes the raw
  * measurements (set-up times, pass times, per-call latencies, correctness
  * checks, and in a traced run every span with its Spark counters) as one
  * JSON object. `run.py` turns them into the reported metrics. With
  * `train` it only runs the set-ups, to record a class-data archive.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, seconds, trace, out) = args.take(6)
    val run = new Run(workload, inputDir, workDir, seconds.toDouble, trace == "1",
      trainOnly = args.length > 6 && args(6) == "train")
    try {
      workload match {
        case "trend" => TrendBatch.run(run); if (!run.trainOnly) TrendStream.run(run)
        case "corpus_store" => CorpusStore.run(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run.write(out)
    } finally run.stop()
    // streaming and broadcast threads must not keep the JVM alive
    System.exit(0)
  }
}

/** Measurements of one run, plus the session it drives. */
final class Run(val workload: String, val inputDir: String, val workDir: String,
                val seconds: Double, val traced: Boolean, val trainOnly: Boolean) {
  val tracer = new Tracer(traced)
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** Seconds per timed pass: a batch job, or a store build. */
  val passes = mutable.ArrayBuffer.empty[Double]
  /** (kind, ms, ok) per client call in the measured window. */
  val ops = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Extra raw JSON values (already rendered). */
  val extra = mutable.LinkedHashMap.empty[String, String]
  var spark: SparkSession = _

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def path(name: String): String = new File(workDir, name).getAbsolutePath
  def input(name: String): String = new File(inputDir, name).getAbsolutePath

  /** A fresh session: the previous one (if any) is stopped first. */
  def newSession(): SparkSession = {
    stop()
    val tmp = path("spark-tmp")
    new File(tmp).mkdirs()
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    spark
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Time `body` as set-up number `i`; the first also counts JVM start. */
  def setup(i: Int)(body: => Unit): Unit = {
    val t0 = if (i == 0) System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
             else System.nanoTime()
    body
    setupS += (System.nanoTime() - t0) / 1e9
    log(f"set-up ${i + 1} took ${setupS.last}%.2fs")
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  /** A client call inside a span: timed when `record`, and counted
    * failed when it throws.
    */
  def call[T](kind: String, span: String, record: Boolean)(body: Span => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Some(tracer.span(span)(body)) catch {
      case e: Exception =>
        errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
    if (record) ops += ((kind, (System.nanoTime() - t0) / 1e6, r.isDefined))
    r
  }

  def readJson(name: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(input(name)))

  def deleteTree(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) {
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder()).forEach(x => x.toFile.delete())
    }
  }

  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def write(out: String): Unit = {
    val spans = tracer.finish()
    val fields = mutable.LinkedHashMap[String, String](
      "workload" -> Json.str(workload),
      "traced" -> traced.toString,
      "setup_s" -> Json.arr(setupS),
      "passes" -> Json.arr(passes),
      "ops" -> ops.map { case (k, ms, ok) =>
        s"""{"kind":${Json.str(k)},"ms":${Json.num(ms)},"ok":$ok}""" }.mkString("[", ",", "]"),
      "checks" -> checks.map { case (n, ok, d) =>
        s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString("[", ",", "]"),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "spans" -> spans.mkString("[", ",\n", "]"))
    fields ++= extra
    Files.write(Paths.get(out), Json.obj(fields).getBytes(StandardCharsets.UTF_8))
  }
}
