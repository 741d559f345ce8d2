package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftExtensions

/** What every workload gets: the session, the run's parameters, and the
  * recorders for operations, checks and (in a traced run) spans. */
final class Ctx(val args: Map[String, String], var spark: SparkSession) {
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val work: String = args("work")
  val cpus: Int = args("cpus").toInt
  val spans = new Spans(s"${args("workload")}-${args("seed")}")
  var recorder: Option[Recorder] = None
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  /** Runs one operation of the workload, timed; a throw marks it failed
    * and is recorded, never rethrown. `check` validates the result outside
    * the timed region and names the failure, if any. */
  def op[T](kind: String, key: String, fields: Map[String, Any] = Map.empty)
           (body: => T)(check: T => Option[String]): Option[T] = {
    val c0 = Main.cpuNs()
    val t0 = Clock.now()
    val r = Try(if (traced) spans(s"$kind:$key")(body) else body)
    val t1 = Clock.now()
    val c1 = Main.cpuNs()
    val error = r.fold(e => Some(Main.describe(e)), v => Try(check(v)).fold(e => Some(Main.describe(e)), identity))
    ops += fields ++ Map("kind" -> kind, "key" -> key, "start_ns" -> t0, "end_ns" -> t1, "cpu_ns" -> (c1 - c0),
      "ok" -> error.isEmpty, "error" -> error)
    if (error.nonEmpty) System.err.println(s"[perfbench] FAILED $kind $key: ${error.get}")
    r.toOption.filter(_ => error.isEmpty)
  }

  def check(name: String)(body: => Option[String]): Unit = {
    val error = Try(body).fold(e => Some(Main.describe(e)), identity)
    checks += Map("name" -> name, "ok" -> error.isEmpty, "error" -> error)
    if (error.nonEmpty) System.err.println(s"[perfbench] CHECK FAILED $name: ${error.get}")
  }

  def startRecorder(): Recorder = {
    val r = Recorder.register(spark)
    recorder = Some(r)
    r
  }
}

/**
 * JVM side of the benchmark. Sets up one workload's inputs through the
 * program, runs its operations, and writes every raw sample to a JSON file;
 * `run.py` turns the samples into metrics.
 *
 *   perfbench.Main workload=<flagship|surface> seed=N seconds=S
 *     trace=0|1 work=<dir> cpus=N out=<file> [docs=N] [queries=a,b,...]
 */
object Main {
  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** The session graft.Bench builds, on `local[cpus]`, with Spark's scratch
    * space and warehouse inside the benchmark's work directory. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** CPU time this JVM has used, all threads, in ns. Time the host steals
    * from the machine's CPUs is not in it. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def peakRssKb(): Long = scala.io.Source.fromFile("/proc/self/status").getLines()
    .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
    .getOrElse(0L)

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cpus = args("cpus").toInt
    val spark = session(cpus, args("work"))
    val appId = spark.sparkContext.applicationId
    val c = new Ctx(args, spark)
    val setup: Seq[Double] = args("workload") match {
      case "flagship" => Flagship.run(c)
      case "surface" => Surface.run(c)
      case w => sys.error(s"unknown workload $w")
    }
    val trace: Map[String, Any] = c.recorder.map(r => r.snapshot(c.spark)
      + ("spans" -> c.spans.toJson)).getOrElse(Map.empty)
    val out = Map(
      "workload" -> args("workload"), "seed" -> c.seed,
      "meta" -> Map("spark_version" -> c.spark.version, "cpus" -> cpus,
        "heap_bytes" -> Runtime.getRuntime.maxMemory,
        "java_version" -> System.getProperty("java.version")),
      "setup_s" -> setup, "ops" -> c.ops, "checks" -> c.checks,
      "extra" -> c.extra, "trace" -> trace, "peak_rss_kb" -> peakRssKb())
    Files.writeString(Paths.get(args("out")), Json.render(out))
    c.spark.stop()
    // the program keeps some stored artifacts under /tmp/graft_<tag>_<appId>;
    // remove this application's ones
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_") && f.getName.endsWith(appId))
      .foreach(f => delete(f.getPath))
  }
}
