package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.engine.GraftSession

/** Command-line options the orchestrator (run.py) passes to the JVM. */
final case class Opts(
    workload: String,
    data: Path, // generated fixtures (olap16, serve_dash)
    work: Path, // per-run scratch directory
    out: Path, // raw result JSON
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    requests: Option[Path]) { // serve_dash request script

  def deadlineFrom(startMs: Double): Double = startMs + seconds * 1000
}

/** Entry point: one workload per JVM. Prints nothing on stdout; the raw
  * measurements go to `--out` as JSON for run.py to check and summarize.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(
      workload = kv("workload"),
      data = Paths.get(kv.getOrElse("data", ".")),
      work = Paths.get(kv("work")),
      out = Paths.get(kv("out")),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble,
      trace = kv.get("trace").contains("1"),
      cores = kv("cores").toInt,
      requests = kv.get("requests").map(Paths.get(_)))
    val result = o.workload match {
      case "olap16"       => Olap16.run(o)
      case "serve_dash"   => ServeDash.run(o)
      case "ingest_fresh" => IngestFresh.run(o, kv("commits").toInt, kv("cold-cycles").toInt)
      case w              => throw new IllegalArgumentException(s"unknown workload $w")
    }
    write(o.out, result)
  }

  /** A fresh local session at the benchmark's core count. */
  def session(o: Opts): GraftSession =
    GraftSession.local(cores = o.cores, appName = s"perfbench-${o.workload}")

  /** Seconds from JVM start (not from process launch by a build tool). */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Attach the recorder's listeners when the run is traced. */
  def attach(o: Opts, gs: GraftSession, rec: Recorder): Unit =
    if (o.trace) {
      gs.spark.sparkContext.addSparkListener(rec.sparkListener)
      gs.spark.listenerManager.register(rec.queryListener)
    }

  /** Wait for queued listener events, so every job and query of the run
    * is in the recorder before it is written out.
    */
  def drain(gs: GraftSession): Unit =
    org.apache.spark.GraftSparkInternals.waitListenerBusEmpty(gs.spark.sparkContext, 30000)

  def peakRssMb: Double =
    statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).getOrElse(s"$key: 0 kB")
    line.split("\\s+")(1).toDouble
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** The CPU canary graft.Bench reports: a fixed integer loop, single
    * thread and on every core, in million iterations per second.
    */
  def canary(): Map[String, Double] = {
    def burn(iters: Long): Long = {
      var x = 0L; var i = 0L
      while (i < iters) { x += (i * i) & 1023L; i += 1 }
      x
    }
    burn(20000000L)
    val t0 = System.nanoTime()
    burn(200000000L)
    val single = 200000000.0 / (System.nanoTime() - t0) * 1000.0
    val threads = Runtime.getRuntime.availableProcessors()
    val t1 = System.nanoTime()
    val pool = (1 to threads).map(_ => new Thread(() => { burn(100000000L): Unit }))
    pool.foreach(_.start()); pool.foreach(_.join())
    val perCore = 100000000.0 / (System.nanoTime() - t1) * 1000.0
    Map("canary_single_mips" -> single, "canary_percore_mips" -> perCore)
  }

  /** Run facts that are not metrics, recorded beside every result. */
  def context(o: Opts): Map[String, Any] = Map(
    "spark_cores" -> o.cores,
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jvm" -> System.getProperty("java.version")) ++ canary()

  private val mapper = new ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_]    => a.toSeq.map(toJava).asJava
    case o: Option[_]   => o.map(toJava).orNull
    case x              => x
  }

  def write(path: Path, v: Map[String, Any]): Unit =
    mapper.writeValue(path.toFile, toJava(v))
}
