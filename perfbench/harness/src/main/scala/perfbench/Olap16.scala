package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.engine.PersistScope
import graft.queries.{Q, Registry}

/** olap16: the `bench = true` queries, one closed-loop client, a fresh
  * session. One cold pass, then warm passes until the window closes. Warm
  * passes force every query through the noop sink graft.Bench times. The
  * cold pass writes each result as parquet instead, for the DuckDB oracle
  * check: a separate checking pass would cost a warm pass per run.
  *
  * A traced run makes exactly four warm passes, untraced, traced, traced,
  * untraced, so warm-up drift cancels out of the tracing overhead (the
  * difference of the traced and untraced medians).
  */
object Olap16 {

  def run(o: Opts): Map[String, Any] = {
    val gs = Harness.session(o)
    val setup = Harness.sinceJvmStart
    val spark = gs.spark
    val rec = new Recorder
    Harness.attach(o, gs, rec)
    val dir = o.data.toString
    val qs = Registry.all.filter(_.bench)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val gc0 = Harness.gcMs

    val results = o.work.resolve("results")

    def query(q: Q, phase: String, pass: Int): Unit = {
      val op = rec.newId()
      val t0 = Clock.nowMs
      var built = t0
      var error: String = null
      try {
        val df = rec.span("queries.build", "queries", op, op)(q.fn(spark, dir))
        built = Clock.nowMs
        if (phase == "cold") df.write.parquet(results.resolve(q.name).toString)
        else df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      } finally PersistScope.releaseAll()
      val t1 = Clock.nowMs
      rec.add(s"op.${q.name}", "op", t0, t1, -1, op, id = op)
      ops += Map("op" -> op, "name" -> q.name, "phase" -> phase, "pass" -> pass,
        "traced" -> rec.on, "start" -> t0, "built" -> built, "end" -> t1,
        "error" -> error)
    }

    def pass(phase: String, n: Int): Unit = {
      val t0 = Clock.nowMs
      qs.foreach(query(_, phase, n))
      passes += Map("pass" -> n, "phase" -> phase, "traced" -> rec.on,
        "start" -> t0, "end" -> Clock.nowMs)
    }

    rec.on = o.trace
    pass("cold", 0)
    val deadline = o.deadlineFrom(Clock.nowMs)
    var n = 1
    while (if (o.trace) n <= 4 else n == 1 || Clock.nowMs < deadline) {
      rec.on = o.trace && (n == 2 || n == 3)
      pass("warm", n)
      n += 1
    }
    rec.on = false
    val gc = Harness.gcMs - gc0

    val checks = qs.map(q => q.name -> Map(
      "path" -> results.resolve(q.name).toString, "oracle" -> q.oracleNow)).toMap
    Harness.drain(gs)
    val out = Map(
      "setup_s" -> setup, "ops" -> ops, "passes" -> passes, "checks" -> checks,
      "driver_gc_ms" -> gc,
      "trace" -> rec.toJson, "peak_rss_mb" -> Harness.peakRssMb,
      "context" -> Harness.context(o))
    spark.stop()
    out
  }
}
