package perfbench

import java.io.{BufferedInputStream, FilterInputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader

import graft.engine.ServingServer

/** serve_dash: a ServingServer on loopback over the fixture tables, and two
  * closed-loop dashboard clients, each sending its next DO_GET only after
  * the previous reply is fully decoded. The request scripts come from
  * run.py (seeded); a cold pass sends one request per template before the
  * clients start. The clients run untimed for WarmupMs before the timed
  * window: in the first seconds each request is faster than the last, as
  * the JIT catches up, and timing that drift would mostly time the host.
  *
  * Each distinct request's first reply is kept for the DuckDB check in
  * run.py; every repeat must reproduce the first reply's row multiset.
  * A traced run alternates untraced and traced quarters of the window.
  */
object ServeDash {

  val WarmupMs = 4000.0
  val Tables = Seq("lineitem", "orders", "customer", "nation", "embeddings")

  private final class Counting(in: InputStream) extends FilterInputStream(in) {
    var n = 0L
    override def read(): Int = { val b = super.read(); if (b >= 0) n += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val k = super.read(b, off, len); if (k > 0) n += k; k
    }
  }

  final case class Reply(
      status: String, tStatus: Double, tFirst: Double, tLast: Double,
      rows: Long, bytes: Long, decodeMs: Double, digest: Long,
      data: Seq[Seq[Any]])

  private def readLine(in: InputStream): String = {
    val b = new java.io.ByteArrayOutputStream()
    var c = in.read()
    while (c >= 0 && c != '\n') { b.write(c); c = in.read() }
    new String(b.toByteArray, StandardCharsets.UTF_8)
  }

  private def value(v: Any): Any = v match {
    case null                                  => null
    case t: org.apache.arrow.vector.util.Text  => t.toString
    case d: java.math.BigDecimal               => d.toPlainString
    case x: java.lang.Float                    => x.toDouble
    case x                                     => x
  }

  /** One DO_GET round trip over the server's socket protocol, timed at the
    * status line, the first decoded batch and the last decoded batch.
    */
  def request(port: Int, sql: String, keep: Boolean, rec: Recorder, op: Int): Reply = {
    val sock = new Socket("127.0.0.1", port)
    try {
      val out = sock.getOutputStream
      out.write(s"DO_GET $sql\n".getBytes(StandardCharsets.UTF_8))
      out.flush()
      sock.shutdownOutput()
      val counted = new Counting(sock.getInputStream)
      val in = new BufferedInputStream(counted)
      val status = readLine(in)
      val tStatus = Clock.nowMs
      if (status != "OK") return Reply(status, tStatus, tStatus, tStatus, 0, counted.n, 0, 0, Nil)
      val alloc = new RootAllocator(Long.MaxValue)
      val reader = new ArrowStreamReader(in, alloc)
      try {
        val root = reader.getVectorSchemaRoot
        val kept = ArrayBuffer.empty[Seq[Any]]
        var rows = 0L
        var digest = 0L
        var decode = 0.0
        var tFirst = -1.0
        while (reader.loadNextBatch()) {
          val d0 = Clock.nowMs
          val vs = root.getFieldVectors.asScala.toIndexedSeq
          var i = 0
          while (i < root.getRowCount) {
            val row = vs.map(v => value(v.getObject(i)))
            digest += scala.util.hashing.MurmurHash3.seqHash(row).toLong
            if (keep) kept += row
            i += 1
          }
          rows += root.getRowCount
          val d1 = Clock.nowMs
          decode += d1 - d0
          rec.add("client.decode", "client", d0, d1, op, op)
          if (tFirst < 0) tFirst = d1
        }
        val tLast = Clock.nowMs
        if (tFirst < 0) tFirst = tLast
        Reply(status, tStatus, tFirst, tLast, rows, counted.n, decode, digest, kept.toSeq)
      } finally { reader.close(); alloc.close() }
    } finally sock.close()
  }

  def run(o: Opts): Map[String, Any] = {
    val gs = Harness.session(o)
    Tables.foreach(t =>
      gs.registerTable(t, gs.spark.read.parquet(o.data.resolve(s"$t.parquet").toString)))
    val server = new ServingServer(gs).start()
    val setup = Harness.sinceJvmStart
    val port = server.boundPort
    val rec = new Recorder
    Harness.attach(o, gs, rec)
    val script = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(o.requests.get.toFile)
    def strings(n: com.fasterxml.jackson.databind.JsonNode): IndexedSeq[String] =
      n.elements().asScala.map(_.asText).toIndexedSeq
    val cold = strings(script.get("cold"))
    val clients = script.get("clients").elements().asScala.map(strings).toIndexedSeq

    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    // sql -> (digest, rows) of its first reply; the rows go to the oracle check
    val first = new ConcurrentHashMap[String, (Long, Long)]()
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

    def send(sql: String, client: Int, phase: String): Unit = {
      val op = rec.newId()
      val traced = rec.on
      val sent = Clock.nowMs
      val seen = first.containsKey(sql)
      val (r, error) =
        try {
          val r = request(port, sql, !seen, rec, op)
          (r, if (r.status == "OK") null else r.status)
        } catch {
          case e: Throwable =>
            val t = Clock.nowMs
            (Reply("ERR", t, t, t, 0, 0, 0, 0, Nil), s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      var mismatch = false
      if (error == null) {
        // a request not `seen` kept its rows, so whichever reply lands
        // first has rows for the oracle check
        val prev = first.putIfAbsent(sql, (r.digest, r.rows))
        if (prev == null) answers.add(Map("sql" -> sql, "rows" -> r.data))
        else mismatch = prev != ((r.digest, r.rows))
      }
      rec.add("engine.status", "engine", sent, r.tStatus, op, op)
      rec.add("engine.first_batch", "engine", r.tStatus, r.tFirst, op, op)
      rec.add("engine.stream", "engine", r.tFirst, r.tLast, op, op)
      rec.add("op.request", "op", sent, r.tLast, -1, op, id = op)
      ops.add(Map("op" -> op, "client" -> client, "phase" -> phase, "sql" -> sql,
        "traced" -> traced, "start" -> sent, "status" -> r.tStatus,
        "first" -> r.tFirst, "end" -> r.tLast, "rows" -> r.rows,
        "bytes" -> r.bytes, "decode_ms" -> r.decodeMs, "repeat" -> seen,
        "refused" -> (error != null && error.startsWith("ERR RESOURCE_EXHAUSTED")),
        "error" -> (if (mismatch) "reply differs from the first reply" else error)))
    }

    rec.on = o.trace
    val gc0 = Harness.gcMs
    val c0 = Clock.nowMs
    cold.foreach(send(_, 0, "cold"))
    val coldS = (Clock.nowMs - c0) / 1000
    val start = Clock.nowMs + WarmupMs
    val deadline = o.deadlineFrom(start)
    // a traced run alternates untraced and traced quarters of the window
    rec.on = false
    val threads = clients.zipWithIndex.map { case (script, c) =>
      new Thread(() => {
        var i = 0
        while (Clock.nowMs < deadline) {
          send(script(i % script.size), c, if (Clock.nowMs < start) "warmup" else "load")
          i += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    if (o.trace) {
      (1 to 3).foreach { q =>
        val at = start + (deadline - start) * q / 4
        Thread.sleep(math.max(0L, (at - Clock.nowMs).toLong))
        rec.on = q % 2 == 1
      }
    }
    threads.foreach(_.join())
    val end = Clock.nowMs
    rec.on = false
    val gc = Harness.gcMs - gc0
    Harness.drain(gs)
    val out = Map(
      "setup_s" -> setup, "cold_pass_s" -> coldS, "window" -> Seq(start, end),
      "ops" -> ops.asScala.toSeq, "answers" -> answers.asScala.toSeq,
      "driver_gc_ms" -> gc, "trace" -> rec.toJson,
      "peak_rss_mb" -> Harness.peakRssMb, "context" -> Harness.context(o))
    server.close()
    gs.spark.stop()
    out
  }
}
