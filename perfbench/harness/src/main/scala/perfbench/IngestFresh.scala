package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.sources.{IcebergMeta, IcebergWriter}
import graft.streaming.MaterializedAgg

/** ingest_fresh: one writer, a fixed number of commits onto a table that
  * starts empty in this run's scratch directory. Each cycle appends a
  * seeded batch with IcebergWriter.append, reads the totals through the
  * commit-following view from registerIcebergTable, refreshes a keyed
  * sum/count view with MaterializedAgg.refreshStep and reads it. Both
  * reads are checked against the generator's exact running totals.
  *
  * The commit count is fixed, not time-bound, so every run leaves the same
  * number of manifests behind and read costs stay comparable. The first
  * `coldCycles` cycles are the cold pass: the first creates the view
  * table, the second is the first upsert into it. A traced run traces the
  * second and third cycle after the cold pass, so warm-up drift cancels
  * out of the tracing overhead as in Olap16; traced cycles also time an
  * IcebergMeta.load after the cycle.
  */
object IngestFresh {

  val BatchRows = 5000
  val Keys = 64
  val Schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("k", LongType, nullable = false),
    StructField("qty", LongType, nullable = false),
    StructField("amount", DecimalType(18, 2), nullable = false)))

  def run(o: Opts, commits: Int, coldCycles: Int): Map[String, Any] = {
    val gs = Harness.session(o)
    val spark = gs.spark
    val table = o.work.resolve("ingest_table").toString
    val view = o.work.resolve("ingest_mv").toString
    IcebergWriter.append(spark, table,
      spark.createDataFrame(java.util.List.of[Row](), Schema), None,
      System.currentTimeMillis(), formatVersion = 2)
    gs.registerIcebergTable("ingest_events", table)
    val setup = Harness.sinceJvmStart
    val rec = new Recorder
    Harness.attach(o, gs, rec)

    var rows = 0L
    var qty = 0L
    var amount = java.math.BigDecimal.ZERO.setScale(2)
    val perKey = mutable.Map.empty[Long, (Long, Long)] // k -> (sum qty, count)

    def batch(i: Int): Seq[Row] = {
      val rnd = new java.util.SplittableRandom(o.seed * 1000003L + i)
      (0 until BatchRows).map { j =>
        val u = rnd.nextDouble()
        val k = (Keys * u * u).toLong // skewed: low keys are hot
        val q = rnd.nextLong(1, 1001)
        val a = java.math.BigDecimal.valueOf(rnd.nextLong(1, 10000000L), 2)
        rows += 1; qty += q; amount = amount.add(a)
        val (s, c) = perKey.getOrElse(k, (0L, 0L))
        perKey(k) = (s + q, c + 1)
        Row(i.toLong * BatchRows + j, k, q, a)
      }
    }

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val gc0 = Harness.gcMs
    for (i <- 0 until commits) {
      rec.on = o.trace && (i - coldCycles == 1 || i - coldCycles == 2)
      val df = spark.createDataFrame(java.util.Arrays.asList(batch(i): _*), Schema)
      val op = rec.newId()
      val errors = mutable.ArrayBuffer.empty[String]
      def step(name: String, layer: String)(body: => Unit): Unit =
        try rec.span(name, layer, op, op)(body)
        catch { case e: Throwable => errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      val t0 = Clock.nowMs
      step("sources.append", "sources") {
        IcebergWriter.append(spark, table, df, None, System.currentTimeMillis()): Unit
      }
      val committed = Clock.nowMs
      step("sources.read", "sources") {
        val r = gs.execute(
          "SELECT count(*), sum(qty), sum(amount) FROM ingest_events").head()
        if (r.getLong(0) != rows || r.getLong(1) != qty ||
            r.getDecimal(2).compareTo(amount) != 0)
          errors += s"totals ${r.mkString(",")} != $rows,$qty,$amount"
      }
      val fresh = Clock.nowMs
      step("streaming.refresh", "streaming") {
        MaterializedAgg.refreshStep(spark, view, table, col("k"), col("qty"),
          System.currentTimeMillis()): Unit
      }
      step("streaming.read", "streaming") {
        val got = MaterializedAgg.readView(spark, view).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        if (got != perKey.toMap) errors += "materialized view differs from the running totals"
      }
      val t1 = Clock.nowMs
      rec.add("op.cycle", "op", t0, t1, -1, op, id = op)
      val meta =
        if (!rec.on) Map.empty[String, Any]
        else {
          val m0 = Clock.nowMs
          val meta = IcebergMeta.load(table)
          val m1 = Clock.nowMs
          rec.add("sources.meta_load", "sources", m0, m1, -1, op)
          val plan = IcebergMeta.planScan(meta, meta.currentSnapshot.get)
          Map("meta_load_ms" -> (m1 - m0), "manifests" -> plan.manifestsTotal,
            "data_files" -> plan.files.size, "table_bytes" -> dirBytes(table))
        }
      ops += Map("op" -> op, "cycle" -> i, "traced" -> rec.on, "start" -> t0,
        "committed" -> committed, "fresh" -> fresh, "end" -> t1,
        "rows" -> rows, "error" -> (if (errors.isEmpty) null else errors.mkString("; "))) ++ meta
    }
    rec.on = false
    val gc = Harness.gcMs - gc0
    Harness.drain(gs)
    val out = Map(
      "setup_s" -> setup, "ops" -> ops, "cold_cycles" -> coldCycles, "batch_rows" -> BatchRows,
      "driver_gc_ms" -> gc, "trace" -> rec.toJson,
      "peak_rss_mb" -> Harness.peakRssMb, "context" -> Harness.context(o))
    spark.stop()
    out
  }

  private def dirBytes(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }
}
