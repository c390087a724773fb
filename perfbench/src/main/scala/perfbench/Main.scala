package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Benchmark driver: one Spark session, one single-threaded caller that
  * runs a workload's iterations in a closed loop (each call waits for the
  * previous one) until the timed calls add up to `--seconds`.
  *
  * Prints one JSON line: the end-to-end figures of an untraced loop or,
  * with `--trace 1`, the per-layer figures of traced iterations. */
object Main {

  /** Renders the result line, the trace file and the expected outputs. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The workload and its warm-up iteration count: enough iterations that
    * the timed ones no longer trend down as the JIT settles. */
  def workload(name: String, ctx: Ctx): (Workload, Int) = name match {
    case "ingest_small_files" =>
      val plain = Seq(
        Gen.FileSpec("orders_001.csv", json = false, rows = 300),
        Gen.FileSpec("orders_002.json", json = true, rows = 300))
      val zipped = (1 to 2).map(k => Gen.FileSpec(f"member_$k%03d.csv", json = false,
        rows = 300, zipGroup = Some("orders_batch.zip")))
      (new IngestWorkload(ctx, plain ++ zipped), 2)
    case "export_reads" =>
      (new ExportWorkload(ctx, orderFiles = 4, ordersPerFile = 12000,
        customerFiles = 2, customersPerFile = 5000), 2)
    case "curate_neardup" =>
      (new CurateWorkload(ctx, originals = 3000), 2)
    case other =>
      throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val budget = a("seconds").toDouble
    val spark = SparkSession.builder()
      .master(a("master"))
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a("shuffle-partitions"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    val sessionSeconds =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    try run(spark, a, work, budget, sessionSeconds)
    finally spark.stop()
  }

  private def run(spark: SparkSession, a: Map[String, String], work: Path,
      budget: Double, sessionSeconds: Double): Unit = {
    val (w, warmups) = workload(a("workload"), new Ctx(spark, work, a("seed").toLong))

    // Set-up: inputs are generated three times (the median counts) and
    // must come out identical; then one-off preparation and checked
    // warm-up iterations.
    val dirs = (1 to 3).map(k => work.resolve(s"input$k"))
    val genSeconds = dirs.map(d => seconds(w.generate(d)))
    val digests = dirs.map(Workload.contentDigest)
    require(digests.distinct.size == 1, s"generator output differs across runs: $digests")
    dirs.tail.foreach(Workload.deleteTree)
    val prepSeconds = seconds(w.prepare())
    var warm = Seq.empty[Iter]
    val warmSeconds = seconds { warm = (1 to warmups).map(w.iterate(_, None)) }
    val setup = sessionSeconds + median(genSeconds) + prepSeconds + warmSeconds
    System.err.println(f"perfbench: set-up session $sessionSeconds%.2f s, generate " +
      genSeconds.map(x => f"$x%.2f").mkString("/") + f" s, prepare $prepSeconds%.2f s, " +
      f"warm-up $warmSeconds%.2f s")

    def log(i: Int, it: Iter, traced: Boolean): Unit =
      System.err.println(f"perfbench: iteration $i ${it.seconds}%.3f s" +
        (if (traced) " (traced)" else ""))
    // Untraced: iterate until the timed calls fill the budget. Traced:
    // alternate untraced and traced iterations, so the tracing overhead
    // compares iterations equally far into the JVM's warm-up.
    val plain = ArrayBuffer.empty[Iter]
    val traced = ArrayBuffer.empty[Iter]
    val trace = if (a("trace") == "1") Some(new Trace(spark.sparkContext)) else None
    def next(t: Option[Trace]): Unit = {
      val i = warmups + 1 + plain.size + traced.size
      t.foreach(spark.sparkContext.addSparkListener)
      val it = w.iterate(i, t)
      t.foreach(spark.sparkContext.removeSparkListener)
      (if (t.isDefined) traced else plain) += it
      log(i, it, t.isDefined)
    }
    trace match {
      case None => while (plain.map(_.seconds).sum < budget) next(None)
      case Some(t) =>
        while (traced.map(_.seconds).sum < budget) { next(None); next(trace) }
        val out = Paths.get(a("trace-out"))
        Files.createDirectories(out.getParent)
        Files.writeString(out, t.toJson(traced.map(_.layers).toSeq))
    }

    val measured = (plain ++ traced).toSeq
    val problems = (warm ++ measured).flatMap(_.problems)
    val runS = median(plain.map(_.seconds))
    val endToEnd = Map(
      "run_s" -> runS,
      "rows_per_s" -> plain.map(_.units).sum / plain.map(_.seconds).sum,
      "setup_s" -> setup,
      "stored_bytes_per_input_byte" -> median(plain.map(_.storedPerInputByte)),
      "peak_rss_mb" -> peakRssMb())
    val perLayer = if (traced.isEmpty) Map.empty[String, Double] else {
      val names = traced.flatMap(_.layers.keys).distinct
      names.map(n => n -> median(traced.flatMap(_.layers.get(n)))).toMap ++ Map(
        "trace.run_s" -> median(traced.map(_.seconds)),
        "trace.overhead_s" -> (median(traced.map(_.seconds)) - runS))
    }
    problems.take(20).foreach(p => System.err.println(s"check failed: $p"))
    println(json.writeValueAsString(ListMap(
      "correct" -> problems.isEmpty,
      "attempted" -> measured.map(_.attempted).sum,
      "failed" -> measured.map(_.failed).sum,
      "iterations" -> plain.size,
      "problems" -> problems.take(20),
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer)))
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
