package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession

/**
 * One benchmark run: set up a workload, time its cold unit, then time
 * warm units in a closed loop (one client; the next job, batch or pass
 * starts when the previous one has finished) for `--seconds`, check the
 * outputs, and print one JSON result line on stdout.
 *
 *   --workload deals_load|deals_upsert|deals_stream|corpus_ops
 *   --seed N --seconds S --trace 0|1 --run-dir DIR [--spans-out FILE]
 *
 * With `--trace 1` the warm units alternate between untraced and traced;
 * the traced ones give the per-layer metrics and the pair gives the
 * tracing overhead.
 */
object BenchMain {
  import Workloads.median

  private val SpanFields = Seq("wall_ms", "jobs", "task_ms", "cpu_ms", "idle_ms", "shuffle_mb")
  private val DealsSpans = Seq("app.fetch", "app.empty_check", "tables.load",
    "tables.merge", "tables.catalog", "tables.verify")
  private val OpsFields = Seq("wall_ms", "jobs", "task_ms", "idle_ms")
  /** The operator mix: the execution-heavy exact dedup join beside the
   * build-heavy calibrated ANN search (eager calibration jobs while the
   * frame is built). */
  val Queries: Seq[String] = Seq("ppjoin", "ivf_refined_autocal")

  /** Every per-layer metric name with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    (for (s <- DealsSpans; f <- SpanFields) yield s"$s.$f" -> unitOf(f)) ++ Seq(
      "app.job.self_ms" -> "ms",
      "tables.write_mb" -> "MB", "tables.write_amp" -> "ratio",
      "rest.requests_per_page" -> "ratio", "rest.requests" -> "count",
      "rest.retries" -> "count", "rest.mb_served" -> "MB", "rest.server_ms" -> "ms",
      "streaming.upsert.add_batch_ms" -> "ms", "streaming.lateness.add_batch_ms" -> "ms",
      "streaming.upsert.task_ms" -> "ms", "streaming.lateness.task_ms" -> "ms",
      "streaming.latest_offset_ms" -> "ms", "streaming.partials_files" -> "count",
      "sources.fixture_read_ms" -> "ms", "sources.fixture_read_jobs" -> "count") ++
      Queries.flatMap(q =>
        (for (p <- Seq("build", "exec"); f <- OpsFields) yield s"ops.$q.$p.$f" -> unitOf(f)) :+
          (s"ops.$q.shuffle_mb" -> "MB")) :+
      ("cold_job_s" -> "s") :+ ("rss_peak_mb" -> "MB") :+ ("trace.overhead_frac" -> "ratio")

  private def unitOf(field: String): String = field match {
    case "jobs" => "count"
    case "shuffle_mb" => "MB"
    case _ => "ms"
  }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        runDir: Path, spansOut: Option[Path])

  def parse(args: Seq[String]): Args = {
    val kv = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("run-dir")).toAbsolutePath,
      kv.get("spans-out").map(Paths.get(_)))
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.runDir.resolve("warehouse").toString)
      .config("spark.local.dir", a.runDir.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, a.seed, a.runDir, nproc)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      Paths.get(System.getProperty("user.home"), "testdata", "sf0.01").toString)
    val w: Workload = a.workload match {
      case "deals_load" => new DealsLoad(ctx)
      case "deals_upsert" => new DealsUpsert(ctx)
      case "deals_stream" => new DealsStream(ctx)
      case "corpus_ops" => new CorpusOps(ctx, sfDir)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    try {
      w.setup()
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val cold = w.run(0)
      val warm = ArrayBuffer.empty[(Int, UnitResult, Boolean)]
      val t0 = System.nanoTime()
      val minWarm = if (a.trace) math.max(2, w.minWarm) else w.minWarm
      var u = 1
      while ((System.nanoTime() - t0) / 1e9 < a.seconds || warm.size < minWarm) {
        val traced = tracer.isDefined && u % 2 == 0
        if (traced) tracer.foreach { t => t.unit = u; t.install() }
        ctx.tracer = if (traced) tracer else None
        val r = w.run(u)
        ctx.tracer = None
        if (traced) tracer.foreach { t => t.drain(); t.uninstall() }
        warm += ((u, r, traced))
        System.err.println(f"[perfbench] ${a.workload} unit $u: ${r.seconds}%.3f s" +
          (if (traced) " (traced)" else ""))
        u += 1
      }
      val finalOk = w.finalCheck()
      val units = cold +: warm.map(_._2).toSeq
      val attempted = units.map(_.attempted).sum + 1
      val failed = units.map(_.failed).sum + (if (finalOk) 0 else 1)
      System.err.println(f"[perfbench] ${a.workload} setup ${setupS}%.3f s, cold ${cold.seconds}%.3f s")

      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) {
          val ws = warm.map(_._2).toSeq
          Seq(("setup_s", setupS, "s"), ("job_s", median(ws.map(_.seconds)), "s"),
            ("rows_per_s", ws.map(_.rows).sum / ws.map(_.seconds).sum, "1/s"))
        } else {
          val t = tracer.get
          val tracedUnits = warm.filter(_._3).map(_._1).toSeq
          val values = perLayer(t, tracedUnits) ++ w.layer(t, tracedUnits)
          val plain = median(warm.filterNot(_._3).map(_._2.seconds).toSeq)
          val traced = median(warm.filter(_._3).map(_._2.seconds).toSeq)
          val all = values + ("cold_job_s" -> cold.seconds) + ("rss_peak_mb" -> peakRssMb()) +
            ("trace.overhead_frac" -> (if (plain > 0) traced / plain - 1 else 0.0))
          a.spansOut.foreach(t.writeJson)
          PerLayer.map { case (n, unit) => (n, all.getOrElse(n, 0.0), unit) }
        }
      println(result(failed == 0, attempted, failed, metrics))
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** Medians over the traced units of each span family's per-unit sums. */
  private def perLayer(t: Tracer, units: Seq[Int]): Map[String, Double] = {
    val spans = t.allSpans.filter(s => units.contains(s.unit))
    def perUnit(name: String, f: Span => Double): Double =
      median(units.map(u => spans.filter(s => s.unit == u && s.name == name).map(f).sum))
    def field(name: String, key: String): Double = perUnit(name, t.fields(_)(key))
    val deals = for (s <- DealsSpans; f <- SpanFields) yield s"$s.$f" -> field(s, f)
    val ops = Queries.flatMap { q =>
      (for (p <- Seq("build", "exec"); f <- OpsFields)
        yield s"ops.$q.$p.$f" -> field(s"ops.$q.$p", f)) :+
        (s"ops.$q.shuffle_mb" -> (field(s"ops.$q.build", "shuffle_mb") +
          field(s"ops.$q.exec", "shuffle_mb")))
    }
    (deals ++ ops ++ Seq(
      "app.job.self_ms" -> perUnit("app.job", t.selfMs),
      "sources.fixture_read_ms" -> field("sources.fixture_read", "wall_ms"),
      "sources.fixture_read_jobs" -> field("sources.fixture_read", "jobs"))).toMap
  }

  private def result(correct: Boolean, attempted: Int, failed: Int,
                     metrics: Seq[(String, Double, String)]): String = {
    val root = Json.mapper.createObjectNode()
    root.put("correct", correct)
    root.put("attempted", attempted)
    root.put("failed", failed)
    val m = root.putObject("metrics")
    metrics.foreach { case (n, v, unit) =>
      val o = m.putObject(n)
      o.put("value", v)
      o.put("unit", unit)
    }
    Json.mapper.writeValueAsString(root)
  }
}
