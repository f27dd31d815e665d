package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftFunctions

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work-dir <dir>`.
  *
  * Starts the session and generates and stages the inputs `SetupRounds`
  * times, keeping the last session; `setup_s` is the median round plus one
  * warm-up operation of the workload, which fills the JIT and codegen
  * caches. (A warm-up per round would not fit the run time budget.) With
  * `--trace 0` operations run back to back for `--seconds` and the
  * end-to-end metrics are printed. With `--trace 1` the first half of the
  * time runs untraced and the second half traced, and the per-layer
  * metrics are printed, including the traced/untraced wall ratio.
  *
  * The result is the stdout line starting with [[ResultTag]]; the process
  * exits non-zero when any output check failed.
  */
object Main {
  val ResultTag = "PERFBENCH_RESULT "
  val SetupRounds = 3

  /** Local cores used: at most 4, so hosts with more cores run the same
    * session as the one the bounds were measured on. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workDir: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workload.Names.contains(w), s"unknown workload $w")
    Opts(w, need("--seed").toLong, need("--seconds").toInt, need("--trace") == "1",
      Paths.get(need("--work-dir")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, samples), or None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    if (s.size < 11) None
    else Some((s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size))
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  /** One operation, timed; its checks run after the clock stops. */
  final case class Done(wallS: Double, result: OpResult, errors: Seq[String])

  def runOp(wl: Workload, tr: Tracer, label: String): Done = {
    val t0 = System.nanoTime()
    val r = tr.span(Tracer.RootLayer, label)(wl.op(tr))
    val wall = (System.nanoTime() - t0) / 1e9
    val errs = try r.verify() catch { case NonFatal(e) => Seq(s"check threw $e") }
    errs.take(5).foreach(e => System.err.println(s"[perfbench] CHECK FAILED ($label): $e"))
    Done(wall, r, errs)
  }

  def run(o: Opts): Int = {
    Files.createDirectories(o.workDir)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    // output-check failures of every attempted operation: the warm-up,
    // the measured operations and the end-of-run checks
    val checked = mutable.ArrayBuffer.empty[Seq[String]]
    var spark: SparkSession = null
    var wl: Workload = null
    val off = (s: SparkSession) => new Tracer(s, "untraced", enabled = false)
    for (round <- 1 to SetupRounds) {
      val t0 = System.nanoTime()
      val stage = o.workDir.resolve(s"stage-$round")
      spark = session(o.workDir)
      wl = Workload(o.workload, spark, stage, o.seed)
      wl.setup()
      // the first round also pays JVM start-up
      setupTimes += (if (round == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else (System.nanoTime() - t0) / 1e9)
      if (round < SetupRounds) { spark.stop(); deleteTree(stage) }
    }
    val w0 = System.nanoTime()
    checked += runOp(wl, off(spark), "warm-up").errors
    val warmUpS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[perfbench] set-up rounds ${setupTimes.map(x => f"$x%.2f").mkString(", ")} s, " +
      f"warm-up $warmUpS%.2f s")
    val setupS = median(setupTimes.toSeq) + warmUpS

    val runId = s"${o.workload}-${o.seed}"
    val untraced = mutable.ArrayBuffer.empty[Done]
    val traced = mutable.ArrayBuffer.empty[Done]
    val plainSeconds = if (o.trace) o.seconds / 2.0 else o.seconds.toDouble
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var i = 0
    // at least two operations (one per half when traced), so no median
    // rests on a single sample
    while (elapsed < plainSeconds || untraced.size < (if (o.trace) 1 else 2)) {
      untraced += runOp(wl, off(spark), s"op-$i"); i += 1
    }
    val tracer = new Tracer(spark, runId, enabled = o.trace)
    val retained = mutable.ArrayBuffer.empty[Double]
    if (o.trace) {
      while (elapsed < o.seconds || traced.isEmpty) {
        traced += runOp(wl, tracer, s"op-$i"); i += 1
        retained += Layers.retainedMb(spark, o.workDir.resolve("spark-local"))
      }
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    }
    (untraced ++ traced).foreach(checked += _.errors)
    val (finalErrs, quality) = try wl.finish() catch {
      case NonFatal(e) => (Seq(s"final check threw $e"), Map.empty[String, Double])
    }
    checked += finalErrs
    finalErrs.take(5).foreach(e => System.err.println(s"[perfbench] CHECK FAILED (final): $e"))

    val walls = untraced.map(_.wallS).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val items = untraced.map(_.result.items).sum
        val busy = untraced.map(_.wallS).sum
        val t = tail(walls)
        t.foreach { case (_, p, n) =>
          System.err.println(f"[perfbench] latency_tail_s is p$p%.1f of $n samples")
        }
        Seq(
          ("setup_s", setupS, "s"),
          ("throughput_per_s", items / busy, "items/s"),
          ("latency_p50_s", median(walls), "s"),
          ("latency_tail_s", t.map(_._1).getOrElse(walls.max), "s"),
          ("peak_rss_mb", peakRssMb(), "MB"),
          ("extract_coverage", quality.getOrElse("extract_coverage", 1.0), "ratio"),
          ("dup_pair_recall", quality.getOrElse("dup_pair_recall", 1.0), "ratio"),
          ("recall_at_5", quality.getOrElse("recall_at_5", 1.0), "ratio"))
      } else {
        val rows = Layers.metrics(tracer, traced.size, retained.lastOption.getOrElse(0.0))
        val plain = median(walls)
        val withSpans = median(traced.map(_.wallS).toSeq)
        val record = Layers.record(tracer, o, rows, plain, withSpans, traced.size)
        Workload.writeText(o.workDir.getParent.resolve(s"traces/$runId.json"), record)
        System.err.println(s"[perfbench] per-layer: $record")
        rows :+ (("trace.overhead_ratio", withSpans / plain, "ratio"))
      }
    val failed = checked.count(_.nonEmpty)
    val correct = failed == 0
    val out = Map(
      "correct" -> correct,
      "attempted" -> checked.size,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
    def secs(ds: Iterable[Done]) = ds.map(d => f"${d.wallS}%.2f").mkString(", ")
    System.err.println(s"[perfbench] ${o.workload} seed=${o.seed}: operations untraced " +
      s"[${secs(untraced)}] s, traced [${secs(traced)}] s")
    println(ResultTag + Json.render(out))
    spark.stop()
    if (correct) 0 else 1
  }
}
