package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, aggregated from its spans and from
  * the Spark work the listener attributed to them. Values are per traced
  * operation (batch or pass), except ratios, which are ratios of totals. */
object Layers {

  final case class Layer(name: String, extras: Seq[String])

  val Common: Seq[String] = Seq("self_s", "plan_s", "jobs", "tasks", "task_cpu_s", "shuffle_mb")

  val All: Seq[Layer] = Seq(
    Layer("Crawler", Seq("fetches", "valid_ratio", "limiter_wait_s")),
    Layer("io.Clients", Seq("llm_calls", "llm_s", "accepted_ratio")),
    Layer("Pipeline.chunk", Seq("rows_out")),
    Layer("Pipeline.candidates", Seq("pass_ratio")),
    Layer("Pipeline.rank", Nil),
    Layer("ops.Assemble", Seq("enrich_ratio")),
    Layer("io.Sinks", Seq("written_mb", "files_written", "buckets_rewritten")),
    Layer("ops.Dedup", Seq("candidate_pairs", "verified_ratio")),
    Layer("ops.Components", Seq("stages")),
    Layer("ops.Graph", Seq("shuffle_records")),
    Layer("ops.Similarity", Seq("route_index", "spill_mb")))

  /** Ratio metrics: (numerator, denominator) span counters. */
  private val Ratios = Map(
    "valid_ratio" -> ("validated", "candidates"),
    "accepted_ratio" -> ("accepted", "llm_calls"),
    "pass_ratio" -> ("candidates", "chunks"),
    "enrich_ratio" -> ("enriched", "assembled"),
    "verified_ratio" -> ("pairs", "candidate_pairs"))

  def unit(metric: String): String = metric match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_ratio") || m.endsWith("_share") => "ratio"
    case "route_index" => "index"
    case _ => "count"
  }

  private def children(tr: Tracer): Map[Int, Seq[Span]] =
    tr.spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  private def selfNs(s: Span, kids: Map[Int, Seq[Span]]): Long =
    Intervals.selfNs(s.startNs, s.endNs,
      kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))

  /** Share of the traced operations' wall time that no span inside them
    * covers. */
  def unattributed(tr: Tracer): Double = {
    val kids = children(tr)
    val roots = tr.spans.filter(_.layer == Tracer.RootLayer)
    roots.map(selfNs(_, kids)).sum.toDouble / math.max(1L, roots.map(r => r.endNs - r.startNs).sum)
  }

  def metrics(tr: Tracer, ops: Int, retainedMb: Double): Seq[(String, Double, String)] = {
    val kids = children(tr)
    val l = tr.listener.get
    val per = math.max(1, ops).toDouble
    val layerRows = All.flatMap { layer =>
      val spans = tr.spans.filter(_.layer == layer.name).toSeq
      val work = spans.map(s => l.get(tr.group(s)))
      def total(key: String) = spans.map(_.counts(key)).sum
      val common = Seq(
        "self_s" -> spans.map(selfNs(_, kids)).sum / 1e9 / per,
        "plan_s" -> total("plan_s") / per,
        "jobs" -> work.map(_.jobs).sum / per,
        "tasks" -> work.map(_.tasks).sum / per,
        "task_cpu_s" -> work.map(_.cpuNs).sum / 1e9 / per,
        "shuffle_mb" -> work.map(_.shuffleBytes).sum / 1e6 / per)
      val extras = layer.extras.map { m =>
        m -> (Ratios.get(m) match {
          case Some((num, den)) => if (total(den) > 0) total(num) / total(den) else 0.0
          case None => m match {
            case "stages" => work.map(_.stages).sum / per
            case "shuffle_records" => work.map(_.shuffleRecords).sum / per
            case "spill_mb" => work.map(_.spillBytes).sum / 1e6 / per
            case other => total(other) / per
          }
        })
      }
      (common ++ extras).map { case (m, v) => (s"${layer.name}.$m", v, unit(m)) }
    }
    layerRows ++ Seq(
      ("spark.storage.retained_mb", retainedMb, "MB"),
      ("spark.storage.spill_mb", l.totalSpillBytes / 1e6 / per, "MB"),
      ("trace.unattributed_share", unattributed(tr), "ratio"))
  }

  /** Memory and disk the block manager holds for cached and checkpointed
    * blocks, plus the bytes in Spark's local directories. */
  def retainedMb(spark: SparkSession, localDir: Path): Double = {
    val blocks = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val local = if (!Files.exists(localDir)) 0L else {
      val s = Files.walk(localDir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
    (blocks + local) / 1e6
  }

  /** The traced run's record: metrics per layer, the tracing overhead and
    * every span. */
  def record(tr: Tracer, o: Main.Opts, rows: Seq[(String, Double, String)],
      plainOpS: Double, tracedOpS: Double, ops: Int): String = {
    val t0 = tr.spans.headOption.fold(0L)(_.startNs)
    Json.render(Map(
      "workload" -> o.workload, "seed" -> o.seed, "run_id" -> tr.runId,
      "cores" -> Main.Cores, "traced_ops" -> ops,
      "untraced_op_median_s" -> plainOpS, "traced_op_median_s" -> tracedOpS,
      "overhead_ratio" -> tracedOpS / plainOpS,
      "layers" -> rows.groupBy(_._1.split("\\.(?=[a-z_]+$)").head).map { case (k, ms) =>
        k -> ms.map { case (n, v, u) => n.split('.').last -> Map("value" -> v, "unit" -> u) }.toMap
      },
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "layer" -> s.layer, "fn" -> s.fn,
        "parent" -> s.parent, "run" -> s.runId, "start_s" -> (s.startNs - t0) / 1e9,
        "end_s" -> (s.endNs - t0) / 1e9, "counts" -> s.counts.toMap))))
  }
}
