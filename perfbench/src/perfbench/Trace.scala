package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One traced interval. `layer` is the engine module the call belongs to
  * ("Crawler", "io.Sinks", ...); `fn` names the public call. Spans of one
  * run share `runId`; `parent` is -1 for a root (one benchmark operation). */
final class Span(val id: Int, val layer: String, val fn: String,
    val parent: Int, val runId: String, val startNs: Long) {
  var endNs: Long = startNs
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
}

/** Interval arithmetic for span self time. */
object Intervals {

  /** Total length covered by the union of `ivs` clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(lo, s), math.min(hi, e)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfNs(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)
}

/** Spark work attributed to one job group (one span). */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
}

/** Attributes jobs, stages and task metrics to the job group they were
  * submitted under; the bench sets one group per span. */
final class SpanListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, SparkWork]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def work(g: String): SparkWork = byGroup.getOrElseUpdate(g, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      work(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties).orElse(stageGroup.get(e.stageInfo.stageId))
    g.foreach { x =>
      stageGroup(e.stageInfo.stageId) = x
      work(x).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val w = work(g)
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      w.spillBytes += m.diskBytesSpilled
    }
  }

  def get(group: String): SparkWork = synchronized(byGroup.getOrElse(group, new SparkWork))
  def totalSpillBytes: Long = synchronized(byGroup.values.map(_.spillBytes).sum)
}

/** The bench's tracer. Disabled, `span` is a plain call. Enabled, it keeps
  * every span in memory, tags Spark jobs with the span's job group, and
  * materializes DataFrame results at the layer boundary so each layer's
  * work lands inside its own span. */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val listener: Option[SpanListener] =
    if (enabled) {
      val l = new SpanListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  def group(s: Span): String = s"pb-$runId-${s.id}"

  private def setGroup(s: Option[Span]): Unit = s match {
    case Some(x) => spark.sparkContext.setJobGroup(group(x), s"${x.layer} ${x.fn}")
    case None => spark.sparkContext.clearJobGroup()
  }

  def span[T](layer: String, fn: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, layer, fn, stack.headOption.fold(-1)(_.id),
        runId, System.nanoTime())
      spans += s
      stack.push(s)
      setGroup(Some(s))
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        setGroup(stack.headOption)
      }
    }

  /** Add `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.counts(key) += v)

  /** A DataFrame-returning layer call. Traced, its physical planning is
    * timed on its own (`plan_s`) and the result is materialized inside the
    * span, so the caller's next layer starts from computed rows. */
  def frame(layer: String, fn: String,
      counts: DataFrame => Seq[(String, Double)] = _ => Nil)(body: => DataFrame): DataFrame =
    if (!enabled) body
    else span(layer, fn) {
      val df = body
      val t0 = System.nanoTime()
      df.queryExecution.executedPlan
      count("plan_s", (System.nanoTime() - t0) / 1e9)
      val out = df.localCheckpoint(eager = true)
      probe(counts(out)).foreach { case (k, v) => count(k, v) }
      out
    }

  /** A DataFrame-returning layer call whose result the caller consumes
    * at once (`use`, typically a collect). Traced, planning is timed on
    * its own; `use` runs inside the span either way. */
  def result[T](layer: String, fn: String)(body: => DataFrame)(use: DataFrame => T): T =
    span(layer, fn) {
      val df = body
      if (enabled) {
        val t0 = System.nanoTime()
        df.queryExecution.executedPlan
        count("plan_s", (System.nanoTime() - t0) / 1e9)
      }
      use(df)
    }

  /** Work done only to measure (ratios' denominators): spanned so it is
    * not counted as unattributed, but belongs to no layer. */
  def probe[T](body: => T): T = span(Tracer.ProbeLayer, "probe")(body)
}

object Tracer {
  val ProbeLayer = "trace.probe"
  val RootLayer = "op"
}
