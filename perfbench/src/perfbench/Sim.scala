package perfbench

import org.apache.spark.TaskContext
import org.apache.spark.util.LongAccumulator

import graft.io.Clients

/** Counters the simulated services bump from inside Spark tasks. */
final class ServiceCounters(val calls: LongAccumulator, val nanos: LongAccumulator,
    val waitNanos: LongAccumulator) extends Serializable

object ServiceCounters {
  def apply(sc: org.apache.spark.SparkContext, name: String): ServiceCounters =
    new ServiceCounters(sc.longAccumulator(s"$name.calls"),
      sc.longAccumulator(s"$name.nanos"), sc.longAccumulator(s"$name.wait"))
}

/** Simulated EDGAR: full-text-search JSON and filing bodies, both made on
  * demand from the seed and the small deal table, so nothing large ships
  * with the tasks.
  *
  * Per deal the search returns the real filing (slot 0, only for deals
  * that validate) plus decoys that fail the both-names validation: slot 1
  * is another filing of the target that never names the acquirer, slot 2
  * sits under an unrelated CIK. Every fifth deal's entity facet names an
  * unrelated company, so the crawler's no-match fallback keeps all hits.
  *
  * `waitNanos` accumulates the gap between consecutive search fetches of
  * one task, i.e. the time the crawler's token bucket held the task. */
final class SimEdgar(seed: Long, deals: Vector[Gen.Deal], specs: Map[Long, Gen.FilingSpec],
    counters: ServiceCounters) extends Clients.Fetcher {

  private def enc(s: String) = s.replace(" ", "%20")
  private val bySearchKey: Map[String, Gen.Deal] = deals.map { d =>
    s"%22${enc(d.target)}%22%20%22${enc(d.acquirer)}%22" -> d
  }.toMap
  private val byIndex: Map[Long, Gen.Deal] = deals.map(d => d.index -> d).toMap

  override def fetch(url: String): String = {
    val t0 = System.nanoTime()
    val search = url.contains("search-index")
    if (search) SimEdgar.noteGap(t0, counters)
    val body = if (search) searchBody(url) else filingBody(url)
    val t1 = System.nanoTime()
    counters.calls.add(1)
    counters.nanos.add(t1 - t0)
    if (search) SimEdgar.last.set((TaskContext.get().taskAttemptId(), t1))
    body
  }

  private def searchBody(url: String): String = {
    val q = url.substring(url.indexOf("q=") + 2, url.indexOf("&dateRange"))
    val d = bySearchKey(q)
    val slots = (if (d.validates) Seq(0) else Nil) ++ Seq(1, 2)
    val hits = slots.map { s =>
      val cik = if (s == 2) d.targetCik + 1 else d.targetCik
      s"""{"_source": {"ciks": ["${f"$cik%010d"}"], "adsh": "${Gen.adsh(cik, d.index, s)}"}}"""
    }.mkString(", ")
    val entity =
      if (d.index % 5 == 0) "Unrelated Holdings Inc  (CIK 0000000042)"
      else f"${d.target}  (CIK ${d.targetCik}%010d)"
    s"""{"hits": {"total": {"value": ${slots.size}}, "hits": [$hits]},""" +
      s""" "aggregations": {"entity_filter": {"buckets": [{"key": "$entity"}]}}}"""
  }

  private def filingBody(url: String): String = {
    val (deal, slot) = Gen.decodeFilingUrl(url).get
    val d = byIndex(deal)
    val text = slot match {
      case 0 => Gen.filingText(seed * 31 + deal, d.target, d.acquirer, specs(deal))
      case 1 => Gen.decoyText(seed * 37 + deal, d.target)
      case _ => Gen.decoyText(seed * 41 + deal, "Unrelated Holdings Inc")
    }
    // one text node, so the section's blank-line paragraphs survive the
    // HTML-to-text step
    s"<html><body><p>\n$text\n</p></body></html>"
  }
}

object SimEdgar {
  private val last = new ThreadLocal[(Long, Long)]

  private def noteGap(now: Long, c: ServiceCounters): Unit = {
    val task = TaskContext.get().taskAttemptId()
    Option(last.get()).foreach { case (t, end) =>
      if (t == task) c.waitNanos.add(now - end)
    }
  }
}

/** The reference's identifier LLM, replaced by the engine's deterministic
  * stub, with its calls counted and timed. */
final class CountedLlm(counters: ServiceCounters) extends Clients.LlmExtractor {
  private val inner = new Clients.StubLlmExtractor
  override def extract(prompt: String): String = {
    val t0 = System.nanoTime()
    val out = inner.extract(prompt)
    counters.calls.add(1)
    counters.nanos.add(System.nanoTime() - t0)
    out
  }
}
