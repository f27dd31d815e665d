package graft.io

/** S4: token-bucket rate limiter (src/dependencies/TokenBucket.py:10-31).
  * The reference shares one bucket across processes via a Manager proxy; on
  * Spark each partition gets `globalRate / numPartitions` so the aggregate
  * request rate stays at the global cap without any cross-executor
  * coordination (SURVEY §2.1 S4).
  */
class TokenBucket(ratePerSec: Double, burst: Int = 1) extends Serializable {
  private var tokens: Double = burst.toDouble
  private var lastNs: Long = System.nanoTime()

  /** Block until a token is available, then consume it. */
  def acquire(): Unit = synchronized {
    while ({
      val now = System.nanoTime()
      tokens = math.min(burst.toDouble, tokens + (now - lastNs) * 1e-9 * ratePerSec)
      lastNs = now
      tokens < 1.0
    }) {
      val waitMs = math.max(1L, ((1.0 - tokens) / ratePerSec * 1000).toLong)
      Thread.sleep(waitMs)
    }
    tokens -= 1.0
  }
}

object TokenBucket {
  /** Per-partition limiter rate for a global cap of `globalRate` req/s.
    *
    * Worst-case upper bound (why the static split can never exceed the
    * cap, under ANY partition skew): a token bucket with rate r and burst
    * b admits at most `r*T + b` acquisitions over any window of length T
    * (tokens accrue at r and the stock is clamped at b). With n
    * independent buckets of rate `R/n`, burst 1, the aggregate over any T
    * is at most `sum_p (R/n * T + 1) = R*T + n` — sustained aggregate
    * rate <= R plus a one-time transient of n initial tokens, regardless
    * of how requests distribute across partitions. Idle partitions cannot
    * donate quota: their unused tokens clamp at burst (1) and never
    * transfer, so skew strictly UNDER-uses the cap (k idle partitions
    * waste `k*R/n` of budget — the documented trade vs the reference's
    * single Manager-shared bucket, TokenBucket.py:10-31, which a
    * shared-nothing executor model cannot replicate without a
    * coordination service). CrawlerSpec asserts both bounds.
    *
    * The bound assumes what `Crawler.fetchBodies` arranges: the fetch
    * lineage is evaluated ONCE (each evaluation builds fresh buckets, so
    * k evaluations admit k times the budget), and the rows are spread over
    * the `n` partitions the rate is divided by (rows held by fewer
    * partitions stay under the cap but use only their share of it). */
  def perPartitionRate(globalRate: Double, numPartitions: Int): Double =
    globalRate / math.max(1, numPartitions)
}
