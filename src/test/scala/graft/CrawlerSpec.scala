package graft

import org.apache.spark.sql.functions._
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import graft.io.Clients

class CrawlerSpec extends SparkSpec {
  import CrawlerSpec._
  import spark.implicits._

  private def deals = Seq(
    (0L, "Prime Response Inc", "Chordiant Software Inc", "2001-03-31"),
    (1L, "Dallas-Semiconductor Corp", "Maxim Integrated Products Inc", "2001-01-30"))
    .toDF("main_index", "target_name", "acquirer_name", "d")
    .withColumn("announce_dt", $"d".cast("date")).drop("d")

  test("searchJobs: window clamp, day-reset semantics, URL encoding") {
    val jobs = Crawler.searchJobs(deals).orderBy($"main_index").collect()
    val j0 = jobs(0)
    // 2001-03-31 - 4 months -> Nov 31 invalid -> Nov 1 2000, clamped to 2001-01-01
    assert(j0.getAs[java.sql.Date]("win_lo").toString == "2001-01-01")
    // +4 months -> Jul 31 2001 valid
    assert(j0.getAs[java.sql.Date]("win_hi").toString == "2001-07-31")
    assert(j0.getAs[String]("norm_target") == "prime response")
    assert(j0.getAs[String]("search_url")
      .contains("q=%22Prime%20Response%20Inc%22%20%22Chordiant%20Software%20Inc%22"))
  }

  test("resume anti-join skips done indices") {
    val done = Seq(0L).toDF("main_index")
    val remaining = Crawler.resume(Crawler.searchJobs(deals), done).collect()
    assert(remaining.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("hermetic crawl: jobs -> stub fetch -> parsed hits -> deduped archive URLs") {
    val jobs = Crawler.searchJobs(deals)
    val cands = Crawler.candidateFilings(spark, jobs).collect()
    // stub returns 2 hits per search; distinct adsh -> 2 urls per deal
    assert(cands.length == 4)
    assert(cands.forall(_.getString(1)
      .startsWith("https://www.sec.gov/Archives/edgar/data/")))
    // deterministic across runs
    val again = Crawler.candidateFilings(spark, jobs).collect()
    assert(cands.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("fuzzy entity filter keeps partial-ratio > 90 matches only") {
    val entities = Seq(
      ("Prime Response, Inc.  (CIK 0001085621)", "prime response"),
      ("Totally Different Co  (CIK 0000000001)", "prime response"))
      .toDF("entity", "name")
    val kept = Crawler.fuzzyEntityFilter(entities, "entity", "name").collect()
    assert(kept.length == 1)
    assert(kept.head.getString(0).startsWith("Prime Response"))
  }

  test("entity fuzzy gate keeps only matching CIKs; no-match falls back") {
    // two hits under different CIKs; entity bucket names Prime Response
    val body =
      """{"hits": {"total": {"value": 2}, "hits": [
        |  {"_source": {"ciks": ["0001085621"], "adsh": "0001085621-01-000001"}},
        |  {"_source": {"ciks": ["0009999999"], "adsh": "0009999999-01-000002"}}]},
        | "aggregations": {"entity_filter": {"buckets": [
        |  {"key": "Prime Response, Inc.  (CIK 0001085621)"}]}}}""".stripMargin
    val fetcher = new EndToEndSpec.MapFetcher(Map.empty) {
      override def fetch(url: String): String = body
    }
    val jobs = Crawler.searchJobs(deals)
    val cands = Crawler.candidateFilings(spark, jobs, fetcher).collect()
    val byDeal = cands.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    // deal 0 (Prime Response): entity matches -> only CIK 1085621's filing
    assert(byDeal(0L).size == 1)
    assert(byDeal(0L).head.contains("/1085621/"))
    // deal 1 (Dallas-Semiconductor): no entity match -> unfiltered fallback
    assert(byDeal(1L).size == 2)
  }

  test("X1 fallback rescues docs the cascade missed") {
    val withSection = "Filler intro paragraph here.\n\n" +
      "Background of the Merger\n\n" +
      ("On June 1 the boards met to negotiate the terms in detail.\n" * 8)
    // mentions the section phrase only mid-prose inside a >2-line
    // paragraph: cascade rejects (T4 title test), LLM stub accepts
    // (phrase present + long enough)
    val proseOnly = ("the parties discussed the background of the merger\n" +
      "over several spring meetings and the results\n" +
      "were recorded in the minutes of the board\n") * 5
    val noSection = ("Entirely unrelated filler prose with nothing here. ") * 10
    val docs = Seq(
      (1L, "u1", withSection), (2L, "u2", proseOnly), (3L, "u3", noSection))
      .toDF("main_index", "url", "content")
    val out = Crawler.locateWithFallback(spark, docs).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("via")).toMap
    assert(out == Map(1L -> "heuristic", 2L -> "llm"))
  }

  test("token bucket enforces the configured rate") {
    val bucket = new io.TokenBucket(ratePerSec = 50.0)
    val t0 = System.nanoTime()
    (1 to 10).foreach(_ => bucket.acquire())
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    // 9 tokens beyond the burst at 50/s => >= ~180ms
    assert(elapsedMs >= 150, s"too fast: $elapsedMs ms")
  }

  test("per-partition split: idle partitions never push active ones above " +
      "the global cap (worst-case bound in TokenBucket.perPartitionRate)") {
    val globalRate = 40.0
    val n = 8
    val r = io.TokenBucket.perPartitionRate(globalRate, n) // 5 req/s each
    assert(r == 5.0)
    // heavy skew: only 2 of 8 partitions are active; the other 6 idle.
    // Each active bucket admits at most r*T + burst over the window, and
    // idle buckets cannot donate their unused tokens
    val windowMs = 500L
    val admitted = (0 until 2).map { _ =>
      val b = new io.TokenBucket(r)
      var c = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < windowMs * 1000000L) {
        b.acquire(); c += 1
      }
      c
    }.sum
    val perBucketBound = r * (windowMs / 1000.0) + 1 // r*T + burst
    assert(admitted <= 2 * perBucketBound + 1,
      s"active partitions exceeded their share: $admitted > ${2 * perBucketBound}")
    // a fortiori: far under what the GLOBAL cap admits in the window
    // (R*T + n transient) — skew under-uses quota, never exceeds it
    assert(admitted <= globalRate * (windowMs / 1000.0) + n)
  }

  test("each search and each candidate body is fetched exactly once") {
    val searches = spark.sparkContext.longAccumulator("searches")
    val bodies = spark.sparkContext.longAccumulator("bodies")
    val fetcher = new CountingFetcher(searches, bodies)
    val jobs = Crawler.searchJobs(deals)
    val cands = Crawler.candidateFilings(spark, jobs, fetcher).collect()
    assert(searches.value == 2, "one search call per job")
    assert(bodies.value == 0)
    val candDf = cands.toSeq.map(r => (r.getLong(0), r.getString(1)))
      .toDF("main_index", "url")
    Crawler.validatedDocs(spark, candDf,
      jobs.select($"main_index", $"norm_target", $"norm_acquirer"),
      fetcher, globalRate = 1e6).collect()
    assert(bodies.value == cands.length, "one body call per candidate url")
    assert(searches.value == 2)
    // composed lazily, the crawl still fetches each url once
    Crawler.validatedDocs(spark, Crawler.candidateFilings(spark, jobs, fetcher),
      jobs.select($"main_index", $"norm_target", $"norm_acquirer"),
      fetcher, globalRate = 1e6).collect()
    assert(searches.value == 4 && bodies.value == 2 * cands.length,
      s"lazily composed: ${searches.value - 2} searches, " +
        s"${bodies.value - cands.length} bodies")
  }

  test("validatedDocs labels each body with its own url, once") {
    val names = Seq((0L, "prime response", "chordiant software"))
      .toDF("main_index", "norm_target", "norm_acquirer")
    val (good, bad) = ("https://archive.test/a.htm", "https://archive.test/b.htm")
    val fetcher = new EndToEndSpec.MapFetcher(Map(
      good -> "<html><body><p>Merger of Prime Response with Chordiant Software</p></body></html>",
      bad -> "<html><body><p>An unrelated filing</p></body></html>"))
    val candidates = Seq((0L, good), (0L, bad)).toDF("main_index", "url")
    val out = Crawler.validatedDocs(spark, candidates, names, fetcher,
      globalRate = 1e6).collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((0L, good)))
    assert(out.head.getString(2).contains("Chordiant Software"))
  }

  test("fetchBodies: every window T admits at most R*T + n calls, and a " +
      "batch held by one partition is spread over all n") {
    val globalRate = 6.0
    val n = 3
    // all 12 jobs sit in the first of 3 input partitions
    val jobs = spark.sparkContext.parallelize(0 until n, n)
      .flatMap(p => if (p == 0) (0L until 12L) else Nil)
      .toDF("main_index")
      .withColumn("url", concat(lit("https://archive.test/"), $"main_index"))
    val stamps = spark.sparkContext.collectionAccumulator[java.lang.Long]("stamps")
    val out = Crawler.fetchBodies(spark, jobs, "url", new StampingFetcher(stamps),
      globalRate).collect()
    assert(out.length == 12)
    assert(out.forall(r => r.getString(2) == new Clients.StubFetcher().fetch(r.getString(1))))
    val t = stamps.value.toArray(Array.empty[java.lang.Long]).map(_.longValue / 1e9).sorted
    assert(t.length == 12, "one call per job")
    // a closed window [t(i), t(j)] holds j - i + 1 calls; 20 ms of slack
    // absorbs the gap between a token and its recorded timestamp
    for (i <- t.indices; j <- i until t.length) {
      val window = t(j) - t(i)
      assert(j - i + 1 <= globalRate * (window + 0.02) + n,
        s"${j - i + 1} calls in ${window}s exceed R*T + n")
    }
    // spread over 3 buckets of R/n each: 4 calls per partition, ~1.5 s;
    // one partition alone would need 5.5 s
    assert(t.last - t.head < 3.5, s"calls took ${t.last - t.head}s")
  }
}

object CrawlerSpec {
  /** Stub fetcher counting search and document calls on accumulators. */
  class CountingFetcher(searches: LongAccumulator, bodies: LongAccumulator)
      extends Clients.Fetcher {
    override def fetch(url: String): String = {
      if (url.contains("search-index")) searches.add(1) else bodies.add(1)
      new Clients.StubFetcher().fetch(url)
    }
  }

  /** Stub fetcher recording the time of every call. */
  class StampingFetcher(stamps: CollectionAccumulator[java.lang.Long])
      extends Clients.Fetcher {
    override def fetch(url: String): String = {
      stamps.add(System.nanoTime())
      new Clients.StubFetcher().fetch(url)
    }
  }
}
