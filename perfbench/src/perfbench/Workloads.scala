package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Crawler, Pipeline}
import graft.io.{Clients, Sinks}
import graft.ops.{Assemble, Components, Dedup, Graph, Rank, Similarity}

/** What one operation (a batch or a pass) did. `verify` runs after the
  * operation's clock stops and returns the failed output checks. */
final case class OpResult(items: Int, verify: () => Seq[String])

/** One benchmark workload. `setup` generates and stages its inputs from
  * the seed; `op` runs one operation; `finish` runs the end-of-run checks
  * and returns the quality metrics. */
trait Workload {
  def setup(): Unit
  def op(tr: Tracer): OpResult
  def finish(): (Seq[String], Map[String, Double])
}

object Workload {
  val Names: Seq[String] = Seq("deal_batches", "corpus_curate")

  def apply(name: String, spark: SparkSession, dir: Path, seed: Long): Workload =
    name match {
      case "deal_batches" => new DealBatches(spark, dir, seed)
      case "corpus_curate" => new CorpusCurate(spark, dir, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def writeText(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }

  /** (relative path -> (size, mtime)) of every file under `dir`. */
  def listing(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        dir.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  def isDataFile(rel: String): Boolean =
    !rel.split('/').last.startsWith(".") && !rel.split('/').last.startsWith("_")
}

/** The extraction calls of `deal_batches` and their output checks. */
object Extraction {

  /** `Pipeline.extractSections`. Traced, the same composition is called
    * layer by layer (see [[layered]]) so each layer's work lands in its
    * own span. */
  def sections(tr: Tracer, docs: DataFrame): DataFrame =
    if (!tr.enabled) Pipeline.extractSections(docs)
    else {
      if (!layeredChecked) {
        tr.probe(checkLayered(docs))
        layeredChecked = true
      }
      layered(tr, docs)
    }

  private var layeredChecked = false

  /** Fails the traced run when [[layered]], built without its layer
    * boundaries, no longer plans the same as `Pipeline.extractSections`:
    * the per-layer figures must measure the engine's composition, not a
    * stale copy of it. */
  def checkLayered(docs: DataFrame): Unit = {
    val copy = layered(new Tracer(docs.sparkSession, "plan-check", enabled = false), docs)
    val engine = Pipeline.extractSections(docs)
    if (!copy.queryExecution.optimizedPlan.sameResult(engine.queryExecution.optimizedPlan))
      throw new IllegalStateException("the traced layer-by-layer extraction no longer " +
        "plans the same as Pipeline.extractSections; update Extraction.layered")
  }

  /** The body of `Pipeline.extractSections`, with each layer's result
    * passed through `tr.frame` (chunk, candidates, rank, Assemble). With a
    * disabled tracer it is the engine's composition unchanged, which
    * [[checkLayered]] verifies. */
  def layered(tr: Tracer, docs: DataFrame): DataFrame = {
    val names = docs.select(col("doc_id"), col("company_a"), col("company_b"))
    var nChunks = 0.0
    val chunks = tr.frame("Pipeline.chunk", "chunk",
        d => { nChunks = d.count().toDouble; Seq("rows_out" -> nChunks) }) {
      Pipeline.chunk(docs).repartition(
        docs.sparkSession.sessionState.conf.numShufflePartitions, col("doc_id"))
    }
    val cands = tr.frame("Pipeline.candidates", "candidates",
        d => Seq("candidates" -> d.count().toDouble, "chunks" -> nChunks)) {
      Pipeline.candidates(chunks)
    }
    val winners = tr.frame("Pipeline.rank", "rank")(Pipeline.rank(cands))
    tr.frame("ops.Assemble", "assemble") {
      val validated = tr.frame("ops.Assemble", "assemblePassage",
          d => Seq("assembled" -> d.count().toDouble,
            "enriched" -> d.filter(!col("ok")).count().toDouble)) {
        Assemble.assemblePassage(chunks, winners).join(names, Seq("doc_id"))
          .withColumn("ok", Assemble.tokensPresent(
            Assemble.squash(col("passage_text")), col("company_a"), col("company_b")))
      }
      val direct = validated.filter(col("ok")).select(col("doc_id"),
        concat(Assemble.headerLine(col("company_a"), col("company_b")),
          col("passage_text")).as("content"))
      val enriched = Assemble.enrich(
        validated.filter(!col("ok")).select(col("doc_id"), col("passage_text"),
          col("company_a"), col("company_b")), chunks)
      direct.unionByName(enriched)
    }
  }

  /** `Clients.identifyInitiators` with the counted stub LLM. */
  def identify(tr: Tracer, spark: SparkSession, sections: DataFrame,
      llm: ServiceCounters): DataFrame = {
    val (c0, n0) = (llm.calls.value, llm.nanos.value)
    tr.frame("io.Clients", "identifyInitiators", d => {
      val calls = llm.calls.value - c0
      Seq("llm_calls" -> calls.toDouble, "llm_s" -> (llm.nanos.value - n0) / 1e9,
        "accepted" -> d.count().toDouble)
    })(Clients.identifyInitiators(spark, sections, new CountedLlm(llm)))
  }

  /** A sink call; traced, the files it wrote are counted from the sink
    * directory's listing before and after. */
  def sink(tr: Tracer, fn: String, dir: Path)(body: => Unit): Unit =
    tr.span("io.Sinks", fn) {
      val before =
        if (tr.enabled) tr.probe(Workload.listing(dir)) else Map.empty[String, (Long, Long)]
      body
      if (tr.enabled) {
        val changed = tr.probe(Workload.listing(dir)).filter { case (k, v) =>
          Workload.isDataFile(k) && !before.get(k).contains(v)
        }
        tr.count("files_written", changed.size)
        tr.count("written_mb", changed.values.map(_._1).sum / 1e6)
        tr.count("buckets_rewritten", changed.keys.flatMap(
          _.split('/').find(_.startsWith("bucket="))).toSet.size)
      }
    }

  /** Extracted section checks for doc ids with known filing shapes:
    * returns (failures, covered docs, planted docs). A planted section is
    * covered when its doc has exactly one output row that contains the
    * section's header as a whole line and the prompt header naming both
    * parties. Docs without a section must produce no row. */
  def coverage(out: Seq[(Long, String)], specs: Map[Long, Gen.FilingSpec],
      names: Map[Long, (String, String)]): (Seq[String], Int, Int) = {
    val byDoc = out.groupBy(_._1)
    val errs = Seq.newBuilder[String]
    var covered = 0
    var planted = 0
    byDoc.keys.filterNot(specs.contains).foreach(d => errs += s"doc $d: unexpected output")
    specs.foreach { case (d, spec) =>
      val rows = byDoc.getOrElse(d, Nil)
      spec.header match {
        case None =>
          if (rows.nonEmpty) errs += s"doc $d: section extracted from a filing without one"
        case Some(h) =>
          planted += 1
          val (a, b) = names(d)
          val ok = rows.size == 1 && {
            val c = rows.head._2
            c.contains(s"\n$h\n") &&
              c.contains(s"merger deal between $a & $b:")
          }
          if (ok) covered += 1
          else errs += s"doc $d: planted '$h' section not extracted (${rows.size} rows)"
      }
    }
    (errs.result(), covered, planted)
  }
}

// ------------------------------------------------------------------------

/** Closed loop, one client: batches of 5 deals through the whole chain,
  * the next batch sent only after the previous one committed. At the end
  * the last finished batch is sent again, which must change nothing. */
final class DealBatches(spark: SparkSession, dir: Path, seed: Long, numDeals: Int = 1000,
    batchSize: Int = 5, preseededBatches: Int = 4) extends Workload {
  import DealBatches._
  import spark.implicits._

  private val deals = Gen.deals(seed, numDeals, ValidShare, batchSize)
  /** Every batch gets the same log-spread set of filing lengths in a
    * seeded order, so batches cost about the same on every seed. */
  private val specs: Map[Long, Gen.FilingSpec] = {
    val r = new SplittableRandom(seed * 7 + 1)
    val lengths = Gen.logSpread(6000, 60000, batchSize)
    deals.grouped(batchSize).flatMap { ds =>
      ds.zip(Gen.shuffle(r, lengths)).map { case (d, n) =>
        d.index -> Gen.filingSpec(r, 6000, 60000, noSectionShare = 0.1, bareShare = 0.1,
          abbrevShare = 0.15, tocShare = 0.2).copy(chars = n)
      }
    }.toMap
  }
  private val store = dir.resolve("store")
  private val storeUri = store.toString
  private val edgar = ServiceCounters(spark.sparkContext, "edgar")
  private val llm = ServiceCounters(spark.sparkContext, "llm")
  private val fetcher = new SimEdgar(seed, deals, specs, edgar)
  private val dealDf = deals.map(d => (d.index, d.target, d.acquirer, d.announce))
    .toDF("main_index", "target_name", "acquirer_name", "d")
    .withColumn("announce_dt", col("d").cast("date")).drop("d")
    .localCheckpoint()
  private var nextBatch = preseededBatches
  /** Batches already in the store: re-sending any of them is a no-op. */
  private val sent = scala.collection.mutable.LinkedHashSet.from(0 until preseededBatches)
  /** Extraction inputs of the batches this run sent. */
  private val extracted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** A deal is stored iff its filing validates; its record is set iff that
    * filing also carries a section. */
  private def expectRecord(d: Gen.Deal) = d.validates && specs(d.index).header.nonEmpty

  def setup(): Unit = {
    Workload.writeText(dir.resolve("truth.json"), Json.render(Map(
      "deals" -> deals.map(d => Map("main_index" -> d.index, "validates" -> d.validates,
        "section" -> specs(d.index).header.getOrElse(""),
        "filing_chars" -> specs(d.index).chars)))))
    // a previous session already stored the first preseededBatches batches
    val pre = deals.take(preseededBatches * batchSize).filter(_.validates)
    val preRows = pre.map(d => (d.index, fetcherUrl(d),
        if (expectRecord(d)) PreseededRecord else null))
      .toDF("main_index", "url", "record")
    Sinks.writeBucketed(preRows, storeUri, "main_index")
  }

  private def fetcherUrl(d: Gen.Deal): String = {
    val a = Gen.adsh(d.targetCik, d.index, 0)
    s"https://www.sec.gov/Archives/edgar/data/${d.targetCik}/${a.replace("-", "")}/$a.txt"
  }

  private def batchDf(b: Int): DataFrame =
    dealDf.filter(col("main_index") >= b * batchSize && col("main_index") < (b + 1) * batchSize)

  def op(tr: Tracer): OpResult = {
    require((nextBatch + 1) * batchSize <= numDeals, "deal table exhausted")
    val b = nextBatch
    nextBatch += 1
    extracted += runBatch(tr, batchDf(b))
    sent += b
    OpResult(batchSize, () => checkBatch(b))
  }

  /** Re-sends finished batch `b` untimed: no data file of the store may
    * change. */
  private def resend(b: Int): Seq[String] = {
    def data() = Workload.listing(store).filter(x => Workload.isDataFile(x._1))
    val before = data()
    runBatch(new Tracer(spark, "resend", enabled = false), batchDf(b))
    if (data() != before) Seq(s"re-sent batch $b changed the store") else Nil
  }

  /** Runs one batch; returns the extraction input (materialized). */
  private def runBatch(tr: Tracer, batch: DataFrame): DataFrame = {
    val (f0, w0) = (edgar.calls.value, edgar.waitNanos.value)
    val done = tr.frame("io.Sinks", "doneIndices")(Sinks.doneIndices(spark, storeUri, "main_index"))
    val todo = tr.frame("Crawler", "resume")(Crawler.resume(Crawler.searchJobs(batch), done))
    // every crawl stage's output is computed once: a fetch is a rate-limited
    // call to an outside service, so the client never repeats it lazily
    val cands = once(tr, tr.frame("Crawler", "candidateFilings",
        d => Seq("candidates" -> d.count().toDouble)) {
      Crawler.candidateFilings(spark, todo, fetcher)
    })
    var validated = 0.0
    val docs = tr.frame("Crawler", "validatedDocs",
        d => Seq("validated" -> validated, "fetches" -> (edgar.calls.value - f0),
          "limiter_wait_s" -> (edgar.waitNanos.value - w0) / 1e9)) {
      val all = Crawler.validatedDocs(spark, cands,
        todo.select(col("main_index"), col("norm_target"), col("norm_acquirer")),
        fetcher, globalRate = 1e9)
      // traced, the fetched bodies are kept so that counting them fetches
      // nothing again and `fetches` holds only the layer's own calls
      val fetched = if (tr.enabled) all.localCheckpoint() else all
      if (tr.enabled) validated = tr.probe(fetched.count().toDouble)
      // one filing per deal, the first by url, as the reference crawler
      // keeps the first filing that validates
      Rank.top1(fetched.withColumn("__p", lit(1.0)), "main_index", "__p", "url").drop("__p")
    }
    val docsOnce = once(tr, docs)
    val input = docsOnce.join(batch, Seq("main_index")).select(
      col("main_index").as("doc_id"), col("target_name").as("company_a"),
      col("acquirer_name").as("company_b"), col("content"))
    val records = Extraction.identify(tr, spark, Extraction.sections(tr, input), llm)
    Extraction.sink(tr, "writeBucketed", store) {
      Sinks.writeBucketed(docsOnce.select(col("main_index"), col("url"),
        lit(null).cast("string").as("record")), storeUri, "main_index")
    }
    Extraction.sink(tr, "mergeUpdate", store) {
      Sinks.mergeUpdate(spark, storeUri, "main_index",
        records.select(col("INDEX").as("main_index"), to_json(struct(
          col("INITIATOR"), col("DATE_OF_INITIATION"), col("TYPE_OF_INITIATION"),
          col("REASON"))).as("record")), "record")
    }
    input
  }

  /** Traced frames are materialized already. */
  private def once(tr: Tracer, df: DataFrame): DataFrame =
    if (tr.enabled) df else df.localCheckpoint()

  private def storeRows(): Seq[(Long, String, String)] =
    spark.read.parquet(storeUri).select("main_index", "url", "record")
      .as[(Long, String, String)].collect().toSeq

  /** Stored rows for batch `b`: see [[DealBatches.checkRows]]. */
  private def checkBatch(b: Int): Seq[String] =
    checkRows(storeRows().filter(r => r._1 / batchSize == b),
      deals.slice(b * batchSize, (b + 1) * batchSize), expectRecord)

  def finish(): (Seq[String], Map[String, Double]) = {
    val resent = resend(sent.last)
    val batches = sent.toSet
    val expected = deals.filter(d => batches.contains((d.index / batchSize).toInt))
    val rows = storeRows()
    val errs = resent ++ checkRows(rows, expected, expectRecord) ++
      rows.filterNot(r => batches.contains((r._1 / batchSize).toInt))
        .map(r => s"deal ${r._1}: stored but never sent")
    (errs, Map("extract_coverage" -> coverage()))
  }

  /** Share of the planted sections among this run's fetched filings that
    * `Pipeline.extractSections` returns once, with the section's header
    * line and the prompt header naming both parties. The stored records
    * cannot show this: the stub LLM types any text. A miss is reported
    * (stderr) but is not a failed check, so the metric can move. */
  private def coverage(): Double = {
    val docs = extracted.reduce(_ unionByName _)
    val ids = docs.select("doc_id").as[Long].collect().toSet
    val got = Pipeline.extractSections(docs).select("doc_id", "content")
      .as[(Long, String)].collect().toSeq
    val names = deals.map(d => d.index -> (d.target, d.acquirer)).toMap
    val (misses, covered, planted) = Extraction.coverage(got, specs.filter(x => ids(x._1)), names)
    misses.take(5).foreach(m => System.err.println(s"[perfbench] coverage: $m"))
    covered.toDouble / math.max(1, planted)
  }
}

object DealBatches {
  val ValidShare = 0.8
  val PreseededRecord = """{"INITIATOR":"Unknown","TYPE_OF_INITIATION":"Mutual"}"""

  /** Store rows (main_index, url, record) against the sent deals: exactly
    * one row per deal that validates and none for the others; a record
    * with a valid initiation type iff `expectRecord`. */
  def checkRows(rows: Seq[(Long, String, String)], expected: Seq[Gen.Deal],
      expectRecord: Gen.Deal => Boolean): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val byIdx = rows.groupBy(_._1)
    expected.foreach { d =>
      val got = byIdx.getOrElse(d.index, Nil)
      if (!d.validates) {
        if (got.nonEmpty) errs += s"deal ${d.index}: stored but never validates"
      } else if (got.size != 1) errs += s"deal ${d.index}: ${got.size} stored rows"
      else {
        val rec = got.head._3
        if (expectRecord(d) != (rec != null))
          errs += s"deal ${d.index}: record ${if (rec == null) "missing" else "unexpected"}"
        if (rec != null) {
          val t = """"TYPE_OF_INITIATION":"([^"]*)"""".r.findFirstMatchIn(rec).map(_.group(1))
          if (!t.exists(Clients.initiationTypes.contains))
            errs += s"deal ${d.index}: invalid initiation type in $rec"
        }
      }
    }
    errs.result()
  }
}

// ------------------------------------------------------------------------

/** Passes over a corpus with planted near-duplicate clusters and clustered
  * embeddings: MinHash pairs, star-contraction verdicts, triangle counts
  * over the pair graph, routed semantic dedup, and HNSW search. */
final class CorpusCurate(spark: SparkSession, dir: Path, seed: Long, numDocs: Int = 400,
    docChars: Int = 2000, numVectors: Int = 600, numQueries: Int = 30) extends Workload {
  import CorpusCurate._
  import spark.implicits._

  private val corpus = Gen.dupCorpus(seed, numDocs, docChars, ClusteredShare)
  private val emb = Gen.embeddings(seed, numVectors, VecClusteredShare, numQueries)
  private var truthKnn: Map[Long, Set[Long]] = Map.empty
  private var last: Option[Collected] = None

  private final case class Collected(pairs: Seq[(Long, Long)], verdicts: Seq[(Long, Long, Boolean)],
      triangles: Seq[(Long, Long)], sem: Seq[(Long, Long)], knn: Seq[(Long, Long)])

  private def docsPath = dir.resolve("docs").toString
  private def targetsPath = dir.resolve("targets").toString
  private def queriesPath = dir.resolve("queries").toString

  def setup(): Unit = {
    corpus.docs.toDF("id", "text").write.parquet(docsPath)
    emb.targets.toDF("tid", "te").write.parquet(targetsPath)
    emb.queries.toDF("qid", "qe").write.parquet(queriesPath)
    truthKnn = Similarity.knnBruteForce(spark.read.parquet(queriesPath),
        spark.read.parquet(targetsPath), K)
      .select("qid", "tid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    Workload.writeText(dir.resolve("truth.json"), Json.render(Map(
      "dup_clusters" -> corpus.clusters.map(_.toSeq),
      "vector_clusters" -> emb.clusters.map(_.toSeq),
      "knn_top5" -> truthKnn.toSeq.sortBy(_._1).map { case (q, ts) =>
        Map("qid" -> q, "tids" -> ts.toSeq.sorted) })))
  }

  def op(tr: Tracer): OpResult = {
    val docs = spark.read.parquet(docsPath)
    val targets = spark.read.parquet(targetsPath)
    val pairs0 = tr.frame("ops.Dedup", "minhashDedupPairs", d => Seq(
        "pairs" -> d.count().toDouble,
        "candidate_pairs" -> Dedup.minhashCandidates(docs, "id", "text").count().toDouble)) {
      Dedup.minhashDedupPairs(docs, "id", "text")
    }
    // two consumers read the pair table, so the client computes it once
    val pairs = if (tr.enabled) pairs0 else pairs0.localCheckpoint()
    val verdicts = tr.result("ops.Components", "starVerdicts")(
      Components.starVerdicts(pairs))(
      _.select("id", "rep", "keep").as[(Long, Long, Boolean)].collect().toSeq)
    val tri = tr.result("ops.Graph", "triangleCounts")(Graph.triangleCounts(pairs))(
      _.select(col("node").cast("long"), col("n_tri").cast("long"))
        .as[(Long, Long)].collect().toSeq)
    tr.span("ops.Similarity", "semanticDedupRoute")(tr.count("route_index",
      if (Similarity.semanticDedupRoute(numVectors) == "index") 1 else 0))
    val sem = tr.result("ops.Similarity", "semanticDedup")(
      Similarity.semanticDedup(targets, Gen.Dim, MinCos))(
      _.select("id_1", "id_2").as[(Long, Long)].collect().toSeq)
    val knn = tr.result("ops.Similarity", "knnHnsw")(
      Similarity.knnHnsw(spark.read.parquet(queriesPath), targets, Gen.Dim, K))(
      _.select("qid", "tid").as[(Long, Long)].collect().toSeq)
    val pairRows = pairs.select("id_1", "id_2").as[(Long, Long)]
    OpResult(numDocs, () => {
      val c = Collected(pairRows.collect().toSeq, verdicts, tri, sem, knn)
      last = Some(c)
      CorpusCurate.check(c.pairs, c.verdicts, c.triangles, c.sem, corpus, emb) ++
        (if (recall(c.knn) < MinRecall) Seq(f"recall@5 ${recall(c.knn)}%.3f below $MinRecall") else Nil)
    })
  }

  private def recall(knn: Seq[(Long, Long)]): Double = {
    val got = knn.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    truthKnn.toSeq.map { case (q, ts) =>
      (ts intersect got.getOrElse(q, Set.empty)).size.toDouble / ts.size
    }.sum / math.max(1, truthKnn.size)
  }

  def finish(): (Seq[String], Map[String, Double]) = last match {
    case None => (Seq("no pass completed"), Map.empty)
    case Some(c) =>
      val found = c.pairs.toSet intersect corpus.pairs
      (Nil, Map("dup_pair_recall" -> found.size.toDouble / corpus.pairs.size,
        "recall_at_5" -> recall(c.knn)))
  }
}

object CorpusCurate {
  val ClusteredShare = 0.4
  val VecClusteredShare = 0.2
  val K = 5
  val MinCos = 0.9
  /** HNSW must keep at least this top-5 recall against brute force. */
  val MinRecall = 0.8

  /** Output checks of one pass against the planted clusters:
    *  - every MinHash pair lies inside one planted cluster;
    *  - one keeper per planted cluster: its members share one rep, and
    *    exactly one of them is kept (the rep itself);
    *  - triangle counts equal a recount over the pair graph;
    *  - semantic dedup pairs equal the planted vector-cluster pairs. */
  def check(pairs: Seq[(Long, Long)], verdicts: Seq[(Long, Long, Boolean)],
      triangles: Seq[(Long, Long)], sem: Seq[(Long, Long)],
      corpus: Gen.DupCorpus, emb: Gen.Embeddings): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val extra = pairs.filterNot(corpus.pairs.contains)
    if (extra.nonEmpty) errs += s"${extra.size} dedup pairs outside planted clusters, e.g. ${extra.head}"
    if (pairs.distinct.size != pairs.size) errs += "duplicate dedup pairs"
    val v = verdicts.map(x => x._1 -> x).toMap
    if (v.size != verdicts.size) errs += "duplicate verdict ids"
    corpus.clusters.foreach { c =>
      val vs = c.flatMap(v.get)
      val reps = vs.map(_._2).toSet
      val keeps = vs.count(_._3)
      if (vs.size != c.size || reps.size != 1 || keeps != 1 || !vs.exists(x => x._3 && x._1 == x._2))
        errs += s"cluster of ${c.size} at ${c.head}: ${vs.size} verdicts, ${reps.size} reps, $keeps keepers"
    }
    val clustered = corpus.clusters.flatten.toSet
    verdicts.filterNot(x => clustered.contains(x._1)).take(1)
      .foreach(x => errs += s"verdict for unclustered doc ${x._1}")
    val expectTri = triangleCount(pairs)
    if (triangles.toMap != expectTri || triangles.size != expectTri.size)
      errs += s"triangle counts differ from a recount (${triangles.size} vs ${expectTri.size} nodes)"
    if (sem.toSet != emb.pairs || sem.size != emb.pairs.size)
      errs += s"semantic dedup found ${sem.size} pairs, planted ${emb.pairs.size}"
    errs.result()
  }

  /** Triangles per node of an undirected graph, by neighbour-set intersection. */
  def triangleCount(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    pairs.foreach { case (a, b) => if (a != b) { adj(a) += b; adj(b) += a } }
    val counts = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, na) <- adj; b <- na if a < b; c <- na intersect adj(b) if b < c) {
      counts(a) += 1; counts(b) += 1; counts(c) += 1
    }
    counts.toMap
  }
}
