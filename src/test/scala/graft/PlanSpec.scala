package graft

/** Physical-plan quality assertions (the 100 TB posture, SURVEY.md §4):
  * filters and projections must reach the parquet scan, small sides must
  * broadcast, aggregates must be partial (map-side combine), and the hot
  * paths must stay inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  /** Final (post-AQE) plan — codegen stage markers only appear here. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("s1: predicate pushdown + column pruning reach the scan") {
    val p = plan("s1_scan_project")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("LessThan(l_shipdate") || p.contains("l_shipdate"),
      "shipdate filter should be pushed")
    // pruned read schema: no l_tax / l_returnflag etc.
    assert(!p.contains("l_returnflag"), "unused columns must be pruned")
  }

  test("j1: dimension side is broadcast, no sort-merge shuffle") {
    val p = plan("j1_lookup_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q1: aggregation is partial (map-side combine) and codegen'd") {
    assert(plan("q1_agg").contains("partial_sum"),
      "expected partial aggregation")
    assert(finalPlan("q1_agg").contains("*("),
      "expected whole-stage codegen stages")
  }

  test("chunker plans as a Generate node (UDTF), not a shuffle") {
    val p = plan("t1_chunk_split")
    assert(p.contains("Generate"), p.take(2000))
  }

  test("knn: query side broadcast — single pass over targets") {
    val p = plan("knn_bruteforce")
    assert(p.contains("BroadcastExchange"), p.take(2000))
  }

  test("anti-join resume stays a broadcast join at this scale") {
    val p = plan("j4_anti_join")
    assert(p.contains("LeftAnti"), p.take(2000))
  }

  test("q5: all five dimensions broadcast — one shuffle join at most") {
    val p = plan("q5_local_supplier")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts")
    val smj = "SortMergeJoin".r.findAllIn(p).length
    assert(smj <= 1, s"expected at most one shuffle join, got $smj")
  }

  test("minhash dedup: no shuffle before the band-bucket join") {
    // signature is a per-row scalar expression: the first exchange in the
    // plan must be on derived keys (band/bucket or candidate ids), never a
    // shingle-explode aggregation
    val p = plan("d3_minhash_lsh")
    assert(p.contains("minhash_sig"), "expected the scalar signature expr")
    assert(!p.contains("Generate explode(shingle"),
      "shingles must not be exploded for signatures")
  }

  test("j9: bucketed co-located join needs no exchange on either side") {
    // force the join itself (no broadcast) to prove bucketing carries it
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("j9_bucketed_join")(spark, sf("sf0.001"))
      val joinPlan = df.queryExecution.executedPlan.toString
      // aggregation above may shuffle; the JOIN inputs must not
      assert(joinPlan.contains("SortMergeJoin"), joinPlan.take(2000))
      val joinSection = joinPlan.substring(joinPlan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange"),
        "bucketed join inputs must be exchange-free:\n" + joinSection.take(3000))
      assert(df.collect().nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("d2 jaccard: bucket exchange reused, pairs explode map-side (no self-join)") {
    val df = SparkEntry.queries("d2_ngram_jaccard")(spark, sf("sf0.001"))
    df.collect() // AQE-final plan
    val p = df.queryExecution.executedPlan.toString
    // the shingle table is grouped ONCE and shared between the pair and
    // size consumers — not shuffled twice for an a-join-b self-join
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage"),
      "expected the bucket exchange to be reused:\n" + p.take(3000))
    // candidate pairs come from a Generate over the bucketed id lists
    assert(p.contains("Generate explode"), p.take(3000))
  }

  test("d4 simhash: bounded buckets, pairs explode map-side, no band self-join") {
    val df = SparkEntry.queries("d4_simhash")(spark, sf("sf0.001"))
    df.collect() // AQE-final plan
    val p = df.queryExecution.executedPlan.toString
    // candidate pairs come from a Generate over the bounded bucket lists
    assert(p.contains("Generate explode"), p.take(3000))
    // no join keys on the band/bucket columns anywhere: the only joins are
    // the candidate-id SimHash lookups (the old a-join-b shape shuffled the
    // banded table twice and was quadratic in bucket occupancy)
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.forall(l => !l.contains("bucket")),
      "band-bucket self-join shape must not remain:\n" + joinLines.mkString("\n"))
  }

  test("pipeline: chunk exchange is shared across consumers (ReuseExchange)") {
    // the doc_id repartition after the chunk Generator must be reused by
    // the cascade/assembly/enrichment branches instead of re-chunking
    val p = finalPlan("pipeline_extract")
    assert(p.contains("ReusedExchange"), p.take(2000))
  }

  test("j7: range join broadcasts the deal side — one pass over the fact table") {
    val p = plan("j7_range_join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
  }

  test("j6: salted join replicates only the small side") {
    // the big (salted) side must NOT be broadcast; the small replicated side
    // joins hash-to-hash on (key, salt)
    val p = plan("j6_salted_join")
    assert(p.contains("__salt") || p.contains("salt"), p.take(2000))
  }

  test("custom expressions do not break codegen") {
    // fuzz_ratio / month_shift_reset / nfkc implement doGenCode — a plan
    // using them should still show codegen stages
    val p = finalPlan("f2_month_shift")
    assert(p.contains("*("), "expected whole-stage codegen with custom expr")
  }

  test("curate_sample: one scan of documents feeds the whole lineage") {
    // quality gate and the fingerprint dedup window derive from one
    // projection — a second documents scan would mean the profile is
    // being recomputed per consumer. Asserted on the pre-budget stage:
    // the budget stage localCheckpoints it, which hides the upstream
    // plan from the final query's executedPlan.
    val p = graft.queries.DataPipelineQueries
      .curateDeduped(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    val scans = "documents\\.parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n${p.take(1500)}")
  }

  test("curate_sample: no partition-less window anywhere in the lineage") {
    // the budget prefix must be the distributed shape (range partitions +
    // broadcast offsets), never a global running-sum window funneling the
    // whole deduped corpus through one task — checked on the physical
    // plans of BOTH stages (the final plan's upstream is hidden behind
    // the budget stage's localCheckpoint, so the pre-budget stage is
    // asserted separately)
    def windows(df: org.apache.spark.sql.DataFrame) =
      PlanSpec.collectWindows(df.queryExecution.executedPlan)
    val full = windows(
      SparkEntry.queries("curate_sample")(spark, sf("sf0.001")))
    assert(full.nonEmpty, "expected the per-range running-sum window")
    assert(full.forall(_.partitionSpec.nonEmpty),
      "curate_sample has a partition-less WindowExec")
    val dedup = windows(graft.queries.DataPipelineQueries
      .curateDeduped(spark, sf("sf0.001")))
    assert(dedup.nonEmpty && dedup.forall(_.partitionSpec.nonEmpty),
      "curate_sample's dedup stage has a partition-less WindowExec")
  }

  test("deal table index assignment has no partition-less window") {
    // Sources.deals derives main_index via the ranged running count —
    // same distributed shape as the curate_sample budget prefix
    val dir = java.nio.file.Files.createTempDirectory("deals-plan").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "deals.csv"),
      (0 until 20).map(i => s"d$i,1/8/2001,T$i Inc,A$i Corp" + "," * 150)
        .mkString("\n"))
    val ws = PlanSpec.collectWindows(
      graft.io.Sources.deals(spark, s"$dir/deals.csv")
        .queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "deals main_index must not use a global window")
  }

  test("d8 decontamination: benchmark gram set broadcasts, corpus never shuffles text") {
    // the corpus side must meet the benchmark grams through a broadcast
    // hash join (benchmarks are MBs against a 100 TB corpus); a sort-merge
    // join here would shuffle the full corpus gram table
    val p = plan("d8_decontaminate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
    // single-pass shape: exactly two documents scans total (benchmark side
    // + corpus side) — a third means the corpus is being re-scanned and
    // re-shingle-hashed for the gram count, the pre-round-7 double cost
    val scans = "documents\\.parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 documents scans (bench + corpus), " +
      s"got $scans:\n${p.take(1500)}")
  }

  test("bm25: one-row stats broadcast, no text shuffle, top-k not global sort") {
    val p = plan("bm25_rank")
    // the (N, sumdl, df) row meets the corpus through a broadcast join
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // no hash-partitioned shuffle anywhere: the only exchange is the
    // one-row aggregate's SinglePartition gather
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    // top-k must be TakeOrderedAndProject, never a global range sort
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(2000))
  }

  test("d9 span dedup: only 8-byte keys shuffle — span text never does") {
    val p = plan("d9_span_dedup")
    // every hash exchange keys on the span hash or the doc id; a __s or
    // clean_text key would mean the corpus text is crossing the wire to
    // make the dedup decision
    val keys = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(keys.nonEmpty && keys.subsetOf(Set("__h", "doc_id", "__i")),
      s"unexpected shuffle keys $keys:\n${p.take(1500)}")
    // keep-first is an aggregation, not a global window
    assert(PlanSpec.collectWindows(
      SparkEntry.queries("d9_span_dedup")(spark, sf("sf0.001"))
        .queryExecution.executedPlan).isEmpty,
      "span dedup must not use window functions")
  }

  test("temperature sample: derived rates broadcast back, corpus scans stay map-side") {
    val p = plan("sample_temperature")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    // hash exchanges exist only on the tiny per-stratum counts subtree
    // (keyed on the stratum — one per consumer of the counts frame); the
    // kept-row filter itself must never shuffle corpus rows by doc_id
    val keys = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(keys.subsetOf(Set("source", "lang")),
      s"unexpected shuffle keys $keys:\n${p.take(1500)}")
  }

  test("mixture sample / pii scrub / repetition / bpe count plan as pure map stages") {
    // filters and per-row folds only — any Exchange before the final
    // orderBy means the operator stopped being a scan-time decision
    for (q <- Seq("sample_mixture", "pii_scrub", "ta_repetition",
        "ta_tokens_bpe", "split_assign", "filter_funnel")) {
      val p = plan(q)
      // count shuffle exchanges only — "Exchange " alone would also match
      // BroadcastExchange and silently miscount a future broadcast join
      val exchanges =
        "Exchange (hashpartitioning|rangepartitioning|SinglePartition)"
          .r.findAllIn(p).length
      // exactly the single range-partition exchange of the output orderBy
      assert(exchanges <= 1, s"$q: expected <=1 exchange, got $exchanges:\n" +
        p.take(1500))
    }
  }

  test("curate_quantile: histogram percentile, no partition-less window") {
    // the cumulative count must run through the ranged-running-sum shape
    // (windows keyed on the range id), and the corpus side must stay a
    // filter — no global sort of documents anywhere
    val df = SparkEntry.queries("curate_quantile")(spark, sf("sf0.001"))
    val ws = PlanSpec.collectWindows(df.queryExecution.executedPlan)
    assert(ws.forall(_.partitionSpec.nonEmpty),
      "curate_quantile has a partition-less WindowExec")
  }

  test("d7b: bloom pre-gate reaches the scan; only positives meet the join") {
    val p = plan("d7b_bloom_dedup")
    // the membership test (element_at over the literal word array +
    // dynamic shiftright) must appear as a scan-stage Filter — i.e. the
    // pre-gate runs map-side before any join
    assert(p.contains("shiftright"),
      s"bloom bit test missing from physical plan:\n${p.take(1500)}")
    // the anti-join runs only on the bloom-positive side; Catalyst pushes
    // it through the 2-leg batch union (fresh + resubmissions), so 1 or 2
    // instances — more would mean the admitted branch started joining
    val antiJoins = "LeftAnti".r.findAllIn(p).length
    assert(antiJoins >= 1 && antiJoins <= 2,
      s"expected 1-2 anti-joins (one per batch leg), got $antiJoins")
    // and a join-free admitted branch exists: its filter is the NEGATED
    // probe (NOT bit0 OR NOT bit1 OR NOT bit2)
    assert(p.contains("NOT ((shiftright"),
      "no join-free bloom-negative branch in the plan")
    // the literal-array probe is pure Catalyst — codegen stages survive
    assert(finalPlan("d7b_bloom_dedup").contains("*("),
      "expected whole-stage codegen around the bloom probe")
  }

  test("bigram/dsir model shuffles carry only 8-byte hashes and the doc id") {
    // the model-then-score shape must shuffle word/bigram HASHES and the
    // final per-doc regroup — never corpus text by any other key, and
    // never a partition-less window
    for ((q, ok) <- Seq(
        "ta_bigram_logprob" -> Set("__h1", "__h12", "doc_id"),
        "dsir_weights" -> Set("__h", "doc_id"))) {
      val p = plan(q)
      val keys = "Exchange hashpartitioning\\((\\w+)".r
        .findAllMatchIn(p).map(_.group(1).takeWhile(_ != '#')).toSet
      assert(keys.subsetOf(ok), s"$q: unexpected shuffle keys $keys")
    }
  }

  test("zorder: the Morton key is a pure map-stage expression; stats " +
      "aggregate partially with no window and no join") {
    val p = plan("zorder_stats")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      "expected map-side partial aggregation")
    assert(PlanSpec.collectWindows(SparkEntry.queries("zorder_stats")(
      spark, sf("sf0.001")).queryExecution.executedPlan).isEmpty,
      "zorder_stats must not window")
    assert(!p.contains("Join"), "zorder_stats must not join")
  }

  test("d8d: benchmark side broadcasts; per-doc max aggregates partially") {
    val p = plan("d8d_semantic_decon")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "bench x corpus must never shuffle-join")
    assert(p.contains("partial_max"), "expected partial max aggregation")
  }

  test("ta_langid_ngram: every window is per-doc; the profile join " +
      "broadcasts") {
    val df = SparkEntry.queries("ta_langid_ngram")(spark, sf("sf0.001"))
    val ws = PlanSpec.collectWindows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected the doc-profile and argmin rank windows")
    assert(ws.forall(_.partitionSpec.nonEmpty),
      "ta_langid_ngram has a partition-less WindowExec")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastHashJoin"),
      "language profiles must broadcast, never shuffle the trigram side")
  }

  test("ta_langid_map: the kernel classification is a pure map stage — " +
      "no hash exchange, no window, no generate") {
    val df = SparkEntry.queries("ta_langid_map")(spark, sf("sf0.001"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      "map-stage langid must not shuffle: " + p.take(1500))
    assert(PlanSpec.collectWindows(df.queryExecution.executedPlan).isEmpty)
    assert(!p.contains("Generate "), "map-stage langid must not explode")
  }

  test("round-8 batch ops keep their scale shapes: manifest aggregates " +
      "partially, span plan and readability stay map-side, AV-align " +
      "windows are per-doc") {
    val manifest = plan("export_manifest")
    assert(manifest.contains("partial_count") ||
      manifest.contains("partial_sum"), "manifest must combine map-side")
    val span = SparkEntry.queries("span_corruption_plan")(
      spark, sf("sf0.001"))
    assert(PlanSpec.collectWindows(span.queryExecution.executedPlan).isEmpty)
    assert(!span.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "span plan must not shuffle")
    val read = SparkEntry.queries("ta_readability")(spark, sf("sf0.001"))
    assert(!read.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "readability must not shuffle")
    val av = SparkEntry.queries("mm_av_align")(spark, sf("sf0.001"))
    val ws = PlanSpec.collectWindows(av.queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "mm_av_align must window per doc only")
  }

  test("knn_ivf_updated: the probe set prunes index partitions " +
      "statically (appended files included)") {
    val df = SparkEntry.queries("knn_ivf_updated")(spark, sf("sf0.001"))
    val p = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      "expected a partition filter on cell in the index scan: " +
        p.take(2000))
  }

  test("round-9 shapes: trained-tokenizer application is a pure map " +
      "stage; filtered IVF pushes the label predicate to the scan; " +
      "langid accuracy aggregates partially off the kernel") {
    // kernel + store-roundtrip application: scan -> filter -> project ->
    // order. No hash shuffle, no window, no explode — the trained
    // tokenizer costs the same plan as any scalar expression.
    Seq("bpe_train_kernel", "bpe_store_roundtrip").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name must not hash-shuffle: " + p.take(1500))
      assert(PlanSpec.collectWindows(df.queryExecution.executedPlan).isEmpty,
        s"$name must not window")
      assert(!p.contains("Generate "), s"$name must not explode")
    }
    // filtered IVF: label predicate reaches the parquet scan pushed, and
    // the per-query ranking windows stay per-qid
    val ivf = SparkEntry.queries("knn_ivf_filtered")(spark, sf("sf0.001"))
    val pIvf = ivf.queryExecution.executedPlan.toString
    assert(pIvf.contains("PushedFilters") && pIvf.contains("label"),
      "label predicate must push to the embeddings scan: " + pIvf.take(1500))
    val ws = PlanSpec.collectWindows(ivf.queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "filtered IVF ranking must window per qid only")
    // accuracy confusion row: kernel map stage into a partial aggregate
    val acc = SparkEntry.queries("ta_langid_accuracy")(spark, sf("sf0.001"))
    val pAcc = acc.queryExecution.executedPlan.toString
    assert(pAcc.contains("partial_count") || pAcc.contains("partial_sum"),
      "accuracy row must combine map-side: " + pAcc.take(1500))
    assert(!pAcc.contains("Generate "), "accuracy row must not explode")
  }

  test("maintenance ops: table_stats is ONE scan of lineitem; skew_report " +
      "has no partition-less window; snapshot_diff shuffles ids+md5 only") {
    val stats = SparkEntry.queries("table_stats")(spark, sf("sf0.001"))
    val pStats = stats.queryExecution.executedPlan.toString
    assert(pStats.split("Scan parquet").length - 1 == 1,
      "table_stats must read lineitem exactly once: " + pStats.take(1200))
    val skew = SparkEntry.queries("skew_report")(spark, sf("sf0.001"))
    assert(PlanSpec.collectWindows(skew.queryExecution.executedPlan)
        .forall(_.partitionSpec.nonEmpty),
      "skew_report must not have a partition-less window")
    val diff = SparkEntry.queries("snapshot_diff")(spark, sf("sf0.001"))
    val pDiff = diff.queryExecution.executedPlan.toString
    // the join inputs project to (doc_id, md5) before any exchange: no
    // raw text column appears in an Exchange's partitioning
    val exchanges = pDiff.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(!_.contains("text")),
      "snapshot_diff must never shuffle document text: " +
        exchanges.mkString("; "))
  }

  test("round-9 tail ops keep their scale shapes: funnel aggregates " +
      "partially, percentile windows are per-type over the histogram, " +
      "HLL merge combines map-side") {
    val funnel = SparkEntry.queries("conversion_funnel")(spark, sf("sf0.001"))
    val pF = funnel.queryExecution.executedPlan.toString
    assert(pF.contains("partial_min") || pF.contains("partial_count"),
      "funnel min-aggregations must combine map-side: " + pF.take(1200))
    assert(PlanSpec.collectWindows(funnel.queryExecution.executedPlan).isEmpty,
      "conversion_funnel needs no window at all")
    val pct = SparkEntry.queries("event_value_percentiles")(
      spark, sf("sf0.001"))
    val ws = PlanSpec.collectWindows(pct.queryExecution.executedPlan)
    // the cumulative sum must run through the RANGED shape: every window
    // partitions by the range id (__pid), never by event_type alone — a
    // per-type partition funnels a dominant type's whole lattice through
    // one task, the r9 minor this guard now excludes
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "percentile windows must be partitioned")
    assert(ws.forall(_.partitionSpec.exists(_.toString.contains("__pid"))),
      "percentile cumulative sum must partition by the range id, not " +
        "event_type alone: " + ws.map(_.partitionSpec).mkString("; "))
    val hll = SparkEntry.queries("approx_ndv_merged")(spark, sf("sf0.001"))
    val pH = hll.queryExecution.executedPlan.toString
    assert(pH.contains("partial_max") || pH.contains("partial_count"),
      "register maxima must combine map-side: " + pH.take(1200))
    assert(PlanSpec.collectWindows(hll.queryExecution.executedPlan).isEmpty,
      "hll merge needs no window")
    // quantile sketch: shard histograms combine map-side, and the only
    // window runs over the BOUNDED merged bucket lattice partitioned per
    // group — never over event rows
    val qs = SparkEntry.queries("approx_percentiles_merged")(
      spark, sf("sf0.001"))
    val pQ = qs.queryExecution.executedPlan.toString
    assert(pQ.contains("partial_count") || pQ.contains("partial_sum"),
      "shard histograms must combine map-side: " + pQ.take(1500))
    val qws = PlanSpec.collectWindows(qs.queryExecution.executedPlan)
    assert(qws.nonEmpty && qws.forall(_.partitionSpec.nonEmpty),
      "quantile-sketch window must partition per group")
  }

  test("qc: classifier distillation keeps bounded shapes — split argmin " +
      "is a hash aggregation (no window anywhere), leaf/model tables " +
      "broadcast, NB per-doc sums combine map-side") {
    // tree training runs inside the builder (driver loop, bounded
    // collects); the returned plans must carry no window at all — the
    // argmin is min_by, the leaf join broadcast
    val score = SparkEntry.queries("qc_tree_score")(spark, sf("sf0.001"))
    assert(PlanSpec.collectWindows(score.queryExecution.executedPlan).isEmpty,
      "qc_tree_score must not window")
    val pScore = score.queryExecution.executedPlan.toString
    assert(pScore.contains("BroadcastHashJoin"),
      "leaf-prediction join must broadcast: " + pScore.take(1500))
    val train = SparkEntry.queries("qc_tree_train")(spark, sf("sf0.001"))
    assert(train.queryExecution.executedPlan.toString
        .contains("LocalTableScan"),
      "qc_tree_train output is the bounded collected split table")
    val nb = SparkEntry.queries("qc_nb_score")(spark, sf("sf0.001"))
    assert(PlanSpec.collectWindows(nb.queryExecution.executedPlan).isEmpty,
      "qc_nb_score must not window")
    val pNb = nb.queryExecution.executedPlan.toString
    assert(pNb.contains("partial_sum"),
      "NB per-doc delta sums must combine map-side: " + pNb.take(1500))
    assert(pNb.contains("BroadcastHashJoin"),
      "NB model join must broadcast: " + pNb.take(1500))
  }

  test("round-10 ops keep their scale shapes: tombstoned IVF probe still " +
      "prunes partitions and broadcasts the tombstones; approx table " +
      "stats aggregate map-side with only bounded windows; the stored " +
      "sketch merge reads histogram stores, not events") {
    val del = SparkEntry.queries("knn_ivf_deleted")(spark, sf("sf0.001"))
    val pDel = del.queryExecution.executedPlan.toString
    assert(pDel.contains("PartitionFilters") && pDel.contains("cell"),
      "deleted-index probe must still prune cell partitions: " +
        pDel.take(1500))
    assert(pDel.contains("BroadcastHashJoin") &&
      pDel.contains("LeftAnti"),
      "tombstone anti-join must broadcast: " + pDel.take(1500))
    val ats = SparkEntry.queries("approx_table_stats")(spark, sf("sf0.001"))
    val pAts = ats.queryExecution.executedPlan.toString
    assert(pAts.contains("partial_count") || pAts.contains("partial_sum"),
      "sketch aggregations must combine map-side: " + pAts.take(1500))
    assert(PlanSpec.collectWindows(ats.queryExecution.executedPlan)
        .forall(_.partitionSpec.nonEmpty),
      "approx stats windows must partition per group")
    val stored = SparkEntry.queries("approx_percentiles_stored")(
      spark, sf("sf0.001"))
    val pSt = stored.queryExecution.executedPlan.toString
    // the merge path reads the two persisted histogram stores — the
    // events table itself must not appear in the final plan's scans
    assert(!pSt.contains("events.parquet"),
      "stored-sketch merge must read histogram stores, not events: " +
        pSt.take(1500))
    // dataset card: ONE corpus scan feeds all four kernels, aggregation
    // combines map-side, no window anywhere
    val card = SparkEntry.queries("dataset_card")(spark, sf("sf0.001"))
    val pC = card.queryExecution.executedPlan.toString
    assert(pC.split("Scan parquet").length - 1 == 1,
      "dataset_card must read documents exactly once: " + pC.take(1500))
    assert(pC.contains("partial_count") || pC.contains("partial_sum"),
      "dataset_card aggregation must combine map-side: " + pC.take(1500))
    assert(PlanSpec.collectWindows(card.queryExecution.executedPlan).isEmpty,
      "dataset_card needs no window")
  }

  test("incremental family keeps its scale shapes: view merge combines " +
      "map-side with no window, cdc never shuffles text, scd2/eval " +
      "windows all partitioned") {
    // view merge: delta partials combine map-side; merge = group-by, no
    // window, and the store parquet is read (not recomputed from events)
    val mv = SparkEntry.queries("agg_view_maintain")(spark, sf("sf0.001"))
    val pMv = mv.queryExecution.executedPlan.toString
    assert(pMv.contains("partial_sum") || pMv.contains("partial_count"),
      "view merge must combine map-side: " + pMv.take(1200))
    assert(PlanSpec.collectWindows(mv.queryExecution.executedPlan).isEmpty,
      "view merge needs no window")
    assert(pMv.contains("aggview-base"),
      "maintained view must read the at-rest store: " + pMv.take(1200))
    // cdc: latest-wins is a bounded struct-max aggregation (no window),
    // and no exchange ever carries document text — only md5 fingerprints
    val cdc = SparkEntry.queries("cdc_apply")(spark, sf("sf0.001"))
    val pCdc = cdc.queryExecution.executedPlan.toString
    assert(PlanSpec.collectWindows(cdc.queryExecution.executedPlan).isEmpty,
      "cdc latest-wins must be an aggregation, not a window")
    val exchanges = pCdc.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(!_.contains("text")),
      "cdc_apply must never shuffle document text: " +
        exchanges.mkString("; "))
    // scd2: every window partitions by the key
    val scd = SparkEntry.queries("cdc_scd2")(spark, sf("sf0.001"))
    val wScd = PlanSpec.collectWindows(scd.queryExecution.executedPlan)
    assert(wScd.nonEmpty && wScd.forall(_.partitionSpec.nonEmpty),
      "scd2 windows must partition by key")
    // retrieval eval: top-k from the bounded TopKByKey aggregate (never
    // a rank window over the match set); remaining windows partition by
    // query over <= k exploded rows
    val ev = SparkEntry.queries("retrieval_eval")(spark, sf("sf0.001"))
    val pEv = ev.queryExecution.executedPlan.toString
    assert(pEv.contains("partial_top_k_by_key"),
      "retrieval_eval top-k must use the bounded aggregate, combined " +
        "map-side: " + pEv.take(1200))
    val wEv = PlanSpec.collectWindows(ev.queryExecution.executedPlan)
    assert(wEv.forall(_.partitionSpec.nonEmpty),
      "retrieval_eval windows must partition by query")
  }

  test("event analytics keep their scale shapes: anomaly medians run " +
      "through ranged windows, cohort cells aggregate partially, the " +
      "temporal join is equi-keyed (no cross product)") {
    val an = SparkEntry.queries("event_anomalies")(spark, sf("sf0.001"))
    val wAn = PlanSpec.collectWindows(an.queryExecution.executedPlan)
    assert(wAn.nonEmpty &&
      wAn.forall(_.partitionSpec.exists(_.toString.contains("__pid"))),
      "anomaly median cumulative sums must partition by the range id, " +
        "never by event_type alone: " +
        wAn.map(_.partitionSpec).mkString("; "))
    val co = SparkEntry.queries("cohort_retention")(spark, sf("sf0.001"))
    val pCo = co.queryExecution.executedPlan.toString
    assert(pCo.contains("partial_count") || pCo.contains("partial_min"),
      "cohort aggregation must combine map-side: " + pCo.take(1200))
    assert(PlanSpec.collectWindows(co.queryExecution.executedPlan).isEmpty,
      "cohort retention needs no window")
    val tj = SparkEntry.queries("scd2_temporal_join")(spark, sf("sf0.001"))
    val pTj = tj.queryExecution.executedPlan.toString
    assert(!pTj.contains("CartesianProduct") &&
        !pTj.contains("BroadcastNestedLoopJoin"),
      "temporal join must stay equi-keyed on the user with the interval " +
        "as residual: " + pTj.take(1200))
  }

  test("time-series ops keep their shapes: native session windows plan " +
      "no window function, the moving aggregate windows only the daily " +
      "lattice partitioned by type") {
    val sw = SparkEntry.queries("event_session_window")(
      spark, sf("sf0.001"))
    assert(PlanSpec.collectWindows(sw.queryExecution.executedPlan).isEmpty,
      "session_window must plan as the session aggregation operator, " +
        "not a window function")
    val mv = SparkEntry.queries("event_moving_sum7")(spark, sf("sf0.001"))
    val ws = PlanSpec.collectWindows(mv.queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "moving aggregate must window per type over the daily lattice")
    val pMv = mv.queryExecution.executedPlan.toString
    assert(pMv.contains("partial_count") || pMv.contains("partial_sum"),
      "daily pre-aggregation must combine map-side before the window: " +
        pMv.take(1200))
  }

  test("OLAP rollup and pivot are one-pass: rollup plans one scan with " +
      "an Expand, pivot one scan of conditional aggregates, no windows") {
    val ro = plan("event_rollup")
    assert(ro.split("Scan parquet").length - 1 == 1,
      "rollup must read events exactly once: " + ro.take(1200))
    assert(ro.contains("Expand"),
      "rollup must plan the grouping-set Expand, not per-level rescans: " +
        ro.take(1200))
    val gs = plan("event_grouping_sets")
    assert(gs.split("Scan parquet").length - 1 == 1,
      "grouping sets must read events exactly once: " + gs.take(1200))
    assert(gs.contains("Expand"),
      "grouping sets must plan the one-scan Expand: " + gs.take(1200))
    val pv = SparkEntry.queries("event_pivot")(spark, sf("sf0.001"))
    val pPv = pv.queryExecution.executedPlan.toString
    assert(pPv.split("Scan parquet").length - 1 == 1,
      "declared-values pivot must read events exactly once: " +
        pPv.take(1200))
    assert(PlanSpec.collectWindows(pv.queryExecution.executedPlan).isEmpty,
      "pivot needs no window")
  }

  test("wordpiece keeps the two-pass vocabulary shape: vocab counts " +
      "combine map-side, token counts broadcast the segment table, " +
      "no windows anywhere") {
    val v = SparkEntry.queries("wordpiece_vocab")(spark, sf("sf0.001"))
    val pV = v.queryExecution.executedPlan.toString
    assert(pV.contains("partial_sum"),
      "piece counting must combine map-side: " + pV.take(1200))
    assert(PlanSpec.collectWindows(v.queryExecution.executedPlan).isEmpty,
      "wordpiece vocab needs no window")
    val tc = SparkEntry.queries("ta_tokens_wordpiece")(spark, sf("sf0.001"))
    val pTc = tc.queryExecution.executedPlan.toString
    assert(pTc.contains("BroadcastHashJoin"),
      "token counting must broadcast the Zipf-bounded segment table: " +
        pTc.take(1200))
    assert(PlanSpec.collectWindows(tc.queryExecution.executedPlan).isEmpty,
      "token counting needs no window")
  }

  test("band index mine: tombstones broadcast into the anti-join, bucket " +
      "agg combines map-side, exchanges carry derived keys only") {
    val p = plan("d3_index_deleted")
    // the index is already at rest: mining must not re-signature anything
    assert(!p.contains("minhash_sig"),
      "pairs() must read persisted buckets, never recompute signatures")
    assert(p.contains("LeftAnti, BuildRight"),
      "tombstone exclusion must be a broadcast anti-join: " + p.take(1500))
    assert(p.contains("partial_bounded_long_list"),
      "bucket grouping must combine map-side (partial agg): " + p.take(1500))
    assert(p.contains("hashpartitioning(band"),
      "the only pre-candidate exchange is on (band, bucket)")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    // the live-id predicate must be pushed into BOTH documents scans
    // (Catalyst propagates the corpus filter through the text joins)
    assert("NOT \\(\\(doc_id#\\d+L % 7\\) = 3\\)".r
      .findAllIn(p).length >= 2,
      "live-corpus filter should reach the documents scans: " + p.take(1500))
  }

  test("mm decode path is serde-free: fixture synthesis + perceptual " +
      "hashing are codegen'd expressions, never Dataset.map") {
    // DedupPngPayload/PngDHash (and WAV/Y4M siblings) are unary Catalyst
    // expressions — a DeserializeToObject in these plans would mean the
    // hot decode path fell back to a Tungsten->JVM-object round trip
    for (q <- Seq("mm_image_dhash", "mm_audio_fingerprint",
        "mm_audio_neardup", "mm_image_neardup", "mm_video_luma",
        "mm_image_knn", "multimodal_dedup_apply",
        "mm_jpeg_dhash", "mm_jpeg_neardup", "mm_jpeg_color_dhash",
        "mm_jpeg420_dhash", "gzip_roundtrip", "mm_audio_energy")) {
      val p = plan(q)
      assert(!p.contains("DeserializeToObject") &&
        !p.contains("SerializeFromObject") && !p.contains("MapElements"),
        s"$q: decode path must stay relational:\n${p.take(1500)}")
    }
  }

  test("multimodal dedup keeps its scale shapes: incr-dedup screens on a " +
      "band equi-join + broadcast anti-join, kNN broadcasts the batch") {
    val incr = plan("mm_image_incr_dedup")
    assert(incr.contains("LeftAnti, BuildRight"),
      "hit exclusion must be a broadcast anti-join: " + incr.take(1500))
    assert(incr.contains("hashpartitioning(band") ||
      incr.contains("[band"),
      "cross-frame candidates must meet on (band, bucket): " + incr.take(1500))
    assert(!incr.contains("CartesianProduct"),
      "the Hamming screen must never go all-pairs")
    val knn = plan("mm_image_knn")
    assert(knn.contains("BroadcastNestedLoopJoin") ||
      knn.contains("BuildLeft"),
      "the query batch must broadcast into the store scan: " + knn.take(1500))
    assert(knn.contains("RunningWindowFunction") || knn.contains("Window"),
      "per-query top-k must be a bounded rank window")
  }

  test("hnsw construction: every level's candidate join is cell-keyed — " +
      "no cartesian product at any depth (the retired r14 geometry " +
      "built upper layers globally)") {
    import org.apache.spark.sql.functions._
    // big enough for cap >= 2, so upper levels exist and would have
    // been the global-crossJoin levels under the old geometry
    val t = spark.range(0, 120)
      .select(col("id").as("tid"),
        org.apache.spark.sql.functions.transform(
          sequence(lit(0), lit(7)),
          // (id+1)*(i+3) mod 127 with id+1 <= 120 < 127: never zero,
          // so no zero-norm vector trips the ANSI cosine division
          i => (pmod((col("id") + 1) * (i + lit(3)), lit(127))
            .cast("double") / 127d).cast("float")).as("te"))
    val adj = graft.ops.Similarity.hnswAdjacency(t, dim = 8, nCells = 8,
      m = 4)
    val p = adj.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "HNSW construction must never pair globally: " + p.take(1500))
    assert(p.contains("hashpartitioning(cell") || p.contains("[cell"),
      "per-level candidates must meet on the probe cell: " + p.take(1500))
    // the persisted store: a level filter on the at-rest adjacency must
    // prune to that lvl partition at the scan
    val path = graft.util.TempDirs.create("hnsw-plan") + "/g"
    graft.ops.Similarity.writeHnswIndex(t, path, dim = 8, nCells = 8,
      m = 4)
    val q = t.limit(4).select(col("tid").as("qid"), col("te").as("qe"))
    // the lvl-partitioned layout must turn a level filter into static
    // partition pruning at the scan (the search reads its levels once
    // into memory, so assert the pruning on the scan shape directly)
    val hopScan = spark.read.parquet(
        graft.util.Sidecars.path(spark, path, "adj"))
      .filter(col("lvl") === 1)
      .queryExecution.executedPlan.toString
    assert(hopScan.contains("PartitionFilters: [isnotnull(lvl") ||
      hopScan.contains("PartitionFilters: [(lvl"),
      "hop scans must prune to their lvl partition: " + hopScan.take(1500))
    // the vectors store partitions by (lvl, home): the search's
    // top-layer entry and an append's probed-cell candidate scan must
    // both prune at the scan, corpus-size-independent
    val entryScan = spark.read.parquet(
        graft.util.Sidecars.path(spark, path, "vectors"))
      .filter(col("lvl") === 2)
      .queryExecution.executedPlan.toString
    assert(entryScan.contains("PartitionFilters: [isnotnull(lvl") ||
      entryScan.contains("PartitionFilters: [(lvl"),
      "entry scan must prune to the top lvl partition: " +
        entryScan.take(1500))
    val cellScan = spark.read.parquet(
        graft.util.Sidecars.path(spark, path, "vectors"))
      .filter(col("home").isInCollection(Seq(1, 3)))
      .queryExecution.executedPlan.toString
    assert(cellScan.contains("home#") &&
      cellScan.contains("PartitionFilters: ["),
      "append candidate scan must prune to probed home cells: " +
        cellScan.take(1500))
    // and the search through the store still answers (plan shape pinned
    // above; results are gated by knn_hnsw_indexed's oracle)
    assert(graft.ops.Similarity.knnHnswIndexed(spark, path, q, k = 3)
      .count() > 0)
  }
}

object PlanSpec {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.window.WindowExec

  /** All WindowExec nodes, descending through the AdaptiveSparkPlanExec
    * leaf wrapper (AQE hides the real tree from a plain collect). */
  def collectWindows(p: SparkPlan): Seq[WindowExec] =
    p.collect {
      case w: WindowExec => Seq(w)
      case a: AdaptiveSparkPlanExec => collectWindows(a.executedPlan)
    }.flatten
}
