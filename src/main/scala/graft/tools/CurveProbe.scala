package graft.tools

import org.apache.spark.sql.SparkSession

/** Scale-curve evidence probe: row counts of the near-dup pair gates at
  * a given sf dir (pair-volume growth is the quantity the r13 verdict
  * flagged — fixture classes must grow with the corpus so pair counts
  * stay linear). Run: `runMain graft.tools.CurveProbe <sfDir>`.
  *
  * `runMain graft.tools.CurveProbe <sfDir> hnsw [nCells]` instead times
  * the HNSW family's two phases separately — CONSTRUCTION
  * (writeHnswIndex: depth cap, per-level cell-restricted lists,
  * sidecar commits) and SEARCH (knnHnswIndexed over the 50-query
  * batch) — the r14 verdict's missing scale point. nCells is the IVF
  * sizing knob the construction posture scales with (per-node
  * candidate volume = nProbe*n/nCells at every level): the curve runs
  * 16 at 1x and ~16*sqrt(k) at kx, the standard sqrt(n) cell rule, so
  * the measured growth reflects the deployed sizing, not a frozen
  * 16-cell layout.
  *
  * `runMain graft.tools.CurveProbe <sfDir> stream` attributes the
  * streaming-harness startup cost (see [[streamProbe]]). */
object CurveProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // stream mode takes an optional shuffle-partition width (state
    // store count = partitions x 4 for a stream-stream join): the
    // floor-scales-with-state-partitions claim, measured not asserted
    val shufflePart =
      if (args.lift(1).contains("stream"))
        args.lift(2).getOrElse("32")
      else "32"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", shufflePart)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftFunctions.register(spark)
    if (args.lift(1).contains("hnsw")) hnswProbe(spark, dir, args)
    else if (args.lift(1).contains("hnswbeam")) hnswBeamProbe(spark, dir, args)
    else if (args.lift(1).contains("semdedup")) semDedupProbe(spark, dir, args)
    else if (args.lift(1).contains("stream")) streamProbe(spark, dir)
    else if (args.lift(1).contains("route")) routeProbe(spark, dir)
    else if (args.lift(1).contains("pipeline")) pipelineProbe(spark, dir)
    else if (args.lift(1).contains("components")) componentsProbe(spark, dir, args)
    else {
      for (q <- Seq("mm_jpeg_neardup", "mm_image_neardup")) {
        val n = graft.SparkEntry.queries(q)(spark, dir).count()
        println(s"""{"query":"$q","sf":"$dir","pairs":$n}""")
      }
    }
    spark.stop()
  }

  /** Streaming-harness startup attribution (the r15 verdict's ask #6):
    * stream_join_exec is the most expensive gate in every artifact
    * (~9 s fresh-JVM) and the 16 stream_* gates sum to ~45 s of the
    * families suite; r13 audited the cost as "engine startup, flat on
    * the curve" but never SEPARATED it. This probe runs the gate's
    * exact stream-stream join shape against (a) an EMPTY staged source
    * and (b) the real staged events file, 3 reps each in one JVM, and
    * prints per-run wall + the engine's own per-phase durations
    * (StreamingQueryProgress.durationMs, summed across batches). Reads:
    *  - empty-wall ~= data-wall  => the cost is per-QUERY-START engine
    *    overhead (planning + state-store init + sink setup), not data
    *    work — irreducible without changing gate semantics, since each
    *    gate IS a new streaming query by definition;
    *  - rep1 >> rep3             => the per-JVM share (class loading,
    *    codegen cache) that min-of-3 already amortizes away. */
  private def streamProbe(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = graft.util.Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val schema = ev.schema
    val dataSrc = graft.util.TempDirs.create("stream-probe-data")
    ev.coalesce(1).write.mode("overwrite").parquet(dataSrc)
    val emptySrc = graft.util.TempDirs.create("stream-probe-empty")
    ev.limit(0).coalesce(1).write.mode("overwrite").parquet(emptySrc)
    val nextId = new java.util.concurrent.atomic.AtomicLong(0)
    def run(src: String, variant: String, rep: Int): Unit = {
      val a = spark.readStream.schema(schema).parquet(src)
        .filter($"event_type" === "click")
        .select($"user_id", $"ts".as("ts_a"), $"event_id".as("click_id"))
        .withWatermark("ts_a", "7 hours")
      val b = spark.readStream.schema(schema).parquet(src)
        .filter($"event_type" === "view")
        .select($"user_id".as("user_id_b"), $"ts".as("ts_b"),
          $"event_id".as("view_id"))
        .withWatermark("ts_b", "7 hours")
      val joined = a.join(b,
        $"user_id" === $"user_id_b" &&
          $"ts_b" >= $"ts_a" - expr("interval 6 hours") &&
          $"ts_b" <= $"ts_a")
        .select($"user_id", $"click_id", $"view_id")
      val name = s"probe_join_${nextId.incrementAndGet()}"
      val t0 = System.nanoTime()
      val q = joined.writeStream.outputMode("append").format("memory")
        .queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(240000)
      require(!q.isActive, "probe query did not finish")
      val wall = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress
      val rows = spark.table(name).count()
      spark.catalog.dropTempView(name)
      import scala.jdk.CollectionConverters._
      val phases = prog.toSeq
        .flatMap(_.durationMs.asScala.map { case (k, v) => k -> v.toLong })
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      val inRows = prog.map(_.numInputRows).sum
      println(s"""{"probe":"stream_join","variant":"$variant",""" +
        s""""rep":$rep,"wall_sec":$wall,"batches":${prog.length},""" +
        s""""input_rows":$inRows,"sink_rows":$rows,""" +
        phases.toSeq.sortBy(_._1).map { case (k, v) =>
          s""""dur_${k}_ms":$v""" }.mkString(",") + "}")
    }
    for (rep <- 1 to 3) run(emptySrc, "empty", rep)
    for (rep <- 1 to 3) run(dataSrc, "data", rep)
  }

  /** `hnswbeam <nCells> <beam0,beam0,...>`: the search-time recall
    * knob demonstrated — build once, then for each requested base-beam
    * width run the same 50-query search (min-of-3) and print recall +
    * wall. Answers the 100x curve's 90% -> 82% recall dip question:
    * how much beam buys how much recall back, with no rebuild. */
  private def hnswBeamProbe(spark: SparkSession, dir: String,
      args: Array[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val nCells = args.lift(2).map(_.toInt).getOrElse(16)
    val beams = args.lift(3).map(_.split(',').map(_.toInt).toSeq)
      .getOrElse(Seq(16, 32, 64))
    // optional 5th arg: construction nProbe — the CONSTRUCTION-side
    // recall knob (denser cross-cell lists), vs beam0's search-side one
    val nProbe = args.lift(4).map(_.toInt).getOrElse(2)
    // optional 6th arg: base-layer hop budget — beam WIDTH without
    // more HOPS cannot reach farther than hops0 expansions from the
    // entry, so the search knob is the (beam0, hops0) pair
    val hops0 = args.lift(5).map(_.toInt).getOrElse(4)
    // optional 7th/8th args: upper-layer beam width / hops per level —
    // the basin-commitment knobs (a descent that enters the wrong
    // base-layer region can only be saved by a wider upper frontier)
    val beam1 = args.lift(6).map(_.toInt).getOrElse(0) // 0 = AUTO
    val hops1 = args.lift(7).map(_.toInt).getOrElse(0) // 0 = AUTO
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val t = e.select(col("vec_id").as("tid"), col("embedding").as("te"))
      .localCheckpoint()
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .localCheckpoint()
    val n = t.count()
    val path = graft.util.TempDirs.create("hnsw-beam") + "/g"
    val tB = System.nanoTime()
    graft.ops.Similarity.writeHnswIndex(t, path, dim = 64,
      nCells = nCells, nProbe = nProbe)
    val buildSec = (System.nanoTime() - tB) / 1e9
    val bf = graft.ops.Similarity.knnBruteForce(q, t, k = 5)
      .select(col("qid"), col("tid")).localCheckpoint()
    val possible = bf.count()
    for (b <- beams) {
      var best = Double.MaxValue
      var hits = 0L
      for (_ <- 1 to 3) {
        val t1 = System.nanoTime()
        val got = graft.ops.Similarity.knnHnswIndexed(spark, path, q,
            k = 5, beam0 = b, hops0 = hops0, beam1 = beam1,
            hops1 = hops1)
          .select(col("qid"), col("tid")).localCheckpoint()
        got.count()
        best = math.min(best, (System.nanoTime() - t1) / 1e9)
        hits = got.join(bf, Seq("qid", "tid")).count()
      }
      println(s"""{"query":"knn_hnsw_beam","sf":"$dir","n":$n,""" +
        s""""n_cells":$nCells,"n_probe":$nProbe,"build_sec":$buildSec,""" +
        s""""beam0":$b,"hops0":$hops0,"beam1":$beam1,"hops1":$hops1,""" +
        s""""search_sec":$best,""" +
        s""""recall_hits":$hits,"recall_possible":$possible}""")
    }
  }

  /** `semdedup <nCells>`: the d5d_semdedup_hnsw pipeline shape at
    * scale, WITHOUT the gate's in-query verdict-floor baseline (which
    * is itself the all-pairs d5 cost): build the graph store over the
    * full corpus, run the ALL-queries descent, pair + threshold +
    * distinct — the index-path embedding near-dup whose brute-force
    * twin grows quadratically. Prints build wall, dedup (search +
    * pair) wall min-of-3, and the candidate-pair count. */
  /** Router-decision evidence (r17 verdict ask #1's done-criterion): the
    * n-driven semanticDedup dispatch evaluated against the REAL corpus
    * count at this dir and the 20x/100x multiples the r17 crossover was
    * measured at — one line proving the router picks brute at 1x and
    * index at >= 20x, with the cutoff and its anchors in the record. */
  private def routeProbe(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val cutoff = graft.ops.Similarity.SemDedupRouteCutoff
    def r(m: Long) = graft.ops.Similarity.semanticDedupRoute(m)
    // and the end-to-end operator exercises the same decision: run it
    // at 1x and report the route it took (pairs > 0 proves the branch
    // actually executed, not just the dispatch function)
    val tt = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("tid"), col("embedding").as("te"))
    val pairs1x =
      graft.ops.Similarity.semanticDedup(tt, dim = 64, minCos = 0.3).count()
    println(s"""{"probe":"semdedup_route","sf":"$dir","cutoff":$cutoff,""" +
      s""""n_1x":$n,"route_1x":"${r(n)}","pairs_1x":$pairs1x,""" +
      s""""n_20x":${n * 20},"route_20x":"${r(n * 20)}",""" +
      s""""n_100x":${n * 100},"route_100x":"${r(n * 100)}",""" +
      s""""anchors":"bench/scale_curve_r17.json semdedup_vs_brute"}""")
  }

  /** Flagship-lineage scale point (r17 verdict ask #3): the full
    * extract pipeline (chunk -> cascade -> rank -> assemble ->
    * validate/enrich, the pipeline_extract gate shape) timed over the
    * documents table at this dir, min-of-3. The lineage is per-doc
    * data-parallel — SURVEY §7.5's "100 TB = partition count, nothing
    * structural" claim — so the committed curve should show ~flat
    * per-doc cost; any growth is an attribution target, not a shrug. */
  private def pipelineProbe(spark: SparkSession, dir: String): Unit = {
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    var wall = Double.MaxValue
    var rows = 0L
    for (_ <- 1 to 3) {
      val t0 = System.nanoTime()
      rows = graft.SparkEntry.queries("pipeline_extract")(spark, dir).count()
      wall = math.min(wall, (System.nanoTime() - t0) / 1e9)
    }
    println(s"""{"probe":"pipeline_extract","sf":"$dir","n_docs":$nDocs,""" +
      s""""rows":$rows,"wall_sec":$wall,""" +
      s""""per_doc_ms":${wall * 1000.0 / math.max(1, nDocs)}}""")
  }

  /** Components-family from-scratch scale point (r17 verdict stretch
    * #7): the d6d star-contraction gate — MinHash-LSH pair mining over
    * the documents table, then O(log n)-round star contraction to true
    * per-component minima — timed end-to-end at this dir. The last
    * multi-round iterative kernel without a >= 20x point on the
    * committed curve. Optional 3rd arg = reps (default 3; use 1 at
    * 100x where the kernel dominates noise). */
  private def componentsProbe(spark: SparkSession, dir: String,
      args: Array[String]): Unit = {
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    // the gate caches the mined pair set per (JVM, dir), so rep 1 is
    // the FROM-SCRATCH wall (mining + contraction) and later reps time
    // the contraction over pairs at rest — report both, they are
    // different deployment shapes (one-shot dedup vs re-clustering a
    // standing pair store)
    var first = 0.0
    var warm = Double.MaxValue
    var rows = 0L
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      rows = graft.SparkEntry.queries("d6d_components_star")(spark, dir)
        .count()
      val w = (System.nanoTime() - t0) / 1e9
      if (i == 1) first = w else warm = math.min(warm, w)
    }
    val warmPart = if (reps > 1) s""","contraction_only_sec":$warm""" else ""
    println(s"""{"probe":"d6d_components_star","sf":"$dir",""" +
      s""""n_docs":$nDocs,"rows":$rows,"reps":$reps,""" +
      s""""from_scratch_sec":$first$warmPart}""")
  }

  private def semDedupProbe(spark: SparkSession, dir: String,
      args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val nCells = args.lift(2).map(_.toInt).getOrElse(16)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val t = e.select(col("vec_id").as("tid"), col("embedding").as("te"))
      .localCheckpoint()
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .localCheckpoint()
    val n = t.count()
    val path = graft.util.TempDirs.create("semdedup-curve") + "/g"
    val t0 = System.nanoTime()
    graft.ops.Similarity.writeHnswIndex(t, path, dim = 64,
      nCells = nCells)
    val build = (System.nanoTime() - t0) / 1e9
    var dedup = Double.MaxValue
    var pairs = 0L
    for (_ <- 1 to 3) {
      val t1 = System.nanoTime()
      pairs = graft.ops.Similarity.knnHnswIndexed(spark, path, q, k = 5)
        .filter(col("cos") > 0.3)
        .select(least(col("qid"), col("tid")).as("id_1"),
          greatest(col("qid"), col("tid")).as("id_2"))
        .distinct().count()
      dedup = math.min(dedup, (System.nanoTime() - t1) / 1e9)
    }
    // the quadratic baseline the index path replaces — the d5 gate's
    // exact all-pairs join at the same threshold, min-of-3 (skippable
    // with a 4th arg "nod5": at 100x the 2e10-pair product is hours of
    // wall by construction — THAT is the payoff being measured — so
    // the 100x d5 point is extrapolated from the measured exponent)
    val runD5 = !args.lift(3).contains("nod5")
    var d5 = Double.MaxValue
    var d5Pairs = -1L
    // min-of-3 at small n isolates scheduler noise; past ~20k vectors
    // the quadratic term dominates any noise and a single run suffices
    val d5Reps = if (n > 20000) 1 else 3
    if (runD5) for (_ <- 1 to d5Reps) {
      val t2 = System.nanoTime()
      val a = e.select(col("vec_id").as("id_1"), col("embedding").as("qe"))
        .withColumn("qn",
          graft.ops.Similarity.scaledDot(col("qe"), col("qe")))
      val b = e.select(col("vec_id").as("id_2"), col("embedding").as("te"))
        .withColumn("tn",
          graft.ops.Similarity.scaledDot(col("te"), col("te")))
      d5Pairs = a.join(b, col("id_1") < col("id_2"))
        .withColumn("cos",
          graft.ops.Similarity.scaledDot(col("qe"), col("te"))
            .cast("double") /
            sqrt((col("qn") * col("tn")).cast("double")))
        .filter(col("cos") > 0.3)
        .count()
      d5 = math.min(d5, (System.nanoTime() - t2) / 1e9)
    }
    val d5Part = if (runD5)
      s""","d5_brute_sec":$d5,"d5_pairs":$d5Pairs""" else ""
    println(s"""{"query":"d5d_semdedup_hnsw","sf":"$dir","n":$n,""" +
      s""""n_cells":$nCells,"build_sec":$build,""" +
      s""""dedup_sec":$dedup,"pairs":$pairs$d5Part}""")
  }

  private def hnswProbe(spark: SparkSession, dir: String,
      args: Array[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val nCells = args.lift(2).map(_.toInt).getOrElse(16)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val t = e.select(col("vec_id").as("tid"), col("embedding").as("te"))
      .localCheckpoint()
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .localCheckpoint()
    val n = t.count()
    val path = graft.util.TempDirs.create("hnsw-curve") + "/g"
    val t0 = System.nanoTime()
    graft.ops.Similarity.writeHnswIndex(t, path, dim = 64,
      nCells = nCells)
    val build = (System.nanoTime() - t0) / 1e9
    // search = min-of-3 (the bench convention): the first pass pays the
    // construction's lingering checkpoint blocks / GC state, which is
    // JVM pollution, not search cost — the gate's fresh-JVM min-of-3
    // confirms the steady-state number
    var search = Double.MaxValue
    var got: org.apache.spark.sql.DataFrame = null
    var rows = 0L
    for (_ <- 1 to 3) {
      val t1 = System.nanoTime()
      got = graft.ops.Similarity.knnHnswIndexed(spark, path, q, k = 5)
        .select(col("qid"), col("tid")).localCheckpoint()
      rows = got.count()
      search = math.min(search, (System.nanoTime() - t1) / 1e9)
    }
    // recall@5 against the exact scan — the quality axis of the scale
    // point: deeper geometry must not trade recall for the growth win
    val bf = graft.ops.Similarity.knnBruteForce(q, t, k = 5)
      .select(col("qid"), col("tid"))
    val hits = got.join(bf, Seq("qid", "tid")).count()
    val possible = bf.count()
    // LAST (it builds a second store, polluting JVM/page-cache state
    // for anything timed after it): append a fixed-size batch (~100 vectors, scale-independent) into
    // a second store built without it: if the append's wall grows with
    // the corpus, its candidate scan is corpus-bounded — the quantity
    // the (lvl, home) partition pruning exists to pin down
    val pathA = graft.util.TempDirs.create("hnsw-curve-app") + "/g"
    val batch = t.orderBy(col("tid")).limit(100).localCheckpoint()
    val base = t.join(batch.select(col("tid")), Seq("tid"), "left_anti")
      .localCheckpoint()
    graft.ops.Similarity.writeHnswIndex(base, pathA, dim = 64,
      nCells = nCells)
    val tA = System.nanoTime()
    graft.ops.Similarity.appendHnswIndex(spark, pathA, batch)
    val append = (System.nanoTime() - tA) / 1e9
    val cap = graft.ops.Similarity.hnswCap(n)
    println(s"""{"query":"knn_hnsw","sf":"$dir","n":$n,""" +
      s""""n_cells":$nCells,"cap":$cap,"build_sec":$build,""" +
      s""""search_sec":$search,"append100_sec":$append,""" +
      s""""result_rows":$rows,""" +
      s""""recall_hits":$hits,"recall_possible":$possible}""")
  }
}
