package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def embeddings = {
    // deterministic unit-ish vectors: clusters around 3 centroids
    val rnd = new java.util.Random(7)
    val centroids = Array.fill(3)(Array.fill(16)(rnd.nextGaussian().toFloat))
    (0L until 60L).map { i =>
      val c = centroids((i % 3).toInt)
      val v = c.zipWithIndex.map { case (x, j) =>
        x + 0.1f * new java.util.Random(i * 31 + j).nextGaussian().toFloat }
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  test("brute-force knn returns k sorted neighbors, self excluded") {
    val e = embeddings
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val out = Similarity.knnBruteForce(q, t, k = 10).collect()
    assert(out.length == 50)
    out.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 10))
      // scores non-increasing by rank; no self matches
      assert(sorted.map(_.getDouble(3)).toSeq.reverse.sorted.reverse ==
        sorted.map(_.getDouble(3)).toSeq)
      assert(!rows.exists(_.getLong(2) == qid))
      // same-cluster vectors dominate the top ranks
      val top3 = sorted.take(3).map(_.getLong(2) % 3)
      assert(top3.forall(_ == qid % 3), s"q$qid top3 clusters ${top3.toSeq}")
    }
  }

  test("LSH ANN: candidates from own bucket, ranked by true cosine, decent recall") {
    val e = embeddings
    val q = e.filter($"vec_id" < 20).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val exact = Similarity.knnBruteForce(q, t, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.knnLsh(q, t, dim = 16, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // clustered data: same-centroid vectors land in the same half-space
    // buckets most of the time -> recall well above chance
    val recalls = exact.keys.toSeq.map { qid =>
      val got = approx.getOrElse(qid, Set.empty)
      exact(qid).intersect(got).size.toDouble / exact(qid).size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall > 0.5, s"mean recall@3 $meanRecall")
  }

  test("IVF ANN: probed cells recover most exact neighbors on clustered data") {
    val e = embeddings
    val q = e.filter($"vec_id" < 20).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val exact = Similarity.knnBruteForce(q, t, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ivf = Similarity.knnIvf(q, t, dim = 16, k = 3, nCells = 6, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map { qid =>
      exact(qid).intersect(ivf.getOrElse(qid, Set.empty)).size.toDouble /
        exact(qid).size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall > 0.6, s"IVF mean recall@3 $meanRecall")
    // deterministic across runs (seeded centroids, fixed refinement)
    val again = Similarity.knnIvf(q, t, dim = 16, k = 3, nCells = 6, nProbe = 2)
      .collect().map(_.toSeq)
    assert(again.nonEmpty)
  }

  test("Lloyd-refined IVF: recall at least matches the seed centroids") {
    val e = embeddings
    val q = e.filter($"vec_id" < 20).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val exact = Similarity.knnBruteForce(q, t, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def meanRecall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rs = exact.keys.toSeq.map { qid =>
        exact(qid).intersect(got.getOrElse(qid, Set.empty)).size.toDouble /
          exact(qid).size
      }
      rs.sum / rs.size
    }
    val seed = meanRecall(
      Similarity.knnIvf(q, t, dim = 16, k = 3, nCells = 6, nProbe = 2))
    val lloyd = meanRecall(
      Similarity.knnIvf(q, t, dim = 16, k = 3, nCells = 6, nProbe = 2,
        lloydIters = 2))
    assert(lloyd >= seed - 1e-12,
      s"Lloyd recall $lloyd below seed-centroid recall $seed")
    // refinement is deterministic (seeded centroids + exact assignment)
    val again = meanRecall(
      Similarity.knnIvf(q, t, dim = 16, k = 3, nCells = 6, nProbe = 2,
        lloydIters = 2))
    assert(again == lloyd)
  }

  test("IVF rebalance: warm re-centering recovers the recall the drifted " +
      "frozen-centroid index lost, to at least the fresh-build level") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter($"vec_id" < 50)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val init = e.filter($"vec_id" % 5 =!= 0)
      .select($"vec_id".as("tid"), $"embedding".as("te"))
    val all = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val exact = Similarity.knnBruteForce(q, all, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def meanRecall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rs = exact.keys.toSeq.map { qid =>
        exact(qid).intersect(got.getOrElse(qid, Set.empty)).size.toDouble /
          exact(qid).size
      }
      rs.sum / rs.size
    }
    val cs0 = Similarity.ivfCentroids(init, nCells = 16, iters = 2)
    val cs1 = Similarity.ivfRecenter(all, cs0, iters = 2)
    val csFresh = Similarity.ivfCentroids(all, nCells = 16, iters = 2)
    def searchWith(cs: Array[Array[Float]]) = {
      val dir = graft.util.TempDirs.create("ivf-rebal-spec")
      Similarity.writeIvfIndexWith(all, dir + "/idx", cs)
      Similarity.knnIvfIndexed(spark, dir + "/idx", cs, q, k = 5, nProbe = 2)
    }
    val drifted = meanRecall(searchWith(cs0))   // frozen centroids, full corpus
    val rebal = meanRecall(searchWith(cs1))     // the corrective action
    val fresh = meanRecall(searchWith(csFresh)) // cold full retrain
    assert(rebal >= drifted - 1e-12,
      s"rebalance must not lose recall: $rebal < drifted $drifted")
    assert(rebal >= fresh - 0.02,
      s"rebalanced recall $rebal below the fresh-build level $fresh")
  }

  test("multi-probe LSH: recall strictly above single-probe on the sf0.01 corpus") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter($"vec_id" < 50)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val exact = Similarity.knnBruteForce(q, t, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def recall(nProbe: Int): Double = {
      val got = Similarity.knnLsh(q, t, dim = 64, k = 5, nProbe = nProbe)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rs = exact.keys.toSeq.map { qid =>
        exact(qid).intersect(got.getOrElse(qid, Set.empty)).size.toDouble /
          exact(qid).size
      }
      rs.sum / rs.size
    }
    val single = recall(1)
    val multi = recall(2)
    assert(multi > single,
      s"multi-probe recall $multi must beat single-probe $single")
  }

  test("HNSW: layered graph search recalls at least as well as IVF-Lloyd " +
      "at the gate geometry, is deterministic, and the persisted graph " +
      "reproduces the in-memory search exactly") {
    val e = embeddings
    val q = e.filter($"vec_id" < 12)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val exact = Similarity.knnBruteForce(q, t, k = 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(2)).toSet).toMap
      val rs = exact.keys.toSeq.map(qid =>
        (exact(qid) intersect got.getOrElse(qid, Set.empty)).size / 3.0)
      rs.sum / rs.size
    }
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val ranked = Similarity.knnHnsw(q, t, dim = 16, k = 3, nCells = 8)
    val rankedRdd = ranked.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .subsetOf(persisted + rankedRdd),
      "a checkpoint other than the result outlives knnHnsw")
    val hnsw = ranked.collect()
    val hnswRecall = recallOf(hnsw)
    val lloyd = Similarity.knnIvf(q, t, dim = 16, k = 3, nCells = 8,
      nProbe = 2, lloydIters = 2).collect()
    assert(hnswRecall >= recallOf(lloyd),
      s"HNSW recall $hnswRecall below IVF-Lloyd ${recallOf(lloyd)}")
    assert(hnswRecall > 0.6, s"HNSW recall $hnswRecall too low")
    // determinism: a second build+search is row-identical
    val again = Similarity.knnHnsw(q, t, dim = 16, k = 3, nCells = 8)
      .collect()
    assert(hnsw.map(_.toString).sorted.sameElements(
      again.map(_.toString).sorted))
    // structural invariants of the layered graph
    val adj = Similarity.hnswAdjacency(t, dim = 16, nCells = 8, m = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(adj.forall { case (_, s1, d) => s1 != d }, "self edge")
    assert(adj.groupBy(t3 => (t3._1, t3._2)).forall(_._2.length <= 8),
      "neighbour list over 2M (the bidirectional-link bound)")
    // level-1 lists only connect level>=1 nodes (the layer thinning)
    assert(adj.filter(_._1 == 1).forall { case (_, s1, d) =>
      s1 % 7 == 0 && d % 7 == 0 }, "level-1 edge touching a level-0 node")
    // persisted graph reproduces the in-memory search exactly
    val path = graft.util.TempDirs.create("hnsw-idx") + "/g"
    Similarity.writeHnswIndex(t, path, dim = 16, nCells = 8)
    val fromDisk = Similarity.knnHnswIndexed(spark, path, q, k = 3)
      .collect()
    assert(fromDisk.map(_.toString).sorted.sameElements(
      hnsw.map(_.toString).sorted),
      "persisted HNSW search diverged from in-memory")
  }

  test("persisted IVF index matches in-memory IVF and prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val e = embeddings
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val centroids = Similarity.writeIvfIndex(t, dir, nCells = 6)
    val indexed = Similarity.knnIvfIndexed(spark, dir, centroids, q, k = 3)
    val direct = Similarity.knnIvf(q, t, dim = 16, k = 3, nCells = 6)
    // identical results: same centroids, same probe/assignment arithmetic
    assert(indexed.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)
    // the scan must statically prune on the probed cells: the literal IN
    // filter has to reach PartitionFilters, not sit above the scan
    val plan = indexed.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(pf.replaceAll(".*PartitionFilters", "").contains("cell#") &&
      pf.replaceAll(".*PartitionFilters", "").contains(" IN "), pf.take(500))
  }

  test("Lloyd-refined persisted IVF index matches in-memory Lloyd IVF") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-lloyd").toString
    val e = embeddings
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    // the index at rest uses the refined centroids: cell layout, probe
    // sets, and ranking must be identical to the in-memory Lloyd path
    val centroids = Similarity.writeIvfIndex(t, dir, nCells = 6, lloydIters = 2)
    val indexed = Similarity.knnIvfIndexed(spark, dir, centroids, q, k = 3)
    val direct = Similarity.knnIvf(q, t, dim = 16, k = 3, nCells = 6,
      lloydIters = 2)
    assert(indexed.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)
    // static pruning is unchanged by refinement
    val pf = indexed.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.replaceAll(".*PartitionFilters", "").contains("cell#") &&
      pf.replaceAll(".*PartitionFilters", "").contains(" IN "), pf.take(500))
  }

  test("persisted LSH index matches in-memory LSH and prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lshidx").toString
    val e = embeddings
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    Similarity.writeLshIndex(t, dir, dim = 16)
    val indexed = Similarity.knnLshIndexed(spark, dir, q, dim = 16, k = 3)
    val direct = Similarity.knnLsh(q, t, dim = 16, k = 3)
    assert(indexed.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)
    val pf = indexed.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.replaceAll(".*PartitionFilters", "").contains("bucket#") &&
      pf.replaceAll(".*PartitionFilters", "").contains(" IN "), pf.take(500))
  }

  test("filtered indexed search: metadata predicate composes with pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lshfil").toString
    val e = embeddings
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"),
      ($"vec_id" % 3).as("label"))
    Similarity.writeLshIndex(t, dir, dim = 16)
    val indexed = Similarity.knnLshIndexed(spark, dir, q, dim = 16, k = 3,
      targetFilter = Some($"label" % 2 === 0))
    // same rows as filtering targets BEFORE the in-memory search
    val direct = Similarity.knnLsh(q,
      t.filter($"label" % 2 === 0).drop("label"), dim = 16, k = 3)
    assert(indexed.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)
    // both layers reach the scan: bucket partition pruning AND the label
    // predicate as a pushed data filter
    val scan = indexed.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("PartitionFilters") || l.contains("PushedFilters"))
      .mkString("\n")
    assert(scan.replaceAll(".*PartitionFilters", "").contains("bucket#"),
      scan.take(500))
    assert(scan.contains("PushedFilters") && scan.contains("label"),
      scan.take(500))
  }

  test("filtered IVF: candidate filter == pre-assignment filter, and " +
      "the indexed path composes cell pruning with the pushed predicate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivffil").toString
    val e = embeddings
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"),
      ($"vec_id" % 3).as("label"))
    val centroids = Similarity.writeIvfIndex(t, dir, nCells = 4, lloydIters = 1)
    val indexed = Similarity.knnIvfIndexed(spark, dir, centroids, q, k = 3,
      targetFilter = Some($"label" % 2 === 0))
    val inMemory = Similarity.knnIvf(q, t, dim = 16, k = 3, nCells = 4,
      nProbe = 2, lloydIters = 1, targetFilter = Some($"label" % 2 === 0))
    assert(indexed.collect().map(_.toSeq).toSet ==
      inMemory.collect().map(_.toSeq).toSet)
    // both layers reach the scan: cell partition pruning AND the label
    // predicate as a pushed data filter
    val scan = indexed.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("PartitionFilters") || l.contains("PushedFilters"))
      .mkString("\n")
    assert(scan.replaceAll(".*PartitionFilters", "").contains("cell#"),
      scan.take(500))
    assert(scan.contains("PushedFilters") && scan.contains("label"),
      scan.take(500))
  }

  test("IVF centroid sidecar round-trips bit-for-bit and the reloaded " +
      "search equals the training-run search") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfsc").toString
    val e = embeddings
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val written = Similarity.writeIvfIndex(t, dir, nCells = 4, lloydIters = 2)
    Similarity.writeIvfCentroids(spark, written, dir)
    val reloaded = Similarity.readIvfCentroids(spark, dir)
    assert(reloaded.length == written.length)
    written.zip(reloaded).foreach { case (w, r) =>
      assert(java.util.Arrays.equals(w, r), "centroid float drift")
    }
    val a = Similarity.knnIvfIndexed(spark, dir, written, q, k = 3)
      .collect().map(_.toSeq).toSet
    val b = Similarity.knnIvfIndexed(spark, dir, reloaded, q, k = 3)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("sq8: codes bounded, dot matches driver reference, recall holds") {
    val e = embeddings
    val scales = Similarity.sq8Scales(
      e.select($"vec_id".as("tid"), $"embedding".as("te")), "te", 16)
    assert(scales.forall(_ >= 0.0) && scales.exists(_ > 0.0))
    // quantized codes stay in the int8 range by construction
    val codes = e.select(Similarity.sq8Quantize($"embedding", scales)
      .as("q")).as[Seq[Int]].collect()
    assert(codes.flatten.forall(c => c >= -127 && c <= 127))
    // spark-side integer dot == driver replay of the same formula
    val raw = e.as[(Long, Seq[Float])].collect().toMap
    def quant(v: Seq[Float]): Seq[Long] = v.zip(scales).map { case (x, s) =>
      if (s == 0.0) 0L
      else BigDecimal(x.toDouble * 127.0 / s)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val got = e.filter($"vec_id" < 2)
      .select($"vec_id", Similarity.sq8Dot(
        Similarity.sq8Quantize($"embedding", scales),
        Similarity.sq8Quantize(typedLit(raw(5L)), scales)).as("d"))
      .as[(Long, Long)].collect().toMap
    val want = (0L until 2L).map { i =>
      i -> quant(raw(i)).zip(quant(raw(5L))).map { case (a, b) => a * b }.sum
    }.toMap
    assert(got == want, s"$got vs $want")
    // quantized cosine tracks the float cosine closely (the per-pair
    // error bound); rank-set recall is asserted separately on the real
    // embeddings table because THIS fixture is adversarial for it — all
    // same-cluster neighbors sit within ~1.5e-3 of cosine, under the
    // ~1e-3 sq8 noise, so orderings legitimately churn
    val q = e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val tt = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val bf = Similarity.knnBruteForce(q, tt, k = 5)
      .select($"qid", $"tid", $"cos".as("cf"))
    val sq = Similarity.knnSq8(q, tt, dim = 16, k = 5)
      .select($"qid", $"tid", $"cos".as("cq"))
    val diffs = bf.join(sq, Seq("qid", "tid"))
      .select(abs($"cf" - $"cq")).as[Double].collect()
    assert(diffs.nonEmpty && diffs.forall(_ < 0.01),
      s"quantized cosine drifted: max ${diffs.maxOption}")
    // the honest recall number, on the real embedding distribution
    val rec = graft.SparkEntry.queries("knn_recall_sq8")(
      spark, "/root/testdata/sf0.001")
      .select($"hits", $"possible").as[(Long, Long)].head()
    assert(rec._1.toDouble / rec._2 >= 0.7,
      s"sq8 recall@5 ${rec._1}/${rec._2} below floor on real embeddings")
    // the persisted index returns the in-memory ranking exactly (codes,
    // norms, and float-roundtripped scales all preserve the integers)
    val dir2 = java.nio.file.Files.createTempDirectory("sq8idx").toString
    val scales2 = Similarity.writeSq8Index(tt, dir2 + "/idx", dim = 16)
    val atRest = Similarity.knnSq8Indexed(spark, dir2 + "/idx", q,
      scales2.map(_.toFloat).map(_.toDouble), k = 5).collect().toSeq
    val inMem = Similarity.knnSq8(q, tt, dim = 16, k = 5).collect().toSeq
    assert(atRest == inMem, "persisted sq8 index diverged from in-memory")
  }

  test("pq: codebook shape, codes in range, adc equals driver replay") {
    val e = embeddings
    val m = 4; val subDim = 4; val nCells = 8
    val tt = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val cbs = Similarity.pqCodebooks(tt, dim = 16, m = m, nCells = nCells)
    assert(cbs.length == m && cbs.forall(_.length == nCells) &&
      cbs.forall(_.forall(_.length == subDim)))
    val codes = tt.select($"tid",
      Similarity.pqEncode($"te", cbs, subDim).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.values.forall(cs =>
      cs.length == m && cs.forall(c => c >= 0 && c < nCells)))
    // driver replay: encode each vector (argmax fixed-point dot, tie low)
    // and score every pair as sum_s table[s][code_s] — must equal the
    // Spark adc bit for bit
    def rnd(v: Double): Long =
      if (v >= 0) math.floor(v + 0.5).toLong else math.ceil(v - 0.5).toLong
    def sdot(a: Seq[Float], b: Seq[Float]): Long =
      a.zip(b).map { case (x, y) => rnd(x.toDouble * y.toDouble * 1e6) }.sum
    val raw = e.as[(Long, Seq[Float])].collect().toMap
    def sub(v: Seq[Float], s: Int) = v.slice(s * subDim, (s + 1) * subDim)
    def encode(v: Seq[Float]): Seq[Int] = (0 until m).map { s =>
      (0 until nCells).map(i => (sdot(sub(v, s), cbs(s)(i).toSeq), i))
        .maxBy { case (d, i) => (d, -i) }._2
    }
    raw.foreach { case (id, v) =>
      assert(codes(id) == encode(v), s"code mismatch for $id")
    }
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val got = Similarity.knnPq(q, tt, dim = 16, k = 60, m = m,
      nCells = nCells).select($"qid", $"tid", $"adc")
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val want = for (qi <- 0L until 5L; ti <- raw.keys if ti != qi) yield {
      val adc = (0 until m).map(s =>
        sdot(sub(raw(qi), s), cbs(s)(encode(raw(ti))(s)).toSeq)).sum
      (qi, ti) -> adc
    }
    want.foreach { case (k2, v) =>
      assert(got(k2) == v, s"adc mismatch at $k2: ${got(k2)} vs $v")
    }
    // clustered fixture: the coded approximation still ranks same-cluster
    // vectors first
    val top = Similarity.knnPq(q, tt, dim = 16, k = 3, m = m,
      nCells = nCells).collect()
    top.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val clusters = rows.map(_.getLong(2) % 3)
      assert(clusters.forall(_ == qid % 3),
        s"q$qid top3 clusters ${clusters.toSeq}")
    }
    // rerank with refine covering every target degenerates to EXACTLY
    // the brute-force ranking (ADC only generated candidates; the exact
    // cosine decided) — the property that makes refine a pure
    // recall/cost knob
    val rr = Similarity.knnPqRerank(q, tt, dim = 16, k = 5, m = m,
      nCells = nCells, refine = 60).collect().toSeq
    val bf = Similarity.knnBruteForce(q, tt, k = 5).collect().toSeq
    assert(rr == bf, "full-refine PQ rerank diverged from brute force")
    // IVF-PQ with every coarse cell probed and full refine also
    // degenerates to exact brute force — both prunings are pure
    // recall/cost knobs, never correctness knobs
    val ip = Similarity.knnIvfPq(q, tt, dim = 16, k = 5, nCells = 4,
      nProbe = 4, m = m, pqCells = nCells, refine = 60).collect().toSeq
    assert(ip == bf, "all-probe full-refine IVF-PQ diverged from brute force")
    // with the default pruning the candidate pool per query shrinks to
    // the probed cells only — the result is a subset of those cells'
    // members (the structural pruning claim)
    val coarse = Similarity.ivfSeedCentroids(tt, 4)
    val cellOf = tt.select($"tid",
      Similarity.nearestCell($"te", coarse).as("cell"))
      .as[(Long, Int)].collect().toMap
    val probed = q.select($"qid",
      Similarity.probeCells($"qe", coarse, 2).as("cells"))
      .as[(Long, Seq[Int])].collect().toMap
    Similarity.knnIvfPq(q, tt, dim = 16, k = 5, nCells = 4, nProbe = 2,
      m = m, pqCells = nCells, refine = 60)
      .select($"qid", $"tid").as[(Long, Long)].collect()
      .foreach { case (qid, tid) =>
        assert(probed(qid).contains(cellOf(tid)),
          s"q$qid returned t$tid outside its probed cells")
      }
  }

  test("hard negatives: cross-label only, cosine-ranked, self-class gone") {
    val e = embeddings.withColumn("label",
      ($"vec_id" % 3).cast("int"))
    val q = e.filter($"vec_id" < 6)
      .select($"vec_id".as("qid"), $"embedding".as("qe"),
        $"label".as("qlabel"))
    val tt = e.select($"vec_id".as("tid"), $"embedding".as("te"),
      $"label".as("tlabel"))
    val rows = Similarity.hardNegatives(q, tt, k = 5)
      .select("qid", "rank", "tid", "tlabel")
      .as[(Long, Int, Long, Int)].collect()
    assert(rows.length == 6 * 5)
    // every mined negative is cross-label (the fixture labels by id % 3)
    rows.foreach { case (qid, _, tid, tlabel) =>
      assert(tlabel == (tid % 3).toInt)
      assert((qid % 3).toInt != tlabel,
        s"qid $qid mined a same-label negative $tid")
    }
    // ranks are 1..5 per query
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (1 to 5))
    }
  }

  test("semdedup verdicts: keep-first within cells, drop iff an earlier " +
      "same-cell vector clears the threshold") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id".as("tid"), $"embedding".as("te"))
    val minCos = 0.35
    val out = Similarity.semDedupVerdicts(e, nCells = 8, lloydIters = 1,
      minCos = minCos)
    val verdicts = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(verdicts.length == e.count())
    assert(verdicts.exists(!_._3), "threshold should drop something")
    assert(verdicts.count(_._3) > verdicts.length / 2,
      "most vectors should survive")
    // per cell, the lowest id is always kept (keep-first has no earlier)
    verdicts.groupBy(_._2).foreach { case (_, vs) =>
      assert(vs.minBy(_._1)._3, "cell minimum must be kept")
    }
    // exact replay: dropped == exists earlier same-cell vec with
    // cos >= minCos (recomputed through an independent pair join)
    val cells = out.select($"tid", $"cell")
    val pairs = cells.as("a").join(cells.as("b"),
        $"a.cell" === $"b.cell" && $"a.tid" < $"b.tid")
      .select($"a.tid".as("id_1"), $"b.tid".as("id_2"))
      .join(e.select($"tid".as("id_1"), $"te".as("e1")), Seq("id_1"))
      .join(e.select($"tid".as("id_2"), $"te".as("e2")), Seq("id_2"))
      .withColumn("cos",
        Similarity.scaledDot($"e1", $"e2").cast("double") /
          sqrt((Similarity.scaledDot($"e1", $"e1") *
            Similarity.scaledDot($"e2", $"e2")).cast("double")))
    val expectedDrops = pairs.filter($"cos" >= minCos)
      .select($"id_2").distinct().collect().map(_.getLong(0)).toSet
    val actualDrops = verdicts.filter(!_._3).map(_._1).toSet
    assert(actualDrops == expectedDrops,
      s"extra=${(actualDrops -- expectedDrops).take(5)} " +
        s"missing=${(expectedDrops -- actualDrops).take(5)}")
  }

  test("semanticDedup routes on the measured crossover: brute below the " +
      "20k cutoff, index above, and each route IS its branch verbatim") {
    // the pure dispatch: the r17-measured bracketing points (10k brute,
    // 40k index) land on the sides the curve measured them on
    assert(Similarity.semanticDedupRoute(10000) == "brute")
    assert(Similarity.semanticDedupRoute(40000) == "index")
    assert(Similarity.semanticDedupRoute(Similarity.SemDedupRouteCutoff)
      == "index")
    assert(Similarity.semanticDedupRoute(
      Similarity.SemDedupRouteCutoff - 1) == "brute")
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id".as("tid"), $"embedding".as("te"))
    // n-driven default at gate scale = the exact all-pairs branch
    val routed = Similarity.semanticDedup(e, dim = 64, minCos = 0.3)
      .orderBy($"id_1", $"id_2").collect()
    val qn = e.select($"tid".as("id_1"), $"te".as("e1"))
      .withColumn("n1", Similarity.scaledDot($"e1", $"e1"))
    val bn = e.select($"tid".as("id_2"), $"te".as("e2"))
      .withColumn("n2", Similarity.scaledDot($"e2", $"e2"))
    val brute = qn.join(bn, $"id_1" < $"id_2")
      .withColumn("cos", Similarity.scaledDot($"e1", $"e2").cast("double") /
        sqrt(($"n1" * $"n2").cast("double")))
      .filter($"cos" > 0.3).select($"id_1", $"id_2", $"cos")
      .orderBy($"id_1", $"id_2").collect()
    assert(routed.toSeq == brute.toSeq,
      s"routed brute branch diverged: ${routed.length} vs ${brute.length}")
    // forced index route = the d5d mining shape over the same corpus
    val q = e.select($"tid".as("qid"), $"te".as("qe"))
    val mined = Similarity.knnHnsw(q, e, dim = 64, k = 5)
      .filter($"cos" > 0.3)
      .select(least($"qid", $"tid").as("id_1"),
        greatest($"qid", $"tid").as("id_2"), $"cos")
      .distinct().orderBy($"id_1", $"id_2").collect()
    val forced = Similarity.semanticDedup(e, dim = 64, minCos = 0.3,
        forceRoute = Some("index"))
      .orderBy($"id_1", $"id_2").collect()
    assert(forced.toSeq == mined.toSeq,
      s"forced index branch diverged: ${forced.length} vs ${mined.length}")
    intercept[IllegalArgumentException] {
      Similarity.semanticDedup(e, dim = 64, minCos = 0.3,
        forceRoute = Some("oracle"))
    }
  }

  test("knn_ivf_updated: appended vectors surface in post-append results " +
      "and every cell partition holds only its own vectors") {
    val out = graft.SparkEntry.queries("knn_ivf_updated")(
      spark, "/root/testdata/sf0.001")
    val hits = out.filter($"tid" % 5 === 0).count()
    assert(hits > 0, "no appended (vec_id % 5 = 0) vector ever ranked — " +
      "the append either did not land or is not being scanned")
    // freshness: results must differ from the pre-append index search
    // only by rows involving appended vectors (same centroids, so any
    // other drift would mean the append disturbed existing partitions)
    val stale = out.filter($"tid" % 5 =!= 0)
    assert(stale.count() > 0)
  }

  test("knn_lsh_updated: appended vectors surface through the appended " +
      "index files") {
    val out = graft.SparkEntry.queries("knn_lsh_updated")(
      spark, "/root/testdata/sf0.001")
    assert(out.filter($"tid" % 5 === 0).count() > 0,
      "no appended (vec_id % 5 = 0) vector ever ranked")
  }

  test("IVF delete: tombstoned search == index built without the deleted " +
      "vectors; compact drops files, keeps clean cells byte-untouched, " +
      "and moves no neighbor") {
    val e = embeddings
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val tt = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val path = graft.util.TempDirs.create("ivf-del-spec") + "/idx"
    val cs = Similarity.writeIvfIndex(tt.filter($"tid" < 40L), path,
      nCells = 4, lloydIters = 1)
    // append so tombstoned cells carry multiple files (the compaction win)
    Similarity.appendIvfIndex(tt.filter($"tid" >= 40L), path, cs)
    val dead = (10L until 20L).toSeq
    Similarity.deleteFromIvfIndex(spark, path, dead)
    val got = Similarity.knnIvfIndexed(spark, path, cs, q, k = 5)
      .collect().map(_.toSeq).toSeq
    // reference: an index that never held the deleted vectors, SAME
    // centroids (delete must not re-train the layout)
    val fresh = graft.util.TempDirs.create("ivf-del-fresh") + "/idx"
    Similarity.appendIvfIndex(tt.filter(!$"tid".isInCollection(dead)),
      fresh, cs) // append-to-empty = build under the same frozen centroids
    val want = Similarity.knnIvfIndexed(spark, fresh, cs, q, k = 5)
      .collect().map(_.toSeq).toSeq
    assert(got == want, s"deleted-index search diverged from fresh build")
    assert(got.nonEmpty && !got.exists(r => dead.contains(
      r(2).asInstanceOf[Long])), "a deleted vector ranked")
    // ---- compact ----
    def parquetFiles(p: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(p))
    }
    val before = parquetFiles(path)
    val touched = spark.read.parquet(path)
      .filter($"tid".isInCollection(dead)).select($"cell").distinct()
      .as[Int].collect().toSet
    val cleanBefore = before.filterNot(f =>
      touched.exists(c => f.getPath.contains(s"cell=$c")))
      .map(f => (f.getPath, f.lastModified)).sorted
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    Similarity.compactIvfIndex(spark, path)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persisted),
      "compaction left its checkpoint persisted")
    assert(!new java.io.File(path + ".tombstones").exists())
    val after = parquetFiles(path)
    assert(after.size < before.size,
      s"compaction must drop files: ${before.size} -> ${after.size}")
    val cleanAfter = after.filterNot(f =>
      touched.exists(c => f.getPath.contains(s"cell=$c")))
      .map(f => (f.getPath, f.lastModified)).sorted
    assert(cleanAfter == cleanBefore,
      "compaction must leave untombstoned cells byte-untouched")
    assert(spark.read.parquet(path)
      .filter($"tid".isInCollection(dead)).count() == 0)
    val again = Similarity.knnIvfIndexed(spark, path, cs, q, k = 5)
      .collect().map(_.toSeq).toSeq
    assert(again == got, "compaction moved a neighbor")
    // deleting an id the index does not hold must refuse
    intercept[IllegalArgumentException](
      Similarity.deleteFromIvfIndex(spark, path, Seq(9999L)))
  }

  test("HNSW maintenance: append touches only the patch (base adjacency " +
      "files never rewritten), delete tombstones rank-exclude but keep " +
      "routing, compact equals a fresh build over the survivors") {
    val e = embeddings
    val q = e.filter($"vec_id" < 12)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    // ---- append ----
    val pa = graft.util.TempDirs.create("hnsw-app") + "/g"
    Similarity.writeHnswIndex(t.filter($"tid" % 10 =!= 0), pa,
      dim = 16, nCells = 8, m = 4)
    val adjBefore = graft.util.Sidecars.path(spark, pa, "adj")
    Similarity.appendHnswIndex(spark, pa, t.filter($"tid" % 10 === 0))
    assert(graft.util.Sidecars.path(spark, pa, "adj") == adjBefore,
      "append rewrote the base adjacency sidecar")
    val patch = spark.read.parquet(
      graft.util.Sidecars.path(spark, pa, "adjpatch"))
    assert(patch.count() > 0, "append committed no patch rows")
    val meta = graft.util.Sidecars.read(spark, pa, "meta").collect()(0)
    assert(meta.getLong(0) == 60L, "meta.n after append")
    val appended = Similarity.knnHnswIndexed(spark, pa, q, k = 3).collect()
    // every appended id is reachable: a query AT a new vector finds
    // itself as its own best descent seed, so its neighbors are the
    // new node's list — assert the new ids surface in some result set
    val qNew = e.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val hitNew = Similarity.knnHnswIndexed(spark, pa, qNew, k = 3)
    assert(hitNew.groupBy($"qid").count().count() == 6,
      "an appended id's query found no neighbors")
    assert(appended.nonEmpty)
    // replaying the same batch is refused loudly
    val replay = intercept[IllegalArgumentException](
      Similarity.appendHnswIndex(spark, pa, t.filter($"tid" % 10 === 0)))
    assert(replay.getMessage.contains("already in the HNSW store"))
    // ---- delete (tombstone) ----
    val pd = graft.util.TempDirs.create("hnsw-delc") + "/g"
    Similarity.writeHnswIndex(t, pd, dim = 16, nCells = 8, m = 4)
    val dead = (0L until 20L)
    Similarity.deleteFromHnswIndex(spark, pd, dead)
    val afterDel = Similarity.knnHnswIndexed(spark, pd, q, k = 3).collect()
    assert(afterDel.forall(r => !dead.contains(r.getLong(2))),
      "tombstoned id surfaced in a ranking")
    assert(afterDel.groupBy(_.getLong(0)).forall(_._2.length == 3),
      "delete starved a query below k")
    // deleting an absent id refuses
    intercept[IllegalArgumentException](
      Similarity.deleteFromHnswIndex(spark, pd, Seq(9999L)))
    // ---- compact == never-held ----
    Similarity.compactHnswIndex(spark, pd)
    assert(graft.util.Sidecars.tryPath(spark, pd, "tombs").isEmpty,
      "compact left the tombstone sidecar")
    assert(graft.util.Sidecars.tryPath(spark, pd, "adjpatch").isEmpty,
      "compact left the adjacency patch")
    val compacted = Similarity.knnHnswIndexed(spark, pd, q, k = 3)
      .collect().map(_.toString).sorted
    val pf = graft.util.TempDirs.create("hnsw-fresh") + "/g"
    Similarity.writeHnswIndex(t.filter(!$"tid".isInCollection(dead)), pf,
      dim = 16, nCells = 8, m = 4)
    val fresh = Similarity.knnHnswIndexed(spark, pf, q, k = 3)
      .collect().map(_.toString).sorted
    assert(compacted.sameElements(fresh),
      "compacted store diverged from an index that never held the dead")
  }

  test("HNSW: two overlapping appends — one winner, one loud fence " +
      "failure before any mutation; and a sparse id space (no level>=1 " +
      "ids) still returns full result sets via the max-occupied entry") {
    val e = embeddings
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val store = graft.util.TempDirs.create("hnsw-race") + "/g"
    Similarity.writeHnswIndex(t.filter($"tid" < 50), store,
      dim = 16, nCells = 8, m = 4)
    // W1 reads the store (fence epoch captured at transaction start);
    // W2's whole append lands inside W1's window: exactly one commits,
    // the loser fails loudly BEFORE mutating anything
    val e0 = graft.util.Sidecars.fenceEpoch(spark, store)
    Similarity.appendHnswIndex(spark, store,
      t.filter($"tid" >= 55)) // W2 wins
    val loser = intercept[IllegalStateException](
      graft.util.Sidecars.claim(spark, store, Some(e0)))
    assert(loser.getMessage.contains("writer fence"))
    // committed state is the winner's alone and still searchable
    assert(graft.util.Sidecars.read(spark, store, "meta")
      .collect()(0).getLong(0) == 55L)
    assert(Similarity.knnHnswIndexed(spark, store, q, k = 3)
      .count() == 15)
    // the store accepts W1's batch from a fresh read
    Similarity.appendHnswIndex(spark, store,
      t.filter($"tid" >= 50 && $"tid" < 55))
    assert(graft.util.Sidecars.read(spark, store, "meta")
      .collect()(0).getLong(0) == 60L)
    // sparse id space: shift every id to 7k+1 — no id has a trailing
    // base-7 zero, so maxOcc = 0 and the entry is an exact base-layer
    // scan (the r14 geometry silently returned ZERO rows here)
    val tSparse = t.select(($"tid" * 7 + 1).as("tid"), $"te")
    val sparse = Similarity.knnHnsw(q, tSparse, dim = 16, k = 3,
      nCells = 8, m = 4).collect()
    assert(sparse.groupBy(_.getLong(0)).size == 5 &&
      sparse.length == 15,
      "sparse id space starved the search (empty entry beam)")
  }

  test("HNSW append commits LINKS BEFORE NODES: the only crash window " +
      "leaves ghost patch links, which degrade gracefully — searches " +
      "never starve and a ghost id never ranks (an appended-but-" +
      "unlinked entry node is impossible by commit order)") {
    val e = embeddings
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"))
    val q = e.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val store = graft.util.TempDirs.create("hnsw-ghost") + "/g"
    Similarity.writeHnswIndex(t, store, dim = 16, nCells = 8, m = 4)
    val meta = graft.util.Sidecars.read(spark, store, "meta").collect()(0)
    val maxOcc = meta.getInt(2)
    assert(maxOcc >= 1, "fixture must occupy an upper layer")
    // simulate a crash between the adjpatch swap and the vector append:
    // the patch names a batch id (the GHOST) that never reached the
    // vectors sidecar — including a replacement row-set for a real
    // top-layer src whose LEVEL-1 routing list becomes ghost-only (the
    // worst realistic wipe: ghost dsts drop at the score join, the
    // src's upper-level expansion goes dark, and the descent recovers
    // through its untouched base-layer list until re-append heals)
    val realTop = spark.read.parquet(
        graft.util.Sidecars.path(spark, store, "vectors"))
      .filter($"lvl" === maxOcc).select($"tid").collect().head.getLong(0)
    val ghost = 999999L
    val ghostPatch = Seq(
      (1, realTop, ghost, 0.99),
      (1, ghost, realTop, 0.99),
      (0, ghost, realTop, 0.99)).toDF("lvl", "src", "dst", "cos")
    graft.util.Sidecars.swap(spark, store, "adjpatch", ghostPatch)
    val out = Similarity.knnHnswIndexed(spark, store, q, k = 3).collect()
    assert(out.groupBy(_.getLong(0)).size == 8 && out.length == 24,
      "ghost links starved a search below k")
    assert(!out.exists(_.getLong(2) == ghost), "a ghost id ranked")
    // and the entry layer can never hold the ghost: entry candidates
    // come from the committed vectors sidecar, which the append only
    // writes AFTER its links are committed
    assert(spark.read.parquet(
        graft.util.Sidecars.path(spark, store, "vectors"))
      .filter($"tid" === ghost).count() == 0)
  }

  test("HNSW filtered search auto-widens the base beam by the inverse " +
      "allowed fraction, so a selective predicate cannot starve " +
      "results below k; pinned widths (autoWiden=false) never return " +
      "more than the widened search") {
    val e = embeddings.withColumn("label", $"vec_id" % 10)
    val t = e.select($"vec_id".as("tid"), $"embedding".as("te"), $"label")
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val store = graft.util.TempDirs.create("hnsw-widen") + "/g"
    Similarity.writeHnswIndex(t, store, dim = 16, nCells = 8, m = 4)
    // keep set = 6 of 60 ids -> widening factor ceil(60/6) = 10,
    // AUTO base beam 64 (shallow cap) -> min(60, 640): the base beam
    // covers every visited node
    val pred = Some($"label" === 0)
    val widened = Similarity.knnHnswIndexed(spark, store, q, k = 3,
      targetFilter = pred).collect()
    val pinned = Similarity.knnHnswIndexed(spark, store, q, k = 3,
      targetFilter = pred, autoWiden = false).collect()
    assert(widened.forall(_.getLong(2) % 10 == 0),
      "widened search ranked an out-of-predicate id")
    assert(widened.groupBy(_.getLong(0)).size == 5 && widened.length == 15,
      s"auto-widening still starved a query (${widened.length} rows)")
    assert(pinned.length <= widened.length,
      "pinned width returned more than the widened beam")
    // tombstone widening path: kill most of the corpus, keep searching
    val store2 = graft.util.TempDirs.create("hnsw-widen2") + "/g"
    Similarity.writeHnswIndex(
      e.select($"vec_id".as("tid"), $"embedding".as("te")),
      store2, dim = 16, nCells = 8, m = 4)
    Similarity.deleteFromHnswIndex(spark, store2,
      (0L until 60L).filter(_ % 10 != 0))
    val viaTombs = Similarity.knnHnswIndexed(spark, store2, q, k = 3)
      .collect()
    assert(viaTombs.forall(_.getLong(2) % 10 == 0))
    assert(viaTombs.groupBy(_.getLong(0)).size == 5 &&
      viaTombs.length == 15,
      s"tombstone widening starved a query (${viaTombs.length} rows)")
  }

  test("HNSW auto-compaction policy: a fresh store carries no due " +
      "debt (autoCompact no-ops), tombstones past 10% of n trip it, " +
      "and the heal clears the debt") {
    val t = embeddings.select($"vec_id".as("tid"), $"embedding".as("te"))
    val store = graft.util.TempDirs.create("hnsw-debt") + "/g"
    Similarity.writeHnswIndex(t, store, dim = 16, nCells = 8, m = 4)
    val fresh = Similarity.hnswDebt(spark, store)
    assert(fresh.patchRows == 0 && fresh.tombRows == 0 &&
      !fresh.compactDue())
    assert(!Similarity.autoCompactHnswIndex(spark, store),
      "autoCompact ran on a debt-free store")
    // 7 of 60 tombstoned > HnswMaxTombFrac = 0.10
    Similarity.deleteFromHnswIndex(spark, store, (0L until 7L))
    assert(Similarity.hnswDebt(spark, store).compactDue())
    assert(Similarity.autoCompactHnswIndex(spark, store))
    val healed = Similarity.hnswDebt(spark, store)
    assert(healed.n == 53 && healed.tombRows == 0 &&
      healed.patchRows == 0 && !healed.compactDue())
  }

  /** Runs `f` with `onJob` called at every job start, every event
    * delivered before it returns. */
  private def onJobs[A](onJob: () => Unit)(f: => A): A = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = onJob()
    }
    org.apache.spark.graft.BusDrain(sc)
    sc.addSparkListener(listener)
    try { val out = f; org.apache.spark.graft.BusDrain(sc); out }
    finally sc.removeSparkListener(listener)
  }

  test("HNSW search runs as many Spark jobs at 12 base hops as at 4, " +
      "and the default search is the 4-hop one") {
    val t = embeddings.select($"vec_id".as("tid"), $"embedding".as("te"))
    val q = embeddings.filter($"vec_id" < 6)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val store = graft.util.TempDirs.create("hnsw-jobs") + "/g"
    Similarity.writeHnswIndex(t, store, dim = 16, nCells = 8, m = 4)
    def search(hops0: Int) = Similarity.knnHnswIndexed(spark, store, q,
      k = 3, hops0 = hops0).collect().map(_.toString).sorted.toSeq
    val twin = search(4)
    def jobsAt(hops0: Int): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      onJobs(() => jobs.incrementAndGet())(search(hops0))
      jobs.get
    }
    val (at4, at12) = (jobsAt(4), jobsAt(12))
    assert(at4 == at12, s"jobs grew with hops: $at4 at 4 hops, $at12 at 12")
    assert(Similarity.knnHnswIndexed(spark, store, q, k = 3).collect()
      .map(_.toString).sorted.toSeq == twin)
  }

  test("HNSW search leaves the session conf alone: every job of knnHnsw " +
      "and knnHnswIndexed sees the session's AQE setting") {
    val key = "spark.sql.adaptive.enabled"
    val session = spark.conf.get(key)
    val t = embeddings.select($"vec_id".as("tid"), $"embedding".as("te"))
    val q = embeddings.filter($"vec_id" < 6)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val store = graft.util.TempDirs.create("hnsw-conf") + "/g"
    Similarity.writeHnswIndex(t, store, dim = 16, nCells = 8, m = 4)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    onJobs(() => seen.add(spark.conf.get(key))) {
      Similarity.knnHnsw(q, t, dim = 16, k = 3, nCells = 8).collect()
      Similarity.knnHnswIndexed(spark, store, q, k = 3).collect()
    }
    assert(!seen.isEmpty)
    assert(seen.toArray.forall(_ == session),
      s"jobs saw $key = ${seen.toArray.distinct.mkString(",")}, " +
        s"session has $session")
  }

  test("HNSW search fails a zero-norm query with the ANSI " +
      "division-by-zero error") {
    val t = embeddings.select($"vec_id".as("tid"), $"embedding".as("te"))
    val q = Seq((0L, Array.fill(16)(0f))).toDF("qid", "qe")
    val e = intercept[Exception](
      Similarity.knnHnsw(q, t, dim = 16, k = 3, nCells = 8).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("DIVIDE_BY_ZERO")),
      s"unexpected failure: $e")
  }

  test("semanticDedup restores the caller's job description on both " +
      "routes") {
    val t = embeddings.select($"vec_id".as("tid"), $"embedding".as("te"))
    val sc = spark.sparkContext
    for (route <- Seq("brute", "index"); caller <- Seq(null, "caller")) {
      sc.setJobDescription(caller)
      try {
        Similarity.semanticDedup(t, dim = 16, minCos = 0.9,
          forceRoute = Some(route)).collect()
        assert(sc.getLocalProperty("spark.job.description") == caller,
          s"route $route left the description " +
            sc.getLocalProperty("spark.job.description"))
      } finally sc.setJobDescription(null)
    }
  }

  test("scaled-dot cosine matches double-precision cosine closely") {
    val e = embeddings.limit(10).collect().map(_.getSeq[Float](1).toArray)
    val df = Seq((e(0), e(1))).toDF("a", "b")
    val scaled = df.select(Similarity.cosineScaled($"a", $"b"))
      .collect().head.getDouble(0)
    def dot(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => p.toDouble * q }.sum
    val exact = dot(e(0), e(1)) / math.sqrt(dot(e(0), e(0)) * dot(e(1), e(1)))
    assert(math.abs(scaled - exact) < 1e-3, s"$scaled vs $exact")
  }
}
