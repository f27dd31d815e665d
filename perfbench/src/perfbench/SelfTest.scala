package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** The benchmark's own tests: generator determinism, that every output
  * check catches a corrupted output, and span self-time arithmetic. They
  * need no Spark session. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def assertThat(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def inputsDigest(seed: Long): String = {
    val deals = Gen.deals(seed, 40, 0.8)
    val r = new SplittableRandom(seed)
    val filings = deals.map { d =>
      val spec = Gen.filingSpec(r, 6000, 60000, 0.1, 0.1, 0.2, 0.3)
      spec.toString + Gen.filingText(seed + d.index, d.target, d.acquirer, spec)
    }
    val corpus = Gen.dupCorpus(seed, 200, 400, 0.5)
    val emb = Gen.embeddings(seed, 300, 0.2, 10)
    Gen.digest(deals.iterator.map(_.toString) ++ filings.iterator ++
      corpus.docs.iterator.map(_.toString) ++ corpus.clusters.iterator.map(_.toString) ++
      (emb.targets ++ emb.queries).iterator.map { case (i, v) => s"$i:${v.mkString(",")}" })
  }

  def main(args: Array[String]): Unit = {
    test("same seed gives identical inputs") {
      assertThat(inputsDigest(11) == inputsDigest(11), "digests differ")
    }
    test("another seed gives different inputs") {
      assertThat(inputsDigest(11) != inputsDigest(12), "digests equal")
    }
    test("filings respect the cap and carry their planted header") {
      val r = new SplittableRandom(5)
      (0 until 30).foreach { i =>
        val spec = Gen.filingSpec(r, 20000, Gen.MaxFilingChars, 0.1, 0.1, 0.2, 0.3)
        val text = Gen.filingText(i, "Alpha1 Widgets Inc", "Beta2 Metals Corp", spec)
        assertThat(text.length <= Gen.MaxFilingChars, s"filing of ${text.length} chars")
        spec.header.foreach(h => assertThat(text.contains(s"\n$h\n"), s"header $h missing"))
        if (spec.header.isEmpty) assertThat(!text.toLowerCase.contains("background"),
          "a filing without a section mentions it")
      }
    }
    test("near-duplicate clusters stay within the LSH bucket cap") {
      val c = Gen.dupCorpus(3, 3000, 200, 0.6)
      assertThat(c.clusters.forall(x => x.size >= 3 && x.size <= Gen.MaxClusterSize),
        "cluster size out of range")
      assertThat(c.clusters.map(_.size).max > 10, "no skewed tail")
    }

    // ---- extraction checks
    val names = Map(1L -> ("Alpha1 Widgets Inc", "Beta2 Metals Corp"),
      2L -> ("Gamma3 Foods Co", "Delta4 Energy Inc"), 3L -> ("Eps5 Co", "Zeta6 Co"))
    val specs = Map(
      1L -> Gen.FilingSpec(1000, Gen.Phrase("Background of the Merger"), 0.5, toc = true, abbreviated = false),
      2L -> Gen.FilingSpec(1000, Gen.Bare, 0.5, toc = false, abbreviated = true),
      3L -> Gen.FilingSpec(1000, Gen.NoSection, 0.5, toc = false, abbreviated = false))
    def section(d: Long): (Long, String) = {
      val (a, b) = names(d)
      d -> (s"The following provides details about the events leading up to the merger " +
        s"deal between $a & $b:\n${specs(d).header.get}\nOn 1 May 2003 ...")
    }
    val good = Seq(section(1), section(2))
    test("coverage check passes a correct extraction") {
      val (errs, covered, planted) = Extraction.coverage(good, specs, names)
      assertThat(errs.isEmpty && covered == 2 && planted == 2, s"$errs $covered/$planted")
    }
    test("coverage check catches one dropped extracted row") {
      assertThat(Extraction.coverage(good.tail, specs, names)._1.nonEmpty, "not caught")
    }
    test("coverage check catches a table-of-contents line taken for the header") {
      val toc = good.head._1 -> good.head._2.replace("Merger\n", "Merger    7\n")
      assertThat(Extraction.coverage(toc +: good.tail, specs, names)._1.nonEmpty, "not caught")
    }
    test("coverage check catches a section extracted from a filing without one") {
      assertThat(Extraction.coverage(good :+ (3L -> "x"), specs, names)._1.nonEmpty, "not caught")
    }

    // ---- deal store checks
    val deals = Gen.deals(9, 10, 0.7)
    val expectRecord = (d: Gen.Deal) => d.index % 3 != 0
    val store = deals.filter(_.validates).map { d =>
      (d.index, s"u${d.index}",
        if (expectRecord(d)) """{"TYPE_OF_INITIATION":"Mutual"}""" else null)
    }
    test("store check passes a correct store") {
      val errs = DealBatches.checkRows(store, deals, expectRecord)
      assertThat(errs.isEmpty, errs.mkString("; "))
    }
    test("store check catches a dropped row, a duplicate row and a stray row") {
      assertThat(DealBatches.checkRows(store.tail, deals, expectRecord).nonEmpty, "drop")
      assertThat(DealBatches.checkRows(store :+ store.head, deals, expectRecord).nonEmpty, "dup")
      val stray = deals.find(!_.validates).map(d => (d.index, "u", null: String)).toSeq
      assertThat(stray.isEmpty ||
        DealBatches.checkRows(store ++ stray, deals, expectRecord).nonEmpty, "stray")
    }

    // ---- curation checks
    val corpus = Gen.dupCorpus(4, 300, 300, 0.5)
    val emb = Gen.embeddings(4, 200, 0.3, 5)
    val pairs = corpus.pairs.toSeq.sorted
    val verdicts = corpus.clusters.flatMap(c => c.map(i => (i, c.min, i == c.min)))
    val tri = CorpusCurate.triangleCount(pairs).toSeq
    val sem = emb.pairs.toSeq
    test("curation check passes correct outputs") {
      val errs = CorpusCurate.check(pairs, verdicts, tri, sem, corpus, emb)
      assertThat(errs.isEmpty, errs.mkString("; "))
    }
    test("curation check catches one extra dedup pair") {
      val unclustered = corpus.docs.map(_._1).filterNot(corpus.clusters.flatten.toSet).take(2)
      val extra = pairs :+ ((unclustered(0), unclustered(1)))
      assertThat(CorpusCurate.check(extra, verdicts, CorpusCurate.triangleCount(extra).toSeq,
        sem, corpus, emb).nonEmpty, "not caught")
    }
    test("curation check catches a second keeper in a cluster") {
      val big = corpus.clusters.maxBy(_.size)
      val twoKeepers = verdicts.map(v => if (v._1 == big.max) (v._1, v._1, true) else v)
      assertThat(CorpusCurate.check(pairs, twoKeepers, tri, sem, corpus, emb).nonEmpty, "not caught")
    }
    test("curation check catches a wrong triangle count and a missing semantic pair") {
      val badTri = tri.map { case (n, c) => (n, c + 1) }
      assertThat(CorpusCurate.check(pairs, verdicts, badTri, sem, corpus, emb).nonEmpty, "tri")
      assertThat(CorpusCurate.check(pairs, verdicts, tri, sem.tail, corpus, emb).nonEmpty, "sem")
    }
    test("triangle recount of a 4-clique") {
      val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      assertThat(CorpusCurate.triangleCount(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
        CorpusCurate.triangleCount(k4).toString)
    }

    // ---- span arithmetic
    test("self time subtracts the union of child intervals") {
      // children overlap (10-20, 15-30), one sits inside, one runs past the end
      val self = Intervals.selfNs(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L), (90L, 120L)))
      assertThat(self == 100 - 20 - 10 - 10, s"self $self")
      assertThat(Intervals.selfNs(0, 100, Nil) == 100, "no children")
      assertThat(Intervals.selfNs(0, 100, Seq((0L, 100L), (20L, 40L))) == 0, "fully covered")
      assertThat(Intervals.covered(0, 10, Seq((20L, 30L))) == 0, "disjoint child")
    }
    test("tail is the highest percentile with ten samples beyond it") {
      val xs = (1 to 40).map(_.toDouble)
      assertThat(Main.tail(xs) == Some((30.0, 75.0, 40)), Main.tail(xs).toString)
      assertThat(Main.tail(xs.take(10)).isEmpty, "ten samples have no tail")
      assertThat(Main.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median")
    }

    println(s"$passed passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
