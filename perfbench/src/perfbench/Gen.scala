package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. Every input the engine sees is made here from
  * the workload seed; the same seed gives byte-identical inputs. Ground
  * truth is derived alongside the inputs, never read back from the engine.
  */
object Gen {

  /** Filing body cap of the reference (Processor.py content cap). */
  val MaxFilingChars = 450000

  /** LSH bucket cap of `Dedup.minhashCandidates`; planted clusters stay at
    * or below it so every planted pair is reachable. */
  val MaxClusterSize = 64

  val Dim = 64

  // ---------------------------------------------------------------- words

  private val syllables = Vector("ba", "ce", "di", "fo", "gu", "ha", "je",
    "ki", "lo", "mu", "na", "pe", "qui", "ro", "su", "ta", "ve", "wo", "xa",
    "ye", "zu", "bro", "cla", "dre", "fli", "gro", "pla", "stu", "tri", "vor")

  /** Filler vocabulary: made-up words, so no filler can contain a section
    * phrase, a cascade skip term or a company token by accident. */
  private val vocab: Vector[String] = {
    val r = new SplittableRandom(7L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 6000) {
      val n = 2 + r.nextInt(3)
      seen += (0 until n).map(_ => syllables(r.nextInt(syllables.size))).mkString
    }
    seen.toVector
  }

  private val companyStems = Vector("Zorvath", "Quilmex", "Brantelo",
    "Cydrona", "Helvix", "Jorastem", "Kelvorn", "Lumexa", "Mordane",
    "Nexovar", "Orbilon", "Pyrandel", "Quorvane", "Rostiva", "Sylventa",
    "Tarvello", "Umbrexa", "Vantrix", "Wexolan", "Xyloderm", "Yorvant",
    "Zephrane", "Astrevo", "Bolvani", "Crestova", "Dravion", "Elvantis",
    "Fornaxa", "Gilvetta", "Hexarion")
  private val companyWords = Vector("Widgets", "Metals", "Systems",
    "Software", "Pharma", "Energy", "Logistics", "Networks", "Foods",
    "Devices", "Capital", "Materials")
  private val suffixes = Vector("Inc", "Corp", "Holdings Inc", "Co")

  private def word(r: SplittableRandom): String = vocab(r.nextInt(vocab.size))

  private def sentence(r: SplittableRandom, words: Int): String = {
    val ws = (0 until words).map(_ => word(r))
    ws.head.capitalize + " " + ws.tail.mkString(" ") + "."
  }

  /** A paragraph of `lines` wrapped lines; a blank line follows it. */
  private def paragraph(r: SplittableRandom, lines: Int): String =
    (0 until lines).map(_ => sentence(r, 6 + r.nextInt(5))).mkString("\n")

  private def filler(r: SplittableRandom, chars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < chars) {
      sb ++= paragraph(r, 3 + r.nextInt(4)); sb ++= "\n\n"
    }
    sb.toString
  }

  // ---------------------------------------------------------------- deals

  case class Deal(index: Long, target: String, acquirer: String,
      announce: String, targetCik: Long, validates: Boolean)

  private def companyName(r: SplittableRandom, i: Long): String = {
    // the stem index cycles so names stay distinct across a deal table;
    // the numeric tag keeps first tokens unique per company
    val stem = companyStems(r.nextInt(companyStems.size)) + (i % 9973)
    s"$stem ${companyWords(r.nextInt(companyWords.size))} " +
      suffixes(r.nextInt(suffixes.size))
  }

  /** Deal table: in every run of `group` consecutive deals exactly
    * round(`group` x `validShare`) have a filing that names both parties,
    * at seeded positions; the rest only get decoy hits that fail
    * validation. A fixed share per batch keeps batches alike across seeds. */
  def deals(seed: Long, n: Int, validShare: Double, group: Int = 1): Vector[Deal] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val valid = (0 until n by group).flatMap { g =>
      val size = math.min(group, n - g)
      val k = math.round(size * validShare).toInt
      shuffle(r, Vector.tabulate(size)(_ < k))
    }
    (0 until n).toVector.map { i =>
      val target = companyName(r, 2L * i)
      val acquirer = companyName(r, 2L * i + 1)
      val y = 2001 + r.nextInt(20)
      val m = 1 + r.nextInt(12)
      val d = 1 + r.nextInt(28)
      Deal(i.toLong, target, acquirer, f"$y%04d-$m%02d-$d%02d",
        1000000L + r.nextInt(8000000), valid(i))
    }
  }

  // -------------------------------------------------------------- filings

  /** The section shapes a filing can carry. */
  sealed trait Section
  /** A full section-title phrase header ("Background of the Merger"). */
  case class Phrase(header: String) extends Section
  /** Only a bare "Background" line: the cascade's second phase. */
  case object Bare extends Section
  /** No section at all: nothing may be extracted. */
  case object NoSection extends Section

  val Headers = Vector("Background of the Merger", "Background of the Offer",
    "Background of the Transaction", "Background to the Acquisition",
    "Background of the Proposed Transaction")

  /** Shape of one generated filing, kept as ground truth. */
  case class FilingSpec(chars: Int, section: Section, depth: Double,
      toc: Boolean, abbreviated: Boolean) {
    def header: Option[String] = section match {
      case Phrase(h) => Some(h)
      case Bare => Some("Background")
      case NoSection => None
    }
  }

  /** Draw a filing shape: log-uniform length in [minChars, maxChars], the
    * section at a uniform relative depth, `noSectionShare` without any
    * section, `bareShare` with only the bare header, `abbrevShare` naming
    * the parties by role inside the section (the enrichment path), and
    * `tocShare` with a table of contents that lists the section. */
  def filingSpec(r: SplittableRandom, minChars: Int, maxChars: Int,
      noSectionShare: Double, bareShare: Double, abbrevShare: Double,
      tocShare: Double): FilingSpec = {
    val chars = math.exp(math.log(minChars) +
      r.nextDouble() * (math.log(maxChars) - math.log(minChars))).toInt
    val u = r.nextDouble()
    val section =
      if (u < noSectionShare) NoSection
      else if (u < noSectionShare + bareShare) Bare
      else Phrase(Headers(r.nextInt(Headers.size)))
    val depth = 0.05 + 0.85 * r.nextDouble()
    val toc = section.isInstanceOf[Phrase] && r.nextDouble() < tocShare
    FilingSpec(chars, section, depth, toc, r.nextDouble() < abbrevShare)
  }

  /** `n` lengths at the midpoints of `n` equal steps of log-length. */
  def logSpread(minChars: Int, maxChars: Int, n: Int): Vector[Int] =
    Vector.tabulate(n) { k =>
      math.exp(math.log(minChars) + (k + 0.5) / n * (math.log(maxChars) - math.log(minChars))).toInt
    }

  def shuffle[T](r: SplittableRandom, xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  private val tocEntries = Vector("Summary Term Sheet", "Questions and Answers",
    "Risk Factors", "Special Meeting", "The Parties", "Reasons for the Merger",
    "Financing of the Merger", "Interests of Directors", "Regulatory Approvals",
    "Appraisal Rights", "Material Tax Consequences", "The Merger Agreement",
    "Conditions to Closing", "Termination Fees", "Market Price Data",
    "Security Ownership", "Future Proposals", "Where You Can Find More")

  /** Plain-text filing for (target, acquirer) with the shape `spec`.
    * The cover names both parties in full inside the 11k-char header
    * probe. An abbreviated filing names them by role ("the Company",
    * "Parent") from the section on, defines a merger-sub entity on the
    * cover, and mentions it in the section so enrichment has a definition
    * to attach. */
  def filingText(seed: Long, target: String, acquirer: String,
      spec: FilingSpec): String = {
    val r = new SplittableRandom(seed)
    // made of filler syllables, so it can never contain a party's token
    val subName = s"${word(r).capitalize} Acquisition Corp"
    val sb = new StringBuilder
    sb ++= "PROXY STATEMENT\n\n"
    sb ++= s"Proposed merger of $target with $acquirer pursuant to the " +
      "agreement and plan of merger.\n\n"
    sb ++= s"$target (the \"Company\") and $acquirer (\"Parent\") have " +
      "agreed to combine.\n\n"
    if (spec.abbreviated)
      sb ++= s"$subName (the \"$subName\" or \"Merger Sub\") is a wholly " +
        "owned subsidiary of Parent.\n\n"
    if (spec.toc) {
      sb ++= "TABLE OF CONTENTS\n\n"
      // the section entry sits near the top so the rest of its chunk is
      // list-shaped: the cascade's table-of-contents test must reject it
      val at = 2 + r.nextInt(3)
      var i = 0
      while (i < 90) {
        val e = if (i == at) spec.header.get
          else tocEntries(r.nextInt(tocEntries.size)) + " " + word(r).capitalize
        sb ++= s"$e    ${3 + i * 2}\n\n"
        i += 1
      }
    }
    val headLen = sb.length
    val before = math.max(0, (spec.chars * spec.depth).toInt - headLen)
    sb ++= filler(r, before)
    val (a, b) =
      if (spec.abbreviated) ("the Company", "Parent") else (target, acquirer)
    spec.header.foreach { h =>
      sb ++= h + "\n\n"
      sb ++= s"On ${1 + r.nextInt(28)} May ${2000 + r.nextInt(20)} " +
        s"representatives of $a met with representatives of $b to discuss " +
        "a possible transaction.\n"
      sb ++= paragraph(r, 3) + "\n\n"
      if (spec.abbreviated)
        sb ++= s"Later $b formed $subName to hold the shares and " +
          s"$subName signed a joinder.\n" + paragraph(r, 2) + "\n\n"
      var k = 0
      while (k < 6) {
        sb ++= s"Thereafter $a and $b exchanged drafts.\n"
        sb ++= paragraph(r, 3 + r.nextInt(3)) + "\n\n"
        k += 1
      }
    }
    sb ++= filler(r, math.max(0, spec.chars - sb.length))
    sb.setLength(math.min(sb.length, math.min(spec.chars, MaxFilingChars)))
    sb.toString
  }

  /** A short filing that names only `party`: fails both-names validation. */
  def decoyText(seed: Long, party: String): String = {
    val r = new SplittableRandom(seed)
    s"ANNUAL REPORT\n\n$party reports its results for the year.\n\n" +
      filler(r, 2000 + r.nextInt(6000))
  }

  // ------------------------------------------------------------ EDGAR sim

  /** Accession number encoding (deal, filing slot) so the fetcher can
    * regenerate the body from the URL alone. */
  def adsh(cik: Long, deal: Long, slot: Int): String =
    f"$cik%010d-${10 + slot}%02d-${deal}%06d"

  /** Decode `.../<adsh>.txt` back to (deal, slot). */
  def decodeFilingUrl(url: String): Option[(Long, Int)] = {
    val m = """(\d{10})-(\d{2})-(\d{6})\.txt$""".r.findFirstMatchIn(url)
    m.map(x => (x.group(3).toLong, x.group(2).toInt - 10))
  }

  // ------------------------------------------------------ near-dup corpus

  case class DupCorpus(docs: Vector[(Long, String)],
      clusters: Vector[Vector[Long]]) {
    /** Planted near-duplicate pairs (id_1 < id_2). */
    lazy val pairs: Set[(Long, Long)] = clusters.iterator.flatMap { c =>
      for (i <- c.iterator; j <- c.iterator if i < j) yield (i, j)
    }.toSet
  }

  /** `n` docs of ~`chars` characters; clusters take `clusteredShare` of the
    * docs with Pareto-tailed sizes from 3 up to [[MaxClusterSize]]. The
    * sizes are Pareto quantiles at golden-ratio steps, the same on every
    * seed: the pair graph's size drives the dedup, star-contraction and
    * triangle cost, and with seeded sizes a pass cost 20-30% more on some
    * seeds than on others. The texts and edits come from the seed. Each
    * member differs from its cluster's base text by one word edit, so
    * member pairs sit near 0.99 shingle Jaccard, far above the 0.8
    * verification threshold. A member is cut off from its cluster only if
    * its few unique shingles break all 4 MinHash bands at once (about 1e-7
    * at 2000 chars; at 1000 chars with two edits it happened on most
    * seeds), and with at least three members a cluster stays connected
    * unless two of its members are cut off, so "one keeper per planted
    * cluster" holds on every seed in practice. */
  def dupCorpus(seed: Long, n: Int, chars: Int, clusteredShare: Double): DupCorpus = {
    val r = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    val docs = Vector.newBuilder[(Long, String)]
    val clusters = Vector.newBuilder[Vector[Long]]
    var next = 0L
    var k = 0
    val clusteredTarget = (n * clusteredShare).toInt
    while (next < clusteredTarget) {
      val u = (k * 0.6180339887498949) % 1.0
      k += 1
      val size = math.min(MaxClusterSize, (3.0 / math.pow(1.0 - u, 1.0 / 1.3)).toInt)
      val s = math.min(size, math.max(3, clusteredTarget - next.toInt))
      val base = filler(r, chars).split(' ')
      val ids = (0 until s).map { _ =>
        val w = base.clone()
        w(r.nextInt(w.length)) = word(r)
        val id = next; next += 1
        docs += id -> w.mkString(" ")
        id
      }.toVector
      clusters += ids
    }
    while (next < n) { docs += next -> filler(r, chars); next += 1 }
    DupCorpus(docs.result(), clusters.result())
  }

  // ------------------------------------------------------------ embeddings

  case class Embeddings(targets: Vector[(Long, Array[Float])],
      queries: Vector[(Long, Array[Float])], clusters: Vector[Vector[Long]]) {
    lazy val pairs: Set[(Long, Long)] = clusters.iterator.flatMap { c =>
      for (i <- c.iterator; j <- c.iterator if i < j) yield (i, j)
    }.toSet
  }

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** `n` unit vectors in [[Dim]] dimensions grouped in topics of about 50
    * (pairwise cosine near 0.6 inside a topic, near 0 across), so every
    * query has a well-ordered top 5. `clusteredShare` of the vectors sit in
    * near-duplicate clusters of 2-5 (pairwise cosine above 0.98); all other
    * pairs stay far below 0.9. Queries are fresh topic members with ids
    * disjoint from the targets'. */
  def embeddings(seed: Long, n: Int, clusteredShare: Double, nQueries: Int): Embeddings = {
    val r = new SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
    def gauss(): Double = {
      val u1 = math.max(1e-12, r.nextDouble()); val u2 = r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    def norm(v: Array[Double]): Array[Double] = {
      val l = math.sqrt(v.map(x => x * x).sum); v.map(_ / l)
    }
    val topics = Vector.fill(math.max(1, n / 50))(norm(Array.fill(Dim)(gauss())))
    def member(): Array[Double] =
      topics(r.nextInt(topics.size)).map(_ + 0.1 * gauss())
    val targets = Vector.newBuilder[(Long, Array[Float])]
    val clusters = Vector.newBuilder[Vector[Long]]
    var next = 0L
    val clustered = (n * clusteredShare).toInt
    while (next < clustered) {
      val base = member()
      val s = math.min(2 + r.nextInt(4), math.max(2, clustered - next.toInt))
      clusters += (0 until s).map { _ =>
        val id = next; next += 1
        targets += id -> unit(base.map(_ + 0.01 * gauss()))
        id
      }.toVector
    }
    while (next < n) { targets += next -> unit(member()); next += 1 }
    val qs = (0 until nQueries).toVector.map(q => (1000000L + q) -> unit(member()))
    Embeddings(targets.result(), qs, clusters.result())
  }

  /** Stable digest of any generated value, for the determinism checks. */
  def digest(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
