package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded publication corpus for the pub_pipeline workload.
  *
  * Writes `files` chunks per source:
  *   - `oag/part-NNN.json`   OAG JSON lines (ScipiStream's OAG topic shape)
  *   - `dblp/part-NNN.json`  DBLP producer JSON lines (the DBLP topic shape)
  *   - `dblpxml/part-NNN.xml` the same DBLP records as one XML document,
  *     the input of `DblpXml.parse`
  *
  * The corpus has fixed shares, drawn as exact counts and placed by a
  * seeded shuffle, so the same seed gives byte-identical files:
  *   - [[InvalidShare]] of base records each break exactly one acceptance
  *     rule of `Normalize.publications`;
  *   - [[RedeliveredShare]] extra records re-deliver an earlier accepted
  *     record verbatim (same `(doi, title)` key); every other one lands in
  *     a later file than its original, so a later micro-batch upserts a
  *     key the sink already holds;
  *   - the authorship of the reference report (see [[AuthorCounts]]): a
  *     body of 1 to [[MaxBodyAuthors]] authors, a 21-50-author tail and
  *     papers with 100 or more authors, the last two at least one per
  *     source, with fixed author counts ([[TailAuthors]], [[HyperAuthors]]);
  *   - authors, keywords, fields of study and venues are Zipf-skewed, and
  *     every DBLP record carries the `computer science` hot key.
  *
  * The invalid and re-delivery shares, the Zipf exponent, the pool sizes
  * and the author counts inside the two tails have no published figure
  * to derive them from; they are set, not measured.
  */
object Corpus {

  val InvalidShare = 0.06
  val RedeliveredShare = 0.05

  /** Authorship figures of the reference report. */
  object AuthorCounts {
    /** Table IV, row 1: single-authored papers. */
    val SingleShare = 0.1595
    /** Table VI: average authors per paper, 3.53 (2000) to 4.48 (2012);
      * the body is fitted to the middle of that range. */
    val MeanAuthors = 4.0
    /** Table IV: 3,229 publications with 21 or more authors out of
      * Σ`no_articles` ≈ 20.2 M. */
    val TailShare = 3229 / 20.2e6
  }

  /** Papers with 100 or more authors: half of the 21+ tail. This split is
    * set, not measured: the repository holds only Table VII's peak (230
    * papers in 2010), not its rows. At the benchmark's sizes both parts of
    * the tail round to no paper, so [[declared]] writes at least one of
    * each per source, far above the report's share. */
  val HyperShare = AuthorCounts.TailShare / 2
  val MaxBodyAuthors = 20

  /** Author counts of a 21-50-author tail paper and of a paper with 100 or
    * more authors: the middles of 21-50 and 100-140, set, not measured.
    * They are fixed rather than drawn because each such paper adds a
    * k-author clique, k(k-1)/2 edges, to the graph the batch jobs build:
    * a drawn count made the graph's size, and the work of an iteration,
    * vary with the seed (a 100-author paper adds 4,950 edges, a
    * 140-author one 9,730). */
  val TailAuthors = 35
  val HyperAuthors = 120

  /** Zipf exponent of the author, keyword, field and venue draws. */
  val ZipfS = 1.1

  val AuthorPool = 4000
  val KeywordPool = 300
  val FosPool = 40
  val VenuePool = 60
  val PublisherPool = 20

  private val Words = Vector("graph", "stream", "learning", "network", "data",
    "query", "index", "cloud", "model", "mining", "vision", "logic", "storage",
    "kernel", "agent", "robot", "signal", "sensor", "cache", "privacy")

  /** The most frequent keywords (Zipf rank 1..3) plus the DBLP hot key:
    * the association jobs' user-defined keyword list. */
  val AssocKeywords: Seq[String] =
    Seq("computer science") ++ (0 until 3).map(keyword)

  def keyword(rank: Int): String = s"${Words(rank % Words.length)} ${rank / Words.length}"

  final case class Spec(seed: Long, files: Int, oagPerFile: Int, dblpPerFile: Int)

  /** What the generator wrote, counted while writing; the keyword and
    * authors-per-paper counts of the accepted records are the answers
    * the `keywords` and `authorptrn` aggregates must give. */
  final case class Manifest(
      oagRecords: Int,
      dblpRecords: Int,
      invalid: Int,
      redelivered: Int,
      lateRedelivered: Int,
      tail: Int,
      hyper: Int,
      accepted: Long,
      distinctKeys: Long,
      acceptedHyper: Long,
      dblpXmlErrors: Int,
      keywordCounts: Map[String, Long],
      authorUnits: Map[Int, Long]) {
    def records: Int = oagRecords + dblpRecords
  }

  /** Counts the shares declare for `n` base records of one source. */
  final case class Declared(invalid: Int, redelivered: Int, tail: Int, hyper: Int)

  def declared(n: Int): Declared =
    Declared(math.round(n * InvalidShare).toInt,
      math.round(n * RedeliveredShare).toInt,
      math.max(1, math.round(n * (AuthorCounts.TailShare - HyperShare)).toInt),
      math.max(1, math.round(n * HyperShare).toInt))

  private sealed trait Kind
  private case object Valid extends Kind
  private case object Tail extends Kind
  private case object Hyper extends Kind
  private final case class Invalid(rule: Int) extends Kind

  /** One record before serialization; `None` fields are left out. */
  private final case class Rec(
      doi: Option[String], title: Option[String], lang: String,
      publisher: Option[String], venue: Option[String], year: String,
      keywords: Seq[String], authors: Seq[String], fos: Seq[String],
      accepted: Boolean, hyper: Boolean)

  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Author counts 1..[[MaxBodyAuthors]]: P(1) is Table IV's single
    * share; 2.. decays geometrically with the ratio that gives the body
    * Table VI's mean. */
  private val bodyAuthors: Array[Double] = {
    import AuthorCounts._
    def pmf(q: Double) = {
      val w = (2 to MaxBodyAuthors).map(k => math.pow(q, k - 2))
      w.map(_ / w.sum * (1 - SingleShare))
    }
    def mean(q: Double) = SingleShare + pmf(q).zipWithIndex.map { case (p, i) => p * (i + 2) }.sum
    var (lo, hi) = (0.0, 1.0)
    for (_ <- 0 until 60) { val mid = (lo + hi) / 2; if (mean(mid) < MeanAuthors) lo = mid else hi = mid }
    (SingleShare +: pmf(lo)).scanLeft(0.0)(_ + _).tail.toArray
  }

  /** Mean author count of the body, for the generator test. */
  def bodyMeanAuthors: Double =
    bodyAuthors.indices.map(i => (i + 1) * (bodyAuthors(i) - (if (i == 0) 0.0 else bodyAuthors(i - 1)))).sum

  private def drawBodyAuthors(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(bodyAuthors, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, MaxBodyAuthors - 1) + 1
  }

  private val authorZ = new Zipf(AuthorPool, ZipfS)
  private val keywordZ = new Zipf(KeywordPool, ZipfS)
  private val fosZ = new Zipf(FosPool, ZipfS)
  private val venueZ = new Zipf(VenuePool, ZipfS)
  private val publisherZ = new Zipf(PublisherPool, ZipfS)

  private def distinctDraws(r: SplittableRandom, z: Zipf, k: Int, name: Int => String): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (seen.size < k) seen += z.draw(r)
    seen.toSeq.map(name)
  }

  private def author(i: Int) = s"author $i"

  /** OAG rules: 0 lang, 1 doi, 2 title, 3 publisher+venue, 4 keywords+fos,
    * 5 year length, 6 authors. DBLP has a fixed lang and topics, so its
    * rules are 1 key, 2 title, 3 conference, 5 year length, 6 authors. */
  private val OagRules = Vector(0, 1, 2, 3, 4, 5, 6)
  private val DblpRules = Vector(1, 2, 3, 5, 6)

  private def base(r: SplittableRandom, source: String, seed: Long, i: Int, kind: Kind): Rec = {
    val nAuthors = kind match {
      case Hyper => HyperAuthors
      case Tail => TailAuthors
      case _ => drawBodyAuthors(r)
    }
    val authors = distinctDraws(r, authorZ, nAuthors, author)
    val kws =
      if (source == "dblp") Seq("computer science")
      else distinctDraws(r, keywordZ, 2 + r.nextInt(4), keyword)
    val fos =
      if (source == "dblp") Seq("computer science")
      else distinctDraws(r, fosZ, 1 + r.nextInt(3), k => s"field ${k}")
    val words = Seq.fill(2 + r.nextInt(3))(Words(r.nextInt(Words.length)))
    val title = (kws.head +: words).mkString(" ") + s" $i"
    val rec = Rec(
      doi = Some(s"$source $seed $i"),
      title = Some(title),
      lang = "en",
      publisher = if (source == "dblp") None else Some(s"publisher ${publisherZ.draw(r)}"),
      venue = Some(s"venue ${venueZ.draw(r)}"),
      year = (1990 + r.nextInt(31)).toString,
      keywords = kws, authors = authors, fos = fos,
      accepted = true, hyper = kind == Hyper)
    kind match {
      case Invalid(rule) =>
        val broken = rule match {
          case 0 => rec.copy(lang = "fr")
          case 1 => rec.copy(doi = None)
          case 2 => rec.copy(title = None)
          case 3 => rec.copy(publisher = None, venue = None)
          case 4 => rec.copy(keywords = Nil, fos = Nil)
          case 5 => rec.copy(year = rec.year.take(2))
          case 6 => rec.copy(authors = Nil)
        }
        broken.copy(accepted = false, hyper = false)
      case _ => rec
    }
  }

  /** Base records (exact category counts, seeded order) with the
    * re-deliveries inserted at seeded positions after their original, as
    * (file, record) in file order. Base record `i` of `n` goes to file
    * `i * files / n`; every even-numbered re-delivery goes to a later
    * file than its original (when there is one). Also returns how many
    * re-deliveries landed in a later file. */
  private def source(r: SplittableRandom, name: String, seed: Long, n: Int, files: Int): (Vector[(Int, Rec)], Int) = {
    val d = declared(n)
    val rules = if (name == "dblp") DblpRules else OagRules
    val kinds: Array[Kind] =
      (Seq.tabulate(d.invalid)(k => Invalid(rules(k % rules.length))) ++
        Seq.fill(d.tail)(Tail) ++ Seq.fill(d.hyper)(Hyper) ++
        Seq.fill(n - d.invalid - d.tail - d.hyper)(Valid)).toArray
    for (i <- kinds.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
    }
    val recs = kinds.indices.map(i => base(r, name, seed, i, kinds(i))).toVector
    def fileAt(pos: Double) = math.min(files - 1, (pos * files / n).toInt)
    val acceptedAt = recs.indices.filter(recs(_).accepted)
    val early = acceptedAt.filter(fileAt(_) < files - 1)
    val copies = Seq.tabulate(d.redelivered) { k =>
      val later = k % 2 == 0 && early.nonEmpty
      val j = if (later) early(r.nextInt(early.length)) else acceptedAt(r.nextInt(acceptedAt.length))
      val from = if (later) (fileAt(j) + 1).toDouble * n / files else j + 0.5
      (from + r.nextDouble() * (n - from), recs(j), fileAt(j))
    }
    val placed = recs.indices.map(i => (i.toDouble, recs(i))) ++ copies.map(c => (c._1, c._2))
    (placed.sortBy(_._1).map { case (pos, rec) => (fileAt(pos), rec) }.toVector,
      copies.count(c => fileAt(c._1) > c._3))
  }

  /** Every generated string is lower-case words, digits and spaces, so
    * it needs no escaping in JSON or XML. */
  private def esc(s: String): String = {
    require(s.forall(c => c.isLetterOrDigit || c == ' '), s"unexpected character in $s")
    s
  }
  private def q(s: String) = "\"" + esc(s) + "\""
  private def arr(xs: Seq[String]) = xs.map(q).mkString("[", ",", "]")

  private def oagJson(p: Rec): String =
    (p.title.map(t => s""""title":${q(t)}""").toSeq ++
      p.doi.map(d => s""""doi":${q(d)}""") ++
      Seq(s""""lang":${q(p.lang)}""") ++
      p.publisher.map(v => s""""publisher":${q(v)}""") ++
      p.venue.map(v => s""""venue":${q(v)}""") ++
      Seq(s""""year":${q(p.year)}""",
        s""""keywords":${arr(p.keywords)}""",
        s""""authors":${p.authors.map(a => s"""{"name":${q(a)}}""").mkString("[", ",", "]")}""",
        s""""fos":${arr(p.fos)}"""))
      .mkString("{", ",", "}")

  private def dblpJson(p: Rec): String =
    (p.doi.map(d => s""""key":${q(d)}""").toSeq ++
      p.title.map(t => s""""title":${q(t)}""") ++
      Seq(s""""year":${q(p.year)}""") ++
      p.venue.map(v => s""""conference":${q(v)}""") ++
      Seq(s""""authors":${arr(p.authors)}"""))
      .mkString("{", ",", "}")

  private def dblpXml(p: Rec): String = {
    val sb = new StringBuilder("<inproceedings")
    p.doi.foreach(d => sb ++= s""" key="${esc(d)}"""")
    sb ++= ">"
    p.authors.foreach(a => sb ++= s"<author>${esc(a)}</author>")
    p.title.foreach(t => sb ++= s"<title>${esc(t)}</title>")
    sb ++= s"<year>${esc(p.year)}</year>"
    p.venue.foreach(v => sb ++= s"<booktitle>${esc(v)}</booktitle>")
    sb ++= "</inproceedings>"
    sb.toString
  }

  private def chunks(xs: Vector[(Int, Rec)], files: Int): Seq[Vector[Rec]] =
    (0 until files).map(f => xs.collect { case (`f`, rec) => rec })

  private def write(path: Path, lines: Seq[String]): Unit =
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))

  /** Writes the corpus under `dir` and returns what it holds. */
  def generate(dir: Path, spec: Spec): Manifest = {
    val r = new SplittableRandom(spec.seed)
    val (oagPlaced, oagLate) = source(r, "oag", spec.seed, spec.files * spec.oagPerFile, spec.files)
    val (dblpPlaced, dblpLate) = source(r, "dblp", spec.seed, spec.files * spec.dblpPerFile, spec.files)
    val (oag, dblp) = (oagPlaced.map(_._2), dblpPlaced.map(_._2))
    Seq("oag", "dblp", "dblpxml").foreach(s => Files.createDirectories(dir.resolve(s)))
    chunks(oagPlaced, spec.files).zipWithIndex.foreach { case (c, f) =>
      write(dir.resolve(f"oag/part-$f%03d.json"), c.map(oagJson))
    }
    chunks(dblpPlaced, spec.files).zipWithIndex.foreach { case (c, f) =>
      write(dir.resolve(f"dblp/part-$f%03d.json"), c.map(dblpJson))
      write(dir.resolve(f"dblpxml/part-$f%03d.xml"),
        Seq("""<?xml version="1.0" encoding="UTF-8"?>""", "<dblp>") ++ c.map(dblpXml) :+ "</dblp>")
    }
    val all = oag ++ dblp
    val accepted = all.filter(_.accepted)
    Manifest(
      oagRecords = oag.length,
      dblpRecords = dblp.length,
      invalid = all.count(!_.accepted),
      redelivered = all.length - all.map(p => (p.doi, p.title)).distinct.length,
      lateRedelivered = oagLate + dblpLate,
      tail = all.filter(p => p.authors.length > MaxBodyAuthors && p.authors.length < 100).map(_.doi).distinct.length,
      hyper = all.filter(_.authors.length >= 100).map(_.doi).distinct.length,
      accepted = accepted.length.toLong,
      distinctKeys = accepted.map(p => (p.doi, p.title)).distinct.length.toLong,
      acceptedHyper = accepted.count(_.hyper).toLong,
      dblpXmlErrors = dblp.count(p => p.doi.isEmpty || p.title.isEmpty),
      keywordCounts = accepted.flatMap(_.keywords).groupBy(identity).map { case (k, v) => k -> v.length.toLong },
      authorUnits = accepted.groupBy(_.authors.length).map { case (k, v) => k -> v.length.toLong })
  }
}
