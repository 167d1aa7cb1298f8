package perfbench

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class CorpusSpec extends AnyFunSuite {

  private val spec = Corpus.Spec(seed = 7, files = 2, oagPerFile = 150, dblpPerFile = 100)

  private def generate(seed: Long): (Path, Corpus.Manifest) = {
    val dir = Files.createTempDirectory("corpus")
    (dir, Corpus.generate(dir, spec.copy(seed = seed)))
  }

  private def contents(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  test("the same seed writes byte-identical files") {
    val (a, _) = generate(7)
    val (b, _) = generate(7)
    val (c, _) = generate(8)
    assert(contents(a).keySet == Set("oag/part-000.json", "oag/part-001.json",
      "dblp/part-000.json", "dblp/part-001.json", "dblpxml/part-000.xml", "dblpxml/part-001.xml"))
    assert(contents(a) == contents(b))
    assert(contents(a) != contents(c))
  }

  test("the written counts match the declared shares") {
    val (_, m) = generate(7)
    val oag = spec.files * spec.oagPerFile
    val dblp = spec.files * spec.dblpPerFile
    val (o, d) = (Corpus.declared(oag), Corpus.declared(dblp))
    assert(m.oagRecords == oag + o.redelivered)
    assert(m.dblpRecords == dblp + d.redelivered)
    assert(m.invalid == o.invalid + d.invalid)
    assert(m.redelivered == o.redelivered + d.redelivered)
    assert(m.tail == o.tail + d.tail && m.tail >= 2)
    assert(m.hyper == o.hyper + d.hyper && m.hyper >= 2)
    assert(m.distinctKeys == oag + dblp - m.invalid)
    assert(m.accepted == m.distinctKeys + m.redelivered)
    assert(m.acceptedHyper >= m.hyper)
    // the tails' author counts are fixed, so every seed's graph has the same cliques
    assert(m.authorUnits.keySet.filter(_ > Corpus.MaxBodyAuthors) == Set(Corpus.TailAuthors, Corpus.HyperAuthors))
    // every even-numbered re-delivery goes to a later file
    assert(m.lateRedelivered >= (o.redelivered + 1) / 2 + (d.redelivered + 1) / 2)
    // DBLP records without a key or a title fail DblpXml.parse: two of the
    // five DBLP rules, dealt round-robin over the invalid records
    assert(m.dblpXmlErrors == (0 until d.invalid).count(k => k % 5 < 2))
  }

  test("the author-count body has the report's single share and mean") {
    val body = Corpus.bodyMeanAuthors
    assert(math.abs(body - Corpus.AuthorCounts.MeanAuthors) < 1e-6)
    val (_, m) = generate(7)
    val bodyPapers = m.authorUnits.filter(_._1 <= Corpus.MaxBodyAuthors).values.sum.toDouble
    val single = m.authorUnits.getOrElse(1, 0L) / bodyPapers
    // 500 draws: the share lands within four standard errors (0.066)
    assert(math.abs(single - Corpus.AuthorCounts.SingleShare) < 0.066, s"single share $single")
  }

  test("every line is one JSON record and the XML parses") {
    val (dir, m) = generate(7)
    val json = Seq("oag", "dblp").flatMap { s =>
      Files.list(dir.resolve(s)).iterator().asScala.flatMap(p => Files.readAllLines(p).asScala)
    }
    assert(json.length == m.records)
    assert(json.forall(l => l.startsWith("{") && l.endsWith("}")))
    val parsed = Files.list(dir.resolve("dblpxml")).iterator().asScala.toSeq
      .map(p => graft.ingest.DblpXml.parse(new String(Files.readAllBytes(p), "UTF-8")))
    assert(parsed.map(_.errors).sum == m.dblpXmlErrors)
    assert(parsed.map(_.records.length).sum == m.dblpRecords - m.dblpXmlErrors)
  }
}
