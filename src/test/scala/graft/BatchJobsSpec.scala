package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.DblpXml
import graft.jobs.BatchJobs
import graft.model.Publication
import graft.ingest.Normalize

class BatchJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("S2: nested markup inside <title> concatenates like the reference SAX pass") {
    val xml =
      """<dblp><inproceedings key="conf/b/2">
        |  <author>Cy D</author>
        |  <title>Learning <i>deep</i> nets &amp; graphs</title>
        |  <year>2020</year><booktitle>NIPS</booktitle>
        |</inproceedings></dblp>""".stripMargin
    val r = DblpXml.parse(xml)
    assert(r.records.length == 1)
    assert(r.records.head.contains(""""title":"Learning deep nets & graphs""""))
  }

  test("S2: DBLP XML SAX parse emits the producer JSON shape") {
    val xml =
      """<?xml version="1.0"?>
        |<dblp>
        |  <inproceedings key="conf/a/1">
        |    <author>Ann B</author><author>Bob C</author>
        |    <title>First Paper</title>
        |    <year>2018</year>
        |    <booktitle>ICML</booktitle>
        |  </inproceedings>
        |  <inproceedings><title>No Key Dropped</title></inproceedings>
        |  <article key="journals/x"><title>Not inproceedings</title></article>
        |</dblp>""".stripMargin
    val r = DblpXml.parse(xml)
    assert(r.records.length == 1 && r.errors == 1)
    val pubs = Normalize.publications(
      Publication.fromDblpJson(r.records.toDF("value")))
    val row = pubs.collect().head
    assert(row.getAs[String]("doi") == "confa1")
    assert(row.getAs[String]("venue") == "icml")
    assert(row.getSeq[String](row.fieldIndex("authors")).toList == List("ann b", "bob c"))
  }

  private def pubs = Seq(
    // one dense 4-author clique tagged "ml" + one separate pair on "db"
    ("p1", Seq("a1", "a2", "a3", "a4"), Seq("ml"), Seq("cs"), Some("v1"), None: Option[String], "2019"),
    ("p2", Seq("a1", "a2", "a3", "a4"), Seq("ml"), Seq("cs"), Some("v1"), None: Option[String], "2019"),
    ("p3", Seq("b1", "b2"), Seq("db"), Seq("cs"), Some("v2"), None: Option[String], "2020")
  ).toDF("title", "authors", "keywords", "fos", "venue", "publisher", "year")

  test("community job: dense community found, decorated edges typed") {
    // two components (the ml clique, the db pair), so top-1 leaves one out
    val r = BatchJobs.community(pubs, keywords = Seq("ml", "db"), nDense = 3, topCommunities = 1)
    val hist = r.labelHistogram.as[(Long, Long)].collect()
    assert(hist.nonEmpty, "at least one dense community")
    val edges = r.decoratedEdges.collect()
    assert(edges.nonEmpty)
    // every decorated edge carries both endpoint types and labels
    assert(edges.forall(e => !e.isNullAt(1) && !e.isNullAt(2) && !e.isNullAt(4) && !e.isNullAt(5)))
    // G4: only the top-1 community's induced subgraph is decorated
    val top = hist.minBy { case (label, cnt) => (-cnt, label) }._1
    assert(edges.forall(e => e.getAs[Long]("srcLabel") == top && e.getAs[Long]("dstLabel") == top))
  }

  test("association job: both branches produce expected keys") {
    val r = BatchJobs.association(pubs, Seq("ml", "db"), cosineThreshold = 0.1)
    val collab = r.collaborators.as[(String, String)].collect().toSet
    // usage must be STRICTLY greater than the threshold (reference
    // semantics): the 4 ml-authors have usage 2 -> 6 pairs; the db pair
    // has usage 1 and is excluded.
    assert(collab == (for {
      i <- 1 to 4; j <- (i + 1) to 4
    } yield (s"a$i", s"a$j")).toSet)
  }

  test("topics job thresholds both tables") {
    val kw = Seq(("ml", 10L), ("rare", 1L)).toDF("keyword_name", "keyword_count")
    val fos = Seq(("cs", 20L)).toDF("field_study_name", "field_study_count")
    val (k, f) = BatchJobs.topics(kw, fos, nOccurrences = 5)
    assert(k.count() == 1 && f.count() == 1)
  }

  test("csv writer produces full + sample") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    BatchJobs.writeCsv(pubs.select("title", "year"), s"$dir/out", sampleN = 2)
    assert(spark.read.option("header", "true").csv(s"$dir/out").count() == 3)
    assert(spark.read.option("header", "true").csv(s"$dir/out.sample").count() == 2)
  }
}
