package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.PubAggregates
import graft.assoc.Association
import graft.graph.{CommunityDetection, PubGraph}
import graft.ingest.{DblpXml, Normalize}
import graft.jobs.BatchJobs
import graft.streaming.StreamJobs
import scala.jdk.CollectionConverters._

/** The batch half of pub_pipeline: the three ScipiBatch jobs over the
  * corpus. One run parses the DBLP XML (`DblpXml.parse`), ingests it with
  * the OAG JSON (`StreamJobs.unionIngest`, cached for the later steps),
  * runs the six aggregates, `BatchJobs.topics`, `BatchJobs.community` and
  * `BatchJobs.association`, then releases everything it cached.
  *
  * Checks, every run: the accepted, hyper-author and DBLP XML error
  * counts, the keyword counts and the authorship pattern equal the
  * generator's, Σ`no_articles` equals the accepted rows, and every
  * output's digest equals the first run's. On the first run:
  * collaborator pairs are unique and have `a < b`, and the distinct keys
  * equal the generator's.
  */
final class PubBatch(ctx: Ctx) {
  import PubBatch._
  private def tracer = ctx.tracer

  /** Output digests of the first run; later runs must match. */
  private var firstDigests: Map[String, Any] = Map.empty

  private def readXml(d: Path): Seq[String] =
    Files.list(d.resolve("dblpxml")).iterator().asScala.toSeq.sorted
      .map(p => new String(Files.readAllBytes(p), UTF_8))

  private def ingest(spark: SparkSession, d: Path, m: Corpus.Manifest): DataFrame =
    tracer.span("ingest") {
      val xml = readXml(d)
      val parsed = tracer.span("ingest.dblp_xml")(xml.map(DblpXml.parse))
      val errors = parsed.map(_.errors).sum
      ctx.check(errors == m.dblpXmlErrors, s"dblp xml errors $errors, generated ${m.dblpXmlErrors}")
      ctx.record("ingest.dblp_xml_errors", errors)
      val dblpRaw = spark.createDataset(parsed.flatMap(_.records))(Encoders.STRING).toDF("value")
      tracer.span("ingest.parse_normalize") {
        val p = StreamJobs.unionIngest(spark.read.text(d.resolve("oag").toString), dblpRaw).persist()
        val n = p.count()
        ctx.check(n == m.accepted, s"accepted $n rows, generated ${m.accepted}")
        p
      }
    }

  private def aggregates(pubs: DataFrame, m: Corpus.Manifest): Map[String, Seq[Row]] = {
    val aggs = tracer.span("analytics") {
      StreamJobs.aggregates(pubs).map { case (name, df) =>
        name -> tracer.span(s"analytics.$name")(df.collect().toSeq)
      }
    }
    val keywords = aggs("keywords").map(r => r.getAs[String]("keyword_name") -> r.getAs[Long]("keyword_count"))
    ctx.check(keywords.toMap == m.keywordCounts, "keyword counts differ from the generated corpus")
    val units = aggs("authorptrn").map(r => r.getAs[Int]("author_unit") -> r.getAs[Long]("no_articles"))
    ctx.check(units.toMap == m.authorUnits, "authorship pattern differs from the generated corpus")
    val articles = units.map(_._2).sum
    ctx.check(articles == m.accepted, s"sum(no_articles) $articles, accepted ${m.accepted}")
    val hyper = aggs("hyper_authorship").map(_.getAs[Long]("hyper_authorship_count")).sum
    ctx.check(hyper == m.acceptedHyper, s"hyper-authorship $hyper, generated ${m.acceptedHyper}")
    aggs
  }

  /** Set-up's warm-up: ingest and the six aggregates over `d`. */
  def warmUp(spark: SparkSession, d: Path, m: Corpus.Manifest): Unit = {
    val pubs = ingest(spark, d, m)
    aggregates(pubs, m)
    pubs.unpersist(blocking = true)
  }

  /** The batch jobs over `d`, or `None` if an operation failed. */
  def run(spark: SparkSession, d: Path, m: Corpus.Manifest): Option[Half] = {
    val digests = Map.newBuilder[String, Any]
    var aggRows = Map.empty[String, Seq[String]]
    var collaborators: DataFrame = null
    var projection = 0
    tracer.takeJobMs()
    val t0 = System.nanoTime()
    val done = ctx.attempt("batch jobs") {
      val pubs = ingest(spark, d, m)
      aggRows = aggregates(pubs, m).map { case (k, rows) => k -> rows.map(_.toString).sorted }
      digests ++= aggRows

      tracer.span("jobs.topics") {
        val (kw, fos) = BatchJobs.topics(
          PubAggregates.keywordCounts(pubs), PubAggregates.fosCounts(pubs), TopicThreshold)
        digests += "topics" -> (Workload.sortedRows(kw), Workload.sortedRows(fos))
      }

      tracer.span("jobs.community") {
        val r = tracer.span("graph.community")(BatchJobs.community(pubs, iterations = LpaIterations))
        digests += "communities" -> Workload.sortedRows(r.labelHistogram)
        digests += "decorated" -> tracer.span("graph.decorate")(Workload.digest(r.decoratedEdges))
      }

      tracer.span("assoc") {
        val r = BatchJobs.association(pubs, Corpus.AssocKeywords)
        digests += "author_keyword" -> tracer.span("assoc.keyword_sim")(Workload.digest(r.authorKeyword))
        val (pairs, id) = tracer.spanned("assoc.projection")(Workload.digest(r.collaborators))
        digests += "collaborators" -> pairs
        ctx.record("assoc.projection_pairs", pairs._1.toDouble)
        collaborators = r.collaborators
        projection = id
      }
      pubs
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val jobs = tracer.takeJobMs()
    done.foreach { pubs =>
      if (firstDigests.isEmpty) firstChecks(pubs, collaborators, m)
      if (tracer.enabled) {
        val w = tracer.workOf(0)
        ctx.record("spark.task_s", w.runMs / 1e3)
        ctx.record("spark.scheduler_delay_s", w.schedulerDelayMs / 1e3)
        ctx.record("assoc.task_skew", tracer.workOf(projection).slowestStageSkew)
        traceProbes(pubs, m)
        tracer.clearWork()
      }
      pubs.unpersist(blocking = true)
      val now = digests.result()
      if (firstDigests.isEmpty) firstDigests = now
      else firstDigests.keys.foreach { k =>
        ctx.check(firstDigests(k) == now(k), s"$k output differs between iterations")
      }
    }
    release(spark)
    done.map(_ => Half(seconds, jobs, aggRows))
  }

  /** Checks too costly for every run; later runs must reproduce the
    * first run's digests, so they inherit these. */
  private def firstChecks(pubs: DataFrame, collaborators: DataFrame, m: Corpus.Manifest): Unit = {
    val distinct = Normalize.dedupByKey(pubs).count()
    ctx.check(distinct == m.distinctKeys, s"distinct keys $distinct, generated ${m.distinctKeys}")
    val unordered = collaborators.where(col("a") >= col("b")).count()
    ctx.check(unordered == 0, s"$unordered collaborator pairs without a < b")
    val dup = collaborators.groupBy("a", "b").count().where(col("count") > 1).count()
    ctx.check(dup == 0, s"$dup collaborator pairs appear more than once")
  }

  /** Traced-only layer numbers the jobs' own calls cannot separate. They
    * run after the timed part, so they do not change its time. */
  private def traceProbes(pubs: DataFrame, m: Corpus.Manifest): Unit = {
    def last(name: String) = tracer.steps(name).last
    ctx.record("ingest.dblp_xml_s", last("ingest.dblp_xml"))
    ctx.record("ingest.parse_normalize_s", last("ingest.parse_normalize"))
    Aggregates.foreach(a => ctx.record(s"analytics.agg_s.$a", last(s"analytics.$a")))
    ctx.record("jobs.topics_s", last("jobs.topics"))
    ctx.record("assoc.keyword_sim_s", last("assoc.keyword_sim"))
    ctx.record("assoc.projection_s", last("assoc.projection"))

    val accepted = pubs.count()
    ctx.record("ingest.accept_ratio", accepted.toDouble / m.records)
    ctx.record("ingest.dedup_ratio", Normalize.dedupByKey(pubs).count().toDouble / accepted)

    tracer.span("assoc.usage")(
      graft.GraftSession.forceAll(Association.authorKeywordUsage(pubs, Corpus.AssocKeywords)))
    ctx.record("assoc.usage_s", last("assoc.usage"))

    val g = tracer.span("graph.build") {
      val g = PubGraph.toGraphX(PubGraph.vertices(pubs), PubGraph.edges(pubs)).cache()
      ctx.record("graph.vertices", g.vertices.count().toDouble)
      ctx.record("graph.edges", g.edges.count().toDouble)
      g
    }
    ctx.record("graph.build_s", last("graph.build"))
    val (_, lpa) = tracer.spanned("graph.lpa") {
      CommunityDetection.run(g.mapVertices((id, _) => id), LpaIterations).vertices.count()
    }
    ctx.record("graph.lpa_s", last("graph.lpa"))
    ctx.record("graph.ms_per_superstep", last("graph.lpa") * 1e3 / LpaIterations)
    ctx.record("graph.jobs", tracer.workOf(lpa).jobs.toDouble)
    g.unpersist(blocking = true)
  }

  /** Frees whatever the run left cached (GraphX pins its graphs). */
  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def outputDigest: String = firstDigests.toSeq.sortBy(_._1).toString

  def breakdown: Seq[(String, Double, String)] = {
    def med(name: String) = Workload.median(tracer.steps.getOrElse(name, Nil).toSeq)
    Seq(
      ("ingest_s", med("ingest"), "s"),
      ("aggregates_s", med("analytics"), "s"),
      ("topics_s", med("jobs.topics"), "s"),
      ("community_s", med("jobs.community"), "s"),
      ("association_s", med("assoc"), "s"))
  }
}

object PubBatch {
  val Aggregates: Seq[String] =
    Seq("keywords", "field_study", "yrwisedist", "authorptrn", "aap", "hyper_authorship")
  /** Label-propagation supersteps (the reference runs 10). */
  val LpaIterations = 2
  /** `BatchJobs.topics` count threshold, scaled to the corpus size. */
  val TopicThreshold = 20L
}
