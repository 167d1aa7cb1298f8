package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** query_mix: a fixed subset of `SparkEntry.queries` over the bundled
  * sf0.01 tables, in a seed-permuted order. An iteration is one pass:
  * per query it builds the DataFrame, collects its rows and releases
  * what the query pinned (`SparkEntry.releaseCaches`). Its operations
  * are the Spark jobs the queries run. Every result is checked against
  * the row count and order-insensitive hash recorded for these tables.
  */
final class QueryMix(ctx: Ctx) extends Workload(ctx) {
  import QueryMix._

  private val dataDir = opts.root.resolve("perfbench/data/sf0.01").toString
  private val expectedFile = opts.root.resolve("perfbench/data/query_mix_expected.tsv")
  private var expected: Map[String, (Long, Long)] = Map.empty

  /** The seed only permutes the order; the tables are fixed. */
  val order: Seq[String] = {
    val r = new java.util.Random(opts.seed)
    val a = Queries.map(_._1).toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def prepare(): Unit =
    if (Files.exists(expectedFile))
      expected = Files.readAllLines(expectedFile, UTF_8).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))
        .map(f => f(0) -> (f(1).toLong, f(2).toLong)).toMap

  /** Two cheap queries: the scan, planning and collect paths. The first
    * pass still pays code generation for the rest (7-10 s against 2.5-4 s
    * for later passes), so it runs untimed, and the run measures six more
    * passes and reports their median. */
  def warmUp(spark: SparkSession): Unit =
    WarmUp.foreach { q => run(spark, q); SparkEntry.releaseCaches() }

  override def untimedIterations: Int = 1

  override def minIterations: Int = 6

  private def run(spark: SparkSession, name: String): (Long, Long) = {
    val rows = SparkEntry.queries(name)(spark, dataDir).collect().toSeq
    Workload.digestRows(rows)
  }

  def iterate(spark: SparkSession): Option[Iteration] = {
    tracer.takeJobMs()
    val ops = order.map { name =>
      val family = Family(name)
      val r = ctx.attempt(name) {
        val ((rows, planS), id) = tracer.spanned(s"queries.$family.$name") {
          val df = SparkEntry.queries(name)(spark, dataDir)
          val rows = df.collect().toSeq
          val phases = df.queryExecution.tracker.phases
          (rows, Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum / 1e3)
        }
        val got = Workload.digestRows(rows)
        val querySeconds = tracer.steps(s"queries.$family.$name").last
        if (tracer.enabled) {
          val w = tracer.workOf(id)
          ctx.record("queries.plan_s", planS)
          ctx.record("queries.exec_s", querySeconds - planS)
          ctx.record(s"queries.$family.exec_s", querySeconds - planS)
          ctx.record("queries.shuffle_bytes", w.shuffleBytes.toDouble)
          ctx.record("queries.spill_bytes", w.spillBytes.toDouble)
          ctx.record("queries.stages", w.stages.toDouble)
          ctx.record("queries.tasks", w.tasks.toDouble)
          ctx.record("spark.task_s", w.runMs / 1e3)
          ctx.record("spark.scheduler_delay_s", w.schedulerDelayMs / 1e3)
          ctx.record("cache.pinned_bytes", spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
        }
        tracer.span("cache.release")(SparkEntry.releaseCaches())
        val releaseSeconds = tracer.steps("cache.release").last
        ctx.record("cache.release_s", releaseSeconds)
        expected.get(name) match {
          case Some(want) => ctx.check(got == want, s"$name: rows/hash $got, recorded $want")
          case None => ctx.problems += s"$name: no recorded result"
        }
        (querySeconds, releaseSeconds)
      }
      if (r.isEmpty) SparkEntry.releaseCaches()
      r
    }
    val jobs = tracer.takeJobMs()
    if (ops.exists(_.isEmpty)) None
    else Some(Iteration(ops.flatten.map { case (q, r) => q + r }.sum, jobs))
  }

  def breakdown: Seq[(String, Double, String)] = {
    val perQuery = order.map(q => Workload.median(tracer.steps.getOrElse(
      s"queries.${Family(q)}.$q", Nil).toSeq))
    Seq(
      ("query_mix_total_s", perQuery.sum, "s"),
      ("query_mix_geomean_s", math.exp(perQuery.map(math.log).sum / perQuery.length), "s"))
  }

  /** Writes the recorded results file from one pass (used once, when
    * the bundled tables or the query list change). */
  def record(spark: SparkSession): Unit = {
    val lines = Queries.map(_._1).sorted.map { q =>
      val (n, h) = run(spark, q)
      SparkEntry.releaseCaches()
      s"$q\t$n\t$h"
    }
    Files.write(expectedFile, (("# query\trows\thash" +: lines).mkString("\n") + "\n").getBytes(UTF_8))
  }
}

object QueryMix {

  /** (query, family): the families split execution time per layer. */
  val Queries: Seq[(String, String)] = Seq(
    "dedup_exact" -> "dedup",
    "dedup_simhash" -> "dedup",
    "text_token_count" -> "text",
    "q1_pricing_summary" -> "tpch",
    "q6_forecast_revenue" -> "tpch",
    "q_events_rolling" -> "other",
    "assoc_keyword_cosine" -> "other")

  val Families: Seq[String] = Seq("dedup", "text", "tpch", "other")

  val Family: Map[String, String] = Queries.toMap

  private val WarmUp = Seq("q6_forecast_revenue", "text_token_count")

  /** Records the expected results file from the bundled tables:
    * `perfbench.QueryMix --root <checkout> --work <scratch dir>`. Run it
    * only when the tables or the query list change, and only from a
    * library build whose results have been checked against the DuckDB
    * oracle. */
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val opts = Opts("query_mix", 0L, 0, trace = false,
      java.nio.file.Paths.get(m("root")).toAbsolutePath, java.nio.file.Paths.get(m("work")).toAbsolutePath)
    val spark = Main.session(opts)
    try new QueryMix(new Ctx(opts, new Tracer("record"))).record(spark)
    finally spark.stop()
  }
}
