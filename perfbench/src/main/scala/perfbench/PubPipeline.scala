package perfbench

import org.apache.spark.sql.SparkSession

/** pub_pipeline: the paper's pipeline over one seeded corpus. An
  * iteration drains the streaming topology over the corpus's JSON files
  * ([[PubStream]]), then runs the three batch jobs over its DBLP XML and
  * OAG JSON ([[PubBatch]]). Its operations are the Spark jobs both halves
  * run; its time is the sum of the two halves' wall times (output checks
  * and traced-only probes excluded).
  *
  * Set-up warms up on a small corpus of its own: the batch ingest and the
  * six aggregates, the code both halves share.
  */
final class PubPipeline(ctx: Ctx) extends Workload(ctx) {
  import PubPipeline._

  private val dir = opts.work.resolve("corpus")
  private val warmDir = opts.work.resolve("corpus-warm")
  private var manifest: Corpus.Manifest = _
  private var warmManifest: Corpus.Manifest = _
  private val stream = new PubStream(ctx)
  private val batch = new PubBatch(ctx)

  def prepare(): Unit = {
    manifest = Corpus.generate(dir, Corpus.Spec(opts.seed, Files, OagPerFile, DblpPerFile))
    warmManifest = Corpus.generate(warmDir, Corpus.Spec(opts.seed + 1, 1, 30, 20))
  }

  def warmUp(spark: SparkSession): Unit = {
    stream.attach(spark)
    batch.warmUp(spark, warmDir, warmManifest)
  }

  /** An iteration takes longer than `--seconds`. The run times two and
    * reports their median (their mean), which averages the host's speed
    * over twice the time one iteration would. The first is the coldest
    * (five seeds' first iterations spread over 22.6-31.7 s, their second
    * over 22.6-26.1 s), but an untimed one before them would cost a third
    * iteration, about 25 s a run, which the run budget has no room for. */
  override def minIterations: Int = 2

  def iterate(spark: SparkSession): Option[Iteration] =
    for {
      drained <- stream.run(spark, dir, manifest)
      batched <- batch.run(spark, dir, manifest)
    } yield {
      // the streaming sinks converge to the batch answers over the same
      // records, although the batch half reads DBLP from the XML
      PubBatch.Aggregates.foreach { name =>
        ctx.check(drained.aggregates(name) == batched.aggregates(name),
          s"stream sink $name differs from the batch aggregate")
      }
      Iteration(drained.seconds + batched.seconds, drained.jobsMs ++ batched.jobsMs)
    }

  override def outputDigest: String = batch.outputDigest

  def breakdown: Seq[(String, Double, String)] = stream.breakdown(manifest.records) ++ batch.breakdown
}

/** One half of a pipeline iteration: its wall seconds, the Spark jobs it
  * ran (ms) and its six aggregates as sorted rows. */
final case class Half(seconds: Double, jobsMs: Seq[Double], aggregates: Map[String, Seq[String]])

object PubPipeline {
  /** Files per source; the stream reads one per trigger, so a drain is
    * 7 × Files micro-batches, and the second batch of the raw sink
    * merges into the target the first one wrote. */
  val Files = 2
  val OagPerFile = 150
  val DblpPerFile = 100
}
