package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.streaming.StreamJobs
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The streaming half of pub_pipeline: the ScipiStream topology
  * (`StreamJobs.runAll`) replaying the corpus's OAG and DBLP JSON files.
  * Both sources are file streams read one file per trigger under
  * `AvailableNow`, a closed loop: a query's next micro-batch starts when
  * its previous one ends. One run is one drain: seven queries (the raw
  * `(doi, title)` upsert sink and six complete-mode aggregate sinks, each
  * with its own checkpoint) run to the end of the files, one micro-batch
  * per file each.
  *
  * Checks, every drain: the raw sink holds one row per distinct
  * `(doi, title)` key of the corpus; [[PubPipeline]] compares the
  * aggregate sinks with the batch half's aggregates.
  */
final class PubStream(ctx: Ctx) {
  private def opts = ctx.opts
  private def tracer = ctx.tracer

  private var drains = 0

  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = progress.synchronized(progress += e.progress)
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Registers the progress listener on a new session. */
  def attach(spark: SparkSession): Unit = spark.streams.addListener(listener)

  private def source(spark: SparkSession, d: Path, name: String): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", "1").text(d.resolve(name).toString)

  /** Runs the topology over `d` to the end of its files; returns the
    * output directory, the progress of every micro-batch (raw sink
    * first) and the drain's span id, or `None` if a query failed. */
  private def drain(spark: SparkSession, d: Path): Option[(Path, Seq[Seq[StreamingQueryProgress]], Int)] = {
    drains += 1
    val run = opts.work.resolve(s"stream-$drains")
    progress.synchronized(progress.clear())
    val started = ctx.attempt("stream drain") {
      tracer.spanned("streaming.drain") {
        val qs = StreamJobs.runAll(source(spark, d, "oag"), source(spark, d, "dblp"),
          run.resolve("out").toString, run.resolve("checkpoint").toString)
        // awaitTermination throws when a query failed; stop the others then
        try qs.foreach(_.awaitTermination()) finally qs.foreach(_.stop())
        qs.map(_.id)
      }
    }
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    started.map { case (ids, spanId) =>
      val byQuery = progress.synchronized(progress.toList).groupBy(_.id)
      (run, ids.map(id => byQuery.getOrElse(id, Nil).sortBy(_.batchId)), spanId)
    }
  }

  /** One drain of the corpus in `d`, or `None` if a query failed. The
    * raw sink must hold the corpus's distinct keys; the aggregate sinks'
    * rows are returned for the caller to check. */
  def run(spark: SparkSession, d: Path, m: Corpus.Manifest): Option[Half] = {
    tracer.takeJobMs()
    val t0 = System.nanoTime()
    val result = drain(spark, d)
    val seconds = (System.nanoTime() - t0) / 1e9
    val jobs = tracer.takeJobMs()
    result.map { case (run, perQuery, spanId) =>
      tracer.steps.getOrElseUpdate("streaming.batch", mutable.ArrayBuffer.empty) ++=
        perQuery.flatten.map(_.batchDuration / 1e3)
      val out = run.resolve("out")
      val sinks = PubBatch.Aggregates.map { name =>
        name -> Workload.sortedRows(spark.read.parquet(out.resolve(name).toString))
      }.toMap
      val raw = spark.read.parquet(out.resolve("publications").toString).count()
      ctx.check(raw == m.distinctKeys, s"raw sink holds $raw rows, the corpus ${m.distinctKeys} keys")
      if (tracer.enabled) traced(perQuery, spanId, m.records)
      deleteTree(run)
      Half(seconds, jobs, sinks)
    }
  }

  private def traced(perQuery: Seq[Seq[StreamingQueryProgress]], spanId: Int, records: Int): Unit = {
    val all = perQuery.flatten
    def phase(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    ctx.record("streaming.batches", all.length)
    PubStream.Phases.foreach(k => ctx.record(s"streaming.phase_ms.$k", Workload.median(all.map(phase(_, k)))))
    ctx.record("streaming.source_rows_per_pub", all.map(_.numInputRows).sum.toDouble / records)
    val last = perQuery.flatMap(_.lastOption)
    ctx.record("streaming.state_rows", last.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble)
    ctx.record("streaming.state_mem_bytes", last.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum.toDouble)
    val raw = perQuery.head
    raw.headOption.foreach(p => ctx.record("io.raw_upsert_ms.first", phase(p, "addBatch")))
    raw.lastOption.foreach(p => ctx.record("io.raw_upsert_ms.last", phase(p, "addBatch")))
    ctx.record("analytics.stream_addbatch_ms",
      Workload.median(perQuery.tail.flatten.map(phase(_, "addBatch"))))
    val w = tracer.workOf(spanId)
    ctx.record("io.bytes_written", w.bytesWritten.toDouble)
    ctx.record("spark.task_s", w.runMs / 1e3)
    ctx.record("spark.scheduler_delay_s", w.schedulerDelayMs / 1e3)
    tracer.clearWork()
  }

  private def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)

  def breakdown(records: Int): Seq[(String, Double, String)] = {
    val drainS = Workload.median(tracer.steps.getOrElse("streaming.drain", Nil).toSeq)
    val batchMs = tracer.steps.getOrElse("streaming.batch", Nil).toSeq.map(_ * 1e3)
    Seq(
      ("stream_pubs_per_s", records / drainS, "pubs/s"),
      ("stream_batch_p50_ms", Workload.quantile(batchMs, 0.5), "ms"),
      ("stream_batch_p90_ms", Workload.quantile(batchMs, 0.9), "ms"),
      ("stream_batches", batchMs.length.toDouble, "count"))
  }
}

object PubStream {
  val Phases: Seq[String] =
    Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")
}
