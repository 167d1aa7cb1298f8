package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.model.Publication
import graft.ingest.Normalize
import graft.analytics.PubAggregates

/** §2.7 streaming surface: the reference's Kafka→validate→aggregate→
  * upsert topology (ScipiStream.java:61-211) on Structured Streaming.
  *
  * Batch/stream duality is the design center: every aggregate below is
  * the SAME function the batch path uses (PubAggregates) applied to a
  * streaming DataFrame — the reference's Cassandra upsert-by-PK makes
  * its running aggregates converge to exactly the batch answers, and
  * update-mode groupBy has identical converged semantics
  * (StreamingSpec asserts it on a MemoryStream).
  *
  * Reference semantics preserved: NO windows, NO watermark — global
  * running totals per key, state = one row per key (years ~1e2,
  * keywords ~1e6: bounded; SURVEY.md §2.7). Improvements over the
  * reference (which has no checkpointing at all): every writer takes a
  * checkpoint dir; sinks are idempotent foreachBatch upserts.
  */
object StreamJobs {

  /** S1: Kafka source for one topic, latest offsets (the reference's
    * consumer config, ScipiStream.java:89-104). Untested here — no
    * broker in the driver environment — but config-complete. */
  def kafkaSource(spark: SparkSession, brokers: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** Parse+validate one source's raw JSON-string stream into accepted
    * publications (P1/P2 + P3-P5; pure column ops, streaming-safe). */
  def ingest(raw: DataFrame, source: String): DataFrame = {
    val shaped = source match {
      case "oag"  => Publication.fromOagJson(raw)
      case "dblp" => Publication.fromDblpJson(raw)
      case other  => throw new IllegalArgumentException(s"unknown source: $other")
    }
    Normalize.publications(shaped)
  }

  /** J1: the merged two-source publication stream
    * (ScipiStream.java:133). */
  def unionIngest(oagRaw: DataFrame, dblpRaw: DataFrame): DataFrame =
    ingest(oagRaw, "oag").unionByName(ingest(dblpRaw, "dblp"))

  /** The six running aggregates (S4 sinks' inputs), batch/stream shared. */
  def aggregates(pubs: DataFrame): Map[String, DataFrame] = Map(
    "keywords" -> PubAggregates.keywordCounts(pubs),
    "field_study" -> PubAggregates.fosCounts(pubs),
    "yrwisedist" -> PubAggregates.yearWiseDistribution(pubs),
    "authorptrn" -> PubAggregates.authorshipPattern(pubs),
    "aap" -> PubAggregates.avgAuthorsPerPaper(pubs),
    "hyper_authorship" -> PubAggregates.hyperAuthorship(pubs))

  /** S3: raw-publication sink with cross-batch (doi, title) upsert —
    * exact relational parity with Cassandra's upsert-by-partition-key
    * (re-delivered or revised records replace, never duplicate; also
    * what makes the sink idempotent under micro-batch retries). */
  def rawSink(pubs: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    pubs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.io.Warehouse.upsertParquet(
          batch.sparkSession, path, Normalize.dedupByKey(batch), Seq("doi", "title"))
      }

  /** S4: keyed-aggregate upsert sink. Complete-mode + idempotent
    * overwrite per micro-batch — last write per key wins, exactly the
    * reference's parameterized-INSERT upsert semantics. */
  def aggregateSink(agg: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    agg.writeStream
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(path)
      }

  /** Whole topology: two raw streams in, raw sink + six aggregate sinks
    * out (one StreamingQuery each, like the reference's one-sink-per-
    * pipeline dataflow). Caller awaits/stops. */
  def runAll(
      oagRaw: DataFrame,
      dblpRaw: DataFrame,
      outDir: String,
      checkpointDir: String): Seq[StreamingQuery] = {
    val pubs = unionIngest(oagRaw, dblpRaw)
    val raw = rawSink(pubs, s"$outDir/publications", s"$checkpointDir/publications")
      .trigger(Trigger.AvailableNow()).start()
    val aggs = aggregates(pubs).map { case (name, df) =>
      aggregateSink(df, s"$outDir/$name", s"$checkpointDir/$name")
        .trigger(Trigger.AvailableNow()).start()
    }
    raw +: aggs.toSeq
  }
}
