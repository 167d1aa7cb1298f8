package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import graft.model.Publication
import graft.ingest.Normalize
import graft.analytics.PubAggregates

/** §2.7 streaming surface: the reference's Kafka→validate→aggregate→
  * upsert topology (ScipiStream.java:61-211) on Structured Streaming.
  *
  * The topology is two queries over the one merged stream
  * (ScipiStream.java:133), each with its own checkpoint:
  *  - the raw sink: an append-mode query whose foreachBatch upserts each
  *    micro-batch into the raw table by (doi, title). It keeps no state;
  *    its parquet table is the store.
  *  - the aggregate query: ONE complete-mode query that feeds all six
  *    running aggregates (A1-A6). One stateful groupBy sums an additive
  *    base table (agg, key, a, b) over every publication, and each
  *    micro-batch rewrites the six sinks from the full state, so a
  *    record is read, parsed and validated once for all six, into one
  *    state store.
  * The two cannot share a query: the upsert needs the micro-batch's rows
  * (append), the aggregates need the running totals (complete).
  *
  * Batch/stream duality: [[aggregates]] is the batch definition, and the
  * stream sinks converge to exactly its answer on the same rows — the
  * same derived-column helpers (PubAggregates.with*) finish both paths,
  * and StreamingSpec compares all six after a restart.
  *
  * Reference semantics preserved: NO windows, NO watermark — global
  * running totals per key, state = one row per key (years ~1e2,
  * keywords ~1e6: bounded; SURVEY.md §2.7). Improvements over the
  * reference (which has no checkpointing at all): exactly-once through
  * the engine's checkpointed state; a replayed batch rewrites identical
  * tables, and the raw upsert is idempotent.
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

  /** A1-A6 as one additive base table: each publication contributes one
    * (agg, key, a, b) row per keyword (A1) and per fos (A2), one per
    * year (A3: a = single, b = joint; A5: a = 1, b = #authors), one per
    * author count (A4) and, at >= HyperAuthors authors, one per year (A6).
    * Summed by (agg, key) it holds every aggregate's counts. */
  private def aggregateBase(pubs: DataFrame): DataFrame = {
    val n = size(col("authors"))
    def row(agg: String, key: Column, a: Column, b: Column = lit(0L)): Column =
      struct(lit(agg).as("agg"), key.cast("string").as("key"),
        a.cast("long").as("a"), b.cast("long").as("b"))
    // only one of keywords/fos must be non-empty: a null array would
    // make the whole concat null and drop the publication
    def each(agg: String, topics: String): Column =
      transform(coalesce(col(topics), array().cast("array<string>")), row(agg, _, lit(1L)))
    val rows = concat(
      each("keywords", "keywords"),
      each("field_study", "fos"),
      array(
        row("yrwisedist", col("year"), n === 1, n > 1),
        row("authorptrn", n, lit(1L)),
        row("aap", col("year"), lit(1L), n)),
      filter(array(row("hyper_authorship", col("year"), lit(1L))),
        _ => n >= PubAggregates.HyperAuthors))
    pubs.select(explode(rows).as("r"))
      .groupBy(col("r.agg").as("agg"), col("r.key").as("key"))
      .agg(sum(col("r.a")).as("a"), sum(col("r.b")).as("b"))
  }

  /** The six aggregate tables from the summed base: the same columns,
    * order and types as [[aggregates]]. */
  private def fromBase(base: DataFrame): Map[String, DataFrame] = {
    def part(agg: String, cols: Column*) = base.where(col("agg") === agg).select(cols: _*)
    Map(
      "keywords" -> part("keywords",
        col("key").as("keyword_name"), col("a").as("keyword_count")),
      "field_study" -> part("field_study",
        col("key").as("field_study_name"), col("a").as("field_study_count")),
      "yrwisedist" -> part("yrwisedist",
        col("key").as("year"), col("a").as("single"), col("b").as("joint"))
        .transform(PubAggregates.withYearShares),
      "authorptrn" -> part("authorptrn",
        col("key").cast("int").as("author_unit"), col("a").as("no_articles"))
        .transform(PubAggregates.withUnitAuthors),
      "aap" -> part("aap",
        col("key").as("year"), col("a").as("no_articles"), col("b").as("no_authors"))
        .transform(PubAggregates.withAvgAuthors),
      "hyper_authorship" -> part("hyper_authorship",
        col("key").as("hyper_authorship_year"), col("a").as("hyper_authorship_count")))
  }

  /** S4: the six keyed-aggregate sinks from one complete-mode query.
    * Every micro-batch overwrites `outDir/<name>` from the full state —
    * last write per key wins, the reference's parameterized-INSERT upsert
    * semantics, and a replayed batch rewrites identical tables. */
  private def aggregateSinks(pubs: DataFrame, outDir: String, checkpoint: String): DataStreamWriter[Row] =
    aggregateBase(pubs).writeStream
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (base: DataFrame, _: Long) =>
        base.persist()
        try fromBase(base).foreach { case (name, agg) =>
          agg.write.mode("overwrite").parquet(s"$outDir/$name")
        } finally base.unpersist()
      }

  /** Whole topology: two raw streams in, the raw sink and the six
    * aggregate sinks out, as two StreamingQuerys (raw sink first). Caller
    * awaits/stops. */
  def runAll(
      oagRaw: DataFrame,
      dblpRaw: DataFrame,
      outDir: String,
      checkpointDir: String): Seq[StreamingQuery] = {
    val pubs = unionIngest(oagRaw, dblpRaw)
    val raw = rawSink(pubs, s"$outDir/publications", s"$checkpointDir/publications")
      .trigger(Trigger.AvailableNow()).start()
    val aggs = aggregateSinks(pubs, outDir, s"$checkpointDir/aggregates")
      .trigger(Trigger.AvailableNow()).start()
    Seq(raw, aggs)
  }
}
