package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamJobs

/** Batch/stream convergence: the same aggregate functions over a
  * MemoryStream must converge to the batch answers on the same rows
  * (SURVEY.md §5.2 item 4). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def oagJson(title: String, year: String, authors: Seq[String], kws: Seq[String],
      fos: String = """["cs"]""") = {
    val as = authors.map(a => s"""{"name":"$a"}""").mkString(",")
    val ks = kws.map(k => s""""$k"""").mkString(",")
    s"""{"title":"$title","doi":"10.1/$title","lang":"en","publisher":"pub",
       |"venue":null,"year":"$year","keywords":[$ks],"authors":[$as],"fos":$fos}"""
      .stripMargin.replace("\n", "")
  }

  private val rows = Seq(
    oagJson("p one", "2019", Seq("ann"), Seq("ml")),
    oagJson("p two", "2019", Seq("ann", "bob"), Seq("ml", "db")),
    oagJson("p three", "2020", Seq("cat"), Seq("db")))

  test("streaming keyword counts converge to the batch answer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val stream = StreamJobs.ingest(mem.toDF().withColumnRenamed("value", "value"), "oag")
    val q = StreamJobs.aggregates(stream)("keywords")
      .writeStream.format("memory").queryName("kw_counts")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("kw_counts").as[(String, Long)].collect().toMap
      val batch = StreamJobs.aggregates(
        StreamJobs.ingest(rows.toDF("value"), "oag"))("keywords")
        .as[(String, Long)].collect().toMap
      assert(streamed == batch)
      assert(batch == Map("ml" -> 2L, "db" -> 2L))
    } finally q.stop()
  }

  test("streaming year-wise distribution converges incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamJobs.aggregates(StreamJobs.ingest(mem.toDF(), "oag"))("yrwisedist")
      .writeStream.format("memory").queryName("yrwise")
      .outputMode(OutputMode.Complete).start()
    try {
      rows.foreach { r => mem.addData(r); q.processAllAvailable() } // one row per batch
      val got = spark.table("yrwise")
        .select("year", "single", "joint", "total")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == Set(("2019", 1L, 1L, 2L), ("2020", 1L, 0L, 1L)))
    } finally q.stop()
  }

  test("text quality filtering runs unchanged on a stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.qualityCounters
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("text")
      .select(col("text"), qualityCounters(col("text")).as("q"))
      .where(col("q.n_toks") >= 3 && col("q.n_stop") > 0)
      .writeStream.format("memory").queryName("quality_pass")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      mem.addData("the quick brown fox", "short", "zebra penguin walrus qqq???")
      q.processAllAvailable()
      val kept = spark.table("quality_pass").select("text").as[String].collect()
      assert(kept.toSeq == Seq("the quick brown fox"))
    } finally q.stop()
  }

  test("end-to-end topology writes raw + aggregate tables") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    // beyond `rows`: a 120-author paper (A6's hyper branch) and one with
    // null fos (only keywords non-empty — its base rows must survive)
    val oagRows = rows ++ Seq(
      oagJson("p hyper", "2020", (1 to 120).map(i => s"author $i"), Seq("physics")),
      oagJson("p nofos", "2021", Seq("eve"), Seq("ml"), fos = "null"))
    val dblpRows = Seq(
      """{"key":"c/1","title":"Dblp Paper","year":"2019","conference":"icml","authors":["dan"]}""")
    val oag = MemoryStream[String]
    val dblp = MemoryStream[String]
    oag.addData(oagRows: _*)
    dblp.addData(dblpRows: _*)
    val queries = StreamJobs.runAll(oag.toDF(), dblp.toDF(), s"$dir/out", s"$dir/ckpt")
    try {
      queries.foreach(_.processAllAvailable())
      assert(queries.length == 2, "raw sink + ONE aggregate query")
      val plan = queries(1).asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(plan.collect { case s: StateStoreSaveExec => s }.length == 1,
        s"the six aggregates share one state store:\n$plan")
    } finally queries.foreach(_.stop())
    assert(spark.read.parquet(s"$dir/out/publications").count() == 6)

    // Restart the whole topology from its checkpoints with one record
    // RE-delivered: the raw sink must upsert by (doi, title) — same row
    // count — while the recovered aggregate state counts the redelivery
    // (the reference's at-least-once Kafka behavior).
    oag.addData(rows.head)
    val restarted = StreamJobs.runAll(oag.toDF(), dblp.toDF(), s"$dir/out", s"$dir/ckpt")
    try restarted.foreach(_.processAllAvailable()) finally restarted.foreach(_.stop())
    assert(spark.read.parquet(s"$dir/out/publications").count() == 6)
    val kw = spark.read.parquet(s"$dir/out/keywords")
      .as[(String, Long)].collect().toMap
    assert(kw == Map("ml" -> 4L, "db" -> 2L, "physics" -> 1L, "computer science" -> 1L))
    val hyper = spark.read.parquet(s"$dir/out/hyper_authorship")
      .as[(String, Long)].collect().toSeq
    assert(hyper == Seq("2020" -> 1L))

    // every sink equals the batch aggregate over every delivered row:
    // same columns, order, types and rows
    val batch = StreamJobs.aggregates(StreamJobs.unionIngest(
      (oagRows :+ rows.head).toDF("value"), dblpRows.toDF("value")))
    def columns(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    def sortedRows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for ((name, want) <- batch) {
      val got = spark.read.parquet(s"$dir/out/$name")
      assert(columns(got) == columns(want), s"$name columns")
      assert(sortedRows(got) == sortedRows(want), s"$name rows")
    }
  }

  test("S1 kafka source executes end-to-end (reference ScipiStream.java:89-124)") {
    // Execution needs the spark-sql-kafka provider AND a live broker;
    // this environment ships neither (no kafka jar under
    // /opt/spark/jars, no broker binary, zero egress to fetch one).
    // Cancel with the concrete blocker rather than silently passing —
    // the config surface (kafkaSource) plus the entire downstream
    // topology IS covered broker-free by the MemoryStream tests above,
    // which exercise the same ingest/aggregate/sink dataflow the Kafka
    // variant would feed.
    val kafkaProviderOnClasspath = scala.util.Try(
      org.apache.spark.sql.execution.datasources.DataSource
        .lookupDataSource("kafka", spark.sessionState.conf)).isSuccess
    assume(kafkaProviderOnClasspath,
      "spark-sql-kafka-0-10 not on classpath and no Kafka broker available in this " +
        "zero-egress environment; kafkaSource (StreamJobs.scala) is config-complete and " +
        "its topology is pinned by the MemoryStream specs in this suite")
    // Reached only in an environment that has the provider: wire the
    // source and assert the streaming plan resolves without a broker
    // round-trip (Kafka defers broker contact to query start).
    val df = StreamJobs.kafkaSource(spark, "localhost:9092", "oag")
    assert(df.isStreaming && df.columns.sameElements(Array("value")))
  }
}
