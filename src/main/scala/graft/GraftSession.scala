package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Opinionated session factory: the conf we want on a real cluster,
  * scaled down for local[N].
  *
  *  - AQE on (runtime coalesce + skew-join split — directly relevant to
  *    the "computer science"-style hot keys in the co-occurrence joins,
  *    SURVEY.md §7.4-5).
  *  - shuffle.partitions sized to cores locally; on a 1000-executor
  *    cluster this is raised (or left to AQE's coalescing with a high
  *    initial partition number).
  *  - UTC so timestamp-derived columns match the DuckDB oracle.
  */
object GraftSession {

  /** Execute a query's FULL physical plan and return its row count —
    * the timing action for Bench/Soak/Probe. A bare `Dataset.count()`
    * lets Catalyst prune every column the count doesn't need, so a
    * query whose tail is a per-row Window/projection (q_events_rolling,
    * q_events_ewma) collapses to a parquet scan-count and the timing
    * measures I/O, not the operator (r12 finding: rolling read a flat
    * 0.29 s while its output grew 64× up the soak ladder). `toRdd`
    * executes the plan with its full output schema — every column
    * computed distributed, nothing shipped to the driver — which is
    * what "run the query" costs the consumer who writes the result
    * (Verify, the correctness gate, has always paid it: it writes
    * parquet). */
  def forceAll(df: DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** One timed run of a query — the timing method Bench, Probe and Soak
    * share. Cross-query cached relations are dropped BEFORE the clock so
    * each query pays its own cost; the query is built and fully executed
    * ([[forceAll]]) inside it; its tracked caches are released after it
    * whether or not it threw. Returns (seconds, rows), or the failure:
    * a query that throws is never recorded as a time. */
  def timedRun(spark: SparkSession)(df: => DataFrame): Either[Throwable, (Double, Long)] = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    try {
      val rows = forceAll(df)
      Right(((System.nanoTime() - t0) / 1e9, rows))
    } catch { case NonFatal(e) => Left(e) }
    finally SparkEntry.releaseCaches()
  }

  /** `SPARK_GRAFT_ONLY=a,b,c` restricts Verify and Bench to the named
    * queries for fast local iteration; `None` when unset. The driver never
    * sets it, so the real gate and bench always cover everything. A typo'd
    * filter would otherwise run nothing and still gate green (every query
    * labeled filtered_out), so one that matches no query fails loudly. */
  def onlySelected(): Option[Map[String, (SparkSession, String) => DataFrame]] =
    sys.env.get("SPARK_GRAFT_ONLY").map { o =>
      val names = o.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val selected = SparkEntry.queries.filter { case (name, _) => names(name) }
      require(selected.nonEmpty, s"SPARK_GRAFT_ONLY matched no queries: ${names.mkString(",")}")
      selected
    }

  def builder(cores: Int = 4): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // per-process dir: the in-memory catalog dies with the JVM but the
      // location wouldn't, and a stale location fails the next CTAS
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-warehouse-${ProcessHandle.current().pid()}")
      .config("spark.ui.enabled", "false")

  def get(cores: Int = 4): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    s
  }
}
