import graft._

/** Single-query timing probe for the interleaved A/B protocol
  * (tools/ab_probe.sh). Times through `GraftSession.timedRun`, as Bench
  * does, so probe rows are comparable to bench rows; a query that throws
  * prints FAILED, never seconds. The first listed query still pays
  * JVM/codegen/scan warmup (prepend a sacrificial query, the ab_probe
  * round-2 protocol) — and `PROBE_REPEAT=n` re-times the whole list n
  * times in one JVM, so later passes read deep-warm, the regime the
  * bench's min-of-2 reports; ab_probe's summary then aggregates all
  * passes as samples.
  */
object Probe {
  def main(a: Array[String]): Unit = {
    val sf = sys.env.getOrElse("PROBE_SF", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("PROBE_REPEAT", "1").toInt)
    val names = if (a.nonEmpty) a.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.get(32)
    for (_ <- 1 to reps) names.foreach { n =>
      GraftSession.timedRun(spark)(SparkEntry.queries(n)(spark, sf)) match {
        case Right((dt, c)) => println(f"PROBE $n%-28s $c%9d rows  $dt%8.2fs")
        case Left(e) =>
          println(f"PROBE $n%-28s FAILED")
          System.err.println(s"[probe] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
