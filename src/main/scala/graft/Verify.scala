package graft
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL (or a quote in an
    * env-controlled path) would otherwise make the reader's json.load fail
    * and silently zero the round's correctness or bench artifact. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // SPARK_GRAFT_AQE=0 disables adaptive execution for the whole
    // battery — a determinism axis like SPARK_GRAFT_CPUS: every query
    // must stay hash-green whether or not the runtime re-plans
    // (coalesced partitions, demoted broadcasts, split skew joins).
    // Default leaves AQE on.
    spark.conf.set("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "1") != "0")
    new java.io.File(outDir).mkdirs()
    val only = GraftSession.onlySelected()
    val selected = only.getOrElse(SparkEntry.queries)
    // delete a stale marker from a previous filtered run into this
    // outDir BEFORE dumping — if this run crashes mid-dump, the checker
    // must see missing_result rows, not inherit filtered leniency
    Files.deleteIfExists(Paths.get(s"$outDir/FILTERED"))
    if (only.isDefined)
      Files.writeString(Paths.get(s"$outDir/FILTERED"),
        selected.keys.toSeq.sorted.mkString(","))
    // A result dir is this run's complete dump or absent: a previous
    // run's dump, or a partial one, must grade as missing_result when
    // the query throws, never as a pass.
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    selected.foreach { case (name, fn) =>
      val out = new Path(s"$outDir/$name")
      fs.delete(out, true)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        fs.delete(out, true)
      }
      finally SparkEntry.releaseCaches()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of every DECLARED query (never the filtered subset), so
    // the checker can flag results that failed to materialize instead of
    // silently skipping them. If SPARK_GRAFT_ONLY ever leaked into the
    // gate environment, the full manifest would surface the narrowed run
    // as missing_result rows rather than a silently-shrunk battery; the
    // explicit "filtered" marker file makes the narrowing visible too.
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(jsonString).mkString("[", ",", "]"))
    spark.stop()
  }
}
