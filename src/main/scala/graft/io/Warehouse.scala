package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout utilities for the 100 TB deployment: bucketed tables
  * for shuffle-free equi-joins and salting for skewed keys.
  *
  * Bucketing: two fact tables bucketed+sorted on the same join key join
  * with ZERO exchanges (SortMergeJoin reads co-located buckets) — the
  * difference between re-shuffling 100 TB per join and reading it in
  * place. WarehouseSpec asserts the no-Exchange plan.
  *
  * Salting: for keys like SciPi's "computer science" (2.3M rows on one
  * key, reference report Table III) AQE's skew split handles the *sort-
  * merge* case; explicit salting is the fallback when the skewed side
  * feeds an aggregation or the planner can't split (e.g. bucketed scans).
  */
object Warehouse {

  /** Write `df` bucketed+sorted by `key` as a managed table. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int = 32): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Shuffle-free equi-join of two tables bucketed on the join key. */
  def bucketedJoin(spark: SparkSession, left: String, right: String, key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Hive-style partitioned write: one directory per distinct value of
    * `partitionCol`. Readers filtering on the partition column prune at
    * the *file listing* level — a WHERE day='…' over 100 TB of events
    * reads one day's files, not the table (WarehouseSpec asserts the
    * pruned scan). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Swap `tmp` into `target` without a data-loss window: move the live
    * target aside, move the new data in, then delete the aside copy.
    * Every rename's result is checked — at no point is the only copy of
    * the table deleted before its replacement is in place, so a crash
    * at any step leaves either the old or the new data readable (worst
    * case: old data parked at `<target>.bak-*`, recoverable by hand).
    * Goes through Hadoop [[org.apache.hadoop.fs.FileSystem]] so the same
    * code runs on local FS, HDFS, or an object-store connector — note
    * object-store "rename" is copy-based and non-atomic; production
    * deployments should layer a transactional table format on top. */
  private def swapIn(spark: SparkSession, tmp: String, target: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val targetP = new org.apache.hadoop.fs.Path(target)
    val fs = targetP.getFileSystem(conf)
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val asideP = new org.apache.hadoop.fs.Path(target + ".bak-" + System.nanoTime())
    val hadOld = fs.exists(targetP)
    if (hadOld && !fs.rename(targetP, asideP))
      throw new java.io.IOException(s"swapIn: failed to move $targetP aside to $asideP")
    if (!fs.rename(tmpP, targetP)) {
      // Put the old data back so the table stays readable, then fail.
      if (hadOld) fs.rename(asideP, targetP)
      throw new java.io.IOException(s"swapIn: failed to move $tmpP into place at $targetP")
    }
    if (hadOld) fs.delete(asideP, true)
  }

  /** MERGE/upsert for plain parquet (the batch twin of the streaming
    * foreachBatch upsert, and of the reference's Cassandra
    * upsert-by-PK): rows of `target` whose key appears in `updates`
    * are replaced, new keys appended. Left-anti join + union, written
    * to a temp dir then swapped via [[swapIn]] (checked renames, old
    * data parked until the new data is in place), so neither a failed
    * write nor a failed swap loses the target. On a real deployment
    * this is a transactional table format's MERGE INTO; the dataflow
    * is identical. */
  def upsertParquet(spark: SparkSession, targetPath: String, updates: DataFrame,
      keys: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val targetP = new org.apache.hadoop.fs.Path(targetPath)
    val exists = targetP.getFileSystem(conf).exists(targetP)
    val merged =
      if (!exists) updates
      else spark.read.parquet(targetPath)
        .join(broadcast(updates.select(keys.map(col): _*)), keys, "left_anti")
        .unionByName(updates)
    val tmp = targetPath + ".tmp-" + System.nanoTime()
    merged.write.mode("overwrite").parquet(tmp)
    swapIn(spark, tmp, targetPath)
  }

  /** Schema-evolution read: union the schemas of EVERY parquet footer
    * under `path`, so columns added by later writers surface (as NULL
    * on files written before them). Spark's default read takes one
    * arbitrary footer — on an evolved table that silently drops
    * late-added columns, which is exactly the failure mode a
    * long-lived 100 TB table hits first. mergeSchema costs a footer
    * read per file at planning time, not a data pass; pushdown and
    * pruning are unaffected (WarehouseSpec pins both the surfaced
    * column and the old-file NULLs). */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Small-file compaction: rewrite a parquet dir into files of
    * ~`targetMB` (small-file listing + open overhead is a top cluster
    * tax at 100 TB; compaction after high-parallelism writes is
    * routine hygiene). Same checked swap as [[upsertParquet]]. */
  def compact(spark: SparkSession, path: String, targetMB: Int = 256): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val bytes = fs.listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1, (bytes / (targetMB.toLong << 20)).toInt)
    val tmp = path + ".tmp-" + System.nanoTime()
    spark.read.parquet(path).repartition(nFiles).write.mode("overwrite").parquet(tmp)
    swapIn(spark, tmp, path)
  }

  /** Range-clustered write: range-partition + sort within partitions on
    * `cols`, so parquet min/max stats per file are narrow and
    * range-filtered scans skip most files (poor man's Z-order for a
    * single sort dimension). */
  def writeClustered(df: DataFrame, path: String, cols: Seq[String], files: Int = 8): Unit =
    df.repartitionByRange(files, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** 16-bit Morton (Z-curve) interleave of two normalized coordinates —
    * pure bit expressions, stays in whole-stage codegen. */
  private def morton16(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      (shiftright(x, i).bitwiseAND(1) * lit(1L << (2 * i))) +
        (shiftright(y, i).bitwiseAND(1) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Z-ORDERED write: cluster files along a two-dimensional Z-curve so
    * a selective predicate on EITHER column (or a box on both) touches
    * few files — the layout lever `writeClustered` can't give once a
    * second filter dimension matters, because lexicographic sort
    * scatters the minor column across every file.
    *
    * Each column is min/max-normalized to 16 bits (one tiny agg job —
    * at cluster scale these bounds come from table stats), the Morton
    * code interleaves the bits, and files are range-partitioned + sorted
    * by that code. WarehouseSpec measures the effect directly: matching
    * rows for a box predicate concentrate in a fraction of the files
    * that a round-robin layout spreads them over. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String, files: Int = 16): Unit = {
    val b = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).head
    if (b.isNullAt(0) || b.isNullAt(2)) {
      // empty input (or all-null cluster column): nothing to order —
      // write as-is instead of NPEing on the missing bounds
      df.write.mode("overwrite").parquet(path)
      return
    }
    val (loA, hiA, loB, hiB) = (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    def norm(c: String, lo: Double, hi: Double): Column = {
      val span = math.max(hi - lo, Double.MinPositiveValue)
      least(lit(65535), greatest(lit(0),
        floor((col(c).cast("double") - lit(lo)) / lit(span) * 65535.0))).cast("long")
    }
    df.withColumn("__z", morton16(norm(colA, loA, hiA), norm(colB, loB, hiB)))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
