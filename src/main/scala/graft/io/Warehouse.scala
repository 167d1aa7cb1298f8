package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checked-swap upsert for plain parquet: the merge behind the streaming
  * raw sink (S3, `StreamJobs.rawSink`) and the batch stand-in for the
  * reference's Cassandra upsert-by-PK. The merged table is written to a
  * temp dir and swapped in with checked renames, so neither a failed
  * write nor a failed swap loses the target.
  */
object Warehouse {

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
}
