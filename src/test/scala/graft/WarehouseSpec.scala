package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import graft.io.Warehouse

class WarehouseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bucketed join runs without any shuffle exchange") {
    val a = (1 to 1000).map(i => (i.toLong % 100, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong % 100, s"b$i")).toDF("k", "vb")
    Warehouse.writeBucketed(a, "bucketed_a", "k", buckets = 8)
    Warehouse.writeBucketed(b, "bucketed_b", "k", buckets = 8)

    val joined = Warehouse.bucketedJoin(spark, "bucketed_a", "bucketed_b", "k")
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"expected no shuffle, plan:\n${joined.queryExecution.executedPlan}")
    assert(joined.count() == 10000) // 100 keys x 10 x 10
  }

  test("partitioned write prunes non-matching partitions at scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = (1 to 300).map(i => (f"2024-01-${i % 3 + 1}%02d", i)).toDF("day", "v")
    Warehouse.writePartitioned(df, s"$dir/t", "day")
    val q = spark.read.parquet(s"$dir/t").where(col("day") === "2024-01-01")
    assert(q.count() == 100)
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("day"),
      s"partition filter missing: ${scan.metadata}")
    assert(scan.relation.location.inputFiles.length >= 3) // table has 3 partitions
    assert(scan.selectedPartitions.totalNumberOfFiles < scan.relation.location.inputFiles.length,
      "scan should read a strict subset of the table's files")
  }

  test("upsertParquet replaces matched keys and appends new ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val t = s"$dir/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(t)
    Warehouse.upsertParquet(spark, t, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    val got = spark.read.parquet(t).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "c")))
    // idempotent re-apply
    Warehouse.upsertParquet(spark, t, Seq((3L, "c")).toDF("k", "v"), Seq("k"))
    assert(spark.read.parquet(t).count() == 3)
  }

  test("compact rewrites many small files into few") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val t = s"$dir/t"
    (1 to 2000).toDF("v").repartition(50).write.parquet(t)
    def nFiles = new java.io.File(t).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles == 50)
    Warehouse.compact(spark, t, targetMB = 256)
    assert(nFiles <= 2)
    assert(spark.read.parquet(t).count() == 2000)
  }

  test("clustered write yields range-disjoint files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cluster").toString
    val t = s"$dir/t"
    val df = (1 to 10000).map(i => (i * 37 % 10000, s"r$i")).toDF("k", "v")
    Warehouse.writeClustered(df, t, Seq("k"), files = 4)
    val ranges = spark.read.parquet(t)
      .groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .as[(String, Int, Int)].collect().sortBy(_._2)
    assert(ranges.length >= 3)
    ranges.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 <= lo2, "files overlap in range")
      case _ => ()
    }
  }

  test("z-order concentrates a box predicate into few files; round-robin spreads it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder_").toString
    // 100k points on a 1000x100 grid, two independent filter dimensions
    val df = (0 until 100000).map(i => (i % 1000, i / 1000, i.toLong)).toDF("x", "y", "id")
    Warehouse.writeZOrdered(df, s"$dir/z", "x", "y", files = 16)
    df.repartition(16).write.mode("overwrite").parquet(s"$dir/rr")
    def filesTouched(path: String): Long = spark.read.parquet(path)
      .where(col("x").between(100, 150) && col("y").between(20, 40))
      .select(input_file_name()).distinct().count()
    val (z, rr) = (filesTouched(s"$dir/z"), filesTouched(s"$dir/rr"))
    // same rows either way; the layout decides how many files hold them
    assert(spark.read.parquet(s"$dir/z")
      .where(col("x").between(100, 150) && col("y").between(20, 40)).count() == 51L * 21)
    assert(rr == 16, s"round-robin should scatter the box across all files, got $rr")
    assert(z <= 6, s"z-order should confine the box to a corner of the curve, got $z files")
  }

  test("schema evolution: a later writer's column surfaces, old files read as NULL") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve_").toString + "/t"
    (1L to 100L).map(i => (i, s"v$i")).toDF("k", "a")
      .write.mode("overwrite").parquet(dir)
    (101L to 150L).map(i => (i, s"v$i", i * 10)).toDF("k", "a", "c")
      .write.mode("append").parquet(dir)
    val evolved = Warehouse.readEvolved(spark, dir)
    assert(evolved.columns.toSet == Set("k", "a", "c"))
    assert(evolved.count() == 150)
    // old files surface the new column as NULL; new files carry it
    assert(evolved.where(col("c").isNull).count() == 100)
    assert(evolved.where(col("c") === 1010L).select("k").as[Long].collect().toSeq == Seq(101L))
  }
}
