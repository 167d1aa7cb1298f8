package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.Warehouse

class WarehouseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

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
}
