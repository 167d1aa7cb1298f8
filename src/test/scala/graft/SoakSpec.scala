package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the invariants the Soak weak-scaling transforms promise: the
  * scaled corpus must preserve per-copy structure exactly, or the
  * scaling curves measure the generator, not the engine. */
class SoakSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  test("scaleDocuments: disjoint mode multiplies rows, keeps copy 0 verbatim, disjoins shingles") {
    val base = Tables.documents(spark, sf)
    val n = base.count()
    val scaled = Soak.scaleDocuments(base, 3, sharedDen = 0).cache()
    assert(scaled.count() == 3 * n)
    // copy 0 is bit-identical to the input
    assert(scaled.where(col("doc_id") < 1000000000L).exceptAll(base).count() == 0)
    // doc_ids never collide across copies
    assert(scaled.select("doc_id").distinct().count() == 3 * n)
    // token spaces are disjoint: no token of copy 1 appears in copy 2
    val toks = (c: Int) => scaled
      .where(col("doc_id").between(c * 1000000000L, c * 1000000000L + 999999999L))
      .select(explode(split(col("text"), "\\s+")).as("t")).distinct()
    assert(toks(1).join(toks(2), "t").count() == 0)
    scaled.unpersist()
  }

  test("scaleDocuments: shared mode keeps a deterministic token slice common to all copies") {
    val base = Tables.documents(spark, sf)
    val scaled = Soak.scaleDocuments(base, 3, sharedDen = 4).cache()
    val toks = (c: Int) => scaled
      .where(col("doc_id").between(c * 1000000000L, c * 1000000000L + 999999999L))
      .select(explode(split(col("text"), "\\s+")).as("t")).distinct()
    val shared12 = toks(1).join(toks(2), "t")
    // the shared slice exists and is exactly the xxhash64 % 4 == 0 tokens
    assert(shared12.count() > 0)
    assert(shared12.where(pmod(xxhash64(col("t")), lit(4)) =!= 0).count() == 0)
    scaled.unpersist()
  }

  test("scaleLineitem: co-occurrence structure is copied, not entangled") {
    val base = Tables.lineitem(spark, sf)
    val scaled = Soak.scaleLineitem(base, 2)
    assert(scaled.count() == 2 * base.count())
    // no order key spans copies: every order's parts stay in one copy,
    // so the co-occurrence graph gains a disjoint isomorphic component
    val span = scaled.groupBy("l_orderkey")
      .agg(min(col("l_partkey") >= 1000000000L).as("lo"),
        max(col("l_partkey") >= 1000000000L).as("hi"))
      .where(col("lo") =!= col("hi"))
    assert(span.count() == 0)
  }

  test("history-only scaling grows even doc_ids only and preserves parity") {
    val base = Tables.documents(spark, sf)
    val nEven = base.where(col("doc_id") % 2 === 0).count()
    val nOdd = base.where(col("doc_id") % 2 === 1).count()
    val scaled = Soak.scaleDocumentsHistoryOnly(base, 3, sharedDen = 0)
    // new batch (odd ids) constant; history (even ids) grows k×
    assert(scaled.where(col("doc_id") % 2 === 1).count() == nOdd)
    assert(scaled.where(col("doc_id") % 2 === 0).count() == 3 * nEven)
    // copies carry only history: every shifted id is even
    assert(scaled.where(col("doc_id") >= 1000000000L && col("doc_id") % 2 === 1).count() == 0)
  }

  test("keys at or above the copy shift are rejected, not silently entangled") {
    import spark.implicits._
    val big = Seq((1000000000L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Soak.scaleDocuments(big, 2, sharedDen = 0).count()
    }
    assert(e.getMessage.contains("collide"))
    val bigLi = Seq((5L, 1000000001L)).toDF("l_orderkey", "l_partkey")
    intercept[IllegalArgumentException] { Soak.scaleLineitem(bigLi, 2).count() }
  }

  test("fact-scaling routes through the explicit table map; unknowns scale everything") {
    assert(Soak.famsFor(Seq("dedup_ngram_jaccard")) == Set('d'))
    assert(Soak.famsFor(Seq("q1_pricing_summary")) == Set('f'))
    assert(Soak.famsFor(Seq("dedup_semantic")) == Set('d', 'e'))
    // the r7 failure shape: a fact-joining query whose name matches no
    // substring pattern — the map default now scales every family
    // rather than silently reproducing a flat curve
    assert(Soak.famsFor(Seq("some_future_probe")) == Soak.AllFams)
    assert(Soak.famsFor(Seq("dedup_exact", "q_topn_per_group")) == Set('d', 'f'))
    // map hygiene: the standing soak list never falls to the expensive
    // default, and every mapped name is a real battery query (a typo'd
    // key would silently shadow the real query's entry)
    Soak.SoakQueries.foreach(q =>
      assert(Soak.SoakReads.contains(q), s"$q missing from SoakReads"))
    Soak.SoakReads.keys.foreach(q =>
      assert(SparkEntry.queries.contains(q), s"SoakReads key $q is not a battery query"))
  }

  test("timedRun: a query that throws is a failure, not a time, and its pins are still released") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // pinned inside the timed region, the way queries pin (timedRun's
    // clearCache before the clock would otherwise drop it first)
    var pinned: org.apache.spark.sql.DataFrame = null
    var pinnedWhileRunning = false
    val failed = GraftSession.timedRun(spark) {
      pinned = CacheRegistry.persistTracked((1 to 10).toDF("x"))
      pinnedWhileRunning = pinned.storageLevel != StorageLevel.NONE
      pinned.select(raise_error(concat(lit("boom "), col("x").cast("string"))))
    }
    assert(failed.isLeft, s"a throwing query must not yield a time: $failed")
    assert(failed.left.exists(_.getMessage.contains("boom")), s"$failed")
    assert(pinnedWhileRunning)
    assert(pinned.storageLevel == StorageLevel.NONE, "releaseCaches must run when the query throws")
    // a good query returns its full row count
    val ok = GraftSession.timedRun(spark)((1 to 10).toDF("x").where(col("x") > 3))
    assert(ok.map(_._2) == Right(7L))
    assert(ok.exists(_._1 >= 0.0))
  }
}
