package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r17 int64-envelope fixtures (VERDICT r16 "What's wrong #1"): the
  * three sufficient-statistic sums that wrapped int64 inside the
  * 100 TB design envelope now widen each operand to DECIMAL(38,0)
  * BEFORE the multiply (the q_correlation discipline,
  * StatsQueries.scala q_correlation). DuckDB sums integers into
  * HUGEINT, so past the envelope the raw-long Spark tree diverged
  * silently while every graded SF stayed green — these fixtures plant
  * single rows whose products alone exceed 2^63, so the OLD tree is
  * red on them (verified via git-stash at commit time; wrapped values
  * quoted in NOTES_r17) and the widened tree reproduces exact BigInt
  * arithmetic.
  *
  * Every expected value is recomputed here in BigInt/BigDecimal,
  * replicating the production formula step for step (truncating `div`,
  * correctly-rounded decimal→double casts) — the spec
  * never trusts the engine for the arithmetic it is auditing.
  */
class IntOverflowEnvelopeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixtureDir(): String =
    java.nio.file.Files.createTempDirectory("graft_i64_").toString

  test("q_regr_slope: per-row x*y past 2^63 stays exact (d38 inside the sum)") {
    val dir = fixtureDir()
    // W rows: x·y = 30000 × 4e17 = 1.2e22 ≫ 2^63 — one row wraps the
    // raw-long product. N rows: small control group, same formula.
    val rows = Seq(
      ("W", 30000.0, 4.0e15), ("W", 10000.0, 1.0e15), ("W", 20000.0, 3.0e15),
      ("N", 1.0, 10.0), ("N", 2.0, 20.0), ("N", 3.0, 35.0))
    rows.toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    def expected(fr: Seq[(Double, Double)]): (Long, Long, Long, Long) = {
      val n = BigInt(fr.size)
      val xs = fr.map(t => BigInt(t._1.toLong))
      // price → decimal(18,2) → ×100 cents, exact for these doubles
      val ys = fr.map(t => BigInt((t._2 * 100).toLong))
      val sx = xs.sum; val sy = ys.sum
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum
      val numer = n * sxy - sx * sy
      val denom = n * sxx - sx * sx
      val slope = numer.sign * ((numer.abs * 1000000) / denom)
      ((sy * 10000) / n, (sx * 1000000) / n, slope.toLong, n.toLong) match {
        case (my, mx, sl, nn) => (nn, sl, my.toLong, mx.toLong)
      }
    }
    val got = SparkEntry.queries("q_regr_slope")(spark, dir)
      .select("l_returnflag", "n", "slope_micro", "meany_cents_e4", "meanx_e6")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    val w = expected(Seq((30000.0, 4.0e15), (10000.0, 1.0e15), (20000.0, 3.0e15)))
    val nrm = expected(Seq((1.0, 10.0), (2.0, 20.0), (3.0, 35.0)))
    assert(got("W") == w, s"wide flag W diverged: got ${got("W")}, want $w")
    assert(got("N") == nrm, s"control flag N diverged: got ${got("N")}, want $nrm")
  }

  test("q_events_outliers: per-row x*x past 2^63 keeps the census exact") {
    val dir = fixtureDir()
    val t0 = new Timestamp(1700000000000L)
    // "wide": three identical 4e7-dollar readings — x = 4e9 cents,
    // x² = 1.6e19 > 2^63 wraps per-row; variance is 0, so the TRUE
    // census is 0 outliers, while the wrapped Σx² turns varn negative
    // and flags all three. "norm": small control with one genuine
    // 3-sigma outlier, decided here in BigInt.
    val wide = Seq.fill(3)(4.0e7)
    // 20 small readings + one 100.0: enough mass that the extreme
    // reading can't mask itself by inflating the variance (at n = 6
    // it did — dev² < 9·varn for its own row)
    val norm = (1 to 20).map(_.toDouble) ++ Seq(100.0)
    val rows = wide.map(("wide", _)) ++ norm.map(("norm", _))
    rows.zipWithIndex
      .map { case ((ty, v), i) => (i.toLong, t0, i.toLong, ty, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    def census(vs: Seq[Double]): Long = {
      val xs = vs.map(v => BigInt((v * 100).toLong))
      val n = BigInt(xs.size); val sx = xs.sum
      val sxx = xs.map(x => x * x).sum
      val varn = n * sxx - sx * sx
      xs.count { x => val dev = n * x - sx; dev * dev > 9 * varn }.toLong
    }
    val got = SparkEntry.queries("q_events_outliers")(spark, dir)
      .select("event_type", "n", "outliers")
      .as[(String, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got("wide") == ((3L, census(wide))),
      s"wide census diverged: got ${got("wide")}, want (3, ${census(wide)})")
    assert(census(wide) == 0L, "constant series must have zero outliers")
    assert(got("norm") == ((21L, census(norm))))
    assert(census(norm) == 1L, "the planted 100.0 reading is the one outlier")
  }

  test("communityStrength (A14 library kernel): same envelope, same discipline") {
    // cnt = 4e9 → cnt² = 1.6e19 > 2^63; this kernel is what q_brand_strength runs.
    val hist = Seq(("c1", 4000000000L), ("c2", 1L)).toDF("label", "cnt")
    val sumSq = BigInt(4000000000L) * BigInt(4000000000L) + 1
    val want = sumSq.doubleValue / 4000000001.0 / 100.0
    val got = graft.analytics.PubAggregates.communityStrength(hist)
      .as[Double].collect().head
    assert(got == want, s"strength diverged: got $got, want $want")
  }
}
