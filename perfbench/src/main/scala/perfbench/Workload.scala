package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.control.NonFatal

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, root: Path, work: Path)

/** One unit of work's outcome. `seconds` is the wall time of the work
  * itself (checks and traced-only probes excluded); `opsMs` are the
  * durations of the Spark jobs it ran. */
final case class Iteration(seconds: Double, opsMs: Seq[Double])

/** State shared by a run: failure accounting, output checks and the
  * per-layer values recorded by traced iterations. */
final class Ctx(val opts: Opts, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  /** Runs one operation. A throw counts as a failed operation and its
    * time is never recorded: the caller gets `None` and must drop the
    * whole iteration from the timings. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        problems += s"$what failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  private val pending = mutable.LinkedHashMap.empty[String, Double]

  /** Adds to a per-layer value of the current iteration; only traced
    * iterations record. */
  def record(name: String, value: Double): Unit =
    if (tracer.enabled) pending(name) = pending.getOrElse(name, 0.0) + value

  /** Ends an iteration: its per-layer values join the run's. */
  def endIteration(): Unit = {
    pending.foreach { case (k, v) => layer.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
    pending.clear()
  }
}

abstract class Workload(val ctx: Ctx) {
  protected def opts: Opts = ctx.opts
  protected def tracer: Tracer = ctx.tracer

  /** Writes the seeded inputs; not part of set-up time. */
  def prepare(): Unit

  /** Runs once per set-up, on a fresh session; part of set-up time. */
  def warmUp(spark: SparkSession): Unit

  /** Iterations run after set-up and before the timed ones, untimed. */
  def untimedIterations: Int = 0

  /** Iterations measured even when `--seconds` has passed. */
  def minIterations: Int = 1

  /** One unit of work, or `None` if an operation in it failed. */
  def iterate(spark: SparkSession): Option[Iteration]

  /** Digest of the checked outputs, equal across runs of one seed
    * (empty when the outputs are checked against recorded values). */
  def outputDigest: String = ""

  /** Workload-specific end-to-end breakdown: (name, value, unit). */
  def breakdown: Seq[(String, Double, String)]
}

object Workload {

  /** Order-insensitive digest of a DataFrame, computed by one Spark
    * aggregate that consumes every output row: (rows, Σ xxhash64 mod p,
    * xor of xxhash64). */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(1000000007L))), bit_xor(h)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Order-insensitive digest of collected rows. */
  def digestRows(rows: Seq[org.apache.spark.sql.Row]): (Long, Long) = {
    var sum = 0L
    rows.foreach { r =>
      val s = r.toString
      sum += (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
    }
    (rows.length.toLong, sum)
  }

  def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
