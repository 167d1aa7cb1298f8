package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.{GraftExtensions, GraftSession}
import scala.collection.mutable

/** Runs one workload and prints its result.
  *
  * {{{
  * perfbench.Main --workload <pub_pipeline|query_mix> --seed <n>
  *   --seconds <n> --trace <0|1> --root <checkout> --work <scratch dir>
  * }}}
  *
  * Set-up (session start, `GraftExtensions.register`, the workload's
  * warm-up) is repeated [[SetupRepeats]] times on fresh sessions and
  * reported as the median. Then the workload runs its untimed iterations
  * and iterates, timed, for `--seconds`.
  * With `--trace 0` the iterations are untraced and the run reports the
  * end-to-end metrics. With `--trace 1` the run reports the per-layer
  * metrics, recorded by traced iterations, plus the tracing overhead
  * (see [[run]]). The last stdout line is the JSON result; the exit code
  * is 1 when an output check or an operation failed.
  */
object Main {

  val SetupRepeats = 3

  /** Spark's task slots, `local[n]`. On a 4-vCPU host with two
    * busy-looping processes beside it, a pub_pipeline iteration took 71%
    * longer under local[4] and 23% longer under local[2]: with every vCPU
    * running a task, any other load lands on the benchmark's own threads. */
  val Cores = 2

  /** End-to-end metrics: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "iteration_s" -> "s",
    "peak_heap_mb" -> "MB")

  /** Per-layer metrics: (name, unit). A workload that does not exercise
    * a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.parse_normalize_s" -> "s",
    "ingest.accept_ratio" -> "ratio",
    "ingest.dedup_ratio" -> "ratio",
    "ingest.dblp_xml_s" -> "s",
    "ingest.dblp_xml_errors" -> "count",
    "streaming.batches" -> "count") ++
    PubStream.Phases.map(p => s"streaming.phase_ms.$p" -> "ms") ++ Seq(
    "streaming.source_rows_per_pub" -> "ratio",
    "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "bytes",
    "io.raw_upsert_ms.first" -> "ms",
    "io.raw_upsert_ms.last" -> "ms",
    "io.bytes_written" -> "bytes") ++
    PubBatch.Aggregates.map(a => s"analytics.agg_s.$a" -> "s") ++ Seq(
    "analytics.stream_addbatch_ms" -> "ms",
    "graph.build_s" -> "s",
    "graph.lpa_s" -> "s",
    "graph.vertices" -> "count",
    "graph.edges" -> "count",
    "graph.jobs" -> "count",
    "graph.ms_per_superstep" -> "ms",
    "assoc.keyword_sim_s" -> "s",
    "assoc.usage_s" -> "s",
    "assoc.projection_s" -> "s",
    "assoc.projection_pairs" -> "count",
    "assoc.task_skew" -> "ratio",
    "jobs.topics_s" -> "s",
    "queries.plan_s" -> "s",
    "queries.exec_s" -> "s") ++
    QueryMix.Families.map(f => s"queries.$f.exec_s" -> "s") ++ Seq(
    "queries.shuffle_bytes" -> "bytes",
    "queries.spill_bytes" -> "bytes",
    "queries.stages" -> "count",
    "queries.tasks" -> "count",
    "cache.pinned_bytes" -> "bytes",
    "cache.release_s" -> "s",
    "spark.task_s" -> "s",
    "spark.scheduler_delay_s" -> "s",
    "jvm.gc_s" -> "s",
    "op.p50_ms" -> "ms",
    "op.p90_ms" -> "ms",
    "op.samples" -> "count") ++
    EndToEnd.filter(_._1 != "setup_s").map { case (n, u) => s"trace.overhead.$n" -> u }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val tracer = new Tracer(s"${opts.workload}-${opts.seed}-${ProcessHandle.current().pid()}")
    val ctx = new Ctx(opts, tracer)
    val workload: Workload = opts.workload match {
      case "pub_pipeline" => new PubPipeline(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => fail(s"unknown workload $other")
    }
    val correct =
      try run(opts, ctx, workload)
      finally SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(if (correct) 0 else 1)
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, fail(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("root")).toAbsolutePath, Paths.get(need("work")).toAbsolutePath)
  }

  /** The one session of the run: `GraftSession`'s builder, with its
    * scratch locations moved under the run's work directory. */
  def session(opts: Opts): SparkSession = {
    val cores = math.min(Cores, Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.builder(cores)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }

  /** One measured iteration: its time (`None` when an operation in it
    * failed), Spark job durations, peak heap after GC (MB) and GC time. */
  private final case class Sample(traced: Boolean, seconds: Option[Double], ops: Seq[Double], heapMb: Double, gcS: Double)

  /** The iterations of one mode (untraced or traced). */
  private final case class Phase(samples: Seq[Sample]) {
    /** The iterations in which no operation failed. */
    val done: Seq[Sample] = samples.filter(_.seconds.isDefined)
    def iterations: Seq[Double] = done.flatMap(_.seconds)
    def ops: Seq[Double] = done.flatMap(_.ops)
    def metrics: Map[String, Double] = Map(
      "iteration_s" -> Workload.median(iterations),
      "peak_heap_mb" -> (if (done.isEmpty) Double.NaN else done.map(_.heapMb).max))
  }

  /** Lets Spark's cleaner free what the last iteration dropped (shuffles,
    * broadcasts: the first GC queues them, the cleaner releases them),
    * so every iteration starts from the same heap. Not timed. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
  }

  /** Iterates until `seconds` have passed and every mode `tracedAt` picks
    * has [[Workload.minIterations]] timed iterations, or, once the time
    * has passed, as soon as an operation has failed: a failing workload
    * ends with a result instead of iterating until it is killed. Returns
    * the untraced and the traced iterations. */
  private def measure(ctx: Ctx, workload: Workload, spark: SparkSession, seconds: Double,
      tracedAt: Int => Boolean): (Phase, Phase) = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val modes = (0 until 2).map(tracedAt).distinct
    def short = modes.exists(m => samples.count(s => s.traced == m && s.seconds.isDefined) < workload.minIterations)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      val traced = tracedAt(samples.length)
      ctx.tracer.enabled = traced
      val gc0 = ctx.tracer.jvmGcSeconds
      val t0 = heap.now()
      val it = workload.iterate(spark)
      val t1 = heap.now()
      ctx.tracer.enabled = false
      val gcS = ctx.tracer.jvmGcSeconds - gc0
      ctx.endIteration()
      settle()
      samples += Sample(traced, it.map(_.seconds), it.fold(Seq.empty[Double])(_.opsMs), heap.peakMb(t0, t1), gcS)
    } while (System.nanoTime() < deadline || (short && ctx.failed == 0))
    val (t, u) = samples.partition(_.traced)
    (Phase(u.toSeq), Phase(t.toSeq))
  }

  private val heap = new HeapPeak

  private def run(opts: Opts, ctx: Ctx, workload: Workload): Boolean = {
    Files.createDirectories(opts.work)
    workload.prepare()
    val setups = (1 to SetupRepeats).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val spark = session(opts)
      ctx.tracer.attach(spark.sparkContext)
      workload.warmUp(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val spark = SparkSession.active
    ctx.tracer.takeJobMs()
    ctx.tracer.steps.clear()
    settle()

    // A traced run alternates untraced and traced iterations, so JIT and
    // cache warm-up drift falls on both modes alike, and reports the
    // difference of their medians as the tracing overhead. A workload
    // with fewer than three iterations per run cannot alternate: its
    // traced run traces every iteration and leaves the overhead
    // unmeasured. Either way it spends at least one untimed iteration
    // first, so that the traced ones are warm.
    val interleave = opts.trace && workload.minIterations >= 3
    (1 to math.max(workload.untimedIterations, if (opts.trace) 1 else 0)).foreach { _ =>
      workload.iterate(spark); ctx.tracer.steps.clear(); settle()
    }
    val (untraced, traced) = measure(ctx, workload, spark, opts.seconds,
      if (!opts.trace) (_ => false) else if (interleave) (i => i % 2 == 1) else (_ => true))
    val measured = if (opts.trace && !interleave) traced else untraced
    val breakdown = workload.breakdown

    val e2e = measured.metrics + ("setup_s" -> Workload.median(setups))
    val absent = mutable.LinkedHashMap.empty[String, String]
    val layers: Map[String, Double] = if (!opts.trace) Map.empty else {
      val recorded = ctx.layer.map { case (k, vs) => k -> Workload.median(vs.toSeq) }.toMap
      val overhead =
        if (interleave) traced.metrics.map { case (k, v) => s"trace.overhead.$k" -> (v - untraced.metrics(k)) }
        else {
          traced.metrics.keys.foreach(k => absent(s"trace.overhead.$k") =
            s"not measured: ${opts.workload} runs too few iterations to alternate traced and untraced ones")
          Map.empty[String, Double]
        }
      recorded ++ overhead ++ Map(
        "jvm.gc_s" -> Workload.median(traced.done.map(_.gcS)),
        "op.p50_ms" -> Workload.quantile(traced.ops, 0.5),
        "op.p90_ms" -> Workload.quantile(traced.ops, 0.9),
        "op.samples" -> traced.ops.length.toDouble)
    }
    if (opts.trace) PerLayer.map(_._1).filterNot(n => layers.contains(n) || absent.contains(n))
      .foreach(n => absent(n) = s"layer not exercised by ${opts.workload}")
    ctx.check(ctx.attempted > 0, "no operation was attempted")
    ctx.check(measured.iterations.nonEmpty, "no iteration completed")
    val correct = ctx.problems.isEmpty && ctx.failed == 0

    println(s"workload ${opts.workload} seed ${opts.seed}: ${untraced.iterations.length} untraced + " +
      s"${traced.iterations.length} traced iterations; set-ups " +
      setups.map(s => f"$s%.2f").mkString(", ") + " s")
    println("  iterations " + measured.iterations.map(s => f"$s%.2f").mkString(", ") + " s")
    EndToEnd.foreach { case (n, u) => println(f"  $n%-28s ${e2e(n)}%14.4f $u") }
    println(s"  Spark jobs ${measured.ops.length}: p50 " +
      f"${Workload.quantile(measured.ops, 0.5)}%.1f ms, p90 ${Workload.quantile(measured.ops, 0.9)}%.1f ms; " +
      s"attempted ${ctx.attempted}, failed ${ctx.failed}")
    breakdown.foreach { case (n, v, u) => println(f"  $n%-28s $v%14.4f $u") }
    if (opts.trace) {
      PerLayer.foreach { case (n, u) =>
        println(f"  $n%-36s ${layers.getOrElse(n, 0.0)}%16.4f $u" + absent.get(n).fold("")(r => s"  ($r)"))
      }
      ctx.tracer.selfSeconds.toSeq.sortBy(-_._2).foreach { case (l, s) =>
        println(f"  self time $l%-24s $s%10.4f s")
      }
      writeTrace(opts, ctx, layers, absent.toSeq)
    }
    if (workload.outputDigest.nonEmpty)
      println(f"output digest: ${workload.outputDigest.hashCode}%08x")
    println(s"output checks: ${if (correct) "PASS" else "FAIL"}")
    ctx.problems.take(20).foreach(p => println(s"  check failed: $p"))

    val metrics =
      if (opts.trace) PerLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) => (n, e2e(n), u) }
    println(Json.result(correct, ctx.attempted, ctx.failed, metrics))
    correct
  }

  private def writeTrace(opts: Opts, ctx: Ctx, layers: Map[String, Double], absent: Seq[(String, String)]): Unit = {
    val dir = opts.root.resolve(".bench_build/traces")
    Files.createDirectories(dir)
    val spans = ctx.tracer.spans.toSeq.map { s =>
      Json.obj(Seq("run_id" -> Json.str(s.runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }
    val doc = Json.obj(Seq(
      "workload" -> Json.str(opts.workload),
      "seed" -> opts.seed.toString,
      "self_seconds" -> Json.obj(ctx.tracer.selfSeconds.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(PerLayer.map { case (n, _) => n -> Json.num(layers.getOrElse(n, 0.0)) }),
      "absent" -> Json.obj(absent.map { case (n, why) => n -> Json.str(why) }),
      "spans" -> Json.arr(spans)))
    Files.write(dir.resolve(s"${opts.workload}-seed${opts.seed}.json"), doc.getBytes(UTF_8))
  }
}

/** Just enough JSON for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String =
    obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })))
}
