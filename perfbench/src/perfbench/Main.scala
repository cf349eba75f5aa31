package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchShim
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by perfbench/run.py:
  *
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *                      --work DIR --data DIR --pinned FILE
  *   perfbench.Main pin --out FILE --work DIR --data DIR      (see pin.py)
  *   perfbench.Main selftest --work DIR --benchmark-json FILE (see selftest.py)
  *
  * `run` prints human-readable detail, then one result line prefixed
  * with [[ResultPrefix]] that the launcher turns into its last line.
  */
object Main {
  val ResultPrefix = "PERFBENCH_RESULT "
  /** Set-ups per run; set-up time is their median. */
  val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "ops_per_s" -> "1/s",
    "cpu_s_per_op" -> "s", "op_s_p50" -> "s", "output_quality" -> "ratio")

  /** Span name -> the per-layer metric carrying its self time per op. */
  val SelfTimeMetric: Seq[(String, String)] = Seq("bench" -> "bench.self_s",
    "operators.build" -> "operators.build_s", "catalyst.plan" -> "catalyst.plan_s",
    "spark.exec" -> "spark.exec_s", "sources" -> "sources.self_s",
    "pipeline" -> "pipeline.self_s", "MinHashIndex" -> "MinHashIndex.self_s",
    "IvfIndex" -> "IvfIndex.self_s")

  val CommonLayer: Seq[(String, String)] = Seq("prime_s" -> "s", "fail_ratio" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s",
    "spark.task_gc_s" -> "s", "spark.task_deser_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_fetch_wait_s" -> "s",
    "spark.spill_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.job_busy_s" -> "s", "spark.driver_gap_s" -> "s",
    "jvm.process_cpu_s" -> "s", "jvm.gc_s" -> "s", "jvm.jit_compile_s" -> "s",
    "jvm.heap_peak_mb" -> "MiB", "trace.op_wall_s_p50" -> "s",
    "trace.selftime_residual" -> "ratio", "trace.span_cost_s_per_op" -> "s") ++
    SelfTimeMetric.filterNot(m => Analytics.layerNames.exists(_._1 == m._2)).map(_._2 -> "s")

  def perLayer: Seq[(String, String)] =
    CommonLayer ++ Analytics.layerNames ++ Lifecycle.layerNames ++ Corpus.layerNames

  /** Self-time sums of an op's spans must equal its wall time within this
    * share; the span arithmetic makes them equal unless spans escape their
    * parent.
    */
  val SelfTimeTolerance = 0.01

  def main(args: Array[String]): Unit = {
    val (mode, opts) = parse(args)
    mode match {
      case "run" => run(opts)
      case "pin" => Pin.run(opts("out"), Dirs(opts("work"), opts("data"), ""))
      case "selftest" => SelfTest.run(opts("work"), opts("benchmark-json"))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  private def parse(args: Array[String]): (String, Map[String, String]) = {
    require(args.nonEmpty && args.tail.length % 2 == 0,
      s"usage: perfbench.Main <run|pin|selftest> [--key value]...; got ${args.mkString(" ")}")
    (args.head, args.tail.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --key, got $k")
      k.drop(2) -> v
    }.toMap)
  }

  def workload(name: String, seed: Long, dirs: Dirs): Workload = name match {
    case "analytics" => new Analytics(seed, dirs)
    case "lifecycle" => new Lifecycle(seed, dirs)
    case "corpus" => new Corpus(seed, dirs)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (analytics, lifecycle, corpus)")
  }

  /** Seconds of the op's wall time covered by at least one of its jobs. */
  def jobBusyS(op: Op, w: OpWork): Double =
    Spans.unionLength(w.jobIntervalsMs.toSeq.map { case (s, e) =>
      (math.max(s, op.startMs), math.min(e, op.endMs)) }) / 1e3

  private def run(o: Map[String, String]): Unit = {
    val dirs = Dirs(o("work"), o("data"), o("pinned"))
    val seed = o("seed").toLong
    val seconds = o("seconds").toInt
    val traced = o("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    require(seconds > 0, s"--seconds must be positive, got $seconds")
    val w = workload(o("workload"), seed, dirs)

    // set-up, repeated on fresh sessions: the first is timed from JVM start
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupReps) {
      val t0 = if (i == 0) Jvm.startMs else System.currentTimeMillis()
      spark = Session.build()
      w.setup(spark)
      setups += (System.currentTimeMillis() - t0) / 1e3
    }
    val sc = spark.sparkContext
    val meter = new JobMeter
    if (traced) sc.addSparkListener(meter)
    // untimed blocks first: caches fill and first-use costs land there
    val prime = new Recorder(sc, traced = false, groupPrefix = "perfbench-prime-")
    val p0 = System.nanoTime()
    (0 until w.primeBlocks).foreach(_ => w.block(spark, prime))
    val primeS = (System.nanoTime() - p0) / 1e9
    require(prime.ops.forall(_.ok) && prime.checkFailures.isEmpty,
      s"priming failed: ${(prime.ops.flatMap(_.error) ++ prime.checkFailures).mkString("; ")}")

    // the timed phase: whole blocks, so every run measures the same mix,
    // for --seconds and at least the blocks the end-to-end metrics use
    val rec = new Recorder(sc, traced)
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1000000000L || rec.blocks.size < w.measuredBlocks)
      rec.block(w.block(spark, rec))
    val t1 = System.nanoTime()
    val jvm1 = Jvm.sample()
    w.finish(spark, rec)

    val attempted = rec.ops.size
    val failed = rec.ops.count(!_.ok)
    require(attempted > 0 && rec.blocks.map(_.ops).sum == attempted,
      s"the timed phase ran $attempted ops, ${rec.blocks.map(_.ops).sum} of them in blocks")
    val measured = rec.blocks.take(w.measuredBlocks).toSeq
    val lat = Stats.summary(rec.ops.slice(0, measured.last.endOp).filter(_.ok).map(_.wallS).toSeq)
    println(f"[perfbench] ${w.name} seed=$seed ops=$attempted failed=$failed " +
      f"window=${(t1 - t0) / 1e9}%.2fs setups=${setups.map(s => f"$s%.2f").mkString(",")} " +
      f"prime=$primeS%.2fs")
    println("[perfbench] blocks (ops, ops/s, cpu s/op): " + rec.blocks.map(b =>
      f"(${b.ops}, ${b.opsPerS}%.3f, ${b.cpuSPerOp}%.3f)").mkString(" "))
    println(f"[perfbench] op latency in the first ${measured.size} blocks: n=${lat.n} " +
      f"p50=${lat.p50}%.4f p75=${lat.p75}%.4f " +
      f"p90=${lat.p90}%.4f; highest percentile with >=10 samples beyond it: " +
      lat.tailP.map(p => f"p$p=${lat.tail}%.4f").getOrElse("none (n < 20)"))
    if (!w.isInstanceOf[Analytics]) rec.ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach {
      case (k, os) =>
        println(f"[perfbench]   $k%-12s n=${os.size}%3d p50=${Stats.median(os.map(_.wallS).toSeq)}%.4f")
    }

    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        Seq(
          ("setup_s", "s", Stats.median(setups.toSeq)),
          ("ops_per_s", "1/s", Stats.median(measured.map(_.opsPerS))),
          ("cpu_s_per_op", "s", Stats.median(measured.map(_.cpuSPerOp))),
          ("op_s_p50", "s", lat.p50),
          ("output_quality", "ratio", w.quality))
      } else {
        PerfbenchShim.drain(sc)
        val layer = layerMetrics(spark, rec, meter, jvm1) + ("prime_s" -> primeS) ++
          w.layerMetrics(spark, rec, meter)
        val unknown = layer.keySet -- perLayer.map(_._1)
        require(unknown.isEmpty, s"metrics missing from the per-layer list: $unknown")
        // a metric that does not apply to this workload, or had no
        // samples in this run, reads 0
        perLayer.map { case (n, u) => (n, u, layer.get(n).filterNot(_.isNaN).getOrElse(0.0)) }
      }
    metrics.foreach { case (n, _, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
    }
    val correct = rec.checkFailures.isEmpty
    if (!correct) System.err.println(s"[perfbench] ${rec.checkFailures.size} output checks failed")
    val body = metrics.map { case (n, u, v) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(ResultPrefix +
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    spark.stop()
  }

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  private def layerMetrics(spark: SparkSession, rec: Recorder, meter: JobMeter,
      jvm: JvmSample): Map[String, Double] = {
    val n = rec.ops.size.toDouble
    val works = rec.ops.map(o => o -> meter.work(rec.jobGroup(o.id)))
    def perOp(f: OpWork => Double) = works.map(x => f(x._2)).sum / n
    val busy = works.map { case (o, wk) => jobBusyS(o, wk) }
    val self = Spans.selfTimes(rec.spans.toSeq)
    val selfByOp = rec.spans.groupBy(_.op).map { case (op, ss) => op -> ss.map(s => self(s.id)).sum }
    val residual = rec.ops.map { o =>
      math.abs(selfByOp.getOrElse(o.id, 0L) - (o.endNs - o.startNs)).toDouble /
        math.max(1L, o.endNs - o.startNs)
    }.max
    rec.check(residual <= SelfTimeTolerance,
      f"per-op self times differ from op wall time by $residual%.4f (tolerance $SelfTimeTolerance)")
    val selfNames = Spans.selfByName(rec.spans.toSeq)
    val selfMetrics = SelfTimeMetric.map { case (span, m) =>
      m -> selfNames.getOrElse(span, 0L) / 1e9 / n }
    val spansPerOp = rec.spans.size / n
    Map(
      "fail_ratio" -> rec.ops.count(!_.ok) / n,
      "spark.jobs_per_op" -> perOp(_.jobs), "spark.stages_per_op" -> perOp(_.stages),
      "spark.tasks_per_op" -> perOp(_.tasks.toDouble),
      "spark.task_cpu_s" -> perOp(_.taskCpuNs / 1e9), "spark.task_run_s" -> perOp(_.taskRunMs / 1e3),
      "spark.task_gc_s" -> perOp(_.taskGcMs / 1e3), "spark.task_deser_s" -> perOp(_.taskDeserMs / 1e3),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWriteBytes.toDouble),
      "spark.shuffle_fetch_wait_s" -> perOp(_.fetchWaitMs / 1e3),
      "spark.spill_bytes" -> perOp(_.spillBytes.toDouble),
      "spark.output_bytes" -> perOp(_.outputBytes.toDouble),
      "spark.job_busy_s" -> busy.sum / n,
      "spark.driver_gap_s" -> rec.ops.zip(busy).map { case (o, b) => o.wallS - b }.sum / n,
      "jvm.process_cpu_s" -> jvm.cpuNs / 1e9, "jvm.gc_s" -> jvm.gcMs / 1e3,
      "jvm.jit_compile_s" -> jvm.jitMs / 1e3, "jvm.heap_peak_mb" -> Jvm.heapPeakMb(),
      "trace.op_wall_s_p50" -> Stats.median(rec.ops.filter(_.ok).map(_.wallS).toSeq),
      "trace.selftime_residual" -> residual,
      "trace.span_cost_s_per_op" -> spanCostS(spark) * spansPerOp
    ) ++ selfMetrics
  }

  /** Measured cost of recording one span (a traced minus an untraced
    * empty op, per span), so the traced run can state its own overhead.
    */
  private def spanCostS(spark: SparkSession): Double = {
    def time(traced: Boolean): Long = {
      val r = new Recorder(spark.sparkContext, traced, groupPrefix = "perfbench-calibrate-")
      val t0 = System.nanoTime()
      (0 until 20000).foreach(_ => r.op("calibrate")(r.span("a")(r.span("b")(()))))
      System.nanoTime() - t0
    }
    time(traced = true); time(traced = false)
    math.max(0L, time(traced = true) - time(traced = false)) / 1e9 / (20000 * 3)
  }
}
