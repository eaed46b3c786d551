package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** One benchmark run:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --dir D
  *
  * Sets up once (session, inputs from the seed, warm pass), then runs the
  * number of whole cycles of the workload's operations that comes nearest
  * to S seconds. `--trace 1` alternates those cycles with traced ones
  * (spans and a SparkListener) and adds the per-layer metrics. The last
  * stdout line is the result object; the line before it records the
  * environment, the workload's own metric names and, traced, every layer
  * metric.
  */
object Main {
  /** One operation as run: its cycle, kind, wall ns, what it did, and its trace. */
  final case class Done(cycle: Int, kind: String, wallNs: Long, out: OpOut, spans: Vector[Span], counters: Counters, ctx: OpCtx)

  final case class Phase(done: Vector[Done], failed: Vector[String], cachePeakMb: Double) {
    def ok: Vector[Done] = done.filter(_.out.problem.isEmpty)
    def attempted: Int = done.length + failed.length
    def nFailed: Int = failed.length + done.count(_.out.problem.nonEmpty)
    def p50Ms: Double = p50MsOf(None)
    /** Median ms of the operations of `kind`, or of all with None. */
    def p50MsOf(kind: Option[String]): Double = {
      val xs = ok.filter(d => kind.forall(_ == d.kind))
      if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.wallNs / 1e6))
    }
    def tailMs(p: Double): Option[Double] = Stats.percentile(ok.map(_.wallNs / 1e6), p)
    /** Median ms per operation kind, and per timed part where operations record parts. */
    def msByKind: Map[String, Double] =
      (ok.map(d => d.kind -> d.wallNs / 1e6) ++ ok.flatMap(_.ctx.partsMs))
        .groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
    /** Median over cycles of the items a cycle processed per second of
      * its operations' wall time: like the latencies, a median, so one slow
      * cycle (the JIT still compiling, a GC) does not move it.
      */
    def itemsPerS: Double = {
      val perCycle = ok.groupBy(_.cycle).values.toSeq
        .map(ds => ds.map(_.out.items).sum / (ds.map(_.wallNs).sum / 1e9))
      if (perCycle.isEmpty) 0.0 else Stats.median(perCycle)
    }
  }

  def main(args: Array[String]): Unit = {
    val jvmStartS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dir = opt("dir")
    val cores = Runtime.getRuntime.availableProcessors()
    require(Workloads.Names.contains(name), s"unknown workload $name (known: ${Workloads.Names.mkString(", ")})")

    val calibStart = calibMs()
    val t0 = System.nanoTime()
    val spark = session(cores, dir)
    val t1 = System.nanoTime()
    val w = Workloads(name, seed)
    w.setup(spark, s"$dir/setup")
    val t2 = System.nanoTime()
    val warmOuts = w.warm()
    System.err.println(f"[perfbench] setup: JVM $jvmStartS%.2f s, session ${(t1 - t0) / 1e9}%.2f s, inputs ${(t2 - t1) / 1e9}%.2f s, warm ${Workloads.seconds(t2)}%.2f s")
    val setupS = jvmStartS + Workloads.seconds(t0)

    // One cycle of operations, untraced, or traced with `l` attached.
    final class Acc {
      val done = Vector.newBuilder[Done]
      val failed = Vector.newBuilder[String]
      var cachePeak = 0.0
      def result = Phase(done.result(), failed.result(), cachePeak)
    }
    def runCycle(cycle: Int, listener: Option[LayerListener], acc: Acc): Unit = {
      val tracer = new Tracer(listener.nonEmpty)
      listener.foreach { l =>
        spark.sparkContext.addSparkListener(l)
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        l.take()
      }
      for (op <- w.ops(cycle)) {
        val ctx = new OpCtx(tracer)
        val s = System.nanoTime()
        try {
          val out = tracer.span("op")(op.run(ctx))
          val wall = System.nanoTime() - s
          val counters = listener.fold(Counters()) { l =>
            org.apache.spark.BenchBus.drain(spark.sparkContext)
            l.take()
          }
          System.err.println(f"[perfbench] op ${op.kind} ${wall / 1e6}%.1f ms")
          out.problem.foreach(p => System.err.println(s"[perfbench] check failed: ${op.kind}: $p"))
          acc.done += Done(cycle, op.kind, wall, out, tracer.drain(), counters, ctx)
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] operation failed: ${op.kind}: $e")
            acc.failed += s"${op.kind}: $e"
            tracer.drain()
            listener.foreach(_.take())
        }
        acc.cachePeak = math.max(acc.cachePeak, cachedMb(spark))
      }
      listener.foreach(spark.sparkContext.removeSparkListener)
    }

    // Whole cycles, as many as come nearest to `seconds` (at least one).
    // Traced, twice as many, alternating untraced and traced, so both
    // halves see the same warm-up and machine load.
    val plainAcc = new Acc
    val tracedAcc = new Acc
    val listener = new LayerListener
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    val gc0 = gcMs()
    val target = if (trace) 2 * seconds else seconds
    val timedT0 = System.nanoTime()
    var cycle = 0
    var cycleS = 0.0
    while (cycle < (if (trace) 2 else 1) || Workloads.seconds(timedT0) + cycleS / 2 < target) {
      val c0 = System.nanoTime()
      if (trace && cycle % 2 == 1) runCycle(cycle, Some(listener), tracedAcc) else runCycle(cycle, None, plainAcc)
      cycle += 1
      cycleS = Workloads.seconds(c0)
    }
    val plain = plainAcc.result
    val traced = if (!trace) None else {
      val gc = gcMs() - gc0
      val heapPeakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      Some((tracedAcc.result, heapPeakMb, gc, w.diagnostics()))
    }
    val calibEnd = calibMs()
    w.close()

    val phases = plain +: traced.map(_._1).toSeq
    val warmProblems = warmOuts.flatMap(_.problem)
    warmProblems.foreach(p => System.err.println(s"[perfbench] check failed in a warm pass: $p"))
    // warm operations are attempted operations too; they are only not timed
    val attempted = phases.map(_.attempted).sum + warmOuts.length
    val failedN = phases.map(_.nFailed).sum + warmProblems.length
    val env = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores, "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "inputs" -> w.inputs, "jvm_start_s" -> jvmStartS,
      "host_calib_ms" -> Seq(calibStart, calibEnd), "op_ms_by_kind" -> plain.msByKind,
      "failures" -> (warmProblems ++ phases.flatMap(p => p.failed ++ p.done.flatMap(_.out.problem))).take(20),
      // traced operations whose span self times do not sum to the root span
      "span_sum_mismatches" -> traced.map(_._1.done.count { d =>
        d.spans.find(_.parent == -1).exists(r => Trace.selfTimes(d.spans).values.sum != r.durNs)
      }))
    val report = namedMetrics(name, plain, setupS, attempted, failedN)
    val layers = traced.map { case (p, heapPeakMb, gc, diag) =>
        layerMetrics(p, w, diag) ++ Map(
          "jvm.heap_peak_mb" -> (heapPeakMb, "MB"),
          "jvm.gc_s" -> (gc / 1000.0 / math.max(1, p.done.length + plain.done.length), "s"),
          "host.calib_ms" -> ((calibStart + calibEnd) / 2, "ms"),
          "cache.mb_peak" -> (plain.cachePeakMb, "MB"),
          "trace.overhead_frac" -> {
            val base = plain.p50MsOf(w.headlineKind)
            (if (base > 0) p.p50MsOf(w.headlineKind) / base - 1 else 0.0, "frac")
          })
    }
    // run.py keeps the metrics BENCHMARK.json declares for the run's mode
    val metrics: Map[String, (Double, String)] = layers.getOrElse(Map(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (plain.p50MsOf(w.headlineKind), "ms"),
      "items_per_s" -> (plain.itemsPerS, "1/s")))
    def asJson(m: collection.Map[String, (Any, String)]) = m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    spark.stop()
    for ((k, v) <- report) System.err.println(s"[perfbench] $name $k = ${v._1} ${v._2}")
    println(Json.write(Map("env" -> env, "report" -> asJson(report.toMap), "layers" -> layers.map(asJson))))
    println(Json.write(Map("correct" -> (failedN == 0), "attempted" -> attempted, "failed" -> failedN, "metrics" -> asJson(metrics))))
  }

  /** The end-to-end metrics under the names each workload is described by. */
  def namedMetrics(name: String, p: Phase, setupS: Double, attempted: Int, failed: Int): Seq[(String, (Any, String))] = {
    def tail(pct: Double): Any = p.tailMs(pct).getOrElse(s"n/a (${p.ok.length} samples, need ${math.ceil(10 / (1 - pct / 100) - 1e-9).toInt})")
    val common = Seq(
      "setup_s" -> (setupS, "s"),
      "ops_failed_frac" -> (failed.toDouble / math.max(1, attempted), "frac"),
      "cached_mb_peak" -> (p.cachePeakMb, "MB"))
    val own = name match {
      case "monitor_batch" => Seq("points_per_s" -> (p.itemsPerS, "1/s"), "pass_p50_s" -> (p.p50Ms / 1000, "s"))
      case "monitor_interactive" => Seq(
        "monitor_p50_ms" -> (p.p50MsOf(Some("monitor")), "ms"), "req_p50_ms" -> (p.p50Ms, "ms"),
        "req_p90_ms" -> (tail(90), "ms"), "req_per_s" -> (p.itemsPerS, "1/s"))
      case "monitor_stream" => Seq(
        "rows_per_s" -> (p.itemsPerS, "1/s"), "batch_p50_ms" -> (p.p50Ms, "ms"), "batch_p90_ms" -> (tail(90), "ms"))
      case "dedup_corpus" => Seq("docs_per_s" -> (p.itemsPerS, "1/s"), "pass_p50_s" -> (p.p50Ms / 1000, "s"))
    }
    own ++ common :+ ("ops_timed" -> (p.ok.length, "count"))
  }

  /** Per-layer metrics from the traced phase: per operation unless the
    * name says otherwise; 0 where the workload does not use the layer.
    */
  def layerMetrics(p: Phase, w: Workload, diag: Map[String, Double]): Map[String, (Double, String)] = {
    val ops = p.ok
    val n = math.max(1, ops.length).toDouble
    def perOp(f: Done => Double): Double = ops.map(f).sum / n
    def spanMs(d: Done, name: String, self: Boolean): Double = {
      val st = Trace.selfTimes(d.spans)
      d.spans.filter(_.name == name).map(s => if (self) st(s.id) else s.durNs).sum / 1e6
    }
    def prog(d: Done, k: String): Double = d.ctx.progress.map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)).sum
    val c = ops.map(_.counters)
    val jobs = c.map(_.jobs).sum
    val stages = c.map(_.stages).sum
    val tasks = c.flatMap(_.taskMs)
    val runMs = c.map(_.runMs).sum
    val wallMs = ops.map(_.wallNs).sum / 1e6
    val results = ops.map(_.out.rows).sum
    // state operators of each query's last micro-batch (streaming only)
    val lastState = ops.lastOption.toSeq
      .flatMap(_.ctx.progress.groupBy(_.name).values.map(_.maxBy(_.batchId)))
      .flatMap(_.stateOperators.toSeq)
    val liveKeys = w.inputs.get("live_keys").map(_.toString.toDouble).getOrElse(0.0)
    val layer = Map(
      "client.build_ms" -> (perOp(spanMs(_, "client.build", self = true)), "ms"),
      "catalyst.plan_ms" -> (perOp(d => spanMs(d, "catalyst.plan", self = false) + prog(d, "queryPlanning")), "ms"),
      "catalyst.analysis_ms" -> (perOp(_.ctx.analysisMs), "ms"),
      "catalyst.optimization_ms" -> (perOp(_.ctx.optimizationMs), "ms"),
      "catalyst.planning_ms" -> (perOp(_.ctx.planningMs), "ms"),
      "sched.jobs_per_op" -> (jobs / n, "count"),
      "sched.stages_per_op" -> (stages / n, "count"),
      "sched.tasks_per_op" -> (tasks.length / n, "count"),
      "sched.tasks_per_stage" -> (if (stages > 0) tasks.length.toDouble / stages else 0.0, "count"),
      "sched.job_ms" -> (if (jobs > 0) ops.map(d => Trace.unionNs(d.counters.jobIntervalsNs) / 1e6).sum / jobs else 0.0, "ms"),
      "sched.gap_ms" -> (perOp { d =>
        d.spans.find(_.parent == -1).map(r => Trace.gapNs(d.spans, r, d.counters.jobIntervalsNs) / 1e6).getOrElse(0.0)
      }, "ms"),
      "sources.scan_rows" -> (c.map(_.inRows).sum / n, "count"),
      "sources.scan_mb" -> (c.map(_.inBytes).sum / n / 1048576, "MB"),
      "sources.rows_per_result" -> (if (results > 0) c.map(_.inRows).sum.toDouble / results else 0.0, "ratio"),
      "exec.task_s" -> (runMs / 1000 / n, "s"),
      "exec.cpu_s" -> (c.map(_.cpuMs).sum / 1000 / n, "s"),
      "exec.gc_s" -> (c.map(_.gcMs).sum / 1000 / n, "s"),
      "exec.busy_cores" -> (if (wallMs > 0) runMs / wallMs else 0.0, "cores"),
      "exec.shuffle_write_mb" -> (c.map(_.shuffleWriteB).sum / n / 1048576, "MB"),
      "exec.shuffle_read_mb" -> (c.map(_.shuffleReadB).sum / n / 1048576, "MB"),
      "exec.spill_mb" -> (c.map(_.spillB).sum / n / 1048576, "MB"),
      "exec.task_p50_ms" -> (if (tasks.nonEmpty) Stats.median(tasks) else 0.0, "ms"),
      "exec.task_max_ms" -> (if (tasks.nonEmpty) tasks.max else 0.0, "ms"),
      "exec.skew" -> {
        val sk = c.flatMap(_.stageSkews)
        (if (sk.nonEmpty) Stats.median(sk) else 0.0, "ratio")
      },
      "stream.add_batch_ms" -> (perOp(prog(_, "addBatch")), "ms"),
      "stream.get_batch_ms" -> (perOp(prog(_, "getBatch")), "ms"),
      "stream.query_planning_ms" -> (perOp(prog(_, "queryPlanning")), "ms"),
      "stream.wal_commit_ms" -> (perOp(prog(_, "walCommit")), "ms"),
      "state.rows_total" -> (lastState.map(_.numRowsTotal).sum.toDouble, "count"),
      "state.memory_mb" -> (lastState.map(_.memoryUsedBytes).sum / 1048576.0, "MB"),
      "state.commit_ms" -> (perOp(_.ctx.progress.flatMap(_.stateOperators.toSeq).map(_.commitTimeMs).sum.toDouble), "ms"),
      "state.rows_per_live_key" -> (if (liveKeys > 0 && lastState.nonEmpty) lastState.map(_.numRowsTotal).sum / liveKeys / lastState.length else 0.0, "count"))
    val units = Map(
      "ts.self_s" -> "s", "detect.score_self_s" -> "s", "detect.windows_self_s" -> "s", "detect.metadata_s" -> "s",
      "ext.signature_s" -> "s", "ext.ppjoin.candidates" -> "count", "ext.ppjoin.verified" -> "count",
      "ext.lsh.candidates" -> "count", "ext.lsh.verified" -> "count", "ext.verify_yield" -> "ratio")
    layer ++ units.map { case (k, u) => k -> (diag.getOrElse(k, 0.0), u) }
  }

  def session(cores: Int, dir: String): SparkSession = {
    val s = graft.Sessions.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** MB of persisted RDD blocks (memory and disk) held right now. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  /** Fixed CPU work (xorshift steps), timed: shows machine load. */
  def calibMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1 }
    if (acc == 42) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }
}

/** JSON for the result lines: Jackson with its Scala module, from Spark's jars. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
