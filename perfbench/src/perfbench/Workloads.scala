package perfbench

import graft.client.Graft
import graft.config.{DetectorConfig, TsQueryConfig}
import graft.detect.Detectors
import graft.ext.Dedup
import graft.model.TsSample
import graft.streaming.MonitorStream
import graft.ts.{TsAlgebra, TsCols}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.SplittableRandom
import scala.collection.mutable

/** What one operation did: items processed, rows it returned, and the
  * problem its output check found (None = correct).
  */
final case class OpOut(items: Long, rows: Long, problem: Option[String])

/** Per-operation trace hooks. With tracing off they only run the body. */
final class OpCtx(val tracer: Tracer) {
  var analysisMs, optimizationMs, planningMs = 0.0
  /** Streaming progress of the operation's micro-batches (stream workload). */
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  /** Wall ms of named parts of the operation (`part`), traced or not. */
  val partsMs = mutable.ArrayBuffer.empty[(String, Double)]

  def build[T](body: => T): T = tracer.span("client.build")(body)

  def part[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally partsMs += name -> (System.nanoTime() - t0) / 1e6
  }

  /** Plan `df` (a traced step of its own) and run `action` on it. The
    * action must reuse `df`'s QueryExecution (collect does), so the plan
    * is not made twice.
    */
  def run[T](df: DataFrame)(action: DataFrame => T): T = {
    if (tracer.enabled) {
      tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
      addPhases(df.queryExecution)
    }
    tracer.span("exec.run")(action(df))
  }

  def addPhases(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
    val ph = qe.tracker.phases
    analysisMs += ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
    optimizationMs += ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
    planningMs += ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
  }
}

final case class Op(kind: String, run: OpCtx => OpOut)

/** One benchmark workload. `setup` generates the inputs from the seed into
  * `dir` and prepares the session; `warm` runs the warm pass, whose
  * outputs are checked like any other; `ops(i)` is the i-th cycle of
  * operations (the timed phase runs whole cycles, so every run has the
  * same mix); `diagnostics` runs the traced-only prefix and funnel
  * measurements.
  */
trait Workload {
  def name: String
  def inputs: Map[String, Any]
  def setup(spark: SparkSession, dir: String): Unit
  def warm(): Seq[OpOut]
  def ops(cycle: Int): Seq[Op]
  /** The operation kind whose median is `op_p50_ms`; None = every operation. */
  def headlineKind: Option[String] = None
  def diagnostics(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Workloads {
  val Names: Seq[String] = Seq("monitor_batch", "monitor_interactive", "monitor_stream", "dedup_corpus")

  def apply(name: String, seed: Long): Workload = name match {
    case "monitor_batch" => new MonitorBatch(seed)
    case "monitor_interactive" => new MonitorInteractive(seed)
    case "monitor_stream" => new MonitorStreamLoad(seed)
    case "dedup_corpus" => new DedupCorpus(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other (known: ${Names.mkString(", ")})")
  }

  val Cols: TsCols = TsCols(key = "key", ts = "ts_ms", value = "value")

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Write the generated series for keys [0, keys) as parquet, computed
    * on the executors from the seed. Each partition holds a contiguous key
    * range in (key, ts) order, so the files are clustered by key;
    * `rowGroupBytes` set small lets a key filter skip most row groups.
    */
  def writeSeries(spark: SparkSession, seed: Long, keys: Int, n: Int, path: String, rowGroupBytes: Option[Int]): Unit = {
    import spark.implicits._
    val rows = spark.sparkContext.parallelize(0 until keys, spark.sparkContext.defaultParallelism).flatMap { k =>
      val s = Gen.series(seed, k, n)
      Iterator.tabulate(n)(i => (s.key, s.tsMs(i), s.values(i)))
    }.toDF("key", "ts_ms", "value")
    rowGroupBytes.foldLeft(rows.write)((w, b) => w.option("parquet.block.size", b.toLong))
      .mode("overwrite").parquet(path)
  }

  /** The `Graft.monitor` pipeline cut after each stage, each prefix
    * materialised on its own; differences of the prefix times are the
    * stages' self times (ts, score, windows, metadata), in seconds. It
    * composes the same public functions in the same order as
    * `Graft.monitor` without baseline or refinement.
    */
  def prefixTimes(df: DataFrame, tsCfg: TsQueryConfig, cfg: DetectorConfig): Map[String, Double] = {
    val spark = df.sparkSession
    import spark.implicits._
    val c = Cols
    // every prefix goes to the same sink, so the sink's cost cancels out
    def timed(d: DataFrame): Double = {
      val t0 = System.nanoTime()
      d.write.format("noop").mode("overwrite").save()
      seconds(t0)
    }
    val points = Detectors.minPointsGuard(
      TsAlgebra.query(df, tsCfg, c).select(
        col(c.key).cast("string").as("seriesKey"),
        col(c.ts).cast("long").as("tsMs"),
        col(c.value).cast("double").as("value")).as[TsSample]).as[TsSample]
    val t1 = timed(points.toDF())
    val scores = Detectors.score(points, cfg)
    val t2 = timed(scores)
    val wins = Detectors.anomalies(Detectors.withThreshold(scores, cfg))
    val t3 = timed(wins)
    val t4 = timed(Detectors.metadata(points, wins, cfg.algorithmName))
    Map("ts.self_s" -> t1, "detect.score_self_s" -> (t2 - t1),
      "detect.windows_self_s" -> (t3 - t2), "detect.metadata_s" -> (t4 - t3))
  }

  def noTrace: OpCtx = new OpCtx(new Tracer(false))

  def meanOf(xs: Seq[Map[String, Double]]): Map[String, Double] =
    if (xs.isEmpty) Map.empty
    else xs.flatMap(_.keys).distinct.map(k => k -> xs.map(_.getOrElse(k, 0.0)).sum / xs.length).toMap
}

import Workloads._

/** Whole-table `Graft.monitor` passes over a generated parquet table, one
  * per detector config; all three facets materialised. One operation is
  * the whole cycle of configs, so its time moves with any config's cost.
  */
final class MonitorBatch(seed: Long) extends Workload {
  val name = "monitor_batch"
  val keys = 120
  val points = 1500
  val WarmKeys = 8
  // one config per kernel family: a derivative fold, the CUSUM fold over
  // per-series stats, and the SAX bitmap kernel. exp_avg runs in
  // monitor_interactive and monitor_stream; default_detector (exp_avg plus
  // derivative) and holt_winters_seasonal are left out to fit the
  // benchmark's time budget.
  val configs: Seq[DetectorConfig] = Seq("derivative_detector", "cusum_detector", "bitmap_detector")
    .map(a => DetectorConfig(algorithmName = a))
  def inputs: Map[String, Any] = Map("series" -> keys, "points_per_series" -> points, "points" -> keys.toLong * points)

  private var table: DataFrame = _
  private var warmTable: DataFrame = _
  private lazy val series = (0 until keys).map(Gen.series(seed, _, points))
  private val warmKeys = (0 until WarmKeys).map(Gen.key).toSet
  // anomaly counts per config: on the warm table, and of the first pass
  // over the main table
  private val warmCounts = mutable.Map.empty[String, Long]
  private val firstCounts = mutable.Map.empty[String, Long]

  /** The main table, and as the warm table its first `WarmKeys` series
    * alone (the same rows: a series is a function of seed and key).
    */
  def setup(spark: SparkSession, dir: String): Unit = {
    writeSeries(spark, seed, keys, points, s"$dir/series", rowGroupBytes = None)
    table = spark.read.parquet(s"$dir/series")
    writeSeries(spark, seed, WarmKeys, points, s"$dir/warm", rowGroupBytes = None)
    warmTable = spark.read.parquet(s"$dir/warm")
  }

  /** Every config once over the warm table: the plans and kernels of all
    * three are compiled before anything is timed.
    */
  def warm(): Seq[OpOut] = configs.map(c => pass(warmTable, WarmKeys, main = false, c)(noTrace))

  def ops(cycle: Int): Seq[Op] = Seq(Op("cycle", { ctx =>
    val outs = configs.map(c => ctx.part(c.algorithmName)(pass(table, keys, main = true, c)(ctx)))
    OpOut(outs.map(_.items).sum, outs.map(_.rows).sum, outs.flatMap(_.problem).headOption)
  }))

  /** One whole-table pass. The detectors score each series on its own, so
    * a main-table pass must report as many anomalies on the warm table's
    * series as the warm pass did, and as many in all as the first
    * main-table pass of the config.
    */
  private def pass(df: DataFrame, nKeys: Int, main: Boolean, cfg: DetectorConfig)(ctx: OpCtx): OpOut = {
    val algo = cfg.algorithmName
    val n = nKeys.toLong * points
    val res = ctx.build(Graft.monitor(df, Cols, TsQueryConfig(), cfg))
    val scored = ctx.run(res.scores.agg(count(lit(1)), sum("score")))(_.collect())(0).getLong(0)
    val wins = ctx.run(res.anomalies)(_.collect())
    val meta = ctx.run(res.metadata)(_.collect())
    val analyzed = meta.map(_.getAs[Long]("dataPointsAnalyzed")).sum
    val onWarmKeys = wins.count(r => warmKeys(r.getString(0))).toLong
    if (!main) warmCounts(algo) = onWarmKeys
    val repeats =
      if (!main) None
      else warmCounts.get(algo).flatMap(Checks.repeats(s"$algo on the warm table's series", _, onWarmKeys))
        .orElse(Checks.repeats(algo, firstCounts.getOrElseUpdate(algo, wins.length.toLong), wins.length.toLong))
    val problem = Checks.equalCount(s"$algo scored points", n, scored)
      .orElse(Checks.equalCount(s"$algo points analyzed", n, analyzed))
      .orElse(repeats)
      .orElse(
        if (!main || algo != "derivative_detector") None
        else Checks.spikesCovered(series, wins.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq))
    OpOut(n, scored + wins.length + meta.length, problem)
  }

  override def diagnostics(): Map[String, Double] =
    meanOf(configs.map(c => prefixTimes(table, TsQueryConfig(), c)))
}

/** The Potoos call shape: a closed loop, one client, one series key per
  * request over the key's whole range, keys drawn Zipf-skewed. Each cycle
  * holds one request of each kind: a `Graft.monitor` call, a bucketed
  * range query and a SQL detection. The order is fixed, because a request
  * that follows a monitor call pays part of that call's clean-up, and a
  * seeded order would make the latency of a kind depend on the seed.
  *
  * Sizes: 1,500 keys of 67 points, about the 100k-row `events` table at
  * sf0.1 (BASELINE.md) with the points per key a single-series monitor
  * saw on it. Not taken from any source, and so unverified choices: the
  * equal share of the kinds, the Zipf exponent 1.1 and the 15-minute
  * bucket.
  */
final class MonitorInteractive(seed: Long) extends Workload {
  val name = "monitor_interactive"
  val keys = 1500
  val points = 67
  val bucketMs: Long = 15 * Gen.StepMs
  def inputs: Map[String, Any] = Map("series" -> keys, "points_per_series" -> points, "points" -> keys.toLong * points)

  private var spark: SparkSession = _
  private var table: DataFrame = _
  private val zipf = new Gen.Zipf(keys)
  private val kinds = Seq("monitor", "range_agg", "sql_detect")
  // op_p50_ms follows the Potoos call, `Graft.monitor`; with equal shares
  // the median of all requests is one of the range queries
  override def headlineKind: Option[String] = Some("monitor")

  def setup(s: SparkSession, dir: String): Unit = {
    spark = s
    val path = s"$dir/series"
    writeSeries(spark, seed, keys, points, path, rowGroupBytes = Some(1 << 20))
    table = spark.read.parquet(path)
    table.createOrReplaceTempView("series")
    graft.functions.FoldTableFunctions.register(spark)
  }

  /** Every kind of request on the two hottest keys, and the monitor call,
    * whose driver code takes longest to warm up, on two more.
    */
  def warm(): Seq[OpOut] =
    (for {
      k <- Seq(0, 1)
      (kind, alt) <- Seq("monitor" -> false, "range_agg" -> false, "sql_detect" -> false, "sql_detect" -> true)
    } yield request(kind, k, alt)(noTrace)) ++ Seq(2, 3).map(k => request("monitor", k, alt = false)(noTrace))

  def ops(cycle: Int): Seq[Op] = {
    val r = new SplittableRandom(Gen.mix(seed, 1000L + cycle))
    kinds.map { kind =>
      val k = zipf.draw(r)
      val alt = r.nextBoolean()
      Op(kind, request(kind, k, alt))
    }
  }

  /** Request on key k; `alt` picks the SQL detector (esd_outliers instead
    * of exp_avg_fold).
    */
  private def request(kind: String, k: Int, alt: Boolean)(ctx: OpCtx): OpOut = {
    val key = Gen.key(k)
    val (fromMs, toMs) = (Gen.T0Ms, Gen.T0Ms + (points - 1) * Gen.StepMs)
    val expected = points.toLong
    kind match {
      case "monitor" =>
        val res = ctx.build(Graft.monitor(
          table.where(col("key") === key), Cols, TsQueryConfig(), DetectorConfig(algorithmName = "exp_avg_detector")))
        val scores = ctx.run(res.scores)(_.collect())
        val wins = ctx.run(res.anomalies)(_.collect())
        val meta = ctx.run(res.metadata)(_.collect())
        val analyzed = if (meta.length == 1) meta(0).getAs[Long]("dataPointsAnalyzed") else -1L
        OpOut(1, scores.length + wins.length + meta.length,
          Checks.equalCount(s"$key dataPointsAnalyzed", expected, analyzed)
            .orElse(Checks.equalCount(s"$key scored points", expected, scores.length)))
      case "range_agg" =>
        val df = ctx.build(TsAlgebra.query(
          table.where(col("key") === key),
          TsQueryConfig(aggregationType = Some("avg"), bucketSizeMs = Some(bucketMs)),
          Cols))
        val rows = ctx.run(df)(_.collect())
        val buckets = (0 until points).map(i => Math.floorDiv(Gen.T0Ms + i * Gen.StepMs, bucketMs)).distinct.length
        OpOut(1, rows.length, Checks.equalCount(s"$key buckets", buckets, rows.length))
      case "sql_detect" =>
        val df = ctx.build {
          spark.sql(s"SELECT key AS seriesKey, ts_ms AS tsMs, value FROM series WHERE key = '$key'")
            .createOrReplaceTempView("bench_key")
          spark.sql(if (alt) "SELECT * FROM esd_outliers('bench_key')" else "SELECT * FROM exp_avg_fold('bench_key')")
        }
        val rows = ctx.run(df)(_.collect())
        val problem =
          if (alt) {
            val bad = rows.count(r => r.getString(0) != key || r.getLong(1) < fromMs || r.getLong(1) > toMs)
            if (rows.length <= 3 && bad == 0) None
            else Some(s"$key esd_outliers: ${rows.length} rows, $bad outside the key or its range")
          } else Checks.equalCount(s"$key exp_avg_fold rows", expected, rows.length)
        OpOut(1, rows.length, problem)
    }
  }

  override def diagnostics(): Map[String, Double] = {
    val r = new SplittableRandom(Gen.mix(seed, 77L))
    meanOf(Seq.fill(6) {
      val k = zipf.draw(r)
      prefixTimes(table.where(col("key") === Gen.key(k)), TsQueryConfig(), DetectorConfig(algorithmName = "exp_avg_detector"))
    })
  }
}

/** The write path: fixed-size MemoryStream micro-batches over a fixed set
  * of live keys, with seeded duplicate and late events, feeding
  * `monitorStreamCfg` (derivative) and `cusumStream` as two queries of the
  * benchmark's own session. One operation = one batch, from `addData`
  * until both queries' `processAllAvailable` return.
  */
final class MonitorStreamLoad(seed: Long) extends Workload {
  val name = "monitor_stream"
  val keys = 200
  val perKey = 25
  val planted = 50
  def inputs: Map[String, Any] =
    Map("live_keys" -> keys, "rows_per_batch" -> (keys * perKey + 2 * planted), "planted_per_batch" -> 2 * planted)

  val streamCfg: DetectorConfig = DetectorConfig(algorithmName = "derivative_detector", scoreThreshold = Some(0.05))

  private var session: SparkSession = _
  private var mem: MemoryStream[TsSample] = _
  private var queries: Seq[StreamingQuery] = Nil
  private val emitted = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var batch = 0
  private val lastBatchId = mutable.Map.empty[String, Long].withDefaultValue(-1L)

  def setup(spark: SparkSession, dir: String): Unit = {
    session = spark
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    mem = MemoryStream[TsSample]
    val points = mem.toDS()
    // calibration input of cusumStream: the generator's own mean and sd
    val stats = (0 until keys).map(k => (Gen.key(k), 10.0 + k % 50, Gen.Noise)).toDF("seriesKey", "mu", "sd")
    val outs = Seq(
      "monitor" -> MonitorStream.monitorStreamCfg(points, streamCfg),
      "cusum" -> MonitorStream.cusumStream(points, stats).toDF())
    queries = outs.map { case (qn, df) =>
      df.writeStream
        .queryName(s"bench_$qn")
        .option("checkpointLocation", s"$dir/ckpt_$qn")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val n = b.count()
          emitted.synchronized(emitted(qn) += n)
        }
        .start()
    }
  }

  /** The first ten batches: query start-up, the first state commits, the
    * first planted duplicate and late events (from batch 2 on), and the
    * steepest part of the JIT warm-up (a batch takes 1.4 s at first and
    * 0.85 s after twenty).
    */
  def warm(): Seq[OpOut] = Seq.fill(10)(feed(noTrace))

  def ops(cycle: Int): Seq[Op] = Seq(Op("batch", feed))

  private def feed(ctx: OpCtx): OpOut = {
    val (events, extra) = Gen.streamBatch(seed, batch, keys, perKey, planted)
    batch += 1
    val before = emitted.synchronized(emitted.toMap)
    ctx.build(mem.addData(events.map(e => TsSample(Gen.key(e.k), e.tsMs, e.value))))
    ctx.tracer.span("exec.run")(queries.foreach(_.processAllAvailable()))
    val fresh = (events.length - extra).toLong
    val after = emitted.synchronized(emitted.toMap)
    for (q <- queries) {
      val ps = q.recentProgress.filter(p => p.batchId > lastBatchId(q.name))
      ps.foreach(p => lastBatchId(q.name) = math.max(lastBatchId(q.name), p.batchId))
      ctx.progress ++= ps
      if (ctx.tracer.enabled) q match {
        case w: StreamingQueryWrapper => Option(w.streamingQuery.lastExecution).foreach(ctx.addPhases)
        case _ =>
      }
    }
    val problem = queries.map(_.name.stripPrefix("bench_")).flatMap { qn =>
      Checks.equalCount(s"$qn emitted rows in batch ${batch - 1}", fresh, after.getOrElse(qn, 0L) - before.getOrElse(qn, 0L))
    }.headOption
    OpOut(events.length.toLong, after.values.sum - before.values.sum, problem)
  }

  /** The detector stages of the streamed monitor's config, run as a batch
    * `Graft.monitor` pipeline over the events of the last 20 batches fed
    * (a local relation, not a file scan). The batch pipeline has not run
    * in this JVM before, so the prefixes run twice and the second counts.
    */
  override def diagnostics(): Map[String, Double] = {
    val spark = session
    import spark.implicits._
    val events = (math.max(0, batch - 20) until batch).flatMap(b => Gen.streamBatch(seed, b, keys, perKey, planted)._1)
    val df = events.map(e => (Gen.key(e.k), e.tsMs, e.value)).toDF("key", "ts_ms", "value")
    Seq.fill(2)(prefixTimes(df, TsQueryConfig(), streamCfg)).last
  }

  override def close(): Unit = queries.foreach(_.stop())
}

/** Near-duplicate detection over a generated corpus with planted clusters:
  * one operation is a pass of the exact prefix-filter join followed by a
  * pass of MinHash-LSH.
  */
final class DedupCorpus(seed: Long) extends Workload {
  val name = "dedup_corpus"
  val clusters = 100
  val clusterSize = 4
  val background = 5600
  val docTokens = 60
  val edits = 2
  val n = 3
  val tau = 0.5
  def inputs: Map[String, Any] =
    Map("docs" -> (clusters * clusterSize + background), "planted_clusters" -> clusters, "cluster_size" -> clusterSize,
      "tokens_per_doc" -> docTokens)

  private var corpus: DataFrame = _
  private lazy val planted = {
    val (docs, groups) = Gen.corpus(seed, clusters, clusterSize, background, docTokens, edits)
    Checks.plantedPairs(docs.toMap, groups, n, tau)
  }

  def setup(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val path = s"$dir/corpus"
    Gen.corpus(seed, clusters, clusterSize, background, docTokens, edits)._1.toDF("id", "text")
      .repartition(spark.sparkContext.defaultParallelism).write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
    planted
  }

  /** Three operations. An operation's time keeps falling over its first
    * eight or so runs in a JVM while the driver's code is compiled; three
    * put the timed window past the steepest part of that.
    */
  def warm(): Seq[OpOut] = Seq.fill(3)(both(noTrace))

  def ops(cycle: Int): Seq[Op] = Seq(Op("cycle", both))

  /** One pass of each join, as one operation. */
  private def both(ctx: OpCtx): OpOut = {
    val outs = Seq(ctx.part("ppjoin")(ppjoin(ctx)), ctx.part("lsh")(lsh(ctx)))
    OpOut(outs.map(_.items).sum, outs.map(_.rows).sum, outs.flatMap(_.problem).headOption)
  }

  private def pairs(rows: Array[Row]): Seq[(Long, Long, Double)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  private def ppjoin(ctx: OpCtx): OpOut = {
    val got = ctx.build(Dedup.withPpjoinPairs(corpus, "id", "text", n, tau)(p => ctx.run(p)(_.collect())))
    OpOut(clusters * clusterSize + background, got.length, Checks.exactPairs(planted, pairs(got)))
  }

  private def lsh(ctx: OpCtx): OpOut = {
    val df = ctx.build(Dedup.minhashLshPairs(corpus, "id", "text", n, perms = 16, bands = 4, tau = tau))
    val got = ctx.run(df)(_.collect())
    OpOut(clusters * clusterSize + background, got.length, Checks.lshPairs(planted, pairs(got), tau))
  }

  override def diagnostics(): Map[String, Double] = {
    val t0 = System.nanoTime()
    Dedup.minhashSignatures(corpus, "id", "text", n, 16).agg(count(lit(1)), sum(size(col("sig")))).collect()
    val sig = seconds(t0)
    val pp = Dedup.ppjoinFunnel(corpus, "id", "text", n, tau)
    val lf = Dedup.minhashLshFunnel(corpus, "id", "text", n, 16, 4, tau)
    val cand = (pp("candidates") + lf("n_candidate_pairs")).toDouble
    Map(
      "ext.signature_s" -> sig,
      "ext.ppjoin.candidates" -> pp("candidates").toDouble,
      "ext.ppjoin.verified" -> pp("verified_pairs").toDouble,
      "ext.lsh.candidates" -> lf("n_candidate_pairs").toDouble,
      "ext.lsh.verified" -> lf("n_verified_pairs").toDouble,
      "ext.verify_yield" -> (if (cand > 0) (pp("verified_pairs") + lf("n_verified_pairs")) / cand else 0.0))
  }
}
