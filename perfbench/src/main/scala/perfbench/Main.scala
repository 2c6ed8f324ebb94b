package perfbench

import java.io.File

import scala.collection.mutable

import graft.Sessions
import graft.store.OnlineFeatureStore
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Prints one JSON object as the last stdout line:
  * the end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. Workload shapes, metric meanings and the per-layer map are
  * documented in METRICS.md beside this benchmark.
  */
object Main {

  val Workloads: Map[String, Shape] = Map(
    "stream_ref_rate" -> Shape(rate = 1000, cards = 10000, historyTxns = 100000L),
    "stream_high_rate" -> Shape(rate = 10000, cards = 100000, historyTxns = 100000L))

  /** Batch pre-builds per run, over one cached history. Set-up time counts
    * the median of them. Batch throughput is read from the nearest-rank
    * median (for two, the shorter) of the last [[ThroughputPasses]]: the job
    * keeps getting faster over the first few passes as the JIT settles.
    */
  val SetupPasses = 4
  val ThroughputPasses = 2
  /** The stream's first seconds, before its measured window: long enough for
    * the JIT to settle and for the 10-minute window (ten wall seconds at the
    * replay speed) to fill the state.
    */
  val WarmSeconds = 10
  val DrainCapS = 60
  val BaselineDrainCapS = 5
  /** The single-threaded baseline measures this many seconds after its warm-up. */
  val BaselineSeconds = 6

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      launchMs: Long,
      workDir: File,
      traceFile: File)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      need("workload"),
      need("seed").toLong,
      need("seconds").toInt,
      need("trace") == "1",
      need("launch-ms").toLong,
      new File(need("work-dir")),
      new File(need("trace-file")))
  }

  /** End-to-end figures of one run of the pipeline. */
  final case class EndToEnd(
      batchRowsPerS: Double,
      freshP50Ms: Double,
      freshP99Ms: Double,
      scoreP50Us: Double,
      scoreP99Us: Double)

  /** End-to-end figures over the measured window; an invisible event counts
    * as infinitely stale.
    */
  private def endToEnd(histRows: Long, jobS: Seq[Double], p: Pipeline.StreamPass) = {
    val fresh = p.measured(p.freshMs).map(x => if (x.isNaN) Double.MaxValue else x)
    val score = p.measured(p.scoreUs)
    EndToEnd(
      histRows / Stats.median(jobS),
      Stats.median(fresh),
      Stats.quantile(fresh, 0.99),
      Stats.median(score),
      Stats.quantile(score, 0.99))
  }

  private final class Ops {
    var attempted = 0L
    var failed = 0L
    def add(a: Long, f: Long): Unit = { attempted += a; failed += f }
    def add(p: Pipeline.StreamPass): Unit = add(p.attempted, p.failed)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val shape = Workloads.getOrElse(o.workload, sys.error(s"unknown workload ${o.workload}"))
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = Sessions.local(cpus.toString)
    val sessionS = (System.currentTimeMillis() - o.launchMs) / 1000.0
    val ops = new Ops
    val warmN = shape.rate * WarmSeconds
    val measuredN = shape.rate * o.seconds
    def path(name: String) = new File(o.workDir, name).getPath

    // Set-up: generate and cache the history, then pre-build the batch store
    // from it several times.
    val history = Pipeline.history(spark, shape, o.seed)
    val builds = (1 to SetupPasses).map(k => Pipeline.preBuild(spark, history.df, path(s"training-$k.csv"), None))
    val batchStore = builds.last._1
    val jobS = builds.map(_._2)
    val (keys, wrongKeys) = Pipeline.checkBatchStore(spark, history.df, batchStore)
    ops.add(keys, wrongKeys)
    // a traced run pre-builds once more from the same cached history
    if (!o.trace) history.df.unpersist(blocking = true)
    val g0 = System.nanoTime()
    val events = Pipeline.streamEvents(spark, shape, o.seed, warmN + measuredN)
    val setupS = sessionS + history.genS + Stats.median(jobS) + (System.nanoTime() - g0) / 1e9

    val pass = Pipeline.streamPass(spark, events, warmN, shape, batchStore, path("ckpt"), DrainCapS, true, None)
    ops.add(pass)
    val untraced = endToEnd(history.rows, jobS.takeRight(ThroughputPasses), pass)
    System.err.println(
      f"[perfbench] ${o.workload} seed=${o.seed}: setup ${setupS}%.2f s, batch ${untraced.batchRowsPerS}%.0f rows/s, " +
        f"fresh p50/p99 ${untraced.freshP50Ms}%.1f/${untraced.freshP99Ms}%.1f ms, " +
        f"score p50/p99 ${untraced.scoreP50Us}%.1f/${untraced.scoreP99Us}%.1f us, failed ${ops.failed}/${ops.attempted}, " +
        f"history gen ${history.genS}%.2f s, batch jobs ${jobS.map(t => f"$t%.2f").mkString(" ")} s")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace)
        Seq(
          ("setup_s", setupS, "s"),
          ("freshness_p50_ms", untraced.freshP50Ms, "ms"),
          ("freshness_p99_ms", untraced.freshP99Ms, "ms"),
          ("score_p50_us", untraced.scoreP50Us, "us"),
          ("peak_rss_mb", Stats.peakRssMb(), "MB"))
      else {
        val tracer = new Tracer(s"${o.workload}-seed${o.seed}")
        val (layers, tracedStore) = tracedPass(spark, shape, o, history, events, tracer, untraced, ops)
        val gates = gatePass(spark, o, tracer, ops)
        spark.stop()
        val baseline = baselinePass(shape, o, events, tracedStore, tracer)
        tracer.write(o.traceFile)
        layers ++ gates ++ baseline
      }
    if (!o.trace) spark.stop()

    val body = metrics
      .map { case (name, v, unit) => s""""$name": {"value": ${Json.number(v)}, "unit": "$unit"}""" }
      .mkString(", ")
    println(s"""{"correct": ${ops.failed == 0}, "attempted": ${ops.attempted}, "failed": ${ops.failed}, "metrics": {$body}}""")
  }

  /** The engine metrics the listeners saw in one traced phase. */
  private def engine(scope: String, st: PhaseStats): Seq[(String, Double, String)] =
    Seq(
      (s"$scope.spark.jobs", st.jobs.toDouble, "count"),
      (s"$scope.spark.stages", st.stages.toDouble, "count"),
      (s"$scope.spark.tasks", st.taskMs.size.toDouble, "count"),
      (s"$scope.spark.task_ms_sum", st.taskMs.sum.toDouble, "ms"),
      (s"$scope.spark.task_ms_p50", Stats.median(st.taskMs.map(_.toDouble)), "ms"),
      (s"$scope.spark.task_ms_max", (0L +: st.taskMs.toSeq).max.toDouble, "ms"),
      (s"$scope.spark.gc_ms", st.gcMs.toDouble, "ms"),
      (s"$scope.spark.shuffle_write_bytes", st.shuffleWriteBytes.toDouble, "bytes"),
      (s"$scope.spark.shuffle_read_bytes", st.shuffleReadBytes.toDouble, "bytes"),
      (s"$scope.spark.spill_bytes", st.spillBytes.toDouble, "bytes"),
      (s"$scope.catalyst.plan_ms", st.planMs.toDouble, "ms")) ++
      st.execMetrics.toSeq.sortBy(_._1).map { case (k, v) =>
        (s"$scope.$k", v, if (k.endsWith("_bytes")) "bytes" else "ms")
      }

  /** The gate subset, once, over a freshly generated corpus. Each gate is
    * one op; a gate that throws or whose fingerprint differs from the
    * recorded one fails.
    */
  private def gatePass(spark: SparkSession, o: Opts, tracer: Tracer, ops: Ops): Seq[(String, Double, String)] = {
    val sc = spark.sparkContext
    val probes = Probes.setup(spark, tracer)
    val dir = new File(o.workDir, "corpus").getPath
    val genS = tracer.span(sc, "datagen.ScaleGen")(Gates.writeCorpus(spark, dir))
    ListenerBusDrain(sc)
    val build, exec = new PhaseStats
    val runs = tracer.span(sc, "queries.pass")(Gates.run(spark, dir, o.seed, probes, build, exec, tracer))
    val wrong = runs.filter(_.wrong)
    wrong.foreach { r =>
      System.err.println(s"[perfbench] gate ${r.name}: expected ${Gates.Expected.getOrElse(r.name, "-")}, got ${r.result.merge}")
    }
    ops.add(runs.size.toLong, wrong.size.toLong)
    val both = new PhaseStats
    both += build
    both += exec
    engine("gates", both) ++ Seq(
      ("gates.datagen_s", genS, "s"),
      ("queries.gates_total_s", runs.map(_.totalS).sum, "s"),
      ("queries.build_s", runs.map(_.buildS).sum, "s"),
      ("queries.exec_s", runs.map(_.execS).sum, "s"),
      ("queries.builder_jobs", build.jobs.toDouble, "count"),
      ("queries.exec_jobs", exec.jobs.toDouble, "count"),
      ("Tables.load_jobs", both.jobsOf("Tables.scala").toDouble, "count"),
      ("Tables.load_ms", both.jobMsOf("Tables.scala").toDouble, "ms"),
      ("sources.Snapshots.jobs", both.jobsOf("Snapshots.scala").toDouble, "count"),
      ("sources.Snapshots.job_ms", both.jobMsOf("Snapshots.scala").toDouble, "ms")) ++
      runs.groupBy(_.family).toSeq.sortBy(_._1).map { case (f, rs) => (s"queries.${f}_s", rs.map(_.totalS).sum, "s") }
  }

  /** The per-layer run: one batch pre-build over the set-up's history and
    * one stream pass, with the listeners installed and spans recorded, plus
    * the tracing overhead as traced minus untraced end-to-end values.
    */
  private def tracedPass(
      spark: SparkSession,
      shape: Shape,
      o: Opts,
      history: Pipeline.History,
      events: Array[graft.streaming.StreamingAgg.StreamEvent],
      tracer: Tracer,
      untraced: EndToEnd,
      ops: Ops): (Seq[(String, Double, String)], OnlineFeatureStore) = {
    val sc = spark.sparkContext
    val probes = Probes.setup(spark, tracer)
    val batchStats, streamStats = new PhaseStats
    def path(name: String) = new File(o.workDir, name).getPath

    probes.phase = batchStats
    val (batchStore, jobS) = Pipeline.preBuild(spark, history.df, path("training-traced.csv"), Some(tracer))
    ListenerBusDrain(sc)
    probes.phase = null
    val (keys, wrongKeys) = Pipeline.checkBatchStore(spark, history.df, batchStore)
    ops.add(keys, wrongKeys)
    history.df.unpersist(blocking = true)

    ListenerBusDrain(sc)
    val warmN = shape.rate * WarmSeconds
    val s = tracer.span(sc, "stream.pass") {
      Pipeline.streamPass(
        spark, events, warmN, shape, batchStore, path("ckpt-traced"), DrainCapS, false, Some(tracer),
        () => probes.phase = streamStats)
    }
    ListenerBusDrain(sc)
    probes.phase = null
    ops.add(s)
    val traced = endToEnd(history.rows, Seq(jobS), s)

    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    out ++= engine("batch", batchStats) ++ engine("stream", streamStats)
    out ++= Seq(
      ("batch.rows_per_s", untraced.batchRowsPerS, "1/s"),
      ("batch.datagen_s", history.genS, "s"),
      ("operators.FeatureAggJob.run_s", jobS, "s"),
      ("sources.Csv.jobs", batchStats.jobsOf("Csv.scala").toDouble, "count"),
      ("sources.Csv.job_ms", batchStats.jobMsOf("Csv.scala").toDouble, "ms"),
      ("store.OnlineFeatureStore.jobs", batchStats.jobsOf("OnlineFeatureStore.scala").toDouble, "count"),
      ("store.OnlineFeatureStore.job_ms", batchStats.jobMsOf("OnlineFeatureStore.scala").toDouble, "ms"))

    val progress = streamStats.progress.toSeq.filter { p =>
      p.numInputRows > 0 && java.time.Instant.parse(p.timestamp).toEpochMilli >= s.windowStartMs
    }
    def phaseMs(key: String) = progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0))
    val state = progress.flatMap(_.stateOperators.headOption)
    val lastState = state.lastOption
    out ++= Seq(
      ("stream.batches", progress.size.toDouble, "count"),
      ("stream.batch_rows_p50", Stats.median(progress.map(_.numInputRows.toDouble)), "count"),
      ("stream.trigger_ms_p50", Stats.median(phaseMs("triggerExecution")), "ms"),
      ("stream.trigger_ms_p99", Stats.quantile(phaseMs("triggerExecution"), 0.99), "ms"),
      ("stream.add_batch_ms_p50", Stats.median(phaseMs("addBatch")), "ms"),
      ("stream.planning_ms_p50", Stats.median(phaseMs("queryPlanning")), "ms"),
      ("stream.wal_commit_ms_p50", Stats.median(phaseMs("walCommit")), "ms"),
      ("stream.offset_commit_ms_p50", Stats.median(phaseMs("commitOffsets")), "ms"),
      ("stream.backlog_max", s.backlogMax.toDouble, "count"),
      ("state.partitions", lastState.map(_.numShufflePartitions.toDouble).getOrElse(0.0), "count"),
      ("state.rows_total", lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      ("state.memory_bytes", lastState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      ("state.commit_ms_p50", Stats.median(state.map(_.commitTimeMs.toDouble)), "ms"),
      ("state.updates_ms_p50", Stats.median(state.map(_.allUpdatesTimeMs.toDouble)), "ms"),
      ("sink.batch_ms_p50", Stats.median(s.sinkBatchMs), "ms"),
      ("sink.collect_ms_p50", Stats.median(s.sinkCollectMs), "ms"),
      ("store.upsert_ms_p50", Stats.median(s.upsertMs), "ms"),
      ("store.records", s.storeRecords.toDouble, "count"),
      ("serve.score_p99_us", traced.scoreP99Us, "us"),
      ("serve.service_us_p50", Stats.median(s.measured(s.serviceUs)), "us"),
      ("serve.service_us_p99", Stats.quantile(s.measured(s.serviceUs), 0.99), "us"),
      ("serve.scored_share", s.scored.toDouble / (s.n - s.windowStart), "ratio"),
      ("serve.fresh_share", s.fresh.toDouble / (s.n - s.windowStart), "ratio"),
      ("gen.late_ms_p99", Stats.quantile(s.measured(s.lateMs), 0.99), "ms"),
      ("trace_overhead.batch_rows_per_s", traced.batchRowsPerS - untraced.batchRowsPerS, "1/s"),
      ("trace_overhead.freshness_p50_ms", traced.freshP50Ms - untraced.freshP50Ms, "ms"),
      ("trace_overhead.freshness_p99_ms", traced.freshP99Ms - untraced.freshP99Ms, "ms"),
      ("trace_overhead.score_p50_us", traced.scoreP50Us - untraced.scoreP50Us, "us"),
      ("trace_overhead.score_p99_us", traced.scoreP99Us - untraced.scoreP99Us, "us"))
    (out.toSeq, batchStore)
  }

  /** The same stream on a one-core session, scored against the batch store
    * the traced pre-build filled: the single-threaded baseline. Its events
    * are not counted as ops; it is published in the trace only.
    */
  private def baselinePass(
      shape: Shape,
      o: Opts,
      events: Array[graft.streaming.StreamingAgg.StreamEvent],
      batchStore: OnlineFeatureStore,
      tracer: Tracer) = {
    val spark = Sessions.local("1")
    try {
      Probes.setup(spark, tracer)
      val warmN = shape.rate * WarmSeconds
      val s = tracer.span(spark.sparkContext, "baseline_1cpu.stream.pass") {
        Pipeline.streamPass(
          spark, events.take(warmN + shape.rate * BaselineSeconds), warmN, shape, batchStore, new File(o.workDir, "ckpt-1cpu").getPath, BaselineDrainCapS,
          false, Some(tracer))
      }
      val fresh = s.measured(s.freshMs)
      Seq(
        ("baseline_1cpu.freshness_p50_ms", Stats.median(fresh.filterNot(_.isNaN)), "ms"),
        ("baseline_1cpu.freshness_p99_ms", Stats.quantile(fresh.filterNot(_.isNaN), 0.99), "ms"),
        ("baseline_1cpu.score_p99_us", Stats.quantile(s.measured(s.scoreUs), 0.99), "us"),
        ("baseline_1cpu.backlog_max", s.backlogMax.toDouble, "count"),
        ("baseline_1cpu.visible_share", fresh.count(!_.isNaN).toDouble / fresh.length, "ratio"))
    } finally spark.stop()
  }
}
