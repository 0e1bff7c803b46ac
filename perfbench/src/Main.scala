package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

import graft.BuildCache

/** One benchmark run in a fresh JVM (launched by `perfbench/run.py`).
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <corpus dir> <work dir> <registry.tsv> <result.json>
  *          <process start, epoch ms>
  *        graftbench.Main digest-dump <dump dir> <registry.tsv> <work dir>
  *
  * Writes one JSON object to <result.json>: the end-to-end metrics
  * (trace 0) or the per-layer metrics (trace 1), operation counts,
  * failures with their causes, and the host canary. */
object Main {
  /** Listener event times are whole milliseconds taken on another
    * thread; a job may be seen ending this much after its query. */
  val JobSlackMs = 20L

  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  /** The per-layer metrics and their units, in report order. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "SparkEntry.construct_s" -> "s", "Tables.build_s" -> "s", "Tables.build_job_s" -> "s",
    "Tables.builds" -> "count", "catalyst.plan_s" -> "s", "exec.action_s" -> "s",
    "unattributed_s" -> "s", "cache_peak_mb" -> "MB") ++
    Registry.Modules.map(m => s"$m.wall_s" -> "s") ++ Seq(
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.core_busy" -> "ratio", "exec.scan_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "sources.poll_ms" -> "ms", "streaming.plan_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "rows",
    "cdc.account_ms" -> "ms", "cdc.fanout_ms" -> "ms", "cdc.snapshot_ms" -> "ms",
    "batch.residue_ms" -> "ms", "drain.batches" -> "count", "drain.rows_per_batch" -> "rows",
    "drain.batch_ms" -> "ms", "drain.rows_per_s" -> "rows/s", "cdc.actions_per_batch" -> "count",
    "sink.files" -> "count", "sink.mb" -> "MB", "state.rows" -> "rows",
    "sources.backlog_max_rows" -> "rows", "gen.late_p99_ms" -> "ms",
    "canary.cpu_start_s" -> "s", "canary.cpu_end_s" -> "s",
    "canary.shuffle_start_s" -> "s", "canary.shuffle_end_s" -> "s", "canary.stalled" -> "flag",
    "traced.wall_s" -> "s", "traced.p50_ms" -> "ms", "traced.p99_ms" -> "ms")

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def warmUp(spark: SparkSession): Unit =
    spark.range(0, 100000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id % 97 AS k").groupBy("k").count().collect()

  /** Fixed host probes, run before and after the measured work: a
    * CPU loop on the calling thread and a small Spark shuffle. */
  def canary(spark: SparkSession): (Double, Double) = {
    val t0 = System.nanoTime()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var buf = new Array[Byte](1 << 16)
    var i = 0
    while (i < 3000) { md.update(buf); buf(i & 0xffff) = md.digest()(0); i += 1 }
    val t1 = System.nanoTime()
    spark.range(0, 2000000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id % 10007 AS k", "id").groupBy("k").agg(Map("id" -> "sum")).collect()
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    if (argv(0) == "digest-dump") { digestDump(argv); return }
    val Array(workload, seedS, secondsS, traceS, corpus, work, tsv, out, startMsS) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    require(Set("registry_cold", "change_feed")(workload), s"unknown workload $workload")
    System.setProperty("derby.stream.error.file", s"$work/derby.log")

    // ---- set-up: from process start (JVM boot, class loading) to the
    // first timed operation — session, one warm-up action and, for the
    // feed, the change table with the backlog committed
    val startMs = startMsS.toLong
    val bootS = (System.currentTimeMillis() - startMs) / 1e3
    val a = System.nanoTime()
    val spark = session(cores, work)
    val b = System.nanoTime()
    warmUp(spark)
    val c = System.nanoTime()
    val feedIn = if (workload == "change_feed") Feed.setup(spark, corpus, work, seed, seconds) else null
    val d = System.nanoTime()
    val setupS = (System.currentTimeMillis() - startMs) / 1e3

    val ledger = new Ledger
    val spans = new Spans(trace)
    if (trace) ledger.register(spark)
    else if (workload == "registry_cold") spark.sparkContext.addSparkListener(ledger)
    val (cpu0, shuf0) = canary(spark)

    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    var correct = true
    val causes = scala.collection.mutable.ArrayBuffer.empty[String]
    e2e("setup_s") = (setupS, "s")
    detail("setup_phases") = Json.obj(Seq("jvm_boot_s" -> Json.num(bootS),
      "session_s" -> Json.num((b - a) / 1e9), "warmup_s" -> Json.num((c - b) / 1e9),
      "input_s" -> Json.num((d - c) / 1e9)))

    val tRun0 = System.nanoTime()
    if (workload == "registry_cold") {
      val entries = Registry.sample(Registry.table(tsv))
      val (recs, passS) = Registry.run(spark, corpus, entries, spans)
      val bad = recs.filterNot(_.ok)
      attempted = recs.size
      failed = bad.size
      bad.foreach(r => causes += s"${r.key}: ${r.cause}")
      if (BuildCache.hits != 0 || BuildCache.writes != 0) {
        correct = false
        causes += s"build cache used: hits=${BuildCache.hits} writes=${BuildCache.writes}"
      }
      val walls = recs.map(_.wallS)
      e2e("wall_s") = (passS, "s")
      e2e("p50_ms") = (Stats.pct(walls, 50) * 1000, "ms")
      e2e("p95_ms") = (Stats.pct(walls, 95) * 1000, "ms")
      e2e("p99_ms") = (Stats.pct(walls, 99) * 1000, "ms")
      org.apache.spark.graftbench.BusDrain(spark.sparkContext)
      // ledger checks against independent clocks: the pass's own clock
      // against the sum of the query walls, and the scheduler's job
      // times against each query's span — a job that starts inside a
      // query must end inside it, so no query's work escapes its wall
      if (math.abs(passS - walls.sum) > 0.05 + 0.01 * passS) {
        correct = false
        causes += s"pass wall $passS s != sum of query walls ${walls.sum} s"
      }
      val jobs = ledger.jobIntervals.asScala.toSeq
      val jobS = recs.map { r =>
        val mine = jobs.filter { case (s0, _) => s0 >= r.startMs && s0 <= r.endMs }
        mine.filter(_._2 > r.endMs + JobSlackMs).foreach { case (s0, e0) =>
          correct = false
          causes += s"${r.key}: a job ran ${s0 - r.startMs}..${e0 - r.startMs} ms, past the query's end at ${r.endMs - r.startMs} ms"
        }
        unionMs(mine) / 1e3
      }
      detail("pass_wall_s") = Json.num(passS)
      detail("cache_peak_mb") = Json.num(ledger.cachePeakBytes / 1048576.0)
      detail("queries") = recs.zip(jobS).map { case (r, js) => Json.obj(Seq(
        "key" -> Json.q(r.key), "module" -> Json.q(r.module), "wall_s" -> Json.num(r.wallS),
        "construct_s" -> Json.num(r.constructS), "action_s" -> Json.num(r.actionS),
        "job_s" -> Json.num(js), "build_s" -> Json.num(r.buildS), "digest" -> Json.q(r.digest),
        "cause" -> Json.q(r.cause))) }
        .mkString("[", ",", "]")
      val unattributed = passS - recs.map(r => r.constructS + r.actionS).sum
      layer("SparkEntry.construct_s") = (recs.map(_.constructS).sum, "s")
      layer("Tables.build_s") = (recs.map(_.buildS).sum, "s")
      layer("Tables.build_job_s") = (ledger.buildJobMs / 1e3, "s")
      layer("Tables.builds") = (recs.map(_.builds).sum.toDouble, "count")
      layer("catalyst.plan_s") = (ledger.planNs / 1e9, "s")
      layer("exec.action_s") = (recs.map(_.actionS).sum, "s")
      layer("unattributed_s") = (unattributed, "s")
      layer("cache_peak_mb") = (ledger.cachePeakBytes / 1048576.0, "MB")
      for (m <- Registry.Modules)
        layer(s"$m.wall_s") = (recs.filter(_.module == m).map(_.wallS).sum, "s")
      layer("exec.core_busy") = (ledger.taskRunMs / 1e3 / (passS * cores), "ratio")
    } else {
      val r = Feed.run(spark, feedIn, work, seconds, spans, ledger)
      attempted = feedIn.commits.size
      failed = r.failedCommits
      causes ++= r.causes
      e2e("wall_s") = (r.drainWallS, "s")
      e2e("p50_ms") = (Stats.pct(r.steadyLatMs, 50), "ms")
      // tails per window of due times, median over the windows (see Feed)
      def windowed(p: Double) = Stats.median(r.latWindows.map(Stats.pct(_, p)))
      e2e("p95_ms") = (windowed(95), "ms")
      e2e("p99_ms") = (windowed(99), "ms")
      val steadyCommits = feedIn.commits.count(_.steady)
      detail("drain_commits") = (feedIn.commits.size - steadyCommits).toString
      detail("steady_commits") = steadyCommits.toString
      detail("warmup_commits") = feedIn.commits.count(c => c.steady && !c.timed).toString
      detail("latency_samples") = r.steadyLatMs.size.toString
      detail("latency_windows") = r.latWindows.map(_.size).mkString("[", ",", "]")
      detail("window_p99_ms") = r.latWindows.map(w => f"${Stats.pct(w, 99)}%.0f").mkString("[", ",", "]")
      detail("pooled_p95_ms") = Json.num(Stats.pct(r.steadyLatMs, 95))
      detail("pooled_p99_ms") = Json.num(Stats.pct(r.steadyLatMs, 99))
      detail("first_batch_s") = Json.num(r.firstBatchS)
      detail("drain_rows") = r.drainRows.toString
      detail("drain_rows_per_s") = Json.num(r.drainRows / r.drainWallS)
      detail("drain_batches") = r.drainBatches.size.toString
      detail("drain_batch_ms") = r.drainBatches.map(b => f"${b.wallMs}%.0f").mkString("[", ",", "]")
      detail("warmup_batches") = r.warmupBatches.toString
      detail("steady_batches") = r.steadyBatches.size.toString
      detail("steady_batch_ms") = r.steadyBatches.map(b => f"${b.wallMs}%.0f").mkString("[", ",", "]")
      detail("steady_batch_rows") = r.steadyBatches.map(_.rows).mkString("[", ",", "]")
      detail("state_rows") = r.stateRows.toString
      detail("distinct_entities") = r.entities.toString
      detail("gen_late_p99_ms") = Json.num(Stats.pct(r.lateMs, 99))
      detail("verify_s") = Json.num(r.verifyS)
      // per batch: the engine's own foreachBatch time (progress `addBatch`,
      // traced runs) = the spans around the three calls + a residue
      val residue = r.batches.flatMap(b => ledger.progressMs(b.id, "addBatch").map(_ - b.spansMs))
      if (residue.exists(_ < -1.0)) { correct = false; causes += "batch ledger does not reconcile" }
      val steadyIds = r.steadyBatches.map(_.id)
      layer("sources.poll_ms") = (ledger.progressP50(steadyIds, "latestOffset", "getBatch"), "ms")
      layer("streaming.plan_ms") = (ledger.progressP50(steadyIds, "queryPlanning"), "ms")
      layer("streaming.commit_ms") = (ledger.progressP50(steadyIds, "walCommit", "commitOffsets"), "ms")
      layer("streaming.batches") = (r.steadyBatches.size.toDouble, "count")
      layer("streaming.rows_per_batch") = (Stats.median(r.steadyBatches.map(_.rows.toDouble)), "rows")
      layer("cdc.account_ms") = (Stats.median(r.steadyBatches.map(_.accountMs)), "ms")
      layer("cdc.fanout_ms") = (Stats.median(r.steadyBatches.map(_.fanoutMs)), "ms")
      layer("cdc.snapshot_ms") = (Stats.median(r.steadyBatches.map(_.snapshotMs)), "ms")
      layer("batch.residue_ms") = (Stats.median(residue), "ms")
      layer("drain.batches") = (r.drainBatches.size.toDouble, "count")
      layer("drain.rows_per_batch") = (Stats.median(r.drainBatches.map(_.rows.toDouble)), "rows")
      layer("drain.batch_ms") = (Stats.median(r.drainBatches.drop(Feed.DrainUntimedBatches).map(_.wallMs)), "ms")
      layer("drain.rows_per_s") = (r.drainRows / r.drainWallS, "rows/s")
      layer("cdc.actions_per_batch") = (r.streamActions.toDouble / math.max(1, r.batches.size), "count")
      layer("sink.files") = (r.sinkFiles.toDouble, "count")
      layer("sink.mb") = (r.sinkBytes / 1048576.0, "MB")
      layer("state.rows") = (r.stateRows.toDouble, "rows")
      layer("sources.backlog_max_rows") = ((0L +: r.steadyBatches.map(_.backlog)).max.toDouble, "rows")
      layer("gen.late_p99_ms") = (Stats.pct(r.lateMs, 99), "ms")
      layer("exec.core_busy") = (ledger.taskRunMs / 1e3 / (r.streamWallS * cores), "ratio")
    }
    if (failed > 0 || causes.nonEmpty) correct = false
    val runS = (System.nanoTime() - tRun0) / 1e9

    val (cpu1, shuf1) = canary(spark)
    def stalled(a: Double, b: Double) = b / a > 2.0 && b - a >= 0.5
    val stall = stalled(cpu0, cpu1) || stalled(shuf0, shuf1)
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)
    layer("exec.jobs") = (ledger.jobs.toDouble, "count")
    layer("exec.stages") = (ledger.stages.toDouble, "count")
    layer("exec.tasks") = (ledger.tasks.toDouble, "count")
    layer("exec.task_run_s") = (ledger.taskRunMs / 1e3, "s")
    layer("exec.task_cpu_s") = (ledger.taskCpuNs / 1e9, "s")
    layer("exec.gc_s") = (ledger.gcMs / 1e3, "s")
    layer("exec.scan_mb") = (ledger.scanBytes / 1048576.0, "MB")
    layer("exec.shuffle_write_mb") = (ledger.shuffleWriteBytes / 1048576.0, "MB")
    layer("exec.shuffle_read_mb") = (ledger.shuffleReadBytes / 1048576.0, "MB")
    layer("exec.spill_mb") = (ledger.spillBytes / 1048576.0, "MB")
    layer("canary.cpu_start_s") = (cpu0, "s")
    layer("canary.cpu_end_s") = (cpu1, "s")
    layer("canary.shuffle_start_s") = (shuf0, "s")
    layer("canary.shuffle_end_s") = (shuf1, "s")
    layer("canary.stalled") = (if (stall) 1.0 else 0.0, "flag")
    for (k <- Seq("wall_s", "p50_ms", "p99_ms")) layer(s"traced.$k") = e2e(k)

    detail("canary") = Json.obj(Seq("cpu_start_s" -> Json.num(cpu0), "cpu_end_s" -> Json.num(cpu1),
      "shuffle_start_s" -> Json.num(shuf0), "shuffle_end_s" -> Json.num(shuf1),
      "stalled" -> stall.toString))
    detail("run_s") = Json.num(runS)
    if (trace) detail("job_ms_by_call_site") = Json.obj(ledger.siteMs.toSeq.sortBy(-_._2).take(12)
      .map { case (k, v) => k -> v.toString })
    detail("cores") = cores.toString
    if (trace) {
      val traceFile = Paths.get(s"$work/../trace-$workload-$seed.json")
      Files.writeString(traceFile, spans.toJson)
      detail("trace_file") = Json.q(traceFile.getFileName.toString)
    }
    spark.stop()

    // every per-layer metric is reported on every workload; a layer the
    // workload does not exercise reads 0
    val reported = if (trace) LayerMetrics.map { case (k, u) => k -> layer.getOrElse(k, (0.0, u)) }
      else e2e.toSeq
    val metrics = reported.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.q(u)))
    }
    val res = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics),
      "workload" -> Json.q(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "failures" -> causes.map(Json.q).mkString("[", ",", "]"),
      "detail" -> Json.obj(detail.toSeq)))
    Files.writeString(Paths.get(out), res + "\n")
  }

  /** Print the digest of every sampled query's dumped result as
    * `registry.tsv` lines. */
  private def digestDump(argv: Array[String]): Unit = {
    val Array(_, dump, tsv, work) = argv
    val spark = session(Runtime.getRuntime.availableProcessors(), work)
    val all = Registry.table(tsv)
    val digests = Registry.digestDump(spark, dump, Registry.sample(all)).toMap
    all.foreach(e => println(s"${e.key}\t${e.module}\t${digests.getOrElse(e.key, "-")}"))
    spark.stop()
  }
}
