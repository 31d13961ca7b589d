package perfbench

import org.apache.spark.sql.SparkSession

/** One measured pass: records per second and per-unit latencies. */
final case class Pass(recordsPerS: Double, latencies: Seq[Double])

/** A workload owns its inputs and its timed loop. `measure` runs with
  * tracing on or off as `ctx.tracer` says; a traced pass also writes
  * its layer metrics into `ctx.result`.
  */
trait Workload {
  def setup(ctx: Ctx): Unit
  def measure(ctx: Ctx, seconds: Double): Pass
  /** Throughput of the same work on a fresh single-core session. */
  def singleCore(ctx: Ctx, seconds: Double): Double
  def verify(ctx: Ctx): Unit
}

object Main {
  val perLayer: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.trigger_s_p50" -> "s", "streaming.add_batch_s_p50" -> "s",
    "streaming.plan_s_p50" -> "s", "streaming.offset_wal_s_p50" -> "s",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
    "streaming.state_commit_s_p50" -> "s", "streaming.sink_upsert_s_p50" -> "s",
    "streaming.sink_rows" -> "count", "streaming.sink_retries" -> "count",
    "streaming.source_lag_s" -> "s", "streaming.source_lag_mid_s" -> "s",
    "load.gen_late_s" -> "s",
    "sources.read_s" -> "s", "sources.write_s" -> "s", "sources.bytes_read" -> "bytes",
    "sources.bytes_written" -> "bytes", "sources.files_written" -> "count",
    "pipeline.silver_s" -> "s", "pipeline.gold_s" -> "s",
    "pipeline.dedup_keep_share" -> "ratio", "pipeline.shuffle_bytes" -> "bytes",
    "quality.suite_s" -> "s", "quality.jobs" -> "count",
    "text.score_s" -> "s", "text.survivor_share" -> "ratio",
    "dedup.lsh_pairs_s" -> "s", "dedup.pairs" -> "count",
    "dedup.planted_recall" -> "ratio", "dedup.cc_s" -> "s",
    "engine.jobs" -> "count", "engine.tasks" -> "count",
    "engine.task_busy_share" -> "ratio", "engine.gc_s" -> "s",
    "engine.shuffle_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "engine.parallel_speedup" -> "ratio", "trace.overhead" -> "ratio")

  def session(name: String, cores: Int, work: String): SparkSession =
    graft.GraftSession.builder(name, cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val work = args("work")
    val launchMs = args("launch-ms").toLong
    val workload: Workload = name match {
      case "station_stream" => new StationStream
      case "lake_backfill" => new LakeBackfill
      case "curate_corpus" => new CurateCorpus
      case other => sys.error(s"unknown workload $other")
    }
    val result = new Result
    val spark = session(s"perfbench-$name", cores, work)
    val engine = new EngineListener
    if (traced) spark.sparkContext.addSparkListener(engine)
    def ctxFor(s: SparkSession, traceOn: Boolean) =
      Ctx(s, args("seed").toLong, cores, work, new Tracer(s.sparkContext, traceOn), engine, result)
    val ctx = ctxFor(spark, traceOn = false)

    var exit = 0
    System.err.println(f"perfbench: session ready at ${(System.currentTimeMillis() - launchMs) / 1000.0}%.2fs")
    try {
      workload.setup(ctx)
      val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
      if (!traced) {
        val probe0 = Engine.probeMs()
        val steal0 = Engine.stealSeconds()
        val wall0 = System.nanoTime()
        val p = workload.measure(ctx, seconds)
        val stealShare = (Engine.stealSeconds() - steal0) / (Stats.sec(System.nanoTime() - wall0) * cores)
        val probe1 = Engine.probeMs()
        result.put("setup_s", setupS, "s")
        result.put("records_per_s", p.recordsPerS, "1/s")
        result.put("lat_p50_s", Stats.quantile(p.latencies, 0.5), "s")
        result.put("lat_p90_s", Stats.quantile(p.latencies, 0.9), "s")
        workload.verify(ctx)
        result.put("peak_rss_mb", Engine.peakRssMb(), "MB")
        System.err.println(f"perfbench: $name setup $setupS%.2fs, latency samples ${p.latencies.size}%d, " +
          s"beyond p90 ${Stats.beyond(p.latencies, 0.9)}, p10/p50/p90/max " +
          Seq(0.1, 0.5, 0.9, 1.0).map(q => f"${Stats.quantile(p.latencies, q)}%.3f").mkString("/") +
          f", host steal $stealShare%.2f of the CPUs while measuring, host probe $probe0%.0f/$probe1%.0f ms")
      } else {
        // untraced and traced halves in one process give the tracing
        // overhead; a single-core session afterwards gives the speed-up
        val plain = workload.measure(ctx, seconds / 2.0)
        val tctx = ctxFor(spark, traceOn = true)
        engine.reset()
        val gc0 = Engine.gcSeconds()
        val t0 = System.nanoTime()
        val withTrace = workload.measure(tctx, seconds / 2.0)
        Engine.report(tctx, Stats.sec(System.nanoTime() - t0), Engine.gcSeconds() - gc0)
        result.put("trace.overhead", withTrace.recordsPerS / plain.recordsPerS, "ratio")
        workload.verify(ctx)
        spark.stop()
        val one = session(s"perfbench-$name-1core", 1, work)
        val single = workload.singleCore(ctxFor(one, traceOn = false), seconds / 2.0)
        result.put("engine.parallel_speedup", plain.recordsPerS / single, "ratio")
        val all = perLayer.map { case (k, u) => k -> result.metrics.getOrElse(k, (0.0, u)) }
        result.metrics.clear()
        all.foreach { case (k, (v, u)) => result.put(k, v, u) }
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result.check(false, s"run aborted: $e")
        exit = 1
    }
    result.problems.foreach(p => System.err.println(s"perfbench: CHECK FAILED: $p"))
    if (!result.correct) exit = 1
    println(result.json)
    System.out.flush()
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    System.exit(exit)
  }
}
