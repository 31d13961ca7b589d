package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.pipeline.StationStatus
import graft.streaming.Streams

/** A landed input file: its due time and records. */
final case class Landed(name: String, dueNs: Long, phaseA: Boolean, recs: Array[Rec])

/** station_stream: the reference's real-time path.
  *
  * One streaming query: `Streams.fileStream` (text files of
  * Kafka-style JSON values) → `Streams.decodeKafkaJson` →
  * `StationStatus.silver` → `withWatermark("event_ts", "2 hours")` →
  * `StationStatus.gold` → `Streams.foreachBatchSink` with the
  * unchanged `Streams.jdbcUpsertWriter` into in-memory Derby. Default
  * trigger (next batch as soon as the last one ends), so no fixed
  * interval sits in the latency.
  *
  * The generator lands one file per 100 ms tick. The feed has about
  * 2,000 stations, the size of the Citi Bike system, each reporting
  * every 5 minutes (GBFS allows station status at most 5 minutes
  * stale); 5% of stations are hot and report four times as often.
  * 5% of reports are held back up to 5 ticks (out of order, well
  * inside the watermark) and 8% are re-polled up to 10 ticks later
  * (duplicates the silver dedup drops). At the Phase A rate event time
  * runs about two simulated minutes per second, so 15-minute windows
  * close and are re-upserted during a run.
  *
  * Phase A (first two thirds): open loop at a fixed offered rate of
  * 1,000 records/s, under a third of the Phase B drain rate measured
  * on the commit that added the benchmark (3,400 records/s, median of
  * ten runs). Nearer saturation, a host slowing down lengthened
  * batches, which then held more records and lengthened further: at
  * 2,000 and 1,500 records/s the ten-run spread of the latency
  * quantiles reached 0.35 and 0.27, above the lake's and the corpus's
  * on the same host. At this rate per-batch fixed cost sets the
  * latency, which is what this workload is meant to expose. Two
  * thirds, not half, so the quantiles rest on a dozen or more
  * micro-batches.
  * Latency per gold row = commit return of the upsert that wrote it −
  * due time of the newest file contributing to it in that batch
  * (queue wait included, window length excluded). Batch→file mapping
  * comes from the query's own source log after the fact, so nothing
  * is added to the measured path but one clock read per batch.
  *
  * Phase B (last third): closed loop; land a backlog chunk of 50
  * ticks (5,000 records in 5 files) at once, drain it
  * (`processAllAvailable`), repeat.
  * records_per_s = median over drains of backlog records / drain time.
  */
final class StationStream extends Workload {
  val Stations = 2000 // about the size of the Citi Bike system
  val HotShare = 0.05
  val CycleSec = 300 // GBFS: station status at most 5 minutes stale
  val TickMs = 100
  val RecordsPerTick = 100 // Phase A offered rate: 1000 records/s
  val LateShare = 0.05
  val MaxLateTicks = 5
  val DupShare = 0.08
  val MaxDupTicks = 10
  val PhaseAShare = 2.0 / 3
  val ChunkTicks = 50
  val ChunkFiles = 5
  val WarmupTicks = 15
  val WarmupChunks = 1
  val Driver = "org.apache.derby.jdbc.EmbeddedDriver"

  private var schedule: Schedule = _
  private var seed = 0L
  private var inDir = ""
  private var stageDir = ""
  private var ckDir = ""
  private var url = ""
  private var table = ""
  private var query: StreamingQuery = _
  private var position = 0L
  private var tick = 0L
  private val pending = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Rec]]
  private val landed = mutable.LinkedHashMap.empty[String, Landed]
  private val truth = new Gbfs.Gold
  private val commitNs = new ConcurrentHashMap[Long, Long]()
  private val upsertS = new ConcurrentHashMap[Long, Double]()
  private val invocations = new java.util.concurrent.atomic.AtomicLong
  private val progress = new ConcurrentHashMap[Long, StreamingQueryProgress]()

  /** Records of the next tick: scheduled reports not held back, plus
    * held-back reports and re-polls due now.
    */
  private def nextTick(): Array[Rec] = {
    val out = mutable.ArrayBuffer.empty[Rec]
    (0 until RecordsPerTick).foreach { _ =>
      val q = position
      position += 1
      val r = schedule.at(q)
      if (Gbfs.unit(seed, q, 1) < LateShare)
        pending.getOrElseUpdate(tick + 1 + q % MaxLateTicks, mutable.ArrayBuffer.empty) += r
      else out += r
      if (Gbfs.unit(seed, q, 2) < DupShare)
        pending.getOrElseUpdate(tick + 1 + q % MaxDupTicks, mutable.ArrayBuffer.empty) += r
    }
    pending.remove(tick).foreach(out ++= _)
    tick += 1
    out.toArray
  }

  /** Write the next `ticks` ticks as one file to the staging dir;
    * `publish` moves it into the watched dir. Every staged file is
    * published, so its records join the truth here, before any timer
    * starts.
    */
  private def stage(ticks: Int = 1): (String, Array[Rec]) = {
    val recs = (0 until ticks).flatMap(_ => nextTick()).toArray
    recs.foreach(truth.add)
    val name = f"tick-$tick%08d.json"
    val sb = new StringBuilder
    recs.foreach(r => sb.append(r.json).append('\n'))
    Files.write(Paths.get(stageDir, name), sb.toString.getBytes(StandardCharsets.UTF_8))
    (name, recs)
  }

  private def publish(name: String, recs: Array[Rec], dueNs: Long, phaseA: Boolean): Unit = {
    Files.move(Paths.get(stageDir, name), Paths.get(inDir, name), StandardCopyOption.ATOMIC_MOVE)
    landed(name) = Landed(name, dueNs, phaseA, recs)
  }

  private def landNow(phaseA: Boolean): Unit = {
    val (n, r) = stage()
    publish(n, r, System.nanoTime(), phaseA)
  }

  private def startQuery(ctx: Ctx, name: String): Unit = {
    inDir = ctx.dir(s"stream/$name/in")
    stageDir = ctx.dir(s"stream/$name/stage")
    ckDir = ctx.dir(s"stream/$name/ck")
    table = s"gold_$name"
    url = "jdbc:derby:memory:perfbench;create=true"
    Class.forName(Driver)
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      s"""CREATE TABLE $table ("station_id" VARCHAR(512) NOT NULL, "avg_pct_bikes_available" DOUBLE,
         |"avg_bikes" DOUBLE, "avg_docks" DOUBLE, "window_start" TIMESTAMP NOT NULL,
         |"window_end" TIMESTAMP, PRIMARY KEY ("window_start", "station_id"))""".stripMargin)
    finally conn.close()
    val spark = ctx.spark
    val raw = Streams.fileStream(spark, inDir, StructType(Seq(StructField("value", StringType))),
      format = "text")
    val silver = StationStatus.silver(Streams.decodeKafkaJson(raw, StationStatus.schema))
    val gold = StationStatus.gold(silver.withWatermark("event_ts", "2 hours"))
    val writer = Streams.jdbcUpsertWriter(url, table, Seq("window_start", "station_id"),
      user = "", password = "", driver = Driver)
    commitNs.clear(); upsertS.clear(); progress.clear()
    ctx.sc.setLocalProperty(Tracer.LayerKey, "streaming")
    query = Streams.foreachBatchSink(gold, ckDir) { (df, id) =>
      invocations.incrementAndGet()
      val t0 = System.nanoTime()
      writer(df, id)
      val t1 = System.nanoTime()
      commitNs.putIfAbsent(id, t1)
      upsertS.put(id, Stats.sec(t1 - t0))
    }.start()
    ctx.sc.setLocalProperty(Tracer.LayerKey, null)
  }

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.put(e.progress.batchId, e.progress)
  }

  def setup(ctx: Ctx): Unit = {
    seed = ctx.seed
    schedule = new Schedule(seed, Stations, HotShare, CycleSec, Gbfs.BaseEpoch)
    ctx.spark.streams.addListener(listener)
    startQuery(ctx, "main")
    warmUp()
  }

  private def warmUp(): Unit = {
    val t0 = System.nanoTime()
    (0 until WarmupTicks).foreach { k =>
      LockSupport.parkNanos(t0 + k * TickMs * 1000000L - System.nanoTime())
      landNow(phaseA = false)
    }
    query.processAllAvailable()
    (0 until WarmupChunks).foreach(_ => drainChunk())
  }

  /** Land one backlog chunk and drain it; returns (records, seconds).
    * A chunk is a few large files, so the query picks it up whole in
    * one listing instead of splitting it across two batches.
    */
  private def drainChunk(): (Long, Double) = {
    val staged = (0 until ChunkFiles).map(_ => stage(ChunkTicks / ChunkFiles))
    val t0 = System.nanoTime()
    staged.foreach { case (n, r) => publish(n, r, t0, phaseA = false) }
    query.processAllAvailable()
    (staged.map(_._2.length.toLong).sum, Stats.sec(System.nanoTime() - t0))
  }

  /** Median over drains of records / drain time: one drain slowed by
    * a collection or a host hiccup does not set the run's figure.
    */
  private def drainRate(drains: Seq[(Long, Double)]): Double =
    Stats.median(drains.map { case (n, s) => n / s })

  /** Source log: file name → batch id, from the query's checkpoint. */
  private def sourceLog(): Map[String, Long] = {
    val dir = new java.io.File(ckDir, "sources/0")
    val entry = """"path":"[^"]*/([^"/]+)".*"batchId":(\d+)""".r
    Option(dir.listFiles()).getOrElse(Array.empty).filterNot(_.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
      .flatMap(l => entry.findFirstMatchIn(l).map(m => m.group(1) -> m.group(2).toLong))
      .toMap
  }

  /** Newest landed due time minus newest read due time, in seconds. */
  private def sourceLag(): Double = {
    val read = sourceLog().keySet
    val newestLanded = landed.values.last
    val newestRead = landed.values.filter(l => read.contains(l.name)).lastOption
    Stats.sec(newestLanded.dueNs - newestRead.map(_.dueNs).getOrElse(newestLanded.dueNs))
  }

  private def logOffset(json: String): Long =
    if (json == null) -1L else """"logOffset":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)

  /** Per gold row written in a Phase A batch: commit return minus the
    * due time of the newest file that changed the row in that batch.
    * A batch's files are the source-log entries between its start and
    * end offsets in the query's progress.
    */
  private def latencies(): Seq[Double] = {
    val last = query.lastProgress.batchId
    val deadline = System.nanoTime() + 5000000000L
    while (!progress.containsKey(last) && System.nanoTime() < deadline) Thread.sleep(10)
    val byOffset = sourceLog().toSeq.groupBy(_._2).map { case (o, fs) => o -> fs.map(_._1) }
    val seen = mutable.HashSet.empty[(Int, Long)]
    val out = mutable.ArrayBuffer.empty[Double]
    progress.values.asScala.toSeq.sortBy(_.batchId).foreach { p =>
      val src = p.sources.head
      val files = (logOffset(src.startOffset) + 1 to logOffset(src.endOffset))
        .flatMap(o => byOffset.getOrElse(o, Nil)).flatMap(landed.get)
      val newest = mutable.HashMap.empty[(Long, Int), Landed]
      files.foreach { l =>
        l.recs.foreach { r =>
          if (seen.add((r.station, r.lastReported))) {
            val k = (Gbfs.windowStart(r.lastReported), r.station)
            if (newest.get(k).forall(_.dueNs < l.dueNs)) newest(k) = l
          }
        }
      }
      if (commitNs.containsKey(p.batchId)) {
        val commit = commitNs.get(p.batchId)
        newest.values.filter(_.phaseA).foreach(l => out += Stats.sec(commit - l.dueNs))
      }
    }
    out.toSeq
  }

  def measure(ctx: Ctx, seconds: Double): Pass = {
    val batch0 = Option(query.lastProgress).map(_.batchId + 1).getOrElse(0L)
    // Phase A: open loop on the tick schedule; a late generator lands
    // every overdue tick at once and never slows down
    val phaseS = seconds * PhaseAShare
    val start = System.nanoTime()
    val nTicks = (phaseS * 1000 / TickMs).toLong
    var genLate = 0.0
    val lags = mutable.ArrayBuffer.empty[(Long, Double)]
    (0L until nTicks).foreach { k =>
      val due = start + k * TickMs * 1000000L
      val (n, r) = stage()
      LockSupport.parkNanos(due - System.nanoTime())
      genLate = math.max(genLate, Stats.sec(System.nanoTime() - due))
      publish(n, r, due, phaseA = true)
      if (ctx.tracer.enabled && k % 5 == 4) lags += ((k, sourceLag()))
    }
    // source lag over each half of Phase A: a rate below saturation
    // keeps the second half's lag at the first half's
    val (lagFirst, lagSecond) = lags.partition(_._1 < nTicks / 2)
    val lagMid = Stats.median(lagFirst.map(_._2).toSeq)
    val lagEnd = Stats.median(lagSecond.map(_._2).toSeq)
    query.processAllAvailable()
    val batchA = query.lastProgress.batchId
    val lat = latencies()
    // Phase B: closed loop over backlog chunks
    val drains = mutable.ArrayBuffer.empty[(Long, Double)]
    val startB = System.nanoTime()
    while (Stats.sec(System.nanoTime() - startB) < seconds - phaseS || drains.isEmpty)
      drains += drainChunk()
    val rps = drainRate(drains.toSeq)
    System.err.println(s"perfbench: Phase B drains ${drains.size}, records/s " +
      drains.map { case (n, t) => f"${n / t}%.0f" }.mkString(" "))
    (batch0 to query.lastProgress.batchId).foreach(b =>
      ctx.result.op(commitNs.containsKey(b) || !progress.containsKey(b) ||
        progress.get(b).numInputRows == 0, s"batch $b has input but no sink commit"))
    if (ctx.tracer.enabled) report(ctx, batch0, batchA, lagMid, lagEnd, genLate)
    Pass(rps, lat)
  }

  private def report(ctx: Ctx, from: Long, to: Long, lagMid: Double, lagEnd: Double,
                     genLate: Double): Unit = {
    Thread.sleep(500) // let the listener bus deliver the last progress events
    val ps = (from to to).flatMap(b => Option(progress.get(b)))
    val data = ps.filter(_.numInputRows > 0)
    def dur(k: String) = Stats.median(data.map(p => p.durationMs.asScala.get(k).map(_.toDouble / 1000).getOrElse(0.0)))
    val r = ctx.result
    r.put("streaming.batches", ps.size.toDouble, "count")
    r.put("streaming.rows_per_batch", Stats.median(data.map(_.numInputRows.toDouble)), "count")
    r.put("streaming.trigger_s_p50", dur("triggerExecution"), "s")
    r.put("streaming.add_batch_s_p50", dur("addBatch"), "s")
    r.put("streaming.plan_s_p50", dur("queryPlanning"), "s")
    r.put("streaming.offset_wal_s_p50", dur("walCommit"), "s")
    ps.lastOption.foreach { p =>
      r.put("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble, "count")
      r.put("streaming.state_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble, "bytes")
    }
    r.put("streaming.state_commit_s_p50",
      Stats.median(data.map(_.stateOperators.map(_.commitTimeMs).sum / 1000.0)), "s")
    r.put("streaming.sink_upsert_s_p50",
      Stats.median((from to to).filter(upsertS.containsKey(_)).map(upsertS.get(_))), "s")
    val rows = data.map(_.stateOperators.filter(_.operatorName == "stateStoreSave")
      .map(_.numRowsUpdated).sum).sum
    r.put("streaming.sink_rows", rows.toDouble, "count")
    r.put("streaming.sink_retries", (invocations.get - commitNs.size).toDouble, "count")
    r.put("streaming.source_lag_s", lagEnd, "s")
    r.put("streaming.source_lag_mid_s", lagMid, "s")
    r.put("load.gen_late_s", genLate, "s")
    val input = data.map(_.numInputRows).sum.toDouble
    val dropped = data.flatMap(_.stateOperators.map(s =>
      Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L))).sum
    r.put("pipeline.dedup_keep_share", 1.0 - dropped / input, "ratio")
    r.put("pipeline.shuffle_bytes", ctx.engine.layer("streaming").shuffleBytes.get / ps.size.toDouble, "bytes")
  }

  def singleCore(ctx: Ctx, seconds: Double): Double = {
    ctx.spark.streams.addListener(listener)
    startQuery(ctx, "single")
    (0 until WarmupChunks).foreach(_ => drainChunk())
    val drains = mutable.ArrayBuffer.empty[(Long, Double)]
    val start = System.nanoTime()
    while (Stats.sec(System.nanoTime() - start) < seconds || drains.isEmpty) drains += drainChunk()
    query.stop()
    drainRate(drains.toSeq)
  }

  /** The Derby gold table equals the truth over every landed record:
    * same grains, same averages, one row per grain.
    */
  def verify(ctx: Ctx): Unit = {
    query.processAllAvailable()
    query.stop()
    val r = ctx.result
    val conn = java.sql.DriverManager.getConnection(url)
    var n = 0
    try {
      val rs = conn.createStatement().executeQuery(
        s"""SELECT "station_id", "window_start", "avg_pct_bikes_available", "avg_bikes", "avg_docks" FROM $table""")
      while (rs.next()) {
        n += 1
        val key = (rs.getTimestamp(2).getTime / 1000, rs.getString(1).stripPrefix("st").toInt)
        val pct = rs.getDouble(3)
        val pctOpt = if (rs.wasNull()) None else Some(pct)
        val ok = truth.rows.get(key).exists(acc => Gbfs.matches(acc, pctOpt, rs.getDouble(4), rs.getDouble(5)))
        r.check(ok, s"gold row $key differs from truth")
      }
    } finally conn.close()
    r.check(n == truth.rows.size, s"gold table has $n rows, truth ${truth.rows.size}")
    r.check(invocations.get == commitNs.size, s"${invocations.get - commitNs.size} replayed sink batches")
  }
}
