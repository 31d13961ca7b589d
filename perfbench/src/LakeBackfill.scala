package perfbench

import java.time.LocalDate
import scala.collection.mutable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import graft.pipeline.StationStatus
import graft.quality.Checks
import graft.sources.Lake

/** lake_backfill: the reference's hourly Airflow backfill.
  *
  * Each timed unit is one hourly DAG run: it backfills one hour of a
  * Citi Bike-sized feed from the bronze parquet lake into the gold
  * lake: read → silver → gold → `Lake.overwritePartitions`, then the
  * gold checks suite on the partition just written. Every fourth unit
  * re-runs an hour already written (an Airflow re-run), so the
  * overwrite must replace, not append. The lake is partitioned by
  * date, so each hour is stamped on its own day.
  *
  * Bronze hours are generated and written with the plain parquet
  * writer in set-up, a pool several times what a run consumes, so
  * generating them is not in the measured window: GBFS v1 style,
  * booleans as 0/1 ints, with 10% re-polled duplicates.
  */
final class LakeBackfill extends Workload {
  val Stations = 2000 // about the size of the Citi Bike system
  val HotShare = 0.05
  val CycleSec = 300 // GBFS: station status at most 5 minutes stale
  val CyclesPerUnit = 12 // one hour
  val DupShare = 0.1
  val FilesPerDay = 4
  val RerunEvery = 4
  val WarmupUnits = 8
  /** Hours landed in set-up (about 0.1 s each): warm-up and a 12 s
    * window used up to 40 on the commit that added the benchmark. A
    * unit past the pool lands its own hour inside the loop, which the
    * run reports on stderr.
    */
  val PoolDays = 64

  /** The reference's gold suite (soda/checks/checks_gold.yml). */
  val GoldChecks: String =
    """checks for station_availability_15m:
      |  - schema:
      |      fail:
      |        when required columns missing: [station_id, window_start, window_end, avg_pct_bikes_available]
      |  - row_count > 0:
      |  - missing_count(station_id) = 0:
      |  - avg(avg_pct_bikes_available) between 0 and 1:
      |""".stripMargin

  private var bronzeRoot = ""
  private var goldRoot = ""
  private val suite = Checks.fromYaml(GoldChecks)
  private val truth = new java.util.concurrent.ConcurrentHashMap[String, Gbfs.Gold]()
  private val written = mutable.LinkedHashSet.empty[String] // guarded by this
  private var nextDay = 0 // guarded by this
  private var landedInLoop = 0 // guarded by this

  private val parquetSchema = MessageTypeParser.parseMessageType(
    """message bronze {
      |  required binary station_id (UTF8);
      |  required int32 num_bikes_available;
      |  required int32 num_ebikes_available;
      |  required int32 num_docks_available;
      |  required int32 is_installed;
      |  required int32 is_renting;
      |  required int32 is_returning;
      |  required int64 last_reported;
      |}""".stripMargin)

  private def dayName(d: Int): String = LocalDate.of(2024, 6, 1).plusDays(d).toString

  /** Generate and land the bronze hour of day `d`; returns its record count. */
  private def landDay(ctx: Ctx, d: Int): Long = {
    val schedule = new Schedule(ctx.seed, Stations, HotShare, CycleSec, Gbfs.BaseEpoch + d * 86400L)
    val recs = mutable.ArrayBuffer.empty[Rec]
    (0L until schedule.perCycle.toLong * CyclesPerUnit).foreach(p => recs += schedule.at(p))
    val dups = recs.indices.filter(i => Gbfs.unit(ctx.seed, i, 1000L + d) < DupShare).map(recs(_))
    recs ++= dups
    val gold = new Gbfs.Gold
    recs.foreach(gold.add)
    gold.seal()
    truth.put(dayName(d), gold)
    val conf = new Configuration()
    GroupWriteSupport.setSchema(parquetSchema, conf)
    val f = new SimpleGroupFactory(parquetSchema)
    def b(x: Boolean): Int = if (x) 1 else 0
    recs.grouped((recs.size + FilesPerDay - 1) / FilesPerDay).zipWithIndex.foreach { case (part, i) =>
      val w = ExampleParquetWriter.builder(new Path(s"$bronzeRoot/p_date=${dayName(d)}/part-$i.parquet"))
        .withConf(conf).withType(parquetSchema)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try part.foreach { r =>
        w.write(f.newGroup().append("station_id", r.stationId)
          .append("num_bikes_available", r.bikes).append("num_ebikes_available", r.ebikes)
          .append("num_docks_available", r.docks).append("is_installed", b(r.installed))
          .append("is_renting", b(r.renting)).append("is_returning", b(r.returning))
          .append("last_reported", r.lastReported))
      } finally w.close()
    }
    recs.size.toLong
  }

  def setup(ctx: Ctx): Unit = {
    bronzeRoot = ctx.dir("lake/bronze")
    goldRoot = ctx.dir("lake/gold")
    val next = new java.util.concurrent.atomic.AtomicInteger
    val t0 = System.nanoTime()
    ClosedLoop.run(ctx.cores, 0, PoolDays)(() => (landDay(ctx, next.getAndIncrement()), 0.0))
    System.err.println(f"perfbench: landed $PoolDays hours in ${Stats.sec(System.nanoTime() - t0)}%.2fs")
    ClosedLoop.run(ctx.cores, 0, WarmupUnits)(() => unit(ctx))
  }

  private var units = 0
  private val done = mutable.ArrayBuffer.empty[Int]
  private val inFlight = mutable.HashSet.empty[Int]

  /** Day for the next unit: a fresh day, or every RerunEvery-th unit a
    * seeded pick among the finished days no client is writing.
    */
  private def reserve(ctx: Ctx): (Int, Boolean) = synchronized {
    val i = units
    units += 1
    val idle = done.filterNot(inFlight)
    val (d, fresh) =
      if (i % RerunEvery == RerunEvery - 1 && idle.nonEmpty)
        (idle(((Gbfs.mix(ctx.seed, i, 77) & Long.MaxValue) % idle.size).toInt), false)
      else { nextDay += 1; (nextDay - 1, true) }
    inFlight += d
    (d, fresh)
  }

  /** One backfill unit; returns (bronze records, seconds). */
  private def unit(ctx: Ctx): (Long, Double) = {
    val (d, fresh) = reserve(ctx)
    val day = dayName(d)
    val n =
      if (!fresh || d < PoolDays) truth.get(day).bronze
      else { synchronized(landedInLoop += 1); landDay(ctx, d) }
    val spark = ctx.spark
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val (ok, stages) =
      if (!tr.enabled) {
        val bronze = spark.read.parquet(s"$bronzeRoot/p_date=$day")
        Lake.overwritePartitions(StationStatus.gold(StationStatus.silver(bronze)), goldRoot,
          tsCol = "window_start")
        (runChecks(ctx, day), None)
      } else {
        // traced: each layer's output is materialized so its span
        // holds that layer's work alone
        val bronze = tr.span("sources", "read") {
          spark.read.parquet(s"$bronzeRoot/p_date=$day").localCheckpoint() }
        val silver = tr.span("pipeline", "silver") { StationStatus.silver(bronze).localCheckpoint() }
        val gold = tr.span("pipeline", "gold") { StationStatus.gold(silver).localCheckpoint() }
        tr.span("sources", "write") { Lake.overwritePartitions(gold, goldRoot, tsCol = "window_start") }
        (tr.span("quality", "suite") { runChecks(ctx, day) }, Some((bronze, silver)))
      }
    val dt = Stats.sec(System.nanoTime() - t0)
    stages.foreach { case (bronze, silver) =>
      tr.record("pipeline.keep", silver.count().toDouble / bronze.count())
      tr.record("sources.files", new java.io.File(s"$goldRoot/p_date=$day").listFiles()
        .count(_.getName.endsWith(".parquet")).toDouble)
    }
    synchronized { inFlight -= d; if (fresh) { done += d; written += day } }
    ctx.result.op(ok, s"gold checks failed on $day")
    (n, dt)
  }

  private def runChecks(ctx: Ctx, day: String): Boolean =
    Checks.runSuite(ctx.spark.read.parquet(s"$goldRoot/p_date=$day"), suite)
      .collect().forall(_.getAs[Boolean]("passed"))

  def measure(ctx: Ctx, seconds: Double): Pass = {
    val p = ClosedLoop.run(ctx.cores, seconds)(() => unit(ctx))
    if (landedInLoop > 0)
      System.err.println(s"perfbench: lake pool of $PoolDays hours ran out; $landedInLoop landed inside the loop")
    if (ctx.tracer.enabled) {
      Thread.sleep(500) // let the listener bus deliver the last task events
      val tr = ctx.tracer
      val r = ctx.result
      val n = p.latencies.size.toDouble
      val e = ctx.engine
      r.put("sources.read_s", tr.median("sources.read"), "s")
      r.put("sources.write_s", tr.median("sources.write"), "s")
      r.put("sources.bytes_read", e.layer("sources").inputBytes.get / n, "bytes")
      r.put("sources.bytes_written", e.layer("sources").outputBytes.get / n, "bytes")
      r.put("sources.files_written", tr.median("sources.files"), "count")
      r.put("pipeline.silver_s", tr.median("pipeline.silver"), "s")
      r.put("pipeline.gold_s", tr.median("pipeline.gold"), "s")
      r.put("pipeline.dedup_keep_share", tr.median("pipeline.keep"), "ratio")
      r.put("pipeline.shuffle_bytes", e.layer("pipeline").shuffleBytes.get / n, "bytes")
      r.put("quality.suite_s", tr.median("quality.suite"), "s")
      r.put("quality.jobs", e.layer("quality").jobs.get / n, "count")
    }
    p
  }

  def singleCore(ctx: Ctx, seconds: Double): Double = {
    ClosedLoop.run(1, 0, 2)(() => unit(ctx))
    ClosedLoop.run(1, seconds)(() => unit(ctx)).recordsPerS
  }

  /** Every hour ever written holds exactly its truth: same grains, same
    * averages, no duplicates from re-runs, no missing or extra days.
    */
  def verify(ctx: Ctx): Unit = {
    val rows = ctx.spark.read.parquet(goldRoot)
      .selectExpr("CAST(p_date AS STRING) AS d", "station_id", "unix_seconds(window_start) AS ws",
        "avg_pct_bikes_available", "avg_bikes", "avg_docks")
      .collect()
    val byDay = rows.groupBy(_.getString(0))
    val r = ctx.result
    r.check(byDay.keySet == written.toSet,
      s"gold days ${byDay.keySet.size} != written days ${written.size}")
    written.foreach { day =>
      val gold = truth.get(day)
      val got = byDay.getOrElse(day, Array.empty)
      r.check(got.length == gold.rows.size, s"$day: ${got.length} gold rows, truth ${gold.rows.size}")
      got.foreach { g =>
        val key = (g.getLong(2), g.getString(1).stripPrefix("st").toInt)
        val ok = gold.rows.get(key).exists(acc => Gbfs.matches(acc,
          if (g.isNullAt(3)) None else Some(g.getDouble(3)), g.getDouble(4), g.getDouble(5)))
        r.check(ok, s"$day: gold row $key differs from truth")
      }
    }
  }
}
