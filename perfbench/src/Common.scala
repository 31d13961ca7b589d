package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object Stats {
  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly above the p-quantile. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }

  def sec(ns: Long): Double = ns / 1e9
}

/** What one run reports: the result line's counters and metrics. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = synchronized { metrics(name) = (value, unit) }

  /** Count one timed operation; a failed correctness check fails it. */
  def op(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (problems.size < 20) problems += what }
  }

  def check(ok: Boolean, what: => String): Unit = synchronized {
    if (!ok && problems.size < 20) problems += what
  }

  def correct: Boolean = problems.isEmpty && failed == 0

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Spans around calls into the library's layers, recorded only in the
  * traced run. A span tags the Spark jobs it starts with its layer (a
  * thread-local job property), so the engine listener can charge task
  * time, shuffle and I/O bytes to the layer that caused them.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = new ConcurrentHashMap[String, java.util.List[Double]]()

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(Tracer.LayerKey)
      sc.setLocalProperty(Tracer.LayerKey, layer)
      val t0 = System.nanoTime()
      try body
      finally {
        record(s"$layer.$name", Stats.sec(System.nanoTime() - t0))
        sc.setLocalProperty(Tracer.LayerKey, prev)
      }
    }

  def record(name: String, v: Double): Unit =
    spans.computeIfAbsent(name, _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())).add(v)

  def values(name: String): Seq[Double] =
    Option(spans.get(name)).map(l => l.synchronized(l.asScala.toSeq)).getOrElse(Nil)

  def median(name: String): Double = Stats.median(values(name))
}

object Tracer {
  val LayerKey = "perfbench.layer"
}

/** Engine-side counters from Spark's public listener events, totalled
  * per layer (the layer property of the job that ran the task).
  */
final class EngineListener extends SparkListener {
  final class Counters {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val taskMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val inputBytes = new AtomicLong
    val outputBytes = new AtomicLong
  }
  private val byLayer = new ConcurrentHashMap[String, Counters]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()

  def layer(name: String): Counters = byLayer.computeIfAbsent(name, _ => new Counters)

  def total(f: Counters => AtomicLong): Long = byLayer.values().asScala.map(c => f(c).get).sum

  def reset(): Unit = byLayer.clear()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val l = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerKey))).getOrElse("other")
    e.stageIds.foreach(stageLayer.put(_, l))
    layer(l).jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = layer(stageLayer.getOrDefault(e.stageId, "other"))
    c.tasks.incrementAndGet()
    c.taskMs.addAndGet(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
}

/** A closed loop: `clients` threads each run the next unit as soon as
  * their last one returns, until `seconds` have passed and at least
  * `minUnits` units have started. A unit returns (records, seconds);
  * throughput is records over the loop's wall time.
  */
object ClosedLoop {
  def run(clients: Int, seconds: Double, minUnits: Int = 1)(unit: () => (Long, Double)): Pass = {
    val times = mutable.ArrayBuffer.empty[Double]
    var records = 0L
    var started = 0
    var error: Throwable = null
    val start = System.nanoTime()
    def more: Boolean = times.synchronized {
      val go = error == null && (Stats.sec(System.nanoTime() - start) < seconds || started < minUnits)
      if (go) started += 1
      go
    }
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() =>
        try while (more) {
          val (n, dt) = unit()
          times.synchronized { times += dt; records += n }
        } catch { case e: Throwable => times.synchronized { if (error == null) error = e } })
      t.start()
      t
    }
    threads.foreach(_.join())
    if (error != null) throw error
    Pass(records / Stats.sec(System.nanoTime() - start), times.toSeq)
  }
}

/** Everything a workload needs from the run. */
final case class Ctx(spark: org.apache.spark.sql.SparkSession, seed: Long, cores: Int,
                     work: String, tracer: Tracer, engine: EngineListener, result: Result) {
  def sc: SparkContext = spark.sparkContext
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

object Engine {
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** CPU time the hypervisor gave to other guests (the "steal" column
    * of /proc/stat), in seconds summed over CPUs. Runs measured while
    * steal was high read slow on every metric.
    */
  def stealSeconds(): Double = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100.0).getOrElse(0.0)
    finally f.close()
  }

  /** Milliseconds a fixed single-threaded integer loop takes: how fast
    * the host runs this process right now. Printed on stderr next to a
    * run's figures; no metric is derived from it.
    */
  def probeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 0L) ms + 1 else ms
  }

  /** Peak resident set of this process (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The engine.* metrics over a measured window of `wallS` seconds. */
  def report(ctx: Ctx, wallS: Double, gcS: Double): Unit = {
    val e = ctx.engine
    val r = ctx.result
    r.put("engine.jobs", e.total(_.jobs).toDouble, "count")
    r.put("engine.tasks", e.total(_.tasks).toDouble, "count")
    r.put("engine.task_busy_share", e.total(_.taskMs) / 1000.0 / (wallS * ctx.cores), "ratio")
    r.put("engine.gc_s", gcS, "s")
    r.put("engine.shuffle_bytes", e.total(_.shuffleBytes).toDouble, "bytes")
    r.put("engine.spill_bytes", e.total(_.spillBytes).toDouble, "bytes")
  }
}
