package perfbench

import scala.collection.mutable

/** GBFS station-status records and their gold truth, in plain Scala.
  *
  * A report schedule cycles over "slots": one per station, four per
  * hot station (hot stations report four times as often). Slot order
  * within a cycle is a seeded permutation, so stations interleave the
  * way a polled feed does. Every value is a pure function of
  * (seed, station, last_reported), which makes a re-poll of the same
  * report byte-identical, as the silver dedup assumes.
  */
final case class Rec(station: Int, lastReported: Long, bikes: Int, ebikes: Int,
                     docks: Int, installed: Boolean, renting: Boolean, returning: Boolean) {
  def stationId: String = Gbfs.stationId(station)

  def json: String =
    s"""{"station_id":"$stationId","num_bikes_available":$bikes,"num_ebikes_available":$ebikes,""" +
      s""""num_docks_available":$docks,"is_installed":$installed,"is_renting":$renting,""" +
      s""""is_returning":$returning,"last_reported":$lastReported}"""
}

final class Schedule(seed: Long, stations: Int, hotShare: Double, cycleSec: Int, base: Long) {
  private val slots: Array[(Int, Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    // a fixed count of hot stations, so input volume does not vary with the seed
    val hot = rnd.shuffle((0 until stations).toList).take(math.round(stations * hotShare).toInt).toSet
    val raw = (0 until stations).flatMap { s =>
      val m = if (hot(s)) 4 else 1
      (0 until m).map(k => (s, k, m))
    }
    rnd.shuffle(raw).toArray
  }

  def perCycle: Int = slots.length

  /** The report at position `p` of the global sequence. */
  def at(p: Long): Rec = {
    val (s, k, m) = slots((p % slots.length).toInt)
    val cycle = p / slots.length
    val step = cycleSec / m
    val t = base + cycle * cycleSec + k * step + (Gbfs.mix(seed, s, 11) & Long.MaxValue) % step
    Gbfs.report(seed, s, t)
  }
}

object Gbfs {
  /** 2024-06-01T00:00:00Z */
  val BaseEpoch = 1717200000L

  def stationId(i: Int): String = f"st$i%05d"

  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1). */
  def unit(seed: Long, a: Long, b: Long): Double =
    (mix(seed, a, b) >>> 11).toDouble / (1L << 53).toDouble

  def report(seed: Long, s: Int, t: Long): Rec = {
    val h = mix(seed, s, t)
    val cap = 10 + (mix(seed, s, 3) & 31).toInt
    val offline = ((h >>> 40) % 100) == 0 // no bikes, no docks: pct is null
    val bikes = if (offline) 0 else ((h & 0xffff) % (cap + 1)).toInt
    val ebikes = if (bikes == 0) 0 else (((h >>> 16) & 0xff) % (bikes + 1)).toInt
    val docks = if (offline) 0 else cap - bikes
    Rec(s, t, bikes, ebikes, docks, installed = !offline, renting = !offline,
      returning = ((h >>> 24) & 7) != 0)
  }

  /** One gold grain's running sums (avg over rows; pct avg over its
    * non-null values, as SQL avg does).
    */
  final class Acc {
    var n = 0L
    var bikes = 0L
    var docks = 0L
    var nPct = 0L
    var pct = 0.0
    def add(r: Rec): Unit = {
      n += 1; bikes += r.bikes; docks += r.docks
      if (r.bikes + r.docks > 0) { nPct += 1; pct += r.bikes.toDouble / (r.bikes + r.docks) }
    }
    def avgPct: Option[Double] = if (nPct == 0) None else Some(pct / nPct)
  }

  /** Gold truth: silver dedup on (station, last_reported), then the
    * 15-minute window × station averages.
    */
  final class Gold {
    private var seen = mutable.HashSet.empty[(Int, Long)]
    val rows = mutable.HashMap.empty[(Long, Int), Acc]
    var bronze = 0L
    def add(r: Rec): Unit = {
      bronze += 1
      if (seen.add((r.station, r.lastReported)))
        rows.getOrElseUpdate((windowStart(r.lastReported), r.station), new Acc).add(r)
    }
    /** No more records: drop the dedup keys, keep the rows. */
    def seal(): Unit = seen = null
  }

  def windowStart(t: Long): Long = t - Math.floorMod(t, 900L)

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Compare one gold row (epoch-second window start) to the truth. */
  def matches(acc: Acc, pct: Option[Double], bikes: Double, docks: Double): Boolean =
    close(bikes, acc.bikes.toDouble / acc.n) && close(docks, acc.docks.toDouble / acc.n) &&
      ((pct, acc.avgPct) match {
        case (Some(a), Some(b)) => close(a, b)
        case (None, None) => true
        case _ => false
      })
}
