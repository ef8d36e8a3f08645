package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable

/** One generated event, in the schema of the repo's `events` table. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
              value: Double, props: String)

/** A micro-batch as delivered to the stream: `late` holds the ids of the
  * events sent after the windowed aggregation's watermark has passed them.
  */
final case class Delivered(events: Vector[Ev], late: Set[Long])

/** Seeded CityStream traffic.
  *
  * Traffic dimensions:
  *  - `user_id` is Zipf-skewed over [[Users]] users, so the derived cities
  *    (`user_id mod 6`) are skewed too; event types are uniform.
  *  - event time advances by exponential gaps at `eventsPerSec` events per
  *    second of event time, so the open 5-minute windows stay bounded.
  *  - `oooShare` of the events near the end of a batch are held back one
  *    batch: out of order, but inside the 10-minute watermark.
  *  - `lateShare` of the events are held back until the stream's event time
  *    is 16 minutes past them, beyond the watermark.
  *
  * Keys never collide: within one second of event time each (city, type)
  * occurs at most once and each city raises at most one alert, so every
  * keyed store holds exactly the rows its batch form computes.
  */
final class EventGen(seed: Long, eventsPerSec: Double, oooShare: Double, lateShare: Double) {
  import EventGen._
  private val rnd = new SplittableRandom(seed)
  private var nextId = 0L
  private var clock = Start.toDouble
  private var curSec = Long.MinValue
  private val usedSlots = mutable.Set.empty[Int]
  private val alertCities = mutable.Set.empty[Int]
  private var held = Vector.empty[Ev]          // out of order: next batch
  private var heldLate = Vector.empty[Ev]      // beyond the watermark
  private var maxSentSec = Long.MinValue
  private var pending: Option[Ev] = None      // drawn, not yet sent

  private def user(): Long = {
    val u = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    (if (u >= 0) u else -u - 1).min(Users - 1).toLong
  }

  /** The next event in event-time order. */
  private def draw(): Ev = {
    clock += -math.log(1.0 - rnd.nextDouble()) / eventsPerSec
    while (true) {
      val sec = clock.toLong
      if (sec != curSec) { curSec = sec; usedSlots.clear(); alertCities.clear() }
      val u = user()
      val city = (u % 6).toInt
      val typ = rnd.nextInt(Types.size)
      val value = math.min(499.99, math.rint(-math.log(1.0 - rnd.nextDouble()) * 5000.0) / 100.0)
      val alert = value >= 250.0
      if (!usedSlots.contains(city * Types.size + typ) && !(alert && alertCities.contains(city))) {
        usedSlots += city * Types.size + typ
        if (alert) alertCities += city
        nextId += 1
        val ts = new Timestamp(sec * 1000L)
        ts.setNanos(rnd.nextInt(1000000) * 1000)
        return Ev(nextId, ts, u, Types(typ), value, s"""{"k": ${rnd.nextInt(100)}}""")
      }
      clock = (sec + 1).toDouble // slot taken: move to the next second
    }
    throw new IllegalStateException("unreachable")
  }

  private def sec(e: Ev): Long = e.ts.getTime / 1000L

  /** Every event up to (not including) event-time second `endSec`, in
    * order, with nothing held back: the prefill shape.
    */
  def until(endSec: Long): Vector[Ev] = {
    val out = Vector.newBuilder[Ev]
    var e = draw()
    while (sec(e) < endSec) { out += e; e = draw() }
    // the overshooting event starts the next call's range
    pending = Some(e)
    out.result()
  }

  private def take(): Ev = pending match {
    case Some(e) => pending = None; e
    case None => draw()
  }

  /** The next micro-batch of `n` new events plus whatever held-back events
    * are due.
    */
  def next(n: Int): Delivered = {
    val fresh = Vector.fill(n)(take())
    val maxSec = fresh.map(sec).max
    val keep = Vector.newBuilder[Ev]
    val nextHeld = Vector.newBuilder[Ev]
    fresh.foreach { e =>
      val r = rnd.nextDouble()
      if (r < lateShare) heldLate :+= e
      else if (r < lateShare + oooShare && sec(e) >= maxSec - OooWindowSec) nextHeld += e
      else keep += e
    }
    val (due, notYet) = heldLate.partition(e => maxSentSec >= sec(e) + LateMarginSec)
    heldLate = notYet
    val out = keep.result() ++ held ++ due
    held = nextHeld.result()
    maxSentSec = math.max(maxSentSec, out.map(sec).max)
    Delivered(out, due.map(_.event_id).toSet)
  }
}

object EventGen {
  val Types: Vector[String] = Vector("signup", "error", "click", "view", "purchase")
  val Cities: Vector[String] = Vector("SF", "NYC", "LA", "Chicago", "Seattle", "Boston")
  val Users = 150
  val ZipfExponent = 1.1
  /** 2024-01-01T00:00:00Z, the start of the repo's test data. */
  val Start = 1704067200L
  /** Out-of-order events come from the last 3 minutes of their batch, so
    * they stay at least 7 minutes inside the 10-minute watermark.
    */
  val OooWindowSec = 180L
  /** A late event is sent once the stream is 16 minutes past it: its
    * 5-minute window closed at least 1 minute before the watermark.
    */
  val LateMarginSec = 960L

  private val zipfCdf: Array[Double] = {
    val w = (1 to Users).map(r => 1.0 / math.pow(r, ZipfExponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
}
