package graftbench

import java.util.SplittableRandom
import java.util.concurrent.Executors
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{CityEvents, Serving, StreamAggregates}
import graft.sources.KeyedUpsertSink

/** `serve_read_write`: store reads after writes. For the first half of the
  * measured window a closed-loop writer pushes micro-batches through the
  * four-member topology, each committed by all members before the next
  * goes in; for the second half `Readers` closed-loop readers call the
  * store-backed endpoints of the reference API over `KeyedUpsertSink.read`
  * of the stores just written, each cycling through all five. The stores
  * are pre-filled to a fixed segment count first.
  *
  * Writes and reads take turns rather than overlap: beside a writer, a
  * request's latency depended on where the writer's jobs fell in Spark's
  * FIFO scheduler, and the readers managed a few requests a run. Two
  * readers served nearly as many requests as four at about half the
  * latency: with four, requests mostly waited for each other's tasks.
  * Alternating single batches with short read phases spent the run on the
  * slow first reads after each write. Each side gets a fixed half of the
  * window: with a fixed count of writer batches instead, a slow host also
  * shortened the read phase, and the request rate swung twice as far as
  * the commit latency. The request percentiles are taken per endpoint and
  * averaged over the five, so they do not depend on which endpoint's cost
  * the ranked sample falls in.
  */
object Serve {
  val Endpoints: Seq[String] = Seq("health", "summary", "cities", "aggregationsFor", "stats")
  val Limits: Seq[Int] = Seq(10, 50, 100)
  /** Pre-fill: this many segments per store, each 30 minutes of event time
    * (window-aligned, so each 5-minute window lies in one segment).
    */
  val PrefillSegments = 2
  val SmokePrefillSegments = 1
  val SegmentSec = 1800L
  /** Events per writer batch. */
  val WriterEvents = 300
  val EventsPerSec = 1.0
  val OooShare = 0.05
  /** Share of the writer's events sent after the watermark passed them. */
  val LateShare = 0.02
  /** Closed-loop reader threads. */
  val Readers = 2
  /** Untimed writer batches in set-up. */
  val WarmBatches = 2

  /** The three stores, or their batch forms, as the endpoints read them. */
  final case class Frames(raw: () => DataFrame, agg: () => DataFrame, alerts: () => DataFrame)

  final case class Request(endpoint: String, city: String, eventType: String, limit: Int)

  /** A request to `endpoint` with parameters drawn from the reference domains. */
  def draw(rnd: SplittableRandom, endpoint: String): Request =
    Request(endpoint, EventGen.Cities(rnd.nextInt(EventGen.Cities.size)),
      EventGen.Types(rnd.nextInt(EventGen.Types.size)), Limits(rnd.nextInt(Limits.size)))

  /** One endpoint call, collected; returns its rows as text. */
  def answer(spark: SparkSession, f: Frames, r: Request, op: String): Seq[String] = {
    def serve(dfs: DataFrame*): Seq[String] =
      Trace.span(s"Serving.${r.endpoint}", op)(dfs.flatMap(_.collect().toSeq.map(Canon.row)))
    r.endpoint match {
      case "health" => val raw = f.raw(); serve(Serving.health(raw))
      case "summary" => val agg = f.agg(); serve(Serving.summary(agg, r.city))
      case "cities" => val agg = f.agg(); serve(Serving.cities(agg))
      case "aggregationsFor" => val agg = f.agg(); serve(Serving.aggregationsFor(agg, r.city, r.eventType, r.limit))
      case "stats" =>
        val agg = f.agg(); val alerts = f.alerts()
        serve(Serving.statsTotal(agg), Serving.alertSeverityCounts(alerts, spark))
    }
  }

  def storeFrames(spark: SparkSession, stores: Map[String, String], op: String): Frames = Frames(
    () => Topology.read(spark, stores("raw_events"), op, "raw_events"),
    () => Topology.read(spark, stores("aggregations"), op, "aggregations"),
    () => Topology.read(spark, stores("alerts"), op, "alerts"))

  /** Topology, pre-filled stores and the events behind them. */
  final class Fed(spark: SparkSession, a: Args, root: String, op: String) {
    import spark.implicits._
    val gen = new EventGen(a.seed, EventsPerSec, OooShare, LateShare)
    val topo = new Topology.Running(spark, root, op)
    val prefilled = mutable.ArrayBuffer.empty[Ev]
    /** Events sent through the topology (the monitoring table sees only these). */
    val streamed = mutable.ArrayBuffer.empty[Ev]
    val late = mutable.Set.empty[Long]
    private val segments = if (a.smoke) SmokePrefillSegments else PrefillSegments
    for (k <- 0 until segments) {
      val evs = gen.until(EventGen.Start + (k + 1) * SegmentSec)
      val norm = CityEvents.normalize(spark.createDataset(evs).toDF())
      val forms = Map(
        "raw_events" -> StreamAggregates.rawEvents(norm),
        "aggregations" -> StreamAggregates.windowedAggregate(norm),
        "alerts" -> StreamAggregates.alerts(norm).drop("ts"))
      for (s <- Topology.Stores)
        KeyedUpsertSink.upsert(spark, topo.stores(s), Topology.Keys(s), forms(s), k.toLong, "prefill")
      prefilled ++= evs
    }
    /** One writer batch; returns the number of events committed. */
    def batch(op: String): Int = {
      val d = gen.next(WriterEvents)
      topo.push(d.events, op)
      streamed ++= d.events
      late ++= d.late
      d.events.size
    }
  }

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val listeners = if (a.trace) Some(new Trace.Listeners(spark)) else None
    val rnd = new SplittableRandom(a.seed * 31 + 1)
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val requestMs = mutable.LinkedHashMap(Endpoints.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    var committed = 0L
    val readerRates = mutable.ArrayBuffer.empty[Double]
    val pool = Executors.newFixedThreadPool(Readers)

    /** Runs `body` as one attempted operation: its latency in ms, or None,
      * counted as failed, when it throws.
      */
    def attempt(op: String)(body: => Unit): Option[Double] = {
      res.synchronized { res.attempted += 1 }
      val t0 = System.nanoTime()
      try { body; Some((System.nanoTime() - t0) / 1e6) }
      catch {
        case e: Exception =>
          res.synchronized { res.failed += 1 }
          res.fail(s"$op failed: $e")
          None
      }
    }

    /** Writer batches, each committed by all four members, until
      * `untilNs` (at least one); returns the phase's wall time in seconds.
      * With `record`, batches are counted and timed; without, a failure
      * aborts the run.
      */
    def write(fed: Fed, tag: String, untilNs: Long, record: Boolean): Double = {
      val t0 = System.nanoTime()
      var k = 0
      while (k == 0 || System.nanoTime() < untilNs) {
        val op = s"write$tag-$k"
        if (!record) fed.batch(op)
        else {
          var n = 0
          attempt(op) { n = fed.batch(op) }.foreach { ms => commitMs += ms; committed += n }
        }
        k += 1
      }
      (System.nanoTime() - t0) / 1e9
    }

    /** `Readers` closed-loop readers, each calling endpoints until
      * `untilNs` (at least one of each), in cycles of all five, each cycle
      * starting at a seed-drawn endpoint. With `record`, each reader's
      * requests per second of its own wall time go to `readerRates`.
      */
    def read(fed: Fed, tag: String, untilNs: Long, record: Boolean): Unit = {
      val t0 = System.nanoTime()
      val rnds = (0 until Readers).map(_ => rnd.split())
      val readers = rnds.zipWithIndex.map { case (rr, j) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var i, done = 0
            var order = Endpoints
            while (i < Endpoints.size || System.nanoTime() < untilNs) {
              if (i % Endpoints.size == 0) {
                val s = rr.nextInt(Endpoints.size)
                order = Endpoints.drop(s) ++ Endpoints.take(s)
              }
              val r = draw(rr, order(i % Endpoints.size))
              val op = s"req$tag-$j-$i-${r.endpoint}"
              def call(): Unit = Trace.span("request", op)(answer(spark, storeFrames(spark, fed.topo.stores, op), r, op))
              if (!record) call()
              else attempt(op)(call()).foreach { ms =>
                requestMs.synchronized { requestMs(r.endpoint) += ms }
                done += 1
              }
              i += 1
            }
            if (record) readerRates.synchronized { readerRates += done / ((System.nanoTime() - t0) / 1e9) }
          }
        })
      }
      readers.foreach(_.get())
    }

    /** Runs `tasks` on the pool's threads and waits for all of them. */
    def inParallel(tasks: Seq[() => Unit]): Unit =
      tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())

    try {
      // Set-up: pre-fill fresh stores and start the topology, then untimed
      // writer batches and one untimed read cycle per reader.
      val (setupS, fed) = Setup.timed {
        val f = new Fed(spark, a, s"${a.scratch}/serve", "setup")
        for (w <- 0 until WarmBatches) write(f, s"setup$w", 0L, record = false)
        read(f, "setup", 0L, record = false)
        f
      }
      listeners.foreach(_.mark())
      val halfNs = (a.seconds * 1e9 / 2).toLong
      val writeS = write(fed, "", System.nanoTime() + halfNs, record = true)
      read(fed, "", System.nanoTime() + halfNs, record = true)

      res.e2e("setup_s") = (setupS, "s")
      res.report("setup_s") = (setupS, "s")
      val req = requestMs.values.flatten.toSeq
      if (req.nonEmpty) {
        // each reader's requests over its own wall time, summed
        val perS = readerRates.sum
        // a percentile of each endpoint's latencies, averaged over endpoints
        def at(p: Double): Double =
          Stats.mean(requestMs.values.filter(_.nonEmpty).map(xs => Stats.quantile(xs.toSeq, p)).toSeq)
        res.e2e("throughput_per_s") = (perS, "1/s")
        res.e2e("latency_p50_ms") = (at(0.5), "ms")
        res.e2e("latency_tail_ms") = (at(Stats.tail(req)._1 / 100), "ms")
        res.report("requests_per_s") = (perS, "1/s")
        res.latencies("request_latency", req, at)
      }
      if (commitMs.nonEmpty) {
        val eventsPerS = committed / writeS
        res.e2e("side_latency_p50_ms") = (Stats.median(commitMs.toSeq), "ms")
        res.e2e("side_throughput_per_s") = (eventsPerS, "1/s")
        res.latencies("commit_latency", commitMs.toSeq)
        res.report("writer_events_per_s") = (eventsPerS, "1/s")
      }
      listeners.foreach { l =>
        res.layers ++= l.layers(fed.topo.members, req.size + commitMs.size)
        for (s <- Topology.Stores) {
          val xs = Trace.durations(s"KeyedUpsertSink.read.$s", l.since)
          res.layers(s"KeyedUpsertSink.read_ms.$s") = (if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
        }
        for (ep <- Endpoints) {
          val xs = Trace.durations(s"Serving.$ep", l.since)
          res.layers(s"Serving.${ep}_ms") = (if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
        }
        for (s <- Topology.Stores)
          res.layers(s"KeyedUpsertSink.segments.$s") =
            (KeyedUpsertSink.segmentCount(spark, fed.topo.stores(s)).toDouble, "count")
      }
      fed.topo.stop()

      // After the writer stopped: stores equal their batch forms, and every
      // endpoint answers from the stores what it answers from those forms.
      // The checks are independent, so they run side by side.
      if (a.corrupt) Topology.corrupt(spark, fed.topo.stores)
      val forms = new Topology.BatchForms(spark, (fed.prefilled ++ fed.streamed).toSeq, fed.late.toSet)
      val monitoring = new Topology.BatchForms(spark, fed.streamed.toSeq, fed.late.toSet).monitoring
      val batch = Frames(() => forms.raw, () => forms.agg, () => forms.alerts)
      val checkRnd = new SplittableRandom(a.seed + 7)
      val endpointChecks = Endpoints.map(ep => draw(checkRnd, ep)).map { r => () =>
        val got = answer(spark, storeFrames(spark, fed.topo.stores, "check"), r, "check").sorted
        val want = answer(spark, batch, r, "check").sorted
        res.check(got == want, s"endpoint $r: store answer ${got.take(3)} != batch answer ${want.take(3)}")
      }
      inParallel(Topology.storeChecks(spark, fed.topo.stores, forms, monitoring, res) ++ endpointChecks)
    } finally pool.shutdown()
  }
}
