package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.Executors
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `batch_registry`: a fixed slice of `SparkEntry.queries` over the test
  * tables in `data/registry`, run as one sequential pass and one concurrent
  * pass per round, in an order permuted by the seed.
  */
object Registry {
  /** Relational, CityStream batch, adaptive-join, text and vector queries;
    * `q_cosine_pairs` builds the `graft_exactpairs` snapshot family on first
    * touch.
    */
  val Queries: Seq[String] = Seq(
    "q_cosine_pairs", "q_pricing_summary", "q_semi_join", "q_windowed_agg", "q_alerts_recent",
    "q_percentiles", "q_rollup", "q_scrub_pii", "q_session_window", "q_salted_join")
  val SmokeQueries: Seq[String] = Seq("q_cosine_pairs", "q_pricing_summary", "q_semi_join")
  val Families: Seq[String] = Seq("graft_exactpairs")

  /** `name rows hash` per line: each query's row count and content hash,
    * pinned from the code the benchmark was defined against.
    */
  private def loadPins(a: Args): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(a.data, "registry_pins.txt")).asScala.map(_.trim).filter(_.nonEmpty).map { l =>
      val Array(n, rows, hash) = l.split(" ")
      n -> (rows.toLong, hash)
    }.toMap

  /** `family/source` snapshot directories under the warehouse. */
  private def snapshots(wh: Path): Set[String] =
    if (!Files.isDirectory(wh)) Set.empty
    else Files.list(wh).iterator.asScala.filter(Files.isDirectory(_)).flatMap { fam =>
      Files.list(fam).iterator.asScala.map(s => s"${fam.getFileName}/${s.getFileName}").toSeq
    }.toSet

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val listeners = if (a.trace) Some(new Trace.Listeners(spark)) else None
    val entries = SparkEntry.queries
    val order = new scala.util.Random(a.seed)
    val names = order.shuffle(if (a.smoke) SmokeQueries else Queries)
    val pins = loadPins(a)
    val wh = Paths.get(a.scratch, "warehouse")
    val builds = mutable.Map.empty[String, Double]

    val dir = Paths.get(a.scratch, "registry")
    val pool = Executors.newFixedThreadPool(a.cpus)
    /** One sequential pass, then one concurrent pass over `names` in an
      * order drawn anew from the seed, so that a run averages over several
      * mixes of concurrent queries; returns their wall times in seconds.
      */
    def round(tag: String)(call: (String, String) => Unit): (Double, Double) = {
      val shuffled = order.shuffle(names)
      val s0 = System.nanoTime()
      shuffled.foreach(n => call(n, s"seq$tag-$n"))
      val c0 = System.nanoTime()
      shuffled.map(n => pool.submit(new Runnable { def run(): Unit = call(n, s"conc$tag-$n") }))
        .foreach(_.get())
      ((c0 - s0) / 1e9, (System.nanoTime() - c0) / 1e9)
    }

    /** One timed query; None when it failed or returned the wrong row count. */
    def timed(n: String, op: String): Option[Double] = {
      res.synchronized { res.attempted += 1 }
      def failed(msg: String): Option[Double] = {
        res.fail(msg)
        res.synchronized { res.failed += 1 }
        None
      }
      val t0 = System.nanoTime()
      try {
        val df = Trace.span("SparkEntry.construct", op)(entries(n)(spark, dir.toString))
        val rows = Trace.span("count", op)(df.count())
        val ms = (System.nanoTime() - t0) / 1e6
        pins.get(n) match {
          case Some((want, _)) if want != rows => failed(s"$op $n counted $rows rows, pinned $want")
          case _ => Some(ms)
        }
      } catch {
        case e: Exception => failed(s"$op $n failed: $e")
      }
    }

    val seqMs, concMs = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val seqPass, concPass = mutable.ArrayBuffer.empty[Double]
    try {
      // Set-up: copy the tables into the run's scratch area (a fresh
      // warehouse, so every snapshot family builds), call each query once,
      // then run one untimed round so the measured rounds start warm.
      val (setupS, _) = Setup.timed {
        Files.createDirectories(dir)
        Files.list(Paths.get(a.data, "registry")).iterator.asScala.foreach(f =>
          Files.copy(f, dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
        for (n <- names) {
          val before = snapshots(wh)
          val t0 = System.nanoTime()
          Trace.span(s"query.$n", "setup")(entries(n)(spark, dir.toString).count())
          val s = (System.nanoTime() - t0) / 1e9
          (snapshots(wh) -- before).map(_.takeWhile(_ != '/')).foreach(f => builds(f) = s)
        }
        round("warm")((n, op) => Trace.span(s"query.$n", op)(entries(n)(spark, dir.toString).count()))
      }
      res.e2e("setup_s") = (setupS, "s")
      res.report("setup_s") = (setupS, "s")
      listeners.foreach(_.mark())

      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      var k = 0
      while (k == 0 || System.nanoTime() < deadline) {
        val (s, c) = round(k.toString) { (n, op) =>
          timed(n, op).foreach(ms => (if (op.startsWith("seq")) seqMs else concMs).add(ms))
        }
        seqPass += s
        concPass += c
        k += 1
      }
    } finally pool.shutdown()

    val seqS = Stats.median(seqPass.toSeq)
    val concS = Stats.median(concPass.toSeq)
    val (seq, conc) = (seqMs.asScala.toSeq, concMs.asScala.toSeq)
    res.e2e("throughput_per_s") = (names.size / seqS, "1/s")
    if (seq.nonEmpty) {
      res.e2e("latency_p50_ms") = (Stats.median(seq), "ms")
      res.e2e("latency_tail_ms") = (Stats.tail(seq)._2, "ms")
      res.latencies("query_latency", seq)
    }
    if (conc.nonEmpty) {
      res.e2e("side_latency_p50_ms") = (Stats.median(conc), "ms")
      res.e2e("side_throughput_per_s") = (names.size / concS, "1/s")
      res.latencies("concurrent_query_latency", conc)
    }
    res.report("registry_seq_s") = (seqS, "s")
    res.report("registry_conc_s") = (concS, "s")
    res.report("registry_rounds") = (seqPass.size.toDouble, "count")
    listeners.foreach { l =>
      res.layers ++= l.layers(Map.empty, seq.size + conc.size)
      val xs = Trace.durations("SparkEntry.construct", l.since)
      res.layers("SparkEntry.construct_ms") = (if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
      for (f <- Families)
        res.layers(s"SnapshotStore.build_s.$f") = (builds.getOrElse(f, 0.0), "s")
    }

    // Content: each query's rows and order-insensitive hash against the pins.
    val got = names.map { n =>
      val rows = entries(n)(spark, dir.toString).collect().toSeq.map(Canon.row)
      n -> (rows.size.toLong, Canon.hash(if (a.corrupt && n == names.head) rows :+ "(corrupt)" else rows))
    }.toMap
    for (n <- names)
      res.check(pins.get(n).contains(got(n)), s"$n content (rows, hash) ${got(n)} != pinned ${pins.get(n)}")
  }
}
