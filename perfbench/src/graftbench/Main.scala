package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Arguments of one benchmark process; see `perfbench/run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cpus: Int, scratch: String, data: String, out: String,
                      smoke: Boolean, corrupt: Boolean)

/** What a run measured and checked. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics, gated by `BENCHMARK.json`. */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own named metrics, printed as report lines. */
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (traced runs). */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]

  def fail(msg: String): Unit = synchronized { problems += msg }

  /** One output check, counted as an attempted operation that fails when
    * the output does not match.
    */
  def check(ok: Boolean, msg: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; problems += msg }
  }

  /** Latency percentiles of `ms` as `<prefix>_p50_ms` / `<prefix>_tail_ms`,
    * with the tail's percentile and the sample count alongside.
    */
  def latencies(prefix: String, ms: Seq[Double]): Unit = latencies(prefix, ms, Stats.quantile(ms, _))

  /** As above, with `at` giving the latency at a percentile in [0, 1], for
    * a workload that defines its own.
    */
  def latencies(prefix: String, ms: Seq[Double], at: Double => Double): Unit =
    if (ms.nonEmpty) {
      val p = Stats.tail(ms)._1
      report(s"${prefix}_p50_ms") = (at(0.5), "ms")
      report(s"${prefix}_tail_ms") = (at(p / 100), "ms")
      report(s"${prefix}_tail_percentile") = (p, "%")
      report(s"${prefix}_samples") = (ms.size.toDouble, "count")
    }

  def json: String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    }
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    s"""{"correct":${problems.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""problems":${problems.map(p => "\"" + esc(p) + "\"").mkString("[", ",", "]")},""" +
      s""""e2e":${obj(e2e)},"report":${obj(report)},"layers":${obj(layers)}}"""
  }
}

object Main {
  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Runtime.getRuntime.availableProcessors,
      m("scratch"), m("data"), m("out"), m.getOrElse("smoke", "0") == "1",
      m.getOrElse("corrupt", "0") == "1")
  }

  /** A session set up like `graft.Bench`, with its warehouse in the run's
    * scratch area.
    */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .config("spark.local.dir", s"${a.scratch}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.scratch}/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Trace.on = a.trace
    val res = new Result
    val spark = session(a)
    try {
      a.workload match {
        case "serve_read_write" => Serve.run(spark, a, res)
        case "batch_registry" => Registry.run(spark, a, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (a.trace) Trace.write(java.nio.file.Paths.get(a.out + ".spans.jsonl"))
    } catch {
      case e: Throwable =>
        res.fail(s"run aborted: $e")
        e.printStackTrace()
    } finally {
      val w = new java.io.PrintWriter(a.out, "UTF-8")
      try w.println(res.json) finally w.close()
      spark.stop()
    }
  }
}

/** Set-up: everything a run does before its measured window, timed once. */
object Setup {
  def timed[T](make: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val t = Trace.span("setup", "setup")(make)
    ((System.nanoTime() - t0) / 1e9, t)
  }
}
