package graft

/** Dev micro-bench for A/B experiments on individual registry queries
  * (the interleaved-isolated-runs discipline of the round-14
  * localCheckpoint experiment, as a reusable main — [[Bench]] measures
  * the whole registry; this measures ONE change's target queries).
  *
  * Usage: QueryBench <sfDir> <iters> <query>...
  * Each named query is warmed twice untimed at the target SF (snapshot
  * builds amortize, codegen compiles), then timed `iters` times with the
  * canary (`q_raw_events`, floor 0.081 s — see [[Bench]]) interleaved so
  * every measurement carries its own host-load reading.
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val iters = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = GraftExtensions.local(cpusDefault = 32)
    def once(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    (names :+ "q_raw_events").foreach { n => once(n); once(n) }
    for (i <- 1 to iters) {
      val c = once("q_raw_events")
      names.foreach { n =>
        println(f"$n%s iter$i: ${once(n)}%.3f s (canary $c%.3f)")
      }
    }
    spark.stop()
  }
}
