package graft

/** Dev-only plan dump: prints formatted physical plans for key queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    // r18: sf dir/cores via the bench env vars — plan-shape claims that
    // depend on size statistics (broadcast vs shuffle, adaptive barriers)
    // only show at a tier big enough to clear the thresholds; the sf0.01
    // default auto-broadcasts everything and hides them.
    val spark = GraftExtensions.local(cpusDefault = 8)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.foreach { name =>
      println(s"==== $name ====")
      SparkEntry.queries(name)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
