package graft

import org.apache.spark.sql.functions._
import graft.operators.Adaptive

/** Specs for the statistics-driven barrier's configuration handling. */
class AdaptiveSpec extends SparkSpec {

  test("a non-numeric barrier threshold falls back to the default instead of failing") {
    val input = spark.range(0, 1000).withColumn("k", col("id") % 7)
    val shared = input.groupBy("k").agg(count(lit(1)).as("n"))
    def rows(): Seq[String] =
      Adaptive.barrierIfBig(shared, input).collect().map(_.toString).sorted.toSeq
    val default = rows()
    try {
      spark.conf.set(Adaptive.MinInputBytesKey, "4MB")
      assert(rows() == default)
      // a valid value still takes effect: 0 forces the barrier path
      spark.conf.set(Adaptive.MinInputBytesKey, "0")
      assert(rows() == default)
    } finally spark.conf.unset(Adaptive.MinInputBytesKey)
  }
}
