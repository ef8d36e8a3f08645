package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. A fence job drains the
  * listener bus: events arrive in order, so once the fence's start is seen
  * every earlier job start was delivered.
  */
final class JobCount(spark: SparkSession) {
  private val Fence = s"job-count-fence-${System.identityHashCode(this)}"
  private val jobs, fences = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.job.description") == Fence)) fences.incrementAndGet()
      else jobs.incrementAndGet()
  }
  spark.sparkContext.addSparkListener(listener)

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  private def drain(): Unit = {
    val seen = fences.get
    val sc = spark.sparkContext
    sc.setJobDescription(Fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (fences.get <= seen) {
      assert(System.nanoTime() < deadline, "listener bus did not drain")
      Thread.sleep(2)
    }
  }

  /** `body`'s result and the Spark jobs it ran. */
  def of[A](body: => A): (A, Int) = {
    drain()
    val before = jobs.get
    val a = body
    drain()
    (a, jobs.get - before)
  }
}
