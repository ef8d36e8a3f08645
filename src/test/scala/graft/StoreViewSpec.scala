package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll

import graft.operators.Serving
import graft.sources.KeyedUpsertSink
import graft.streaming.Pipeline

/** The keyed store's read view: one materialization per commit stamp,
  * kept while the next stamp's view is current and released after it, a
  * fresh projection per call; and the empty micro-batch that commits
  * nothing.
  */
class StoreViewSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private lazy val jobs = new JobCount(spark)
  override def afterAll(): Unit = jobs.close()

  private def store(): String = Files.createTempDirectory("storeview").toString + "/s"

  private def put(dir: String, epoch: Long, rows: (String, Int)*): Unit =
    KeyedUpsertSink.upsert(spark, dir, Seq("k"), rows.toDF("k", "v"), epoch, "w")

  private def rows(df: DataFrame): Map[String, Int] =
    df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  private def markers(dir: String): Set[String] =
    Option(new java.io.File(s"$dir/commits").list()).fold(Set.empty[String])(_.toSet.filterNot(_.startsWith(".")))

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The cached relations a fresh query over `df`'s plan reads. */
  private def cached(df: DataFrame): Seq[InMemoryRelation] =
    df.select("*").queryExecution.optimizedPlan.collect { case r: InMemoryRelation => r }

  test("building a read runs no job, on a miss and on a hit") {
    val dir = store()
    put(dir, 0L, "a" -> 1, "b" -> 2)
    val (miss, n1) = jobs.of(KeyedUpsertSink.read(spark, dir))
    assert(n1 == 0, s"a miss ran $n1 job(s) at construction")
    assert(rows(miss) == Map("a" -> 1, "b" -> 2))
    val (hit, n2) = jobs.of(KeyedUpsertSink.read(spark, dir))
    assert(n2 == 0, s"a hit ran $n2 job(s) at construction")
    assert(rows(hit) == Map("a" -> 1, "b" -> 2))
  }

  test("a commit between two reads shows on the second read") {
    val dir = store()
    put(dir, 0L, "a" -> 1, "b" -> 2)
    assert(rows(KeyedUpsertSink.read(spark, dir)) == Map("a" -> 1, "b" -> 2))
    put(dir, 1L, "a" -> 3, "c" -> 4)
    assert(rows(KeyedUpsertSink.read(spark, dir)) == Map("a" -> 3, "b" -> 2, "c" -> 4))
  }

  test("a compaction leaves the rows identical") {
    val dir = store()
    put(dir, 0L, "a" -> 1, "b" -> 2)
    put(dir, 1L, "a" -> 3)
    val before = rows(KeyedUpsertSink.read(spark, dir))
    KeyedUpsertSink.compact(spark, dir)
    assert(KeyedUpsertSink.segmentCount(spark, dir) == 1)
    assert(rows(KeyedUpsertSink.read(spark, dir)) == before)
    assert(before == Map("a" -> 3, "b" -> 2))
  }

  test("a store recreated at the same path with the same segment names reads its new rows") {
    val dir = store()
    put(dir, 0L, "a" -> 1)
    assert(rows(KeyedUpsertSink.read(spark, dir)) == Map("a" -> 1))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    put(dir, 0L, "b" -> 2)
    assert(rows(KeyedUpsertSink.read(spark, dir)) == Map("b" -> 2))
  }

  test("a read that finds its store gone releases the store's views") {
    val dir = store()
    put(dir, 0L, "a" -> 1)
    val first = KeyedUpsertSink.read(spark, dir)
    assert(rows(first) == Map("a" -> 1))
    put(dir, 1L, "b" -> 2)
    val second = KeyedUpsertSink.read(spark, dir)
    assert(rows(second) == Map("a" -> 1, "b" -> 2))
    assert(cached(first).nonEmpty && cached(second).nonEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    intercept[IllegalArgumentException](KeyedUpsertSink.read(spark, dir))
    assert(cached(first).isEmpty && cached(second).isEmpty, "a gone store's views are still cached")
  }

  test("a store deleted and recreated at the same path reads its new rows and schema") {
    val dir = store()
    put(dir, 0L, "a" -> 1)
    assert(rows(KeyedUpsertSink.read(spark, dir)) == Map("a" -> 1))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    KeyedUpsertSink.upsert(spark, dir, Seq("k"), Seq(("z", "x", 7L)).toDF("k", "w", "n"), 0L, "w")
    val df = KeyedUpsertSink.read(spark, dir)
    assert(df.columns.toSeq == Seq("k", "w", "n"))
    assert(df.collect().map(_.toSeq).toSeq == Seq(Seq("z", "x", 7L)))
  }

  test("after 10 commit+read cycles at most two views per store are held: the current and the replaced") {
    val dir = store()
    val rddsBefore = persisted()
    val reads = (0 until 10).map { i =>
      put(dir, i.toLong, s"k$i" -> i)
      val df = KeyedUpsertSink.read(spark, dir)
      assert(df.count() == i + 1)
      df
    }
    val held = reads.map(cached)
    assert(held.dropRight(2).forall(_.isEmpty), "a view two stamps old is still in the CacheManager")
    assert(held.takeRight(2).forall(_.size == 1), "the current or the replaced view is not cached")
    val grown = persisted() -- rddsBefore
    assert(grown.size <= 2, s"persisted RDDs held for one store: $grown")
  }

  test("a self-join of two reads of one store resolves both sides") {
    val dir = store()
    put(dir, 0L, "a" -> 1, "b" -> 2)
    val l = KeyedUpsertSink.read(spark, dir)
    val r = KeyedUpsertSink.read(spark, dir)
    val j = l.join(r, l("k") === r("k")).select(l("k"), l("v"), r("v").as("v2"))
    assert(j.collect().map(x => (x.getString(0), x.getInt(1), x.getInt(2))).toSet ==
      Set(("a", 1, 1), ("b", 2, 2)))
  }

  test("two threads missing on the same stamp get identical answers and build one view") {
    val dir = store()
    put(dir, 0L, "a" -> 1, "b" -> 2)
    put(dir, 1L, "b" -> 5)
    val rddsBefore = persisted()
    val gate = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = (0 until 2).map(_ => pool.submit(() => {
        gate.await(30, TimeUnit.SECONDS)
        val df = KeyedUpsertSink.read(spark, dir)
        (df, rows(df))
      }))
      val got = fs.map(_.get(120, TimeUnit.SECONDS))
      assert(got.map(_._2).distinct == Seq(Map("a" -> 1, "b" -> 5)))
      // each read projects over the held view's plan; two builds would
      // leave two plans (the CacheManager alone would dedupe their caches)
      val Seq(l, r) = got.map(_._1.queryExecution.logical.children.head)
      assert(l eq r, "two views built for one stamp")
      assert(got.flatMap(g => cached(g._1)).map(_.cacheBuilder).distinct.size == 1)
      val grown = persisted() -- rddsBefore
      assert(grown.size == 1, s"persisted RDDs built for one stamp: $grown")
    } finally pool.shutdown()
  }

  test("a store above the broadcast threshold reads the same rows from a key-partitioned view") {
    val dir = store()
    put(dir, 0L, (0 until 50).map(i => s"k$i" -> i): _*)
    put(dir, 1L, (0 until 50 by 2).map(i => s"k$i" -> -i): _*)
    object aqe extends AdaptiveSparkPlanHelper
    def coalesced(df: DataFrame): Boolean =
      aqe.find(cached(df).head.cachedPlan)(_.isInstanceOf[CoalesceExec]).isDefined
    val single = KeyedUpsertSink.read(spark, dir)
    val want = rows(single)
    assert(coalesced(single), "a small store's view is not one partition")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
    try {
      val keyed = KeyedUpsertSink.read(spark, dir)
      assert(rows(keyed) == want)
      assert(!coalesced(keyed), "a store above the threshold is held as one partition")
      assert(want == (0 until 50).map(i => s"k$i" -> (if (i % 2 == 0) -i else i)).toMap)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a frame obtained before a commit keeps its own snapshot after the view is replaced") {
    val dir = store()
    put(dir, 0L, "a" -> 1, "b" -> 2)
    val old = KeyedUpsertSink.read(spark, dir)
    assert(rows(old) == Map("a" -> 1, "b" -> 2))
    // planned over the view before a commit and run after it, as a request
    // racing a writer is: the replaced view is still held, so the frame
    // reads its cache and persists nothing new
    val planned = KeyedUpsertSink.read(spark, dir)
    planned.queryExecution.executedPlan
    put(dir, 1L, "a" -> 9, "c" -> 3)
    assert(rows(KeyedUpsertSink.read(spark, dir)) == Map("a" -> 9, "b" -> 2, "c" -> 3))
    val before = persisted()
    assert(rows(planned) == Map("a" -> 1, "b" -> 2))
    assert(persisted() == before, s"the planned frame persisted ${persisted() -- before}")
    put(dir, 2L, "d" -> 4)
    assert(rows(KeyedUpsertSink.read(spark, dir)) == Map("a" -> 9, "b" -> 2, "c" -> 3, "d" -> 4))
    assert(cached(old).isEmpty, "a view two stamps old is still cached")
    val released = persisted()
    assert(rows(old.select("*")) == Map("a" -> 1, "b" -> 2))
    assert(persisted() == released, "a frame over a released view persisted it again")
  }

  test("a store that has only seen empty writes commits its first and reads as an empty frame") {
    val dir = store()
    put(dir, 0L)
    put(dir, 1L)
    assert(markers(dir).size == 1, "an empty store's first write is not its one segment")
    val df = KeyedUpsertSink.read(spark, dir)
    assert(df.columns.toSeq == Seq("k", "v"))
    assert(df.collect().isEmpty)
  }

  test("sub-threshold events through startAlerts and startAll leave an empty, readable alerts store") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val starts: Seq[(Pipeline, DataFrame) => Seq[StreamingQuery]] =
      Seq((p, in) => Seq(p.startAlerts(in)), (p, in) => p.startAll(in))
    for (start <- starts) {
      val input = MemoryStream[EventRec]
      val root = Files.createTempDirectory("storeviewquiet").toString
      val p = new Pipeline(spark, s"$root/store", s"$root/ckpt")
      val qs = start(p, input.toDF())
      try {
        (0 until 2).foreach { b =>
          input.addData((0 until 3).map { i =>
            EventRec(b * 10L + i, Timestamp.valueOf(f"2024-01-01 1$b:0$i:00"), i.toLong, "click", 50.0, "{}")
          }: _*)
          qs.foreach(_.processAllAvailable())
        }
      } finally qs.foreach(_.stop())
      val alerts = KeyedUpsertSink.read(spark, p.alertsStorePath)
      assert(alerts.collect().isEmpty)
      assert(Serving.alertSeverityCounts(alerts, spark).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("high" -> 0L, "critical" -> 0L))
    }
  }

  test("an empty upsert commits nothing: markers and the read stamp stay, the next read is a hit") {
    val dir = store()
    put(dir, 0L, "a" -> 1)
    val first = KeyedUpsertSink.read(spark, dir)
    assert(rows(first) == Map("a" -> 1))
    val before = markers(dir)
    put(dir, 1L)
    assert(markers(dir) == before)
    assert(!new java.io.File(s"$dir/seg").list().exists(_.startsWith(".tmp-")), "the temp dir is left behind")
    val (next, n) = jobs.of(KeyedUpsertSink.read(spark, dir))
    assert(n == 0)
    assert(cached(next).map(_.cacheBuilder) == cached(first).map(_.cacheBuilder), "the view was rebuilt")
    // a replay of the empty epoch is still a no-op, and the next epoch commits
    put(dir, 1L)
    assert(markers(dir) == before)
    put(dir, 2L, "a" -> 2)
    assert(markers(dir).size == 2)
    assert(rows(KeyedUpsertSink.read(spark, dir)) == Map("a" -> 2))
  }

  test("after writer batches through startAll no store holds a zero-row segment") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EventRec]
    val root = Files.createTempDirectory("storeviewpipe").toString
    val p = new Pipeline(spark, s"$root/store", s"$root/ckpt")
    val qs = p.startAll(input.toDF())
    try {
      (0 until 3).foreach { b =>
        input.addData((0 until 4).map { i =>
          EventRec(b * 10L + i, Timestamp.valueOf(f"2024-01-01 1$b:0$i:00"), i.toLong,
            if (i % 2 == 0) "click" else "purchase", 450.0, s"""{"k": $i}""")
        }: _*)
        qs.foreach(_.processAllAvailable())
      }
    } finally qs.foreach(_.stop())
    for (s <- Seq(p.rawStorePath, p.aggStorePath, p.alertsStorePath)) {
      val segs = markers(s).toSeq
      assert(segs.nonEmpty, s"$s holds no segment")
      val empty = segs.filter(m => spark.read.parquet(s"$s/seg/$m").count() == 0)
      assert(empty.isEmpty, s"$s holds zero-row segments $empty")
    }
  }
}
