package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import org.scalatest.BeforeAndAfterAll

import graft.sources.KeyedUpsertSink

/** The parquet schema memo (`SnapshotStore.parquet`): `Tables` and
  * `KeyedUpsertSink` reads infer a schema once per content stamp, so a
  * repeated construction over unchanged files runs no Spark job, while a
  * rewrite, a new commit or a parquet conf flip re-infers.
  */
class SchemaMemoSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val Fence = "schema-memo-spec-fence"
  private val jobs, fences = new AtomicInteger
  private val counter = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.job.description") == Fence)) fences.incrementAndGet()
      else jobs.incrementAndGet()
  }

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(counter)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(counter)

  /** Waits until the listener has seen every job started so far: events
    * arrive in order, so seeing a fence job's start means every earlier
    * job start was delivered.
    */
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
  private def jobsOf[A](body: => A): (A, Int) = {
    drain()
    val before = jobs.get
    val a = body
    drain()
    (a, jobs.get - before)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("a second Tables.lineitem construction runs no job and returns the same rows") {
    val first = Tables.lineitem(spark, sf)
    val (second, n) = jobsOf(Tables.lineitem(spark, sf))
    assert(n == 0, s"second construction ran $n job(s)")
    val plain = spark.read.parquet(s"$sf/lineitem.parquet")
    assert(second.schema == plain.schema)
    assert(rows(second) == rows(first))
    assert(rows(second) == rows(plain))
  }

  test("a table rewritten in place with an added column shows it on the next call") {
    val base = tmp("memorewrite")
    Seq((1L, "a"), (2L, "b")).toDF("l_orderkey", "x").write.parquet(s"$base/lineitem.parquet")
    assert(Tables.lineitem(spark, base).columns.toSeq == Seq("l_orderkey", "x"))
    assert(jobsOf(Tables.lineitem(spark, base))._2 == 0)
    Seq((3L, "c", 7)).toDF("l_orderkey", "x", "y")
      .write.mode("overwrite").parquet(s"$base/lineitem.parquet")
    val after = Tables.lineitem(spark, base)
    assert(after.columns.toSeq == Seq("l_orderkey", "x", "y"))
    assert(rows(after) == Seq("[3,c,7]"))
  }

  /** Writes `events`-shaped rows to the single parquet file `file` with
    * parquet's own writer, so the footer carries no Spark schema and `ts`
    * is inferred from its logical type `tsType` alone.
    */
  private def writeRaw(file: String, tsType: String, rows: (Long, Long)*): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message m { required int64 event_id; required int64 ts ($tsType); }")
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts) => w.write(groups.newGroup().append("event_id", id).append("ts", ts)) }
    finally w.close()
  }

  /** Runs `body`, then restores `key` to its value before. */
  private def withConf[A](key: String)(body: => A): A = {
    val orig = spark.conf.getOption(key)
    try body finally orig.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("flipping inferTimestampNTZ re-infers the schema") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val base = tmp("memontz")
    writeRaw(s"$base/orders.parquet", "TIMESTAMP(MICROS,false)", 1L -> 1704103200000000L)
    withConf(key) {
      spark.conf.set(key, "true")
      assert(Tables.orders(spark, base).schema("ts").dataType == TimestampNTZType)
      assert(jobsOf(Tables.orders(spark, base))._2 == 0)
      spark.conf.set(key, "false")
      assert(Tables.orders(spark, base).schema("ts").dataType == TimestampType)
      spark.conf.set(key, "true")
      assert(Tables.orders(spark, base).schema("ts").dataType == TimestampNTZType)
    }
  }

  test("flipping nanosAsLong re-infers events.ts; the NANOS footer check is memoized with the schema") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val base = tmp("memonanos")
    writeRaw(s"$base/events.parquet", "TIMESTAMP(NANOS,true)", 1L -> 1704103200123456789L)
    val want = Seq(s"[1,${java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T10:00:00.123456Z"))}]")
    withConf(key) {
      assert(rows(Tables.events(spark, base)) == want)
      val (again, n) = jobsOf(Tables.events(spark, base))
      assert(n == 0, s"second construction ran $n job(s)")
      assert(rows(again) == want)
      spark.conf.set(key, "false")
      // a memo keyed by the files alone would serve the INT64 schema here
      val e = intercept[Exception](Tables.events(spark, base))
      assert(e.getMessage.contains("NANOS"), e.getMessage)
      spark.conf.set(key, "true")
      assert(rows(Tables.events(spark, base)) == want)
    }
  }

  test("a self-join over two Tables.events calls resolves both sides") {
    val n = Tables.events(spark, sf).count()
    val a = Tables.events(spark, sf)
    val b = Tables.events(spark, sf)
    assert(a.join(b, a("event_id") === b("event_id")).count() == n)
  }

  private def store(): String = tmp("memostore") + "/s"

  private def view(dir: String): Map[String, String] =
    KeyedUpsertSink.read(spark, dir).collect().map(r => r.getString(0) -> r.toSeq.drop(1).mkString(",")).toMap

  test("KeyedUpsertSink.read over unchanged markers runs no job at construction") {
    val dir = store()
    KeyedUpsertSink.upsert(spark, dir, Seq("k"), Seq(("a", 1), ("b", 2)).toDF("k", "v"), 0L, "w")
    KeyedUpsertSink.upsert(spark, dir, Seq("k"), Seq(("a", 3)).toDF("k", "v"), 1L, "w")
    val first = view(dir)
    val (df, n) = jobsOf(KeyedUpsertSink.read(spark, dir))
    assert(n == 0, s"a read over unchanged markers ran $n job(s) at construction")
    assert(df.collect().map(r => r.getString(0) -> r.getInt(1).toString).toMap == first)
    assert(first == Map("a" -> "3", "b" -> "2"))
  }

  test("a commit that widens the store schema is visible on the next read") {
    val dir = store()
    KeyedUpsertSink.upsert(spark, dir, Seq("k"), Seq(("a", 1), ("b", 2)).toDF("k", "v"), 0L, "w")
    assert(view(dir) == Map("a" -> "1", "b" -> "2"))
    KeyedUpsertSink.upsert(spark, dir, Seq("k"), Seq(("a", 5, "x")).toDF("k", "v", "w"), 1L, "w")
    assert(KeyedUpsertSink.read(spark, dir).columns.toSeq == Seq("k", "v", "w"))
    assert(view(dir) == Map("a" -> "5,x", "b" -> "2,null"))
    KeyedUpsertSink.compact(spark, dir)
    assert(view(dir) == Map("a" -> "5,x", "b" -> "2,null"))
  }

  test("a store recreated at the same path under the same marker names reads its new schema") {
    val dir = store()
    KeyedUpsertSink.upsert(spark, dir, Seq("k"), Seq(("a", 1)).toDF("k", "v"), 0L, "w")
    assert(view(dir) == Map("a" -> "1"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    KeyedUpsertSink.upsert(spark, dir, Seq("k"), Seq(("a", "x")).toDF("k", "w"), 0L, "w")
    assert(KeyedUpsertSink.read(spark, dir).columns.toSeq == Seq("k", "w"))
    assert(view(dir) == Map("a" -> "x"))
  }

  test("a store holding a legacy bare-epoch segment reads as before, memoized or not") {
    val dir = store()
    new java.io.File(s"$dir/commits").mkdirs()
    Seq(("a", 1), ("b", 2)).toDF("k", "v")
      .withColumn("__graft_epoch", lit(5L))
      .write.parquet(s"$dir/seg/5")
    Files.write(new java.io.File(s"$dir/commits/5").toPath, Array.emptyByteArray)
    Files.write(new java.io.File(s"$dir/_keys").toPath, "k".getBytes("UTF-8"))
    assert(view(dir) == Map("a" -> "1", "b" -> "2"))
    assert(jobsOf(KeyedUpsertSink.read(spark, dir))._2 == 0)
    assert(view(dir) == Map("a" -> "1", "b" -> "2"))
    KeyedUpsertSink.upsert(spark, dir, Seq("k"), Seq(("a", 10)).toDF("k", "v"))
    assert(view(dir) == Map("a" -> "10", "b" -> "2"))
    assert(jobsOf(KeyedUpsertSink.read(spark, dir))._2 == 0)
    assert(view(dir) == Map("a" -> "10", "b" -> "2"))
  }
}
