package graft

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import graft.operators.{CityEvents, StreamAggregates}
import graft.sources.KeyedUpsertSink
import graft.streaming.Pipeline

/** The topology's per-member parallelism: the domain-keyed stateful
  * members run one state partition, a checkpoint started at more keeps
  * its count, and the per-member, per-batch progress record.
  */
class StatePartitionSpec extends SparkSpec {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  private def ev(id: Long, t: String, typ: String = "click", v: Double = 50.0): EventRec =
    EventRec(id, Timestamp.valueOf(t), 1, typ, v, s"""{"k": $id}""")

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def statePartitions(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.lastProgress.stateOperators(0).numShufflePartitions

  test("after startAll and one batch the aggregation and monitoring members run one state partition") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val session = spark.conf.get(ShufflePartitions)
    val input = MemoryStream[EventRec]
    val p = new Pipeline(spark, tmp("sp-store"), tmp("sp-ckpt"))
    val qs = p.startAll(input.toDF())
    try {
      assert(spark.conf.get(ShufflePartitions) == session, "the session keeps its own value")
      input.addData(ev(1, "2024-01-01 10:00:00", v = 420.0), ev(2, "2024-01-01 10:01:00", typ = "view"))
      qs.foreach(_.processAllAvailable())
      val Seq(_, agg, _, monitoring) = qs
      assert(statePartitions(agg) == 1)
      assert(statePartitions(monitoring) == 1)
      assert(KeyedUpsertSink.read(spark, p.aggStorePath).count() == 2)
      assert(KeyedUpsertSink.read(spark, p.rawStorePath).count() == 2)
    } finally qs.foreach(_.stop())
  }

  test("a checkpoint first started at 4 state partitions restarts at 4 and leaves the rows of an uninterrupted run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(spark.conf.get(ShufflePartitions) == "4")
    val first = Seq(ev(1, "2024-01-01 10:00:10"), ev(2, "2024-01-01 10:01:00", typ = "view"))
    val second = Seq(ev(3, "2024-01-01 10:02:00"), ev(4, "2024-01-01 10:16:00", typ = "view"))
    val (store, ckpt) = (tmp("sp-up-store"), tmp("sp-up-ckpt"))
    val input = MemoryStream[EventRec]
    // the aggregation member as it was wired when it ran at the session's
    // partition count: same checkpoint dir, store, keys and writer
    val upsert: (DataFrame, Long) => Unit = (df, epoch) =>
      KeyedUpsertSink.upsert(df.sparkSession, s"$store/aggregations", Seq("partition_key"), df, epoch)
    val legacy = StreamAggregates.windowedAggregate(
        CityEvents.normalize(input.toDF()).withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$ckpt/aggregations")
      .foreachBatch(upsert)
      .start()
    try {
      input.addData(first)
      legacy.processAllAvailable()
      assert(statePartitions(legacy) == 4)
    } finally legacy.stop()
    val restarted = new Pipeline(spark, store, ckpt).startWindowedAgg(input.toDF())
    try {
      input.addData(second)
      restarted.processAllAvailable()
      assert(restarted.lastProgress.batchId > 0, "the restart resumed the checkpoint")
      assert(statePartitions(restarted) == 4)
    } finally restarted.stop()

    val freshInput = MemoryStream[EventRec]
    val fresh = new Pipeline(spark, tmp("sp-fresh-store"), tmp("sp-fresh-ckpt"))
    val q = fresh.startWindowedAgg(freshInput.toDF())
    try {
      Seq(first, second).foreach { b => freshInput.addData(b); q.processAllAvailable() }
      assert(statePartitions(q) == 1)
    } finally q.stop()
    def rows(path: String): Seq[String] =
      KeyedUpsertSink.read(spark, path).collect().map(_.toString).toSeq.sorted
    val got = rows(s"$store/aggregations")
    assert(got.nonEmpty)
    assert(got == rows(fresh.aggStorePath))
  }

  test("with graft.telemetry.dir set, startAll records each member batch, the aggregation's no-data batch included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val listeners = spark.streams.listListeners().toSet
    val offInput = MemoryStream[EventRec]
    val off = new Pipeline(spark, tmp("sp-off-store"), tmp("sp-off-ckpt")).startAlerts(offInput.toDF())
    try assert(spark.streams.listListeners().toSet == listeners, "unset, nothing is registered")
    finally off.stop()
    val dir = tmp("sp-telemetry")
    spark.conf.set("graft.telemetry.dir", dir)
    val p = try new Pipeline(spark, tmp("sp-tel-store"), tmp("sp-tel-ckpt"))
            finally spark.conf.unset("graft.telemetry.dir")
    val input = MemoryStream[EventRec]
    val qs = p.startAll(input.toDF())
    val added = spark.streams.listListeners().filterNot(listeners)
    try {
      assert(added.length == 1, "one listener per pipeline with the key set")
      input.addData(ev(1, "2024-01-01 10:00:00", v = 420.0), ev(2, "2024-01-01 10:01:00"))
      qs.foreach(_.processAllAvailable())
      val file = java.nio.file.Paths.get(dir, "progress.jsonl")
      def records: Seq[JValue] =
        if (!Files.exists(file)) Nil else Files.readAllLines(file).asScala.toSeq.map(parse(_))
      def str(j: JValue, k: String): String = (j \ k) match { case JString(s) => s; case other => other.toString }
      def num(j: JValue, k: String): BigInt = (j \ k) match { case JInt(n) => n; case other => fail(s"$k: $other") }
      def noDataAgg = records.filter(r => str(r, "member") == "aggregations" && num(r, "numInputRows") == 0)
      val deadline = System.nanoTime() + 60e9.toLong
      while ((noDataAgg.isEmpty || records.map(str(_, "member")).distinct.size < 4) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(records.map(str(_, "member")).toSet == Set("raw-events", "aggregations", "alerts", "console"))
      val r = noDataAgg.headOption.getOrElse(fail(s"no no-data aggregation record in $records"))
      assert(num(r, "batchId") >= 1)
      assert((r \ "durationMs" \ "triggerExecution").isInstanceOf[JInt])
      val JArray(Seq(state)) = r \ "stateOperators"
      assert(num(state, "partitions") == 1)
      Seq("rows", "bytes", "commitTimeMs").foreach(k => assert(num(state, k) >= 0))
      assert((r \ "watermark").isInstanceOf[JString] && str(r, "watermark") != "1970-01-01T00:00:00.000Z",
        s"the no-data batch runs at the advanced watermark: $r")
      qs.foreach(_.stop())
      val gone = System.nanoTime() + 60e9.toLong
      while (spark.streams.listListeners().exists(added.contains) && System.nanoTime() < gone)
        Thread.sleep(50)
      assert(!spark.streams.listListeners().exists(added.contains),
        "the listener removes itself once its members have terminated")
    } finally {
      qs.foreach(_.stop())
      added.foreach(spark.streams.removeListener)
    }
  }
}
