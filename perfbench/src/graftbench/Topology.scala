package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{CityEvents, StreamAggregates}
import graft.sources.KeyedUpsertSink
import graft.streaming.Pipeline

/** The four-member CityStream topology fed from a [[MemoryStream]], and the
  * checks that compare what it stored with the batch operators.
  */
object Topology {
  /** Members in the order `Pipeline.startAll` returns them. */
  val Members: Seq[String] = Seq("raw", "agg", "alerts", "monitoring")
  val Stateful: Seq[String] = Seq("agg", "monitoring")
  val Stores: Seq[String] = Seq("raw_events", "aggregations", "alerts")
  /** Store keys as `Pipeline` upserts them. */
  val Keys: Map[String, Seq[String]] = Map(
    "raw_events" -> Seq("rec_id", "ts_str"),
    "aggregations" -> Seq("partition_key"),
    "alerts" -> Seq("city", "ts_str"))

  /** A started topology with its own store and checkpoint roots. */
  final class Running(spark: SparkSession, root: String, op: String) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val input = MemoryStream[Ev]
    val pipeline = new Pipeline(spark, s"$root/store", s"$root/checkpoint")
    private val queries = Trace.span("Pipeline.startAll", op)(pipeline.startAll(input.toDF()))
    val members: Map[String, String] = queries.map(_.id.toString).zip(Members).toMap
    def stores: Map[String, String] = Map(
      "raw_events" -> pipeline.rawStorePath,
      "aggregations" -> pipeline.aggStorePath,
      "alerts" -> pipeline.alertsStorePath)

    /** Add one micro-batch and wait until all four members committed it. */
    def push(events: Seq[Ev], op: String): Unit = Trace.span("Pipeline.batch", op) {
      input.addData(events)
      queries.foreach(_.processAllAvailable())
    }

    def stop(): Unit = queries.foreach(_.stop())
  }

  def read(spark: SparkSession, store: String, op: String, storeName: String): DataFrame =
    Trace.span(s"KeyedUpsertSink.read.$storeName", op)(KeyedUpsertSink.read(spark, store))

  /** The batch forms of the stores over `sent`, with the events in `late`
    * left out of the windowed aggregation as the watermark drops them.
    */
  final class BatchForms(spark: SparkSession, sent: Seq[Ev], late: Set[Long]) {
    import spark.implicits._
    val all: DataFrame = CityEvents.normalize(spark.createDataset(sent).toDF())
    val admitted: DataFrame =
      CityEvents.normalize(spark.createDataset(sent.filterNot(e => late(e.event_id))).toDF())
    def raw: DataFrame = StreamAggregates.rawEvents(all)
    def agg: DataFrame = StreamAggregates.windowedAggregate(admitted)
    def alerts: DataFrame = StreamAggregates.alerts(all).drop("ts")
    def monitoring: DataFrame = StreamAggregates.globalCounts(all)
  }

  /** Row count and an order-insensitive content hash. */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Checks of each store against its batch form, and of the monitoring
    * table against `monitoring`, one counted check each.
    */
  def storeChecks(spark: SparkSession, stores: Map[String, String], forms: BatchForms,
                  monitoring: DataFrame, res: Result): Seq[() => Unit] = {
    def same(name: String, got: => DataFrame, want: DataFrame): () => Unit = () => {
      val g = digest(got.select(want.columns.map(c => col(s"`$c`")): _*))
      val w = digest(want)
      res.check(g == w, s"$name: store (rows, hash) $g != batch form $w")
    }
    Seq(
      same("raw_events", KeyedUpsertSink.read(spark, stores("raw_events")), forms.raw),
      same("aggregations", KeyedUpsertSink.read(spark, stores("aggregations")), forms.agg),
      same("alerts", KeyedUpsertSink.read(spark, stores("alerts")), forms.alerts),
      same("monitoring", spark.table("monitoring"), monitoring))
  }

  /** Negative control: overwrite one aggregation row with a wrong count. */
  def corrupt(spark: SparkSession, stores: Map[String, String]): Unit = {
    val agg = KeyedUpsertSink.read(spark, stores("aggregations")).limit(1)
      .withColumn("event_count", col("event_count") + 1)
    KeyedUpsertSink.upsert(spark, stores("aggregations"), Keys("aggregations"), agg, 0L, "corrupt")
  }
}

/** Canonical text of result rows: doubles rounded to 9 significant digits,
  * so results that differ only in summation order compare equal.
  */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => value(f.toDouble)
    case r: Row => row(r)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }
  def row(r: Row): String = r.toSeq.map(value).mkString("(", ",", ")")

  /** Order-insensitive hash of a result's rows. */
  def hash(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
