package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.sources.SnapshotStore

/** Parquet table loaders for the driver testdata star schema (TESTDATA.md).
  *
  * All serving/analytical queries read through here so that scan-level
  * optimizations (predicate pushdown, column pruning, partition coalescing)
  * apply uniformly. At cluster scale these would be catalog tables backed by
  * partitioned/bucketed storage; `local[*]` reads single parquet files.
  */
object Tables {
  /** Sessions already switched to nanos-as-long reads — the conf is a
    * one-time session concern, so it is set exactly once per session (weak
    * keys: dropped with the session) instead of on every query build.
    */
  private val nanosReady =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Parquet logical-type annotation of the `ts` column, read from one
    * part file's FOOTER — driver-side metadata only, no Spark job. It is a
    * fact about the same content as the schema, so [[events]] memoizes it
    * with the schema under the table's content stamp: an IN-PLACE
    * regeneration of the table mid-session re-reads the footer instead of
    * serving the previous generation's annotation (a path-only memo would
    * let a cached NANOS verdict wave through a regenerated plain-INT64
    * table — the exact silent misconversion the guard exists to stop).
    * (Round-9 ADVICE-1: the LongType dispatch arm below ASSUMED any INT64
    * `ts` was nanoseconds; the annotation distinguishes the cases exactly.)
    */
  private def tsAnnotation(spark: SparkSession, table: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(conf)
    val part =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .minBy(_.getName)
      else p
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      if (!schema.containsField("ts")) "absent"
      else Option(schema.getType(Seq("ts"): _*).getLogicalTypeAnnotation)
        .map(_.toString).getOrElse("none")
    } finally reader.close()
  }

  /** `events.ts` has shipped under two physical types across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized reader
    * rejects outright, so it is read as raw nanos (legacy conf, applied once
    * per session) and floor-converted to microsecond TimestampType, the same
    * truncation DuckDB applies — and plain TIMESTAMP(MICROS) (NTZ), which
    * needs only a cast to session-time TimestampType. Dispatch on the
    * schema actually read so either generation loads identically; every
    * downstream operator sees microsecond TimestampType either way. Both
    * dispatch arms now guard their assumptions loudly (round-9 ADVICE):
    * the INT64 arm verifies the footer says NANOS before dividing, and the
    * NTZ arm refuses non-UTC sessions instead of silently shifting
    * instants.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    if (nanosReady.add(spark))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val table = s"$dir/events.parquet"
    val (raw, facts) = SnapshotStore.parquet(spark, table, SnapshotStore.fingerprint(spark, table), Seq(table))(
      schema => if (schema("ts").dataType == LongType) Seq(tsAnnotation(spark, table)) else Nil)
    raw.schema("ts").dataType match {
      case LongType =>
        val ann = facts.mkString
        require(ann.contains("NANOS"),
          s"events.ts read as INT64 but its parquet logical type is '$ann', not " +
            "TIMESTAMP(NANOS) — the ts div 1000 nanos->micros conversion would " +
            "silently misconvert it; teach Tables.events this generation's unit")
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ =>
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ holding UTC wall-clock instants; casting " +
            s"to TimestampType under session timezone '$tz' would silently shift " +
            "them — set spark.sql.session.timeZone=UTC (every graft session builder does)")
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = SnapshotStore.parquet(spark, s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame = SnapshotStore.parquet(spark, s"$dir/embeddings.parquet")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = SnapshotStore.parquet(spark, s"$dir/lineitem.parquet")
  def orders(spark: SparkSession, dir: String): DataFrame     = SnapshotStore.parquet(spark, s"$dir/orders.parquet")
  def customer(spark: SparkSession, dir: String): DataFrame   = SnapshotStore.parquet(spark, s"$dir/customer.parquet")
  def supplier(spark: SparkSession, dir: String): DataFrame   = SnapshotStore.parquet(spark, s"$dir/supplier.parquet")
  def part(spark: SparkSession, dir: String): DataFrame       = SnapshotStore.parquet(spark, s"$dir/part.parquet")
  def nation(spark: SparkSession, dir: String): DataFrame     = SnapshotStore.parquet(spark, s"$dir/nation.parquet")
  def region(spark: SparkSession, dir: String): DataFrame     = SnapshotStore.parquet(spark, s"$dir/region.parquet")
}
