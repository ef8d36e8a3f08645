package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dev MEASUREMENT tool (round-18, verdict next-round 1): synthesize a
  * heavier bench tier from an existing testdata SF dir by deterministic
  * replication, so heavy-query A/Bs have signal the overhead-saturated
  * sf0.1 suite cannot give (a third of the suite runs FASTER on 8 cores
  * than 32 there; per-job overhead ~0.2 s/query dominates).
  *
  * NOT part of the query surface: never invoked by Bench/Verify, never
  * reads or writes `/root/testdata` (the source dir is read-only input),
  * and the output is a separate directory the operator points
  * `$SPARK_GRAFT_SF_DIR` at for QueryBench/Bench runs only.
  *
  * Scaling model (factor k, replica r ∈ [0, k)):
  *   - fact/corpus tables replicate with key offsets `id + r·stride`
  *     (stride = max(id)+1 of the KEYED table, shared by every foreign
  *     key that references it) — per-entity group sizes and join
  *     fan-outs keep their sf0.1 distribution while cardinality grows
  *     k×, which is how TPC-H itself scales;
  *   - replica r>0 documents get a ` r<r>` text suffix (n_chars
  *     recomputed) so cross-replica texts stay DISTINCT: exact/near-dup
  *     cluster sizes keep their sf0.1 distribution instead of every doc
  *     acquiring k-1 exact clones (a different — skew-stress — workload);
  *   - replica r>0 embeddings get a deterministic per-element jitter
  *     (±0.02, xxhash64-seeded) for the same reason: clones would make
  *     every corpus vector a 10-way exact tie;
  *   - `nation`/`region` are true dimensions and copy as-is;
  *   - replica r=0 rows are bit-identical to the source, so id-prefix
  *     request sets (`vec_id < 5` queries, serve ids 5..10) are the
  *     SAME requests against a k× corpus.
  *
  * Fact tables are written as 32 part files (the source tier is one
  * file per table, which caps most scans at one task — fine for the
  * driver contract, wrong for a tier whose purpose is exposing
  * parallelism); dims stay single-file.
  */
object HeavyTier {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftExtensions.local(cpusDefault = 32)

    def tbl(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("r", explode(sequence(lit(0), lit(factor - 1))))
    def shifted(c: String, s: Long): Column = col(c) + col("r") * lit(s)
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")

    val eventsStride = stride(tbl("events"), "event_id")
    val userStride   = stride(tbl("events"), "user_id")
    val docStride    = stride(tbl("documents"), "doc_id")
    val orderStride  = stride(tbl("orders"), "o_orderkey")
    val custStride   = stride(tbl("customer"), "c_custkey")
    val suppStride   = stride(tbl("supplier"), "s_suppkey")
    val partStride   = stride(tbl("part"), "p_partkey")

    write(replicate(tbl("events"))
      .select(shifted("event_id", eventsStride).as("event_id"), col("ts"),
        shifted("user_id", userStride).as("user_id"),
        col("event_type"), col("value"), col("props")),
      "events", 32)

    write(replicate(tbl("documents"))
      .withColumn("text",
        when(col("r") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" r"), col("r"))))
      .select(shifted("doc_id", docStride).as("doc_id"), col("text"),
        col("lang"), col("source"), length(col("text")).cast("long").as("n_chars")),
      "documents", 32)

    write(replicate(tbl("embeddings"))
      .withColumn("embedding",
        when(col("r") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x + (pmod(xxhash64(col("vec_id"), col("r"), i), lit(2001)) - lit(1000))
              .cast("double") * lit(2e-5)).cast("float"))))
      // vec_id is the embedded document's doc_id: shift by the documents'
      // stride so each replica's vectors stay paired with its documents
      .select(shifted("vec_id", docStride).as("vec_id"),
        col("embedding"), col("label")),
      "embeddings", 32)

    write(replicate(tbl("lineitem"))
      .select(shifted("l_orderkey", orderStride).as("l_orderkey"),
        shifted("l_partkey", partStride).as("l_partkey"),
        shifted("l_suppkey", suppStride).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")),
      "lineitem", 32)

    write(replicate(tbl("orders"))
      .select(shifted("o_orderkey", orderStride).as("o_orderkey"),
        shifted("o_custkey", custStride).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")),
      "orders", 32)

    write(replicate(tbl("customer"))
      .withColumn("c_name",
        when(col("r") === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit("_r"), col("r"))))
      .select(shifted("c_custkey", custStride).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", 8)

    write(replicate(tbl("supplier"))
      .withColumn("s_name",
        when(col("r") === 0, col("s_name"))
          .otherwise(concat(col("s_name"), lit("_r"), col("r"))))
      .select(shifted("s_suppkey", suppStride).as("s_suppkey"), col("s_name"),
        col("s_nationkey"), col("s_acctbal")),
      "supplier", 1)

    write(replicate(tbl("part"))
      .withColumn("p_name",
        when(col("r") === 0, col("p_name"))
          .otherwise(concat(col("p_name"), lit("_r"), col("r"))))
      .select(shifted("p_partkey", partStride).as("p_partkey"), col("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")),
      "part", 8)

    write(tbl("nation"), "nation", 1)
    write(tbl("region"), "region", 1)

    println(s"""{"heavytier":"$dst","factor":$factor,"src":"$src"}""")
    spark.stop()
  }
}
