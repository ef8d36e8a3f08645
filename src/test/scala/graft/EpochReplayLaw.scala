package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.Assertions

/** The replay law of [[graft.streaming.EpochService]]'s effectively-once
  * contract, run by every epoch service's spec with its own fixture:
  *
  *  - after epochs 0 and 1, replaying epoch 1 leaves every output dir's
  *    row multiset unchanged, for both epochs;
  *  - after deleting epoch 1's last-written output (a crash mid-epoch),
  *    the replay restores it exactly.
  */
object EpochReplayLaw extends Assertions {

  /** Drive `b0` as epoch 0 and `b1` as epoch 1 through `run` (the
    * service's `runBatch` over `outDir`), then check the law over
    * `outputs` (dir names under `outDir`, in write order).
    */
  def check(spark: SparkSession, outDir: String, outputs: Seq[String],
            b0: DataFrame, b1: DataFrame)(
      run: (DataFrame, Long) => Unit): Unit = {
    run(b0, 0L)
    run(b1, 1L)
    def snapshot(): Map[(String, Long), Seq[String]] =
      (for (o <- outputs; e <- Seq(0L, 1L)) yield (o, e) ->
        spark.read.parquet(s"$outDir/$o/epoch=$e").collect().toSeq
          .map(render).sorted).toMap
    val before = snapshot()
    assert(before.values.exists(_.nonEmpty),
      s"fixture must produce rows to compare: $before")
    run(b1, 1L)
    val replayed = snapshot()
    assert(replayed == before,
      s"replaying epoch 1 changed an output: ${diff(before, replayed)}")
    val lost = new Path(s"$outDir/${outputs.last}/epoch=1")
    lost.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(lost, true)
    run(b1, 1L)
    val restored = snapshot()
    assert(restored == before,
      s"replay after losing $lost did not restore it: ${diff(before, restored)}")
  }

  private def diff(a: Map[(String, Long), Seq[String]],
                   b: Map[(String, Long), Seq[String]]): String =
    a.keys.toSeq.sorted.filter(k => a(k) != b(k))
      .map(k => s"$k: ${a(k)} -> ${b(k)}").mkString("; ")

  /** A stable text form of a value: byte arrays in hex, maps by key. */
  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("(", ",", ")")
    case x => x.toString
  }
}
