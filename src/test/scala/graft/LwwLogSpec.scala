package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, FileUtil, FilterFileSystem, Path}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.sources.{KeyedForeachWriter, KeyedUpsertSink, LwwLog}

/** The last-writer-wins commit log ([[graft.sources.LwwLog]]) checked once,
  * through both of its front-ends: a crash between the data rename and the
  * marker, burned sequence claims, replay fences across compaction, LWW
  * order after compaction, `_txn` holding only real writer fences, and the
  * on-disk names.
  */
class LwwLogSpec extends SparkSpec {

  private lazy val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** A front-end driven as writer `default` (partition 0 for the row sink). */
  private abstract class Front(val name: String, val dataDir: String, val fenceKey: String) {
    /** Commit `kvs` as `epoch`, unless the front-end fences it as a replay. */
    def commit(dir: String, epoch: Long, kvs: (String, String)*): Unit
    def read(dir: String): Map[String, String]
    def compact(dir: String): Unit
    def marker(seq: Long, epoch: Long): String
    def compacted(maxSeq: Long): String
    def entry(marker: String): String
  }

  private val columnar = new Front("KeyedUpsertSink", "seg", "default") {
    def commit(dir: String, epoch: Long, kvs: (String, String)*): Unit = {
      import spark.implicits._
      KeyedUpsertSink.upsert(spark, dir, Seq("key"), kvs.toDF("key", "value"), epoch, "default")
    }
    def read(dir: String): Map[String, String] = KeyedUpsertSink.read(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def compact(dir: String): Unit = KeyedUpsertSink.compact(spark, dir)
    def marker(seq: Long, epoch: Long): String = s"${seq}__default__$epoch"
    def compacted(maxSeq: Long): String = s"compact-$maxSeq"
    def entry(marker: String): String = marker
  }

  private val rowSchema = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))

  private val rows = new Front("KeyedForeachWriter", "data", "default__0") {
    def commit(dir: String, epoch: Long, kvs: (String, String)*): Unit = {
      val w = new KeyedForeachWriter(dir)
      if (w.open(0, epoch)) {
        kvs.foreach { case (k, v) => w.process(new GenericRowWithSchema(Array[Any](k, v), rowSchema)) }
        w.close(null)
      }
    }
    def read(dir: String): Map[String, String] = KeyedForeachWriter.read(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def compact(dir: String): Unit = KeyedForeachWriter.compact(spark, dir)
    def marker(seq: Long, epoch: Long): String = s"${seq}__default-$epoch-0"
    def compacted(maxSeq: Long): String = s"${maxSeq}__compact-$maxSeq"
    def entry(marker: String): String = marker.split("__", 2).last + ".log"
  }

  private def tmp(): String = Files.createTempDirectory("lwwlog").toString + "/store"

  private def names(dir: String, sub: String): Set[String] = {
    val p = new Path(dir, sub)
    if (!fs.exists(p)) Set.empty else fs.listStatus(p).map(_.getPath.getName).toSet
  }

  private def seqOf(marker: String): Long = marker.split("__")(0).toLong

  /** Leave the store as a crash after the data rename but before the
    * marker would: delete the newest commit's marker (the last step of a
    * commit). Returns the sequence that commit burned.
    */
  private def crashBeforeMarker(dir: String): Long = {
    val last = names(dir, "commits").maxBy(seqOf)
    assert(fs.delete(new Path(s"$dir/commits/$last"), false))
    seqOf(last)
  }

  for (f <- Seq(columnar, rows)) {

    test(s"${f.name}: a crash between data rename and marker is invisible; the same (writer, epoch) commits on retry") {
      val dir = tmp()
      f.commit(dir, 0, "a" -> "v0")
      val burned0 = crashBeforeMarker(dir)
      assert(fs.exists(new Path(s"$dir/${f.dataDir}/${f.entry(f.marker(burned0, 0))}")),
        "the crashed commit's data is in place, only its marker is missing")
      intercept[IllegalArgumentException](f.read(dir)) // nothing committed yet
      f.commit(dir, 0, "a" -> "v0-retry")
      assert(f.read(dir) == Map("a" -> "v0-retry"))
      f.commit(dir, 1, "a" -> "v1", "b" -> "b1")
      crashBeforeMarker(dir)
      assert(f.read(dir) == Map("a" -> "v0-retry"), "uncommitted data must not be read")
      f.commit(dir, 1, "a" -> "v1-retry")
      assert(f.read(dir) == Map("a" -> "v1-retry"))
    }

    test(s"${f.name}: the next claim is strictly greater than the burned claim") {
      val dir = tmp()
      f.commit(dir, 0, "a" -> "v0")
      f.commit(dir, 1, "a" -> "v1")
      val burned = crashBeforeMarker(dir)
      assert(names(dir, "_seq").contains(burned.toString), "the crashed commit's claim stays")
      f.commit(dir, 1, "a" -> "v1-retry")
      f.commit(dir, 2, "b" -> "v2")
      val later = names(dir, "commits").map(seqOf) - 0L
      assert(later == Set(burned + 1, burned + 2), s"claims after the burned $burned: $later")
    }

    test(s"${f.name}: a replay is skipped before and after compaction") {
      val dir = tmp()
      f.commit(dir, 0, "a" -> "v0", "b" -> "b0")
      f.commit(dir, 1, "a" -> "v1")
      val view = Map("a" -> "v1", "b" -> "b0")
      f.commit(dir, 1, "a" -> "replayed")
      f.commit(dir, 0, "b" -> "replayed")
      assert(f.read(dir) == view)
      assert(names(dir, "commits").size == 2, "a replay must not commit")
      f.compact(dir)
      assert(names(dir, "commits") == Set(f.compacted(1)))
      f.commit(dir, 1, "a" -> "replayed")
      f.commit(dir, 0, "b" -> "replayed")
      assert(f.read(dir) == view, "folded epochs stay fenced through _txn")
      assert(names(dir, "commits") == Set(f.compacted(1)))
    }

    test(s"${f.name}: compaction followed by a new commit keeps LWW order") {
      val dir = tmp()
      f.commit(dir, 0, "a" -> "v0", "b" -> "b0")
      f.commit(dir, 1, "b" -> "b1", "c" -> "c1")
      f.compact(dir)
      f.commit(dir, 2, "a" -> "v2")
      assert(f.read(dir) == Map("a" -> "v2", "b" -> "b1", "c" -> "c1"))
      f.commit(dir, 3, "c" -> "c3")
      f.compact(dir)
      f.commit(dir, 4, "b" -> "b4")
      assert(f.read(dir) == Map("a" -> "v2", "b" -> "b4", "c" -> "c3"))
    }

    test(s"${f.name}: _txn holds only real writer fences after re-folding a uniquified compaction") {
      val dir = tmp()
      val backup = tmp()
      f.commit(dir, 0, "a" -> "v0", "b" -> "b0")
      f.commit(dir, 1, "a" -> "v1")
      val conf = spark.sparkContext.hadoopConfiguration
      assert(FileUtil.copy(fs, new Path(dir), fs, new Path(backup), false, conf))
      f.compact(dir)
      // a crash after the compacted marker, before the inputs retired
      for (sub <- Seq("commits", f.dataDir); n <- names(backup, sub))
        assert(FileUtil.copy(fs, new Path(s"$backup/$sub/$n"), fs, new Path(s"$dir/$sub/$n"), false, conf))
      assert(names(dir, "commits").size == 3)
      f.compact(dir) // max sequence unchanged: the name is uniquified
      val uniquified = s"${f.compacted(1)}-1"
      assert(names(dir, "commits") == Set(uniquified))
      assert(f.read(dir) == Map("a" -> "v1", "b" -> "b0"))
      f.commit(dir, 2, "b" -> "b2")
      f.compact(dir) // re-folds the uniquified compaction
      assert(names(dir, "_txn") == Set(s"${f.fenceKey}__2"),
        "a compacted marker must never be parsed as a writer fence")
      assert(f.read(dir) == Map("a" -> "v1", "b" -> "b2"))
    }

    test(s"${f.name}: on-disk names of commits, claims, fences and compaction") {
      val dir = tmp()
      f.commit(dir, 0, "a" -> "v0")
      f.commit(dir, 1, "a" -> "v1")
      assert(names(dir, "commits") == Set(f.marker(0, 0), f.marker(1, 1)))
      assert(names(dir, f.dataDir) == Set(f.marker(0, 0), f.marker(1, 1)).map(f.entry))
      assert(names(dir, "_seq") == Set("0", "1"))
      f.compact(dir)
      assert(names(dir, "commits") == Set(f.compacted(1)))
      assert(names(dir, f.dataDir) == Set(f.entry(f.compacted(1))))
      assert(names(dir, "_txn") == Set(s"${f.fenceKey}__1"))
      assert(names(dir, "_seq").isEmpty)
      f.commit(dir, 2, "a" -> "v2")
      assert(names(dir, "commits") == Set(f.compacted(1), f.marker(2, 2)))
    }
  }

  test("a rename that returns false fails the commit before any marker exists") {
    val dir = tmp()
    val noRename = new FilterFileSystem(fs) {
      setConf(fs.getConf)
      override def rename(a: Path, b: Path): Boolean = false
    }
    val log = new LwwLog(noRename, dir, "seg", identity, (_, n) => n, LwwLog.keyEpoch)
    val marker = s"${log.claim()}__default__0"
    fs.create(log.tmpPath(marker), true).close()
    intercept[IllegalArgumentException](log.commit(marker))
    assert(log.markers().isEmpty, "a marker over missing data would fail every read")
  }

  test("writer ids Spark assigns keep their names; others are made safe without collisions") {
    val uuid = java.util.UUID.randomUUID.toString
    assert(LwwLog.sanitize(uuid) == uuid)
    assert(LwwLog.sanitize(LwwLog.DefaultWriter) == "default")
    val odd = Seq("a__b", "a b", "a_b", "a/b")
    val safe = odd.map(LwwLog.sanitize)
    assert(safe.forall(s => !s.contains("__") && !s.contains("/") && !s.contains(" ")))
    assert(safe.distinct.size == odd.size)
  }
}
