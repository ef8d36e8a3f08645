package graft.sources

import java.io.{FileNotFoundException, IOException}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The last-writer-wins (LWW) commit log behind both keyed sinks: the
  * columnar [[KeyedUpsertSink]] (`foreachBatch`) and the row-level
  * [[KeyedForeachWriter]] (the reference's DynamoDB `ForeachWriter`,
  * `SparkDynamoDBConsumer.java:202-283`). It is the idempotent,
  * epoch-fenced sink commit that end-to-end exactly-once delivery rests
  * on, over nothing but a Hadoop `FileSystem` and a store directory — no
  * SparkSession, so the row sink runs it on executors. Store layout:
  *
  * {{{
  * commits/<seq>__<tag>       commit markers: the one record of what is committed
  * <dataDir>/<entry>          one data entry per marker, named by the front-end
  * _seq/<seq>                 sequence claims
  * _txn/<fenceKey>__<epoch>   fences for epochs whose markers compaction retired
  * }}}
  *
  *  - '''Sequence claim''' ([[claim]]). Every commit takes a store-wide
  *    sequence, the LWW order: one above the highest claim or committed
  *    sequence, taken by creating `_seq/<seq>` exclusively. A writer that
  *    loses the race re-reads and retries above the winner, so two commits
  *    never share a sequence. Claims on one store in one JVM also
  *    serialize on that store's lock ([[LwwLog.claimLock]]), because
  *    Hadoop's local `create(overwrite = false)` is check-then-create;
  *    claims on different stores do not wait on each other. Across
  *    processes the filesystem's atomic create (HDFS) is the guarantee,
  *    and an object store needs a conditional put (Delta's LogStore
  *    caveat). A crashed writer burns its claim: sequences are monotonic,
  *    not dense.
  *  - '''Marker-last commit''' ([[commit]]). The front-end stages its data
  *    at [[tmpPath]]; the commit deletes any uncommitted leftover at the
  *    final name, renames (a failed rename fails the commit — never a
  *    marker over missing data), then creates the marker. A crash before
  *    the marker leaves data no reader lists, and the same (writer, epoch)
  *    commits again on retry.
  *  - '''Replay fences.''' A marker's tag names the (fence key, epoch) it
  *    commits ([[fenceOf]]); the fence key is the writer id, plus the
  *    partition for the row sink. A front-end skips a replayed epoch by
  *    its live markers' epochs and then the key's `_txn` high-water mark
  *    ([[txnEpoch]]) — listed in that order, so a compaction that retires
  *    a marker between the two listings has already written its fence.
  *  - '''Compaction''' ([[compact]]) folds every live commit into one
  *    `compact-<maxSeq>[-n]` entry of per-key winners that keep their
  *    original stamps, so LWW order against later commits holds. Order:
  *    `_txn` fences (pruning superseded ones), compacted data, its marker,
  *    old markers, old data, then the `_seq` claims at or below `maxSeq`
  *    (the compacted marker carries `maxSeq` as the claim floor). Every
  *    crash point leaves invisible data or duplicate identical winners,
  *    which reads collapse; fences only ever record committed epochs. The
  *    `-n` uniquifier keeps a re-run over a crash-recovered store from
  *    reusing a live name. Compacted markers commit no epoch: they never
  *    become fences.
  *  - '''Writer ids''' become path segments: [[LwwLog.sanitize]] keeps them
  *    to a safe alphabet without `__`, appending a hash to any id it had to
  *    change so sanitized ids cannot collide.
  *
  * @param dataDir       the data entries' directory under the store
  * @param dataName      the data entry a marker commits
  * @param compactMarker the marker of compacted entry `name` folding up to `maxSeq`
  * @param tagFence      (fence key, epoch) of a front-end's marker tag
  */
private[graft] final class LwwLog(val fs: FileSystem, val store: String, dataDir: String,
    dataName: String => String, compactMarker: (Long, String) => String,
    tagFence: String => Option[(String, Long)]) {
  import LwwLog._

  private val commitsDir = new Path(store, "commits")
  private val entryDir = new Path(store, dataDir)
  private val seqDir = new Path(store, "_seq")
  private val txnDir = new Path(store, "_txn")

  private def statuses(dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: FileNotFoundException => Seq.empty }

  private def names(dir: Path): Seq[String] = statuses(dir).map(_.getPath.getName)

  /** Creates the commit directory, so a store nothing committed to yet
    * lists as empty.
    */
  def init(): Unit = fs.mkdirs(commitsDir)

  /** Live commit markers. */
  def markers(): Seq[String] = names(commitsDir)

  /** Live commit markers with their modification times: a content stamp
    * of the committed data, which a store recreated at the same path under
    * reused marker names does not share.
    */
  def markerTimes(): Seq[(String, Long)] =
    statuses(commitsDir).map(st => st.getPath.getName -> st.getModificationTime)

  def dataPath(marker: String): Path = new Path(entryDir, dataName(marker))

  def tmpPath(marker: String): Path = new Path(entryDir, s".tmp-${dataName(marker)}")

  /** (fence key, epoch) a live marker commits. */
  def fenceOf(marker: String): Option[(String, Long)] = {
    val t = tag(marker)
    if (t.startsWith(Compact)) None else tagFence(t)
  }

  /** `key`'s `_txn` high-water epoch: the last one compaction folded. */
  def txnEpoch(key: String): Option[Long] =
    names(txnDir).flatMap(keyEpoch).collect { case (`key`, e) => e }.maxOption

  def claim(): Long = claimLock(fs.makeQualified(seqDir)).synchronized {
    Iterator.fill(MaxRaces) {
      val next = (names(seqDir).flatMap(_.toLongOption) ++ markers().flatMap(seqOf))
        .foldLeft(-1L)(_ max _) + 1
      try { fs.create(new Path(seqDir, next.toString), false).close(); Some(next) }
      catch { case _: IOException => None } // lost the race: re-read
    }.flatten.nextOption()
      .getOrElse(sys.error(s"could not claim a commit sequence at $store after $MaxRaces races"))
  }

  def commit(marker: String): Unit = {
    val (tmp, dst) = (tmpPath(marker), dataPath(marker))
    fs.delete(dst, true) // uncommitted leftover from a crashed attempt
    // Hadoop rename signals most failures by returning false, not throwing
    require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
    fs.create(new Path(commitsDir, marker), true).close() // marker last: the commit point
  }

  /** Fold every live commit into one compacted entry; `write(markers,
    * tmp)` writes the per-key winners of `markers`, stamps kept, to `tmp`.
    */
  def compact(write: (Seq[String], Path) => Unit): Unit = {
    val live = markers()
    if (live.size <= 1) return
    val txn = names(txnDir)
    live.flatMap(fenceOf).groupMapReduce(_._1)(_._2)(_ max _).foreach { case (key, e) =>
      fs.create(new Path(txnDir, s"${key}__$e"), true).close()
      txn.filter(keyEpoch(_).exists { case (k, old) => k == key && old < e })
        .foreach(n => fs.delete(new Path(txnDir, n), false))
    }
    val maxSeq = (live.flatMap(seqOf) :+ 0L).max
    val taken = live.map(dataName).toSet
    val marker = Iterator.from(0)
      .map(i => compactMarker(maxSeq, if (i == 0) s"$Compact$maxSeq" else s"$Compact$maxSeq-$i"))
      .find(m => !taken(dataName(m))).get
    write(live, tmpPath(marker))
    commit(marker)
    live.foreach(m => fs.delete(new Path(commitsDir, m), false))
    live.foreach(m => fs.delete(dataPath(m), true))
    names(seqDir).filterNot(_.toLongOption.exists(_ > maxSeq))
      .foreach(n => fs.delete(new Path(seqDir, n), false))
  }
}

private[graft] object LwwLog {

  val DefaultWriter = "default"

  private val Compact = "compact-"
  private val MaxRaces = 1000
  private val claimLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** The claim lock of the store whose qualified `_seq` directory is
    * `seqDir`, shared by every [[LwwLog]] over that store (front-ends build
    * a log per call, so the lock cannot live on the instance). One entry
    * per store path claimed in this JVM.
    */
  private def claimLock(seqDir: Path): Object =
    claimLocks.computeIfAbsent(seqDir.toString, _ => new Object)

  /** A marker's `<seq>__` prefix, and the rest: its tag. Legacy markers
    * without the prefix are all tag.
    */
  private def split(marker: String): (Option[Long], String) = marker.split("__", 2) match {
    case Array(n, t) if n.nonEmpty && n.forall(_.isDigit) => (n.toLongOption, t)
    case _ => (None, marker)
  }

  def tag(marker: String): String = split(marker)._2

  /** The sequence a marker commits: its `<seq>__` prefix, else the `<seq>`
    * of a bare `compact-<seq>[-n]` or of a legacy bare-epoch name.
    */
  private def seqOf(marker: String): Option[Long] = split(marker) match {
    case (None, t) if t.startsWith(Compact) => t.stripPrefix(Compact).takeWhile(_ != '-').toLongOption
    case (None, t) => t.toLongOption
    case (seq, _) => seq
  }

  /** `<key>__<epoch>`, split at the last `__`: the `_txn` name format. */
  def keyEpoch(name: String): Option[(String, Long)] = {
    val i = name.lastIndexOf("__")
    if (i <= 0) None else name.substring(i + 2).toLongOption.map(name.take(i) -> _)
  }

  def sanitize(id: String): String = {
    val safe = id.map(c => if (c.isLetterOrDigit || c == '-' || c == '.') c else '_')
    if (safe == id && !id.contains("__")) safe
    else s"${safe.replace("__", "-")}-${Integer.toHexString(id.hashCode)}"
  }
}
