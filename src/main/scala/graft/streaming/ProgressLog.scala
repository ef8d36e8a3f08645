package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryManager,
  StreamingQueryProgress}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The per-member, per-batch streaming progress record: one JSON line per
  * progress report of a tracked member, appended to `dir/progress.jsonl`
  * (`dir` is a local directory). Every micro-batch that ran reports,
  * including the no-data batch a watermarked member runs to advance its
  * watermark; triggers that ran no batch do not. A line holds the member,
  * the query id, `batchId`, the report's `timestamp`, `numInputRows`, the
  * `durationMs` breakdown, per state operator its rows, bytes, commit ms
  * and partitions, and the watermark (null before the first one).
  *
  * [[Pipeline]] makes one per pipeline when [[ProgressLog.DirKey]] is set,
  * and tracks each member it starts once `start` returns it; a report the
  * listener bus delivers before that is not recorded. The listener is on
  * `streams` only while it tracks a running query: the first `track`
  * registers it, and it removes itself once every tracked query has
  * terminated (a later `track` registers it again). Queries are tracked
  * by run id, so a restarted checkpoint's late termination of its previous
  * run does not end the record of its current one.
  */
private[streaming] final class ProgressLog(dir: String, streams: StreamingQueryManager)
    extends StreamingQueryListener {
  private val file = Paths.get(dir, "progress.jsonl")
  Files.createDirectories(file.getParent)
  private val members = new ConcurrentHashMap[UUID, String]
  private var registered = false // guarded by `this`

  def track(q: StreamingQuery, member: String): Unit = {
    synchronized {
      members.put(q.runId, member)
      if (!registered) { streams.addListener(this); registered = true }
    }
    // A query that ended before the listener was on the bus posts no
    // termination this listener sees (a query is inactive before it posts).
    if (!q.isActive) untrack(q.runId)
  }

  private def untrack(id: UUID): Unit = synchronized {
    if (members.remove(id) != null && members.isEmpty && registered) {
      streams.removeListener(this)
      registered = false
    }
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    untrack(e.runId)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(members.get(e.progress.runId)).foreach { member =>
      val line = ProgressLog.line(member, e.progress) + "\n"
      synchronized {
        Files.write(file, line.getBytes(UTF_8), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
    }
}

private[streaming] object ProgressLog {
  /** Session conf key: the directory of `progress.jsonl`. Unset, nothing is registered. */
  val DirKey = "graft.telemetry.dir"

  def line(member: String, p: StreamingQueryProgress): String = {
    val durations = p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> JLong(v) }
    val state = p.stateOperators.toList.map(so => JObject(
      "operator" -> JString(so.operatorName),
      "rows" -> JLong(so.numRowsTotal),
      "bytes" -> JLong(so.memoryUsedBytes),
      "commitTimeMs" -> JLong(so.commitTimeMs),
      "partitions" -> JLong(so.numShufflePartitions)))
    compact(render(JObject(
      "member" -> JString(member),
      "id" -> JString(p.id.toString),
      "batchId" -> JLong(p.batchId),
      "timestamp" -> JString(p.timestamp),
      "numInputRows" -> JLong(p.numInputRows),
      "durationMs" -> JObject(durations: _*),
      "stateOperators" -> JArray(state),
      "watermark" -> Option(p.eventTime.get("watermark")).map(JString(_)).getOrElse(JNull))))
  }
}
