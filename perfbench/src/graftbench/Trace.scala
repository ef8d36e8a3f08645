package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each module, plus
  * counters from Spark's public listener surfaces. Everything is kept in
  * memory and written out once, when the run ends. With tracing off,
  * [[span]] only runs its body and no listener is registered.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, op: String,
                        startNs: Long, endNs: Long)

  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** Record `body` as span `name` of operation `op` (the batch, request or
    * query it serves), child of the span open on this thread.
    */
  def span[T](name: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, op, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  /** Durations in ms of the spans named `name` that started at or after `fromNs`. */
  def durations(name: String, fromNs: Long): Seq[Double] =
    spans.asScala.iterator.filter(s => s.name == name && s.startNs >= fromNs)
      .map(s => (s.endNs - s.startNs) / 1e6).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }

  /** Spark task, stage and job counters. */
  final class TaskCounters extends SparkListener {
    val jobs, stages, tasks, runMs, cpuNs, inputBytes, shuffleRead, shuffleWrite, spill = new AtomicLong
    def reset(): Unit =
      Seq(jobs, stages, tasks, runMs, cpuNs, inputBytes, shuffleRead, shuffleWrite, spill).foreach(_.set(0))
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Catalyst phase times of every finished action, and the duration of
    * each parquet write into a store's segment directory, by store.
    */
  final class ActionTimes extends QueryExecutionListener {
    val analysisMs, optimizationMs, planningMs = new DoubleAdder
    val writes = new ConcurrentLinkedQueue[(String, Double)]()
    def reset(): Unit = { analysisMs.reset(); optimizationMs.reset(); planningMs.reset(); writes.clear() }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => analysisMs.add(p.durationMs.toDouble))
      ph.get("optimization").foreach(p => optimizationMs.add(p.durationMs.toDouble))
      ph.get("planning").foreach(p => planningMs.add(p.durationMs.toDouble))
      qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
        .foreach { out =>
          Topology.Stores.find(store => out.contains(s"/$store/seg/"))
            .foreach(store => writes.add(store -> durationNs / 1e6))
        }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Every progress report of the streaming queries. */
  final class Progress extends StreamingQueryListener {
    val reports = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = reports.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** The listeners of one traced run, registered on `spark`. */
  final class Listeners(spark: SparkSession) {
    val tasks = new TaskCounters
    val actions = new ActionTimes
    val progress = new Progress
    spark.sparkContext.addSparkListener(tasks)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(actions)
    spark.streams.addListener(progress)
    private var fromNs = 0L

    /** Start of the measured window: counters restart here. */
    def mark(): Unit = { tasks.reset(); actions.reset(); progress.reports.clear(); fromNs = System.nanoTime() }
    def since: Long = fromNs

    /** Per-layer metrics over the measured window. `members` maps a
      * streaming query id to its topology member; `ops` is the number of
      * foreground operations the window completed.
      */
    def layers(members: Map[String, String], ops: Int): mutable.LinkedHashMap[String, (Double, String)] = {
      val out = mutable.LinkedHashMap.empty[String, (Double, String)]
      val perOp = math.max(ops, 1).toDouble
      val reps = progress.reports.asScala.toSeq
      for (member <- Topology.Members) {
        val mine = reps.filter(p => members.get(p.id.toString).contains(member) && p.numInputRows > 0)
        def med(key: String): Double = {
          val xs = mine.flatMap(p => Option(p.durationMs.get(key)).map(_.toDouble))
          if (xs.isEmpty) 0.0 else Stats.median(xs)
        }
        out(s"Pipeline.$member.trigger_ms") = (med("triggerExecution"), "ms")
        out(s"Pipeline.$member.planning_ms") = (med("queryPlanning"), "ms")
        out(s"Pipeline.$member.wal_ms") = (med("walCommit") + med("commitOffsets"), "ms")
        out(s"Pipeline.$member.add_batch_ms") = (med("addBatch"), "ms")
      }
      for (member <- Topology.Stateful) {
        val mine = reps.filter(p => members.get(p.id.toString).contains(member))
        val ops = mine.flatMap(_.stateOperators.toSeq)
        val last = mine.lastOption.flatMap(_.stateOperators.headOption)
        out(s"StreamAggregates.$member.state_rows") = (last.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
        out(s"StreamAggregates.$member.state_bytes") = (last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
        out(s"StreamAggregates.$member.state_commit_ms") =
          (if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.commitTimeMs.toDouble)), "ms")
        out(s"StreamAggregates.$member.rows_dropped_late") = (ops.map(_.numRowsDroppedByWatermark.toDouble).sum, "count")
      }
      val writes = actions.writes.asScala.toSeq
      for (store <- Topology.Stores) {
        val ws = writes.collect { case (`store`, ms) => ms }
        out(s"KeyedUpsertSink.write_ms.$store") = (if (ws.isEmpty) 0.0 else Stats.median(ws), "ms")
      }
      out("Catalyst.analysis_ms") = (actions.analysisMs.sum / perOp, "ms")
      out("Catalyst.optimization_ms") = (actions.optimizationMs.sum / perOp, "ms")
      out("Catalyst.planning_ms") = (actions.planningMs.sum / perOp, "ms")
      out("spark.jobs") = (tasks.jobs.get / perOp, "count")
      out("spark.stages") = (tasks.stages.get / perOp, "count")
      out("spark.tasks") = (tasks.tasks.get / perOp, "count")
      out("spark.task_run_ms") = (tasks.runMs.get / perOp, "ms")
      out("spark.task_cpu_ms") = (tasks.cpuNs.get / 1e6 / perOp, "ms")
      out("spark.input_bytes") = (tasks.inputBytes.get / perOp, "bytes")
      out("spark.shuffle_read_bytes") = (tasks.shuffleRead.get / perOp, "bytes")
      out("spark.shuffle_write_bytes") = (tasks.shuffleWrite.get / perOp, "bytes")
      out("spark.spill_bytes") = (tasks.spill.get / perOp, "bytes")
      out
    }
  }
}
