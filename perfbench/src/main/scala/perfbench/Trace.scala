package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchEventBridge
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, SaveIntoDataSourceCommand}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * of the wall clock, which Spark stamps its job, SQL and micro-batch
  * events with. `parent` is the id of the causing span: an operation's id
  * for a job (its local property), else -1 until [[Report.link]]
  * resolves it.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty,
                      tags: Map[String, String] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory span and counter store. Listener callbacks arrive on the
  * listener-bus threads, so every mutation is synchronized. Recording
  * is gated by `on`: listeners stay registered for the whole run, and
  * the untraced part of a run costs them only the gate check.
  */
object Tracer {
  @volatile var on = false
  private val buf = ArrayBuffer[Span]()
  private var nextId = 0L
  private val epochOffsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Epoch milliseconds on the monotonic clock, for timing operations. */
  def nowMs(): Double = System.nanoTime() / 1e6 + epochOffsetMs

  /** Epoch milliseconds on the wall clock, for span boundaries. */
  def clockMs(): Double = System.currentTimeMillis().toDouble

  def newId(): Long = synchronized { nextId += 1; nextId }

  def add(s: Span): Unit = if (on) synchronized { buf += s }

  def spans: Seq[Span] = synchronized(buf.toList)

  /** The local property that links Spark jobs to the bench operation
    * whose thread (or a thread it started) submitted them.
    */
  val OpProperty = "perfbench.op"
}

/** Spark job, stage and task events, as spans and per-job counters, and
  * SQL executions, as spans with their Catalyst phase times (from the
  * execution's `QueryExecution.tracker`). A job names its execution by
  * the `spark.sql.execution.id` property.
  */
final class JobListener extends SparkListener {
  private val sqlStart = scala.collection.concurrent.TrieMap[Long, Double]()
  private val jobStart = scala.collection.concurrent.TrieMap[Int, (Double, Map[String, String])]()
  private val stageJob = scala.collection.concurrent.TrieMap[Int, Int]()
  private val jobAgg = scala.collection.concurrent.TrieMap[Int, Array[Double]]()
  // per-job accumulators: stages, tasks, failed, run ms, cpu ns, gc ms,
  // input bytes, shuffle write bytes, shuffle read bytes, spill bytes
  private def agg(job: Int) = jobAgg.getOrElseUpdate(job, new Array[Double](10))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Tracer.on) {
    val p = Option(e.properties).map { props =>
      Seq(Tracer.OpProperty, JobListener.ExecutionId,
        "spark.sql.execution.root.id")
        .flatMap(k => Option(props.getProperty(k)).map(k -> _)).toMap
    }.getOrElse(Map.empty)
    jobStart.put(e.jobId, (e.time.toDouble, p))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Tracer.on) stageJob.get(e.stageInfo.stageId).foreach(j =>
      agg(j).synchronized(agg(j)(0) += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Tracer.on) {
    stageJob.get(e.stageId).foreach { j =>
      val a = agg(j)
      a.synchronized {
        a(1) += 1
        if (!e.taskInfo.successful) a(2) += 1
        Option(e.taskMetrics).foreach { m =>
          a(3) += m.executorRunTime
          a(4) += m.executorCpuTime
          a(5) += m.jvmGCTime
          a(6) += m.inputMetrics.bytesRead
          a(7) += m.shuffleWriteMetrics.bytesWritten
          a(8) += m.shuffleReadMetrics.totalBytesRead
          a(9) += m.diskBytesSpilled
        }
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Tracer.on) {
    jobStart.remove(e.jobId).foreach { case (t0, props) =>
      val a = jobAgg.remove(e.jobId).getOrElse(new Array[Double](10))
      val names = Seq("stages", "tasks", "failed_tasks", "run_ms", "cpu_ns",
        "gc_ms", "input_b", "shuffle_write_b", "shuffle_read_b", "spill_b")
      Tracer.add(Span(Tracer.newId(),
        props.get(Tracer.OpProperty).map(_.toLong).getOrElse(-1L),
        "job", s"job-${e.jobId}", t0, math.max(t0, e.time.toDouble),
        names.zip(a).toMap, props))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (Tracer.on) e match {
    case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time.toDouble)
    case s: SparkListenerSQLExecutionEnd =>
      sqlStart.remove(s.executionId).foreach { t0 =>
        val qe = PerfbenchEventBridge.queryExecution(s)
        val phases = qe.map(_.tracker.phases).getOrElse(Map.empty)
        def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        Tracer.add(Span(Tracer.newId(), -1L, "sql", s"sql-${s.executionId}",
          t0, math.max(t0, s.time.toDouble),
          Map("analysis_ms" -> ms("analysis"),
            "optimization_ms" -> ms("optimization"),
            "planning_ms" -> ms("planning"),
            "store_write" -> (if (qe.exists(JobListener.writesStore)) 1.0 else 0.0)),
          Map(JobListener.ExecutionId -> s.executionId.toString)))
      }
    case _ =>
  }
}

object JobListener {
  val ExecutionId = "spark.sql.execution.id"

  /** A write command whose target is the snapshot store: catalog DML
    * and INSERT (a V2 write on a graft table), the `graft-snapshot`
    * DataFrame door, or a file write into a store's directory tree (a
    * store root holds a `manifests` directory).
    */
  def writesStore(qe: QueryExecution): Boolean = qe.analyzed.exists {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.getClass.getName.startsWith("graft.")
      case _ => false
    }
    case s: SaveIntoDataSourceCommand =>
      s.dataSource.getClass.getName.startsWith("graft.")
    case i: InsertIntoHadoopFsRelationCommand =>
      Iterator.iterate(new java.io.File(i.outputPath.toUri.getPath))(_.getParentFile)
        .takeWhile(_ != null).take(4).exists(d => new java.io.File(d, "manifests").isDirectory)
    case _ => false
  }
}

/** Micro-batch progress. Always registered (through
  * `spark.sql.streaming.streamingQueryListeners`): the untraced run
  * reads `triggerExecution` from it for `microbatch_p50_s`.
  */
final class BatchListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    BatchListener.started.put(e.id.toString, iso(e.timestamp))
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Double =
      if (d.containsKey(k)) d.get(k).doubleValue() else 0.0
    val start = iso(p.timestamp)
    val trigger = ms("triggerExecution")
    if (BatchListener.recording) BatchListener.synchronized {
      BatchListener.triggers += trigger / 1000.0
    }
    if (Tracer.on) {
      val ops = p.stateOperators
      val queryStart = BatchListener.started.getOrElse(p.id.toString, start)
      Tracer.add(Span(Tracer.newId(), -1L, "microbatch",
        s"batch-${p.id}-${p.batchId}", start, start + trigger,
        Map("add_batch_ms" -> ms("addBatch"),
          "query_planning_ms" -> ms("queryPlanning"),
          "wal_commit_ms" -> ms("walCommit"),
          "commit_offsets_ms" -> ms("commitOffsets"),
          "latest_offset_ms" -> ms("latestOffset"),
          "get_batch_ms" -> ms("getBatch"),
          "state_rows" -> ops.map(_.numRowsTotal.toDouble).sum,
          "state_mem_b" -> ops.map(_.memoryUsedBytes.toDouble).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
          "query_start" -> queryStart,
          "batch_id" -> p.batchId.toDouble),
        Map("query_id" -> p.id.toString)))
    }
  }

  private def iso(ts: String): Double =
    java.time.Instant.parse(ts).toEpochMilli.toDouble
}

object BatchListener {
  @volatile var recording = false
  val triggers: ArrayBuffer[Double] = ArrayBuffer()
  val started = scala.collection.concurrent.TrieMap[String, Double]()
}
