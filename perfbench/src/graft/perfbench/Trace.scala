package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: times are milliseconds since the recorder
  * started; `parent` is -1 for an op's root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Double, var endMs: Double = Double.NaN)

/** Spans and per-op counters of one benchmark run, kept in memory and
  * written out at the end.
  *
  * With tracing off, `op`/`span` only run their bodies. With tracing
  * on, every span boundary drains the Spark listener bus, so the
  * SparkListener / QueryExecutionListener / StreamingQueryListener
  * callbacks of the work inside a span have all landed before the next
  * span opens; counters are then attributed to the op (and span name)
  * that was open. Jobs carry the open span's id as the local property
  * `perfbench.span`; jobs started on threads that did not inherit it
  * (the streaming query's execution thread) fall back to the innermost
  * open span. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile private var current: Span = null
  @volatile private var currentOp = -1
  private val byId = mutable.Map.empty[Int, Span]

  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val jobIntervals = mutable.Map.empty[Int, ArrayBuffer[(Double, Double)]]

  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - t0EpochMs).toDouble

  /** Run `body` as op `opId`: a root span named `name`. */
  def op[T](opId: Int, name: String)(body: => T): T = {
    if (!traced) return body
    currentOp = opId
    try span(name)(body) finally currentOp = -1
  }

  def span[T](name: String)(body: => T): T = {
    if (!traced) return body
    drain()
    val s = this.synchronized {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        currentOp, nowMs)
      spans += s; byId(s.id) = s
      stack = s :: stack
      current = s
      s
    }
    sc.setLocalProperty("perfbench.span", s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      drain()
      this.synchronized {
        stack = stack.tail
        current = stack.headOption.orNull
      }
      sc.setLocalProperty("perfbench.span",
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  private def drain(): Unit = PerfbenchBus.drain(sc)

  private def spanOf(id: String): Span = this.synchronized {
    Option(id).flatMap(i => byId.get(i.toInt)).getOrElse(current)
  }

  private def add(op: Int, key: String, v: Double): Unit =
    if (op >= 0) this.synchronized {
      val m = counters.getOrElseUpdate(op, mutable.Map.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }

  /** Counters of one op (empty map if it recorded none). */
  def countersOf(op: Int): Map[String, Double] = this.synchronized {
    counters.get(op).map(_.toMap).getOrElse(Map.empty)
  }

  def jobIntervalsOf(op: Int): Seq[(Double, Double)] = this.synchronized {
    jobIntervals.get(op).map(_.toSeq).getOrElse(Seq.empty)
  }

  // ---- Spark execution: jobs, stages, tasks ---------------------------

  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Double)]

  private object ExecListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(Option(e.properties)
        .map(_.getProperty("perfbench.span")).orNull)
      val op = if (s == null) -1 else s.op
      Recorder.this.synchronized {
        e.stageIds.foreach(stageOp(_) = op)
        jobStart(e.jobId) = (op, epochToMs(e.time))
      }
      add(op, "exec.jobs", 1)
      if (s != null) add(op, s"jobs@${s.name}", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Recorder.this.synchronized {
        jobStart.remove(e.jobId).foreach { case (op, start) =>
          if (op >= 0)
            jobIntervals.getOrElseUpdate(op, ArrayBuffer.empty) +=
              ((start, epochToMs(e.time)))
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = Recorder.this.synchronized(
        stageOp.getOrElse(e.stageInfo.stageId, -1))
      add(op, "exec.stages", 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = Recorder.this.synchronized(stageOp.getOrElse(e.stageId, -1))
      if (op < 0) return
      add(op, "exec.tasks", 1)
      if (e.reason != Success) add(op, "exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(op, "exec.task_run_ms", m.executorRunTime.toDouble)
        add(op, "exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add(op, "exec.gc_ms", m.jvmGCTime.toDouble)
        add(op, "exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(op, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(op, "exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        // Spark UI's scheduler delay: task wall time not spent running,
        // deserializing, serializing the result or fetching it
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        add(op, "exec.scheduler_wait_ms", math.max(0L, delay).toDouble)
      }
    }
  }

  // ---- planning, scans, aggregation, writes ---------------------------

  private object Plans extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
  }

  private object QueryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = current
      val op = if (s == null) -1 else s.op
      if (op < 0) return
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { ph =>
        phases.get(ph).foreach(p => add(op, s"catalyst.${ph}_ms", p.durationMs.toDouble))
      }
      def metric(n: SparkPlan, k: String): Double =
        n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      Plans.nodes(qe.executedPlan).foreach {
        case scan: FileSourceScanExec =>
          add(op, "sources.files_read", metric(scan, "numFiles"))
          add(op, "sources.partitions_read", metric(scan, "numPartitions"))
          add(op, "sources.bytes_read", metric(scan, "filesSize"))
          add(op, "sources.rows_read", metric(scan, "numOutputRows"))
          add(op, "sources.metadata_ms", metric(scan, "metadataTime"))
        case w: DataWritingCommandExec =>
          val where = s.name
          add(op, s"write.parts@$where", metric(w, "numParts"))
          add(op, s"write.bytes@$where", metric(w, "numOutputBytes"))
        case n if n.metrics.contains("aggTime") =>
          add(op, "operators.agg_ms", metric(n, "aggTime"))
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- streaming progress ---------------------------------------------

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val op = currentOp
      if (op < 0 || p.numInputRows <= 0) return
      val d = p.durationMs.asScala
      add(op, "streaming.trigger_ms", d.get("triggerExecution").map(_.toDouble).getOrElse(0.0))
      add(op, "streaming.add_batch_ms", d.get("addBatch").map(_.toDouble).getOrElse(0.0))
      add(op, "streaming.input_rows", p.numInputRows.toDouble)
    }
  }

  if (traced) {
    sc.addSparkListener(ExecListener)
    spark.listenerManager.register(QueryListener)
    spark.streams.addListener(StreamListener)
  }

  def close(): Unit = if (traced) {
    drain()
    sc.removeSparkListener(ExecListener)
    spark.listenerManager.unregister(QueryListener)
    spark.streams.removeListener(StreamListener)
  }

  /** Add a benchmark-side count (rows returned, fill rows, …) to an op. */
  def count(op: Int, key: String, v: Double): Unit = add(op, key, v)
}
