package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary, in epoch milliseconds: the
  * clock the Spark listeners report in.
  */
final case class Span(id: Int, parent: Int, name: String, start: Double,
                      end: Double, attrs: Map[String, String])

object Trace {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds at sub-millisecond resolution. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory span and listener recorder for a traced run.
  *
  * The benchmark's own code opens spans around each call into a layer
  * (`span`); the Spark listeners add one span per job, per Catalyst
  * phase and per streaming trigger. The listeners are attached only
  * for the traced part of a run, and `span` records nothing while `on`
  * is false, so an untraced run pays one volatile read per call.
  */
final class Trace {
  @volatile var on = false
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  // scheduler, task, shuffle, scan and storage totals while tracing
  val stageSums = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    stageSums.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  def sum(k: String): Long = Option(stageSums.get(k)).map(_.get).getOrElse(0L)

  /** Runs `body` inside a span named `name` (a child of the caller's
    * open span on this thread). Returns the body's value.
    */
  def span[A](name: String, attrs: Map[String, String] = Map.empty)(body: => A): A = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val parents = stack.get()
    val parent = parents.headOption.getOrElse(0)
    stack.set(id :: parents)
    val t0 = Trace.nowMs()
    try body
    finally {
      spans.add(Span(id, parent, name, t0, Trace.nowMs(), attrs))
      stack.set(parents)
    }
  }

  /** Records an already-measured interval (from a listener or another
    * thread). Listeners are attached only for the traced part of a run,
    * and their events arrive after the fact, so this is not gated on `on`.
    */
  def record(name: String, start: Double, end: Double,
             attrs: Map[String, String] = Map.empty): Unit =
    spans.add(Span(ids.incrementAndGet(), 0, name, start, end, attrs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))

  /** Scheduler, task, shuffle, scan and storage events. */
  val sparkListener: SparkListener = new SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { t0 =>
        record("exec.job", t0.toDouble, e.time.toDouble, Map("job" -> e.jobId.toString))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      add("exec.stages", 1)
      add("exec.tasks", si.numTasks)
      val tm = si.taskMetrics
      if (tm != null) {
        add("tasks.run_ms", tm.executorRunTime)
        add("tasks.cpu_ns", tm.executorCpuTime)
        add("tasks.gc_ms", tm.jvmGCTime)
        add("tasks.deser_ms", tm.executorDeserializeTime)
        add("shuffle.write_bytes", tm.shuffleWriteMetrics.bytesWritten)
        add("shuffle.write_ns", tm.shuffleWriteMetrics.writeTime)
        add("shuffle.read_bytes", tm.shuffleReadMetrics.localBytesRead +
          tm.shuffleReadMetrics.remoteBytesRead)
        add("scan.bytes_read", tm.inputMetrics.bytesRead)
        add("scan.records_read", tm.inputMetrics.recordsRead)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (e.blockUpdatedInfo.blockId.isRDD && e.blockUpdatedInfo.storageLevel.isValid)
        add("storage.rdd_blocks", 1)
  }

  /** Catalyst phase times from `qe.tracker`, one span per phase. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        record(s"catalyst.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  /** Per-trigger progress of the streaming layer and its state store. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val state = p.stateOperators.headOption
      record("stream.trigger", start, start + d.getOrElse("triggerExecution", 0L),
        d.map { case (k, v) => k -> v.toString }.toMap ++ Map(
          "rows" -> p.numInputRows.toString,
          "state.rows" -> state.map(_.numRowsTotal.toString).getOrElse("0"),
          "state.bytes" -> state.map(_.memoryUsedBytes.toString).getOrElse("0"),
          "state.commit_ms" -> state.map(_.commitTimeMs.toString).getOrElse("0")))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}
