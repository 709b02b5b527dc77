package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around layer calls plus, when attached, raw Spark events.
  *
  * Spans are always recorded (a span is two clock reads). The listeners
  * are attached only around traced ops: a `SparkListener` for job and
  * stage records, a `QueryExecutionListener` for planning time and scan
  * file counts, and a `StreamingQueryListener` for micro-batch progress.
  * Nothing is aggregated here: every record is kept raw and written out at
  * run end, and the reporting script derives the per-layer metrics.
  * Timestamps are `System.currentTimeMillis`, the clock Spark stamps its
  * listener events with.
  */
final class Tracer(spark: SparkSession) {
  // (name, op, t0 ms, t1 ms, seconds)
  val spans = new ConcurrentLinkedQueue[(String, Int, Long, Long, Double)]()
  // (jobId, start ms, end ms, stage ids)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[(Int, Long, Long, Seq[Int])]()
  // (stageId, attempt, tasks, runMs, shuffleWriteBytes, spillBytes, gcMs, completion ms)
  val stages = new ConcurrentLinkedQueue[(Int, Int, Int, Long, Long, Long, Long, Long)]()
  // (planning start ms, planning ms, files read by scans)
  val plans = new ConcurrentLinkedQueue[(Long, Double, Long)]()
  // (progress ms, input rows, addBatch ms, triggerExecution ms)
  val progress = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  @volatile var op: Int = -1

  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try body finally {
      spans.add((name, op, t0, System.currentTimeMillis(),
        (System.nanoTime() - n0) / 1e9))
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, st) =>
        jobs.add((e.jobId, t0, e.time, st)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add((i.stageId, i.attemptNumber(), i.numTasks,
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
        i.completionTime.getOrElse(System.currentTimeMillis())))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values.toSeq
      if (ph.nonEmpty) {
        val t0 = ph.map(_.startTimeMs).min
        val ms = ph.map(_.durationMs).sum.toDouble
        plans.add((t0, ms, filesRead(qe.executedPlan)))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      progress.add((java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        ms("addBatch"), ms("triggerExecution")))
    }
  }

  /** Files read by every file scan of an executed plan (AQE stages
    * unwrapped), from the scan nodes' `numFiles` SQL metric.
    */
  private def filesRead(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other =>
      other.children.map(filesRead).sum + other.subqueries.map(filesRead).sum
  }

  @volatile private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    quiesce()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Listener events are delivered asynchronously: wait (bounded) until
    * every started job has ended and no record has arrived for 100 ms.
    */
  def quiesce(): Unit = {
    def seen = jobs.size + stages.size + plans.size + progress.size
    val deadline = System.currentTimeMillis() + 3000
    var last = -1
    var since = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        !(jobStarts.isEmpty && last == seen && System.currentTimeMillis() - since >= 100)) {
      if (seen != last) { last = seen; since = System.currentTimeMillis() }
      Thread.sleep(10)
    }
  }
}
