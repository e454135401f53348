package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: wall time plus the Spark work it caused. */
final class Span(val id: Long, val name: String) {
  var wallS = 0.0
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskWaitS = 0.0
  var runS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planningS = 0.0
  val events = scala.collection.mutable.ArrayBuffer.empty[String]
}

/** Spans around the benchmark's calls into the engine, with Spark counters
  * attributed to the span that caused them. A span tags its jobs with a job
  * group, so stages and tasks find their span even when the engine submits
  * jobs from its own threads (they inherit the group). Planning phases come
  * from a QueryExecutionListener and land on the open span: the loop is
  * sequential and the listener bus is drained when a span closes.
  *
  * While disabled, spans still time their call but record no counters; the
  * listeners stay registered only while enabled.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val GroupPrefix = "perfbench-span-"
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile private var open: Span = _
  private var nextId = 0L
  private var enabled = false

  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(this); spark.listenerManager.register(this); enabled = true
  }

  def disable(): Unit = if (enabled) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(this); spark.listenerManager.unregister(this); enabled = false
  }

  /** Runs `body` as one span. Spans nest: counters and Telemetry events
    * land on the innermost open span.
    */
  def span[A](name: String)(body: => A): (A, Span) = {
    nextId += 1
    val s = new Span(nextId, name)
    val parent = open
    val before = graft.Telemetry.drain()
    if (parent != null) parent.events ++= before
    if (enabled) {
      byId.put(s.id, s)
      sc.setJobGroup(GroupPrefix + s.id, name)
    }
    open = s
    val t0 = System.nanoTime()
    try (body, s)
    finally {
      s.wallS = (System.nanoTime() - t0) / 1e9
      if (enabled) {
        org.apache.spark.perfbench.Bus.drain(sc)
        byId.remove(s.id)
        if (parent != null) sc.setJobGroup(GroupPrefix + parent.id, parent.name)
        else sc.clearJobGroup()
      }
      s.events ++= graft.Telemetry.drain()
      open = parent
    }
  }

  private def spanOf(props: java.util.Properties): Span = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(GroupPrefix))
      .flatMap(id => Option(byId.get(id.stripPrefix(GroupPrefix).toLong)))
      .getOrElse(open)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    if (s != null) {
      s.synchronized { s.jobs += 1 }
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, Long.box(t)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    Option(stageSpan.remove(id)).foreach(s => s.synchronized { s.stages += 1 })
    stageSubmitMs.remove(id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s == null) return
    val m = e.taskMetrics
    val submit = Option(stageSubmitMs.get(e.stageId))
    s.synchronized {
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      submit.foreach(t => s.taskWaitS += math.max(0L, e.taskInfo.launchTime - t.longValue) / 1e3)
      if (m != null) {
        s.runS += m.executorRunTime / 1e3
        s.cpuS += m.executorCpuTime / 1e9
        s.gcS += m.jvmGCTime / 1e3
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = open
    if (s != null) {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      s.synchronized { s.planningS += ms / 1e3 }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
