package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into a layer. Times are wall-clock epoch ms with
  * sub-ms precision, so they line up with Spark's listener events. */
case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                parent: Int, ref: String) {
  def ms: Double = endMs - startMs
}

/** Span recorder for the single client thread. Disabled, it only runs
  * the body; enabled, it keeps every span in memory until the run ends. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[A](name: String, ref: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, Clock.ms(), Double.NaN, parent, ref)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = Clock.ms())
      }
    }

  /** Self time: the span's own time minus its direct children's. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  def toJson: String = spans.map { s =>
    f"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${s.startMs}%.3f,""" +
    f""""end_ms":${s.endMs}%.3f,"parent":${s.parent},"ref":${Json.str(s.ref)},""" +
    f""""self_ms":${selfMs(s)}%.3f}"""
  }.mkString("[", ",\n", "]")
}

/** Epoch milliseconds with nanosecond-clock resolution, anchored once so
  * spans and Spark's epoch-ms event times share one axis. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Set[Int])
case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
                   cpuNs: Long, gcMs: Long, overheadMs: Long,
                   shuffleRead: Long, shuffleWrite: Long, spill: Long,
                   inBytes: Long, inRows: Long)

/** Spark-listener side of a traced run: every job and task, kept in
  * memory, reduced over time windows by [[ExecStats]]. */
final class ExecListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(JobRec(e.jobId, e.time, -1L, e.stageInfos.map(_.stageId).toSet))
    lastEventMs = System.currentTimeMillis()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    lastEventMs = System.currentTimeMillis()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val overhead = math.max(0L, (i.finishTime - i.launchTime) -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
      tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, overhead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }
    lastEventMs = System.currentTimeMillis()
  }

  /** The listener bus is asynchronous: wait until every started job has
    * ended and no event arrived for a short quiet period. */
  def drain(maxWaitMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    while (System.currentTimeMillis() < deadline &&
           (jobs.asScala.exists(_.endMs < 0) ||
            System.currentTimeMillis() - lastEventMs < 300))
      Thread.sleep(50)
  }
}

/** Streaming-listener side: every progress event of every query. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Listeners attached for the lifetime of a traced run; [[close]] removes
  * them, whatever happened in between. */
final class Listeners(spark: SparkSession) extends AutoCloseable {
  val exec = new ExecListener
  val progress = new ProgressListener
  spark.sparkContext.addSparkListener(exec)
  spark.streams.addListener(progress)
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(exec)
    spark.streams.removeListener(progress)
  }
}

/** Execution totals over the jobs started inside time windows. */
case class ExecStats(jobs: Int, stages: Int, tasks: Int, runS: Double,
                     cpuS: Double, gcS: Double, schedS: Double,
                     shuffleReadMb: Double, shuffleWriteMb: Double,
                     spillMb: Double, scanMb: Double, scanRows: Long,
                     taskMs: Seq[Double], jobMs: Double, maxConcurrentJobs: Int)

object ExecStats {
  private val MB = 1024.0 * 1024.0

  def over(l: ExecListener, windows: Seq[(Double, Double)]): ExecStats = {
    val js = l.jobs.asScala.toSeq.filter(j =>
      windows.exists { case (s, e) => j.startMs >= s - 1 && j.startMs <= e + 1 })
    val stageIds = js.flatMap(_.stages).toSet
    val ts = l.tasks.asScala.toSeq.filter(t => stageIds(t.stage))
    // union of job intervals = time the action spent with work submitted
    val iv = js.map(j => (j.startMs, math.max(j.startMs, j.endMs))).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    for ((s, e) <- iv) {
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val events = js.flatMap(j => Seq((j.startMs, 1), (math.max(j.startMs, j.endMs), -1)))
      .sortBy(x => (x._1, x._2))
    val maxConc = events.scanLeft(0)(_ + _._2).max
    ExecStats(js.size, stageIds.size, ts.size,
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.overheadMs).sum / 1e3,
      ts.map(_.shuffleRead).sum / MB, ts.map(_.shuffleWrite).sum / MB,
      ts.map(_.spill).sum / MB, ts.map(_.inBytes).sum / MB,
      ts.map(_.inRows).sum, ts.map(_.runMs.toDouble), covered.toDouble,
      maxConc)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
