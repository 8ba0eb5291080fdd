package erbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Outside-in tracer. It never reaches into the program: the benchmark
  * wraps each call into a module's public function in [[span]], which
  * records the span and sets a Spark job group for the span's duration; a
  * SparkListener tags every job and task with the group that was current
  * when the job was submitted, so a span's tasks are exactly the tasks of
  * the jobs its own call ran (child spans set their own group).
  *
  * Everything is kept in memory and read once the SparkContext has been
  * stopped, because stopping drains the asynchronous listener bus. The
  * arithmetic over spans and tasks (self time, driver gap, skew) is done
  * by `stats.py`, next to its tests.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  val spans = ArrayBuffer[Span]()
  val tasks = ArrayBuffer[Task]()
  val jobs = ArrayBuffer[Job]()
  private val stageGroup = scala.collection.mutable.HashMap[Int, String]()
  private var stack: List[(Int, String)] = Nil // open spans: (id, name)
  private var nextId = 0
  /** Run id stamped on every span opened from now on. */
  var run: String = ""

  // Span times share the epoch-millisecond clock of the listener's task
  // times, with sub-millisecond resolution from the monotonic clock.
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  sc.addSparkListener(this)

  /** Time `body` as one span of `module`, nested under the open span. */
  def span[A](module: String, name: String = "")(body: => A): A = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.fold(0)(_._1)
    val label = if (name.isEmpty) module else name
    stack = (id, label) :: stack
    sc.setJobGroup(group(id), label)
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack = stack.tail
      spans += Span(id, module, label, parent, run, start, end)
      stack.headOption match {
        case Some((p, pLabel)) => sc.setJobGroup(group(p), pLabel)
        case None => sc.clearJobGroup()
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobGroupKey))).getOrElse("")
    jobs += Job(e.jobId, g)
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      tasks += Task(stageGroup.getOrElse(e.stageId, ""), e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead)
    }
  }
}

object Tracer {
  def group(spanId: Int): String = s"erbench-$spanId"

  /** Local property Spark stores the job group under (SparkContext's own
    * constant for it is package-private). */
  private val JobGroupKey = "spark.jobGroup.id"

  /** Times are epoch milliseconds; `parent` 0 means a root span. */
  final case class Span(id: Int, module: String, name: String, parent: Int, run: String,
      start: Double, end: Double)
  final case class Task(group: String, stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long)
  final case class Job(id: Int, group: String)
}
