package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call: name, wall clock start/end, parent span and run id. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Long, startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  def wallS: Double = (endNs - startNs) / 1e9
  /** Job group under which the Spark jobs of this span run. */
  def group: String = s"perfbench:$runId:$id"
}

/** Spark-side counters of one job group. */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, shuffleWriteB, spillB, outputB = 0L
  /** Task [launch, finish) intervals, epoch ms. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    shuffleWriteB += o.shuffleWriteB; spillB += o.spillB; outputB += o.outputB
    intervals ++= o.intervals
  }
}

/** Attributes jobs, stages and task metrics to job groups. A job whose group
  * is not one the tracer set (a streaming query's own thread, for one) is
  * charged to the span open when it started.
  */
final class LayerListener(current: () => String) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]
  val groups = new ConcurrentHashMap[String, GroupStats]

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench:")).getOrElse(current())
    val s = stats(g)
    s.synchronized(s.jobs += 1)
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val s = stats(g)
      s.synchronized(s.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val s = stats(g)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        if (m != null) {
          s.taskRunMs += m.executorRunTime
          s.taskCpuNs += m.executorCpuTime
          s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          s.outputB += m.outputMetrics.bytesWritten
        }
      }
    }
}

/** Records spans around layer calls and, when `listen` is on, the Spark
  * work inside each through a [[LayerListener]]. Spans nest: a span's
  * counters include its children's, and its self time excludes them.
  */
final class Tracer(sc: SparkContext, val runId: String, listen: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  @volatile private var currentGroup: String = "perfbench:none"

  private val listener: Option[LayerListener] =
    if (listen) Some(new LayerListener(() => currentGroup)) else None
  listener.foreach(sc.addSparkListener)

  private def enter(s: Option[Span]): Unit = s match {
    case Some(p) =>
      sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
      currentGroup = p.group
    case None =>
      sc.clearJobGroup()
      currentGroup = "perfbench:none"
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), runId,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    enter(Some(s))
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      enter(open.headOption)
    }
  }

  def close(): Unit = listener.foreach(sc.removeSparkListener)

  /** Waits until every event of the finished jobs has reached the listener. */
  def drain(): Unit = if (listen) org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Counters of a span and its descendants. */
  def stats(s: Span): GroupStats = {
    val acc = new GroupStats
    listener.foreach { l =>
      subtree(s).foreach(c => Option(l.groups.get(c.group)).foreach(g => g.synchronized(acc.add(g))))
    }
    acc
  }

  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum

  /** Wall seconds of a span during which no task of its own ran: planning,
    * scheduling and other driver-side work.
    */
  def driverS(s: Span): Double = {
    val covered = stats(s).intervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busy = 0L
    var (curA, curB) = (-1L, -1L)
    covered.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    math.max(0.0, s.wallS - busy / 1000.0)
  }
}
