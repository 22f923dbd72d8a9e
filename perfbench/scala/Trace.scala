package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Engine counters for one span, filled by [[JobTap]] from the task-end
  * events of the jobs the span launched. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuMs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  var inputBytes = 0L; var inputRecords = 0L; var outputBytes = 0L
}

/** A timed region of benchmark code around one call into a layer. */
final case class Span(id: Int, parent: Int, name: String, request: Int,
                      startNs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Attributes Spark jobs to spans through their job group: [[Tracer]]
  * sets the group to the innermost open span's id before each call, and
  * every job, stage and task of that call lands on that span. */
final class JobTap extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup = mutable.Map.empty[String, Counters]

  private def of(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    e.stageIds.foreach(stageGroup(_) = g)
    val c = of(g)
    c.jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageInfo.stageId, "-"))
    c.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, "-"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuMs += m.executorCpuTime / 1000000L
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Span recorder. Untraced, `span` only runs its body; traced, it records
  * the span in memory and tags its Spark jobs with the span's id. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var request = 0
  val tap: Option[JobTap] = if (on) {
    val t = new JobTap; sc.addSparkListener(t); Some(t)
  } else None

  def newRequest(): Int = { request += 1; request }

  /** Spans of set-up run `i` (from 1) carry request `-i`; 0 ends set-up. */
  def setupRun(i: Int): Unit = request = -i

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = open.headOption
      val s = Span(spans.size, parent.map(_.id).getOrElse(-1), name, request, System.nanoTime())
      spans += s
      open.push(s)
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        parent match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Counters of one span's own jobs (not its children's). */
  def counters(s: Span): Counters =
    tap.flatMap(t => t.synchronized(t.byGroup.get(s.id.toString))).getOrElse(new Counters)

  /** Self time: the span's duration minus what its children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum
}

/** Host-level contention counters, read before and after the measured
  * window: CPU pressure stall time, cgroup throttling and load. */
object Host {
  private def readFile(p: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
    catch { case _: Exception => None }

  /** Microseconds some task waited for a CPU (`/proc/pressure/cpu`). */
  def cpuStallUs(): Long = readFile("/proc/pressure/cpu").flatMap { s =>
    s.linesIterator.find(_.startsWith("some")).flatMap(
      _.split(" ").find(_.startsWith("total=")).map(_.drop(6).toLong))
  }.getOrElse(0L)

  /** Microseconds the cgroup was throttled (cgroup v2 or v1 `cpu.stat`). */
  def throttledUs(): Long = {
    def field(s: String, k: String) =
      s.linesIterator.map(_.split(" ")).collectFirst { case Array(`k`, v) => v.toLong }
    readFile("/sys/fs/cgroup/cpu.stat").flatMap(field(_, "throttled_usec"))
      .orElse(readFile("/sys/fs/cgroup/cpu/cpu.stat").flatMap(field(_, "throttled_time")).map(_ / 1000))
      .getOrElse(0L)
  }

  def loadAvg1(): Double =
    readFile("/proc/loadavg").map(_.split(" ")(0).toDouble).getOrElse(-1.0)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = readFile("/proc/self/status").flatMap(
    _.linesIterator.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong / 1024.0)
  ).getOrElse(0.0)
}
