package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Scheduler counters of one op, filled from listener events whose job
  * carries the op's job group. */
final class OpCounters {
  var jobs = 0
  var jobsEnded = 0
  var stages = 0
  var tasks = 0
  var tasksOk = 0
  var scanBytes = 0L
  var scanRows = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall seconds covered by at least one of the op's jobs. */
  def jobSeconds: Double = {
    var covered = 0L
    var reach = Long.MinValue
    for ((s, e) <- jobIntervals.sortBy(_._1)) {
      val from = math.max(s, reach)
      if (e > from) covered += e - from
      reach = math.max(reach, e)
    }
    covered / 1000.0
  }
}

/** One span of the trace: a pass, an op, or a Spark job. Times are epoch
  * milliseconds; `parent` is the id of the span that caused it. */
final case class Span(id: String, kind: String, name: String,
    start: Long, end: Long, parent: String)

/** Listener that attributes jobs, stages and tasks to the op whose job
  * group launched them. Jobs map to stages exactly through
  * `JobStart.stageIds`; a stage belongs to the first job that lists it,
  * which is the job that runs it. Events without a benchmark job group
  * are ignored. */
final class Tracer(groupPrefix: String) extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, OpCounters]()
  private val groupOfJob = new ConcurrentHashMap[Int, String]()
  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def counters(group: String): OpCounters =
    byGroup.computeIfAbsent(group, _ => new OpCounters)

  def spans: Seq[Span] = jobSpans.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(groupPrefix))
    group.foreach { g =>
      groupOfJob.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(groupOfStage.putIfAbsent(_, g))
      val c = counters(g)
      c.synchronized { c.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(groupOfJob.get(e.jobId)).foreach { g =>
      val start: Long = jobStart.getOrDefault(e.jobId, e.time)
      jobSpans.add(Span(s"job-${e.jobId}", "job", s"job ${e.jobId}",
        start, e.time, g))
      val c = counters(g)
      c.synchronized {
        c.jobsEnded += 1
        c.jobIntervals += ((start, e.time))
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(groupOfStage.get(e.stageInfo.stageId)).foreach { g =>
      val c = counters(g)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(groupOfStage.get(e.stageId)).foreach { g =>
      val c = counters(g)
      c.synchronized {
        c.tasks += 1
        if (e.taskInfo != null && e.taskInfo.successful) c.tasksOk += 1
        val m = e.taskMetrics
        if (m != null) {
          c.scanBytes += m.inputMetrics.bytesRead
          c.scanRows += m.inputMetrics.recordsRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }

  /** Waits until every job this tracer saw has delivered its end event
    * (the scheduler posts a job's task ends before its job end), so the
    * counters are complete. */
  def drain(timeoutMs: Long = 30000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = byGroup.values().asScala.exists(c => c.synchronized(c.jobs != c.jobsEnded))
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    !pending
  }
}

/** Process counters read from the benchmark's side: `/proc/self/io`
  * character counts, resident-set high-water mark and GC time. */
object ProcCounters {
  private def procFields(file: String): Map[String, String] = {
    val p = java.nio.file.Paths.get("/proc/self", file)
    if (!java.nio.file.Files.isReadable(p)) Map.empty
    else java.nio.file.Files.readAllLines(p).asScala.flatMap { line =>
      line.split(":", 2) match {
        case Array(k, v) => Some(k.trim -> v.trim)
        case _ => None
      }
    }.toMap
  }

  /** (rchar, wchar): bytes this process passed to read and write calls. */
  def io(): (Long, Long) = {
    val f = procFields("io")
    (f.get("rchar").map(_.toLong).getOrElse(0L),
      f.get("wchar").map(_.toLong).getOrElse(0L))
  }

  /** Peak resident set size in MiB (VmHWM). */
  def peakRssMb(): Double =
    procFields("status").get("VmHWM")
      .map(_.stripSuffix("kB").trim.toLong / 1024.0).getOrElse(0.0)

  /** Cumulative GC seconds over every collector of this JVM. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
}
