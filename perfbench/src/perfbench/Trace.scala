package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark work attributed to one span: job/stage/task counts and the task
  * metrics the per-layer report needs. Task times are kept per stage so the
  * skew of the heaviest stage can be read off.
  */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteNs = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    execRunMs += o.execRunMs; execCpuNs += o.execCpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteNs += o.shuffleWriteNs
    shuffleReadBytes += o.shuffleReadBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes
    o.taskMs.foreach { case (s, ts) =>
      taskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
  }

  /** max ÷ median task time of the stage with the most task time. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val heaviest = taskMs.values.maxBy(_.sum).sorted
      val med = heaviest(heaviest.size / 2)
      heaviest.last.toDouble / math.max(med, 1L)
    }

  def toJson: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""exec_run_ms":$execRunMs,"exec_cpu_ns":$execCpuNs,"gc_ms":$gcMs,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""shuffle_write_ns":$shuffleWriteNs,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"fetch_wait_ms":$fetchWaitMs,""" +
      s""""spill_bytes":$spillBytes,"task_skew":$taskSkew}"""
}

/** Listener the benchmark installs. Always on: job intervals and the RDD
  * block storage total (for the peak cached memory of a solve). Task
  * counters are kept per job group, which the [[Tracer]] sets to the
  * innermost open span, so each counter lands on the span that issued it.
  */
final class BenchListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val blocks = mutable.Map.empty[String, Long]
  val groups = mutable.Map.empty[String, Counts]
  /** (start, end) epoch-ms of every finished job, in completion order. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stored = 0L
  private var peak = 0L

  private def counts(g: String) = groups.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    counts(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      counts(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.execRunMs += m.executorRunTime
      c.execCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        stored += info.memSize - blocks.getOrElse(key, 0L)
        if (info.memSize > 0) blocks(key) = info.memSize else blocks.remove(key)
        peak = math.max(peak, stored)
      }
    }

  /** Bytes of RDD blocks held in memory now. */
  def storedBytes: Long = synchronized(stored)
  /** Highest [[storedBytes]] since the last [[resetPeak]]. */
  def peakBytes: Long = synchronized(peak)
  def resetPeak(): Unit = synchronized { peak = stored }
}

/** One traced interval. `parent` is -1 for the root of a trace; all spans
  * of one solve or one set-up share `trace`. Times are System.nanoTime.
  */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    var start: Long, var end: Long)

object Span {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.end - s.start - covered(c, s.start, s.end))
    }.toMap
  }
}

/** In-memory span recorder. Disabled, [[span]] just runs its body, so the
  * untraced runs pay nothing but a branch. Enabled, each open span becomes
  * the driver thread's Spark job group, which is how [[BenchListener]]
  * attributes jobs and task counters to spans.
  */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextTrace = 0
  /** nanoTime → epoch nanoseconds, to compare spans with listener times. */
  val epochOffsetNs: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def group(s: Span): String = s"span-${s.id}"

  def open(name: String): Span = {
    val parent = stack.headOption
    val trace = parent.map(_.trace).getOrElse { nextTrace += 1; nextTrace }
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1), trace, name,
      System.nanoTime(), -1L)
    spans += s
    stack ::= s
    sc.setJobGroup(group(s), name, interruptOnCancel = false)
    s
  }

  def close(s: Span): Unit = {
    s.end = System.nanoTime()
    stack = stack.dropWhile(_ ne s).drop(1)
    stack.headOption match {
      case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
      case None    => sc.clearJobGroup()
    }
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  def toJson(listener: BenchListener): String = {
    val self = Span.selfTimes(spans.toSeq)
    spans.map { s =>
      val c = listener.groups.getOrElse(group(s), new Counts)
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${self(s.id)},"counts":${c.toJson}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}
