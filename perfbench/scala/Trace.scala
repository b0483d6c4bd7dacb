package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group: counts summed over the tasks
  * of the group's stages. */
final class GroupCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var inputBytes = 0L; var inputRecords = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "cpu_ns" -> cpuNs,
    "run_ms" -> runMs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
}

/** Records job intervals and task counts per job group. Events arrive on
  * the listener bus thread, after the work they describe. */
final class GroupListener extends SparkListener {
  final case class Job(group: String, start: Long, var end: Long)
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val counts = new ConcurrentHashMap[String, GroupCounts]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
  private def of(g: String): GroupCounts = counts.computeIfAbsent(g, _ => new GroupCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobs.put(e.jobId, Job(g, e.time, -1L))
    of(g).synchronized { of(g).jobs += 1 }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    of(g).synchronized { of(g).stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = of(Option(stageGroup.get(e.stageId)).getOrElse(""))
    c.synchronized {
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Span recorder for the traced run. Each span sets a Spark job group
  * named after its id, so the listener attributes every job and task to
  * the innermost open span. Spans stay in memory until `toJson`. While
  * detached (always, when disabled) `span` only runs its body. Single
  * driver thread. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  final class Span(val id: Int, val name: String, val parent: Int, val req: Int,
                   val start: Double) {
    var end: Double = Double.NaN
    val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  }

  val listener = new GroupListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var attached = false
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  /** Wall clock in epoch ms with sub-ms resolution, comparable with the
    * listener's job times. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def attach(): Unit = if (enabled && !attached) { sc.addSparkListener(listener); attached = true }
  def detach(): Unit = if (attached) { flush(); sc.removeSparkListener(listener); attached = false }

  def span[T](name: String, req: Int = -1)(body: => T): T = {
    if (!attached) return body
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), req, nowMs)
    spans += s
    open = s :: open
    sc.setJobGroup(s"span-${s.id}", name)
    try body
    finally {
      s.end = nowMs
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Attach a value to the innermost open span. */
  def attr(k: String, v: Any): Unit = if (attached && open.nonEmpty) open.head.attrs(k) = v

  /** Wait until the listener has seen every job submitted so far: run one
    * marker job and poll for its end event (the bus delivers in order). */
  def flush(): Unit = if (attached) {
    sc.setJobGroup("flush", "flush")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    def done = {
      val it = listener.jobs.values().iterator()
      var seen = false
      var allEnded = true
      while (it.hasNext) { val j = it.next(); if (j.group == "flush" && j.end >= 0) seen = true; if (j.end < 0) allEnded = false }
      seen && allEnded
    }
    while (!done && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def toJson: Map[String, Any] = {
    flush()
    import scala.jdk.CollectionConverters._
    Map(
      "spans" -> spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
          "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs.toMap)
      }.toSeq,
      "jobs" -> listener.jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
        Map("id" -> id, "group" -> j.group, "start_ms" -> j.start, "end_ms" -> j.end)
      },
      "groups" -> listener.counts.asScala.map { case (g, c) => g -> c.toJson }.toMap)
  }
}
