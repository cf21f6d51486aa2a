package graft.perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark-side work of one benchmark call: jobs, tasks and task metrics. */
final case class Work(jobs: Long, tasks: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    inputBytes: Long, outputBytes: Long, spillBytes: Long, gcMs: Long, runMs: Long) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    inputBytes + o.inputBytes, outputBytes + o.outputBytes, spillBytes + o.spillBytes,
    gcMs + o.gcMs, runMs + o.runMs)
}
object Work { val Zero: Work = Work(0, 0, 0, 0, 0, 0, 0, 0, 0) }

/** Structural witness: attributes every job and task to the benchmark call
  * that caused it. Calls label their jobs with a job group `pb:<id>`; jobs
  * that run under another group (Structured Streaming sets its own per
  * query run) are attributed to the call whose wall-clock window holds
  * their submission time.
  */
final class Witness extends SparkListener {
  private final case class Call(id: Int, label: String, startMs: Long, endMs: Long)
  private val calls = mutable.ArrayBuffer.empty[Call]
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageWork = new ConcurrentHashMap[Int, Array[Long]]()

  private def groupOf(props: java.util.Properties): String =
    if (props == null) null else props.getProperty("spark.jobGroup.id")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobGroup.put(e.jobId, (groupOf(e.properties), e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.putIfAbsent(e.stageInfo.stageId, (groupOf(e.properties),
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val w = stageWork.computeIfAbsent(e.stageId, _ => new Array[Long](8))
    w.synchronized {
      w(0) += 1
      if (m != null) {
        w(1) += m.shuffleReadMetrics.totalBytesRead
        w(2) += m.shuffleWriteMetrics.bytesWritten
        w(3) += m.inputMetrics.bytesRead
        w(4) += m.outputMetrics.bytesWritten
        w(5) += m.memoryBytesSpilled + m.diskBytesSpilled
        w(6) += m.jvmGCTime
        w(7) += m.executorRunTime
      }
    }
  }

  def record(id: Int, label: String, startMs: Long, endMs: Long): Unit =
    calls.synchronized(calls += Call(id, label, startMs, endMs))

  private def owner(group: String, t: Long): Option[Call] =
    if (group != null && group.startsWith("pb:")) {
      val id = group.stripPrefix("pb:").toInt
      calls.find(_.id == id)
    } else calls.find(c => t >= c.startMs && t <= c.endMs)

  /** Work per call label, summed over calls with that label; call after
    * the listener bus has been drained.
    */
  def byLabel(): Map[String, (Int, Work)] = {
    val acc = mutable.Map.empty[Int, Work]
    jobGroup.asScala.foreach { case (_, (g, t)) =>
      owner(g, t).foreach(c => acc(c.id) = acc.getOrElse(c.id, Work.Zero).copy(
        jobs = acc.getOrElse(c.id, Work.Zero).jobs + 1))
    }
    stageGroup.asScala.foreach { case (stage, (g, t)) =>
      val w = stageWork.get(stage)
      if (w != null) owner(g, t).foreach { c =>
        acc(c.id) = acc.getOrElse(c.id, Work.Zero) + Work(0, w(0), w(1), w(2), w(3), w(4), w(5), w(6), w(7))
      }
    }
    calls.groupBy(_.label).map { case (label, cs) =>
      label -> (cs.size, cs.map(c => acc.getOrElse(c.id, Work.Zero)).foldLeft(Work.Zero)(_ + _))
    }
  }
}

/** Bench-side spans: name, start, end, parent and request id, kept in
  * memory and written out once at the end. Disabled tracers record
  * nothing.
  */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, request: String, start: Long, end: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0

  def span[A](name: String, request: String = "")(body: => A): A =
    if (!on) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, request, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Per span name: (count, total ns, self ns). Self time is the span's
    * duration minus the part of it that its children cover.
    */
  def selfTimes: Seq[(String, Int, Long, Long)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        var covered = 0L
        var reach = s.start
        kids.getOrElse(s.id, Nil).sortBy(_.start).foreach { c =>
          val a = math.max(c.start, reach)
          if (c.end > a) { covered += c.end - a; reach = c.end }
        }
        (s.end - s.start) - covered
      }.sum
      (name, ss.size, total, self)
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""request":"${s.request}","start_ns":${s.start},"end_ns":${s.end}}""").append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
