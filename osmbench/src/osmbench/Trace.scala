package osmbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Engine work attributed to one span through its job group. */
final class Counts {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Max over stages with at least two tasks of (max task time / median
    * task time); 1 when no stage had two tasks. */
  def taskSkew: Double = {
    val ratios = taskMsByStage.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Counts jobs, stages, tasks, shuffle and spill per job group. Only groups
  * that the benchmark's spans set are recorded. */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counts]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties).foreach { g =>
      byGroup.getOrElseUpdate(g, new Counts).jobs += 1
      e.stageInfos.foreach(si => stageGroup(si.stageId) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => byGroup(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = byGroup(g)
      c.tasks += 1
      c.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  def counts(group: String): Counts = synchronized(byGroup.getOrElse(group, new Counts))
}

/** One span: a call from the benchmark into a module's public function. */
final case class Span(id: Int, parent: Int, run: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = s"${Tracer.GroupPrefix}$id"
}

/** In-memory span recorder. Jobs started inside a span run under the span's
  * job group, so the listener attributes them to the innermost open span. */
final class Tracer(sc: SparkContext) {
  val listener = new GroupListener
  sc.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String)]
  private var nextId = 0
  var run = 0

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    sc.setJobGroup(s"${Tracer.GroupPrefix}$id", name)
    open.push((id, name))
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      open.pop()
      spans += Span(id, parent, run, name, t0, t1)
      open.headOption match {
        case Some((pid, pname)) => sc.setJobGroup(s"${Tracer.GroupPrefix}$pid", pname)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Counts of a span and all its descendants. */
  def inclusive(s: Span): Counts = {
    org.apache.spark.osmbench.ListenerBus.drain(sc)
    val kids = spans.filter(_.parent == s.id)
    val own = listener.counts(s.group)
    val out = new Counts
    for (c <- own +: kids.map(inclusive).toSeq) {
      out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
      out.shuffleWriteBytes += c.shuffleWriteBytes; out.shuffleReadBytes += c.shuffleReadBytes
      out.spillBytes += c.spillBytes
      c.taskMsByStage.foreach { case (k, v) => out.taskMsByStage.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    }
    out
  }

  def close(): Unit = sc.removeSparkListener(listener)

  /** One JSON object per span: name, start, end, parent, run id and the
    * listener's counts. */
  def writeJsonl(path: java.nio.file.Path, originNs: Long): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      val c = inclusive(s)
      Json.obj(
        "run" -> s.run, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startNs - originNs) / 1e6, "end_ms" -> (s.endNs - originNs) / 1e6,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "shuffle_read_bytes" -> c.shuffleReadBytes,
        "spill_bytes" -> c.spillBytes, "task_skew" -> c.taskSkew)
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupPrefix = "osmbench-span-"
}
