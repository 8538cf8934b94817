package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work of one span: everything run under its job group. */
final class SparkCounts {
  var jobs, stages, tasks = 0L
  var jobWallMs, runMs, cpuMs = 0.0
  var shuffleRead, shuffleWrite = 0L
}

/** Counts Spark jobs, stages, tasks, executor time and shuffle bytes per
  * job group. Jobs without a group (background threads such as the shape
  * warmer) collect under "". */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, SparkCounts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def counts(g: String) = byGroup.getOrElseUpdate(g, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
    val c = counts(g)
    c.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      val c = counts(g)
      c.jobWallMs += e.time - t0
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    c.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1e6
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def get(group: String): SparkCounts = synchronized(byGroup.getOrElse(group, new SparkCounts))
}

/** One timed span: a name, wall-clock bounds, its parent and request, the
  * Spark work run under it, and free-form attributes. */
final class Span(val id: Int, val name: String, val parent: Int, val req: Int,
                 val startNs: Long) {
  var endNs: Long = startNs
  val attrs = mutable.LinkedHashMap.empty[String, Any]
}

/** Nested spans on the calling thread. Each open span owns a Spark job
  * group ("span-<id>"), so the listener attributes jobs to the innermost
  * span. With `enabled = false` every call just runs its body. */
final class Tracer(sc: SparkContext, val listener: GroupListener, t0: Long) {
  var enabled = true
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var req = -1

  def request[A](reqId: Int, name: String)(body: Span => A): A = {
    req = reqId
    try span(name)(body) finally req = -1
  }

  def span[A](name: String)(body: Span => A): A = {
    if (!enabled) return body(null)
    val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
      req, System.nanoTime())
    spans += s
    stack.push(s)
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Spans as JSON lines; call after the listener bus has drained. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val c = listener.get(s"span-${s.id}")
      val fields = Seq[(String, Any)](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "job_wall_ms" -> c.jobWallMs, "run_ms" -> c.runMs, "cpu_ms" -> c.cpuMs,
        "shuffle_read" -> c.shuffleRead, "shuffle_write" -> c.shuffleWrite) ++ s.attrs
      w.write(Json.obj(fields))
      w.newLine()
    } finally w.close()
  }
}

/** Minimal JSON writer for flat records of numbers, strings and booleans. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => graft.engine.QueryJson.write(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => graft.engine.QueryJson.write(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
