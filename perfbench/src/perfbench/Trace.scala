package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.perfbench.Internals

/** One timed call into a module, recorded from the benchmark's side. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                      endMs: Double, codegenCompiles: Long, gcMs: Long) {
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs,
    "codegen_compiles" -> codegenCompiles, "gc_ms" -> gcMs)
}

/**
 * Spans kept in memory and written out when the run ends. Each span runs
 * under its own Spark job group `span-<id>` (restored to the parent's on
 * exit), so [[JobListener]] can attribute every job, stage and task to the
 * innermost span that caused it. The benchmark drives Spark from one
 * thread, so a plain stack suffices. Disabled, [[span]] just runs its body.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var started = 0

  /** Epoch milliseconds on the same clock as listener event times. */
  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = started
      started += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(s"span-$id", name)
      val cg0 = Internals.codegenCompiles
      val gc0 = Tracer.gcMs
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some((p, pn)) => sc.setJobGroup(s"span-$p", pn)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, name, start, end,
          Internals.codegenCompiles - cg0, Tracer.gcMs - gc0)
      }
    }
}

object Tracer {
  /** Cumulative collection time of every collector in this JVM. In
    * `local[n]` the executors share the driver's JVM, so this is all GC. */
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Per-job-group totals from task-end and stage-completed events. */
final class GroupTotals {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  def toJson: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "cpu_ns" -> cpuNs, "run_ms" -> runMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "input_bytes" -> inputBytes)
}

/**
 * Attributes Spark work to job groups (one per [[Tracer]] span). Stages
 * are mapped to the group of the job that submitted them; tasks to their
 * stage's group. Read only after [[Internals.drainListenerBus]].
 */
final class JobListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobs = mutable.Map.empty[Int, (String, Long, Long)]
  private val totals = mutable.Map.empty[String, GroupTotals]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")
  private def totalsOf(g: String) = totals.getOrElseUpdate(g, new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobs(e.jobId) = (g, e.time, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    totalsOf(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (g, s, _) =>
      jobs(e.jobId) = (g, s, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      totalsOf(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totalsOf(stageGroup.getOrElse(e.stageId, ""))
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobs.toSeq.sortBy(_._1).map { case (id, (g, s, e)) =>
      Map("job" -> id, "group" -> g, "start_ms" -> s, "end_ms" -> e) }
  }

  def groupsJson: Map[String, Any] = synchronized {
    totals.map { case (g, t) => g -> t.toJson }.toMap
  }
}

/** Minimal JSON writer for the raw record (maps, sequences, scalars). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
