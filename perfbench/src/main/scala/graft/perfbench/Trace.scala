package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

import graft.streaming.Json.{str => quote}

/** One timed region of the benchmark: a layer boundary crossing. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long,
    endNs: Long, runId: String) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays nothing; enabled, every call records one span whose
  * parent is the innermost open span of the same thread. Spans are kept
  * in memory and written once at the end. */
final class Trace(val enabled: Boolean, runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, stack.headOption.getOrElse(0L), t0,
          System.nanoTime(), runId))
        open.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Self time per span name: a span's duration minus its children's. */
  def selfMs: Map[String, Double] = {
    val s = all
    val childMs = s.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durMs).sum }
    s.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(x => x.durMs - childMs.getOrElse(x.id, 0.0)).sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s => Json(Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "run_id" -> s.runId)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark-side totals per benchmark tag. The tag is the `perfbench.tag`
  * local property of the thread that submitted the job; streaming jobs
  * carry their micro-batch id instead, as tag `batch:<id>`. */
final class SparkStats extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val byTag = mutable.Map.empty[String, Agg]
  private val stageTag = mutable.Map.empty[Int, String]

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(pp => Option(pp.getProperty(SparkStats.TagKey))
      .orElse(Option(pp.getProperty("streaming.sql.batchId")).map("batch:" + _)))
      .getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    byTag.getOrElseUpdate(tag, new Agg).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val a = byTag.getOrElseUpdate(stageTag.getOrElse(info.stageId, "other"), new Agg)
    a.stages += 1
    a.tasks += info.numTasks
    Option(info.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def reset(): Unit = synchronized { byTag.clear() }

  def snapshot: Map[String, Map[String, Any]] = synchronized {
    byTag.map { case (t, a) => t -> Map[String, Any](
      "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "exec_cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
      "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill)
    }.toMap
  }
}

object SparkStats {
  val TagKey = "perfbench.tag"
}

/** Minimal JSON writer for the harness's result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
