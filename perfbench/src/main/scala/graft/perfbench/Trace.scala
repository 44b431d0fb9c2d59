package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** One timed region: `parent` is the enclosing span's id, or -1. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task counters summed over the jobs of one job group. */
final class GroupCounts {
  var jobs = 0
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  /** Task durations (ms) per stage, for the skew ratio. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: GroupCounts): Unit = {
    jobs += o.jobs; tasks += o.tasks; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs; inputBytes += o.inputBytes
    recordsRead += o.recordsRead; recordsWritten += o.recordsWritten
    o.stageTaskMs.foreach { case (s, ms) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ms }
  }
}

/** Listener that files every task's counters under the job group its
  * job was started in. Events arrive on the listener-bus thread; readers
  * call [[Tracer.counts]], which drains the bus and locks first. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private[perfbench] val groups = mutable.Map.empty[String, GroupCounts]

  private def group(g: String) = groups.getOrElseUpdate(g, new GroupCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    group(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = group(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.recordsRead += m.inputMetrics.recordsRead
      c.recordsWritten += m.outputMetrics.recordsWritten
    }
  }
}

/** Span recorder for the traced run. Every span runs its body under its
  * own Spark job group (`s<id>`), so the listener's counts attach to the
  * span that caused them. Spans stay in memory until [[write]]. */
final class Tracer(sc: SparkContext, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  val listener = new GroupListener
  sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(s"s$id", name)
    val start = System.nanoTime()
    try {
      val a = body
      val s = Span(id, name, parent, start, System.nanoTime())
      spans += s
      (a, s)
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"s$p", "")
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Counters summed over the given spans (their own job groups). */
  def counts(of: Iterable[Span]): GroupCounts = {
    org.apache.spark.ListenerDrain(sc)
    val total = new GroupCounts
    listener.synchronized {
      of.foreach(s => listener.groups.get(s"s${s.id}").foreach(total.add))
    }
    total
  }

  def stop(): Unit = sc.removeSparkListener(listener)

  /** All spans, one JSON object per line, each with its job-group counts. */
  def write(path: String, record: Any): Unit = {
    val lines = Json(Map("run" -> runId, "record" -> record)) +: spans.toSeq.map { s =>
      val c = counts(Seq(s))
      Json(Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> c.jobs,
        "tasks" -> c.tasks, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "gc_ms" -> c.gcMs,
        "input_bytes" -> c.inputBytes, "records_read" -> c.recordsRead,
        "records_written" -> c.recordsWritten))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** JSON for the harness's own records (Scala maps, sequences, options). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
