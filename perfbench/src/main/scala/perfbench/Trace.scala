package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task metrics summed over the tasks of one span's jobs. */
final class TaskSums {
  var tasks = 0L
  var runS = 0.0      // executor run time
  var cpuS = 0.0      // executor CPU time
  var gcS = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  /** Shuffle records read by each task that read any. */
  val shuffleReadRecords = mutable.ArrayBuffer.empty[Long]

  def add(o: TaskSums): Unit = {
    tasks += o.tasks; runS += o.runS; cpuS += o.cpuS; gcS += o.gcS
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords; spillBytes += o.spillBytes
    shuffleReadRecords ++= o.shuffleReadRecords
  }
}

final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Spans are kept in memory and
  * written once, by [[write]], when the benchmark ends. Each span sets
  * its own Spark job group, so the [[Listener]] can attribute every task
  * to the innermost span that launched it. */
final class Trace(sc: SparkContext, val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  val listener = new Listener

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), run, System.nanoTime())
    spans += s
    open ::= s
    sc.setJobGroup(groupOf(s.id), name)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p.id), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def groupOf(id: Int): String = s"perfbench-span-$id"

  /** The last closed span with this name. */
  def last(name: String): Span = spans.filter(s => s.name == name && s.endNs >= 0).last

  /** Task sums of a span and all its descendants. */
  def tasks(s: Span): TaskSums = {
    org.apache.spark.perfbenchbridge.Bus.drain(sc)
    val out = new TaskSums
    def walk(id: Int): Unit = {
      listener.bySpan.get(id).foreach(out.add)
      spans.filter(_.parent == id).foreach(c => walk(c.id))
    }
    walk(s.id)
    out
  }

  /** Self time: the span's duration minus what its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def write(path: java.nio.file.Path): Unit = {
    org.apache.spark.perfbenchbridge.Bus.drain(sc)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val t = listener.bySpan.getOrElse(s.id, new TaskSums)
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "run": "${s.run}", """ +
        f""""start_s": ${(s.startNs - t0) / 1e9}%.6f, "end_s": ${(s.endNs - t0) / 1e9}%.6f, """ +
        f""""self_s": ${selfSeconds(s)}%.6f, "self_tasks": ${t.tasks}, "self_task_run_s": ${t.runS}%.6f, """ +
        f""""self_shuffle_write_bytes": ${t.shuffleWriteBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }

  /** Attributes finished tasks to spans through the job group. */
  final class Listener extends SparkListener {
    val bySpan = new mutable.HashMap[Int, TaskSums]
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith("perfbench-span-")).foreach { id =>
        e.stageIds.foreach(st => stageSpan.put(st, id.stripPrefix("perfbench-span-").toInt))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && stageSpan.containsKey(e.stageId)) synchronized {
        val s = bySpan.getOrElseUpdate(stageSpan.get(e.stageId), new TaskSums)
        s.tasks += 1
        s.runS += m.executorRunTime / 1e3
        s.cpuS += m.executorCpuTime / 1e9
        s.gcS += m.jvmGCTime / 1e3
        val rd = m.shuffleReadMetrics
        s.shuffleReadBytes += rd.totalBytesRead
        if (rd.recordsRead > 0) s.shuffleReadRecords += rd.recordsRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}
