package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A timed interval of the benchmark's own driver code, in wall-clock
  * milliseconds (the time base Spark stamps its listener events with).
  * Spans nest run → pass → query → {construct, exec} for a suite and
  * run → pass → table for the ETL, whose tables carry their stage. */
final class Span(val kind: String, val name: String, val startMs: Long) {
  var endMs: Long = startMs
  val children = mutable.ArrayBuffer.empty[Span]
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def seconds: Double = (endMs - startMs) / 1000.0
  /** Half-open, so that back-to-back spans never share a job. */
  def contains(t: Long): Boolean = t >= startMs && t < endMs
  def child(kind: String, name: String, startMs: Long): Span = {
    val s = new Span(kind, name, startMs); children += s; s
  }
}

/** Raw Spark events of a traced run. Attached by the benchmark, never by
  * the program under test; events are buffered as they arrive and only
  * interpreted after `SparkContext.stop()` has drained the listener bus. */
final class Recorder extends SparkListener {
  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int]) {
    @volatile var endMs: Long = startMs
  }
  final case class Write(path: String, startMs: Long, endMs: Long) {
    def seconds: Double = (endMs - startMs) / 1000.0
  }

  final class TaskSums {
    var runMs, gcMs, shuffleBytes, spillBytes, inputBytes, outputBytes = 0L
  }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, TaskSums]()
  private val writeStarts = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
  private val executionEnds = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val m = e.taskMetrics
    val s = stageTasks.computeIfAbsent(e.stageId, _ => new TaskSums)
    s.synchronized {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** A file write is a SQL execution whose plan holds the write command
    * (under `AdaptiveSparkPlan` when AQE re-plans the query); the command's
    * plan string names the output path. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      def find(n: SparkPlanInfo): Option[SparkPlanInfo] =
        if (n.nodeName == WriteNode) Some(n) else n.children.iterator.flatMap(find).nextOption()
      find(s.sparkPlanInfo).foreach { w =>
        val path = w.simpleString.stripPrefix(WriteNode + " ").takeWhile(_ != ',')
        writeStarts.put(s.executionId, (new java.net.URI(path).getPath, s.time))
      }
    case end: SparkListenerSQLExecutionEnd => executionEnds.put(end.executionId, end.time)
    case _ =>
  }

  private val WriteNode = "Execute InsertIntoHadoopFsRelationCommand"

  import scala.jdk.CollectionConverters._

  def jobsIn(span: Span): Seq[Job] =
    jobs.values.asScala.toSeq.filter(j => span.contains(j.startMs)).sortBy(_.id)

  /** Task-metric sums over the stages of `js`, as
    * (task_s, gc_s, shuffle_mb, spill_mb, input_mb, output_mb). */
  def taskSums(js: Seq[Job]): Map[String, Double] = {
    val stages = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stageTasks.get(id)))
    def sum(f: TaskSums => Long) = stages.map(f).sum.toDouble
    val mb = 1024.0 * 1024.0
    Map("task_s" -> sum(_.runMs) / 1000, "gc_s" -> sum(_.gcMs) / 1000,
      "shuffle_mb" -> sum(_.shuffleBytes) / mb, "spill_mb" -> sum(_.spillBytes) / mb,
      "input_mb" -> sum(_.inputBytes) / mb, "output_mb" -> sum(_.outputBytes) / mb)
  }

  /** Length of the union of the jobs' [start, end] intervals, in seconds. */
  def jobUnionSeconds(js: Seq[Job]): Double = {
    var total, curS, curE = 0L
    var open = false
    for (j <- js.sortBy(_.startMs)) {
      if (open && j.startMs <= curE) curE = math.max(curE, j.endMs)
      else {
        if (open) total += curE - curS
        curS = j.startMs; curE = j.endMs; open = true
      }
    }
    if (open) total += curE - curS
    total / 1000.0
  }

  /** Completed file writes, in completion order. */
  def writes: Seq[Write] =
    writeStarts.asScala.toSeq.flatMap { case (id, (path, start)) =>
      executionEnds.asScala.get(id).map(end => Write(path, start, end))
    }.sortBy(_.endMs)
}
