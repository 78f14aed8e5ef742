package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-query, per-rep profile — the GC-vs-plan adjudicator for any bench
  * outlier and the per-job breakdown of a cascade query. A cascade query
  * is a SEQUENCE of driver-submitted jobs (eager persists, size-gate
  * counts, fixpoint rounds, the final count), and the rep wall is their
  * sum plus driver-side gaps (analysis/optimization, AQE replanning,
  * collect handling). Per query, per rep, one JSON line gives:
  * construct and action seconds, job count, the time in which jobs ran
  * and the driver gap (wall minus that), summed task JVM GC time,
  * execution-memory spills, and shuffle read/write bytes; the slowest
  * jobs follow, one line each.
  * Byte-identical shuffles + wall tracking gc_millis = single-JVM
  * pool-pressure noise; byte drift = a real plan change worth chasing.
  *
  *   runMain graft.tools.QueryProfile <sfDir> <reps> <query> [query...]
  */
object QueryProfile {
  private final case class Job(id: Int, desc: String, start: Long,
                                var end: Long, stages: Int)

  /** Counters of the rep in flight; every access holds the lock. */
  private final class RepMetrics extends SparkListener {
    val jobs = ArrayBuffer.empty[Job]
    var gcMillis, spillMem, spillDisk, shufRead, shufWrite = 0L

    def reset(): Unit = synchronized {
      jobs.clear()
      gcMillis = 0; spillMem = 0; spillDisk = 0; shufRead = 0; shufWrite = 0
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val prop = (k: String) =>
        Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs += Job(e.jobId,
        prop("spark.job.description")
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse(""),
        e.time, -1L, e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        gcMillis += m.jvmGCTime
        spillMem += m.memoryBytesSpilled
        spillDisk += m.diskBytesSpilled
        shufRead += m.shuffleReadMetrics.totalBytesRead
        shufWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Milliseconds in which at least one job ran. AQE materializes query
    * stages as concurrent jobs, so a plain sum of job walls can exceed
    * the rep's wall and turn the driver gap negative. */
  private def busyMillis(jobs: Seq[Job]): Long = {
    var busy = 0L
    var reach = Long.MinValue
    jobs.sortBy(_.start).foreach { j =>
      val from = math.max(j.start, reach)
      if (j.end > from) busy += j.end - from
      reach = math.max(reach, j.end)
    }
    busy
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "usage: QueryProfile <sfDir> <reps> <query>...")
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new RepMetrics
    spark.sparkContext.addSparkListener(metrics)
    def d3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))
    // same warmup discipline as Bench: absorb JVM/codegen first-touch
    try graft.SparkEntry.entry(spark).count()
    catch { case _: Throwable => }
    names.foreach { name =>
      val walls = (1 to reps).map { i =>
        metrics.reset()
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val tBuilt = System.nanoTime()
        val n = df.count()
        val t1 = System.nanoTime()
        Thread.sleep(300) // listener bus drain
        val secs = (t1 - t0) / 1e9
        metrics.synchronized {
          val done = metrics.jobs.filter(_.end > 0)
          val jobSecs = busyMillis(done.toSeq) / 1e3
          println(s"""{"profile":{"query":"$name","rep":$i,"rows":$n,""" +
            s""""secs":${d3(secs)},"construct_secs":${
              d3((tBuilt - t0) / 1e9)},"action_secs":${
              d3((t1 - tBuilt) / 1e9)},"jobs":${metrics.jobs.size},""" +
            s""""job_secs":${d3(jobSecs)},"driver_gap_secs":${
              d3(secs - jobSecs)},"gc_millis":${metrics.gcMillis},""" +
            s""""spill_mem":${metrics.spillMem},""" +
            s""""spill_disk":${metrics.spillDisk},""" +
            s""""shuffle_read":${metrics.shufRead},""" +
            s""""shuffle_write":${metrics.shufWrite}}}""")
          done.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
            println(f"   job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3f s " +
              f"stages ${j.stages}%2d  ${j.desc.take(90)}")
          }
        }
        spark.catalog.clearCache()
        System.gc()
        secs
      }
      println(s"""{"profile_spread":{"query":"$name","reps":$reps,""" +
        s""""min":${d3(walls.min)},"max":${d3(walls.max)},""" +
        s""""spread":${d3(walls.max / walls.min)}}}""")
    }
    spark.stop()
  }
}
