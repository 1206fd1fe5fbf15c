package graft

import org.apache.spark.scheduler._

/** Per-query job/stage profiler (guide §1/§7): runs one named SparkEntry
  * query under a SparkListener and prints, per job, wall-clock span, task
  * time, task count, shuffle read/write bytes — plus the DRIVER GAPS
  * between jobs (scheduling / planning / driver-side work), which plan
  * dumps cannot show. Used to decide whether a query's wall is plan shape
  * (fix the plan) or action-count latency (fix the orchestration).
  *
  * Usage: runMain graft.ProfileQ <query>[,query2,...] [sfDir] [--reps N]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1 && !args(1).startsWith("--")) args(1) else "/root/testdata/sf0.1"
    val reps = args.sliding(2).collectFirst { case Array("--reps", n) => n.toInt }.getOrElse(2)
    val spark = GraftSession()

    case class JobRec(id: Int, start: Long, var end: Long = 0L,
                      var taskMs: Long = 0L, var tasks: Int = 0,
                      var shufR: Long = 0L, var shufW: Long = 0L,
                      var input: Long = 0L, var stages: Int = 0,
                      desc: String = "")
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        // multi-line (streaming) descriptions collapse to one line per job
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
          .trim.replaceAll("\\s+", " ")
        jobs(j.jobId) = JobRec(j.jobId, j.time, desc = desc.take(60))
        j.stageIds.foreach(s => stageToJob(s) = j.jobId)
        jobs(j.jobId).stages = j.stageIds.size
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(j.jobId).foreach(_.end = j.time)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for (jid <- stageToJob.get(t.stageId); r <- jobs.get(jid); m <- Option(t.taskMetrics)) {
          r.taskMs += m.executorRunTime; r.tasks += 1
          r.shufR += m.shuffleReadMetrics.totalBytesRead
          r.shufW += m.shuffleWriteMetrics.bytesWritten
          r.input += m.inputMetrics.bytesRead
        }
      }
    }

    // warmup rep (JIT/codegen/footers), then profiled reps
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      dt
    }
    names.foreach { name =>
      val warm = run(name)
      println(f"[profile] $name warmup ${warm}%.3f s")
      for (rep <- 1 to reps) {
        jobs.clear(); stageToJob.clear()
        spark.sparkContext.addSparkListener(listener)
        val wall = run(name)
        Thread.sleep(500) // let queued listener events drain (bus is async)
        spark.sparkContext.removeSparkListener(listener)
        val js = jobs.synchronized(jobs.values.toSeq.sortBy(_.start))
        val mb = 1024.0 * 1024.0
        println(f"[profile] $name rep$rep wall ${wall}%.3f s, jobs ${js.size}")
        var prevEnd = js.headOption.map(_.start).getOrElse(0L)
        var gapSum = 0L
        js.foreach { r =>
          val gap = math.max(0L, r.start - prevEnd)
          gapSum += gap
          println(f"  job ${r.id}%3d  span ${(r.end - r.start) / 1e3}%7.3f s  gap-before ${gap / 1e3}%6.3f s  " +
            f"tasks ${r.tasks}%4d  taskTime ${r.taskMs / 1e3}%8.3f s  " +
            f"in ${r.input / mb}%8.2f MB  shufR ${r.shufR / mb}%8.2f MB  shufW ${r.shufW / mb}%8.2f MB  ${r.desc}")
          prevEnd = math.max(prevEnd, r.end)
        }
        val jobSpan = js.map(r => r.end - r.start).sum
        println(f"  [sum] job-span ${jobSpan / 1e3}%.3f s, driver-gaps ${gapSum / 1e3}%.3f s " +
          f"(wall - jobs - gaps = tail/head driver work)")
      }
    }
    spark.stop()
  }
}
