package perfbench

import graft.streaming.DocStateStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One `StreamingQueryProgress` reduced to what the benchmark reads. */
final case class Trigger(batchId: Long, startMs: Double, durations: Map[String, Long],
                         inputRows: Long) {
  def ms(phase: String): Long = durations.getOrElse(phase, 0L)
  def endMs: Double = startMs + ms("triggerExecution")
}

/** The per-trigger progress/metrics API read from outside the engine. It
  * is the only listener the untraced `ingest` runs attach: the trigger
  * latencies are end-to-end metrics. */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val seen = new ConcurrentLinkedQueue[Trigger]()
  spark.streams.addListener(this)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    seen.add(Trigger(p.batchId, start,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap, p.numInputRows))
    ()
  }

  /** Every trigger delivered so far, in order; clears the log. */
  def take(): Seq[Trigger] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val out = Iterator.continually(seen.poll()).takeWhile(_ != null).toVector
    out.sortBy(_.batchId)
  }
}

/** The driver heap over a window opened by `start` and closed by `stop`:
  * the peak heap right after a collection (from the JVM's GC
  * notifications), the JVM's collection time, and the heap still live
  * after the window. */
final class HeapWatch extends NotificationListener {
  @volatile private var open = false
  private var peak = 0L
  private var gcAtStart = 0L
  /** Peak post-GC heap over the last window (MB). */
  var peakMb = 0.0
  /** JVM collection time over the last window (ms). */
  var gcMs = 0.0
  /** Heap live after the full collections that close the window (MB). */
  var liveMb = 0.0
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (open && n.getType == "com.sun.management.gc.notification") {
      val info = n.getUserData.asInstanceOf[CompositeData]
      val gcInfo = info.get("gcInfo").asInstanceOf[CompositeData]
      val after = gcInfo.get("memoryUsageAfterGc").asInstanceOf[javax.management.openmbean.TabularData]
      val used = after.values().asScala.map(_.asInstanceOf[CompositeData]).collect {
        case row if heapPools.contains(row.get("key").toString) =>
          row.get("value").asInstanceOf[CompositeData].get("used").asInstanceOf[Long]
      }.sum
      synchronized { if (used > peak) peak = used }
    }

  private def gcTotal: Long = beans.map(_.getCollectionTime).sum

  def start(): Unit = synchronized { peak = 0L; gcAtStart = gcTotal; open = true }

  def stop(): Unit = {
    open = false
    gcMs = (gcTotal - gcAtStart).toDouble
    val bytes: Long = synchronized { peak }
    peakMb = bytes / (1024.0 * 1024.0)
    // twice: the first collection lets Spark's ContextCleaner release what
    // only weak references held, the second reclaims it
    System.gc()
    Thread.sleep(100)
    System.gc()
    liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def close(): Unit =
    beans.foreach(b => scala.util.Try(b.asInstanceOf[NotificationEmitter].removeNotificationListener(this)))
}

/** A span: `name` ran from `startMs` to `endMs` (epoch ms). `parent` is
  * the id of the span that caused it, `op` the operation it belongs to
  * (one trigger or one rebuild), -1 when none. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, op: Int, attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** The traced run's recorder: a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (planning phases) and spans the
  * benchmark opens around its own calls into each layer. Everything stays
  * in memory until [[finish]]; the untraced runs never construct one. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  private final class JobAcc(val id: Int, val startMs: Double, val stages: Seq[Int]) {
    var endMs: Double = Double.NaN
    var taskMs, cpuMs, gcMs, shuffleWrite, input, spill = 0.0
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val stageTimes = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  private val plans = mutable.ArrayBuffer.empty[(Double, Double)] // (end ms, planning ms)
  private val bench = mutable.ArrayBuffer.empty[(String, Double, Double, Map[String, Double])]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val ids = e.stageInfos.map(_.stageId)
    jobs(e.jobId) = new JobAcc(e.jobId, e.time.toDouble, ids)
    ids.foreach(stageToJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    for (a <- s.submissionTime; b <- s.completionTime) stageTimes += ((s.stageId, a.toDouble, b.toDouble))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.taskMs += m.executorRunTime
      j.cpuMs += m.executorCpuTime / 1e6
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.input += m.inputMetrics.bytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
  private def planned(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    synchronized { plans += ((nowMs, ms)) }
  }

  /** Time `body` as a span named `name`. */
  def span[A](name: String, attrs: => Map[String, Double] = Map.empty)(body: => A): A = {
    val a = nowMs
    try body finally { val b = nowMs; synchronized { bench += ((name, a, b, attrs)) } }
  }

  /** Record a span measured elsewhere (with the same clock). */
  def record(name: String, startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty): Unit =
    synchronized { bench += ((name, startMs, endMs, attrs)) }

  /** Detach, then turn the raw events into spans and per-op counters.
    * `ops` are the operations as (name, start, end, attributes) — one per
    * trigger or rebuild; other spans join the op whose window holds their
    * start, and the innermost enclosing span becomes their parent. */
  def finish(ops: Seq[(String, Double, Double, Map[String, Double])]): Traced = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    synchronized {
      val spans = mutable.ArrayBuffer.empty[Span]
      ops.foreach { case (n, a, b, at) => spans += Span(spans.size, n, a, b, -1, spans.size, at) }
      val opSpans = spans.toVector
      // ±1 ms: progress timestamps and listener times are whole ms
      def opOf(t: Double): Int =
        opSpans.find(o => t >= o.startMs - 1 && t <= o.endMs + 1).map(_.id).getOrElse(-1)
      def add(n: String, a: Double, b: Double, at: Map[String, Double]): Span = {
        val op = opOf(a)
        val s = Span(spans.size, n, a, b, -1, op, at)
        spans += s
        s
      }
      bench.sortBy(x => (x._2, -x._3)).foreach { case (n, a, b, at) => add(n, a, b, at) }
      val jobSpans = jobs.values.filter(!_.endMs.isNaN).map { j =>
        j -> add("spark.job", j.startMs, j.endMs, Map(
          "task_ms" -> j.taskMs, "task_cpu_ms" -> j.cpuMs, "gc_ms" -> j.gcMs,
          "shuffle_write_bytes" -> j.shuffleWrite, "input_bytes" -> j.input,
          "spill_bytes" -> j.spill, "stages" -> j.stages.size.toDouble))
      }.toVector
      val jobIdToSpan = jobSpans.map { case (j, s) => j.id -> s.id }.toMap
      stageTimes.foreach { case (sid, a, b) =>
        val s = add("spark.stage", a, b, Map("stage_id" -> sid.toDouble))
        stageToJob.get(sid).flatMap(jobIdToSpan.get).foreach(p => spans(s.id) = s.copy(parent = p))
      }
      // parent = the shortest non-stage span of the same op enclosing it
      val all = spans.toVector
      all.filter(s => s.op >= 0 && s.id != s.op && s.parent < 0).foreach { s =>
        val enclosing = all.filter(p => p.id != s.id && p.op == s.op && p.name != "spark.stage" &&
          p.name != "spark.job" && p.startMs <= s.startMs + 1 && p.endMs >= s.endMs - 1)
        val parent = if (enclosing.isEmpty) s.op else enclosing.minBy(_.durMs).id
        spans(s.id) = s.copy(parent = parent)
      }
      Traced(spans.toVector, plans.toVector.map { case (t, ms) => (opOf(t), ms) })
    }
  }
}

/** The traced run's spans, plus planning time per op. */
final case class Traced(spans: Vector[Span], planning: Vector[(Int, Double)]) {
  val ops: Vector[Span] = spans.filter(s => s.id == s.op)
  private val children: Map[Int, Vector[Span]] = spans.filter(_.parent >= 0).groupBy(_.parent)

  /** Union length of the intervals, clipped to [a, b]. */
  private def coverage(iv: Seq[(Double, Double)], a: Double, b: Double): Double = {
    var covered = 0.0
    var reach = a
    iv.map { case (x, y) => (math.max(x, a), math.min(y, b)) }.filter(t => t._2 > t._1)
      .sortBy(_._1).foreach { case (x, y) =>
        if (y > reach) { covered += y - math.max(x, reach); reach = y }
      }
    covered
  }

  /** Duration minus the part of it its children cover. */
  def selfMs(s: Span): Double =
    s.durMs - coverage(children.getOrElse(s.id, Vector.empty).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)

  private def jobsOf(op: Span): Vector[Span] = spans.filter(s => s.op == op.id && s.name == "spark.job")

  /** Spark-runtime counters per op (median over ops). */
  def sparkPerOp: Map[String, (Double, String)] = {
    def med(f: Span => Double) = Stats.median(ops.map(f))
    def sumJobs(k: String)(op: Span) = jobsOf(op).map(_.attrs.getOrElse(k, 0.0)).sum
    Map(
      "spark.jobs" -> (med(o => jobsOf(o).size.toDouble), "count"),
      "spark.stages" -> (med(sumJobs("stages")), "count"),
      "spark.driver_gap_ms" -> (med(o => o.durMs - coverage(jobsOf(o).map(j => (j.startMs, j.endMs)), o.startMs, o.endMs)), "ms"),
      "spark.task_ms" -> (med(sumJobs("task_ms")), "ms"),
      "spark.task_cpu_ms" -> (med(sumJobs("task_cpu_ms")), "ms"),
      "spark.shuffle_write_bytes" -> (med(sumJobs("shuffle_write_bytes")), "bytes"),
      "spark.input_bytes" -> (med(sumJobs("input_bytes")), "bytes"),
      "spark.spill_bytes" -> (med(sumJobs("spill_bytes")), "bytes"),
      "spark.planning_ms" -> (med(o => planning.filter(_._1 == o.id).map(_._2).sum), "ms"))
  }

  /** Where the seconds go: per span name, total and self time over all
    * ops (ms), and how many spans. */
  def layerTable: Map[String, Map[String, Double]] =
    spans.filter(_.op >= 0).groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.size.toDouble, "total_ms" -> ss.map(_.durMs).sum,
        "self_ms" -> ss.map(selfMs).sum)
    }

  def toJson: Seq[Map[String, Any]] = spans.map(s => Map(
    "id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
    "parent" -> s.parent, "op" -> s.op, "attrs" -> s.attrs))
}

/** Timing decorator for the state store, injected through the public
  * `stateFactory` parameter of `MutationStream.runToCompletion`. It opens
  * a span around every call the indexer makes into the store; commits
  * include the upstream compute their write executes. */
final class TimedStore(inner: DocStateStore, root: String, tracer: Tracer) extends DocStateStore {
  def buckets: Int = inner.buckets
  def currentVersion: Option[String] = inner.currentVersion
  def liveBuckets: Set[Int] = inner.liveBuckets
  def read(): Option[DataFrame] = inner.read()
  def readBuckets(ks: Seq[Int]): Option[DataFrame] =
    tracer.span("state.read_buckets", Map("touched_buckets" -> ks.size.toDouble))(inner.readBuckets(ks))
  def commit(updated: DataFrame, version: String, touched: Seq[Int]): Unit =
    timedCommit(version)(inner.commit(updated, version, touched))
  override def commitAppend(fresh: DataFrame, version: String, touched: Seq[Int]): Unit =
    timedCommit(version)(inner.commitAppend(fresh, version, touched))
  def stateMeta(key: String): Option[String] = inner.stateMeta(key)
  def commitWithMeta(updated: DataFrame, version: String, touched: Seq[Int], kv: Map[String, String]): Unit =
    timedCommit(version)(inner.commitWithMeta(updated, version, touched, kv))
  def commitAppendWithMeta(fresh: DataFrame, version: String, touched: Seq[Int], kv: Map[String, String]): Unit =
    timedCommit(version)(inner.commitAppendWithMeta(fresh, version, touched, kv))
  def vacuum(graceMs: Long): Seq[String] = inner.vacuum(graceMs)
  override def maintain(): Unit = tracer.span("state.maintain")(inner.maintain())

  private def timedCommit(version: String)(body: => Unit): Unit = {
    val before = versionBytes(version)
    val a = tracer.nowMs
    body
    val b = tracer.nowMs
    tracer.record("state.commit", a, b, Map("bytes_written" -> (versionBytes(version) - before).toDouble))
  }

  /** Bytes under the commit directories of `version` (retries suffix it). */
  private def versionBytes(version: String): Long = {
    val s = Files.list(Paths.get(root))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith(version)).map(Disk.bytes).sum
    finally s.close()
  }
}

object Disk {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
}

object Stats {
  /** Median of `xs` (NaN when empty). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least `beyond` samples above it, as
    * (percentile, value); None when there are too few samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val k = s.size - 1 - beyond
      Some((100.0 * k / (s.size - 1), s(k)))
    }
}
