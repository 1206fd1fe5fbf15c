package perfbench

import graft.batch.BatchPipeline
import graft.conf.{FieldDef, IndexerConf, RowReadMode, ValueSource}
import graft.core.IndexerCore
import graft.streaming.{DocStateStore, IndexState, MutationStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.util.control.NonFatal

/** What one run hands back to `run.py`: operation counts, the end-to-end
  * or per-layer metrics, the artifact (parameters, noise controls, layer
  * table, spans) and the log/output locations the correctness check
  * compares. */
final case class Outcome(attempted: Int, failed: Int, errors: Seq[String],
                         metrics: Metrics.Table, artifact: Map[String, Any],
                         check: Map[String, String])

object Metrics {
  /** name → (value, unit) */
  type Table = Map[String, (Double, String)]

  def json(t: Table): Map[String, Any] = t.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
}

final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Int,
                val trace: Boolean, val cpus: Int) {
  val heap = new HeapWatch

  /** The CPU and IO noise controls of `graft.Bench`, scaled to this
    * host: a map-only hash sum and a small parquet round trip. Neither
    * touches engine code, so drift between runs is the host's. */
  def sentinels(): Map[String, Double] = {
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val cpu = timed(spark.range(0L, 20000000L, 1L, cpus)
      .selectExpr("sum(pmod(xxhash64(id), 1000000)) as h").write.format("noop").mode("overwrite").save())
    val p = work.resolve("io_sentinel").toString
    val io = timed {
      spark.range(0L, 200000L, 1L, 4).selectExpr("id", "cast(id % 97 as string) as s")
        .write.mode("overwrite").parquet(p)
      spark.read.parquet(p).write.format("noop").mode("overwrite").save()
    }
    Map("cpu_s" -> cpu, "io_s" -> io)
  }

  /** Run `round` [[Workloads.SetupRounds]] times; returns the last
    * round's value and every round's wall (s). The first round also pays
    * JIT and first-use costs. */
  def setUp[A](round: Int => A): (A, Seq[Double]) = {
    val walls = Seq.newBuilder[Double]
    var last: Option[A] = None
    (0 until Workloads.SetupRounds).foreach { r =>
      val t0 = System.nanoTime()
      last = Some(round(r))
      walls += (System.nanoTime() - t0) / 1e9
    }
    (last.get, walls.result())
  }

  /** The run's outcome: the end-to-end metrics, or with tracing the
    * per-layer ones; the artifact carries both plus the spans. */
  def outcome(attempted: Int, failed: Int, errors: Seq[String], e2e: Metrics.Table,
              layers: Option[(Metrics.Table, Traced)], artifact: Map[String, Any],
              check: Map[String, String]): Outcome =
    Outcome(attempted, failed, errors, layers.map(_._1).getOrElse(e2e),
      artifact ++ Map(
        "end_to_end" -> Metrics.json(e2e),
        "heap_peak_post_gc_mb" -> heap.peakMb) ++
        layers.toSeq.flatMap { case (l, tr) => Seq(
          "per_layer" -> Metrics.json(l),
          "layer_table_ms" -> tr.layerTable,
          "spans" -> tr.toJson) },
      check)
}

object Workloads {
  /** The demo-user mapping over the generated customer rows. */
  val conf: IndexerConf = IndexerConf(
    table = LogGen.Table,
    rowReadMode = RowReadMode.Never,
    fields = Seq(
      FieldDef("name_s", "info:name", ValueSource.Value, "string"),
      FieldDef("nationkey_i", "info:nationkey", ValueSource.Value, "int"),
      FieldDef("acctbal_d", "info:acctbal", ValueSource.Value, "double"),
      FieldDef("mktsegment_s", "info:mktsegment", ValueSource.Value, "string")))

  val SetupRounds = 3

  /** A document state or shard set flattened to the columns the
    * reference check compares. */
  def flatten(docs: DataFrame): DataFrame = docs.select(
    col("id"),
    element_at(col("doc")("name_s"), 1).as("name"),
    element_at(col("doc")("nationkey_i"), 1).as("nationkey"),
    element_at(col("doc")("acctbal_d"), 1).as("acctbal"),
    element_at(col("doc")("mktsegment_s"), 1).as("mktsegment"))

  def err(t: Throwable): String = t.toString.replaceAll("\\s+", " ").take(300)

  def metric(v: Double, unit: String): (Double, String) = (v, unit)

  // ---------------------------------------------------------------- ingest

  /** Warm-up segments each set-up round drains. Fewer leave the timed
    * triggers still speeding up as the JIT settles. */
  val WarmFiles = 3

  /** Segments the timed drain runs, one trigger each: a fixed count per
    * `--seconds` so every commit drains the same log (about one trigger a
    * second on a 4-core host), never fewer than 12. */
  def timedFiles(seconds: Int): Int = math.max(12, seconds)

  def ingest(c: Ctx): Outcome = {
    val spark = c.spark
    val params = LogParams(c.seed, WarmFiles + timedFiles(c.seconds))
    val progress = new ProgressLog(spark)

    // one set-up: generate the log, open a fresh state, drain the warm-up
    // segments
    val ((dir, segments), setupWalls) = c.setUp { r =>
      val d = c.work.resolve(s"ingest-$r")
      if (r > 0) Disk.rm(c.work.resolve(s"ingest-${r - 1}"))
      val segs = LogGen.write(spark, params, d.resolve("stage").toString)
      Files.createDirectories(d.resolve("log"))
      segs.take(WarmFiles).foreach(moveInto(d.resolve("log")))
      MutationStream.runToCompletion(spark, conf, d.resolve("log").toString, d.resolve("state").toString)
      (d, segs)
    }
    progress.take()
    val noiseBefore = c.sentinels()

    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    val factory: (String, SparkSession) => DocStateStore = tracer match {
      case Some(t) => (d, s) => new TimedStore(new IndexState(d, s), d, t)
      case None => new IndexState(_, _)
    }
    segments.drop(WarmFiles).foreach(moveInto(dir.resolve("log")))
    c.heap.start()
    val t0 = System.nanoTime()
    val failure = try {
      MutationStream.runToCompletion(spark, conf, dir.resolve("log").toString,
        dir.resolve("state").toString, stateFactory = factory)
      None
    } catch { case NonFatal(t) => Some(err(t)) }
    val drainS = (System.nanoTime() - t0) / 1e9
    c.heap.stop()
    val triggers = progress.take()
    val traced = tracer.map(_.finish(triggers.map(t =>
      ("ss.trigger", t.startMs, t.endMs, Map("batch_id" -> t.batchId.toDouble, "input_rows" -> t.inputRows.toDouble)))))
    val noiseAfter = c.sentinels()

    val stateDir = dir.resolve("state/index")
    val live = new IndexState(stateDir.toString, spark)
    val liveDirs = live.currentManifest.values.map(_.split("/", 2)(0)).toSet
    val indexBytes = liveDirs.toSeq.map(d => Disk.bytes(stateDir.resolve(d))).sum +
      live.currentVersion.map(m => Files.size(stateDir.resolve(m))).getOrElse(0L)
    val checkDir = c.work.resolve("check/ingest_state").toString
    live.read().foreach(df => flatten(df).write.parquet(checkDir))

    val events = triggers.map(_.inputRows).sum.toDouble
    val lat = triggers.map(_.ms("triggerExecution").toDouble)
    val attempted = math.max(triggers.size, 1)
    val e2e = Map(
      "setup_s" -> metric(Stats.median(setupWalls), "s"),
      "op_p50_ms" -> metric(Stats.median(lat), "ms"),
      "events_per_s" -> metric(events / drainS, "1/s"),
      "index_mb" -> metric(indexBytes / 1e6, "MB"),
      "heap_live_mb" -> metric(c.heap.liveMb, "MB"))
    val layers = traced.map { tr =>
      def p50(k: String) = Stats.median(triggers.map(_.ms(k).toDouble))
      (tr.sparkPerOp ++ stateLayer(tr, events) ++ Map(
        "jvm.gc_ms" -> metric(c.heap.gcMs / attempted, "ms"),
        "ss.add_batch_ms" -> metric(p50("addBatch"), "ms"),
        "ss.query_planning_ms" -> metric(p50("queryPlanning"), "ms"),
        "ss.latest_offset_ms" -> metric(p50("latestOffset"), "ms"),
        "ss.wal_commit_ms" -> metric(p50("walCommit"), "ms"),
        "ss.commit_offsets_ms" -> metric(p50("commitOffsets"), "ms"),
        "ss.overhead_ms" -> metric(Stats.median(triggers.map(t =>
          (t.ms("triggerExecution") - t.ms("addBatch")).toDouble)), "ms")), tr)
    }
    c.outcome(attempted, if (failure.isDefined) attempted else 0, failure.toSeq, e2e, layers,
      Map(
        "op" -> "one trigger of MutationStream.runToCompletion, one log segment per trigger",
        "log" -> params.toMap,
        "warm_segments_per_round" -> WarmFiles,
        "setup_rounds_s" -> setupWalls,
        "drain_s" -> drainS,
        "events_drained" -> events,
        "triggers" -> triggers.size,
        "trigger_ms" -> lat,
        "trigger_tail" -> Stats.tail(lat).map { case (p, v) => Map("percentile" -> p, "ms" -> v) }
          .getOrElse("fewer than 11 triggers"),
        "noise" -> Map("before" -> noiseBefore, "after" -> noiseAfter)),
      Map("kind" -> "ingest", "log" -> dir.resolve("log").toString, "output" -> checkDir))
  }

  private def moveInto(dir: Path)(f: Path): Unit = {
    Files.move(f, dir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** State-store layer from the decorator's spans. */
  private def stateLayer(tr: Traced, events: Double): Metrics.Table = {
    def named(n: String) = tr.spans.filter(s => s.name == n && s.op >= 0)
    def perOp(n: String, f: Seq[Span] => Double) =
      Stats.median(tr.ops.map(o => f(named(n).filter(_.op == o.id))))
    // the drain's first trigger also restarts the query: leave it out of
    // the growth ratio, which compares commits on a small and a large state
    val commits = tr.ops.drop(1).map(o => named("state.commit").filter(_.op == o.id).map(_.durMs).sum)
    val decile = math.max(1, commits.size / 10)
    val early = commits.take(decile).sum / decile
    val late = commits.takeRight(decile).sum / decile
    Map(
      "state.read_buckets_ms" -> metric(perOp("state.read_buckets", _.map(_.durMs).sum), "ms"),
      "state.commit_ms" -> metric(perOp("state.commit", _.map(_.durMs).sum), "ms"),
      "state.maintain_ms" -> metric(perOp("state.maintain", _.map(_.durMs).sum), "ms"),
      "state.touched_buckets" -> metric(perOp("state.read_buckets",
        _.map(_.attrs.getOrElse("touched_buckets", 0.0)).sum), "count"),
      "state.bytes_written_per_event" -> metric(
        named("state.commit").map(_.attrs.getOrElse("bytes_written", 0.0)).sum / math.max(events, 1.0), "bytes"),
      "state.commit_late_over_early" -> metric(if (early > 0) late / early else Double.NaN, "ratio"),
      "state.commit_early_ms" -> metric(early, "ms"))
  }

  // --------------------------------------------------------------- rebuild

  val RebuildFiles = 24
  val Shards = 8

  def rebuild(c: Ctx): Outcome = {
    val spark = c.spark
    val params = LogParams(c.seed, RebuildFiles)
    var tracer: Option[Tracer] = None
    def span[A](n: String)(body: => A): A = tracer match {
      case Some(t) => t.span(n)(body)
      case None => body
    }
    def nowMs = System.nanoTime() / 1e6

    // one rebuild: plan, shard build, go-live; returns its phase walls
    def once(snapshot: DataFrame, expected: Long, out: Path, serve: Path): Map[String, Double] = {
      val t0 = nowMs
      val ops = span("batch.plan")(BatchPipeline.run(conf, snapshot))
      val t1 = nowMs
      span("batch.build_shards")(BatchPipeline.buildShards(ops, Shards, out.toString))
      val t2 = nowMs
      span("batch.go_live")(BatchPipeline.goLive(spark, out.toString, serve.toString, Shards, Some(expected)))
      val t3 = nowMs
      Map("plan_ms" -> (t1 - t0), "build_shards_s" -> (t2 - t1) / 1e3, "go_live_s" -> (t3 - t2) / 1e3,
        "wall_s" -> (t3 - t0) / 1e3)
    }

    // one set-up: generate the log, count its live keys, one warm rebuild
    val ((dir, snapshot, expected), setupWalls) = c.setUp { r =>
      val d = c.work.resolve(s"rebuild-$r")
      if (r > 0) Disk.rm(c.work.resolve(s"rebuild-${r - 1}"))
      LogGen.write(spark, params, d.resolve("log").toString)
      val snap = spark.read.parquet(d.resolve("log").toString)
      // live keys by a fold independent of IndexerCore: go-live checks
      // every rebuild's row count against it
      val exp = snap.groupBy("rowKey")
        .agg(max_by(col("cells")(0)("cellType"), col("seq")).as("t"))
        .filter(col("t") === "put").count()
      once(snap, exp, d.resolve("warm"), d.resolve("serve"))
      Disk.rm(d.resolve("warm"))
      (d, snap, exp)
    }
    val noiseBefore = c.sentinels()
    tracer = if (c.trace) Some(new Tracer(spark)) else None
    val rowPathPlan = span("core.row_path_plan") {
      val t0 = nowMs
      IndexerCore.rowPath(conf)(snapshot).queryExecution.optimizedPlan
      nowMs - t0
    }

    c.heap.start()
    val runs = Seq.newBuilder[Map[String, Double]]
    val errors = Seq.newBuilder[String]
    val ops = Seq.newBuilder[(String, Double, Double, Map[String, Double])]
    var attempted = 0
    var last: Option[Path] = None
    val start = System.nanoTime()
    while (attempted < 3 || (System.nanoTime() - start) / 1e9 < c.seconds) {
      val out = dir.resolve(s"shards-$attempted")
      val a = tracer.map(_.nowMs).getOrElse(0.0)
      try {
        runs += once(snapshot, expected, out, dir.resolve("serve"))
        last.foreach(Disk.rm)
        last = Some(out)
      } catch { case NonFatal(t) => errors += err(t) }
      tracer.foreach(t => ops += (("batch.rebuild", a, t.nowMs, Map("rebuild" -> attempted.toDouble))))
      attempted += 1
    }
    c.heap.stop()
    val traced = tracer.map(_.finish(ops.result()))
    val noiseAfter = c.sentinels()
    val done = runs.result()
    val errs = errors.result()

    val checkDir = c.work.resolve("check/rebuild_shards").toString
    last.foreach(p => flatten(BatchPipeline.readShards(spark, p.toString)).write.parquet(checkDir))
    val walls = done.map(_("wall_s"))
    val e2e = Map(
      "setup_s" -> metric(Stats.median(setupWalls), "s"),
      "op_p50_ms" -> metric(Stats.median(walls) * 1e3, "ms"),
      "events_per_s" -> metric(params.events / Stats.median(walls), "1/s"),
      "index_mb" -> metric(last.map(Disk.bytes).getOrElse(0L) / 1e6, "MB"),
      "heap_live_mb" -> metric(c.heap.liveMb, "MB"))
    val layers = traced.map { tr =>
      (tr.sparkPerOp ++ Map(
        "jvm.gc_ms" -> metric(c.heap.gcMs / attempted, "ms"),
        "batch.plan_ms" -> metric(Stats.median(done.map(_("plan_ms"))), "ms"),
        "batch.build_shards_s" -> metric(Stats.median(done.map(_("build_shards_s"))), "s"),
        "batch.go_live_s" -> metric(Stats.median(done.map(_("go_live_s"))), "s"),
        "core.row_path_plan_ms" -> metric(rowPathPlan, "ms")), tr)
    }
    c.outcome(attempted, errs.size, errs, e2e, layers,
      Map(
        "op" -> "one rebuild: BatchPipeline.run, buildShards, goLive",
        "log" -> params.toMap,
        "shards" -> Shards,
        "expected_live_docs" -> expected,
        "setup_rounds_s" -> setupWalls,
        "rebuilds" -> done,
        "noise" -> Map("before" -> noiseBefore, "after" -> noiseAfter)),
      Map("kind" -> "rebuild", "log" -> dir.resolve("log").toString, "output" -> checkDir))
  }
}
