package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}

import graft.core.ParquetOnce

/** Atomic generation-pointer + high-water-mark manifest for the
  * constant-size streaming rollups that keep no per-key state
  * ([[StreamQuota]], [[StreamAspect]], [[StreamBurst]],
  * [[StreamCalibration]], [[StreamDecodeHealth]], [[StreamPsi]],
  * [[StreamKmv]], [[StreamGramCoverage]] — all through [[GenFold]]).
  *
  * One `_current` file holds `gen\tlo\thi`, written via temp +
  * ATOMIC_MOVE, so the state advance and the redelivery detector are a
  * SINGLE commit point: a crash anywhere before the move replays the
  * batch against the OLD generation (correct: the fold is deterministic
  * and the new generation directory is simply rewritten), and a crash
  * after the move is detected as a bit-exact redelivery by its (lo, hi)
  * range and skipped. Superseded generations are reclaimed by
  * [[GenMeta.sweep]] — the same two-phase grace-window protocol the
  * dual-state monitors use.
  * Every ordered drain applies the ONE arrival rule, [[arrival]].
  */
object GenManifest {

  /** (generation, hwm lo, hwm hi) of the live commit, None when empty. */
  def read(dir: String): Option[(String, Long, Long)] = {
    val cur = Paths.get(dir, "_current")
    if (!Files.exists(cur)) None
    else Files.readString(cur).trim.split("\t") match {
      case Array(g, lo, hi) => Some((g, lo.toLong, hi.toLong))
      case other => throw new IllegalStateException(
        s"unparseable generation manifest in $dir: '${other.mkString("\\t")}'")
    }
  }

  /** The live generation name (directory under `dir`), None when empty. */
  def currentGen(dir: String): Option[String] = read(dir).map(_._1)

  /** THE arrival rule, wherever the previous (lo, hi) mark lives: TRUE
    * when the batch is a bit-exact redelivery of the newest committed
    * one (skip it); throws on any other overlap, naming `contract`;
    * false for a fresh batch. */
  private[streaming] def arrival(prev: Option[(Long, Long)], lo: Long, hi: Long,
                                 contract: String): Boolean =
    prev match {
      case Some((pl, ph)) if lo == pl && hi == ph => true
      case Some((_, ph)) if lo <= ph =>
        throw new IllegalStateException(
          s"out-of-order arrival: batch range [$lo, $hi] overlaps the " +
            s"high-water mark $ph — $contract")
      case _ => false
    }

  /** [[arrival]] against the mark in this manifest. */
  def isRedelivery(dir: String, lo: Long, hi: Long, contract: String): Boolean =
    arrival(read(dir).map { case (_, pl, ph) => (pl, ph) }, lo, hi, contract)

  /** THE commit point: generation pointer and hwm land in one atomic move. */
  def commit(dir: String, gen: String, lo: Long, hi: Long): Unit =
    IndexState.atomicWriteString(Paths.get(dir, "_current"), s"$gen\t$lo\t$hi")
}

/** The single-state generation lifecycle of every [[GenManifest]]
  * monitor, owned once: batch (lo, hi) range (one aggregate job) →
  * redelivery check → prior generation as a lazy scan → write
  * `g<batchId>` and seed its schema → manifest commit → superseded-
  * generation sweep. A monitor supplies only its batch-side aggregate
  * and its fold expression over [[Step.prior]].
  *
  * Ordered folds (additive counters, first-come admission) open with
  * [[ordered]]; idempotent folds (set union, sketch merge — any arrival
  * order, redelivery a no-op by algebra) open with [[idempotent]] and
  * commit the sentinel range, so the manifest format stays uniform. */
object GenFold {

  /** One fold in progress: the batch range and the live generation. */
  final class Step private[GenFold] (dir: String, val lo: Long, val hi: Long,
                                     val prior: Option[DataFrame]) {
    /** Write `next` as generation `g<batchId>`, commit it with this
      * step's range, then sweep the superseded generations. Any output
      * that must land before the commit is written before this call. */
    def commit(batchId: Long, next: DataFrame): Unit = {
      val gen = write(dir, batchId, next)
      GenManifest.commit(dir, gen, lo, hi)
      GenMeta.sweep(dir, keep = gen)
    }
  }

  /** Write `next` as generation `g<batchId>` under `dir` (overwriting a
    * replayed batch's uncommitted attempt) and seed its schema; returns
    * the generation name for the caller's commit. */
  def write(dir: String, batchId: Long, next: DataFrame): String = {
    val gen = s"g$batchId"
    ParquetOnce.seed(s"gen:$dir", next.schema)
    next.write.mode("overwrite").parquet(s"$dir/$gen")
    gen
  }

  /** Generation `gen` under `dir`, with the schema memoized per `dir`
    * (every generation is written by the same fold). */
  def scan(spark: SparkSession, dir: String, gen: String): DataFrame =
    ParquetOnce.read(spark, s"gen:$dir", s"$dir/$gen")

  /** The live generation of a [[GenManifest]] monitor, None when empty. */
  def current(spark: SparkSession, dir: String): Option[DataFrame] =
    GenManifest.currentGen(dir).map(scan(spark, dir, _))

  /** Open an ordered fold over `b`, ranged on the long column `key`.
    * None when the batch is empty or is a bit-exact redelivery of the
    * newest commit (already folded: skip); throws on any other overlap,
    * naming `contract`. */
  def ordered(dir: String, b: DataFrame, key: String, contract: String): Option[Step] = {
    Files.createDirectories(Paths.get(dir))
    val range = b.agg(min(col(key)), max(col(key))).head()
    if (range.isNullAt(0)) None
    else {
      val (lo, hi) = (range.getLong(0), range.getLong(1))
      if (GenManifest.isRedelivery(dir, lo, hi, contract)) None
      else Some(new Step(dir, lo, hi, current(b.sparkSession, dir)))
    }
  }

  /** Open an idempotent fold: no range, no redelivery check. */
  def idempotent(spark: SparkSession, dir: String): Step =
    new Step(dir, Long.MinValue, Long.MinValue, current(spark, dir))
}

/** The DUAL-STATE variant of [[GenManifest]]: monitors that keep a
  * bucketed per-key state in a [[DocStateStore]] NEXT TO a constant-size
  * rollup generation ([[StreamTransitions]], [[StreamAttribution]],
  * [[StreamUniqueTokens]], [[StreamVocab]]) cannot use a filesystem
  * manifest as the commit point — a crash between the store commit and
  * the manifest flip leaves the two halves disagreeing about which
  * batches folded (the per-key state says yes, the redelivery detector
  * says no → the additive rollup double-counts on replay, or computes
  * boundary terms against post-batch state). Instead the generation
  * pointer AND the high-water mark ride the store commit itself as
  * [[DocStateStore.stateMeta]] keys (Delta's `txn` action, re-expressed):
  * ONE put-if-absent txn entry (or CURRENT flip) advances the per-key
  * delta, the rollup pointer, and the redelivery range together — no
  * ordering of filesystem writes can tear them apart (the keep-first
  * gates commit their [[hwm]] the same way).
  *
  * Both variants reclaim superseded generations through ONE protocol,
  * [[sweep]]. */
object GenMeta {

  /** The live rollup generation for namespace `ns`, None when empty. */
  def currentGen(store: DocStateStore, ns: String): Option[String] =
    store.stateMeta(s"$ns.gen")

  /** [[GenManifest.arrival]] against the store-resident mark of `ns`. */
  def isRedelivery(store: DocStateStore, ns: String,
                   lo: Long, hi: Long, contract: String): Boolean =
    GenManifest.arrival(store.stateMeta(s"$ns.hwm")
      .map { h => val Array(pl, ph) = h.split(",").map(_.toLong); (pl, ph) },
      lo, hi, contract)

  /** The high-water-mark entry a monitor attaches to its store commit. */
  def hwm(ns: String, lo: Long, hi: Long): Map[String, String] =
    Map(s"$ns.hwm" -> s"$lo,$hi")

  /** [[hwm]] plus the rollup generation pointer. */
  def kv(ns: String, gen: String, lo: Long, hi: Long): Map[String, String] =
    hwm(ns, lo, hi) + (s"$ns.gen" -> gen)

  /** Reclaim superseded `g*` generation directories under `aggDir` —
    * called AFTER the commit, so a crash before it merely leaks a dir
    * that the next batch's sweep reclaims (self-healing, never load-
    * bearing). Deletion is TWO-PHASE with a grace window: the first
    * sweep that sees a superseded dir stamps a `_doomed` marker (an
    * underscore file, invisible to parquet readers) recording the
    * supersession time; only a later sweep deletes dirs whose stamp is
    * older than `graceMs`. A concurrent reader that resolved the old
    * pointer ([[GenManifest.currentGen]] or [[currentGen]]) but has not
    * yet materialized its lazy parquet scan therefore never hits
    * FileNotFoundException mid-read — the same discipline as the store
    * vacuum paths. Only `g*` directories are touched: the pointer (a
    * `_current` manifest or the store meta) is never the sweep's to
    * delete.
    *
    * Retention is bounded by COUNT as well as age: only the
    * `graceKeep` most-recently-superseded generations get the FULL
    * grace window; older ones are reclaimable once `graceFloorMs` has
    * passed since their supersession stamp. Commit COUNT alone must
    * never delete — at seconds-level trigger cadence a gen can be
    * `graceKeep` commits deep within seconds of being superseded while
    * a reader that resolved it as CURRENT is still materializing its
    * lazy scan; the floor is the hard resolution→materialization bound
    * every reader gets. The backlog is then capped at
    * max(graceKeep, commits within graceFloorMs) directories per
    * monitor instead of one per trigger across the whole window. */
  def sweep(aggDir: String, keep: String, graceMs: Long = 10L * 60 * 1000,
            graceKeep: Int = 4, graceFloorMs: Long = 60L * 1000): Unit =
    // self-healing and never load-bearing: a failed sweep leaks dirs
    // the NEXT sweep reclaims — it must not fail the batch post-commit.
    // But a PERSISTENTLY failing sweep (permissions, IO) leaks superseded
    // generations forever, so the swallow is rate-limited-logged: one
    // line per (aggDir, exception class) per process, diagnosable
    // without turning the post-commit hook into a log storm.
    try sweepOrThrow(aggDir, keep, graceMs, graceKeep, graceFloorMs)
    catch {
      case scala.util.control.NonFatal(e) =>
        val key = s"$aggDir#${e.getClass.getName}"
        if (loggedSweepFailures.add(key))
          System.err.println(
            s"[graft] GenMeta.sweep failed for $aggDir (superseded generations " +
              s"will accumulate until a sweep succeeds): $e")
    }

  /** (aggDir, exception class) pairs already logged — bounds sweep-failure
    * logging to one line per distinct failure mode per process. */
  private val loggedSweepFailures =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[streaming] def sweepOrThrow(aggDir: String, keep: String, graceMs: Long,
                                      graceKeep: Int, graceFloorMs: Long): Unit = {
    val root = Paths.get(aggDir)
    if (!Files.exists(root)) return
    val fs = Files.list(root)
    val superseded =
      try {
        val it = fs.iterator()
        var acc = List.empty[java.nio.file.Path]
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (n.startsWith("g") && n != keep && Files.isDirectory(p)) acc ::= p
        }
        acc
      } finally fs.close()
    // a re-committed (replayed) generation is live again: clear any
    // stale stamp so a later supersession gets a full grace window
    Files.deleteIfExists(root.resolve(keep).resolve("_doomed"))
    val now = System.currentTimeMillis()
    // newest-first by batch id (gens are g<batchId>, monotonic);
    // non-numeric strays sort LAST (oldest) — note -(Long.MinValue)
    // would overflow back to MinValue and rank them newest
    val byRecency = superseded.sortBy { p =>
      val n = p.getFileName.toString.drop(1)
      if (n.nonEmpty && n.forall(_.isDigit)) -n.toLong else Long.MaxValue
    }
    byRecency.zipWithIndex.foreach { case (p, rank) =>
      val stamp = p.resolve("_doomed")
      val doomedAt =
        if (Files.exists(stamp)) {
          // a crash mid-write leaves a partial stamp; treat it as
          // stamped now (sweep is self-healing, never load-bearing)
          val raw = Files.readString(stamp).trim
          if (raw.nonEmpty && raw.forall(_.isDigit)) raw.toLong
          else { IndexState.atomicWriteString(stamp, now.toString); now }
        } else { IndexState.atomicWriteString(stamp, now.toString); now }
      val age = now - doomedAt
      if (age >= graceMs || (rank >= graceKeep && age >= graceFloorMs))
        IndexState.deleteRecursively(p)
    }
  }
}
