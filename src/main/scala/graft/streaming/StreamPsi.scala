package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming PSI drift — t25's monitor on the ingest path: the current
  * snapshot's feature histogram accumulates per micro-batch against a
  * REFERENCE histogram frozen once at drain start, and the drained
  * summary equals the batch [[graft.ops.CorpusStats.psiDrift]] bit for
  * bit (per-bin counts are additive over disjoint triggers; the PSI
  * formula runs once, on the final counts).
  *
  * State is the per-bin counter — ≤ |bins| rows, CONSTANT in stream
  * length — as immutable generations behind an atomic pointer flip (the
  * [[StreamQuota]] shape). Additive counts mean replay double-folds, so
  * the ascending-doc_id contract is HWM-enforced: exact redelivery of
  * the newest batch is range-detected and skipped, out-of-order fails
  * loudly. */
object StreamPsi {

  /** Fold one (doc_id, bin) micro-batch into the current-side histogram. */
  def applyBatch(stateDir: String, batch: DataFrame, batchId: Long): Unit = {
    val b = batch.select(col("doc_id"), col("bin")).cache()
    try GenFold.ordered(stateDir, b, "doc_id",
      "additive histogram counts must not re-fold").foreach { f =>
      val batchCounts = b.groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
      f.commit(batchId, (f.prior.toSeq :+ batchCounts).reduce(_ unionByName _)
        .groupBy(col("bin")).agg(sum(col("n_cur")).as("n_cur")))
    } finally { b.unpersist(blocking = false); () }
  }

  /** The drift summary against a reference (doc_id-free) binned frame —
    * the t25 output shape, computed on the standing histogram. */
  def summary(spark: SparkSession, stateDir: String, ref: DataFrame): DataFrame = {
    val cur = GenFold.current(spark, stateDir)
      .getOrElse(throw new IllegalStateException("no PSI state committed yet"))
    val refCounts = ref.groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
    graft.ops.CorpusStats.psiFromCounts(refCounts, cur)
  }

  /** Convenience drain over an ordered (doc_id, bin) log. */
  def drain(spark: SparkSession, stateDir: String, ref: DataFrame,
            inPath: String, ckptPath: String): DataFrame = {
    Drain.run(spark, new StructType().add("doc_id", "long").add("bin", "long"),
      inPath, ckptPath)((b, id) => applyBatch(stateDir, b, id))
    summary(spark, stateDir, ref)
  }
}
