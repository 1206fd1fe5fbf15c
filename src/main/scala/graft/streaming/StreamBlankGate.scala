package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Streaming BLANK-media gate — [[graft.ops.Multimodal.blankFilter]]
  * applied per micro-batch: every arriving image's dominant-tone share
  * is a pure function of its own raster, so there is no cross-batch
  * state, no ordering contract, no high-water mark — the s09/s16/s23
  * percolation family, raster edition. A redelivered batch overwrites
  * its own verdicts; the drained union of per-batch verdicts IS the
  * batch operator over the same media. */
object StreamBlankGate {

  /** Judge one (doc_id, mime, payload) micro-batch, log verdicts. */
  def applyBatch(batch: DataFrame, outPath: String, batchId: Long, bands: Int = 4,
                 threshold: Long = 900000L): Unit =
    Drain.writeBatch(graft.ops.Multimodal.blankFilter(batch, bands, threshold).toDF(),
      outPath, batchId)

  /** Convenience drain over a (doc_id, mime, payload) media log. */
  def drain(spark: SparkSession, inPath: String, outPath: String,
            ckptPath: String): DataFrame = {
    Drain.run(spark, new StructType()
      .add("doc_id", "long").add("mime", "string").add("payload", "binary"),
      inPath, ckptPath)((b, id) => applyBatch(b, outPath, id))
    Drain.readLog(spark.read, outPath)
  }
}
