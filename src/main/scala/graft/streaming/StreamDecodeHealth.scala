package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming DECODE-HEALTH monitor — m20's per-mime integrity census
  * maintained over the media ingest stream: the live alarm for an
  * upstream re-encoder breaking a mime class (the batch operator is the
  * retrospective audit). State = per-mime (n, n_decodable) counters —
  * mime-classes-sized, CONSTANT in stream length — folded additively
  * behind an atomic generation flip under the HWM/replay-skip contract
  * (additive counters demand ascending doc_id arrival). ok_ppm derives
  * at READ time. Drained census ≡ batch m20 bit-for-bit. */
object StreamDecodeHealth {

  /** Fold one (doc_id, mime, payload) micro-batch. */
  def applyBatch(aggDir: String, batch: DataFrame, batchId: Long): Unit = {
    val b = batch.select(col("doc_id"), col("mime"), col("payload")).cache()
    try GenFold.ordered(aggDir, b, "doc_id",
      "additive health counters equal the batch census only under " +
        "ascending doc_id arrival").foreach { f =>
      val batchCensus = graft.ops.Multimodal.decodeHealth(b)
        .select(col("mime"), col("n"), col("n_decodable"))
      f.commit(batchId, (batchCensus +: f.prior.toSeq).reduce(_ unionByName _)
        .groupBy(col("mime"))
        .agg(sum(col("n")).as("n"), sum(col("n_decodable")).as("n_decodable")))
    } finally { b.unpersist(blocking = false); () }
  }

  /** The standing census — batch m20's output shape. */
  def summary(spark: SparkSession, aggDir: String): DataFrame =
    GenFold.current(spark, aggDir) match {
      case Some(census) => census
        .withColumn("ok_ppm", expr("(n_decodable * 1000000L) div n"))
        .select(col("mime"), col("n"), col("n_decodable"), col("ok_ppm"))
      case None => throw new IllegalStateException("no decode-health state committed yet")
    }

  /** Convenience drain over a (doc_id, mime, payload) log. */
  def drain(spark: SparkSession, aggDir: String, inPath: String,
            ckptPath: String): DataFrame = {
    Drain.run(spark, new StructType()
      .add("doc_id", "long").add("mime", "string").add("payload", "binary"),
      inPath, ckptPath)((b, id) => applyBatch(aggDir, b, id))
    summary(spark, aggDir)
  }
}
