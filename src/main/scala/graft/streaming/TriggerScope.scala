package graft.streaming

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Per-trigger SQL-conf scoping for foreachBatch drains (the
  * [[StreamNovelty]] discipline, shared): shuffle width proportional to
  * the trigger's input splits (floor 4, capped at the session width) and
  * AQE off — a trigger-sized frame has nothing for AQE to re-plan, and
  * its per-stage query materialization is pure scheduling tax on a
  * ~3-job trigger (the same disease the rank loops had,
  * BENCHNOTES_r17.md §2). Both settings restore in `finally`; a genuinely
  * large trigger (many input splits) keeps the session width, so at
  * cluster scale this is a no-op exactly when width matters.
  *
  * The conf is applied to `b.sparkSession` — the STREAM'S CLONED session
  * (ForeachBatchSink hands the user a frame bound to
  * sparkSessionForStream, which snapshots the user conf at query start
  * and plans every batch-derived frame against its own SQLConf) — not
  * the session that started the query. Scoping the outer session (the
  * r17 shape) never reached the batch plans at all, and mutating it from
  * the stream thread raced any concurrent work on that session; scoping
  * the clone is both effective and race-free by construction, because
  * each streaming query owns its clone exclusively. Frames that should
  * plan under the scope must therefore DERIVE from `b` (for binary ops:
  * the batch-derived side must be the receiver — a Dataset executes
  * under its receiver chain's session). */
object TriggerScope {

  def scoped[T](b: DataFrame)(body: => T): T = {
    val sess = b.sparkSession
    val sessParts = sess.sessionState.conf.numShufflePartitions
    val trigParts = math.max(4, math.min(sessParts, b.rdd.getNumPartitions * 4))
    val prevParts = sess.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = sess.conf.get("spark.sql.adaptive.enabled")
    sess.conf.set("spark.sql.shuffle.partitions", trigParts.toString)
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      sess.conf.set("spark.sql.shuffle.partitions", prevParts)
      sess.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}

/** The one drain loop every foreachBatch monitor shares: an ordered
  * parquet log is read one file per trigger, each micro-batch runs
  * `perBatch` under [[TriggerScope.scoped]], and the query drains what
  * is there (`AvailableNow`) and returns once it has. The checkpoint
  * makes the drain resumable: a rerun over the same `ckptPath` only
  * sees files that arrived since. It also owns the output-log layout:
  * one `batch=<batchId>` partition per batch, so a replay (same id)
  * rewrites its own rows instead of appending a second copy. */
object Drain {

  /** Write `out` as batch `batchId` of the log at `outPath`. */
  def writeBatch(out: DataFrame, outPath: String, batchId: Long): Unit =
    out.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")

  /** The log at `outPath` without its batch column, read by `reader`. */
  def readLog(reader: DataFrameReader, outPath: String): DataFrame =
    reader.parquet(outPath).drop("batch")

  def run(spark: SparkSession, schema: StructType, inPath: String, ckptPath: String)
         (perBatch: (DataFrame, Long) => Unit): Unit =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inPath)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) => TriggerScope.scoped(b)(perBatch(b, id)) }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptPath)
      .start()
      .awaitTermination()
}
