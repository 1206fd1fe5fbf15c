package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main (Bench, Verify, ExplainQ, ProfileQ,
  * ScaleProbe, ReuseProbe) and the unit suites' `SparkSpec` run under,
  * so their confs cannot drift. */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else this host's processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // older fixture generations carry INT64 TIMESTAMP(NANOS) — surface as
      // raw longs; current TIMESTAMP(MICROS) fixtures are normalized by
      // Fixtures.normalizeEventTs instead (this flag ignores MICROS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // AQE coalesces post-shuffle partitions down to minPartitionSize
      // (default 1m) — at bench scale a 4-5 MB exchange collapses to 4
      // tasks even when the stage ABOVE it explodes 4.7 MB -> 81 MB of
      // pair rows (d12's candidate generate ran on 4 of 32 cores). The
      // lower floor restores reduce-side parallelism for small-input/
      // big-output stages; at cluster scale partitions sit far above
      // either floor, so this is a local-window knob, not a prod tune
      // (plans/r21/minpartition_floor_receipt.txt).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
