package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Benchmark harness entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * Main --workload ingest|rebuild|gen-check --seed N --seconds S --trace 0|1
  *      --work DIR --out FILE
  * }}}
  *
  * Runs one workload in one driver process against the engine's public
  * entry points and writes the outcome as JSON to `--out`. Work is
  * submitted sequentially: one closed-loop client.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val work = Paths.get(need("work")).toAbsolutePath
    val out = Paths.get(need("out"))
    val seed = need("seed").toLong
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val spark = session(cpus)
    try {
      val doc: Map[String, Any] = workload match {
        case "gen-check" => genCheck(spark, seed, work.toString)
        case w =>
          val c = new Ctx(spark, work, seed, need("seconds").toInt, need("trace") == "1", cpus)
          val o = try {
            if (w == "ingest") Workloads.ingest(c)
            else if (w == "rebuild") Workloads.rebuild(c)
            else throw new IllegalArgumentException(s"unknown workload '$w'")
          } finally c.heap.close()
          Map("workload" -> w, "seed" -> seed, "cpus" -> cpus, "attempted" -> o.attempted,
            "failed" -> o.failed, "errors" -> o.errors,
            "metrics" -> Metrics.json(o.metrics),
            "artifact" -> o.artifact, "check" -> o.check)
      }
      Files.writeString(out, Json(doc))
    } finally spark.stop()
  }

  /** The session confs `graft.Bench` runs the catalogue under. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Generator self-test: the same seed writes the same log twice, and
    * another seed writes a different one. */
  private def genCheck(spark: SparkSession, seed: Long, work: String): Map[String, Any] = {
    val p = LogParams(seed, files = 3, eventsPerFile = 500)
    def load(s: Long, d: String) = {
      LogGen.write(spark, p.copy(seed = s), s"$work/$d")
      spark.read.parquet(s"$work/$d")
    }
    val a = load(seed, "a")
    val b = load(seed, "b")
    val other = load(seed + 1, "c")
    def same(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    Map("rows" -> a.count(), "expected_rows" -> p.events,
      "deterministic" -> same(a, b), "seed_changes_log" -> !same(a, other))
  }
}

/** Minimal JSON writer for the harness's maps, sequences and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}
