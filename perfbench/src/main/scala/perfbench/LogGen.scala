package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Seeded mutation-log generator shared by the `ingest` and `rebuild`
  * workloads, built from Spark expressions so generating a million events
  * costs a map-only job instead of driver-side `Row` building.
  *
  * The log is `files` segment files of `eventsPerFile` customer-shaped
  * events each (table `customer`, family `info`, one put per column). Event
  * `g` (0-based, also its `seq` and write time) sits in file
  * `f = g / eventsPerFile` at offset `i`:
  *
  *  - `i < newPerFile`: a 4-put row for a key no earlier event used
  *    (keys are numbered in creation order, so the state grows);
  *  - the next `updatePerFile` offsets: a 4-put row for a key drawn from
  *    every key created so far, this file's included;
  *  - the rest: a whole-row delete of a key drawn the same way.
  *
  * A drawn key can be deleted and later re-put; the reference answer is
  * the last event per key by `seq`, absent when that event is a delete.
  */
final case class LogParams(seed: Long, files: Int, eventsPerFile: Int = 5000,
                           newShare: Double = 0.6, updateShare: Double = 0.3) {
  require(files > 0 && eventsPerFile > 0, s"empty log: $this")
  val newPerFile: Int = math.round(eventsPerFile * newShare).toInt
  val updatePerFile: Int = math.round(eventsPerFile * updateShare).toInt
  require(newPerFile > 0 && newPerFile + updatePerFile <= eventsPerFile,
    s"shares leave no room for new keys or exceed a file: $this")
  def events: Long = files.toLong * eventsPerFile
  def toMap: Map[String, Any] = Map(
    "seed" -> seed, "files" -> files, "events_per_file" -> eventsPerFile,
    "new_per_file" -> newPerFile, "update_per_file" -> updatePerFile,
    "delete_per_file" -> (eventsPerFile - newPerFile - updatePerFile))
}

object LogGen {
  val Table = "customer"
  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** The log as one frame in the engine's mutation shape; partition `f`
    * holds exactly file `f` (range slices split evenly). */
  def frame(spark: SparkSession, p: LogParams): DataFrame = {
    val e = p.eventsPerFile.toLong
    val g = col("id")
    val f = floor(g / e).cast("long")
    val i = pmod(g, lit(e))
    def draw(salt: Int): Column = pmod(xxhash64(lit(p.seed), g, lit(salt)), lit(Long.MaxValue))
    val created = (f + 1) * p.newPerFile
    val key = when(i < p.newPerFile, f * p.newPerFile + i).otherwise(pmod(draw(1), created))
    val rowKey = lpad(key.cast("string"), 10, "0")
    def cell(q: String, cellType: String, v: Column) = struct(
      lit("info").as("family"), lit(q).as("qualifier"), g.as("ts"),
      lit(cellType).as("cellType"), v.cast("string").as("value"))
    val puts = array(
      cell("name", "put", concat(lit("Customer#"), rowKey, lit("-v"), g.cast("string"))),
      cell("nationkey", "put", pmod(draw(2), lit(25L))),
      cell("acctbal", "put", (pmod(draw(3), lit(1100000L)) - 100000L) / 100.0),
      cell("mktsegment", "put",
        element_at(array(Segments.map(lit): _*), (pmod(draw(4), lit(Segments.size.toLong)) + 1).cast("int"))))
    val delete = array(cell("", "delete-row", lit(null).cast("string")))
    spark.range(0L, p.events, 1L, p.files).select(
      lit(Table).as("table"),
      rowKey.as("rowKey"),
      g.as("seq"),
      g.as("writeTime"),
      when(i >= p.newPerFile + p.updatePerFile, delete).otherwise(puts).as("cells"),
      lit(null).cast("string").as("payload"))
  }

  /** Write the log as `files` parquet segments under `dir` and return
    * them in log order. Each file's mtime is set to its position: the
    * streaming file source hands files out by modification time, and the
    * incremental path is only last-wins across triggers when segments
    * arrive in `seq` order. */
  def write(spark: SparkSession, p: LogParams, dir: String): Seq[Path] = {
    frame(spark, p).write.parquet(dir)
    val parts = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala
        .filter(x => x.getFileName.toString.startsWith("part-") &&
          x.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
    require(parts.size == p.files, s"expected ${p.files} log segments under $dir, found ${parts.size}")
    val base = 1000000000000L
    parts.zipWithIndex.foreach { case (x, k) =>
      Files.setLastModifiedTime(x, FileTime.fromMillis(base + k * 1000L))
    }
    parts
  }
}
