package graft.streaming

import graft.SparkSpec
import graft.ops.Multimodal
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The streaming perceptual gate must equal the batch brute-force
  * keep-first over its own aHashes, enforce ascending arrival, and fold
  * redelivery idempotently. */
class StreamMediaGateSpec extends SparkSpec {

  import spark.implicits._

  private def png(id: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      var idx = 0
      while (idx < 64) {
        val base = ((id % 10) * 31 + idx * 17) % 97 < 48
        val flip = id % 4 == 0 && idx == id % 64
        val tone = if (base != flip) 140 else 40
        g.setColor(new java.awt.Color(tone, tone, tone))
        g.fillRect((idx % 8) * 4, (idx / 8) * 4, 4, 4)
        idx += 1
      }
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def media(ids: Seq[Long]) =
    ids.map(id => (id, "image/png", png(id))).toDF("doc_id", "mime", "payload")

  test("chunked gate == brute-force keep-first; ordering enforced; redelivery no-op") {
    val all = media(0L until 40L)
    val work = Files.createTempDirectory("graft_smg").toString
    val state = new TxnLogState(s"$work/state", spark, 8)
    StreamMediaGate.applyBatch(state, all.filter(col("doc_id") < 20), s"$work/out", 0L)
    StreamMediaGate.applyBatch(state, all.filter(col("doc_id") >= 20), s"$work/out", 1L)
    val got = StreamMediaGate.summary(spark, s"$work/out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap

    val hashes = Multimodal.aHash64(all).collect().map(h => h.doc_id -> h.phash)
    val expected = hashes.map { case (b, hb) =>
      b -> hashes.exists { case (a, ha) =>
        a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
      }
    }.toMap
    assert(got == expected,
      s"diff=${expected.toSet.diff(got.toSet)} extra=${got.toSet.diff(expected.toSet)}")
    assert(got.values.count(identity) > 0 && got.values.count(!_) > 0,
      "fixture must exercise both verdicts")

    // bit-exact redelivery of the last chunk folds to the identical log
    StreamMediaGate.applyBatch(state, all.filter(col("doc_id") >= 20), s"$work/out", 2L)
    assert(StreamMediaGate.summary(spark, s"$work/out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap == got)

    // out-of-order arrival fails loudly, never silently diverges
    val e = intercept[IllegalStateException] {
      StreamMediaGate.applyBatch(state, media(Seq(5L)), s"$work/out", 3L)
    }
    assert(e.getMessage.contains("out-of-order"), e.getMessage)
  }

  test("a redelivered batch id or a kill before the state commit drains to the single-delivery verdicts") {
    val all = media(0L until 40L)
    val (b0, b1) = (all.filter(col("doc_id") < 20), all.filter(col("doc_id") >= 20))
    val work = Files.createTempDirectory("graft_smg_replay").toString
    def verdicts(tag: String) = StreamMediaGate.summary(spark, s"$work/$tag/out")
      .collect().map(_.toString).sorted.toSeq
    def run(tag: String)(second: (TxnLogState, String) => Unit): Seq[String] = {
      val state = new TxnLogState(s"$work/$tag/state", spark, 8)
      StreamMediaGate.applyBatch(state, b0, s"$work/$tag/out", 0L)
      second(state, s"$work/$tag/out")
      verdicts(tag)
    }
    val once = run("once")((st, out) => StreamMediaGate.applyBatch(st, b1, out, 1L))
    assert(run("twice") { (st, out) =>
      StreamMediaGate.applyBatch(st, b1, out, 1L)
      StreamMediaGate.applyBatch(st, b1, out, 1L)
    } == once, "redelivered batch id")
    assert(run("killed") { (st, out) =>
      val dying = new DieOnFirstCommit(st)
      intercept[KilledAtCommit](StreamMediaGate.applyBatch(dying, b1, out, 1L))
      StreamMediaGate.applyBatch(dying, b1, out, 1L)
    } == once, "kill before the state commit")
  }

  test("StreamBlankGate: a redelivered batch id rewrites its own verdicts") {
    val all = media(0L until 6L)
    val work = Files.createTempDirectory("graft_sblank").toString
    StreamBlankGate.applyBatch(all.filter(col("doc_id") < 3), s"$work/out", 0L)
    StreamBlankGate.applyBatch(all.filter(col("doc_id") >= 3), s"$work/out", 1L)
    StreamBlankGate.applyBatch(all.filter(col("doc_id") >= 3), s"$work/out", 1L)
    val got = spark.read.parquet(s"$work/out").drop("batch")
      .collect().map(_.toString).sorted.toSeq
    assert(got == Multimodal.blankFilter(all).toDF().collect().map(_.toString).sorted.toSeq)
  }
}
