package graft.streaming

import graft.SparkSpec
import graft.ops.Dedup
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The incremental keep-first must equal the batch operator under
  * ordered arrival, and the seen-set must actually persist across
  * batches (a later batch restating earlier text scores 0 novelty). */
class StreamNoveltySpec extends SparkSpec {

  test("applyBatch over ordered chunks == batch noveltyScores; cross-batch repeats score 0") {
    import spark.implicits._
    val k = 3
    val corpus = Seq(
      1L -> "aa bb cc dd ee ff",
      2L -> "gg hh ii jj kk ll",
      // restates doc 1 verbatim — every window is a cross-batch repeat
      3L -> "aa bb cc dd ee ff",
      // half doc 2, half new
      4L -> "gg hh ii jj zz yy xx ww")
    val df = corpus.toDF("doc_id", "text")
    val work = Files.createTempDirectory("graft_snov").toString
    val state = new TxnLogState(s"$work/seen", spark, 8,
      autoCompactEvery = 1, maintenanceGraceMs = 0L)
    // two ordered batches: {1,2} then {3,4}
    StreamNovelty.applyBatch(state, df.filter(col("doc_id") <= 2),
      "doc_id", "text", k, s"$work/out", 0L)
    StreamNovelty.applyBatch(state, df.filter(col("doc_id") > 2),
      "doc_id", "text", k, s"$work/out", 1L)
    val got = spark.read
      .schema("doc_id long, n_windows long, n_novel long, novelty double")
      .parquet(s"$work/out")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = Dedup.noveltyScores(df, "doc_id", "text", k = k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got(3L)._2 == 0L, s"a verbatim cross-batch restatement is 0-novel: $got")
    assert(got(4L)._2 > 0L && got(4L)._2 < got(4L)._1,
      s"a half-new doc is partially novel: $got")
    // the aggressive cadence compacted the seen-log mid-run; a cold
    // store still folds the full seen-set (state survived the vacuum)
    val reopened = new TxnLogState(s"$work/seen", spark, 8)
    assert(reopened.read().map(_.count()).getOrElse(0L) ==
      state.read().map(_.count()).getOrElse(-1L))
  }

  test("StreamSpanDedup over ordered chunks == batch dedupSpans, cross-batch cuts included") {
    import spark.implicits._
    val k = 3
    val corpus = Seq(
      1L -> "aa bb cc dd ee ff",
      2L -> "gg hh ii jj kk ll",
      // restates doc 1 — every window cut, clean_text empty
      3L -> "aa bb cc dd ee ff",
      // head restates doc 2's head across the batch boundary, tail is new
      4L -> "gg hh ii jj zz yy xx ww",
      // fewer than k tokens: no windows, survives untouched
      5L -> "mm nn")
    val df = corpus.toDF("doc_id", "text")
    val work = java.nio.file.Files.createTempDirectory("graft_sspan").toString
    val state = new TxnLogState(s"$work/seen", spark, 8,
      autoCompactEvery = 1, maintenanceGraceMs = 0L)
    StreamSpanDedup.applyBatch(state, df.filter(col("doc_id") <= 2),
      "doc_id", "text", k, s"$work/out", 0L)
    StreamSpanDedup.applyBatch(state, df.filter(col("doc_id") > 2),
      "doc_id", "text", k, s"$work/out", 1L)
    val got = spark.read
      .schema("doc_id long, n_tokens long, n_removed long, clean_text string")
      .parquet(s"$work/out")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val batch = graft.ops.Dedup.dedupSpans(df, "doc_id", "text", k = k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got(3L)._3 == "", s"a verbatim cross-batch restatement is fully cut: $got")
    assert(got(5L)._3 == "mm nn", s"sub-k docs have no windows to cut: $got")
    assert(got(4L)._2 > 0L && got(4L)._3.nonEmpty,
      s"a half-restated doc loses its restated head only: $got")
  }

  test("StreamCharSpanDedup over ordered chunks == batch dedupCharSpans, cross-batch cuts included") {
    import spark.implicits._
    val k = 5
    val corpus = Seq(
      1L -> "abcdefghij tail",
      2L -> "unrelated body",
      // restates doc 1's char run mid-text, no token alignment
      3L -> "xx abcdefghij yy",
      // head restates doc 2's head across the batch boundary
      4L -> "unrelated fresh ending",
      // shorter than k chars after normalization: untouched
      5L -> "shrt")
    val df = corpus.toDF("doc_id", "text")
    val work = java.nio.file.Files.createTempDirectory("graft_scspan").toString
    val state = new TxnLogState(s"$work/seen", spark, 8,
      autoCompactEvery = 1, maintenanceGraceMs = 0L)
    StreamCharSpanDedup.applyBatch(state, df.filter(col("doc_id") <= 2),
      "doc_id", "text", k, s"$work/out", 0L)
    StreamCharSpanDedup.applyBatch(state, df.filter(col("doc_id") > 2),
      "doc_id", "text", k, s"$work/out", 1L)
    val got = spark.read
      .schema("doc_id long, n_chars long, n_removed long, clean_text string")
      .parquet(s"$work/out")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val batch = Dedup.dedupCharSpans(df, "doc_id", "text", k = k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got(3L)._2 > 0L, s"a cross-batch char restatement must be cut: $got")
    assert(got(5L)._3 == "shrt", s"sub-k docs have no windows to cut: $got")
  }

  test("StreamExactDedup over ordered chunks == global keep-first over fingerprints") {
    import spark.implicits._
    val corpus = Seq(
      1L -> "alpha beta gamma",
      2L -> "delta epsilon zeta",
      // formatting-noise copy of doc 1 in a LATER batch → dropped
      3L -> "  ALPHA beta   gamma ",
      // verbatim cross-batch duplicate of doc 2 → dropped
      4L -> "delta epsilon zeta",
      // intra-batch duplicates of NEW content: smaller id wins the batch
      5L -> "wholly new content",
      6L -> "  wholly NEW content ")
    val df = corpus.toDF("doc_id", "text")
    val work = java.nio.file.Files.createTempDirectory("graft_sexact").toString
    val state = new TxnLogState(s"$work/seen", spark, 8,
      autoCompactEvery = 1, maintenanceGraceMs = 0L)
    StreamExactDedup.applyBatch(state, df.filter(col("doc_id") <= 2),
      "doc_id", "text", s"$work/out", 0L)
    StreamExactDedup.applyBatch(state, df.filter(col("doc_id") > 2),
      "doc_id", "text", s"$work/out", 1L)
    val got = spark.read.schema("doc_id long, kept boolean").parquet(s"$work/out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> true, 6L -> false), s"got $got")
  }

  test("out-of-order arrival fails loudly; exact redelivery of the last batch is tolerated") {
    import spark.implicits._
    val k = 3
    val df = Seq(
      1L -> "aa bb cc dd",
      2L -> "ee ff gg hh",
      3L -> "ii jj kk ll",
      4L -> "mm nn oo pp").toDF("doc_id", "text")
    val work = Files.createTempDirectory("graft_ooo").toString
    val state = new TxnLogState(s"$work/seen", spark, 8)
    val b1 = df.filter(col("doc_id") <= 2)
    StreamNovelty.applyBatch(state, df.filter(col("doc_id") === 3),
      "doc_id", "text", k, s"$work/out", 0L)
    // a batch whose ids fall at-or-below the high-water mark violates the
    // ascending-ingestion-log contract the batch-equality proof rests on
    val e = intercept[IllegalStateException] {
      StreamNovelty.applyBatch(state, b1, "doc_id", "text", k, s"$work/out", 1L)
    }
    assert(e.getMessage.contains("out-of-order"), e.getMessage)
    // ...but an at-least-once redelivery of the MOST RECENT batch (same
    // doc_id range) must pass: its fresh set folds to ∅ against the
    // already-committed state
    StreamNovelty.applyBatch(state, df.filter(col("doc_id") === 3),
      "doc_id", "text", k, s"$work/out", 0L)
    // and the next in-order batch proceeds; all three gates share the check
    StreamSpanDedup.applyBatch(state, df.filter(col("doc_id") === 4),
      "doc_id", "text", k, s"$work/out2", 2L)
    intercept[IllegalStateException] {
      StreamExactDedup.applyBatch(state, b1, "doc_id", "text", s"$work/out2", 3L)
    }
  }

  test("StreamNbGate over chunks == batch nbQualityScore positives; chunking-invariant") {
    import spark.implicits._
    // seed: doc 1/2 positive style ("aa bb"), doc 3 negative style
    val corpus = Seq(
      1L -> "aa bb aa bb cc",
      2L -> "aa bb aa cc",
      3L -> "zz yy zz yy zz",
      4L -> "aa bb cc aa",  // unlabeled, positive-leaning
      5L -> "zz yy zz",     // unlabeled, negative-leaning
      6L -> "aa zz")        // unlabeled, mixed
    val df = corpus.toDF("doc_id", "text")
    val seed = Seq((1L, true), (2L, true), (3L, false)).toDF("doc_id", "lab")
    val (model, consts) = graft.ops.CorpusStats.nbTrain(df, "doc_id", "text", seed)
    val expected = graft.ops.CorpusStats.nbQualityScore(df, "doc_id", "text", seed)
      .filter(col("pred"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty && expected.size < corpus.size,
      s"fixture must discriminate: $expected")

    // two different chunkings must admit the identical set (stateless gate)
    for ((cuts, tag) <- Seq(Seq(2L, 4L) -> "a", Seq(1L, 5L) -> "b")) {
      val work = Files.createTempDirectory(s"graft_nbgate_$tag").toString
      val chunks = (Long.MinValue +: cuts :+ Long.MaxValue).sliding(2).toSeq
      chunks.zipWithIndex.foreach { case (Seq(lo, hi), id) =>
        StreamNbGate.applyBatch(model, consts,
          df.filter(col("doc_id") > lo && col("doc_id") <= hi),
          "doc_id", "text", s"$work/out", id.toLong)
      }
      val got = spark.read.schema("doc_id long, n_tokens long, score_q long")
        .parquet(s"$work/out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"chunking $tag: $got vs $expected")
    }
  }

  test("trigger summary fails BY NAME over maxSummaryGrams; exactly at the bound passes") {
    import spark.implicits._
    // "aa bb cc dd" at k=2 → 3 distinct token 2-grams
    val df = Seq(1L -> "aa bb cc dd").toDF("doc_id", "text")
    val e = intercept[Exception] {
      KgramStreamCore.summarize(df, "doc_id", "text", k = 2, buckets = 8,
        maxSummaryGrams = 2)
    }
    // the executor-side trip surfaces wrapped in a SparkException — the
    // named knob must be visible somewhere in the cause chain
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.toString +: chain(t.getCause)
    assert(chain(e).exists(_.contains("maxSummaryGrams")), chain(e).mkString(" | "))
    val ok = KgramStreamCore.summarize(df, "doc_id", "text", k = 2, buckets = 8,
      maxSummaryGrams = 3)
    assert(ok.hs.length == 3)
  }

  test("StreamCharDecontamination over ANY chunking == batch charContamination (frozen benchmark, no state)") {
    import spark.implicits._
    val k = 5
    val corpus = Seq(
      1L -> "abcdefghij tail",
      2L -> "unrelated body",
      3L -> "xx abcdefghij yy", // shares the 10-char run → contaminated
      4L -> "wholly fresh ending",
      5L -> "shrt")
    val df = corpus.toDF("doc_id", "text")
    val bench = Seq(0L -> "abcdefghij").toDF("bid", "text")
    val expected = Dedup.charContamination(df, bench, "doc_id", "text", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(expected.exists(_._4) && expected.exists(!_._4),
      s"fixture must discriminate: $expected")
    // order-independence: a REVERSED chunking must equal the batch op too
    for ((order, tag) <- Seq(Seq(Seq(1L, 2L, 3L), Seq(4L, 5L)) -> "fwd",
                             Seq(Seq(5L, 4L), Seq(3L, 2L, 1L)) -> "rev")) {
      val work = Files.createTempDirectory(s"graft_scdec_$tag").toString
      val bg = Dedup.charBenchGrams(bench, "text", k)
      order.zipWithIndex.foreach { case (ids, id) =>
        StreamCharDecontamination.applyBatch(bg,
          df.filter(col("doc_id").isin(ids: _*)), "doc_id", "text", k, s"$work/out", id.toLong)
      }
      // at-least-once: the last trigger redelivered under its own batch id
      StreamCharDecontamination.applyBatch(bg, df.filter(col("doc_id").isin(order.last: _*)),
        "doc_id", "text", k, s"$work/out", order.size - 1L)
      bg.destroy()
      val got = spark.read
        .schema("doc_id long, n_windows long, n_hits long, contaminated boolean")
        .parquet(s"$work/out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
      assert(got.sorted == expected.toSeq.sorted, s"chunking $tag with replayed last trigger")
    }
  }

  test("StreamCharSpanDecontamination over ANY chunking == batch surgical cut (static set, no state)") {
    import spark.implicits._
    val k = 5
    val corpus = Seq(
      1L -> "abcdefghij tail",     // head is cut, " tail" survives
      2L -> "unrelated body",
      3L -> "xx abcdefghij yy",    // mid-doc cut fuses "xx " + " yy"
      4L -> "wholly fresh ending",
      5L -> "shrt")
    val df = corpus.toDF("doc_id", "text")
    val bench = Seq(0L -> "abcdefghij").toDF("bid", "text")
    val expected = Dedup.charDecontaminateSpans(df, bench, "doc_id", "text", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(expected.exists(_._3 > 0) && expected.exists(_._3 == 0),
      s"fixture must discriminate: $expected")
    for ((order, tag) <- Seq(Seq(Seq(1L, 2L, 3L), Seq(4L, 5L)) -> "fwd",
                             Seq(Seq(5L, 4L), Seq(3L, 2L, 1L)) -> "rev")) {
      val work = Files.createTempDirectory(s"graft_scspan_$tag").toString
      val bg = Dedup.charBenchGrams(bench, "text", k)
      order.zipWithIndex.foreach { case (ids, id) =>
        StreamCharSpanDecontamination.applyBatch(bg,
          df.filter(col("doc_id").isin(ids: _*)), "doc_id", "text", k, s"$work/out", id.toLong)
      }
      bg.destroy()
      val got = spark.read
        .schema("doc_id long, n_chars long, n_removed long, clean_text string")
        .parquet(s"$work/out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(got == expected, s"chunking $tag: $got vs $expected")
    }
  }

  test("StreamContaminationCensus over ANY chunking == batch census; a replayed trigger cannot double-count") {
    import spark.implicits._
    val k = 5
    val corpus = Seq(
      1L -> "abcdefghij tail",
      2L -> "unrelated body",
      3L -> "xx abcdefghij yy", // shares the run with item 10 → counted
      4L -> "wholly fresh ending",
      5L -> "qrstuvwxyz core")   // shares the run with item 20
    val df = corpus.toDF("doc_id", "text")
    val bench = Seq(10L -> "abcdefghij", 20L -> "qrstuvwxyz", 30L -> "!!!!!!!!!!")
      .toDF("bench_id", "text")
    val expected = Dedup.charContaminationCensus(df, bench, "doc_id", "bench_id", "text", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // fixture discriminates: leaked items and an unleakable zero item
    assert(expected.exists(_._2 > 0) && expected.exists(t => t._1 == 30L && t._2 == 0L),
      s"fixture must discriminate: $expected")
    def censusOf(work: String): Set[(Long, Long, Long, Long)] = {
      val pairs = spark.read
        .schema("doc_id long, bench_id long, shared_windows long")
        .parquet(s"$work/out")
        .groupBy(col("bench_id"), col("doc_id"))
        .agg(max(col("shared_windows")).as("shared_windows"))
      Dedup.charCensusOf(pairs, bench, "bench_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    }
    for ((order, tag) <- Seq(Seq(Seq(1L, 2L, 3L), Seq(4L, 5L)) -> "fwd",
                             Seq(Seq(5L, 4L), Seq(3L, 2L, 1L)) -> "rev")) {
      val work = Files.createTempDirectory(s"graft_scensus_$tag").toString
      val idx = Dedup.charBenchGramIndex(bench, "bench_id", "text", k)
      order.zipWithIndex.foreach { case (ids, id) =>
        StreamContaminationCensus.applyBatch(idx,
          df.filter(col("doc_id").isin(ids: _*)), "doc_id", "text", k, s"$work/out", id.toLong)
      }
      // at-least-once: replay the LAST trigger verbatim under its own
      // batch id — it must not double-count a doc
      StreamContaminationCensus.applyBatch(idx, df.filter(col("doc_id").isin(order.last: _*)),
        "doc_id", "text", k, s"$work/out", order.size - 1L)
      idx.destroy()
      assert(censusOf(work) == expected, s"chunking $tag with replayed last trigger")
    }
  }

  /** Each keep-first gate as (name, applyBatch, output schema). */
  private def keepFirstGates: Seq[(String, (DocStateStore, org.apache.spark.sql.DataFrame, String, Long) => Unit, String)] = Seq(
    ("novelty", (st, b, out, id) => { StreamNovelty.applyBatch(st, b, "doc_id", "text", 3, out, id); () },
      "doc_id long, n_windows long, n_novel long, novelty double"),
    ("exact", (st, b, out, id) => { StreamExactDedup.applyBatch(st, b, "doc_id", "text", out, id); () },
      "doc_id long, kept boolean"),
    ("span", (st, b, out, id) => { StreamSpanDedup.applyBatch(st, b, "doc_id", "text", 3, out, id); () },
      "doc_id long, n_tokens long, n_removed long, clean_text string"),
    ("charspan", (st, b, out, id) => { StreamCharSpanDedup.applyBatch(st, b, "doc_id", "text", 5, out, id); () },
      "doc_id long, n_chars long, n_removed long, clean_text string"))

  test("keep-first gates: a redelivered batch id or a kill before the state commit drains to the single-delivery output") {
    import spark.implicits._
    val df = Seq(
      1L -> "aa bb cc dd ee ff",
      2L -> "gg hh ii jj kk ll",
      3L -> "aa bb cc dd ee ff",
      4L -> "gg hh ii jj zz yy xx ww",
      5L -> "  AA bb cc dd ee ff ").toDF("doc_id", "text")
    val (b0, b1) = (df.filter(col("doc_id") <= 2), df.filter(col("doc_id") > 2))
    for ((name, apply, schema) <- keepFirstGates) {
      val work = Files.createTempDirectory(s"graft_kf_$name").toString
      def store(tag: String) = new TxnLogState(s"$work/$tag/seen", spark, 8)
      def drained(tag: String) = spark.read.schema(schema).parquet(s"$work/$tag/out")
        .drop("batch").collect().map(_.toString).sorted.toSeq
      val once = store("once")
      apply(once, b0, s"$work/once/out", 0L)
      apply(once, b1, s"$work/once/out", 1L)
      // the same batch id delivered twice: the second is a bit-exact
      // redelivery of a committed batch
      val twice = store("twice")
      apply(twice, b0, s"$work/twice/out", 0L)
      apply(twice, b1, s"$work/twice/out", 1L)
      apply(twice, b1, s"$work/twice/out", 1L)
      assert(drained("twice") == drained("once"), s"$name: redelivered batch id")
      // killed between the output write and the state commit, then rerun
      val killed = store("killed")
      apply(killed, b0, s"$work/killed/out", 0L)
      val dying = new DieOnFirstCommit(killed)
      intercept[KilledAtCommit](apply(dying, b1, s"$work/killed/out", 1L))
      apply(dying, b1, s"$work/killed/out", 1L)
      assert(drained("killed") == drained("once"), s"$name: kill before the state commit")
    }
  }

  test("StreamRepetitionGate: a redelivered batch id rewrites its own rows") {
    import spark.implicits._
    val df = Seq(
      1L -> "the same line\nthe same line\nthe same line",
      2L -> "one line\nanother line",
      3L -> "a b c d e a b c d e a b c d e").toDF("doc_id", "text")
    val work = Files.createTempDirectory("graft_srep").toString
    StreamRepetitionGate.applyBatch(df.filter(col("doc_id") <= 1), "doc_id", "text", s"$work/out", 0L)
    StreamRepetitionGate.applyBatch(df.filter(col("doc_id") > 1), "doc_id", "text", s"$work/out", 1L)
    StreamRepetitionGate.applyBatch(df.filter(col("doc_id") > 1), "doc_id", "text", s"$work/out", 1L)
    val got = spark.read.parquet(s"$work/out").drop("batch")
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.ops.TextAnalysis.repetitionGate(df, "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    assert(got == batch)
  }
}

/** Thrown by [[DieOnFirstCommit]]. */
final class KilledAtCommit extends RuntimeException("killed before the state commit")

/** A [[TxnLogState]] whose first commit of any kind dies before it
  * lands — the kill point between a gate's output write and its state
  * commit. Every later call passes through. */
final class DieOnFirstCommit(st: TxnLogState) extends DocStateStore {
  @volatile private var died = false
  private def dieOnce(): Unit = if (!died) { died = true; throw new KilledAtCommit }
  def buckets: Int = st.buckets
  def currentVersion: Option[String] = st.currentVersion
  def liveBuckets: Set[Int] = st.liveBuckets
  def read(): Option[org.apache.spark.sql.DataFrame] = st.read()
  def readBuckets(ks: Seq[Int]): Option[org.apache.spark.sql.DataFrame] = st.readBuckets(ks)
  def commit(updated: org.apache.spark.sql.DataFrame, version: String, touched: Seq[Int]): Unit = {
    dieOnce(); st.commit(updated, version, touched)
  }
  override def commitAppend(fresh: org.apache.spark.sql.DataFrame, version: String,
                            touched: Seq[Int]): Unit = {
    dieOnce(); st.commitAppend(fresh, version, touched)
  }
  def stateMeta(key: String): Option[String] = st.stateMeta(key)
  def commitWithMeta(updated: org.apache.spark.sql.DataFrame, version: String, touched: Seq[Int],
                     kv: Map[String, String]): Unit = {
    dieOnce(); st.commitWithMeta(updated, version, touched, kv)
  }
  def commitAppendWithMeta(fresh: org.apache.spark.sql.DataFrame, version: String,
                           touched: Seq[Int], kv: Map[String, String]): Unit = {
    dieOnce(); st.commitAppendWithMeta(fresh, version, touched, kv)
  }
  def vacuum(graceMs: Long): Seq[String] = st.vacuum(graceMs)
  override def maintain(): Unit = st.maintain()
}
