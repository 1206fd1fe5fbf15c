package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic: does AQE runtime exchange reuse fire for the repo's plan
  * shapes? Three cases, each a self-join of one `val` frame used twice:
  *  a) plain groupBy aggregate of a parquet scan;
  *  b) the kernelParallel shape — repartition(n) feeder below an
  *     expensive projection;
  *  c) (b) with a custom compiled expression (kgram_hashes60) in the
  *     projection, the duplicateWindowStarts shape.
  * Prints per-case job/task counts and whether the executed final plan
  * contains ReusedQueryStage/ReusedExchange nodes.
  */
object ReuseProbe {
  /** Sweep mode (`--sweep [nameFilter]`): for every declared query, plan
    * it (no execution) and group its shuffle exchanges by canonicalized
    * plan. Reports (a) reuse groups (≥2 canonical-equal copies — AQE will
    * materialize once) and (b) NEAR-MISSES: ≥2 exchanges with identical
    * output schema whose canonical forms differ — the asymmetric-pushdown
    * signature that makes a shared subtree silently materialize twice. */
  private def sweep(spark: SparkSession, sfDir: String, filter: String): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(_.contains(filter))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val ex = df.queryExecution.sparkPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        val byCanon = ex.groupBy(_.canonicalized).values.toSeq
        val reused = byCanon.count(_.size >= 2)
        // near-miss: same child schema (data content shape), different canon
        val nearMiss = ex.groupBy(_.child.schema.map(f => (f.name, f.dataType)).toIndexedSeq)
          .values.filter(g => g.size >= 2 && g.map(_.canonicalized).distinct.size > 1)
        println(s"[sweep] $name exchanges=${ex.size} reuseGroups=$reused " +
          s"nearMissGroups=${nearMiss.size}" +
          (if (nearMiss.nonEmpty) " <-- CHECK" else ""))
        if (nearMiss.nonEmpty && sys.env.get("SWEEP_DIFF").contains("1")) {
          nearMiss.foreach { g =>
            val canons = g.map(_.canonicalized).distinct
            println(s"[sweep]   near-miss group of ${g.size} (distinct canons ${canons.size}):")
            canons.take(2).zipWithIndex.foreach { case (c, i) =>
              println(s"--- canon $i ---"); println(c.treeString.take(2500))
            }
          }
        }
      } catch {
        case scala.util.control.NonFatal(t) =>
          println(s"[sweep] $name FAILED to plan: ${t.toString.take(120)}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession()
    if (args.contains("--sweep")) {
      val idx = args.indexOf("--sweep")
      val filter = if (args.length > idx + 1) args(idx + 1) else ""
      sweep(spark, sfDir, filter)
      spark.stop()
      return
    }
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    })
    // capture the EXECUTED write's final adaptive plan (isFinalPlan=true)
    @volatile var lastPlan = ""
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        lastPlan = qe.executedPlan.toString
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    def run(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      jobs = 0
      val df = mk
      df.write.format("noop").mode("overwrite").save()
      Thread.sleep(500)
      val reused = "Reused(QueryStage|Exchange)".r.findAllIn(lastPlan).size
      val exchanges = "(?m)^.*Exchange".r.findAllIn(lastPlan).size
      println(s"[reuseprobe] $name jobs=$jobs reusedNodes=$reused exchangeNodes=$exchanges")
    }

    // (a) aggregated frame used twice
    run("a_plain_agg_selfjoin") {
      val agg = docs.groupBy(col("doc_id") % 97 as "k").agg(count(lit(1)).as("n"))
      agg.join(agg.select(col("k"), col("n").as("n2")), Seq("k"))
    }
    // (b) repartition feeder + expensive projection, used twice
    run("b_repart_feeder") {
      val occ = docs.repartition(32)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      val w = occ.groupBy(col("t")).agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      occ.join(w, Seq("t")).groupBy(col("doc_id")).agg(count(lit(1)).as("nd"))
    }
    // (c) custom expression in the projection
    run("c_custom_expr") {
      val occ = docs.repartition(32)
        .select(col("doc_id"), posexplode(graft.expr.hfunctions.kgram_hashes60(col("text"), 8)).as(Seq("i", "h")))
      val w = occ.groupBy(col("h")).agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      occ.join(w, Seq("h")).groupBy(col("doc_id")).agg(count(lit(1)).as("nd"))
    }
    // (d) hash-keyed repartition feeder instead of round-robin
    run("d_hash_repart_feeder") {
      val occ = docs.repartition(32, pmod(xxhash64(col("doc_id")), lit(3200)))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      val w = occ.groupBy(col("t")).agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      occ.join(w, Seq("t")).groupBy(col("doc_id")).agg(count(lit(1)).as("nd"))
    }
    // (e) no feeder exchange at all: both branches re-scan parquet
    run("e_no_feeder") {
      val occ = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      val w = occ.groupBy(col("t")).agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      occ.join(w, Seq("t")).groupBy(col("doc_id")).agg(count(lit(1)).as("nd"))
    }
    // (f) the real operator
    run("f_dedup_spans") {
      graft.ops.Dedup.dedupSpans(docs, "doc_id", "text", 8)
    }
    // canonical-equality check of the REPARTITION exchanges in (f)'s plan
    locally {
      val df = graft.ops.Dedup.dedupSpans(docs, "doc_id", "text", 8)
      val ex = df.queryExecution.sparkPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.shuffleOrigin.toString.startsWith("REPARTITION") => e
      }
      println(s"[reuseprobe] f repartition exchanges: ${ex.size}")
      for (i <- ex.indices; j <- (i + 1) until ex.size) {
        println(s"[reuseprobe] canonical($i)==canonical($j): " +
          (ex(i).canonicalized == ex(j).canonicalized))
        if (ex(i).canonicalized != ex(j).canonicalized && args.contains("--diff")) {
          println("=== canon i ==="); println(ex(i).canonicalized.treeString)
          println("=== canon j ==="); println(ex(j).canonicalized.treeString)
        }
      }
    }
    if (args.length > 1 && args(1) == "--plan") println(lastPlan)
    spark.stop()
  }
}
