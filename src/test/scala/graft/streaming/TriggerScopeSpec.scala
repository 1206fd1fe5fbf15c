package graft.streaming

import graft.SparkSpec

/** TriggerScope is the conf seam every foreachBatch drain now runs
  * under — a leak (conf not restored) would silently re-plan the whole
  * SESSION at trigger width / AQE-off after the first drain. Pins:
  * restore on success AND on an exception, the scoped values inside,
  * and the session-width cap for wide inputs. */
class TriggerScopeSpec extends SparkSpec {

  private def confPair = (
    spark.conf.get("spark.sql.shuffle.partitions"),
    spark.conf.get("spark.sql.adaptive.enabled"))

  test("scoped body sees trigger width + AQE off; session conf restored after") {
    import spark.implicits._
    val before = confPair
    val b = Seq(1, 2, 3).toDF("x").coalesce(1)
    val inside = TriggerScope.scoped(b)(confPair)
    assert(inside._1.toInt === 4, "1-split trigger floors at 4 shuffle partitions")
    assert(inside._2 === "false", "AQE must be off inside the scope")
    assert(confPair === before, "session conf must restore on success")
  }

  test("conf restores when the body throws") {
    import spark.implicits._
    val before = confPair
    val b = Seq(1).toDF("x")
    intercept[IllegalStateException] {
      TriggerScope.scoped(b)(throw new IllegalStateException("boom"))
    }
    assert(confPair === before, "session conf must restore on failure")
  }

  test("a wide trigger keeps the session width (cluster no-op by construction)") {
    import spark.implicits._
    val sess = spark.sessionState.conf.numShufflePartitions
    val wide = Seq.tabulate(32)(i => i).toDF("x").repartition(32)
    val inside = TriggerScope.scoped(wide)(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(inside === sess, s"32 input splits x4 caps at the session width $sess")
  }

  test("concurrent scopes on distinct sessions are isolated; the parent session is never mutated") {
    // production shape: Supervisor runs several streaming queries on one
    // runtime, each with its OWN cloned session — two overlapping
    // triggers must each see their own scoped conf, and the user session
    // that started them must never observe a mutation (the r17 bug:
    // scoped() wrote the OUTER session's conf from the stream thread)
    val parentBefore = confPair
    val s1 = spark.newSession(); val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "16")
    val b1 = s1.range(3).toDF("x").coalesce(1)   // 1 split  -> width 4
    val b2 = s2.range(32).toDF("x").repartition(2) // 2 splits -> width 8
    TriggerScope.scoped(b1) {
      TriggerScope.scoped(b2) {
        assert(s1.conf.get("spark.sql.shuffle.partitions") === "4")
        assert(s2.conf.get("spark.sql.shuffle.partitions") === "8")
        assert(confPair === parentBefore,
          "the parent session's conf must never be touched by a drain scope")
      }
      assert(s2.conf.get("spark.sql.shuffle.partitions") === "16",
        "inner scope must restore its own session on exit")
      assert(s1.conf.get("spark.sql.shuffle.partitions") === "4",
        "outer scope must still be active on its own session")
    }
    assert(confPair === parentBefore)
  }

  test("the scope reaches a real streaming drain's batch-derived shuffles") {
    // Drain.run is the loop every foreachBatch monitor runs through, so
    // this pins that it applies the scope.
    // ADVICE r17: foreachBatch frames are bound to the stream's CLONED
    // session (sparkSessionForStream), so scoping the outer session never
    // reached the batch plans. Pin the fix end-to-end: widen the parent
    // session, run a real drain, and assert a genuine shuffle INSIDE the
    // scope plans at trigger width — while the parent session stays wide
    // and unmutated throughout.
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_tscope").toString
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$work/log")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      @volatile var scopedWidth = -1
      @volatile var shufflePartitions = -1
      @volatile var parentDuring: String = null
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string")
      // no scope spelled here: Drain.run must apply it to every trigger
      Drain.run(spark, schema, s"$work/log", s"$work/ckpt") { (b, _) =>
        scopedWidth = b.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        // a real exchange planned inside the scope (AQE is off there,
        // so the shuffle's partition count IS the scoped conf)
        shufflePartitions =
          b.groupBy(org.apache.spark.sql.functions.col("text")).count()
            .rdd.getNumPartitions
        parentDuring = spark.conf.get("spark.sql.shuffle.partitions")
      }
      assert(scopedWidth === 4, "a 1-split trigger must plan at the floor width 4")
      assert(shufflePartitions === 4,
        "the batch-derived groupBy must shuffle at trigger width, not session width")
      assert(parentDuring === "16",
        "the parent session must keep its own width while a drain is scoped")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "16")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
