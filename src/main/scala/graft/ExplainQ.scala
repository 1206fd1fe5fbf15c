package graft

/** Plan inspector: prints the optimized logical + formatted physical plan
  * for one named SparkEntry query (or times it with --time). Used to keep
  * every operator's plan honest — pushdowns present, no duplicated
  * expensive subtrees, whole-stage codegen spans wide. */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1 && !args(1).startsWith("--")) args(1) else "/root/testdata/sf0.01"
    val time = args.contains("--time")
    val spark = GraftSession()
    val df = SparkEntry.queries(name)(spark, sfDir)
    println("=== optimized logical ===")
    println(df.queryExecution.optimizedPlan.treeString)
    println("=== physical (formatted) ===")
    df.explain("formatted")
    if (time) {
      // noop sink: full evaluation of every output column (count() would
      // let the optimizer prune the very work being measured)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[time] $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
      // the FINAL adaptive plan — runtime stage/exchange reuse only shows
      // here, never in the static explain above
      println("=== physical (final adaptive) ===")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
