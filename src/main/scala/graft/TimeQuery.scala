package graft

/** Dev tool: time one registered query in isolation.
  * `runMain graft.TimeQuery <queryName> [sfDir] [reps]` — materializes
  * through the noop sink (same contract as [[Bench]]) and prints per-rep
  * wall time, so a single query can be iterated on without paying for the
  * whole registry.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the one shared builder (r14 ADVICE; see Sessions.local)
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT/codegen warm
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"TIME $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
