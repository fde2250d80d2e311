package graft

/** Dev tool: dump `.explain("formatted")` for registered queries.
  * `runMain graft.PlanDump <outDir> <q1,q2,...|all> [sfDir]` — writes
  * `<outDir>/<query>.txt` per query (the plans/r14 evidence files);
  * `all` dumps every registered query.
  * Memo builds ARE materialized first (Caches.memoized runs its build on
  * first touch), so the dumped plan is the steady-state per-rep plan the
  * bench times — the same frame a timed rep materializes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the one shared builder (r14 ADVICE; see Sessions.local)
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_TRANSPARENT=1 (dev only): plan with memo-lineage
    // truncation OFF, so a memo-fed query's dump shows its BUILD plans
    // inline — the only way to produce before/after evidence for an
    // optimization that changes a build's shape (the per-rep plan is a
    // cache read either way). Production/bench never sets it.
    if (sys.env.contains("SPARK_GRAFT_TRANSPARENT"))
      Caches.truncateLineage = false
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"PLAN $name -> $outDir/$name.txt")
    }
    Caches.releaseAll()
    spark.stop()
  }
}
