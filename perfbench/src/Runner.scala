package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in a fresh JVM, driving graft only through its public
  * entry points: `Sessions.local`, the `SparkEntry.queries` registry, the
  * per-module `queries` maps and `Caches.releaseAll`.
  *
  * A single client thread issues the workload's queries one at a time
  * (closed loop): a cold pass that pays every memo build, then warm passes
  * in seeded orders until `--seconds` have been measured and enough
  * samples exist. Each query is timed from the registry call until its
  * rows are on the driver; the rows are hashed after the timer stops. The
  * raw record (and, when traced, every span and listener event) is written
  * as JSON to `--out`; `perfbench/run.py` turns it into metrics.
  *
  * Usage: Runner --data DIR --out FILE --queries a,b,c --seed N
  *   --seconds S --trace 0|1
  */
object Runner {
  /** The registry modules the workloads draw from, named as in the
    * `registry.<module>.warm_s` metrics.
    */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> graft.relational.Relational.queries,
    "events" -> graft.events.Events.queries,
    "temporal" -> graft.events.Temporal.queries,
    "text" -> graft.text.Text.queries,
    "ir" -> graft.ir.InvertedIndex.queries,
    "dedup" -> graft.dedup.Dedup.queries,
    "kmeans" -> graft.sim.KMeans.queries)

  /** The fewest warm samples whose p90 has 10 samples above it. */
  val MinSamples = 92

  val Fixtures = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  final case class Exec(pass: Int, query: String, start: Double, callEnd: Double,
                        planEnd: Double, end: Double, rows: Long, hash: String, error: String,
                        cachedBytes: Long, cachedBlocks: Long, compiles: Long, compileNs: Long)
  final case class Pass(id: Int, kind: String, traced: Boolean, start: Double, end: Double,
                        order: Seq[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val queries = opt("queries").split(",").toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val registry = graft.SparkEntry.queries
    val missing = queries.filterNot(registry.contains)
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(",")}")

    // epoch milliseconds with nanoTime resolution, comparable with the
    // listener bus timestamps
    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    // set-up, once: only the first session in a JVM pays class loading and
    // Spark's start-up, which is what a user waits for
    val t0 = now()
    val spark = graft.Sessions.local(cpus)
    val createS = (now() - t0) / 1e3
    spark.sparkContext.setLogLevel("WARN")
    Fixtures.foreach(t => graft.Tables.table(spark, data, t).createOrReplaceTempView(t))
    // one small scan job, so the first query does not also pay the JVM's
    // first Spark job
    require(spark.table("region").count() > 0, "empty fixture region")
    val setupS = (now() - t0) / 1e3
    val sc = spark.sparkContext

    val trace = new Trace
    if (traced) {
      sc.addSparkListener(trace.sparkListener)
      spark.listenerManager.register(trace.executionListener)
      spark.streams.addListener(trace.streamingListener)
    }

    // the cold pass runs the workload in its listed order, so the one-off
    // costs (JIT warm-up, shared memo builds) land on the same queries in
    // every run; each warm pass is a permutation drawn from the seed
    val rng = new scala.util.Random(new java.util.Random(seed))
    val passes = mutable.ArrayBuffer.empty[Pass]
    val execs = mutable.ArrayBuffer.empty[Exec]

    def runOne(pass: Int, q: String, plan: Boolean): Unit = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n0 = CodeGenerator.compileTime
      val t0 = now()
      var (t1, t2, t3) = (t0, t0, t0)
      var rows = 0L
      var hash = ""
      var error = ""
      try {
        val df = registry(q)(spark, data)
        t1 = now()
        if (plan) df.queryExecution.executedPlan
        t2 = now()
        val collected = df.collect()
        t3 = now()
        rows = collected.length
        hash = Canon.hash(df.columns.toSeq, collected.toSeq)
      } catch {
        case e: Throwable =>
          t3 = now()
          error = (e.getClass.getName + ": " + e.getMessage).take(400)
      }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      val compileNs = CodeGenerator.compileTime - n0
      val storage = sc.getRDDStorageInfo
      execs += Exec(pass, q, t0, t1, t2, t3, rows, hash, error,
        storage.map(_.memSize).sum, storage.map(_.numCachedPartitions.toLong).sum,
        compiles, compileNs)
    }

    def runPass(kind: String, tracePass: Boolean): Double = {
      val id = passes.size
      val order = if (kind == "cold") queries else rng.shuffle(queries)
      if (tracePass) trace.begin()
      val p0 = now()
      order.foreach(q => runOne(id, q, tracePass))
      val p1 = now()
      if (tracePass) trace.end()
      passes += Pass(id, kind, tracePass, p0, p1, order)
      (p1 - p0) / 1e3
    }

    runPass("cold", traced)
    // warm passes: a traced run interleaves traced and untraced passes in
    // T U U T blocks, so the tracing overhead is measured on the same run
    // and the JIT's gradual warm-up favours neither kind
    var warmS = 0.0
    var warm = 0
    def enough: Boolean =
      warmS >= seconds && (if (traced) warm >= 8 && warm % 4 == 0
                           else warm * queries.size >= MinSamples)
    while (!enough) {
      warmS += runPass("warm", traced && (warm % 4 == 0 || warm % 4 == 3))
      warm += 1
    }
    if (traced) trace.drain(spark)

    val json = render(seed, queries, setupS, createS, passes.toSeq, execs.toSeq,
      if (traced) Some(trace) else None)
    Files.write(Paths.get(opt("out")), json.getBytes(StandardCharsets.UTF_8))
    graft.Caches.releaseAll()
    spark.stop()
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def render(seed: Long, queries: Seq[String], setupS: Double, createS: Double,
                     passes: Seq[Pass], execs: Seq[Exec], trace: Option[Trace]): String = {
    val sb = new StringBuilder
    def arr[A](xs: Iterable[A])(f: A => String): String = xs.map(f).mkString("[", ",", "]")
    val moduleOf = queries.map(q => q -> modules.find(_._2.contains(q)).map(_._1).getOrElse("other"))
    sb ++= s"""{"seed":$seed,"queries":${arr(queries)(str)},"""
    sb ++= s""""module_names":${arr(modules)(m => str(m._1))},"""
    sb ++= s""""modules":${moduleOf.map { case (q, m) => s"${str(q)}:${str(m)}" }.mkString("{", ",", "}")},"""
    sb ++= s""""setup_s":${num(setupS)},"create_s":${num(createS)},"""
    sb ++= s""""passes":${arr(passes)(p =>
      s"""{"id":${p.id},"kind":${str(p.kind)},"traced":${p.traced},"start":${num(p.start)},""" +
        s""""end":${num(p.end)},"order":${arr(p.order)(str)}}""")},"""
    sb ++= s""""execs":${arr(execs)(e =>
      s"""{"pass":${e.pass},"query":${str(e.query)},"start":${num(e.start)},""" +
        s""""call_end":${num(e.callEnd)},"plan_end":${num(e.planEnd)},"end":${num(e.end)},""" +
        s""""rows":${e.rows},"hash":${str(e.hash)},"error":${str(e.error)},""" +
        s""""cached_bytes":${e.cachedBytes},"cached_blocks":${e.cachedBlocks},""" +
        s""""compiles":${e.compiles},"compile_ns":${e.compileNs}}""")}"""
    trace.foreach { t => t.synchronized {
      sb ++= s""","jobs":${arr(t.jobs.values)(j =>
        s"""{"id":${j.id},"start":${j.start},"end":${j.end},"stages":${arr(j.stages)(_.toString)}}""")},"""
      sb ++= s""""stages":${arr(t.stages.values)(s =>
        s"""{"id":${s.id},"start":${s.start},"end":${s.end},"tasks":${s.tasks},""" +
          s""""run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},""" +
          s""""shuffle_write":${s.shuffleWrite},"shuffle_read":${s.shuffleRead},""" +
          s""""fetch_wait_ms":${s.fetchWaitMs},"spill_disk":${s.spillDisk},""" +
          s""""spill_mem":${s.spillMem},"input":${s.input}}""")},"""
      sb ++= s""""phases":${arr(t.phases)(p =>
        s"""{"start":${p.start},"analysis_ms":${p.analysis},"optimization_ms":${p.optimization},""" +
          s""""planning_ms":${p.planning}}""")},"""
      sb ++= s""""batches":${arr(t.batches)(b => s"""{"start":${b.start},"ms":${b.durationMs}}""")}"""
    } }
    sb ++= "}"
    sb.toString
  }
}
