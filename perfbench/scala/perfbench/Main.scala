package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import graft.BenchPipeline

/** Live heap after a full collection, in MB. Builds sample it at their end
  * while their working set is still cached. The first collection hands
  * unreachable broadcasts and RDDs to Spark's ContextCleaner, which frees
  * their blocks on its own thread; the second, 0.2 s later, sees
  * the heap without them. */
object Heap {
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1e6
  }
}

/** One benchmark run in a fresh JVM:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --state <dir>`.
  *
  * Stages the seeded inputs, times the set-ups, one cold build, the
  * workload's run-level checks, and warm builds for `--seconds` (at least
  * `MinWarm`), checks every build, and prints one JSON
  * line `{"correct", "attempted", "failed", "metrics"}` as the last line of
  * standard output. With `--trace 1` it also runs traced builds and reports
  * the per-layer metrics instead of the end-to-end ones. Exits 0 only when
  * every check passed. */
object Main {

  val TraceReps = 1
  /** Fewest warm builds per run. */
  val MinWarm = 1

  /** Per-layer metric names, in report order (0 where a workload bypasses
    * the layer). */
  val PerLayer: Seq[String] = Seq(
    "context.build_s", "extract.dict_build_s",
    "extract.scan_s", "extract.task_s", "extract.gc_s", "extract.cache_mb",
    "extract.mentions_per_doc",
    "extract.cooc_s", "extract.cooc_keys_emitted", "extract.cooc_keys_distinct",
    "extract.cooc_shuffle_write_mb", "extract.cooc_spill_mb", "extract.cooc_task_skew",
    "pipeline.decode_s",
    "translate.nodes_s", "translate.edges_s",
    "dedup.nodes_s", "dedup.edges_s", "dedup.dup_ratio",
    "sinks.write_nodes_s", "sinks.write_edges_s", "sinks.bytes_written_mb",
    "sinks.part_files", "sinks.bytes_per_row",
    "session.write_nodes_s", "session.write_edges_s", "session.rewrite_nodes_s",
    "checkpoint.seen_mb") ++
    QueryWorkload.families.map { case (f, _) => s"ops.${f}_s" } ++
    graft.SparkEntry.artifactBuilders.map { case (a, _) => s"ops.artifact.${a}_s" } ++ Seq(
    "trace.total_s", "trace.overhead_s")

  val Units: Map[String, String] = Map(
    "_s" -> "s", "_mb" -> "MB", "_per_doc" -> "count", "_emitted" -> "count",
    "_distinct" -> "count", "_skew" -> "ratio", "_ratio" -> "ratio",
    "_files" -> "count", "_per_row" -> "B")

  def unitOf(name: String): String =
    Units.collectFirst { case (suffix, u) if name.endsWith(suffix) => u }.getOrElse("count")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, state: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Path.of(m("work")), Path.of(m("state")))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def workload(o: Opts, spark: org.apache.spark.sql.SparkSession, tracer: Tracer): Workload =
    o.workload match {
      case "corpus_open" => new CorpusWorkload(spark, tracer, o.work, o.seed,
        nDocs = 60000L, dictSize = 100000, prefixDocs = 500L)
      case "import_neo4j" => new ImportWorkload(spark, tracer, o.work, o.seed,
        nodeRows = 20000L, edgeRows = 40000L)
      case "query_suite" => new QueryWorkload(spark, tracer, o.work, o.seed,
        nDocs = 1500L, nVecs = 1500L, nLines = 15000L)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case t: Throwable => t.printStackTrace(); 2
    }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code) // SparkSession.stop can hang on Netty close
  }

  /** Drop every cached table and persisted RDD (checkpoint barriers
    * included) synchronously, so no build's blocks are freed while a later
    * build runs or sits in its heap sample. */
  def release(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - started) / 1e9}%.1fs] $msg")

  def run(o: Opts): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = BenchPipeline.newSession(cores)
    val tracer = new Tracer(spark.sparkContext, o.trace, s"${o.workload}-${o.seed}")
    val wl = workload(o, spark, tracer)
    var attempted = 0
    var failed = 0
    var problem: Option[String] = None
    val builds = ArrayBuffer[Build]()
    def attempt[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f) catch {
        case c: CheckFailed => throw c
        case t: Throwable =>
          failed += 1
          log(s"$what failed: $t")
          None
      } finally release(spark)
    }

    log("session up")
    wl.stage()
    log("inputs staged")
    val setups = ArrayBuffer[Double]()
    while (setups.size < wl.setups) {
      // no set-up pays for an earlier one's garbage; a set-up of a few ms
      // leaves too little to matter, and a collection would outlast it
      if (setups.lastOption.forall(_ > 0.05)) System.gc()
      val t0 = System.nanoTime()
      wl.setup()
      setups += (System.nanoTime() - t0) / 1e9
    }
    log("set-ups done")
    var cold = Option.empty[Build]
    val layers = ArrayBuffer[Map[String, Double]]()
    try {
      cold = attempt("cold build")(wl.build())
      builds ++= cold
      log("cold build done")
      cold.foreach { c =>
        val digest = s"${c.facts}:${wl.verify()}"
        System.gc() // warm builds start from a collected heap, like every later one
        log("verified")
        val f = o.state.resolve(s"${o.workload}-${o.seed}.digest")
        Files.createDirectories(o.state)
        if (Files.exists(f)) {
          val prev = new String(Files.readAllBytes(f), "UTF-8")
          Workload.check(prev == digest, s"output digest $digest differs from an earlier run's $prev")
        } else Files.write(f, digest.getBytes("UTF-8"))
      }
      val warmSecs = if (o.trace) o.seconds / 2 else o.seconds
      val t0 = System.nanoTime()
      var warm = 0
      while (((System.nanoTime() - t0) / 1e9 < warmSecs || warm < MinWarm) && failed < 3) {
        attempt("build")(wl.build()).foreach { b => builds += b; warm += 1; log(f"build ${b.seconds}%.3fs") }
      }
      log("timed builds done")
      if (o.trace) (1 to TraceReps).foreach(_ => attempt("traced build")(wl.traced()).foreach(layers += _))
      val counts = builds.map(_.facts).distinct
      Workload.check(counts.size <= 1, s"output counts differ across builds: ${counts.mkString(",")}")
    } catch {
      case c: CheckFailed => problem = Some(c.getMessage)
    }
    if (o.trace) tracer.write(o.state.resolve("traces").resolve(s"${o.workload}-${o.seed}.jsonl"))

    val warm = builds.drop(cold.size).toSeq
    if (warm.isEmpty || cold.isEmpty) problem = problem.orElse(Some("no successful build"))
    val metrics: Seq[(String, Double, String)] =
      if (warm.isEmpty || cold.isEmpty) Nil
      else if (!o.trace) {
        val buildS = median(warm.map(_.seconds))
        log(s"${o.workload} seed ${o.seed}: ${warm.size} warm builds, ${setups.size} set-ups, " +
          s"${warm.head.facts} facts, ${warm.head.rows} input rows; first set-up " +
          f"${setups.head}%.4fs")
        Seq(
          ("setup_s", median(setups.toSeq), "s"),
          ("cold_build_s", cold.get.seconds, "s"),
          ("build_s", buildS, "s"),
          ("triples_per_s", median(warm.map(b => b.facts / b.seconds)), "1/s"),
          ("rows_per_s", median(warm.map(b => b.rows / b.seconds)), "1/s"),
          ("heap_live_mb", median(warm.map(_.heapMb)), "MB"))
      } else {
        val fromSpans = Map(
          "context.build_s" -> tracer.seconds("context.build"),
          "extract.dict_build_s" -> tracer.seconds("extract.dict_build"))
          .collect { case (k, v) if v.nonEmpty => k -> median(v) }
        val traced = layers.flatMap(_.keys).distinct.map(k => k -> median(layers.flatMap(_.get(k)).toSeq)).toMap
        val all = fromSpans ++ traced ++ traced.get("trace.total_s").map(t =>
          "trace.overhead_s" -> (t - median(warm.map(_.seconds))))
        PerLayer.map(k => (k, all.getOrElse(k, 0.0), unitOf(k)))
      }
    problem.foreach(p => log(s"CHECK FAILED: $p"))
    println(json(problem.isEmpty, attempted, failed, metrics))
    if (problem.isEmpty) 0 else 1
  }
}
