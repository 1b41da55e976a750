package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{KgContext, KgPipeline, KgSession, SparkEntry}
import graft.corpus.AnalyticsDomain
import graft.dedup.Dedup
import graft.extract.{CoocCombine, DictEntry, MentionDict, Mentions}
import graft.model._
import graft.sinks.Neo4jCsvSink
import graft.translate.Translate

/** One timed build: its wall seconds, the KG facts it produced (triples, or
  * node + edge lines written), the input rows it consumed, and the live
  * heap at its end. */
final case class Build(seconds: Double, facts: Long, rows: Long, heapMb: Double)

/** A workload: staged inputs, a repeatable set-up, a timed build, a traced
  * build that forces each layer boundary, and output checks. Checks throw
  * [[CheckFailed]]; any other exception counts as a failed build. */
trait Workload {
  /** Set-ups timed per run, a fixed number so that their median sits at
    * the same point of the set-up's JIT warm-up in every run. */
  def setups: Int
  /** Generate and stage the inputs (not timed). */
  def stage(): Unit
  /** Build the session or pipeline from scratch (timed as `setup_s`). */
  def setup(): Unit
  /** One untraced build, checked. */
  def build(): Build
  /** One traced build; returns per-layer metrics, including `trace.total_s`. */
  def traced(): Map[String, Double]
  /** Checks made once per run, right after the cold build (they also warm
    * the JIT for the warm builds); returns a digest of the expected output
    * that every run of the same seed must reproduce. */
  def verify(): String
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Workload {
  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Order-insensitive checksum of a triple table. */
  def checksum(ts: Dataset[Triple]): String = {
    val h = xxhash64(col("subj"), col("pred"), col("obj"))
    val r = ts.select(h.as("h"))
      .agg(sum(col("h").bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }
}

/** KG construction from a document corpus on the fused scale path
  * (`KgPipeline.runFused`, counting triples) with an open dictionary: a
  * generated dictionary of `dictSize` entries over a Zipf corpus with ~20%
  * entity words. */
final class CorpusWorkload(spark: SparkSession, tracer: Tracer, work: Path,
    seed: Long, nDocs: Long, dictSize: Int, prefixDocs: Long)
    extends Workload {
  import spark.implicits._
  import Workload._

  val setups = 5 // ~0.8 s each
  private val input = work.resolve("corpus").toString
  private var entries: Seq[DictEntry] = Nil
  private var pipe: KgPipeline = _

  private def corpus(n: Long, partitions: Int = 16): Dataset[Doc] =
    Gen.zipfCorpus(spark, n, entries.map(_.surface).toIndexedSeq, seed, numPartitions = partitions)

  def stage(): Unit = {
    entries = Gen.openDictionary(dictSize, seed)
    corpus(nDocs).write.mode("overwrite").parquet(input)
  }

  def setup(): Unit = {
    val ctx = tracer.span("context.build")(AnalyticsDomain.context())
    val dict = tracer.span("extract.dict_build")(MentionDict.build(entries))
    if (pipe != null) { pipe.bcCtx.destroy(); pipe.bcDict.destroy() }
    pipe = new KgPipeline(spark, ctx, dict)
  }

  private def docs: Dataset[Doc] = spark.read.parquet(input).as[Doc]

  def build(): Build = {
    val d = docs
    val t0 = System.nanoTime()
    val (_, _, ts) = pipe.runFused(d)
    val n = ts.count()
    val sec = (System.nanoTime() - t0) / 1e9
    Build(sec, n, nDocs, Heap.liveMb())
  }

  def traced(): Map[String, Double] = {
    tracer.restart()
    val d = docs
    val t0 = System.nanoTime()
    val ms = tracer.span("extract.scan") {
      val m = pipe.mentionSets(d).persist(StorageLevel.MEMORY_AND_DISK)
      m.count()
      m
    }
    // the working set alone, before the barrier adds its blocks
    val cacheMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6
    val pm = ms.select(col("pm")).as[Array[Long]]
    val keysDistinct = tracer.span("extract.cooc") {
      CoocCombine.partialPairAndRankKeys(pm, pipe.bcDict, Mentions.DefaultMaxEntitiesPerDoc)
        .distinct().count()
    }
    tracer.span("pipeline.triples")(pipe.triplesFromSets(ms).count())
    val total = (System.nanoTime() - t0) / 1e9
    // untimed counts over the cached working set
    val mentions = ms.select(sum(aggregate(col("pm"), lit(0L),
      (acc, p) => acc + p.bitwiseAND(lit(0xffffffffL))))).head().getLong(0)
    val keysEmitted = CoocCombine.partialPairAndRankKeys(pm, pipe.bcDict,
      Mentions.DefaultMaxEntitiesPerDoc).count()
    tracer.drain()
    val st = tracer.stats.get
    val scan = st.group("extract.scan")
    val cooc = st.group("extract.cooc")
    val coocS = tracer.seconds("extract.cooc").last
    Map(
      "extract.scan_s" -> tracer.seconds("extract.scan").last,
      "extract.task_s" -> scan.runMs / 1e3,
      "extract.gc_s" -> scan.gcMs / 1e3,
      "extract.cache_mb" -> cacheMb,
      "extract.mentions_per_doc" -> mentions.toDouble / nDocs,
      "extract.cooc_s" -> coocS,
      "extract.cooc_keys_emitted" -> keysEmitted.toDouble,
      "extract.cooc_keys_distinct" -> keysDistinct.toDouble,
      "extract.cooc_shuffle_write_mb" -> cooc.shuffleWriteBytes / 1e6,
      "extract.cooc_spill_mb" -> cooc.spillBytes / 1e6,
      "extract.cooc_task_skew" -> st.skew("extract.cooc"),
      "pipeline.decode_s" -> (tracer.seconds("pipeline.triples").last - coocS),
      "trace.total_s" -> total,
    )
  }

  def verify(): String = {
    // fused == reference string path on a prefix, both ways; the prefix is
    // small, so one shuffle partition per core
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    val prefix = corpus(prefixDocs, partitions = spark.sparkContext.defaultParallelism).cache()
    val fused = pipe.runFused(prefix)._3.cache()
    val ref = pipe.run(prefix)._3.cache()
    val extra = fused.exceptAll(ref).count()
    val missing = ref.exceptAll(fused).count()
    val sum = checksum(fused)
    spark.sharedState.cacheManager.clearCache()
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    check(extra == 0 && missing == 0,
      s"fused vs reference triples on a $prefixDocs-doc prefix: $extra extra, $missing missing")
    sum
  }
}

/** BioCypher's adapter path into the Neo4j bulk-import writer:
  * `KgSession(dbms = "neo4j")` over the test schema, with `writeNodes`
  * (~10% duplicate ids), `writeEdges` (plain and rel-as-node edges), an
  * overlapping second `writeNodes` (cross-call dedup against the
  * checkpointed seen state) and `writeImportCall`. Each build writes a
  * fresh output directory, checks it, and deletes it. */
final class ImportWorkload(spark: SparkSession, tracer: Tracer, work: Path,
    seed: Long, nodeRows: Long, edgeRows: Long) extends Workload {
  import spark.implicits._
  import Workload._

  // run from the repository root
  private def resource(n: String) =
    new String(Files.readAllBytes(Path.of("perfbench", "resources", n)), "UTF-8")
  private val schemaYaml = resource("test_schema.yaml")
  private val ontologyTtl = resource("biolink_mini.ttl")

  val setups = 200 // ~10 ms each for the first 50, then ~5 ms

  private val in1 = work.resolve("nodes1").toString
  private val in2 = work.resolve("nodes2").toString
  private val inE = work.resolve("edges").toString
  // second batch: rows [3/4, 5/4) x nodeRows of the id stream — half of its
  // ids were written by the first batch, half are new
  private val rows2 = (nodeRows / 4 * 3, nodeRows / 4 * 5)
  private var ctx: KgContext = _
  private var builds = 0
  private var expectLines = Map.empty[String, Long] // file label -> data lines
  private var expectNew = Set.empty[String]         // node ids batch 2 must write
  private val inputRows = nodeRows + edgeRows + (rows2._2 - rows2._1)

  def stage(): Unit = {
    // one shuffle partition per core: the adapter path runs dozens of small
    // jobs per build, each paying a task wave per shuffle partition
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    Gen.nodes(spark, 0, nodeRows, seed).write.mode("overwrite").parquet(in1)
    Gen.nodes(spark, rows2._1, rows2._2, seed).write.mode("overwrite").parquet(in2)
    Gen.edges(spark, edgeRows, nodeRows, seed).write.mode("overwrite").parquet(inE)
    // expected outputs, computed on the driver from the generator alone
    val file = Gen.nodeLabels.toMap
    def keys(from: Long, until: Long) =
      (from until until).map(Gen.nodeRow(_, seed)).map(n => (n.inputLabel, n.id)).toSet
    def perLabel(ks: Set[(String, String)]) =
      ks.groupBy(_._1).map { case (l, v) => file(l) -> v.size.toLong }
    val (k1, k2) = (keys(0, nodeRows), keys(rows2._1, rows2._2))
    expectNew = (k2 -- k1).map(_._2)
    val edgeKeys = (0L until edgeRows).map(Gen.edgeRow(_, nodeRows, seed))
      .filter(_.inputLabel != "post_translational").map(e => (e.inputLabel, e.src, e.tgt)).toSet
    expectLines = perLabel(k1 ++ k2) ++
      edgeKeys.groupBy(_._1).map { case (l, v) => ImportWorkload.edgeFileLabel(l) -> v.size.toLong }
  }

  private def newSession(dir: Path): KgSession = new KgSession(spark, ctx, dir.toString, "neo4j")

  def setup(): Unit = {
    ctx = tracer.span("context.build")(KgContext.build(schemaYaml, ontologyTtl, "entity"))
    val dir = work.resolve("setup")
    val s = newSession(dir)
    s.bcCtx.destroy()
    deleteTree(dir)
  }

  private def raw1 = spark.read.parquet(in1).as[RawNode]
  private def raw2 = spark.read.parquet(in2).as[RawNode]
  private def rawE = spark.read.parquet(inE).as[RawEdge]

  private def timed(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    tracer.span(name)(body)
    (System.nanoTime() - t0) / 1e9
  }

  private def parts(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.matches(".*-part\\d+\\.csv")).toSeq
    finally s.close()
  }

  private def labelOf(p: Path) = p.getFileName.toString.replaceAll("-part\\d+\\.csv$", "")

  private def lines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)

  /** The session sequence: seconds of (writeNodes, writeEdges, rewrite,
    * import call) and the part files present before the rewrite. */
  private def sessionBuild(dir: Path): (Seq[Double], Set[Path]) = {
    val s = newSession(dir)
    val a = timed("session.write_nodes")(s.writeNodes(raw1))
    val b = timed("session.write_edges")(s.writeEdges(rawE))
    val before = parts(dir).toSet
    val c = timed("session.rewrite_nodes")(s.writeNodes(raw2))
    val d = timed("session.import_call")(s.writeImportCall())
    s.bcCtx.destroy()
    (Seq(a, b, c, d), before)
  }

  /** Output checks of one session build; returns the data lines written. */
  private def checkOutput(dir: Path, before: Set[Path]): Long = {
    val all = parts(dir)
    val byLabel = all.groupBy(labelOf).map { case (l, ps) => l -> ps.map(lines(_).size.toLong).sum }
    expectLines.foreach { case (l, n) =>
      check(byLabel.getOrElse(l, 0L) == n, s"$l: ${byLabel.getOrElse(l, 0L)} lines, expected $n distinct")
    }
    // the second batch wrote each id it has that the first did not, once,
    // and no other id: a node line starts with its id and the delimiter
    val added = all.filterNot(before)
    val nodeFiles = Gen.nodeLabels.map(_._2).toSet
    check(added.forall(p => nodeFiles(labelOf(p))), "second batch wrote non-node files")
    val delim = java.util.regex.Pattern.quote(ctx.config.delimiter)
    val newIds = added.flatMap(lines).map(_.split(delim, 2)(0))
    val rewritten = newIds.filterNot(expectNew)
    val twice = newIds.size - newIds.distinct.size
    val missing = expectNew -- newIds
    check(rewritten.isEmpty && twice == 0 && missing.isEmpty,
      s"second batch: ${rewritten.size} seen or foreign ids written (${rewritten.take(3).mkString(",")}), " +
        s"$twice ids written twice, ${missing.size} unseen ids missing")
    // the import call names every part file: each --nodes/--relationships
    // entry is "<header>,<part-file regex>"
    val call = new String(Files.readAllBytes(dir.resolve("neo4j-admin-import-call.sh")), "UTF-8")
    val patterns = "--(?:nodes|relationships)=\"([^\"]*)\"".r.findAllMatchIn(call)
      .map(_.group(1).split(",").last.split('/').last.r).toSeq
    val unnamed = all.map(_.getFileName.toString).filterNot(f => patterns.exists(_.matches(f)))
    check(unnamed.isEmpty, s"import call misses ${unnamed.take(3).mkString(",")}")
    byLabel.values.sum
  }

  def build(): Build = {
    builds += 1
    val dir = work.resolve(s"out$builds")
    try {
      val (secs, before) = sessionBuild(dir)
      val facts = checkOutput(dir, before)
      Build(secs.sum, facts, inputRows, Heap.liveMb())
    } finally deleteTree(dir)
  }

  def traced(): Map[String, Double] = {
    builds += 1
    // layer by layer: each layer's output is cached and counted before the
    // next layer reads it, so each span holds one layer's work
    val layerDir = work.resolve(s"layers$builds")
    val bc = spark.sparkContext.broadcast(ctx)
    val layer = try {
      val (t, tn) = tracer.span("translate.nodes") {
        val d = Translate.nodes(raw1, bc).cache(); (d, d.count()) }
      val (dd, dn) = tracer.span("dedup.nodes") { val d = Dedup.nodes(t).cache(); (d, d.count()) }
      val sink = new Neo4jCsvSink(ctx, layerDir.toString)
      tracer.span("sinks.write_nodes")(sink.writeNodes(dd))
      val ent = tracer.span("translate.edges") {
        val d = Translate.edges(rawE, bc).cache(); d.count(); d }
      val (pe, re) = tracer.span("dedup.edges") {
        val pe = Dedup.edges(ent.filter(_.edge != null).map(_.edge)).cache()
        val re = Dedup.relAsNodes(ent.filter(_.rel != null).map(_.rel)).cache()
        pe.count(); re.count()
        (pe, re)
      }
      tracer.span("sinks.write_edges") { sink.writeRelAsNodes(re); sink.writeEdges(pe) }
      Map("dedup.dup_ratio" -> (1.0 - dn.toDouble / tn))
    } finally {
      Main.release(spark)
      bc.destroy()
      deleteTree(layerDir)
    }
    // the session sequence with spans: the traced total
    val dir = work.resolve(s"out$builds")
    try {
      val (secs, before) = sessionBuild(dir)
      checkOutput(dir, before)
      val out = dirBytes(dir)
      val seen = dirBytes(dir.resolve("_graft_checkpoint"))
      def s(n: String) = tracer.seconds(n).last
      layer ++ Map(
        "translate.nodes_s" -> s("translate.nodes"),
        "translate.edges_s" -> s("translate.edges"),
        "dedup.nodes_s" -> s("dedup.nodes"),
        "dedup.edges_s" -> s("dedup.edges"),
        "sinks.write_nodes_s" -> s("sinks.write_nodes"),
        "sinks.write_edges_s" -> s("sinks.write_edges"),
        "sinks.bytes_written_mb" -> (out - seen) / 1e6,
        "sinks.part_files" -> parts(dir).size.toDouble,
        "sinks.bytes_per_row" -> (out - seen).toDouble / inputRows,
        "session.write_nodes_s" -> secs(0),
        "session.write_edges_s" -> secs(1),
        "session.rewrite_nodes_s" -> secs(2),
        "checkpoint.seen_mb" -> seen / 1e6,
        "trace.total_s" -> secs.sum,
      )
    } finally deleteTree(dir)
  }

  def verify(): String = expectLines.toSeq.sorted.mkString(";")
}

object ImportWorkload {
  /** File label of each plain-edge input label (`test_schema.yaml`). */
  val edgeFileLabel: Map[String, String] = Map(
    "phosphorylation" -> "Phosphorylation", "gene_gene" -> "GeneToGeneAssociation")
}

/** The ops layer: one `SparkEntry.queries` entry per operator family and
  * the six `SparkEntry.artifactBuilders`, over generated tables in the
  * layout of the sf test tables, timed as `BenchExtra` times them: each
  * artifact build, then each query by `.count()` of its DataFrame.
  * `SparkEntry` keeps artifacts per table directory for the JVM's life, so
  * every pass reads the tables through a fresh link and builds every
  * artifact again. */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, work: Path,
    seed: Long, nDocs: Long, nVecs: Long, nLines: Long) extends Workload {
  import Workload._
  import QueryWorkload._

  val setups = 6 // ~0.25 s each
  private val tables = work.resolve("tables")
  private var passes = 0
  private val inputRows = nDocs + nVecs + nLines
  private var rowCounts = Seq.empty[(String, Long)] // family -> rows, first pass

  private def table(name: String) = tables.resolve(s"$name.parquet").toString

  def stage(): Unit = {
    Gen.documents(spark, nDocs, seed).write.mode("overwrite").parquet(table("documents"))
    Gen.embeddings(spark, nVecs, seed).write.mode("overwrite").parquet(table("embeddings"))
    Gen.lineitem(spark, nLines, seed).write.mode("overwrite").parquet(table("lineitem"))
  }

  /** The analytics context the KG queries translate with, and every table
    * resolved (file listing and footer schema). */
  def setup(): Unit = {
    tracer.span("context.build")(AnalyticsDomain.context())
    tableNames.foreach(t => spark.read.parquet(table(t)).schema)
  }

  private def freshDir(): String = {
    passes += 1
    Files.createSymbolicLink(work.resolve(s"pass$passes"), tables).toString
  }

  /** One pass: seconds per artifact, and seconds and row count per query.
    * Every pass must return the row counts of the first. */
  private def pass(): (Seq[(String, Double)], Seq[(String, Double, Long)]) = {
    val dir = freshDir()
    def timed[T](span: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = tracer.span(span)(f)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val arts = SparkEntry.artifactBuilders.map { case (name, build) =>
      name -> timed(s"ops.artifact.$name")(build(spark, dir))._2
    }
    val qs = families.map { case (family, q) =>
      val (n, sec) = timed(s"ops.$family")(SparkEntry.queries(q)(spark, dir).count())
      (family, sec, n)
    }
    val counts = qs.map { case (f, _, n) => f -> n }
    if (rowCounts.isEmpty) rowCounts = counts
    check(counts == rowCounts, s"query row counts $counts differ from the first pass's $rowCounts")
    (arts, qs)
  }

  def build(): Build = {
    val (arts, qs) = pass()
    Build(arts.map(_._2).sum + qs.map(_._2).sum, qs.map(_._3).sum, inputRows, Heap.liveMb())
  }

  def traced(): Map[String, Double] = {
    tracer.restart()
    val (arts, qs) = pass()
    arts.map { case (a, s) => s"ops.artifact.${a}_s" -> s }.toMap ++
      qs.map { case (f, s, _) => s"ops.${f}_s" -> s } +
      ("trace.total_s" -> (arts.map(_._2).sum + qs.map(_._2).sum))
  }

  /** Writes each query's DuckDB oracle SQL and the row count of the cold
    * build under `oracle/`, for the comparison `run.py` makes after the JVM
    * exits; returns the row counts. */
  def verify(): String = {
    val out = work.resolve("oracle")
    Files.createDirectories(out)
    Files.write(out.resolve("tables"), tables.toString.getBytes("UTF-8"))
    families.zip(rowCounts).map { case ((_, q), (_, n)) =>
      Files.write(out.resolve(s"$q.sql"), SparkEntry.oracleSql(q).getBytes("UTF-8"))
      Files.write(out.resolve(s"$q.rows"), n.toString.getBytes("UTF-8"))
      s"$q=$n"
    }.mkString(";")
  }
}

object QueryWorkload {
  val tableNames = Seq("documents", "embeddings", "lineitem")
  /** ops family -> the `SparkEntry.queries` entry that measures it */
  val families: Seq[(String, String)] = Seq(
    "relational" -> "q1_agg", "kg" -> "kg_pagerank", "dedup" -> "dedup_minhash_lsh",
    "ann" -> "ann_cosine_topk", "text" -> "text_bm25", "sample" -> "sample_stratified",
    "mm" -> "mm_features", "hybrid" -> "hybrid_rrf")
}
