package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.corpus.Corpus
import graft.extract.DictEntry
import graft.model._

/** Seeded input generators. Every row is a pure function of (seed, row
  * index), so a prefix of a corpus is the corpus generated with a smaller
  * size, and the same seed always gives the same inputs. */
object Gen {

  import Corpus.splitmix64

  // ------------------------------------------------------ open dictionary

  /** Filler words of the open-dictionary corpus. None has the entity shape
    * (`q` + four letters), so every entity hit is a dictionary surface. */
  val fillers: Vector[String] = Vector(
    "the", "a", "of", "and", "in", "to", "is", "was", "for", "with", "by",
    "on", "as", "that", "from", "at", "this", "which", "were", "are", "be",
    "cell", "cells", "gene", "protein", "binding", "expression", "levels",
    "increased", "reduced", "pathway", "signal", "complex", "mutant", "wild",
    "type", "assay", "sample", "patients", "tissue", "activity", "response",
    "induced", "observed", "results", "shown", "role", "function", "analysis",
    "data", "study", "model", "human", "mouse", "domain", "site", "region",
    "factor", "receptor", "target")

  private val classes = Vector(
    "relational operator" -> "op", "storage structure" -> "store",
    "execution engine" -> "engine", "workload" -> "load")

  private val SurfaceSpace = 26L * 26 * 26 * 26

  /** Generated open dictionary of `n` entries (n <= 26^4): surface `i` is
    * `q` + four letters of a seed-chosen permutation of the 26^4 space, so
    * surfaces are distinct; the class is drawn from the analytics domain's
    * four entity classes. Index 0 is the most frequent entity of
    * [[zipfCorpus]]. */
  def openDictionary(n: Int, seed: Long): Vector[DictEntry] = {
    require(n > 0 && n <= SurfaceSpace, s"dictionary size $n out of range")
    // a * i + b mod 26^4 is a bijection when a is coprime to 26
    var a = (splitmix64(seed ^ 0x51L) >>> 1) % SurfaceSpace
    while (a % 2 == 0 || a % 13 == 0) a += 1
    val b = (splitmix64(seed ^ 0x52L) >>> 1) % SurfaceSpace
    Vector.tabulate(n) { i =>
      var x = (a * i + b) % SurfaceSpace
      val sb = new StringBuilder("q")
      (0 until 4).foreach { _ => sb.append(('a' + (x % 26).toInt).toChar); x /= 26 }
      val surface = sb.toString
      val (cls, prefix) = classes(((splitmix64(seed ^ i) >>> 1) % classes.length).toInt)
      DictEntry(surface, s"$prefix:$surface", cls, 1.0)
    }
  }

  /** Zipf(`s`) cumulative weights over `n` ranks, normalised to 1. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => math.pow(i + 1.0, -s))
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i); w(i) = acc; i += 1 }
    i = 0
    while (i < n) { w(i) /= acc; i += 1 }
    w
  }

  /** Interleaved corpus over `surfaces`: the same span layout as
    * [[Corpus.synthesize]] (1-3 text spans, 0-2 media spans, ~`meanWords`
    * words), but each word is an entity with probability `entityShare`,
    * drawn Zipf-skewed by dictionary index; other words are [[fillers]]. */
  def zipfCorpus(spark: SparkSession, nDocs: Long, surfaces: IndexedSeq[String],
      seed: Long, entityShare: Double = 0.2, zipfS: Double = 1.0,
      meanWords: Int = 40, numPartitions: Int = 16): Dataset[Doc] = {
    import spark.implicits._
    val surfB = spark.sparkContext.broadcast(surfaces.toArray)
    val cdfB = spark.sparkContext.broadcast(zipfCdf(surfaces.length, zipfS))
    val fill = fillers
    val entityCut = (entityShare * (1L << 30)).toLong
    spark.range(0, nDocs, 1, numPartitions).mapPartitions { ids =>
      val surf = surfB.value
      val cdf = cdfB.value
      val sb = new java.lang.StringBuilder(512)
      ids.map { id =>
        var h = splitmix64(seed ^ (id * 0x9e3779b97f4a7c15L))
        def next(): Long = { h = splitmix64(h); h >>> 1 }
        def nextInt(bound: Int): Int = (next() % bound).toInt
        def word(): String =
          if ((next() & ((1L << 30) - 1)) < entityCut) {
            val u = (next() >>> 10).toDouble / (1L << 53).toDouble
            var i = java.util.Arrays.binarySearch(cdf, u)
            if (i < 0) i = -i - 1
            surf(math.min(i, surf.length - 1))
          } else fill(nextInt(fill.length))
        val nText = 1 + nextInt(3)
        var media = nextInt(3)
        val perSpan = math.max(3, meanWords / nText)
        val spans = Vector.newBuilder[Span]
        var offset = 0
        (0 until nText).foreach { si =>
          val nw = perSpan / 2 + nextInt(perSpan)
          sb.setLength(0)
          (0 until nw).foreach { wi => if (wi > 0) sb.append(' '); sb.append(word()) }
          spans += Span("text", sb.toString, null, offset)
          offset += 1
          if (media > 0 && si < nText - 1) {
            spans += Span("image", null, s"media://image/$id/$offset", offset)
            offset += 1
            media -= 1
          }
        }
        while (media > 0) {
          spans += Span("audio", null, s"media://audio/$id/$offset", offset)
          offset += 1
          media -= 1
        }
        Doc(s"doc$id", spans.result())
      }
    }
  }

  // ---------------------------------------------------- query-suite tables

  private val langs = Vector("en", "en", "en", "es", "de", "fr", "zh")

  /** `documents(doc_id, text, lang, source, n_chars)` in the layout of the
    * sf test tables: 5-80 words drawn uniformly from the analytics domain's
    * vocabulary (which holds every dictionary surface), so the KG, text and
    * dedup queries find entities, query terms and shared shingles. */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val vocab = graft.corpus.AnalyticsDomain.vocab.toVector
    spark.range(0, n, 1, 4).map { id =>
      var h = splitmix64(seed ^ 0x444f43L ^ (id * 0x9e3779b97f4a7c15L))
      def next(bound: Int): Int = { h = splitmix64(h); ((h >>> 1) % bound).toInt }
      val text = Vector.fill(5 + next(76))(vocab(next(vocab.length))).mkString(" ")
      (id, text, langs(next(langs.length)), s"src${next(20)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** `embeddings(vec_id, embedding: 64 floats, label)`: each vector is one
    * of 10 label centroids plus noise, components in about [-0.3, 0.3]. */
  def embeddings(spark: SparkSession, n: Long, seed: Long, dim: Int = 64): DataFrame = {
    import spark.implicits._
    def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53) - 0.5
    spark.range(0, n, 1, 4).map { id =>
      val label = (splitmix64(seed ^ 0x454d42L ^ id) >>> 1) % 10
      val v = Array.tabulate(dim) { d =>
        val c = unit(splitmix64(seed ^ (label * 1000 + d)))
        val e = unit(splitmix64(seed ^ 0x4e4f49L ^ (id * 131 + d)))
        (0.4 * c + 0.2 * e).toFloat
      }
      (id, v.toSeq, label.toInt)
    }.toDF("vec_id", "embedding", "label")
  }

  /** `lineitem` with the TPC-H column layout: whole quantities 1-50,
    * prices in whole cents, return flag A/N/R, line status F/O. */
  def lineitem(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val flags = Vector("A", "N", "R")
    val day0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime
    spark.range(0, n, 1, 4).map { j =>
      var h = splitmix64(seed ^ 0x4c494eL ^ (j * 0x9e3779b97f4a7c15L))
      def next(bound: Long): Long = { h = splitmix64(h); (h >>> 1) % bound }
      val qty = 1 + next(50)
      (j / 4, 1 + next(200), 1 + next(10), (j % 4 + 1).toInt, qty.toDouble,
        (qty * (90000 + next(120000))) / 100.0, next(11) / 100.0, next(9) / 100.0,
        flags(next(3).toInt), if (next(2) == 0) "F" else "O",
        new java.sql.Timestamp(day0 + next(2500) * 86400000L))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
  }

  // ------------------------------------------------------- adapter tuples

  /** Node input labels of the import workload, with the file label the
    * schema gives each (`test_schema.yaml` class name, PascalCase). */
  val nodeLabels: Vector[(String, String)] = Vector(
    "protein" -> "Protein", "mirna" -> "MicroRNA", "hgnc" -> "Gene")

  private def nodeId(label: String, k: Long): String = label match {
    case "protein" => f"P$k%07d"
    case "mirna"   => s"hsa-miR-$k-3p"
    case _         => s"HGNC:$k"
  }

  /** Node row `j` of the id stream. Row `j` gets label `j % 3`; every
    * tenth row repeats an earlier id of its label (~10% duplicate ids
    * within a batch), others take id index `j / 3`. */
  def nodeRow(j: Long, seed: Long): RawNode = {
    val h = splitmix64(seed ^ (j * 0x2545f4914f6cdd1dL))
    val label = nodeLabels((j % nodeLabels.length).toInt)._1
    val base = j / nodeLabels.length
    val k = if ((h >>> 1) % 10 == 0 && base > 0) (h >>> 8) % base else base
    val props = label match {
      case "protein" => Props.of(
        "name" -> PV.str(s"protein $k"), "score" -> PV.dbl((h & 0xffff) / 65536.0),
        "taxon" -> PV.int(9606), "genes" -> PV.arr(Seq(s"g$k", s"g${k + 1}")))
      case "mirna" => Props.of("name" -> PV.str(s"mir $k"), "taxon" -> PV.int(9606))
      case _ => Props.of("name" -> PV.str(s"gene $k"), "accession" -> PV.str(s"A$k"))
    }
    RawNode(nodeId(label, k), label, props)
  }

  /** Node rows `[from, until)` of the id stream ([[nodeRow]]). */
  def nodes(spark: SparkSession, from: Long, until: Long, seed: Long,
      numPartitions: Int = 8): Dataset[RawNode] = {
    import spark.implicits._
    spark.range(from, until, 1, numPartitions).map(nodeRow(_, seed))
  }

  /** Edge row `j` over the node id space of a `nodeRows`-row first batch:
    * `phosphorylation` and `gene_gene` plain edges plus
    * `post_translational` edges, which the schema represents as nodes. */
  def edgeRow(j: Long, nodeRows: Long, seed: Long): RawEdge = {
    val perLabel = math.max(1L, nodeRows / 3)
    var h = splitmix64(seed ^ 0x45444745L ^ (j * 0x9e3779b97f4a7c15L))
    def draw(): Long = { h = splitmix64(h); (h >>> 1) % perLabel }
    (j % 3).toInt match {
      case 0 => RawEdge(null, nodeId("protein", draw()), nodeId("protein", draw()),
        "phosphorylation", Props.of())
      case 1 => RawEdge(null, nodeId("hgnc", draw()), nodeId("hgnc", draw()), "gene_gene",
        Props.of("directional" -> PV.bool((h & 1) == 0), "curated" -> PV.bool((h & 2) == 0),
          "score" -> PV.dbl((h >>> 48) / 65536.0)))
      case _ => RawEdge(null, nodeId("protein", draw()), nodeId("protein", draw()),
        "post_translational",
        Props.of("directed" -> PV.bool((h & 1) == 0), "effect" -> PV.int((h >>> 40) % 3 - 1)))
    }
  }

  /** Edge rows `[0, n)` ([[edgeRow]]). */
  def edges(spark: SparkSession, n: Long, nodeRows: Long, seed: Long,
      numPartitions: Int = 8): Dataset[RawEdge] = {
    import spark.implicits._
    spark.range(0, n, 1, numPartitions).map(edgeRow(_, nodeRows, seed))
  }
}
