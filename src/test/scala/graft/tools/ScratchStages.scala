package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import graft.corpus.{AnalyticsDomain, Corpus}

/** Scaling probe (not part of the driver contract): per-stage wall times of
  * the BenchPipeline KG run at a given core count, fresh JVM per invocation.
  * args = (cores, nDocs). Prints one line per stage with the GC time that
  * accrued during it (all collectors summed). Times the stages of the fused
  * mention-set path (`KgPipeline.runFused`) that BenchPipeline.pipelineRun
  * uses.
  */
object ScratchStages {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val nDocs = args(1).toLong
    val spark = BenchPipeline.newSession(cores)
    // same warmups as the reps=1 protocol
    BenchPipeline.pipelineRun(spark, 2000)
    BenchPipeline.pipelineRun(spark, math.max(20000L, nDocs / 20))

    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def timed[A](name: String)(f: => A): A = {
      val g0 = gcMillis; val t0 = System.nanoTime()
      val r = f
      println(f"STAGE $name%-18s ${(System.nanoTime() - t0) / 1e9}%7.2f s  gc=${(gcMillis - g0) / 1e3}%6.2f s")
      r
    }

    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = BenchPipeline.ensureInput(spark, nDocs)
    def staged = spark.read.parquet(dir).as[graft.model.Doc]
    // substage A: parquet scan + full text decode alone (no trie) — force
    // real column reads (a bare count() answers from parquet metadata)
    timed("scan_decode_only") {
      staged.toDF().select(explode(col("spans.text")).as("t"))
        .agg(sum(length(col("t")))).collect()
    }
    // substage B: scan + trie matching (fused byte-walk), no persist
    val pipe = KgPipeline.analytics(spark)
    timed("extract_nocache") { pipe.mentionSets(staged).count() }

    val t0 = System.nanoTime()
    val ms = pipe.mentionSets(staged)
    ms.persist(StorageLevel.MEMORY_AND_DISK)
    timed("extract+persist") { ms.count() }
    val ns = pipe.nodesFromSets(ms)
    timed("nodes") { ns.count() }
    val me = pipe.mentionEdgesFromSets(ms)
    timed("mention_edges") { me.count() }
    val ce = pipe.cooccurrenceEdgesFromSets(ms)
    timed("cooc_edges") { ce.count() }
    val es = me.union(ce)
    val n = timed("triples_total") { pipe.triples(ns, es).count() }
    val nF = timed("triples_fused") { pipe.triplesFromSets(ms).count() }
    println(f"STAGE all_inclusive  ${(System.nanoTime() - t0) / 1e9}%7.2f s  triples=$n fused=$nF")
    Runtime.getRuntime.halt(0)
  }
}
