package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import graft.BenchSkew

/** One recorded span: a layer call made by the benchmark. */
final case class SpanRec(run: String, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Summed task metrics of the Spark jobs run under one job group. */
final class GroupAcc {
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val stages = scala.collection.mutable.Set[Int]()
}

/** Per-job-group stage statistics. The benchmark sets the job group to the
  * span name around each layer call; jobs outside a group are ignored.
  * Task durations per stage go to a [[BenchSkew.TaskStats]], so skew is
  * read with the same [[BenchSkew.stageSkewReport]] the official bench
  * uses. */
final class GroupStats extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, GroupAcc]()
  val durations = new BenchSkew.TaskStats

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(name => j.stageIds.foreach(s => stageGroup.put(s, name)))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(t.stageId)
    if (g != null && t.taskMetrics != null) {
      val m = t.taskMetrics
      val a = groups.computeIfAbsent(g, _ => new GroupAcc)
      a.synchronized {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.stages += t.stageId
      }
      durations.onTaskEnd(t)
    }
  }

  def group(name: String): GroupAcc = Option(groups.get(name)).getOrElse(new GroupAcc)

  /** max/median task time of the group's stage with the largest summed
    * task time (the stage a straggler would lengthen); 1.0 when no stage
    * of the group ran at least two tasks. */
  def skew(name: String): Double = {
    val ids = group(name).stages
    val totals = durations.byStage.asScala.collect {
      case (sid, v) if ids.contains(sid) => sid -> v.asScala.map(_.toLong).sum
    }
    val dominant = totals.maxByOption(_._2).map(_._1)
    BenchSkew.stageSkewReport(durations, minTasks = 2)
      .find(r => dominant.contains(r._1)).map(_._5).getOrElse(1.0)
  }

  /** Forget every group; call between traced builds. */
  def reset(): Unit = { stageGroup.clear(); groups.clear(); durations.byStage.clear() }
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * When disabled, [[span]] only runs its body. When enabled it also sets
  * the Spark job group to the span name, so [[GroupStats]] can attribute
  * task metrics to it. Spans are written out by [[write]] at the end. */
final class Tracer(sc: SparkContext, val enabled: Boolean, runId: String) {
  private val recs = ArrayBuffer[SpanRec]()
  private var open: List[(Int, String)] = Nil // innermost first
  private var nextId = 1
  val stats: Option[GroupStats] =
    if (enabled) { val s = new GroupStats; sc.addSparkListener(s); Some(s) } else None

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name) :: open
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        recs += SpanRec(runId, id, parent, name, t0, System.nanoTime())
        open = open.tail
        // jobs that follow in the enclosing span belong to its group
        open.headOption match {
          case Some((_, outer)) => sc.setJobGroup(outer, outer, interruptOnCancel = false)
          case None             => sc.clearJobGroup()
        }
      }
    }

  /** Seconds of every finished span named `name`, in order. */
  def seconds(name: String): Seq[Double] = recs.filter(_.name == name).map(_.seconds).toSeq

  /** Start a traced build: deliver pending events, then drop old stats. */
  def restart(): Unit = { org.apache.spark.PerfbenchBus.drain(sc); stats.foreach(_.reset()) }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def write(path: java.nio.file.Path): Unit = {
    val lines = recs.sortBy(_.startNs).map { r =>
      s"""{"run":"${r.run}","id":${r.id},"parent":${r.parent},"name":"${r.name}",""" +
        s""""start_ns":${r.startNs},"end_ns":${r.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
