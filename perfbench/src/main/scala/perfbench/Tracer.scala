package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span around a call the benchmark makes into graft. `op` ties the
  * spans of one op together; `parent` is -1 for the op's root span. */
final class Span(val id: Int, val parent: Int, val op: Long, val name: String,
    val startNs: Long) {
  var endNs: Long = 0L
  def layer: String = name.takeWhile(_ != '.')
  def ns: Long = endNs - startNs
}

/** Spark work attributed to one span through its job group. */
final class SparkAgg {
  var jobs, stages, tasks = 0L
  var deserMs, runMs, cpuNs, resultBytes = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  /** (start, end) wall-clock ms of each job, for driver-only time. */
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  def add(o: SparkAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    deserMs += o.deserMs; runMs += o.runMs; cpuNs += o.cpuNs
    resultBytes += o.resultBytes
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    jobSpans ++= o.jobSpans
  }
}

/** File-system effect of one op: Hadoop `FileSystem` byte counters of the
  * local (`file`) scheme, plus the files under the workload's store
  * directory. The local file system counts bytes but no operations, so
  * files created stand in for write operations. */
final case class FsStats(bytesWritten: Long, bytesRead: Long, files: Set[String]) {
  def bytesWrittenSince(o: FsStats): Long = bytesWritten - o.bytesWritten
  def bytesReadSince(o: FsStats): Long = bytesRead - o.bytesRead
  def filesCreatedSince(o: FsStats): Int = (files -- o.files).size
}

object FsStats {
  @annotation.nowarn("cat=deprecation")
  def now(root: Option[File]): FsStats = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    def walk(f: File): Iterator[String] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator.single(f.getPath)
    FsStats(all.map(_.getBytesWritten).sum, all.map(_.getBytesRead).sum,
      root.map(r => walk(r).toSet).getOrElse(Set.empty))
  }
}

/** Listener half of the tracer: every job carries its span's job group,
  * so task metrics join to the span that launched them. Jobs with no
  * group (background maintenance threads) collect under span -1. */
final class JobListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  val bySpan = mutable.HashMap.empty[Int, SparkAgg]
  @volatile var started, ended = 0L

  private def agg(span: Int) = bySpan.getOrElseUpdate(span, new SparkAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val span = g.filter(_.startsWith("span-")).map(_.drop(5).toInt).getOrElse(-1)
    jobSpan(e.jobId) = (span, e.time)
    e.stageIds.foreach(s => stageSpan(s) = span)
    agg(span).jobs += 1
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      agg(span).jobSpans += ((t0, e.time))
    }
    ended += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    agg(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageSpan.getOrElse(e.stageId, -1))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.deserMs += m.executorDeserializeTime
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.resultBytes += m.resultSize
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Waits (bounded) until the asynchronous listener bus has delivered
    * the end of every job it announced. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (System.nanoTime() < deadline && (started != ended || last != ended)) {
      last = ended
      Thread.sleep(100)
    }
  }
}

/** Spans around the benchmark's own calls into graft. Off (`on = false`)
  * it only runs the bodies. On, spans stay in memory and are written out
  * when the run ends; only ops of traced passes (`traced`) open spans, so
  * the untraced passes in between measure the tracing overhead. */
final class Tracer(spark: SparkSession, val on: Boolean, o: Opts) {
  val spans = ArrayBuffer.empty[Span]
  val listener: Option[JobListener] =
    if (on) { val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None
  /** File-system statistics before and after each traced op. */
  val fsByOp = mutable.HashMap.empty[Long, (FsStats, FsStats)]
  /** The directory whose files the FS statistics list (the catalog table). */
  var fsRoot: Option[File] = None
  /** JVM GC ms per op. */
  val gcByOp = mutable.HashMap.empty[Long, Long]
  /** Ops that ran with spans on. */
  val tracedOps = mutable.HashSet.empty[Long]
  /** Untraced op latencies by kind, for the overhead figure. */
  @volatile var traced = false
  @volatile var setupPhase = false
  private var stack: List[Span] = Nil
  private var opId = -1L
  private var opCounter = 0L
  private var fs0: FsStats = _
  private var gc0 = 0L
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  /** A span timestamp on the listener's wall clock (epoch ms). */
  def wallMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  private def active = on && traced && !setupPhase
  private def gcMs = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def beginOp(kind: String): Unit = {
    opCounter += 1
    opId = opCounter
    if (active) {
      tracedOps += opId
      fs0 = FsStats.now(fsRoot)
      gc0 = gcMs
    }
  }

  def endOp(): Unit = if (active && tracedOps.contains(opId)) {
    fsByOp(opId) = (fs0, FsStats.now(fsRoot))
    gcByOp(opId) = gcMs - gc0
  }

  def isTracedOp: Boolean = active && tracedOps.contains(opId)
  def currentLayer: String = stack.lastOption.map(_.layer).getOrElse("bench")

  def span[T](name: String)(body: => T): T = {
    if (!active || !tracedOps.contains(opId)) return body
    val sc = spark.sparkContext
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), opId,
      name, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"span-${s.id}", name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Writes every span (with its attributed Spark work) as JSON lines. */
  def close(): Unit = if (on) {
    listener.foreach(_.drain())
    val dir = new File(o.traces)
    dir.mkdirs()
    val f = new File(dir, s"${o.workload}-seed${o.seed}.jsonl")
    val by = listener.map(_.bySpan).getOrElse(mutable.HashMap.empty[Int, SparkAgg])
    val lines = spans.map { s =>
      val a = by.getOrElse(s.id, new SparkAgg)
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${a.jobs},""" +
        s""""stages":${a.stages},"tasks":${a.tasks},"executor_run_ms":${a.runMs}}"""
    }
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
