package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed operation of a workload, as the client saw it. `parent` is
  * the id of the operation a sub-span (plan, exec) belongs to. */
final case class Span(
    id: Int, parent: Option[Int], kind: String, name: String,
    startMs: Long, endMs: Long, seconds: Double, error: Option[String])

/** Spans of the harness's calls into the layers, kept in memory. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def all: Seq[Span] = buf.toSeq
  def ops: Seq[Span] = buf.filter(_.parent.isEmpty).toSeq

  /** Time `body` as operation `kind`/`name`. A thrown operation is
    * recorded with its exception class and never as a success. */
  def op(kind: String, name: String, parent: Option[Int] = None)(
      body: Int => Unit): Span = {
    val id = next
    next += 1
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err =
      try { body(id); None }
      catch { case e: Throwable => Some(e.getClass.getName + ": " + e.getMessage) }
    val s = Span(id, parent, kind, name, ms0, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9, err)
    buf += s
    s
  }

  /** A sub-span of operation `parent`; failures propagate to it. */
  def sub[A](parent: Int, kind: String, name: String)(body: => A): A = {
    var out: Option[A] = None
    val s = op(kind, name, Some(parent))(_ => out = Some(body))
    out.getOrElse(throw new RuntimeException(s"$name failed: ${s.error.get}"))
  }
}

/** Spark-side record of one job, with the tasks of its stages summed. */
final case class JobRec(
    id: Int, submitMs: Long, var endMs: Long, stages: Seq[Int],
    execId: Option[Long], stageDetails: String)

final class StageAgg {
  var submitMs = 0L
  var tasks = 0L
  var waitMs = 0L
  var cpuNs = 0L
  var inBytes = 0L
  var outBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
}

/** The traced run's SparkListener: jobs, stage submissions, task metrics
  * and the call sites of SQL executions, kept in memory until the run
  * ends. Attribution to operations and layouts happens afterwards, in
  * [[Attribution]]. */
final class Recorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val sqlDetails = mutable.HashMap.empty[Long, String]
  @volatile var busyNs = 0L

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    busyNs += System.nanoTime() - t0
  }

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.time, e.stageIds, exec,
      e.stageInfos.map(_.details).mkString("\n"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stage(e.stageInfo.stageId).submitMs =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stage(e.stageId)
    s.tasks += 1
    if (s.submitMs > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => timed {
      sqlDetails(x.executionId) = x.details
    }
    case _ => ()
  }
}

/** Attribution of recorded Spark work to the harness's operations and to
  * the layout files whose code submitted it. */
object Attribution {

  /** Source file → layout name. A job belongs to the innermost frame of
    * its call site that names one of these files. */
  val layoutFiles: Seq[(String, String)] = Seq(
    "ClusterRegistry.scala" -> "registry", "BandIndex.scala" -> "band",
    "LexicalIndex.scala" -> "lexical", "KmvLayout.scala" -> "kmv",
    "IvfLayout.scala" -> "ivf", "ChunkStore.scala" -> "chunks",
    "CorpusLifecycle.scala" -> "lifecycle")

  val layouts: Seq[String] = layoutFiles.map(_._2).filter(_ != "lifecycle")

  def layoutOf(callSite: String): Option[String] =
    callSite.split("\n").iterator.flatMap { line =>
      layoutFiles.collectFirst { case (f, l) if line.contains(f) => l }
    }.nextOption()

  /** Per-operation Spark totals. */
  final case class OpWork(
      jobs: Int, driverGapS: Double, taskWaitS: Double, cpuS: Double,
      inBytes: Long, outBytes: Long, shuffleBytes: Long, spillBytes: Long,
      gcS: Double, byLayout: Map[String, (Int, Double)])

  /** Assign each job to the operation running when it was submitted (one
    * client, so operations never overlap), then sum per operation. */
  def perOp(rec: Recorder, ops: Seq[Span]): Map[Int, OpWork] = {
    val sorted = ops.sortBy(_.startMs)
    val starts = sorted.map(_.startMs).toArray
    def owner(ms: Long): Option[Span] = {
      val i = java.util.Arrays.binarySearch(starts, ms)
      val j = if (i >= 0) {
        var k = i
        while (k + 1 < starts.length && starts(k + 1) == ms) k += 1
        k
      } else -i - 2
      if (j < 0) None
      else Some(sorted(j)).filter(o => ms <= o.endMs)
    }
    val byOp = rec.jobs.values.toSeq.groupBy(j => owner(j.submitMs).map(_.id))
    sorted.map { op =>
      val js = byOp.getOrElse(Some(op.id), Nil)
      val stageIds = js.flatMap(_.stages).distinct
      val ss = stageIds.flatMap(rec.stages.get)
      val gap = Stats.driverGap(op.startMs / 1e3, op.endMs / 1e3,
        js.map(j => (j.submitMs / 1e3, j.endMs / 1e3)))
      val byLayout = js
        .flatMap { j =>
          val site = j.execId.flatMap(rec.sqlDetails.get).getOrElse(j.stageDetails)
          layoutOf(site).map(_ -> j)
        }
        .groupBy(_._1)
        .map { case (l, lj) =>
          val jj = lj.map(_._2)
          l -> (jj.size, (jj.map(_.endMs).max - jj.map(_.submitMs).min) / 1e3)
        }
      op.id -> OpWork(js.size, gap, ss.map(_.waitMs).sum / 1e3,
        ss.map(_.cpuNs).sum / 1e9, ss.map(_.inBytes).sum,
        ss.map(_.outBytes).sum, ss.map(_.shuffleBytes).sum,
        ss.map(_.spillBytes).sum, ss.map(_.gcMs).sum / 1e3, byLayout)
    }.toMap
  }
}
