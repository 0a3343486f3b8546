package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Shim

/** One timed interval of the benchmark's caller thread. `parent` is -1 for
  * an op's root span; every span of one op shares `op`.
  */
final case class Span(id: Long, name: String, parent: Long, op: Int,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The table directory an action reads or writes, from its path. */
object TableClass {
  def of(path: String): Option[String] = {
    val p = path.replaceAll("\\.(tmp|old)-[0-9a-f]+", "")
    if (p.contains("/feed/")) Some("feed")
    else if (p.contains("/landing/")) Some("landing")
    else if (p.contains("pipeline_run_log")) Some("run_log")
    else if (p.contains("etl_watermark")) Some("watermark")
    else if (p.matches(".*/stg_[^/]+_history(/.*)?")) Some("history")
    else if (p.matches(".*/stg_[^/]+(/.*)?")) Some("latest")
    else None
  }
}

/** Spans plus the Spark-side record of every action run inside them.
  *
  * Spans are kept in memory on the caller thread. The innermost open span
  * is published to Spark as a job tag, a job-local property that Spark
  * copies onto every job and SQL execution the caller starts (and onto
  * threads the caller spawns). One [[SparkListener]] collects job, stage
  * and task metrics by that tag, and, from the end of each SQL execution,
  * the action's planning time and the table directories it reads and
  * writes.
  *
  * Spark-side recording is off until [[recording]] turns it on; spans are
  * always kept (the closed loop needs op boundaries).
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  // maps span nanoTime to the wall clock Spark stamps its events with
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private def wallMs(ns: Long): Long = originMs + (ns - originNs) / 1000000L
  private var stack: List[Span] = Nil
  private var nextId = 0L

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  val executions = new ConcurrentHashMap[Long, ExecRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => spanOfTags(p.getProperty("spark.job.tags"))).getOrElse(-1L)
      // the result stage is named after the job's call site
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs.put(e.jobId, JobRec(span, site, e.time, e.stageIds.size))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          j.synchronized {
            j.tasks += 1
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            j.scanBytes += m.inputMetrics.bytesRead
            j.writeBytes += m.outputMetrics.bytesWritten
            j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
          }
        }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val r = exec(s.executionId)
        r.synchronized {
          r.span = spanOfTags(s.jobTags.mkString(",")).getOrElse(-1L)
          r.root = s.rootExecutionId.forall(_ == s.executionId)
          r.startMs = s.time
        }
      case s: SparkListenerSQLExecutionEnd =>
        val r = exec(s.executionId)
        val qe = Shim.queryExecution(s)
        val phases = qe.map(_.tracker.phases).getOrElse(Map.empty)
        val (reads, writes) = qe.map(q => paths(q.analyzed)).getOrElse((Nil, Nil))
        r.synchronized {
          r.endMs = s.time
          r.planningMs = Seq("analysis", "optimization", "planning")
            .flatMap(phases.get).map(_.durationMs).sum
          r.reads = reads.flatMap(TableClass.of)
          r.writes = writes.flatMap(TableClass.of)
        }
      case _ =>
    }
  }

  private var on = false

  /** Turns Spark-side recording on or off; call between ops. */
  def recording(b: Boolean): Unit = if (b != on) {
    if (b) sc.addSparkListener(listener)
    else {
      Shim.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    on = b
  }

  /** Runs `body` inside a span named `name`, a child of the open span. */
  def span[T](name: String, op: Int)(body: => T): T = {
    val parent = stack.headOption
    val s = Span(nextId, name, parent.map(_.id).getOrElse(-1L), op, System.nanoTime())
    nextId += 1
    spans += s
    stack = s :: stack
    if (on) {
      parent.foreach(p => sc.removeJobTag(tag(p.id)))
      sc.addJobTag(tag(s.id))
    }
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      if (on) {
        sc.removeJobTag(tag(s.id))
        parent.foreach(p => sc.addJobTag(tag(p.id)))
      }
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  private def exec(id: Long): ExecRec = executions.computeIfAbsent(id, i => new ExecRec(i))

  /** Wall-clock intervals (ms) of `execs`, clipped to span `s`. */
  def intervalsMs(s: Span, execs: Seq[ExecRec]): Seq[(Long, Long)] = {
    val (a, b) = (wallMs(s.startNs), wallMs(s.endNs))
    execs.map(e => (math.max(e.startMs, a), math.min(e.endMs, b)))
  }

}

object Tracer {
  private val TagPrefix = "perfbench-span-"
  def tag(id: Long): String = TagPrefix + id

  private def spanOfTags(tags: String): Option[Long] =
    Option(tags).toSeq.flatMap(_.split(",")).map(_.trim)
      .find(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix).toLong)

  /** Per-job record, filled from job and task events. */
  final case class JobRec(span: Long, callSite: String, startMs: Long, stages: Int) {
    var endMs: Long = startMs
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleRecords = 0L
    var spillBytes = 0L
    var scanBytes = 0L
    var writeBytes = 0L
    var peakExecMem = 0L
    def seconds: Double = (endMs - startMs) / 1e3
    def isCheckpoint: Boolean = callSite.startsWith("localCheckpoint") ||
      callSite.startsWith("checkpoint")
  }

  /** Per-SQL-execution record: one Dataset action or command. */
  final class ExecRec(val id: Long) {
    var span = -1L
    var root = true
    var startMs = 0L
    var endMs = 0L
    var planningMs = 0L
    var reads: Seq[String] = Nil
    var writes: Seq[String] = Nil
    def seconds: Double = math.max(0L, endMs - startMs) / 1e3
  }

  /** File paths a plan reads and writes (file-source relations only). */
  def paths(plan: LogicalPlan): (Seq[String], Seq[String]) = {
    val reads = plan.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
    val writes = plan.collect {
      case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
    }
    (reads.distinct, writes.distinct)
  }
}
