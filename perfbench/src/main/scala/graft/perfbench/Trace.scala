package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into a layer. Times are epoch
  * milliseconds (to line up with Spark's listener events) plus a
  * nanosecond duration for the latency figures. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startMs: Long, endMs: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** Spans recorded around every public call the benchmark makes, kept in
  * memory and written out at exit. The client is a single closed loop,
  * so at most one span per nesting level is open at a time and a Spark
  * job belongs to the innermost span whose interval holds its start. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Long]

  def apply[T](name: String, layer: String)(body: => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val parent = open.headOption.getOrElse(0L)
    open.push(id)
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val s = Span(id, parent, name, layer, ms, System.currentTimeMillis(),
        System.nanoTime() - t0)
      done.synchronized(done += s)
      (r, s)
    } finally open.pop()
  }

  def all: Seq[Span] = done.synchronized(done.toVector)
}

/** What one Spark job cost, attributed after the run. */
final case class JobRec(id: Int, site: String, startMs: Long, endMs: Long,
                        execId: Long, taskMs: Long, cpuNs: Long,
                        gcMs: Long, tasks: Int, shuffleRead: Long,
                        shuffleWrite: Long, spill: Long, inBytes: Long,
                        outBytes: Long)

/** Planning cost, graft-rule activity and files scanned and written by
  * one query execution. */
final case class QeRec(endMs: Long, planMs: Long, graftRewrites: Int,
                       filesRead: Long, filesWritten: Long)

/** Progress of one streaming micro-batch. */
final case class BatchRec(endMs: Long, totalMs: Long, addBatchMs: Long)

/** The listeners of a traced run: jobs and their stages, SQL
  * executions (to tell the ETL's dimension jobs from its fact jobs by
  * the paths their plans name), query planning phases, and streaming
  * micro-batch progress. */
final class Recorder(spark: SparkSession) {
  private final class Acc(val id: Int, val site: String, val startMs: Long,
                          val execId: Long) {
    @volatile var endMs = -1L
    var taskMs, cpuNs, gcMs, shR, shW, spill, in, out = 0L
    var tasks = 0
  }
  private val jobs = new ConcurrentHashMap[Int, Acc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val execPlans = new ConcurrentHashMap[Long, String]()
  private val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage's name is the action's call site, e.g.
      // "count at Pipeline.scala:183" (what graft.JobProfile reads)
      val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new Acc(e.jobId, site, e.time, exec))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val j = jobs.get(stageJob.getOrDefault(e.stageInfo.stageId, -1))
      val m = e.stageInfo.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shR += m.shuffleReadMetrics.totalBytesRead
        j.shW += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.in += m.inputMetrics.bytesRead
        j.out += m.outputMetrics.bytesWritten
        j.tasks += e.stageInfo.numTasks
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execPlans.put(s.executionId, s.physicalPlanDescription)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val t = qe.tracker
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(t.phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
      val graft = t.rules.count { case (rule, s) =>
        rule.startsWith("graft.plans.") && s.numEffectiveInvocations > 0 }
      val (read, written) = Recorder.files(qe.executedPlan)
      qes.add(QeRec(System.currentTimeMillis(), planMs, graft, read, written))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      if (e.progress.numInputRows > 0)
        batches.add(BatchRec(System.currentTimeMillis(),
          d.get("triggerExecution").map(_.toLong).getOrElse(0L),
          d.get("addBatch").map(_.toLong).getOrElse(0L)))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the listener bus to deliver everything posted so far. */
  def drain(): Unit = {
    val t0 = System.currentTimeMillis()
    while (jobs.values.asScala.exists(_.endMs < 0) &&
      System.currentTimeMillis() - t0 < 5000) Thread.sleep(20)
    Thread.sleep(200)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def jobRecs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id).map { a =>
    JobRec(a.id, a.site, a.startMs, math.max(a.endMs, a.startMs), a.execId,
      a.taskMs, a.cpuNs, a.gcMs, a.tasks, a.shR, a.shW, a.spill, a.in, a.out)
  }
  def qeRecs: Seq[QeRec] = qes.asScala.toSeq
  def batchRecs: Seq[BatchRec] = batches.asScala.toSeq
}

object Recorder {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.command.DataWritingCommandExec

  /** Files a finished plan scanned and wrote, from its SQL metrics. */
  def files(plan: SparkPlan): (Long, Long) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    def numFiles(p: SparkPlan) = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    val all = try nodes(plan) catch { case _: Throwable => Nil }
    (all.collect { case s: FileSourceScanExec => numFiles(s) }.sum,
      all.collect { case w: DataWritingCommandExec => numFiles(w) }.sum)
  }
}

object Layers {
  /** The layer a job belongs to, by the source file of its call site;
    * None when the call site is the benchmark's own code (the job then
    * belongs to the layer of the span that was open). */
  def ofSite(site: String): Option[String] = {
    val file = site.split(" at ").lastOption.getOrElse("")
      .takeWhile(_ != ':')
    file match {
      case "Tables.scala" => Some("io")
      case "Pipeline.scala" | "SongsEtl.scala" | "StarSchema.scala" => Some("etl")
      case "Relational.scala" => Some("ops.relational")
      case "Functions.scala" => Some("ops.functions")
      case "ScaleOps.scala" => Some("ops.scale")
      case "TextOps.scala" => Some("ops.text")
      case "Similarity.scala" => Some("ops.similarity")
      case "Curation.scala" => Some("ops.curation")
      case "Multimodal.scala" => Some("ops.multimodal")
      case "Ckpt.scala" | "Skew.scala" => Some("ops.other")
      case "StreamOps.scala" => Some("streaming")
      case "GraftExtensions.scala" | "RangeBinJoin.scala" | "AutoFileSkip.scala" |
           "ManifestStats.scala" | "LiveArchives.scala" => Some("plans")
      case f if f.nonEmpty && Set("BloomAgg.scala", "Columns.scala", "Cuid.scala",
        "SimHashAgg.scala", "SortedSearch.scala", "TopKAgg.scala",
        "VectorExprs.scala")(f) => Some("expr")
      case _ => None
    }
  }

  /** Total length of the union of [start, end) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
