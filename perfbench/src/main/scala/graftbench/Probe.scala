package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a statement, a planning phase, a job, a stage,
  * or a stream micro-batch. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startMs: Long, endMs: Long)

/** Observes the engine from outside through Spark's public listeners
  * and keeps every span in memory until the run ends. Statements are
  * attributed through a local property that the harness sets before
  * each statement; jobs and stream batches inherit it. */
final class Probe(spark: SparkSession) {
  val StmtKey = "graftbench.stmt"
  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val jobStmt = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execStmt = mutable.Map.empty[Long, Long]
  private val jobsPerStmt = mutable.Map.empty[Long, Int]
  @volatile var currentStmt: Long = 0L
  @volatile private var lastEventMs = System.currentTimeMillis()

  /** Per-layer counters, summed over every traced statement. */
  val sums: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = sums(k) += v
  private def span(parent: Long, layer: String, name: String, s: Long, e: Long): Long = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, layer, name, s, e)
    id
  }

  /** A statement's span id is reserved before it runs, because it is
    * the local property the listeners attribute jobs by. */
  def reserveStmt(): Long = lock.synchronized { val id = nextId; nextId += 1; id }
  def closeStmt(id: Long, layer: String, name: String, s: Long, e: Long): Unit =
    lock.synchronized { spans += Span(id, 0L, layer, name, s, e) }

  def jobsOf(stmt: Long): Int = lock.synchronized(jobsPerStmt.getOrElse(stmt, 0))

  private def stmtOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(StmtKey))).map(_.toLong)
      .getOrElse(currentStmt)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      lastEventMs = System.currentTimeMillis()
      val stmt = stmtOf(e.properties)
      jobStmt(e.jobId) = stmt
      jobStart(e.jobId) = e.time
      jobSpan(e.jobId) = nextId
      nextId += 1
      jobsPerStmt(stmt) = jobsPerStmt.getOrElse(stmt, 0) + 1
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execStmt(x.toLong) = stmt)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      lastEventMs = System.currentTimeMillis()
      val stmt = jobStmt.getOrElse(e.jobId, currentStmt)
      jobSpan.remove(e.jobId).foreach { id =>
        spans += Span(id, stmt, "job", s"job ${e.jobId}",
          jobStart.getOrElse(e.jobId, e.time), e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      lastEventMs = System.currentTimeMillis()
      val i = e.stageInfo
      val s = i.submissionTime.getOrElse(0L)
      val job = stageJob.getOrElse(i.stageId, -1)
      // job span ids are reserved at job start, so a stage can name its
      // job as parent before the job span itself is written
      span(jobSpan.getOrElse(job, jobStmt.getOrElse(job, currentStmt)), "stage",
        s"stage ${i.stageId}", s, i.completionTime.getOrElse(s))
      add("exec.stages", 1)
    }
    private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stageSubmit((e.stageInfo.stageId, e.stageInfo.attemptNumber())) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      lastEventMs = System.currentTimeMillis()
      add("exec.tasks", 1)
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { sub =>
        add("exec.sched_wait_s", math.max(0L, e.taskInfo.launchTime - sub) / 1e3)
      }
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("mem.spill_mem_bytes", m.memoryBytesSpilled.toDouble)
        add("mem.spill_disk_bytes", m.diskBytesSpilled.toDouble)
        sums("mem.peak_exec_bytes") = math.max(sums("mem.peak_exec_bytes"),
          m.peakExecutionMemory.toDouble)
        add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
        add("scan.rows_read", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val plan = scala.util.Try(qe.executedPlan).toOption
    val (fallback, nonCodegen) = plan.map(codegenCounts).getOrElse((0, 0))
    lock.synchronized {
      lastEventMs = System.currentTimeMillis()
      val stmt = execStmt.getOrElse(qe.id, currentStmt)
      add("plans.executions", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        add(phase match {
          case "parsing" => "plans.parse_s"
          case "analysis" => "plans.analyze_s"
          case "optimization" => "plans.optimize_s"
          case _ => "plans.physical_s"
        }, p.durationMs / 1e3)
        span(stmt, "plans", phase, p.startTimeMs, p.endTimeMs)
      }
      qe.tracker.rules.foreach { case (rule, r) =>
        if (rule.startsWith("graft.")) {
          add("plans.graft_rule_s", r.totalTimeNs / 1e9)
          add("plans.graft_rule_effective", r.numEffectiveInvocations.toDouble)
        }
      }
      add("functions.codegen_fallback_exprs", fallback)
      add("functions.non_codegen_ops", nonCodegen)
    }
  }

  /** CodegenFallback expressions anywhere in the executed plan, and
    * physical operators that run outside whole-stage codegen. */
  private def codegenCounts(root: SparkPlan): (Int, Int) = {
    var fallback = 0
    var nonCodegen = 0
    def exprs(e: Expression): Unit = {
      if (e.isInstanceOf[CodegenFallback]) fallback += 1
      e.children.foreach(exprs)
    }
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case q: QueryStageExec => walk(q.plan, inCodegen = false)
      case r: ReusedExchangeExec => walk(r.child, inCodegen = false)
      case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
      case i: InputAdapter => walk(i.child, inCodegen = false)
      case other =>
        other.expressions.foreach(exprs)
        val wrapper = other.isInstanceOf[Exchange] ||
          other.getClass.getSimpleName.startsWith("AQEShuffleRead")
        if (!inCodegen && !wrapper) nonCodegen += 1
        other.subqueries.foreach(s => walk(s, inCodegen = false))
        other.children.foreach(c => walk(c, inCodegen))
    }
    walk(root, inCodegen = false)
    (fallback, nonCodegen)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      lock.synchronized {
        lastEventMs = System.currentTimeMillis()
        add("stream.batches", 1)
        add("stream.trigger_s", ms("triggerExecution"))
        add("stream.get_batch_s", ms("getBatch"))
        // V2 sources report latestOffset, V1 sources (graft-cdf) getOffset
        add("stream.latest_offset_s", ms("latestOffset") + ms("getOffset"))
        add("stream.rows", p.numInputRows.toDouble)
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
          (ms("triggerExecution") * 1e3).toLong
        span(currentStmt, "stream", s"batch ${p.batchId}",
          java.time.Instant.parse(p.timestamp).toEpochMilli, end)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    quiesce()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously: wait until none has arrived
    * for a short while, so the last statement's events are counted. */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() - lastEventMs < 300 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def allSpans: Seq[Span] = lock.synchronized(spans.toList)

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by layer, with span counts. */
  def selfTimes: Map[String, (Double, Int)] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      val self = ss.map { s =>
        val ivs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curS = Long.MinValue
        var curE = Long.MinValue
        ivs.foreach { case (a, b) =>
          if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        covered += math.max(0L, curE - curS)
        (s.endMs - s.startMs - covered) / 1e3
      }.sum
      layer -> (self, ss.size)
    }
  }
}
