package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run: workload > pass > query > body/plan/exec >
  * job > stage. Times are epoch milliseconds. */
final class Span(val id: Int, val parent: Int, val kind: String,
    val name: String, val startMs: Double, var endMs: Double)

/** Counters of one traced query execution. Listener callbacks add to it
  * from the bus threads; the harness reads it only after draining the bus. */
final class QueryStats(val name: String, val spanId: Int) {
  val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) = c(k) + v
  val stageIntervals = mutable.ArrayBuffer[(Long, Long)]()
  /** (start, end) epoch ms of each job, and of each SQL execution's
    * Catalyst phases */
  val jobs = mutable.ArrayBuffer[(Double, Double)]()
  val plans = mutable.ArrayBuffer[(Double, Double)]()
  val batchMs = mutable.ArrayBuffer[Double]()
  /** (start, end) epoch ms of each SQL execution's planning and run */
  val executions = mutable.ArrayBuffer[(Double, Double)]()
}

/** Listeners and spans of the traced run: a SparkListener (jobs, stages,
  * tasks), a QueryExecutionListener (Catalyst phases per SQL execution) and
  * a StreamingQueryListener (micro-batch phases and state store). Jobs and
  * stages are attached to their query through a local property the harness
  * sets on its own thread; SQL and streaming events go to the query that is
  * open, which is exact because one client thread runs queries in sequence
  * and each query span closes only after the bus is drained. */
final class Tracer {
  val PropKey = "perfbench.query"
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val byTag = mutable.Map[String, QueryStats]()
  private val stageTag = mutable.Map[Int, String]()
  private val jobSpan = mutable.Map[Int, (QueryStats, Int, Long)]()  // job id -> (query, span, start)
  private val stageJob = mutable.Map[Int, Int]()     // stage id -> job span
  @volatile private var open: QueryStats = null

  def start(parent: Int, kind: String, name: String, s: Double): Int =
    synchronized {
      nextId += 1
      spans += new Span(nextId, parent, kind, name, s, s)
      nextId
    }
  def finish(id: Int, e: Double): Unit = synchronized { spans(id - 1).endMs = e }
  def span(parent: Int, kind: String, name: String, s: Double, e: Double): Int = {
    val id = start(parent, kind, name, s)
    finish(id, e)
    id
  }
  def allSpans: Seq[Span] = synchronized(spans.toList)

  private def statsOf(tag: String): Option[QueryStats] =
    if (tag == null) None else byTag.get(tag)

  object spark extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tag = Option(e.properties).map(_.getProperty(PropKey)).orNull
      statsOf(tag).foreach { q =>
        q.add("sched.jobs", 1)
        val id = start(q.spanId, "job", s"job ${e.jobId}", e.time)
        jobSpan(e.jobId) = (q, id, e.time)
        e.stageInfos.foreach { si =>
          stageTag(si.stageId) = tag
          stageJob(si.stageId) = id
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (q, id, s) =>
        finish(id, e.time)
        q.jobs += ((s.toDouble, e.time.toDouble))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val tag = Option(e.properties).map(_.getProperty(PropKey)).orNull
        if (tag != null && byTag.contains(tag)) stageTag(e.stageInfo.stageId) = tag
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        stageTag.get(si.stageId).flatMap(statsOf).foreach { q =>
          q.add("sched.stages", 1)
          for (s <- si.submissionTime; f <- si.completionTime) {
            q.stageIntervals += ((s, f))
            span(stageJob.getOrElse(si.stageId, q.spanId), "stage",
              s"stage ${si.stageId} (${si.numTasks} tasks)", s, f)
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageTag.get(e.stageId).flatMap(statsOf).foreach { q =>
        q.add("sched.tasks", 1)
        if (e.reason != Success) q.add("task.failed", 1)
        val ti = e.taskInfo
        val m = e.taskMetrics
        if (m != null) {
          val total = ti.finishTime - ti.launchTime
          val gettingResult =
            if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
          q.add("sched.scheduler_delay_ms", math.max(0L, total - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
          q.add("sched.task_deser_ms", m.executorDeserializeTime)
          q.add("task.run_ms", m.executorRunTime)
          q.add("task.cpu_ms", m.executorCpuTime / 1e6)
          q.add("task.gc_ms", m.jvmGCTime)
          q.add("scan.records", m.inputMetrics.recordsRead)
          q.add("scan.bytes", m.inputMetrics.bytesRead)
          q.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
          q.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
          q.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
          q.add("spill.bytes", m.diskBytesSpilled)
        }
      }
    }
  }

  object sql extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val q = open
        if (q != null) {
          val ph = qe.tracker.phases
          def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
          q.add("entry.sql_executions", 1)
          q.add("plan.analysis_ms", ms("analysis"))
          q.add("plan.optimizer_ms", ms("optimization"))
          q.add("plan.physical_ms", ms("planning"))
          val planMs = ms("analysis") + ms("optimization") + ms("planning")
          q.add("plan.total_ms", planMs)
          if (ph.nonEmpty) {
            val s = ph.values.map(_.startTimeMs).min.toDouble
            val pe = ph.values.map(_.endTimeMs).max.toDouble
            span(q.spanId, "plan", s"plan #${q.executions.size}", s, pe)
            q.plans += ((s, pe))
            q.executions += ((s, pe + durationNs / 1e6))
          }
        }
      }
  }

  object streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val q = open
        if (q != null) {
          val p = e.progress
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
          q.add("stream.batches", 1)
          q.add("stream.input_rows", p.numInputRows)
          q.add("stream.add_batch_ms", d.getOrElse("addBatch", 0.0))
          q.add("stream.query_planning_ms", d.getOrElse("queryPlanning", 0.0))
          q.add("stream.get_batch_ms", d.getOrElse("getBatch", 0.0))
          q.add("stream.wal_commit_ms", d.getOrElse("walCommit", 0.0))
          q.batchMs += d.getOrElse("triggerExecution", 0.0)
          p.stateOperators.foreach { so =>
            q.add("stream.state_commit_ms", so.commitTimeMs)
            q.add("stream.state_update_ms", so.allUpdatesTimeMs)
            q.add("stream.state_rows", so.numRowsTotal)
            q.add("stream.state_mem_bytes", so.memoryUsedBytes)
          }
        }
      }
  }

  /** Attach the listeners to a (new) session. */
  def install(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(sql)
    s.streams.addListener(streams)
  }

  /** Open a traced query: its jobs are tagged through the local property. */
  def begin(sc: SparkContext, tag: String, q: QueryStats): Unit = {
    synchronized { byTag(tag) = q }
    open = q
    sc.setLocalProperty(PropKey, tag)
  }

  /** Close the open query after the listener bus has delivered its events. */
  def end(sc: SparkContext): Unit = {
    sc.setLocalProperty(PropKey, null)
    PerfbenchBus.drain(sc)
    open = null
  }
}

/** JVM-wide counters the harness samples around each traced query. */
object JvmCounters {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  def sample(): Map[String, Double] = Map(
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "jvm.jit_ms" -> (if (jit != null) jit.getTotalCompilationTime.toDouble else 0.0),
    "jvm.gc_ms" -> gcBeans.map(_.getCollectionTime.max(0L)).sum.toDouble)
}
