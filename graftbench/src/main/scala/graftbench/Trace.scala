package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectMetricsExec, FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed region. Times are nanoseconds since the tracer started;
  * `parent` is -1 for an op span (the root). Job spans come from the
  * Spark listener and hang under the span that was active when the job
  * started. */
final case class Span(id: Int, parent: Int, name: String, op: Int, start: Long, end: Long)

/** Named per-layer counters of one span. Keys ending in `_max` combine
  * by maximum, every other key by sum. */
final class Counters {
  val values: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit = synchronized {
    values(k) = if (k.endsWith("_max")) math.max(values.getOrElse(k, 0.0), v) else values.getOrElse(k, 0.0) + v
  }
}

/** Spans around the benchmark's calls into each layer, plus the Spark
  * listener and query-execution listener that attribute jobs, stages,
  * tasks and executed plans to those spans.
  *
  * With `enabled = false` only op spans are kept and no listener is
  * registered: that is the untraced run the end-to-end metrics come from.
  *
  * Attribution: the active span id travels to Spark as the local property
  * `graftbench.span`, which every job and stage submitted from this
  * thread carries. Executed-plan events have no such property, so the
  * tracer drains the listener bus at every span boundary and charges the
  * plans delivered by the drain to the span that was innermost while
  * they ran. The harness is single-threaded, which makes this exact. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private var nextId = 0
  private val stack = mutable.Stack[Span]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val counters: mutable.Map[Int, Counters] = mutable.Map.empty
  private val jobSpans = new ConcurrentLinkedQueue[Span]()
  private val pendingPlans = new ConcurrentLinkedQueue[QueryExecution]()

  def now: Long = System.nanoTime() - t0

  private def prop(id: Int): Unit =
    sc.setLocalProperty(Tracer.SpanProperty, if (id < 0) null else id.toString)

  /** Counters of the innermost open span. */
  def current: Counters = countersOf(stack.headOption.map(_.id).getOrElse(-1))

  /** Time `body` as span `name`. Op spans (no open parent) are always
    * recorded; nested spans only when tracing. */
  def span[T](name: String, op: Int)(body: => T): T = {
    if (!enabled && stack.nonEmpty) return body
    settle()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val start = now
    stack.push(Span(id, parent, name, op, start, -1L))
    if (enabled) prop(id)
    try body
    finally {
      val end = now
      settle()
      stack.pop()
      spans += Span(id, parent, name, op, start, end)
      if (enabled) prop(stack.headOption.map(_.id).getOrElse(-1))
    }
  }

  /** Drain the listener bus and charge delivered plans to the open span. */
  def settle(): Unit = if (enabled) {
    org.apache.spark.graftbench.Bus.drain(sc)
    var qe = pendingPlans.poll()
    while (qe != null) {
      Plans.record(qe, current)
      qe = pendingPlans.poll()
    }
  }

  def jobs: Seq[Span] = { import scala.jdk.CollectionConverters._; jobSpans.asScala.toSeq }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt).getOrElse(-1)

  /** Counters of span `span` (-1: work outside every span). */
  def countersOf(span: Int): Counters = counters.synchronized {
    counters.getOrElseUpdate(span, new Counters)
  }

  private def rel(wallMs: Long): Long = (wallMs - wall0) * 1000000L

  if (enabled) {
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = pendingPlans.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = pendingPlans.add(qe)
    })
    sc.addSparkListener(new SparkListener {
      private val jobStart = mutable.Map[Int, (Int, Long)]()
      private val stageSpan = mutable.Map[Int, Int]()
      private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val s = spanOf(e.properties)
        jobStart(e.jobId) = (s, e.time)
        countersOf(s).add("spark.jobs", 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.remove(e.jobId).foreach { case (s, start) =>
          jobSpans.add(Span(-1, s, s"job ${e.jobId}", -1, rel(start), rel(e.time)))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val c = countersOf(stageSpan.getOrElse(e.stageId, -1))
        c.add("spark.tasks", 1)
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          c.add("spark.executor_run_ms", m.executorRunTime.toDouble)
          c.add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
          c.add("spark.gc_ms", m.jvmGCTime.toDouble)
          c.add("exchange.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          c.add("exchange.shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          c.add("exchange.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          c.add("exchange.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          c.add("exchange.spill_bytes", m.diskBytesSpilled.toDouble)
          c.add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
          c.add("sources.input_records", m.inputMetrics.recordsRead.toDouble)
          c.add("ops.peak_exec_memory_mb_max", m.peakExecutionMemory / 1048576.0)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val id = e.stageInfo.stageId
        val c = countersOf(stageSpan.remove(id).getOrElse(-1))
        c.add("spark.stages", 1)
        stageTasks.remove(id).filter(_.size >= 2).foreach { d =>
          val sorted = d.sorted
          val median = sorted(sorted.size / 2).toDouble
          c.add("spark.stage_skew_max", sorted.last / math.max(median, 1.0))
        }
      }
    })
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** What an executed plan tells each layer. */
object Plans {

  /** Every node of an executed plan, descending through adaptive
    * wrappers, query stages and subqueries. Reused exchanges are left
    * out: they do no new work. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private val filesKept = "files=(\\d+)/".r

  /** True for an expression evaluated by a `graft.functions` kernel. */
  def isKernel(n: SparkPlan): Boolean =
    n.expressions.exists(_.exists(_.getClass.getName.startsWith("graft.functions.")))

  def record(qe: QueryExecution, c: Counters): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      if (Set("analysis", "optimization", "planning")(phase)) c.add(s"plans.${phase}_ms", s.durationMs.toDouble)
    }
    val all = try nodes(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => Nil }
    // report queries are observed (their row counts are checked); run.py
    // counts these only inside report spans, where no other plan is observed
    val report = all.exists(_.isInstanceOf[CollectMetricsExec])
    if (report) c.add("sql.report_plans", 1)
    all.foreach { n =>
      def metric(k: String): Double = n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      n match {
        case _: ShuffleExchangeLike => c.add("exchange.count", 1)
        case _: BroadcastExchangeLike =>
          c.add("exchange.count", 1)
          c.add("exchange.broadcast_bytes", metric("dataSize"))
        case f: FileSourceScanExec =>
          c.add("sources.files_read", metric("numFiles"))
          c.add("sources.rows_emitted", metric("numOutputRows"))
          if (report && f.relation.location.rootPaths.exists(_.toString.contains("fact_"))) c.add("sql.fact_scans", 1)
        case b: BatchScanExec =>
          val desc = b.scan.description()
          c.add("sources.files_read", filesKept.findFirstMatchIn(desc).map(_.group(1).toDouble).getOrElse(0.0))
          c.add("sources.rows_emitted", metric("numOutputRows"))
          if (report && b.table.name().contains("fact_")) c.add("sql.fact_scans", 1)
        case _: GenerateExec => c.add("functions.generate_nodes", 1)
        case _ =>
      }
      if (isKernel(n)) c.add("functions.kernel_nodes", 1)
    }
  }
}
