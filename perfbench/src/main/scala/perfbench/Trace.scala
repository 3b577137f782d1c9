package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer boundary: a named interval and the span that caused it.
  * `aside` marks benchmark work (a duplicate call, a probe) that the
  * engine-wide figures leave out; `gcMs` is the JVM's GC time inside it. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    aside: Boolean, gcMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-level totals of the jobs one span (job group) started. */
final class TaskTotals {
  var jobs, tasks, runMs, delayMs, shuffleWrite, spill, resultBytes = 0L
}

/** In-memory tracer for the benchmark's traced runs.
  *
  * Each span sets its own Spark job group, so a `SparkListener` can charge
  * every task to the layer that caused it; a `QueryExecutionListener`
  * keeps each span's executed plans for their SQL metrics; a
  * `StreamingQueryListener` keeps micro-batch progress. Spans stay in
  * memory until [[writeSpans]] at the end of the run.
  *
  * The engine-wide figures ([[workload]]) count only the jobs of top-level
  * spans not set aside, so the benchmark's own warm-up, checks and probes
  * stay out of them.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  private val totals = mutable.Map.empty[String, TaskTotals]
  private val stageGroup = mutable.Map.empty[Int, String]
  /** a job group set by another thread (a streaming query's run id) ->
    * the open span its jobs are charged to */
  private val adopted = mutable.Map.empty[String, String]
  private val executions = mutable.ArrayBuffer.empty[QueryExecution]
  private val plansBySpan = mutable.Map.empty[String, mutable.ArrayBuffer[QueryExecution]]
  val progress = mutable.ArrayBuffer.empty[QueryProgressEvent]

  private def group(g: String): TaskTotals = totals.getOrElseUpdate(g, new TaskTotals)

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val g = adopted.getOrElse(id, id)
      e.stageIds.foreach(stageGroup(_) = g)
      group(g).jobs += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val t = group(stageGroup.getOrElse(e.stageId, ""))
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.diskBytesSpilled
        t.resultBytes += m.resultSize
      }
    }
  }
  private val planListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { executions += qe }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(taskListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)
  private val wallStart = System.nanoTime()

  /** Run `body` as the span `name`, child of the enclosing span. Jobs of
    * the job group `adopt`, set by another thread, are charged to it while
    * it is open. */
  def span[T](name: String, aside: Boolean = false, adopt: Option[String] = None)
      (body: => T): T = {
    BusDrain(sc)
    val mark = synchronized {
      adopt.foreach(adopted(_) = name)
      executions.size
    }
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name) :: stack
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val gc1 = gcMillis()
      stack = stack.tail
      stack.headOption match {
        case Some((_, outer)) => sc.setJobGroup(outer, outer, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, parent, t0, t1, aside, gc1 - gc0)
      BusDrain(sc)
      synchronized {
        adopt.foreach(adopted -= _)
        plansBySpan.getOrElseUpdate(name, mutable.ArrayBuffer.empty) ++=
          executions.slice(mark, executions.size)
      }
    }
  }

  def seconds(name: String): Seq[Double] = spans.filter(_.name == name).map(_.seconds).toSeq
  def tasks(name: String): TaskTotals = synchronized(group(name))
  def plans(name: String): Seq[QueryExecution] =
    synchronized(plansBySpan.getOrElse(name, Nil).toSeq)

  /** Sum of the SQL metric `metric` over every plan node of the span's
    * executions that `pick` selects (AQE stages and subqueries included). */
  def planMetric(name: String, metric: String)(pick: SparkPlan => Boolean): Long =
    plans(name).flatMap(qe => Tracer.nodes(qe.executedPlan)).filter(pick)
      .flatMap(_.metrics.get(metric)).map(_.value).sum

  private def counted: Seq[Span] = spans.filter(s => s.parent < 0 && !s.aside).toSeq

  /** Task totals of the jobs of every top-level span not set aside. */
  def workload: TaskTotals = synchronized {
    val w = new TaskTotals
    counted.map(_.name).distinct.flatMap(totals.get).foreach { t =>
      w.jobs += t.jobs; w.tasks += t.tasks; w.runMs += t.runMs; w.delayMs += t.delayMs
      w.shuffleWrite += t.shuffleWrite; w.spill += t.spill; w.resultBytes += t.resultBytes
    }
    w
  }
  /** wall time inside those spans */
  def workloadSeconds: Double = counted.map(_.seconds).sum
  /** GC time inside those spans */
  def workloadGcSeconds: Double = counted.map(_.gcMs).sum / 1e3

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def close(): Unit = {
    BusDrain(sc)
    sc.removeSparkListener(taskListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans as JSON lines: name, start and end (ns, relative to the
    * tracer's start), and the parent span's id. */
  def writeSpans(path: java.io.File): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs - wallStart},"end_ns":${s.endNs - wallStart}}"""
    }
    java.nio.file.Files.write(path.toPath, lines.asJava)
  }
}

object Tracer {
  /** Every node of an executed plan, through AQE wrappers, query stages
    * and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }
}
