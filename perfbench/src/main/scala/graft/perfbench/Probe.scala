package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span name: jobs, stages and task metrics. */
final class ExecAgg {
  val jobs, stages, tasks, runMs, cpuNs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, outputBytes, peakExecMem = new AtomicLong
}

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at the top level).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark's tracer. With `enabled` false every span is a plain
  * call: no listener work, no local property, nothing recorded.
  *
  * With it on, a SparkListener and a QueryExecutionListener (both
  * registered by the benchmark, observing the engine from outside)
  * attribute job, stage and task metrics to the innermost active span
  * through the `perfbench.span` local property, set around each call.
  * Spans stay in memory and are written when the run ends.
  */
final class Probe(spark: SparkSession) {
  private val on = new AtomicBoolean(false)
  private val SpanProp = "perfbench.span"
  val global = new ExecAgg
  private val bySpan = new ConcurrentHashMap[String, ExecAgg]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val analysisMs, optimizationMs, planningMs = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val t0 = System.nanoTime()

  def enabled: Boolean = on.get()
  def setEnabled(v: Boolean): Unit = on.set(v)

  private def agg(span: String): ExecAgg =
    bySpan.computeIfAbsent(if (span == null) "" else span, _ => new ExecAgg)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on.get()) {
      val span = Option(e.properties).map(_.getProperty(SpanProp)).orNull
      global.jobs.incrementAndGet(); agg(span).jobs.incrementAndGet()
      e.stageInfos.foreach(s => stageSpan.put(s.stageId, if (span == null) "" else span))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on.get()) {
      global.stages.incrementAndGet()
      agg(stageSpan.get(e.stageInfo.stageId)).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on.get() && e.taskMetrics != null) {
      val m = e.taskMetrics
      Seq(global, agg(stageSpan.get(e.stageId))).foreach { a =>
        a.tasks.incrementAndGet()
        a.runMs.addAndGet(m.executorRunTime)
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        a.peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = if (on.get()) {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      analysisMs.addAndGet(ms("analysis"))
      optimizationMs.addAndGet(ms("optimization"))
      planningMs.addAndGet(ms("planning"))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Times `body` as a span named `name` when tracing is on. */
  def span[T](name: String)(body: => T): T =
    if (!on.get()) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(SpanProp)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, name)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
        spans += Span(id, parent, name, start - t0, end - t0)
      }
    }

  /** Waits until the listener bus has delivered every queued event. */
  def flush(): Unit = org.apache.spark.sql.graft.ListenerFlush.flush(spark)

  /** Exact count of whole-stage and expression classes compiled so far:
    * the count of CodegenMetrics' compile-time histogram (its sampled
    * times are not used).
    */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def recorded: Seq[Span] = spans.toSeq.sortBy(_.startNs)
  def execFor(span: String): ExecAgg = agg(span)

  /** Total seconds spent in spans named `name`. */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Per span name: total time and self time (time not covered by child spans). */
  def selfTimes: Seq[(String, Double, Double)] = {
    val childTime = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(_.seconds).sum, ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum)
    }.sortBy(-_._2)
  }
}
