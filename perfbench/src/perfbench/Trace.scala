package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Layer record of one op: self milliseconds per layer span, and counts
  * taken at the same boundaries. */
final class OpTrace(val kind: String) {
  val selfMs = mutable.LinkedHashMap.empty[String, Double]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  var totalMs = 0.0
  def addSelf(layer: String, ms: Double): Unit =
    selfMs(layer) = selfMs.getOrElse(layer, 0.0) + ms
  def addCount(name: String, v: Double): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + v
}

/** Spans around the benchmark's calls into each layer. The untraced run
  * uses [[Trace.Off]]: the same calls with no spans and no listeners. */
sealed trait Trace {
  def span[T](layer: String)(body: => T): T
  /** Materialize every column of `df` through the `noop` sink. */
  def sink(df: DataFrame): Unit
  def count(name: String, v: Double): Unit
  def beginOp(kind: String): Unit
  def endOp(): Unit
}

object Trace {
  def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  object Off extends Trace {
    def span[T](layer: String)(body: => T): T = body
    def sink(df: DataFrame): Unit = noopWrite(df)
    def count(name: String, v: Double): Unit = ()
    def beginOp(kind: String): Unit = ()
    def endOp(): Unit = ()
  }

  /** Per-op accumulators filled on the listener-bus thread. The main
    * thread drains the bus before it swaps or reads them. */
  private final class Acc {
    var jobs, buildJobs, stages, tasks = 0L
    var taskMsSum, rowsRead, bytesWritten = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    val qes = mutable.ArrayBuffer.empty[QueryExecution]
  }

  final class On(spark: SparkSession) extends Trace {
    private val sc = spark.sparkContext
    private val SpanProp = "perfbench.span"
    @volatile private var acc = new Acc
    val ops = mutable.ArrayBuffer.empty[OpTrace]
    private var cur: OpTrace = _
    private var opStart = 0L
    private var gcStart = 0L
    private final class Frame(val layer: String) { var childNs = 0L }
    private var stack: List[Frame] = Nil
    private var lastClosed: String = _

    private val taskListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        acc.jobs += 1
        val layer = Option(e.properties).map(_.getProperty(SpanProp)).orNull
        if (layer != null && layer != "sink") acc.buildJobs += 1
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        acc.stages += 1
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val a = acc
        a.tasks += 1
        a.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.taskMsSum += m.executorRunTime
          a.rowsRead += m.inputMetrics.recordsRead
          a.bytesWritten += m.outputMetrics.bytesWritten
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    private val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        acc.qes += qe
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    sc.addSparkListener(taskListener)
    spark.listenerManager.register(qeListener)

    private def gcMs(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum

    def beginOp(kind: String): Unit = {
      PerfbenchBridge.drain(sc)
      acc = new Acc
      cur = new OpTrace(kind)
      stack = List(new Frame("op"))
      lastClosed = null
      gcStart = gcMs()
      opStart = System.nanoTime()
    }

    def span[T](layer: String)(body: => T): T = {
      val f = new Frame(layer)
      stack = f :: stack
      sc.setLocalProperty(SpanProp, layer)
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.head.layer)
        stack.head.childNs += dur
        cur.addSelf(layer, (dur - f.childNs) / 1e6)
        lastClosed = layer
      }
    }

    /** The sink's planner phases come from the trackers of the query
      * executions it ran; its remaining self time is execution. The
      * analysis of `df` itself ran eagerly inside the span that built it,
      * so it moves from that span to `spark.analysis`. */
    def sink(df: DataFrame): Unit = {
      val analysisMs = df.queryExecution.tracker.phases
        .get(QueryPlanningTracker.ANALYSIS).fold(0.0)(_.durationMs.toDouble)
      if (lastClosed != null) cur.addSelf(lastClosed, -analysisMs)
      cur.addSelf("spark.analysis", analysisMs)
      PerfbenchBridge.drain(sc)
      acc.qes.clear()
      sc.setLocalProperty(SpanProp, "sink")
      val t0 = System.nanoTime()
      noopWrite(df)
      val dur = System.nanoTime() - t0
      sc.setLocalProperty(SpanProp, stack.head.layer)
      PerfbenchBridge.drain(sc)
      var phasesMs = 0.0
      for (qe <- acc.qes) {
        for ((phase, s) <- qe.tracker.phases) {
          cur.addSelf(s"spark.$phase", s.durationMs.toDouble)
          phasesMs += s.durationMs
        }
        rowsOut(qe.executedPlan).foreach(cur.addCount("exec.rows_out", _))
      }
      acc.qes.clear()
      stack.head.childNs += dur
      cur.addSelf("exec.execute", dur / 1e6 - phasesMs)
    }

    /** Rows the sink received: the output-row metric of the topmost
      * node that has one, below nodes that keep the row count. */
    private def rowsOut(p: SparkPlan): Option[Double] = p match {
      case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
      case q: QueryStageExec => rowsOut(q.plan)
      case w: V2TableWriteExec => rowsOut(w.query)
      case _ if p.metrics.contains("numOutputRows") =>
        Some(p.metrics("numOutputRows").value.toDouble)
      case _ if p.children.size == 1 => rowsOut(p.children.head)
      case _ => None
    }

    def count(name: String, v: Double): Unit = cur.addCount(name, v)

    def endOp(): Unit = {
      val dur = System.nanoTime() - opStart
      PerfbenchBridge.drain(sc)
      cur.totalMs = dur / 1e6
      cur.addSelf("op.glue", (dur - stack.head.childNs) / 1e6)
      val a = acc
      cur.addCount("exec.jobs", a.jobs)
      cur.addCount("graft.build_jobs", a.buildJobs)
      cur.addCount("exec.stages", a.stages)
      cur.addCount("exec.tasks", a.tasks)
      cur.addCount("exec.task_ms_sum", a.taskMsSum)
      cur.addCount("exec.rows_read", a.rowsRead)
      cur.addCount("exec.bytes_written", a.bytesWritten)
      cur.addCount("exec.shuffle_write_bytes", a.shuffleWrite)
      cur.addCount("exec.shuffle_read_bytes", a.shuffleRead)
      cur.addCount("exec.spill_bytes", a.spill)
      val sorted = a.taskMs.sorted
      if (sorted.nonEmpty)
        cur.addCount("exec.task_skew",
          sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L))
      cur.addCount("jvm.gc_ms", (gcMs() - gcStart).toDouble)
      ops += cur
    }

    def close(): Unit = {
      PerfbenchBridge.drain(sc)
      sc.removeSparkListener(taskListener)
      spark.listenerManager.unregister(qeListener)
    }
  }
}
