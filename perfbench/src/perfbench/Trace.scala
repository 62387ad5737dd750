package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark work caused by one span (its own, children excluded). */
final class Work {
  var jobs, tasks, failedTasks, runMs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill, outputBytes, rowsRead = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; waitMs += o.waitMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; outputBytes += o.outputBytes
    rowsRead += o.rowsRead
  }
}

final case class Span(id: Int, name: String, tag: String, parent: Int, startNs: Long) {
  var endNs = 0L
  /** Values the caller attaches (result rows, bytes written, ...). */
  val attrs = mutable.Map.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records a span around each call the benchmark makes into a layer of
  * the program, and the Spark jobs, tasks and scanned rows each span
  * caused. Jobs are tied to the innermost open span through a Spark
  * local property, which Spark carries onto the threads it starts for a
  * query. Disabled, `span` only runs its body and no listener is
  * registered, so untraced runs pay nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val ExecKey = "spark.sql.execution.id"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  // written by the listener thread, read once the bus is drained
  private val own = mutable.Map.empty[Int, Work]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val execRows = mutable.ArrayBuffer.empty[(Long, Long)]

  private def work(span: Int): Work = own.getOrElseUpdate(span, new Work)
  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val sp = prop(e.properties, SpanKey).map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, sp))
      prop(e.properties, ExecKey).foreach(x => execSpan.getOrElseUpdate(x.toLong, sp))
      work(sp).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
      }
    // rows each finished SQL execution read from cached tables and files
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(PerfbenchAccess.query(end)).foreach { qe =>
          val rows = scans(qe.executedPlan).map(_.metrics.get("numOutputRows").fold(0L)(_.value)).sum
          Tracer.this.synchronized(execRows += ((end.executionId, rows)))
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val w = work(stageSpan.getOrElse(e.stageId, -1))
      w.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) w.failedTasks += 1
      stageSubmit.get(e.stageId).foreach(s => w.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        w.runMs += m.executorRunTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case _: ReusedExchangeExec => Nil
    case s: InMemoryTableScanExec => Seq(s)
    case s: FileSourceScanExec => Seq(s)
    case o => (o.children ++ o.subqueries).flatMap(scans)
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val sp = Span(spans.size, name, tag, open.headOption.fold(-1)(_.id), System.nanoTime())
      spans += sp
      open = sp :: open
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, sp.id.toString)
      try body
      finally {
        sp.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Attach a value to the innermost open span. */
  def attr(k: String, v: Double): Unit = if (enabled) open.head.attrs(k) = v

  private lazy val inclusive: Map[Int, Work] = {
    PerfbenchAccess.drain(spark.sparkContext)
    synchronized {
      execRows.foreach { case (ex, rows) =>
        execSpan.get(ex).foreach(sp => work(sp).rowsRead += rows)
      }
      val acc = spans.map(s => s.id -> new Work).toMap
      // children have larger ids than their parents: fold bottom-up
      spans.reverseIterator.foreach { s =>
        own.get(s.id).foreach(acc(s.id).add)
        if (s.parent >= 0) acc(s.parent).add(acc(s.id))
      }
      acc
    }
  }

  /** Spark work of `s` and everything under it. */
  def work(s: Span): Work = inclusive(s.id)

  def named(name: String, tag: String = null): Seq[Span] =
    spans.toSeq.filter(s => s.name == name && (tag == null || s.tag == tag))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
