package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer. `op` ties the spans of one pass or
  * one refresh together; `parent` is the enclosing span's id (0 = root).
  */
final case class Span(id: Int, parent: Int, name: String, op: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are kept until the run ends and written
  * out then, so recording costs one allocation per call. When `on` is
  * false `span` runs the body and records nothing.
  */
final class Tracer {
  var on = false
  var op = ""
  private var nextId = 1
  private var stack: List[Int] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val spanOp = op
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, spanOp, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Counters the benchmark's own listeners accumulate. Read them through
  * [[Listeners.window]], which drains the listener bus first.
  */
final class Counters {
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val batchMs = mutable.ArrayBuffer.empty[Double]
  def add(k: String, v: Double): Unit = c(k) += v
  def max(k: String, v: Double): Unit = c(k) = math.max(c(k), v)
  def snapshot(): Map[String, Double] = c.toMap
}

/** SparkListener + QueryExecutionListener + StreamingQueryListener that feed
  * [[Counters]]. Registered only in the traced run.
  */
final class Listeners(spark: SparkSession) {
  val counters = new Counters
  @volatile var on = true

  private def scanAndWrite(plan: SparkPlan): Unit = {
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec =>
        counters.add("scan_files", s.metrics.get("numFiles").map(_.value).getOrElse(0L).toDouble)
        counters.add("scan_rows", s.metrics.get("numOutputRows").map(_.value).getOrElse(0L).toDouble)
        // task time of the columnar (vectorized) reader; a row-based scan has no such metric
        counters.add("scan_ms", s.metrics.get("scanTime").map(_.value).getOrElse(0L).toDouble)
      case w: DataWritingCommandExec =>
        counters.add("write_files", w.metrics.get("numFiles").map(_.value).getOrElse(0L).toDouble)
        counters.add("write_bytes", w.metrics.get("numOutputBytes").map(_.value).getOrElse(0L).toDouble)
        w.children.foreach(walk)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
  }

  private def onQuery(qe: QueryExecution, durationNs: Long): Unit = if (on) {
    counters.synchronized {
      counters.add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      counters.add("action_ms", durationNs / 1e6)
      scanAndWrite(qe.executedPlan)
    }
  }

  val qel: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      onQuery(qe, durationNs)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val sl: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) counters.synchronized(counters.add("jobs", 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) counters.synchronized(counters.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      counters.synchronized {
        counters.add("tasks", 1)
        counters.add("task_ms", m.executorRunTime.toDouble)
        counters.add("gc_ms", m.jvmGCTime.toDouble)
        counters.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        counters.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  val sql: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      counters.synchronized {
        counters.add("stream_batches", 1)
        Option(p.durationMs.get("triggerExecution")).foreach(v => counters.batchMs += v.toDouble)
        counters.add("state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        counters.max("state_bytes_max", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
      }
    }
  }

  def register(): Unit = {
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    spark.streams.addListener(sql)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Run `body` and return the counter deltas it caused. The bus drains
    * are spans of their own, so a pass's span tree still covers its wall.
    */
  def window[T](tracer: Tracer)(body: => T): (T, Map[String, Double]) = {
    tracer.span("trace.drain")(drain())
    val before = counters.synchronized(counters.snapshot())
    val r = body
    tracer.span("trace.drain")(drain())
    val after = counters.synchronized(counters.snapshot())
    (r, after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
  }
}
