package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is -1 for a root: an operation of the
  * workload, or a probe the traced run makes between operations.
  */
final case class Span(id: Int, parent: Int, root: Int, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What Spark reported while one root span ran. */
final class SparkWork {
  val actions = ArrayBuffer.empty[(Long, Long)]
  val jobs = ArrayBuffer.empty[(Long, Long)]
  /** analysis, optimization and planning ms of each action */
  val phases = ArrayBuffer.empty[(Long, Long, Long)]
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
}

final case class Batch(durationMs: Long, stateRows: Long)

/** Spans around the calls the benchmark makes into each layer, plus Spark's
  * own job, stage, task and SQL-execution events, all held in memory and
  * written when the run ends. With tracing off nothing is registered and
  * every wrapper is a plain call.
  */
final class Tracer(spark: SparkSession) {
  /** Whether spans and Spark events are being recorded right now. */
  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  val work = scala.collection.mutable.LinkedHashMap.empty[Int, SparkWork]
  val batches = ArrayBuffer.empty[Batch]
  private var nextId = 0
  private var stack: List[(Int, Int)] = Nil // (span id, root id)
  private var cur = new SparkWork
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  // Spark stamps events in epoch ms; spans use nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s =>
        Tracer.this.synchronized(cur.jobs += ((ns(s), ns(e.time)))))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized(cur.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      cur.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        cur.runMs += m.executorRunTime
        cur.cpuNs += m.executorCpuTime
        cur.gcMs += m.jvmGCTime
        cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        cur.bytesRead += m.inputMetrics.bytesRead
        cur.recordsRead += m.inputMetrics.recordsRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        execStarts.put(s.executionId, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        Option(execStarts.remove(x.executionId)).foreach(s =>
          Tracer.this.synchronized(cur.actions += ((ns(s), ns(x.time)))))
      case _ =>
    }
  }

  /** Planning phases of every action, from the query-execution hook. */
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      Tracer.this.synchronized(cur.phases += ((d("analysis"), d("optimization"), d("planning"))))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Tracer.this.synchronized(batches += Batch(
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  /** Starts or stops recording. The listeners are only registered while
    * recording, so untraced operations pay nothing for them.
    */
  def record(on: Boolean): Unit = if (on != enabled) {
    drain()
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    enabled = on
  }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** A root span: an operation, or a probe between operations. Spark events
    * delivered while it runs are attributed to it.
    */
  def root[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      drain()
      synchronized { cur = new SparkWork }
      val id = nextId; nextId += 1
      stack = List((id, id))
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = Nil
        drain()
        spans += Span(id, -1, id, layer, name, t0, t1)
        synchronized { work(id) = cur; cur = new SparkWork }
      }
    }

  /** A span inside the current root, around one call into `layer`. */
  def span[T](layer: String, name: String)(f: => T): T = stack match {
    case (parent, root) :: _ if enabled =>
      val id = nextId; nextId += 1
      stack = (id, root) :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, root, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    case _ => f
  }

  def rootSpans: Seq[Span] = spans.filter(_.parent < 0).toSeq

  /** Every span of `root`, Spark's actions and jobs included, each with its
    * parent: the shortest span that contains its start.
    */
  def tree(root: Span): Seq[Span] = {
    val w = work.getOrElse(root.id, new SparkWork)
    val mine = spans.filter(s => s.root == root.id && s.parent >= 0)
    val spark = w.actions.map { case (a, b) => ("spark.driver", "action", a, b) } ++
      w.jobs.map { case (a, b) => ("spark.exec", "job", a, b) }
    val all = ArrayBuffer.empty[Span]
    all += root
    all ++= mine
    var id = -2
    spark.foreach { case (layer, name, a, b) =>
      val cands = all.filter(c => c.startNs <= a && a < c.endNs &&
        c.name != "job" && !(c.name == "action" && name == "action"))
      // Spark's ms stamps may fall just outside the root: clamp to it
      val p = if (cands.isEmpty) root else cands.minBy(c => c.endNs - c.startNs)
      all += Span(id, p.id, root.id, layer, name, a, math.max(a, b))
      id -= 1
    }
    all.toSeq
  }

  /** Self time per layer within one root: each span's duration minus the
    * part of it its children cover.
    */
  def selfMs(root: Span): Map[String, Double] = {
    val all = tree(root)
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Tracer.unionNs(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.layer -> math.max(0.0, (s.endNs - s.startNs - covered) / 1e6)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** All spans as JSON lines, times in microseconds from the first span. */
  def writeSpans(path: java.nio.file.Path): Int = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = rootSpans.flatMap(tree).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.root},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
    lines.size
  }
}

object Tracer {
  /** Total length covered by a set of intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}
