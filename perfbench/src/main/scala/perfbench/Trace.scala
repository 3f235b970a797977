package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. `parent` is 0 for a top-level span. */
final case class Span(id: Long, name: String, parent: Long, run: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class SqlTotals(actions: Long, analyze: Double, optimize: Double, plan: Double)

/** Spark task totals attributed to one span. */
final class Tally {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L

  def add(o: Tally): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; delayMs += o.delayMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input
  }
}

/** In-memory span recorder for one traced run.
  *
  * Spans nest per thread. The open-span stack is inheritable, so the
  * streaming query thread that `runOnce` starts sees the `runOnce` span
  * as its parent. Every span also sets the Spark local property
  * [[Recorder.SpanProp]], so each job is attributed to the innermost
  * span open on the thread that submitted it, the `foreachBatch`
  * thread included. Spark events arrive on the listener bus and are
  * folded into per-span [[Tally]]s.
  */
final class Recorder(val run: String, spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new InheritableThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val open = stack.get
    val prev = sc.getLocalProperty(Recorder.SpanProp)
    stack.set(id :: open)
    sc.setLocalProperty(Recorder.SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, name, open.headOption.getOrElse(0L), run, t0, System.nanoTime()))
      stack.set(open)
      sc.setLocalProperty(Recorder.SpanProp, prev)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  // ---- Spark-side attribution (listener bus thread) ----
  private val stageSpan = TrieMap.empty[Int, Long]
  val tallies: TrieMap[Long, Tally] = TrieMap.empty
  @volatile var batches = 0L
  private var sqlActions = 0L
  private var analyzeNs, optimizeNs, planNs = 0L

  private def tally(span: Long): Tally = tallies.getOrElseUpdate(span, new Tally)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanProp)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(stageSpan(_) = span)
      tally(span).synchronized { tally(span).jobs += 1 }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val t = tally(stageSpan.getOrElse(e.stageInfo.stageId, 0L))
      t.synchronized { t.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = tally(stageSpan.getOrElse(e.stageId, 0L))
      val m = e.taskMetrics
      val info = e.taskInfo
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          val gettingResult =
            if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
          t.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.diskBytesSpilled
          t.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { batches += 1 }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPhases(qe.tracker)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      addPhases(qe.tracker)
  }

  /** Fold one action's Catalyst phase times in. Actions that bypass the
    * Dataset API (`queryExecution.toRdd`) are added by their caller. */
  def addPhases(tracker: QueryPlanningTracker): Unit = synchronized {
    def ns(phase: String) = tracker.phases.get(phase).map(p => p.durationMs * 1000000L).getOrElse(0L)
    sqlActions += 1
    analyzeNs += ns(QueryPlanningTracker.ANALYSIS)
    optimizeNs += ns(QueryPlanningTracker.OPTIMIZATION)
    planNs += ns(QueryPlanningTracker.PLANNING)
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(sqlListener)
  }

  /** Block until every Spark event posted so far has been folded in. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Catalyst totals so far: actions and analysis, optimization and
    * planning seconds. Call [[drain]] first. */
  def sqlTotals: SqlTotals =
    synchronized(SqlTotals(sqlActions, analyzeNs / 1e9, optimizeNs / 1e9, planNs / 1e9))

  /** Wait for every posted Spark event, then stop listening. */
  def detach(): Unit = {
    drain()
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
    sc.removeSparkListener(sparkListener)
  }

  /** One JSON object per span, one per line. */
  def writeTo(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Recorder {
  val SpanProp = "perfbench.span"
}

/** The active recorder, if the run is traced. Decorators call
  * [[Trace.span]], which is a plain call when tracing is off. */
object Trace {
  @volatile var current: Option[Recorder] = None

  def span[T](name: String)(body: => T): T = current match {
    case Some(r) => r.span(name)(body)
    case None => body
  }
}

/** Aggregates over a finished span set. */
final class SpanTree(spans: Seq[Span], tallies: collection.Map[Long, Tally]) {
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def topLevel: Seq[Span] = children.getOrElse(0L, Nil)
  def total(name: String): Double = named(name).map(_.seconds).sum
  def count(name: String): Long = named(name).size.toLong
  def prefixTotal(prefix: String): Double = spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum
  def prefixCount(prefix: String): Long = spans.count(_.name.startsWith(prefix)).toLong

  /** Span time minus the time of its direct children. */
  def selfTime(name: String): Double =
    named(name).map(s => s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum).sum

  /** Spark work submitted inside the span or any of its descendants. */
  def subtree(s: Span): Tally = {
    val t = new Tally
    def walk(x: Span): Unit = {
      tallies.get(x.id).foreach(t.add)
      children.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    t
  }

  def subtree(name: String): Tally = {
    val t = new Tally
    named(name).foreach(s => t.add(subtree(s)))
    t
  }
}
