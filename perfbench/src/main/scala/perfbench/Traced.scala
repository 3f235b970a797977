package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.GraftSystem
import graft.engine.cdc.{ControlPlane, InMemoryControlPlane, Initializer}
import graft.engine.model.{Ccd, Status}
import graft.engine.streaming.ControlStream
import graft.engine.topics.{FileTopicStore, TopicStore}

/** The CDC entry points the workloads drive, so the same workload code
  * runs over the program's own [[GraftSystem]] and over the traced
  * assembly below. */
trait CdcSystem {
  def topics: TopicStore
  def submit(table: String, queue: String, queueTable: String): Unit
  def runOnce(): Unit
  def controlState(): DataFrame
  def start(): Seq[(Ccd, Seq[Ccd])]
}

object CdcSystem {
  val ControlTopic = "cdc-control"

  /** Untraced: the program's public [[GraftSystem]], unchanged. */
  def plain(spark: SparkSession, root: String, seedView: String => Option[DataFrame]): CdcSystem = {
    val sys = new GraftSystem(spark, root, ControlTopic, seedView)
    new CdcSystem {
      def topics: TopicStore = sys.topics
      def submit(table: String, queue: String, queueTable: String): Unit =
        sys.submit(table, queue, queueTable)
      def runOnce(): Unit = sys.runOnce()
      def controlState(): DataFrame = sys.controlState()
      def start(): Seq[(Ccd, Seq[Ccd])] = sys.start()
    }
  }

  /** Traced: the same components as [[GraftSystem]] (file topic store
    * with one partition, in-memory plane, initializer, streaming tail on
    * `root/__checkpoint`), each behind a timing decorator. */
  def traced(spark: SparkSession, root: String, seedView: String => Option[DataFrame]): CdcSystem =
    new TracedSystem(spark, root, seedView)
}

/** Times every [[TopicStore]] call. Appends are split by topic: the
  * control topic versus seed topics. */
final class TracedTopicStore(inner: TopicStore, controlTopic: String) extends TopicStore {
  def exists(topic: String): Boolean = Trace.span("topics.exists")(inner.exists(topic))
  def create(topic: String): Unit = Trace.span("topics.create")(inner.create(topic))
  def clear(topic: String): Unit = Trace.span("topics.clear")(inner.clear(topic))
  def delete(topic: String): Unit = Trace.span("topics.delete")(inner.delete(topic))
  def append(topic: String, kv: DataFrame): Unit =
    Trace.span(if (topic == controlTopic) "topics.append_control" else "topics.append_seed")(
      inner.append(topic, kv))
  def readAll(topic: String): DataFrame = Trace.span("topics.read_all")(inner.readAll(topic))
  def readCompacted(topic: String): DataFrame =
    Trace.span("topics.read_compacted")(inner.readCompacted(topic))
  def readStream(topic: String): DataFrame = Trace.span("topics.read_stream")(inner.readStream(topic))
}

/** Times every [[ControlPlane]] call. */
final class TracedPlane(inner: ControlPlane) extends ControlPlane {
  private def t[T](op: String)(body: => T): T = Trace.span(s"plane.$op")(body)
  def triggerExists(table: String): Boolean = t("trigger_exists")(inner.triggerExists(table))
  def createTrigger(table: String, queue: String, queueTable: String): Unit =
    t("create_trigger")(inner.createTrigger(table, queue, queueTable))
  def enableTrigger(table: String): Unit = t("enable_trigger")(inner.enableTrigger(table))
  def disableTrigger(table: String): Unit = t("disable_trigger")(inner.disableTrigger(table))
  def triggerEnabled(table: String): Boolean = t("trigger_enabled")(inner.triggerEnabled(table))
  def queueExists(queue: String): Boolean = t("queue_exists")(inner.queueExists(queue))
  def createQueue(queue: String, queueTable: String): Unit =
    t("create_queue")(inner.createQueue(queue, queueTable))
  def clearQueue(queue: String): Unit = t("clear_queue")(inner.clearQueue(queue))
}

/** Times the initializer's public steps. `process` reaches `recheck`,
  * `prepare`, `initialize` and `publishAll` through virtual calls, so
  * each step shows as a child span of `init.process`. */
final class TracedInitializer(spark: SparkSession, plane: ControlPlane, topics: TopicStore,
    controlTopic: String, seedView: String => Option[DataFrame])
  extends Initializer(spark, plane, topics, controlTopic, seedView) {

  @volatile var statesPublished = 0L

  override def process(ccd: Ccd): Seq[Ccd] = Trace.span("init.process")(super.process(ccd))
  override def currentStatus(table: String): Option[String] =
    Trace.span("init.recheck")(super.currentStatus(table))
  override def prepare(ccd: Ccd): Seq[Ccd] = Trace.span("init.prepare")(super.prepare(ccd))
  override def initialize(ccd: Ccd): Seq[Ccd] = Trace.span("init.initialize")(super.initialize(ccd))
  override def publishAll(ccds: Seq[Ccd]): Unit = Trace.span("init.publish") {
    statesPublished += ccds.size
    super.publishAll(ccds)
  }
  override def decodeCcds(df: DataFrame): Seq[Ccd] = Trace.span("init.decode")(super.decodeCcds(df))
  override def runBacklog(): Seq[(Ccd, Seq[Ccd])] = Trace.span("init.backlog")(super.runBacklog())
}

/** The [[GraftSystem]] assembly with every component decorated; the
  * entry points mirror [[GraftSystem]]'s one for one. */
final class TracedSystem(spark: SparkSession, root: String, seedView: String => Option[DataFrame])
  extends CdcSystem {
  private val controlTopic = CdcSystem.ControlTopic
  val topics: TopicStore = new TracedTopicStore(
    new FileTopicStore(spark, root, dirtyRatioExempt = Set(controlTopic)), controlTopic)
  val initializer: TracedInitializer = new TracedInitializer(spark,
    new TracedPlane(new InMemoryControlPlane()), topics, controlTopic,
    table => Trace.span("seed.view")(seedView(table)))
  private val checkpointDir = {
    val d = Paths.get(root, "__checkpoint")
    Files.createDirectories(d)
    d.toString
  }

  def submit(table: String, queue: String, queueTable: String): Unit =
    Trace.span("system.submit") {
      if (!topics.exists(controlTopic)) topics.create(controlTopic)
      initializer.publish(Ccd(table, queue, queueTable, None, Status.Submitted,
        new Timestamp(System.currentTimeMillis())))
    }
  def runOnce(): Unit = Trace.span("system.run_once") {
    ControlStream.runSubmissions(topics, controlTopic, initializer, checkpointDir)
  }
  def controlState(): DataFrame = Trace.span("system.control_state") {
    if (!topics.exists(controlTopic)) topics.create(controlTopic)
    topics.readCompacted(controlTopic)
  }
  def start(): Seq[(Ccd, Seq[Ccd])] = Trace.span("system.restart")(initializer.runBacklog())
}
