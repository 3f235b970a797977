package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.cdc.{SeedViews, Transforms}
import graft.engine.model.{Ccd, Status}

/** A source table of the committed data set and its seed key. */
final case class Source(name: String, keys: Seq[String])

/** One CCD to bring to `active`: the captured table and its source. */
final case class Capture(table: String, source: Source) {
  private val obj = table.split('.').last
  val queue: String = s"cdc_$obj"
  val queueTable: String = s"mq_$obj"
}

/** Result of one measured pass: operations completed out of those
  * attempted. */
final case class Pass(wall: Double, completed: Long,
    attempted: Long, failed: Long, problems: Seq[String])

/** The two CDC workloads. Both drive [[CdcSystem]] through its public
  * entry points only: `submit`, `runOnce`, `controlState`, `start`.
  *
  *  - `cdc_seed`: submit two large tables, one `runOnce` seeds both.
  *  - `cdc_control`: closed loop of small-table lifecycles; every table
  *    is submitted twice, and the second submit re-prepares (trigger
  *    disable, queue clear, topic clear) and re-seeds.
  */
final class Cdc(spark: SparkSession, dataDir: String, workDir: Path) {
  import Cdc._

  private val sourceRows = collection.concurrent.TrieMap.empty[String, Long]
  def rowsOf(s: Source): Long =
    sourceRows.getOrElseUpdate(s.name, spark.read.parquet(parquet(s)).count())

  def parquet(s: Source): String = s"$dataDir/${s.name}.parquet"

  def seedView(plan: Seq[Capture]): String => Option[DataFrame] = {
    val byTable = plan.map(c => c.table -> c.source).toMap
    table => byTable.get(table).map(s =>
      SeedViews.forTable(spark.read.parquet(parquet(s)), table, s.keys))
  }

  private var rootSeq = 0
  def freshRoot(tag: String): String = {
    rootSeq += 1
    val d = workDir.resolve(f"$tag-$rootSeq%03d")
    Files.createDirectories(d)
    d.toString
  }

  /** Compacted status of one CCD key, as a client polls it. */
  def statusOf(sys: CdcSystem, table: String): Option[String] =
    Trace.span("client.poll_status") {
      sys.controlState().filter(col("key") === table)
        .select(get_json_object(col("value"), "$.status")).collect()
        .headOption.flatMap(r => Option(r.getString(0)))
    }

  /** Run `submitted` lifecycles in `order` (a table may repeat). Each
    * group of CCDs is submitted, then `runOnce` runs and the client
    * polls their status, until all are active. */
  def lifecycles(sys: CdcSystem, order: Seq[Seq[Capture]]): Pass = {
    val t0 = System.nanoTime()
    var completed, failed = 0L
    val problems = Seq.newBuilder[String]
    order.foreach { group =>
      try {
        group.foreach(c => sys.submit(c.table, c.queue, c.queueTable))
        var pending = group.map(_.table)
        var rounds = 0
        while (pending.nonEmpty && rounds < MaxRunOnce) {
          sys.runOnce()
          rounds += 1
          pending = pending.filterNot(t => statusOf(sys, t).contains(Status.Active))
        }
        completed += group.size - pending.size
        if (pending.nonEmpty) {
          failed += pending.size
          problems += s"not active after $rounds runOnce: ${pending.mkString(",")}"
        }
      } catch {
        case e: Exception =>
          failed += group.size
          problems += s"${group.map(_.table).mkString(",")}: ${e.getMessage}"
      }
    }
    Pass((System.nanoTime() - t0) / 1e9, completed,
      order.map(_.size).sum.toLong, failed, problems.result())
  }

  /** Output checks over a finished root; returns the problems found.
    *
    *  - every table's compacted control state is `active`;
    *  - every seeding ledger starts at [0,total], is monotone and has at
    *    most 51 states, with total = source rows;
    *  - each seed topic holds exactly the source rows: its full log and
    *    its compacted key set both count the source rows, so a re-seed
    *    after `clear` left no duplicates;
    *  - a fresh `start()` over the root resumed nothing (`resumed` is
    *    the number of CCDs it returned).
    * Each problem names its table, or None when it concerns the root. */
  def check(sys: CdcSystem, captures: Seq[Capture], resumed: Int): Seq[(Option[String], String)] = {
    val problems = Seq.newBuilder[(Option[String], String)]
    val tables = captures.distinctBy(_.table)
    val state = sys.controlState()
      .select(col("key"), get_json_object(col("value"), "$.status").as("status"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    tables.foreach { c =>
      if (!state.get(c.table).contains(Status.Active))
        problems += Some(c.table) -> s"${c.table}: compacted state ${state.get(c.table)}"
    }
    val log = sys.topics.readAll(ControlTopic)
      .select(col("key"), col("offset"),
        from_json(col("value"), Ccd.jsonSchema).as("c"))
      .select(col("key"), col("offset"), col("c.status").as("status"),
        col("c.progress").as("progress"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        Option(r.getSeq[Long](3)).map(_.toSeq)))
      .sortBy(_._2)
    val byKey = log.groupBy(_._1)
    tables.foreach { c =>
      val total = rowsOf(c.source)
      val msgs = byKey.getOrElse(c.table, Array.empty).toSeq
      // one ledger per lifecycle: the states after each `submitted`
      val ledgers = msgs.foldLeft(Vector.empty[Vector[Seq[Long]]]) {
        case (acc, (_, _, Status.Submitted, _)) => acc :+ Vector.empty
        case (acc, (_, _, Status.Seeding, Some(p))) if acc.nonEmpty =>
          acc.init :+ (acc.last :+ p)
        case (acc, _) => acc
      }
      if (ledgers.isEmpty || ledgers.exists(_.isEmpty))
        problems += Some(c.table) -> s"${c.table}: a lifecycle without seeding states"
      ledgers.foreach { l =>
        if (l.nonEmpty) {
          if (l.head != Seq(0L, total)) problems += Some(c.table) -> s"${c.table}: ledger starts ${l.head}"
          if (l.size > 51) problems += Some(c.table) -> s"${c.table}: ${l.size} seeding states"
          if (l.exists(p => p.size != 2 || p(1) != total || p(0) > total))
            problems += Some(c.table) -> s"${c.table}: ledger entry off total $total"
          if (l.map(_.head).sliding(2).exists(w => w.size == 2 && w(1) < w(0)))
            problems += Some(c.table) -> s"${c.table}: ledger not monotone"
        }
      }
      val all = sys.topics.readAll(c.queue).count()
      val keys = sys.topics.readCompacted(c.queue).count()
      if (all != total || keys != total)
        problems += Some(c.table) -> s"${c.table}: seed topic has $all messages, $keys keys, source $total"
    }
    if (resumed != 0) problems += None -> s"fresh start() resumed $resumed CCDs"
    problems.result()
  }

  /** The seed path cut into scan and encode, each materialized alone:
    * `SeedViews.forTable`, then the same view through
    * `Transforms.dmlMsgToSeedMsg(seedRowToDmlMsg(_))`. */
  def seedSplit(sources: Seq[Source]): (Double, Double) = {
    def timed(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    sources.distinct.map { s =>
      def view = SeedViews.forTable(spark.read.parquet(parquet(s)), s"tpch.${s.name}", s.keys)
      val scan = Trace.span("seed.scan")(timed(view))
      val both = Trace.span("seed.encode")(
        timed(Transforms.dmlMsgToSeedMsg(Transforms.seedRowToDmlMsg(view))))
      (scan, both - scan)
    }.foldLeft((0.0, 0.0)) { case ((a, b), (x, y)) => (a + x, b + y) }
  }
}

object Cdc {
  val ControlTopic: String = CdcSystem.ControlTopic
  /** A lifecycle that is not active after this many `runOnce` calls fails. */
  val MaxRunOnce = 3

  val Lineitem = Source("lineitem", Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
  val Orders = Source("orders", Seq("o_orderkey"))
  val Small = Seq(Source("nation", Seq("n_nationkey")), Source("region", Seq("r_regionkey")),
    Source("supplier", Seq("s_suppkey")))

  /** cdc_seed: both large tables submitted together, order from the seed. */
  def seedPlan(seed: Long): Seq[Seq[Capture]] =
    Seq(new Random(seed).shuffle(Seq(Lineitem, Orders)).map(s => Capture(s"tpch.${s.name}", s)))

  /** cdc_control: `tables` small tables backed by the small sources in
    * turn, so the mix is the same on every seed; the seed shuffles which
    * table gets which source and the order. Every table is submitted
    * twice, interleaved as t0 t1 t0' t2 t1' … t(n-1)', so half of all
    * lifecycles take the re-prepare path. */
  def controlPlan(seed: Long, tables: Int): Seq[Seq[Capture]] = {
    val rng = new Random(seed)
    val sources = rng.shuffle(Seq.tabulate(tables)(i => Small(i % Small.size)))
    val caps = rng.shuffle(sources.zipWithIndex.map { case (s, i) => Capture(f"bench.t_$i%03d", s) })
    val order = caps.head +: caps.indices.tail.flatMap(i => Seq(caps(i), caps(i - 1))) :+ caps.last
    order.map(Seq(_))
  }

  def dirStats(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
}
