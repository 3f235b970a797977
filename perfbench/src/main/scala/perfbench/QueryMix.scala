package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Row count and an order-insensitive hash of a query result. */
final case class Digest(rows: Long, h1: Long, h2: Long) {
  def line(name: String): String = s"$name\t$rows\t$h1\t$h2"
}

/** One query's timing: construction (building the frame, including any
  * jobs the frame launches while it is built) and execution. */
final case class QueryTime(name: String, construct: Double, exec: Double,
    digest: Option[Digest], error: Option[String]) {
  def total: Double = construct + exec
}

/** query_mix: a slice of `SparkEntry.queries` in two halves, run once
  * each per pass in seed order. */
final class QueryMix(spark: SparkSession, dataDir: String) {
  import QueryMix._

  /** Materialize every row, as `toRdd.count()` does, and fold each row
    * into two order-insensitive sums of row hashes in the same job. */
  def digest(df: DataFrame): Digest = {
    val schema = df.queryExecution.executedPlan.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n, a, b = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        a += Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42) & 0xffffffffL
        b += Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 7919) & 0xffffffffL
      }
      Iterator((n, a, b))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }

  /** Drop the cached and checkpointed blocks a query left behind. */
  def dropCaches(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
  }

  def run(name: String, recorder: Option[Recorder]): QueryTime = {
    val half = if (Heavy.contains(name)) "heavy" else "single"
    val fn = graft.SparkEntry.queries(name)
    val t0 = System.nanoTime()
    try {
      val df = Trace.span(s"query.$half.construct")(fn(spark, dataDir))
      val t1 = System.nanoTime()
      val d = Trace.span(s"query.$half.exec")(digest(df))
      val t2 = System.nanoTime()
      recorder.foreach(_.addPhases(df.queryExecution.tracker))
      Main.note(f"$name%-20s construct ${(t1 - t0) / 1e9}%6.3f exec ${(t2 - t1) / 1e9}%6.3f rows ${d.rows}")
      QueryTime(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, Some(d), None)
    } catch {
      case e: Exception =>
        QueryTime(name, (System.nanoTime() - t0) / 1e9, 0.0, None, Some(e.toString))
    } finally Trace.span("query.drop_caches")(dropCaches())
  }

  /** One pass over the slice in `order`. */
  def pass(order: Seq[String], recorder: Option[Recorder]): Seq[QueryTime] =
    order.map(run(_, recorder))
}

object QueryMix {
  /** Queries that launch jobs while their frame is built (lineage cuts). */
  val Heavy: Seq[String] = Seq("graph_bfs", "dedup_clusters_star", "graph_kcore", "graph_labelprop",
    "win_range")
  /** Queries that build one plan; building them launches few jobs. */
  val Single: Seq[String] = Seq("cdc_seed_key", "join_tpch_q9")
  val All: Seq[String] = Heavy ++ Single
  /** Run untimed before the first pass, to warm the JVM on similar plans. */
  val Warmup: Seq[String] = Seq("fn_try")

  def order(seed: Long): Seq[String] = new Random(seed).shuffle(All)

  /** Expected digests, one `name rows h1 h2` line per query. */
  def readExpected(path: Path): Map[String, Digest] =
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split('\t')
        f(0) -> Digest(f(1).toLong, f(2).toLong, f(3).toLong)
      }.toMap
}
