package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.engine.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query inventories (SURVEY.md §2.B): each
  * entry is a named `(SparkSession, sfDir) => DataFrame`, and each
  * oracle-checkable entry has an equivalent DuckDB SQL in [[oracleSql]].
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggGroup(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    disjointUnion(Seq(
      Relational.queries, Relational2.queries, Relational3.queries,
      Relational4.queries, Relational5.queries, Relational6.queries,
      Relational7.queries, Relational8.queries, Relational9.queries,
      Relational10.queries, Relational11.queries, Relational12.queries,
      Relational13.queries, Relational14.queries, Relational15.queries,
      CdcOps.queries, StreamOps.queries, TextOps.queries, DedupOps.queries,
      SimOps.queries, PipelineOps.queries,
      graft.engine.multimodal.Multimodal.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    disjointUnion(Seq(
      RelationalOracles.oracles, Relational2.oracles, Relational3.oracles,
      Relational4.oracles, Relational5.oracles, Relational6.oracles,
      Relational7.oracles, Relational8.oracles, Relational9.oracles,
      Relational10.oracles, Relational11.oracles, Relational12.oracles,
      Relational13.oracles, Relational14.oracles, Relational15.oracles,
      CdcOps.oracles, StreamOps.oracles, TextOps.oracles, DedupOps.oracles,
      SimOps.oracles, PipelineOps.oracles,
      graft.engine.multimodal.Multimodal.oracles))

  /** Merge per-module maps; a name two modules both define throws
    * instead of the later one silently replacing the earlier. */
  private[graft] def disjointUnion[V](parts: Seq[Map[String, V]]): Map[String, V] =
    parts.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val shared = acc.keySet.intersect(m.keySet)
      require(shared.isEmpty, s"names defined twice: ${shared.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }
}
