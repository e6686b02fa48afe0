package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CoreQueries, LlmQueries, PipelineQueries, SceneQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over the driver test tables, together with the DuckDB SQL
  * oracle that pins its semantics (column names aligned — the driver's
  * compare sorts columns by name before hashing values).
  */
object SparkEntry {

  private def registry: Map[String, graft.queries.Query] =
    CoreQueries.all ++ PipelineQueries.all ++ LlmQueries.all ++ SceneQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Dimension-decode join + aggregation — the J1 broadcast-hash-join core
    * of the reference pipeline. */
  def entry(spark: SparkSession): DataFrame =
    registry("q02_decode_join").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, q) if q.oracle.isDefined => k -> q.oracle.get }

  /** Optional untimed fixture preparation per query (r15 — see
    * [[graft.queries.Query.prepare]]); Bench runs these outside the
    * timed region so a gate measures its operator, not its harness. */
  def prepare: Map[String, (SparkSession, String) => Unit] =
    registry.collect { case (k, q) if q.prepare.isDefined =>
      k -> q.prepare.get
    }
}
