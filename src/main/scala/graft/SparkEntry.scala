package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the named query surface from the per-family objects under
  * [[graft.queries]]; every entry in [[queries]] either has a DuckDB twin
  * in [[oracleSql]] or is a documented rows-only check (approximate /
  * non-SQL-expressible operators).
  */
object SparkEntry {

  private[graft] def families: Seq[QueryFamily] = Seq(
    ParityQueries, DedupQueries, AnnQueries, TextQueries,
    MultimodalQueries, EventQueries, MaterializeQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    families.flatMap(_.oracleSql).toMap

  /** Every family's per-source-state stage builders (see
    * [[QueryFamily.stages]]) — Bench pre-builds these untimed.
    */
  def stages: Map[String, (SparkSession, String) => String] =
    families.flatMap(_.stages).toMap

  /** Every family's declaration for one query (see [[QueryFamily.traits]]);
    * empty for a light batch query.
    */
  def traits(name: String): Set[QueryTrait] =
    families.flatMap(_.traits.getOrElse(name, Set.empty)).toSet
}
