package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named group of driver-contract queries plus their DuckDB oracles. */
trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]

  /** Defer a CAPTURED oracle's generation out of the timed query run:
    * queries whose oracle embeds learned/run state (staged quantizer
    * literals, a stream's commit log) capture a memoized thunk instead
    * of the built SQL, and [[oracleSql]] forces it on access. Verify —
    * the only consumer — dumps oracles AFTER the queries run, so the
    * generation cost (driver reads of staged state; for q102 a replay of
    * the commit log) lands in the dump, not in the benched query
    * wall-clock where it isn't engine work. Memoized so repeated
    * [[oracleSql]] access (specs, the dump) pays it once.
    */
  protected final def capturedOracle[A](f: => A): () => A = {
    lazy val v = f
    () => v
  }

  /** Named stage builders — derived artifacts this family builds once
    * per source state ([[Staging]] contract) and shares across queries.
    * Bench pre-builds them UNTIMED and reports their cost as its own
    * metric line: a cold stage otherwise lands entirely on run 1 of
    * whichever query first touches it, invisibly inflating the artifact
    * (the r7 bench's uninterpretable totals). Each returns the stage dir.
    */
  def stages: Map[String, (SparkSession, String) => String] = Map.empty

  /** How each query runs, by full query name; an undeclared query is a
    * light batch query. Bench groups and paces its runs by these, and
    * plan audits skip the [[QueryTrait.Stream]] queries.
    */
  def traits: Map[String, Set[QueryTrait]] = Map.empty
}

sealed trait QueryTrait

object QueryTrait {
  /** Starts a checkpointed streaming query and awaits its drain: Bench
    * times it last, after a settle, and plan audits skip it (its frame's
    * build runs the drain).
    */
  case object Stream extends QueryTrait
  /** Candidate-pair scoring or multi-stage operator work: Bench times it
    * after the light batch queries.
    */
  case object Heavy extends QueryTrait
  /** Its wall follows the host's per-job pace: Bench records its ratio
    * to the q44 canary.
    */
  case object Paced extends QueryTrait

  /** A family's [[QueryFamily.traits]] from one name list per trait. */
  def of(declared: (QueryTrait, Seq[String])*): Map[String, Set[QueryTrait]] =
    declared.flatMap { case (t, names) => names.map(_ -> t) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
}
