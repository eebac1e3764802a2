package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator from SURVEY.md §2: a DataFrame implementation plus
  * (when SQL-expressible) the ANSI-SQL oracle the driver runs in DuckDB on the
  * same parquet tables. Column names/aliases MUST match between the two — the
  * driver sorts columns by name before hashing values.
  *
  * `oracleGen` is the data-dependent variant: queries whose parameters are
  * LEARNED from the tables (the trained ANN quantizers) cannot inline them
  * in a static string, so they generate the oracle SQL against the concrete
  * data dir — with the trained values embedded as literals — when Verify
  * dumps `oracle_sql.json`. Exactly one of `oracle`/`oracleGen` is set for
  * an oracle-checked query.
  */
final case class Q(
    id: String,
    oracle: Option[String],
    body: (SparkSession, String) => DataFrame,
    oracleGen: Option[(SparkSession, String) => String] = None,
    outputLinear: Boolean = false) {
  /** Build the query plan. Installs the native functions and custom
    * operators first, under the install rule stated on
    * [[graft.functions.Native.register]]: the probe runs per query because a
    * caller may hand any session, fresh ones included (`IsolationSpec`).
    */
  def run(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Native.register(s)
    body(s, dir)
  }

  /** The oracle SQL. Installs like [[run]]: the learned-quantizer oracles
    * train on `graft_*` functions, possibly in a session no query ran in.
    */
  def oracleFor(s: SparkSession, dir: String): Option[String] = {
    graft.functions.Native.register(s)
    oracleGen.map(_(s, dir)).orElse(oracle)
  }
}

trait QueryPack {
  def queries: Seq[Q]

  /** Terminal presentation sort for the driver's order-sensitive hash
    * compare. NOT part of any operator's scale story: the distributed work
    * (joins/aggs/windows) finishes above this call; the sort only fixes the
    * row order the oracle diff reads. `orderBy` would pay RangePartitioning's
    * extra sampling job (which re-executes the upstream map stage) plus a
    * range shuffle — for a result the driver consumes serially anyway, a
    * single-partition local sort is strictly cheaper and gives the same
    * total order. Operators whose OUTPUT is genuinely unbounded at 100 TB
    * would drop this line entirely in production (results stay
    * partition-local); operators where the sort IS the semantics
    * (sort_multi_key, limit_head) keep a true `orderBy`.
    */
  implicit final class OracleOrder(private val df: org.apache.spark.sql.DataFrame) {
    def oracleOrder(sortCol: String, rest: String*): org.apache.spark.sql.DataFrame =
      df.repartition(1).sortWithinPartitions(sortCol, rest: _*)
    def oracleOrder(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }
}

/** Flat registry of every implemented operator, in SURVEY.md §2 order. */
object Registry {
  def packs: Seq[QueryPack] = Seq(
    queries.Scans,
    queries.Cleaning,
    queries.Joins,
    queries.Aggregations,
    queries.Windows,
    queries.SortLimit,
    queries.SetOps,
    queries.Scalars,
    queries.StreamingQueries,
    queries.MLOps,
    queries.TransformerOps,
    queries.TextOps,
    queries.TextAnalysis,
    queries.CurationOps,
    queries.DedupOps,
    queries.SimOps,
    queries.GraphOps)

  lazy val all: Seq[Q] = {
    val qs = packs.flatMap(_.queries)
    require(qs.map(_.id).distinct.size == qs.size, "duplicate query ids")
    qs
  }

  def byId(id: String): Q =
    all.find(_.id == id).getOrElse(sys.error(s"unknown query: $id"))
}
