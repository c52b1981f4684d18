package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One named query: a Spark implementation plus (when SQL-expressible)
 * an equivalent ANSI SQL text the driver runs in DuckDB as the oracle.
 *
 * Contract notes (see SURVEY.md §3):
 *  - Output column names MUST match between `run` and `oracle`.
 *  - Float-bearing outputs are rounded identically on both sides.
 *  - Result sets are fully deterministic (total order before any limit).
 */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Q {
  /** All registered queries, in stable order. */
  def all: Seq[Q] =
    Relational.queries ++ Relational2.queries ++ Windows.queries ++ Windows2.queries ++
      Events.queries ++ Survival.queries ++
      TextQueries.queries ++ CorpusOps.queries ++ CorpusOps2.queries ++
      CorpusOps3.queries ++ UnigramQueries.queries ++ WordPieceQueries.queries ++
      ByteBpeQueries.queries ++
      DedupQueries.queries ++ SimilarityQueries.queries ++
      GPQueries.queries ++ MultimodalQueries.queries ++ PlanQueries.queries ++
      GraphQueries.queries
}
