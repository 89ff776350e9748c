package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, the Spark body that builds it over a
  * testdata directory (`(session, sfDir) => DataFrame`), and how its
  * result is certified. Each query is declared exactly once, in the
  * module of its family; [[SparkEntry]] derives its maps from
  * [[Query.all]]. */
final case class Query(name: String,
    build: (SparkSession, String) => DataFrame, oracle: Oracle)

/** How a query's result is certified. */
sealed trait Oracle

/** DuckDB SQL over the same parquet tables, with the same column
  * aliases and the same total ORDER BY, hash-compared with the Spark
  * result. The text is built on first use only, so building the query
  * map never builds oracle text. */
final class Sql private (text0: => String) extends Oracle {
  lazy val text: String = text0
}

object Sql {
  def apply(text: => String): Sql = new Sql(text)
}

/** No engine-portable oracle exists; the result is checked for rows
  * only, and `reason` says where its accuracy is gated instead. */
final case class RowsOnly(reason: String) extends Oracle

object Query {
  /** Every declared query, module by module. */
  lazy val all: Seq[Query] = Seq(
    ReferenceParityQueries.all,
    JoinQueries.all,
    SortWindowQueries.all,
    TextQueries.all,
    DedupQueries.all,
    TpchQueries.all,
    TpchDerivedQueries.all,
    CustomJoinQueries.all,
    SimilarityQueries.all,
    EventQueries.all,
    MultimodalQueries.all).flatten
}
