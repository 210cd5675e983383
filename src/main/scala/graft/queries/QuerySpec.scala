package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: its `name`, the DuckDB `oracle` SQL that
  * must return the same rows over the same parquet tables, and its
  * Spark `build` over an sf dir. Declaring both halves in one value
  * means a query cannot be registered without its oracle.
  */
final case class QuerySpec(
    name: String,
    oracle: String,
    build: (SparkSession, String) => DataFrame)

object QuerySpec {

  /** `specs` keyed by name. A name declared twice throws, instead of
    * the later spec silently replacing the earlier one as `Map(...)`
    * and `++` would.
    */
  def registry(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }
}
