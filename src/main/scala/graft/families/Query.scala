package graft
package families

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: a query's DuckDB oracle SQL over the same parquet
  * tables, and its builder. Neither exists without the other. The oracle is
  * by-name, so building a query renders no oracle string.
  */
final class Query(oracleSql: => String)(val build: (SparkSession, String) => DataFrame) {
  lazy val oracle: String = oracleSql
}

object Query {
  def apply(oracleSql: => String)(build: (SparkSession, String) => DataFrame): Query =
    new Query(oracleSql)(build)
}
