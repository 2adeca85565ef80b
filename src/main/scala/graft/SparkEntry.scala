package graft

import graft.families._
import graft.plans.FileDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY §2 (+ extended/beyond-reference operators), each with a DuckDB
  * oracle in `oracleSql` over the same parquet tables. Both are views over
  * one registry: each family object in `graft.families` defines a query
  * and its oracle together.
  *
  * Determinism rules used throughout (driver hash-compares values):
  *  - keys included so every row is unique;
  *  - sums over 2-decimal monetary doubles go through scaled-integer
  *    accumulation (round(x*100) as bigint) — float accumulation order
  *    differs between engines, integer sums don't;
  *  - sums of integral doubles (l_quantity) are exact in fp, safe as-is.
  */
object SparkEntry {

  private lazy val registry: ListMap[String, Query] = {
    val all = Seq(RelationalQueries.entries, DataQualityQueries.entries,
      TimeSeriesQueries.entries, StatisticsQueries.entries, ModelQueries.entries,
      TextQueries.entries, EventQueries.entries, SimilarityQueries.entries,
      DedupQueries.entries, StreamQueries.entries, MultimodalQueries.entries,
      SketchQueries.entries, SearchQueries.entries, GraphQueries.entries,
      RecQueries.entries, EntityQueries.entries, GeoQueries.entries).flatten
    val byName = ListMap(all: _*)
    require(byName.size == all.size, "a query name is defined twice in graft.families")
    byName
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  def oracleSql: Map[String, String] = registry.map { case (name, q) => name -> q.oracle }

  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame = Shared.T(s, dir, name)

  private[graft] def events(s: SparkSession, dir: String): DataFrame = Shared.events(s, dir)

  private[graft] def inputs(dir: String): Map[String, FileDef] = RelationalQueries.inputs(dir)

  private[graft] def pipInside(df: DataFrame): DataFrame = GeoQueries.pipInside(df)

  /** Flagship: a full YAML flow through the engine (bind + casting +
    * application + switching + concatenation + arithmetic + comparison +
    * assignation + equality + select), on sf0.001. Driver smoke-checks
    * rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.pipelineQuery(spark, "/root/testdata/sf0.001")
}
