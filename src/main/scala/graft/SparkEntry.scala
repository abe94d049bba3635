package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Relational
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2 re-expressed
  * over the driver fixture tables; [[oracleSql]] carries the DuckDB-runnable
  * ANSI SQL equivalent for the driver's differential check. Column names and
  * types are aligned pairwise (the driver sorts columns by name and hashes
  * values). Floating aggregates use [[Relational.exactSum]] (exact decimal
  * accumulation surfaced as double) so both engines produce bit-identical
  * doubles regardless of aggregation order.
  *
  * The entries themselves live in per-area files under [[graft.queries]]
  * (relational / text / dedup / similarity / ml / streaming / layout); this
  * object only aggregates them and enforces that the areas are disjoint.
  * Queries present in [[queries]] but absent from [[oracleSql]] are the
  * rows-only set — non-portable hash/codec/fit paths, each pinned by a
  * dedicated spec instead of a DuckDB replay.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's labeling pipeline heart (SURVEY §7.2 slice 0). */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark)
    val dir = "/root/testdata/sf0.001"
    Relational.labelJoin(Tables.orders(spark, dir), Tables.lineitem(spark, dir))
  }

  // lazy: an area's oracle text embeds staging paths
  // (QueryShared.predsPath), read when the area object initializes, so
  // callers set graft.preds.tag before the first access
  private lazy val areas: Seq[(Map[String, (SparkSession, String) => DataFrame],
                          Map[String, String])] = Seq(
    (RelationalQueries.queries, RelationalQueries.sql),
    (TextQueries.queries, TextQueries.sql),
    (DedupQueries.queries, DedupQueries.sql),
    (SimilarityQueries.queries, SimilarityQueries.sql),
    (MlQueries.queries, MlQueries.sql),
    (StreamingQueries.queries, StreamingQueries.sql),
    (LayoutQueries.queries, LayoutQueries.sql),
    (TpchQueries.queries, TpchQueries.sql),
    (ExperimentQueries.queries, ExperimentQueries.sql),
    (AnalyticsQueries.queries, AnalyticsQueries.sql),
    (Analytics2Queries.queries, Analytics2Queries.sql),
    (Analytics3Queries.queries, Analytics3Queries.sql),
    (Analytics4Queries.queries, Analytics4Queries.sql),
    (Analytics5Queries.queries, Analytics5Queries.sql),
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val maps = areas.map(_._1)
    val merged = maps.reduce(_ ++ _)
    require(merged.size == maps.map(_.size).sum,
      "duplicate query keys across area files")
    merged
  }

  /** DuckDB equivalents (driver registers each fixture parquet as a view
    * named by table basename). Aliases match the Spark column names. */
  lazy val oracleSql: Map[String, String] = {
    val maps = areas.map(_._2)
    val merged = maps.reduce(_ ++ _)
    require(merged.size == maps.map(_.size).sum,
      "duplicate oracle keys across area files")
    require(merged.keySet.subsetOf(queries.keySet),
      s"oracle SQL without a query: ${merged.keySet -- queries.keySet}")
    merged
  }
}
