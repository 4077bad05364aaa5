package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.plans.GraftExtensions

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §3
  * (lifecycle). Each `queries` value builds a lazy DataFrame plan from
  * the parquet fixtures under `sfDir`; the driver executes it via
  * `.count()` (bench) or `.coalesce(1).write.parquet` (verify).
  *
  * Determinism contract (SURVEY §7.4): every oracle'd query ends with a
  * total-order ORDER BY and never aggregates raw doubles.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregations.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * first applies GraftExtensions' idempotent install, so a session
    * built without the extension (the driver's own) resolves Graft's
    * functions and plans the as-of join.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Scans.queries ++ Filters.queries ++ Joins.queries ++
      Aggregations.queries ++ SortsSets.queries ++ Windows.queries ++
      graft.functions.FnSuites.queries ++ TextOps.queries ++
      SimilarityOps.queries ++ NearDup.queries ++ Multimodal.queries ++
      Analytics.queries ++ Compaction.queries ++ Graph.queries ++
      Composite.queries ++ Merge.queries ++ Corpus.queries ++
      Frontier.queries ++ Clustering.queries ++
      graft.streaming.StreamingQueries.queries).map { case (name, build) =>
      name -> { (s: SparkSession, dir: String) => GraftExtensions.install(s); build(s, dir) }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Scans.oracle ++ Filters.oracle ++ Joins.oracle ++
      Aggregations.oracle ++ SortsSets.oracle ++ Windows.oracle ++
      graft.functions.FnSuites.oracle ++ TextOps.oracle ++
      SimilarityOps.oracle ++ NearDup.oracle ++ Multimodal.oracle ++
      Analytics.oracle ++ Compaction.oracle ++ Graph.oracle ++
      Composite.oracle ++ Merge.oracle ++ Corpus.oracle ++
      Frontier.oracle ++ Clustering.oracle ++
      graft.streaming.StreamingQueries.oracle
}
