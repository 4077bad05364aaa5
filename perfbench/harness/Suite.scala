package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** One cold pass over a list of registered queries, each forced through
  * the noop sink, as a batch job sees it: no warmup, no retry. */
object Suite {
  type Query = (SparkSession, String) => DataFrame

  /** The operator objects whose `queries` maps SparkEntry unions. A
    * query's module is the object whose public map holds it, so the map
    * follows the code; a query SparkEntry serves that none of these
    * holds is listed under "unmapped". */
  def modules: Seq[(String, Map[String, Query])] = Seq(
    "Scans" -> Scans.queries, "Filters" -> Filters.queries, "Joins" -> Joins.queries,
    "Aggregations" -> Aggregations.queries, "SortsSets" -> SortsSets.queries,
    "Windows" -> Windows.queries, "FnSuites" -> graft.functions.FnSuites.queries,
    "TextOps" -> TextOps.queries, "SimilarityOps" -> SimilarityOps.queries,
    "NearDup" -> NearDup.queries, "Multimodal" -> Multimodal.queries,
    "Analytics" -> Analytics.queries, "Compaction" -> Compaction.queries,
    "Graph" -> Graph.queries, "Composite" -> Composite.queries, "Merge" -> Merge.queries,
    "Corpus" -> Corpus.queries, "Frontier" -> Frontier.queries,
    "Clustering" -> Clustering.queries,
    "StreamingQueries" -> graft.streaming.StreamingQueries.queries)

  private def byName: Map[String, (String, Query)] = {
    val owned = modules.flatMap { case (m, qs) => qs.map { case (n, f) => n -> (m, f) } }.toMap
    graft.SparkEntry.queries.map { case (n, f) => n -> owned.getOrElse(n, ("unmapped", f)) }
  }

  /** Module name → sorted query names, for every query SparkEntry serves. */
  def moduleMap: Map[String, Seq[String]] =
    byName.toSeq.groupBy(_._2._1).map { case (m, qs) => m -> qs.map(_._1).sorted }

  def run(spark: SparkSession, rec: Recorder, a: Map[String, String]): Unit = {
    val queries = byName
    val data = a("data")
    Files.readAllLines(Paths.get(a("queries"))).asScala.filter(_.nonEmpty).foreach { name =>
      val (module, fn) = queries(name)
      rec.op("query", name, "module" -> module) { op =>
        val df = op.phase("construct")(fn(spark, data))
        op.phase("execute")(df.write.mode("overwrite").format("noop").save())
      }
      // blocks a finished query persisted (localCheckpoint) are dropped
      // between queries, as a batch job sharing one session would
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
  }

  /** Result dump of the pass's queries in graft.Verify's layout, for the
    * DuckDB oracle check. */
  def dump(spark: SparkSession, data: String, dir: String, rec: Recorder): Unit = {
    val names = rec.ops.filter(_("kind") == "query").map(_("name").toString).distinct
    if (names.nonEmpty) graft.Verify.main(Array(data, dir) ++ names)
  }
}
