package graft.queries

import graft.queries.CoreQueries.Q

/** One declared query: its catalog name, its Spark build and the
  * DuckDB SQL that is its oracle, declared together so neither side
  * can go missing.
  */
final case class Query(name: String, build: Q, oracleSql: String)

/** A query catalog. Construction fails with an error that names every
  * duplicate query name and every blank oracle, instead of letting a
  * map merge drop one of two same-named entries.
  */
final case class Catalog(queries: Seq[Query]) {
  private val duplicates = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
  require(duplicates.isEmpty, s"duplicate query names: ${duplicates.toSeq.sorted.mkString(", ")}")
  private val blank = queries.filter(_.oracleSql.trim.isEmpty).map(_.name)
  require(blank.isEmpty, s"queries with a blank oracle: ${blank.mkString(", ")}")

  val builds: Map[String, Q] = queries.map(q => q.name -> q.build).toMap
  val oracleSql: Map[String, String] = queries.map(q => q.name -> q.oracleSql).toMap
}

object Catalog {

  /** Every declared query, one list entry per query object. */
  lazy val declared: Catalog = Catalog(Seq(
    CoreQueries.queries, AnalyticQueries.queries, PipelineQueries.queries, StatQueries.queries,
    ExtQueries.queries, Round3Queries.queries, QualityQueries.queries, Round4Queries.queries,
    Round5Queries.queries, Round6Queries.queries, Round7Queries.queries, Round8Queries.queries,
    SelectionQueries.queries, SketchQueries.queries, AffinityQueries.queries, Round9Queries.queries,
    Round10Queries.queries, Round11Queries.queries, Round12Queries.queries, Round13Queries.queries,
    Round14Queries.queries, Round15Queries.queries).flatten)
}
