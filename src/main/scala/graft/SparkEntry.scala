package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Catalog, CoreQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core business computation (estimated-vs-actual delta,
    * helpers.js:309-321) over the fixture star schema.
    */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q07Delta(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Catalog.declared.builds

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  lazy val oracleSql: Map[String, String] = Catalog.declared.oracleSql
}
