package graft

import java.nio.file.{Files, Path}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.pipeline.Etl
import graft.sources.Sinks
import graft.sources.Sinks.DimSpec

/** Shared JIRA-shaped JSON fixture rows — the engine's port of the
  * reference's manual test rows (testing.sql:32-80), used by EtlSpec
  * (inferred-schema path) and JiraSourceSpec (DSv2 connector path),
  * plus the fixture as one daily batch loaded into the Derby star
  * schema (JdbcSinkSpec, ExecShapeSpec).
  */
object JiraFixture {

  def issue(
      key: String,
      reviewer: String,
      estimates: String,
      links: String,
      reporter: String = "rep1",
      project: String = "PROJ1"): String = {
    val rev = if (reviewer == null) "null" else s"""{"name": "$reviewer"}"""
    s"""{"key": "$key", "fields": {"summary": "sum-$key", "customfield_12501": $rev,
       |"reporter": {"name": "$reporter"}, "project": {"key": "$project"},
       |"created": "2019-01-01T10:00:00.000+0000", "resolutiondate": "2019-02-01T10:00:00.000+0000",
       |$estimates, "issuelinks": [$links]}}""".stripMargin.replace("\n", " ")
  }

  def link(linkKey: String, typeId: String = "10211", inward: Boolean = false): String = {
    val side = if (inward) "inwardIssue" else "outwardIssue"
    s"""{"type": {"id": "$typeId"}, "$side": {"key": "$linkKey", "fields": {"summary": "ls-$linkKey",
       |"status": {"name": "Done"}, "issuetype": {"name": "Development"}}}}""".stripMargin
      .replace("\n", " ")
  }

  val allEst: String =
    """"customfield_14604": 1.2, "customfield_14600": 2, "customfield_14607": null,
      |"customfield_14603": 1, "customfield_14602": 0.5, "customfield_14601": 1""".stripMargin
      .replace("\n", " ")

  val rawRows: Seq[String] = Seq(
    issue("F-1", "rev1", allEst, s"${link("L-1")}, ${link("L-2", inward = true)}"),
    issue("F-2", "rev1", """"customfield_14600": 2""", link("X-9", typeId = "999")),
    issue("F-3", "rev2", """"customfield_14603": 1""", link("L-3")),
    issue("F-4", null, """"customfield_14600": 1""", ""),
    issue("F-5", "rev2", """"customfield_14600": 0""", link("L-5"), project = "PROJ2"))

  val worklogRows: Seq[String] = Seq(
    """{"key": "F-1", "worklogs": [{"author": {"name": "alice"}, "timeSpentSeconds": 600, "id": "1"},
      |{"author": {"name": "bob"}, "timeSpentSeconds": 300, "id": "2"}]}""".stripMargin.replace("\n", " "),
    """{"key": "F-2", "worklogs": []}""",
    """{"key": "F-3", "worklogs": []}""",
    """{"key": "F-4", "worklogs": [{"author": {"name": "carol"}, "timeSpentSeconds": 1200, "id": "3"}]}""",
    """{"key": "F-5", "worklogs": []}""",
    """{"key": "L-1", "worklogs": [{"author": {"name": "dev1"}, "timeSpentSeconds": 3600, "id": "4"},
      |{"author": {"name": "dev2"}, "timeSpentSeconds": 1800, "id": "5"}]}""".stripMargin.replace("\n", " "),
    """{"key": "L-2", "worklogs": [{"author": {"name": "dev1"}, "timeSpentSeconds": 7200, "id": "6"}]}""",
    """{"key": "L-3", "worklogs": []}""",
    """{"key": "L-5", "worklogs": [{"author": {"name": "dev3"}, "timeSpentSeconds": 500, "id": "7"}]}""")

  val detailRows: Seq[String] = Seq("L-1", "L-2", "L-3", "L-5").map { k =>
    s"""{"key": "$k", "fields": {"customfield_12501": {"name": "ldev"}, "reporter": {"name": "lrep"},
       |"project": {"key": "LPROJ"}, "created": "2019-01-05T10:00:00.000+0000",
       |"resolution": {"name": "Done"}, "resolutiondate": "2019-01-20T10:00:00.000+0000"}}""".stripMargin
      .replace("\n", " ")
  }

  /** Write rows as a JSON-lines file under a fresh temp dir; returns
    * the file path.
    */
  def writeLines(rows: Seq[String], name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("jira_fixture")
    val f = dir.resolve(name)
    java.nio.file.Files.writeString(f, rows.mkString("\n"))
    f.toString
  }

  /** Lands the fixture as one batch's four JSON-lines inputs in a
    * fresh temp dir; `errored` lists the keys whose supplemental fetch
    * failed.
    */
  def landBatch(errored: Seq[String]): Path = {
    val dir = Files.createTempDirectory("jira_batch")
    def put(name: String, rows: Seq[String]): Unit =
      Files.writeString(dir.resolve(name), rows.mkString("\n"))
    put("issues.jsonl", rawRows)
    put("worklogs.jsonl", worklogRows)
    put("details.jsonl", detailRows)
    put("errored.jsonl", errored.map(k => s"""{"key": "$k"}"""))
    dir
  }

  private val name = StructType(Seq(StructField("name", StringType)))

  private val worklogSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("worklogs", ArrayType(StructType(Seq(
      StructField("author", name),
      StructField("timeSpentSeconds", LongType),
      StructField("id", StringType)))))))

  private val detailSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("fields", StructType(Seq(
      StructField("customfield_12501", name),
      StructField("reporter", name),
      StructField("project", StructType(Seq(StructField("key", StringType)))),
      StructField("created", StringType),
      StructField("resolution", name),
      StructField("resolutiondate", StringType))))))

  /** `Etl.runReleasable` over a landed batch (the issues through the
    * DSv2 connector), with the columns named as the star schema names
    * them, and the handle that releases the batch's cache.
    */
  def runBatch(spark: SparkSession, dir: Path, thresholdPct: Double): (DataFrame, () => Unit) = {
    def json(n: String, schema: StructType) =
      spark.read.schema(schema).json(dir.resolve(n).toString)
    val raw = spark.read
      .format("graft.sources.JiraSearchSource")
      .option("path", dir.resolve("issues.jsonl").toString)
      .load()
    val (fact, release) = Etl.runReleasable(
      raw,
      json("worklogs.jsonl", worklogSchema),
      json("details.jsonl", detailSchema),
      json("errored.jsonl", StructType(Seq(StructField("key", StringType)))),
      thresholdPct)
    val named = fact
      .withColumnRenamed("reviewer", "reviewer_name")
      .withColumnRenamed("reporter", "reporter_name")
      .withColumnRenamed("project", "project_name")
      .withColumnRenamed("linked_timespent", "issue_links_timespent")
    (named, release)
  }

  val starSpecs: Seq[DimSpec] = Seq(
    DimSpec("reviewer_name", "fk_reviewer", "jira_user"),
    DimSpec("reporter_name", "fk_reporter", "jira_user"),
    DimSpec("project_name", "fk_project", "project"))

  private val starDims = Seq("jira_user" -> "username", "project" -> "name")

  def derbyProps: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** A fresh in-memory Derby database `db` holding the star schema and
    * the `existing` dims' rows; returns its URL.
    */
  def starSchema(db: String, existing: Map[String, DataFrame]): String = {
    val url = s"jdbc:derby:memory:$db;create=true"
    Sinks.bootstrapStarSchema(url, derbyProps)
    starDims.foreach { case (t, nameCol) =>
      Sinks.writeJdbc(existing(t).withColumnRenamed("name", nameCol), url, "\"" + t + "\"", derbyProps)
    }
    url
  }

  /** The trigger-equivalent load of one batch: normalize against the
    * in-memory `existing` dims (id, name), guard the keys, then write
    * the dims' new rows and the fact over JDBC, dims first.
    */
  def loadBatch(
      fact: DataFrame,
      existing: Map[String, DataFrame],
      url: String,
      numPartitions: Int): Unit = {
    val (dims, normalized) = Sinks.normalize(fact, existing, starSpecs)
    val resolved = Sinks.requireResolved(normalized, starSpecs)
    starDims.foreach { case (t, nameCol) =>
      val added = dims(t).join(existing(t).select("id"), Seq("id"), "left_anti")
      Sinks.writeJdbc(added.withColumnRenamed("name", nameCol), url, "\"" + t + "\"", derbyProps, numPartitions)
    }
    Sinks.writeJdbc(resolved, url, "\"feasibility\"", derbyProps, numPartitions)
  }
}
