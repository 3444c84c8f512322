package graft.benchmark

import java.io.File
import java.nio.file.Files
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.pipeline.Etl
import graft.sources.{Sinks, Sources}
import graft.sources.Sinks.DimSpec

/** The feasibility ETL as a daily batch: JIRA-shaped JSON lines are
  * read through the `JiraSearchSource` connector and `Sources.jsonLines`,
  * run through `Etl.run` (with its quality gate), normalized into the
  * star schema and loaded over JDBC into an in-memory Derby database,
  * dims first, then the fact. Each op is one batch of new issues; the
  * check reads the loaded rows back over plain JDBC and compares them
  * with the generator's oracle.
  */
final class EtlLoad(seed: Long, workDir: File, cores: Int) extends Workload {
  import EtlLoad._

  private val db = s"graftbench${EtlLoad.databases.incrementAndGet()}"
  val url = s"jdbc:derby:memory:$db;create=true"
  private val inputs = new File(workDir, "etl")
  @volatile var lastFactRows = 0L

  /** Writes batch `tag`'s four input files; returns them with the batch. */
  private def land(tag: String, size: Int): (JiraGen.Batch, File) = {
    val b = JiraGen.batch(seed, tag, size)
    val dir = new File(inputs, tag)
    dir.mkdirs()
    def put(name: String, lines: Seq[String]): Unit =
      Files.write(new File(dir, name).toPath, lines.asJava)
    put("issues.jsonl", b.issues.map(JiraGen.issueJson))
    put("worklogs.jsonl", b.worklogs.toSeq.sortBy(_._1).map { case (k, w) => JiraGen.worklogJson(k, w) })
    put("details.jsonl", b.linkKeys.map(JiraGen.detailJson))
    put("errored.jsonl", b.errored.map(JiraGen.erroredJson))
    (b, dir)
  }

  private def dim(spark: SparkSession, table: String, nameCol: String): DataFrame =
    spark.read.jdbc(url, "\"" + table + "\"", props).withColumnRenamed(nameCol, "name")

  /** Reads a landed batch and runs `Etl.run`, whose quality gate counts
    * eagerly; returns the fact rows named as the load expects them.
    */
  private def pipeline(spark: SparkSession, dir: File): DataFrame = {
    def path(n: String) = new File(dir, n).getPath
    val raw = spark.read.format("graft.sources.JiraSearchSource")
      .option("path", path("issues.jsonl")).option("pages", cores.toLong).load()
    Etl.run(
      raw,
      Sources.jsonLines(spark, path("worklogs.jsonl"), WorklogSchema),
      Sources.jsonLines(spark, path("details.jsonl"), DetailSchema),
      Sources.jsonLines(spark, path("errored.jsonl"), ErroredSchema))
      .withColumnRenamed("reviewer", "reviewer_name")
      .withColumnRenamed("reporter", "reporter_name")
      .withColumnRenamed("project", "project_name")
      .withColumnRenamed("linked_timespent", "issue_links_timespent")
  }

  def batchOp(tag: String, size: Int): Op = {
    val (batch, dir) = land(tag, size)
    Op("batch", "etl", ctx => {
      val spark = ctx.spark
      val fact = ctx.phase("pipeline.run_call")(pipeline(spark, dir))
      val (existing, (dims, normalized)) = ctx.phase("sinks.normalize") {
        // A snapshot of the dims: the load appends to the same tables
        // the resolution reads.
        val ex = Map(
          "jira_user" -> dim(spark, "jira_user", "username").localCheckpoint(),
          "project" -> dim(spark, "project", "name").localCheckpoint())
        (ex, Sinks.normalize(fact, ex, Specs))
      }
      val resolved = ctx.phase("sinks.require_resolved")(Sinks.requireResolved(normalized, Specs))
      ctx.phase("sinks.jdbc_dims") {
        Seq("jira_user" -> "username", "project" -> "name").foreach { case (t, nameCol) =>
          val added = dims(t).join(existing(t).select("id"), Seq("id"), "left_anti")
          Sinks.writeJdbc(added.withColumnRenamed("name", nameCol), url, "\"" + t + "\"", props, numPartitions = cores)
        }
      }
      ctx.phase("sinks.jdbc_fact")(Sinks.writeJdbc(resolved, url, "\"feasibility\"", props, numPartitions = cores))
      () => verify(tag, JiraGen.expected(batch))
    })
  }

  /** Reads batch `tag` back from the database and compares every loaded
    * row with the oracle: the key set (the gate drops errored keys), the
    * derived measures, and the names behind the three foreign keys.
    */
  def verify(tag: String, want: Seq[JiraGen.Expected]): Unit = {
    val got = readBack(tag)
    lastFactRows = got.size.toLong
    WrongOutput.check(got.keySet == want.map(_.key).toSet,
      s"batch $tag loaded ${got.size} keys, expected ${want.size}; " +
        s"e.g. missing ${want.map(_.key).find(k => !got.contains(k))}, extra ${got.keySet.find(k => !want.exists(_.key == k))}")
    want.foreach { w =>
      val g = got(w.key)
      WrongOutput.check(g == w, s"batch $tag row ${w.key}: loaded $g, expected $w")
    }
  }

  def readBack(tag: String): Map[String, JiraGen.Expected] = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT f."key", rv."username", rp."username", p."name", f."feasibility_estimate_total",
          |  f."feasibility_timespent", f."issue_links_timespent", f."delta", f."delta_percentage"
          |FROM "feasibility" f
          |JOIN "jira_user" rv ON f."fk_reviewer" = rv."id"
          |JOIN "jira_user" rp ON f."fk_reporter" = rp."id"
          |JOIN "project" p ON f."fk_project" = p."id"
          |WHERE f."key" LIKE '""".stripMargin + tag + "-%'")
      def opt(i: Int): Option[Double] = { val v = rs.getDouble(i); if (rs.wasNull()) None else Some(v) }
      val b = Map.newBuilder[String, JiraGen.Expected]
      while (rs.next()) {
        val e = JiraGen.Expected(rs.getString(1), rs.getString(2), rs.getString(3), rs.getString(4),
          rs.getDouble(5), opt(6), opt(7), opt(8), opt(9))
        b += e.key -> e
      }
      b.result()
    } finally conn.close()
  }

  def setUp(ctx: Ctx): Unit = {
    Workload.deleteTree(inputs)
    ctx.phase("sinks.bootstrap")(Sinks.bootstrapStarSchema(url, props))
  }

  /** A pass is one daily batch; the warm pass is [[WarmBatches]]. */
  def pass(spark: SparkSession, i: Int): Seq[Op] =
    if (i < 0) (0 until WarmBatches).map(k => batchOp(s"P$k", BatchSize)) else Seq(batchOp(s"B$i", BatchSize))

  def nominalPassS: Double = 3.9

  /** Batches share the dims, so they load one after another. */
  override def warmThreads(cores: Int): Int = 1

  /** Drops the database. */
  def tearDown(): Unit = {
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true", props)
    catch { case _: java.sql.SQLException => () } // a successful drop reports itself as an exception
  }
}

object EtlLoad {
  /** Issues per daily batch, and batches in the warm pass: after one
    * batch the next ones still ran up to 40 % slower.
    */
  val BatchSize = 500
  val WarmBatches = 2

  private val databases = new java.util.concurrent.atomic.AtomicInteger(0)

  val Specs: Seq[DimSpec] = Seq(
    DimSpec("reviewer_name", "fk_reviewer", "jira_user"),
    DimSpec("reporter_name", "fk_reporter", "jira_user"),
    DimSpec("project_name", "fk_project", "project"))

  def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private val name = StructType(Seq(StructField("name", StringType)))

  val WorklogSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("worklogs", ArrayType(StructType(Seq(
      StructField("author", name),
      StructField("timeSpentSeconds", LongType),
      StructField("id", StringType)))))))

  val DetailSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("fields", StructType(Seq(
      StructField("customfield_12501", name),
      StructField("reporter", name),
      StructField("project", StructType(Seq(StructField("key", StringType)))),
      StructField("created", StringType),
      StructField("resolution", name),
      StructField("resolutiondate", StringType))))))

  val ErroredSchema: StructType = StructType(Seq(StructField("key", StringType)))
}
