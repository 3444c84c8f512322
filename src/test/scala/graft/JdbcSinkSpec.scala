package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.sources.Sinks
import graft.sources.Sinks.DimSpec

/** One v_feasibility insert row (testing.sql column order). Top-level:
  * Spark encoders cannot reach a case class nested in a suite.
  */
case class VFeasRow(
    key: String, summary: String, reviewer_name: String, reporter_name: String,
    project_name: String, created: String, resolution_date: String,
    design_estimate: Option[Double], development_estimate: Double,
    development_pad_estimate: Option[Double], pe_estimate: Option[Double],
    pm_estimate: Option[Double], qa_estimate: Option[Double],
    issue_links: Option[String], worklog: Option[String],
    feasibility_timespent: Option[Double], issue_links_timespent: Option[Double],
    feasibility_estimate_total: Option[Double], delta_percentage: Option[Double],
    delta: Option[Double])

/** K1/G6 end-to-end against embedded Derby: DDL bootstrap, the
  * trigger-equivalent normalize + JDBC load, write-read-back parity for
  * the five view-insert cases of reference testing.sql:32-80, dim
  * get-or-create against a live database, and the opt-in per-row-
  * tolerant loader (reference helpers.js:100-104).
  */
class JdbcSinkSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = SparkTestSession.spark
  // the slowest test takes 2.7 s in a full run on 4 cores; 2 minutes
  // also covers a cold session start when the spec runs alone
  val timeLimit = 2.minutes

  private val url = "jdbc:derby:memory:graft_e2e;create=true"
  private def props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private val specs = Seq(
    DimSpec("reviewer_name", "fk_reviewer", "jira_user"),
    DimSpec("reporter_name", "fk_reporter", "jira_user"),
    DimSpec("project_name", "fk_project", "project"))

  private val links1 =
    """{"PROJECT1-1254":{"summary":"Test Task A","status":"To Do","issuetype":"Task","worklog":{"worklog":[{"author":"user1","timespent":60,"unit":"seconds","id":"111111"},{"author":"user1","timespent":60,"unit":"seconds","id":"111112"},{"author":"user1","timespent":60,"unit":"seconds","id":"111113"}],"total":180},"reporter":"user2","project":"PROJECT1","created":"2015-06-12T17:16:51.263+0000","resolution":null,"resolution date":null}}"""
  private val wl1 =
    """{"worklog":[{"author":"user1","timespent":60,"unit":"seconds","id":"111114"}],"total":60}"""
  private val wl4 =
    """{"worklog":[{"author":"user1","timespent":60,"unit":"seconds","id":"11115"}],"total":60}"""

  /** The five inserts of testing.sql:36-80, verbatim values. */
  private def incoming: DataFrame = {
    import spark.implicits._
    Seq(
      VFeasRow("PROJECT1-1090", "Test Feasibility A", "user1", "user1", "PROJECT1",
        "1999-01-08 04:05:06", "1999-02-08 04:05:06",
        Some(1.2), 2.0, Some(1.0), Some(1.5), Some(1.0), Some(1.5),
        Some(links1), Some(wl1), Some(3600.0), Some(10800.0), Some(29520.0), Some(198.02), Some(234.0)),
      VFeasRow("PROJECT2-123", "Test Feasibility B", "user2", "user1", "PROJECT2",
        "2014-01-08 04:05:06", "2014-02-08 04:05:06",
        Some(1.2), 2.0, Some(1.0), Some(1.5), Some(1.0), Some(1.5),
        None, None, Some(29520.0), Some(10800.0), Some(3600.0), Some(98.2454), Some(12453.0)),
      VFeasRow("PROJECT5-1999", "Test Feasibility C", "user4", "user3", "PROJECT5",
        "2014-01-08 04:05:06", "2014-02-08 04:05:06",
        Some(1.2), 2.0, Some(1.0), Some(1.5), Some(1.0), Some(1.5),
        None, None, Some(29520.0), Some(10800.0), Some(3600.0), None, None),
      VFeasRow("PROJECT5-2000", "Test Feasibility D", "user2", "user4", "PROJECT5",
        "2014-01-08 04:05:06", "2014-02-08 04:05:06",
        Some(1.2), 2.0, Some(1.0), Some(1.5), Some(1.0), Some(1.5),
        None, Some(wl4), Some(13213.0), Some(2515.0), Some(57415.0), Some(124.2454), Some(777.0)),
      VFeasRow("PROJECT4-342", "Test Feasibility E", "user1", "user2", "PROJECT4",
        "2014-01-08 04:05:06", "2014-02-08 04:05:06",
        Some(1.2), 2.0, Some(1.0), Some(1.5), Some(1.0), Some(1.5),
        None, None, Some(9879.0), Some(987842.0), Some(121.0), None, None)
    ).toDF()
  }

  private def emptyDim = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("id", "name")
  }

  private def readTable(t: String): DataFrame =
    spark.read.jdbc(url, "\"" + t + "\"", props)

  /** Rebuild v_feasibility (schema.sql:66-95) from the normalized
    * tables — the read twin of the trigger rewrite.
    */
  private def vFeasibility: DataFrame = {
    val users = readTable("jira_user")
    readTable("feasibility")
      .join(
        users.select(col("id").as("fk_reviewer"), col("username").as("reviewer_name")),
        Seq("fk_reviewer"), "left")
      .join(
        users.select(col("id").as("fk_reporter"), col("username").as("reporter_name")),
        Seq("fk_reporter"), "left")
      .join(
        readTable("project").select(col("id").as("fk_project"), col("name").as("project_name")),
        Seq("fk_project"), "left")
  }

  // Ordered: bootstrap → load → read-back → get-or-create → tolerant.
  test("bootstrap + normalize + JDBC load + read-back reproduces the five view inserts") {
    Sinks.bootstrapStarSchema(url, props)
    val (dims, fact) = Sinks.normalize(
      incoming, Map("jira_user" -> emptyDim, "project" -> emptyDim), specs)
    // dims first (FK constraints), then the fact
    Sinks.writeJdbc(dims("jira_user").withColumnRenamed("name", "username"),
      url, "\"jira_user\"", props, numPartitions = 2)
    Sinks.writeJdbc(dims("project"), url, "\"project\"", props, numPartitions = 2)
    Sinks.writeJdbc(Sinks.requireResolved(fact, specs), url, "\"feasibility\"", props, numPartitions = 2)

    // get_user_id semantics: dense ids ordered by name (testing.sql:18-27)
    val users = readTable("jira_user").collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(users == Map("user1" -> 1L, "user2" -> 2L, "user3" -> 3L, "user4" -> 4L))
    assert(readTable("project").count() == 4)

    // full view parity, all 20 columns, exact values
    val cols = incoming.columns.map(col)
    val got = vFeasibility.select(cols: _*).orderBy("key").collect().map(_.toSeq)
    val want = incoming.select(cols: _*).orderBy("key").collect().map(_.toSeq)
    assert(got.length == 5)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("dim get-or-create against the live database: new names extend, existing ids stable") {
    import spark.implicits._
    // testing.sql:1-11 — 'new.user.test' / 'NEWPROJ' get fresh ids
    val next = Seq(
      ("PROJECT1-1091", "new.user.test", "user1", "NEWPROJ"))
      .toDF("key", "reviewer_name", "reporter_name", "project_name")
    val existing = Map(
      "jira_user" -> readTable("jira_user").withColumnRenamed("username", "name"),
      "project" -> readTable("project"))
    val (dims, fact) = Sinks.normalize(next, existing, specs)
    val users = dims("jira_user").collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(users("new.user.test") == 5L) // appended after existing max
    assert(users("user1") == 1L && users.size == 5)
    val f = Sinks.requireResolved(fact, specs).collect()(0)
    assert(f.getLong(f.fieldIndex("fk_reviewer")) == 5L)
    assert(f.getLong(f.fieldIndex("fk_project")) == 5L)
  }

  test("writeJdbcTolerant: poisoned row is swallowed and counted, the rest land (helpers.js:100-104)") {
    import spark.implicits._
    val before = readTable("feasibility").count()
    val rows = Seq(
      // good row
      ("TOL-1", "Tolerant A", "1999-01-08 04:05:06", 2.0, 1L, 1L, 1L),
      // poison: duplicate PK (same key as the existing PROJECT1-1090… re-delivery)
      ("PROJECT1-1090", "Dup key", "1999-01-08 04:05:06", 2.0, 1L, 1L, 1L),
      // good row
      ("TOL-2", "Tolerant B", "1999-01-08 04:05:06", 2.0, 2L, 2L, 2L))
      .toDF("key", "summary", "created", "development_estimate",
        "fk_reviewer", "fk_reporter", "fk_project")
    val failed = Sinks.writeJdbcTolerant(rows, url, "\"feasibility\"", props, numPartitions = 2)
    assert(failed == 1L)
    val after = readTable("feasibility")
    assert(after.count() == before + 2)
    assert(after.filter(col("key").isin("TOL-1", "TOL-2")).count() == 2)
    // the duplicate key kept its ORIGINAL row (insert failed, not upserted)
    val orig = after.filter(col("key") === "PROJECT1-1090").collect()(0)
    assert(orig.getString(orig.fieldIndex("summary")) == "Test Feasibility A")
  }

  test("Postgres DDL pins the reference type inventory (schema.sql:22-59) and the Derby column set") {
    val pg = Sinks.postgresStarSchemaDdl
    assert(pg.length == 3)
    val feas = pg(2)
    // 6 estimate + 5 derived columns as REAL (schema.sql:39-53)
    assert("\\bREAL\\b".r.findAllIn(feas).length == 11, feas)
    assert("TIMESTAMP WITH TIME ZONE".r.findAllIn(feas).length == 2)
    assert("\\bJSON\\b".r.findAllIn(feas).length == 2)
    assert(pg(0).contains("SERIAL") && pg(1).contains("SERIAL"))
    assert(feas.contains("fk_reviewer INTEGER NOT NULL"))
    // every REAL column is in the boundary-cast list, and vice versa
    Sinks.feasibilityRealColumns.foreach(c => assert(feas.contains(s" $c REAL"), c))
    // the two dialects carry the same feasibility column inventory
    val colRe = "\n\\s+\"?([a-z_]+)\"?\\s".r
    def cols(ddl: String) = colRe.findAllMatchIn(ddl).map(_.group(1)).toSet
    // the live (Derby-bootstrapped) table is the other dialect's ground
    // truth: both must carry the same feasibility column inventory
    val fact = readTable("feasibility")
    assert(cols(feas).intersect(fact.columns.toSet) == fact.columns.toSet,
      s"postgres DDL misses ${fact.columns.toSet -- cols(feas)}")
  }

  test("REAL boundary cast: engine-side float32 rounding is IEEE round-to-nearest-even, bit-exact") {
    import spark.implicits._
    val tieDown = 1.0 + math.pow(2, -24) // halfway: rounds to even mantissa 1.0f
    val tieUp = 1.0 + 3 * math.pow(2, -24) // halfway: rounds UP to even mantissa
    val df = Seq(
      (1L, Some(0.1), Some(tieDown), Some(tieUp), Some(1e39)),
      (2L, None, None, None, None))
      .toDF("id", "delta", "pe_estimate", "qa_estimate", "delta_percentage")
    val out = Sinks.castForPostgresReal(df)
    // schema: REAL-bound columns became float; id untouched
    assert(out.schema("delta").dataType == org.apache.spark.sql.types.FloatType)
    assert(out.schema("id").dataType == org.apache.spark.sql.types.LongType)
    val r = out.filter(col("id") === 1L).collect()(0)
    def bits(name: String) = java.lang.Float.floatToIntBits(r.getFloat(r.fieldIndex(name)))
    // 0.1 -> nearest float32 (0x3dcccccd) — what Postgres REAL stores
    assert(bits("delta") == 0x3dcccccd, bits("delta").toHexString)
    // exact ties: round-to-nearest-EVEN, both directions
    assert(bits("pe_estimate") == 0x3f800000, bits("pe_estimate").toHexString)
    assert(bits("qa_estimate") == 0x3f800002, bits("qa_estimate").toHexString)
    // documented deviation: out-of-range saturates to Infinity here
    // (Postgres raises); unreachable on contract-conforming data
    assert(r.getFloat(r.fieldIndex("delta_percentage")).isPosInfinity)
    // nulls stay null through the cast
    val n = out.filter(col("id") === 2L).collect()(0)
    assert(n.isNullAt(n.fieldIndex("delta")))
  }

  test("one ETL batch loads from its one materialization: the sink steps never re-read the sources") {
    import spark.implicits._
    val existing = Map(
      "jira_user" -> Seq((1L, "rep1")).toDF("id", "name"),
      "project" -> Seq((1L, "PROJ1")).toDF("id", "name"))
    val batchUrl = JiraFixture.starSchema("graft_batch_once", existing)
    // F-4 errored: 1 of 5 lost, under the 25 % threshold
    val dir = JiraFixture.landBatch(errored = Seq("F-4"))
    val (batch, release) = JiraFixture.runBatch(spark, dir, thresholdPct = 25.0)
    try {
      // Etl.run has returned: from here on, reading any input fails
      val files = java.nio.file.Files.list(dir)
      try files.forEach(f => java.nio.file.Files.delete(f))
      finally files.close()
      java.nio.file.Files.delete(dir)
      JiraFixture.loadBatch(batch, existing, batchUrl, numPartitions = 2)
    } finally release()

    def table(t: String) = spark.read.jdbc(batchUrl, "\"" + t + "\"", props)
    val users = table("jira_user").collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(users == Map("rep1" -> 1L, "rev1" -> 2L, "rev2" -> 3L))
    val projects = table("project").collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(projects == Map("PROJ1" -> 1L, "PROJ2" -> 2L))
    val fact = table("feasibility")
      .select("key", "fk_reviewer", "fk_reporter", "fk_project", "feasibility_estimate_total")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(fact == Map(
      "F-1" -> ((2L, 1L, 1L, 20520.0)),
      "F-2" -> ((2L, 1L, 1L, 7200.0)),
      "F-3" -> ((3L, 1L, 1L, 3600.0)),
      "F-5" -> ((3L, 1L, 2L, 0.0))))
  }

  /** (stages, tasks) of one call of `write(df, table, cap)`. */
  private def writeShape(write: (DataFrame, String, Int) => Unit)(
      df: DataFrame, table: String, numPartitions: Int): (Int, Int) = {
    val (_, stages, tasks) = ExecShape.measureTasks(spark, "jdbc-cap") {
      write(df, table, numPartitions)
    }
    (stages, tasks)
  }

  test("writeJdbc caps connections by coalescing, never by a shuffle") {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try conn.createStatement().executeUpdate("""CREATE TABLE "cap" ("id" BIGINT NOT NULL)""")
    finally conn.close()
    val writers: Seq[(DataFrame, String, Int) => Unit] = Seq(
      (df, t, n) => Sinks.writeJdbc(df, url, t, props, numPartitions = n),
      (df, t, n) => assert(Sinks.writeJdbcTolerant(df, url, t, props, numPartitions = n) == 0L))
    writers.zipWithIndex.foreach { case (write, i) =>
      val base = 50L * i
      // 4 partitions under a cap of 2: 2 write tasks (2 connections), one stage
      assert(writeShape(write)(spark.range(base, base + 40, 1, 4).toDF(), "\"cap\"", 2) == ((1, 2)))
      // 1 partition under a cap of 2: written as it is, no shuffle stage
      assert(writeShape(write)(spark.range(base + 40, base + 50, 1, 1).toDF(), "\"cap\"", 2) == ((1, 1)))
      assert(spark.read.jdbc(url, "\"cap\"", props).count() == base + 50)
    }
  }
}
