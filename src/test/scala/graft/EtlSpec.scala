package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.pipeline.Etl

/** End-to-end fidelity of the five-stage pipeline against JIRA-shaped
  * JSON — the engine's port of the reference's manual test rows
  * (testing.sql:32-80), with every §2.10 null trap asserted:
  *  F-1 links+worklogs → full delta; F-2 no links → null delta;
  *  F-3 links w/o worklogs → linked 0, null delta; F-4 worklog w/o
  *  links; F-5 zero estimates → null delta.
  */
class EtlSpec extends AnyFunSuite with BeforeAndAfterAll with SparkTimeLimit {
  lazy val spark = SparkTestSession.spark
  // the slowest test takes 1.2 s in a full run on 4 cores; 2 minutes
  // also covers a cold session start when the spec runs alone
  val timeLimit = 2.minutes

  // Etl.run persists each batch it computes.
  override def afterAll(): Unit = GraftSession.releaseAllCaches(spark)

  private def jsonDf(rows: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.json(rows.toDS)
  }

  private def raw = jsonDf(JiraFixture.rawRows)

  private def worklogs = jsonDf(JiraFixture.worklogRows)

  private def details = jsonDf(JiraFixture.detailRows)

  private def emptyErrored = {
    import spark.implicits._
    Seq.empty[String].toDF("key")
  }

  private lazy val out = Etl
    .run(raw, worklogs, details, emptyErrored)
    .collect()
    .map(r => r.getString(r.fieldIndex("key")) -> r)
    .toMap

  private def d(key: String, col: String): Option[Double] = {
    val r = out(key)
    val i = r.fieldIndex(col)
    if (r.isNullAt(i)) None else Some(r.getDouble(i))
  }

  test("F-1: links + worklogs → estimates in seconds, full delta (testing.sql:39-44)") {
    // hours 1.2+2+0+1+0.5+1 = 5.7 → 20520 s; linked 3600+1800+7200 = 12600
    assert(d("F-1", "design_estimate").contains(1.2 * 3600))
    assert(d("F-1", "development_pad_estimate").contains(0.0)) // null → 0 s (§2.10-4)
    assert(d("F-1", "feasibility_estimate_total").contains(20520.0))
    assert(d("F-1", "feasibility_timespent").contains(900.0))
    assert(d("F-1", "linked_timespent").contains(12600.0))
    assert(d("F-1", "delta").contains(20520.0 - 12600.0))
    assert(d("F-1", "delta_percentage")
      .contains((20520.0 - 12600.0) / ((20520.0 + 12600.0) / 2.0) * 100.0))
  }

  test("F-2: no qualifying links → null linked timespent, null delta (§2.10-3)") {
    assert(d("F-2", "linked_timespent").isEmpty)
    assert(d("F-2", "delta").isEmpty && d("F-2", "delta_percentage").isEmpty)
    assert(d("F-2", "feasibility_timespent").isEmpty) // empty worklog → null (§2.10-2)
    val r = out("F-2")
    assert(r.isNullAt(r.fieldIndex("issue_links"))) // type-999 link filtered (P3)
  }

  test("F-3: links without worklogs → linked 0 (not null), delta null via falsy guard (§2.10-1)") {
    assert(d("F-3", "linked_timespent").contains(0.0))
    assert(d("F-3", "delta").isEmpty && d("F-3", "delta_percentage").isEmpty)
  }

  test("F-4: worklog without links; null reviewer survives null-safe access") {
    assert(d("F-4", "feasibility_timespent").contains(1200.0))
    assert(d("F-4", "linked_timespent").isEmpty)
    val r = out("F-4")
    assert(r.isNullAt(r.fieldIndex("reviewer")))
  }

  test("F-5: zero estimate total → null delta even with linked worklogs (falsy 0)") {
    assert(d("F-5", "feasibility_estimate_total").contains(0.0))
    assert(d("F-5", "linked_timespent").contains(500.0))
    assert(d("F-5", "delta").isEmpty)
  }

  test("storage JSON round-trips: worklog total and link enrichment survive to_json") {
    val r = out("F-1")
    val wl = r.getString(r.fieldIndex("worklog"))
    assert(wl.contains(""""total":900"""))
    val linksJson = r.getString(r.fieldIndex("issue_links"))
    assert(linksJson.contains(""""L-1""""))
    assert(linksJson.contains(""""resolution":"Done""""))
    assert(linksJson.contains(""""reviewer":"ldev""""))
  }

  test("pipeline runs end-to-end through the DSv2 connector with identical results") {
    val path = JiraFixture.writeLines(JiraFixture.rawRows, "issues.jsonl")
    val rawV2 = spark.read
      .format("graft.sources.JiraSearchSource")
      .option("path", path)
      .load()
    val outV2 = Etl
      .run(rawV2, worklogs, details, emptyErrored)
      .collect()
      .map(r => r.getString(r.fieldIndex("key")) -> r)
      .toMap
    assert(outV2.keySet == out.keySet)
    // Every flat column must match the inferred-schema pipeline run.
    val cols = Seq("summary", "reviewer", "project", "delta", "delta_percentage",
      "feasibility_timespent", "linked_timespent", "feasibility_estimate_total",
      "issue_links", "worklog")
    outV2.keySet.foreach { k =>
      val (a, b) = (out(k), outV2(k))
      cols.foreach { c =>
        val (ia, ib) = (a.fieldIndex(c), b.fieldIndex(c))
        assert(
          (a.isNullAt(ia) && b.isNullAt(ib)) || a.get(ia) == b.get(ib),
          s"$k.$c: ${a.get(ia)} != ${b.get(ib)}")
      }
    }
  }

  test("quality gate prunes errored parents and aborts past threshold (etl.js:249-278)") {
    import spark.implicits._
    val errored = Seq("F-1", "F-3").toDF("key") // 40% loss
    intercept[IllegalArgumentException] {
      Etl.run(raw, worklogs, details, errored, thresholdPct = 20.0).collect()
    }
    val ok = Etl.run(raw, worklogs, details, errored, thresholdPct = 50.0)
    assert(ok.count() == 3)
  }

  /** Rows `Etl.run` keeps, against the left-anti join's count of the
    * extracted issues (the gate before it was fused into one aggregate).
    */
  private def keptVsAnti(rawDf: DataFrame, errored: DataFrame): (Long, Long) = {
    val (kept, release) = Etl.runReleasable(rawDf, worklogs, details, errored, thresholdPct = 50.0)
    try (kept.count(), Etl.extractIssues(rawDf).join(errored, Seq("key"), "left_anti").count())
    finally release()
  }

  test("runReleasable: the handle releases exactly the batch's cache; an abort leaves none") {
    import spark.implicits._
    val sc = spark.sparkContext
    val own = Seq(1, 2, 3).toDF("x").persist()
    try {
      own.count()
      val before = sc.getPersistentRDDs.keySet
      val (kept, release) = Etl.runReleasable(raw, worklogs, details, emptyErrored)
      assert(sc.getPersistentRDDs.size == before.size + 1) // the gate's aggregate filled it
      assert(kept.count() == 5)
      release()
      assert(sc.getPersistentRDDs.keySet == before)
      assert(own.storageLevel.useMemory)
      intercept[IllegalArgumentException] {
        Etl.runReleasable(raw, worklogs, details, Seq("F-1", "F-3").toDF("key"), thresholdPct = 20.0)
      }
      assert(sc.getPersistentRDDs.keySet == before)
    } finally own.unpersist()
  }

  test("quality gate: an empty batch passes (0/0 is NaN, below any threshold)") {
    val (kept, anti) = keptVsAnti(raw.filter(lit(false)), emptyErrored)
    assert(kept == 0 && anti == 0)
  }

  test("quality gate: duplicate errored keys count once") {
    import spark.implicits._
    val (kept, anti) = keptVsAnti(raw, Seq("F-1", "F-1", "F-3", "F-3").toDF("key"))
    assert(kept == 3 && anti == 3)
  }

  test("quality gate: an issue with a NULL key is kept, as the left-anti join keeps it") {
    import spark.implicits._
    val nullKey = JiraFixture.issue("F-6", "rev1", """"customfield_14600": 1""", "")
      .replace(""""key": "F-6"""", """"key": null""")
    val (kept, anti) = keptVsAnti(jsonDf(JiraFixture.rawRows :+ nullKey), Seq(Some("F-1"), None).toDF("key"))
    assert(kept == 5 && anti == 5)
  }
}
