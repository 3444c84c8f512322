package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Scalars._
import graft.operators.Relational

/** The reference's five-stage ETL pipeline (etl.js:65-77) re-expressed
  * as composable DataFrame stages — SURVEY.md §3.1's "Spark shape":
  * HTTP fan-out becomes source joins, client-side correlation becomes
  * left-outer equi-joins, the transform loop becomes one projection.
  * [[run]] computes a batch once: the quality gate's aggregate fills a
  * persisted copy, and every sink step reads that copy.
  *
  * Sources stand in for the reference's network scans:
  *  - `raw`: JIRA search payload rows (issues array elements;
  *    etl.js:92-195 / S1)
  *  - `worklogs`: per-issue worklog arrays (helpers.js:41-88 / S3)
  *  - `issueDetails`: linked-issue detail rows (S4)
  *  - `errored`: keys whose supplemental fetch failed (status ≠ 200)
  *
  * Null-trap fidelity (SURVEY.md §2.10) is inherited from
  * [[graft.functions.Scalars]]: empty worklog ⇒ null, 0 estimate or 0
  * actual ⇒ null delta, links-without-worklogs ⇒ 0 linked timespent,
  * no-links ⇒ null linked timespent.
  */
object Etl {

  /** P1 — the 13-field projection (etl.js:127-148). Struct access is
    * null-safe natively, so `customfield_12501 && .name` needs no
    * guard; `project` is the project KEY (etl.js:133), not its name.
    */
  def extractIssues(raw: DataFrame): DataFrame =
    raw.select(
      col("key"),
      col("fields.summary").as("summary"),
      col("fields.customfield_12501.name").as("reviewer"),
      col("fields.reporter.name").as("reporter"),
      col("fields.project.key").as("project"),
      col("fields.created").as("created"),
      col("fields.resolutiondate").as("resolution_date"),
      col("fields.customfield_14604").cast("double").as("design_estimate"),
      col("fields.customfield_14600").cast("double").as("development_estimate"),
      col("fields.customfield_14607").cast("double").as("development_pad_estimate"),
      col("fields.customfield_14603").cast("double").as("pe_estimate"),
      col("fields.customfield_14602").cast("double").as("pm_estimate"),
      col("fields.customfield_14601").cast("double").as("qa_estimate"))

  /** P2/P3 — explode issue links, keep feasibility-type links only
    * (type.id = '10211'), project the outward-or-inward issue
    * (etl.js:160-174). The reference nests links as a keyed map; the
    * engine keeps the exploded child table (SURVEY.md §1.3 — the
    * preferred shape at scale) and re-nests only for storage.
    */
  def extractLinks(raw: DataFrame): DataFrame =
    raw
      .select(col("key").as("feas_key"), explode(col("fields.issuelinks")).as("link"))
      .filter(col("link.type.id") === "10211")
      .select(
        col("feas_key"),
        coalesce(col("link.outwardIssue"), col("link.inwardIssue")).as("d"))
      .select(
        col("feas_key"),
        col("d.key").as("link_key"),
        col("d.fields.summary").as("summary"),
        col("d.fields.status.name").as("status"),
        col("d.fields.issuetype.name").as("issuetype"))

  /** P4/P5/A1 — per-issue worklog projection and pre-aggregated total
    * (helpers.js:114-136): entries keep {author, timespent, unit, id};
    * an EMPTY array normalizes to a null struct (§2.10-2); the total is
    * an array fold, not a shuffle.
    */
  def parseWorklogs(worklogs: DataFrame): DataFrame = {
    val entries = transform(
      col("worklogs"),
      w =>
        struct(
          w.getField("author").getField("name").as("author"),
          w.getField("timeSpentSeconds").cast("long").as("timespent"),
          lit("seconds").as("unit"),
          w.getField("id").as("id")))
    worklogs
      .select(col("key"), emptyToNull(entries).as("entries"))
      .select(
        col("key"),
        when(col("entries").isNull, lit(null))
          .otherwise(
            struct(
              col("entries").as("worklog"),
              aggregate(col("entries"), lit(0L), (a, x) => a + x.getField("timespent"))
                .as("total")))
          .as("worklog"))
  }

  /** J2 — merge-enrichment join (etl.js:223-233): linked-issue details
    * merged onto each link row (the reference `_.merge`s into the link
    * struct; the child-table shape makes it a plain left join).
    */
  def enrichLinks(links: DataFrame, issueDetails: DataFrame): DataFrame = {
    val d = issueDetails.select(
      col("key").as("link_key"),
      col("fields.customfield_12501.name").as("link_reviewer"),
      col("fields.reporter.name").as("link_reporter"),
      col("fields.project.key").as("link_project"),
      col("fields.created").as("link_created"),
      col("fields.resolution.name").as("link_resolution"),
      col("fields.resolutiondate").as("link_resolution_date"))
    links.join(d, Seq("link_key"), "left")
  }

  /** J1 (grandparent variant) — attach each linked issue's worklog
    * rollup to its link row.
    */
  def attachLinkWorklogs(links: DataFrame, parsedWorklogs: DataFrame): DataFrame =
    links.join(
      parsedWorklogs.select(col("key").as("link_key"), col("worklog").as("link_worklog")),
      Seq("link_key"),
      "left")

  private val EstimateCols = Seq(
    "design_estimate",
    "development_estimate",
    "development_pad_estimate",
    "pe_estimate",
    "pm_estimate",
    "qa_estimate")

  /** A2/A3/F4–F6 — the transform stage (etl.js:285-304,
    * helpers.js:247-321): estimates mutate to seconds (§2.10-4), the
    * horizontal estimate fold, feasibility/linked timespent with their
    * distinct null semantics, the falsy-guarded delta, and the
    * JSON-compressed nested columns for storage.
    */
  def transformData(feas: DataFrame, parsedWorklogs: DataFrame, enrichedLinks: DataFrame): DataFrame = {
    // links exist ⇒ one agg row (missing link worklogs contribute 0);
    // no links ⇒ no row ⇒ NULLs survive the left join (§2.10-3).
    val linkAgg = enrichedLinks
      .groupBy(col("feas_key").as("key"))
      .agg(
        sum(coalesce(col("link_worklog.total"), lit(0L))).cast("double").as("linked_timespent"),
        to_json(
          map_from_entries(sort_array(collect_list(struct(
            col("link_key"),
            struct(
              col("summary"),
              col("status"),
              col("issuetype"),
              col("link_worklog").as("worklog"),
              col("link_reviewer").as("reviewer"),
              col("link_reporter").as("reporter"),
              col("link_project").as("project"),
              col("link_created").as("created"),
              col("link_resolution").as("resolution"),
              col("link_resolution_date").as("resolution date")))))))
          .as("issue_links"))
    val estimateSeconds = EstimateCols.map(c => hoursToSeconds(col(c)).as(c))
    val estimateTotal = EstimateCols.map(c => hoursToSeconds(col(c))).reduce(_ + _)
    feas
      .join(parsedWorklogs, Seq("key"), "left")
      .join(linkAgg, Seq("key"), "left")
      .select(
        Seq(
          col("key"),
          col("summary"),
          col("reviewer"),
          col("reporter"),
          col("project"),
          col("created"),
          col("resolution_date")) ++
          estimateSeconds ++
          Seq(
            col("worklog.total").cast("double").as("feasibility_timespent"),
            col("linked_timespent"),
            estimateTotal.as("feasibility_estimate_total"),
            deltaCol(estimateTotal, col("linked_timespent")).as("delta"),
            deltaPercentageCol(estimateTotal, col("linked_timespent")).as("delta_percentage"),
            col("issue_links"),
            to_json(col("worklog")).as("worklog")): _*)
  }

  /** The whole series pipeline (X1): extract → correlate → transform →
    * validate (Q1, etl.js:249-278), one batch computed once. The
    * transformed batch goes through [[Relational.qualityGate]] (`errored`
    * carries the already-resolved parent key, `grandparent || parent`,
    * etl.js:257), which persists it (MEMORY_AND_DISK), counts it in the
    * aggregate that fills the cache, and aborts before anything is
    * written. So the sources are read once per batch, however many
    * sink steps follow.
    *
    * The returned frame is the persisted batch minus its errored rows;
    * it stays cached until released. Use [[runReleasable]] to release
    * exactly this batch once it is loaded (`unpersist()` on the
    * returned frame does not reach the cache beneath its filter), or
    * sweep the session with [[graft.GraftSession.releaseAllCaches]].
    */
  def run(
      raw: DataFrame,
      worklogs: DataFrame,
      issueDetails: DataFrame,
      errored: DataFrame,
      thresholdPct: Double = 20.0): DataFrame =
    runReleasable(raw, worklogs, issueDetails, errored, thresholdPct)._1

  /** [[run]] plus a handle that unpersists exactly this batch's cache,
    * leaving any other cache in the session alone.
    */
  def runReleasable(
      raw: DataFrame,
      worklogs: DataFrame,
      issueDetails: DataFrame,
      errored: DataFrame,
      thresholdPct: Double = 20.0): (DataFrame, () => Unit) = {
    val parsed = parseWorklogs(worklogs)
    val links = attachLinkWorklogs(enrichLinks(extractLinks(raw), issueDetails), parsed)
    Relational.qualityGate(
      transformData(extractIssues(raw), parsed, links),
      errored.select(col("key")),
      "key",
      thresholdPct)
  }
}
