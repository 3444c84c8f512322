package graft.benchmark

import scala.util.Random

/** Seeded generator of one daily batch of JIRA-shaped JSON lines, and
  * its oracle: each feasibility's expected loaded values computed in
  * plain Scala, with no Spark, under the reference's null traps (no
  * links, links without worklogs, zero estimates, empty worklogs).
  */
object JiraGen {
  /** The feasibility link type; every other type is filtered out. */
  val FeasibilityLink = "10211"
  val OtherLinks: Seq[String] = Seq("10200", "10300")
  val Users: IndexedSeq[String] = (0 until 150).map(i => f"user$i%03d")
  val Projects: IndexedSeq[String] = (0 until 25).map(i => f"PROJ$i%02d")

  final case class Link(key: String, typeId: String, inward: Boolean)

  final case class Issue(
      key: String,
      reviewer: String,
      reporter: String,
      project: String,
      created: String,
      resolved: Option[String],
      /** Hours in `Etl`'s estimate order: design, development,
        * development pad, PE, PM, QA.
        */
      estimates: Seq[Option[Double]],
      links: Seq[Link])

  /** `worklogs` maps a key to its worklog entries (seconds); a key with
    * no entry has no worklog row, an empty entry is an empty array.
    */
  final case class Batch(issues: Seq[Issue], worklogs: Map[String, Seq[Long]], errored: Seq[String]) {
    def linkKeys: Seq[String] = issues.flatMap(_.links.map(_.key))
  }

  final case class Expected(
      key: String,
      reviewer: String,
      reporter: String,
      project: String,
      estimateTotal: Double,
      timespent: Option[Double],
      linked: Option[Double],
      delta: Option[Double],
      deltaPercentage: Option[Double])

  /** Estimate custom fields in the order of `Issue.estimates`. */
  val EstimateFields: Seq[String] =
    Seq("customfield_14604", "customfield_14600", "customfield_14607", "customfield_14603", "customfield_14602",
      "customfield_14601")

  private def worklog(r: Random): Option[Seq[Long]] = {
    val u = r.nextDouble()
    if (u < 0.3) None
    else if (u < 0.4) Some(Nil)
    else Some(Seq.fill(1 + r.nextInt(4))(60L * (1 + r.nextInt(480))))
  }

  private def estimate(r: Random): Option[Double] = {
    val u = r.nextDouble()
    if (u < 0.2) None else if (u < 0.3) Some(0.0) else Some(0.25 * (1 + r.nextInt(160)))
  }

  /** Batch `tag` of `size` feasibilities; the same seed and tag give
    * the same batch. Keys carry the tag, so batches never collide.
    */
  def batch(seed: Long, tag: String, size: Int): Batch = {
    val r = new Random(seed * 7919L + tag.hashCode)
    val wl = Map.newBuilder[String, Seq[Long]]
    val errored = Seq.newBuilder[String]
    val issues = (0 until size).map { i =>
      val key = s"$tag-$i"
      // One in twenty carries no estimate at all: the zero-total trap.
      val est = if (r.nextDouble() < 0.05) Seq.fill(6)(if (r.nextBoolean()) None else Some(0.0))
        else Seq.fill(6)(estimate(r))
      val links = (0 until r.nextInt(6)).map { k =>
        val t = if (r.nextDouble() < 0.8) FeasibilityLink else OtherLinks(r.nextInt(OtherLinks.size))
        Link(s"$tag-L$i.$k", t, r.nextBoolean())
      }
      (key +: links.map(_.key)).foreach(k => worklog(r).foreach(w => wl += k -> w))
      if (r.nextDouble() < 0.05) errored += key
      Issue(
        key,
        Users(r.nextInt(Users.size)),
        Users(r.nextInt(Users.size)),
        Projects(r.nextInt(Projects.size)),
        f"2019-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02dT10:00:00.000+0000",
        if (r.nextDouble() < 0.7) Some("2020-01-15T10:00:00.000+0000") else None,
        est,
        links)
    }
    Batch(issues, wl.result(), errored.result())
  }

  private def q(s: String): String = "\"" + s + "\""
  private def num(d: Option[Double]): String = d.fold("null")(_.toString)

  def issueJson(i: Issue): String = {
    val est = EstimateFields.zip(i.estimates).map { case (f, v) => s"${q(f)}: ${num(v)}" }.mkString(", ")
    val links = i.links.map { l =>
      val side = if (l.inward) "inwardIssue" else "outwardIssue"
      s"""{"type": {"id": ${q(l.typeId)}}, ${q(side)}: {"key": ${q(l.key)}, "fields": {"summary": ${q("work " + l.key)}, """ +
        s""""status": {"name": "Done"}, "issuetype": {"name": "Development"}}}}"""
    }.mkString(", ")
    s"""{"key": ${q(i.key)}, "fields": {"summary": ${q("Feasibility " + i.key)}, "customfield_12501": {"name": ${q(i.reviewer)}}, """ +
      s""""reporter": {"name": ${q(i.reporter)}}, "project": {"key": ${q(i.project)}}, "created": ${q(i.created)}, """ +
      s""""resolutiondate": ${i.resolved.fold("null")(q)}, $est, "issuelinks": [$links]}}"""
  }

  def worklogJson(key: String, entries: Seq[Long]): String = {
    val es = entries.zipWithIndex.map { case (s, n) =>
      s"""{"author": {"name": ${q(Users(n % Users.size))}}, "timeSpentSeconds": $s, "id": ${q(s"$key/$n")}}"""
    }.mkString(", ")
    s"""{"key": ${q(key)}, "worklogs": [$es]}"""
  }

  def detailJson(key: String): String =
    s"""{"key": ${q(key)}, "fields": {"customfield_12501": {"name": "user000"}, "reporter": {"name": "user001"}, """ +
      s""""project": {"key": "PROJ00"}, "created": "2019-01-05T10:00:00.000+0000", "resolution": {"name": "Done"}, """ +
      s""""resolutiondate": "2019-01-20T10:00:00.000+0000"}}"""

  def erroredJson(key: String): String = s"""{"key": ${q(key)}}"""

  /** What the load must hold for every feasibility that passes the
    * quality gate, in the same floating-point evaluation order `Etl`
    * uses.
    */
  def expected(b: Batch): Seq[Expected] = {
    val gated = b.errored.toSet
    def total(k: String): Option[Long] = b.worklogs.get(k).filter(_.nonEmpty).map(_.sum)
    b.issues.filterNot(i => gated(i.key)).map { i =>
      val est = i.estimates.map(h => h.getOrElse(0.0) * 3600.0).reduce(_ + _)
      val feasLinks = i.links.filter(_.typeId == FeasibilityLink)
      val linked = if (feasLinks.isEmpty) None else Some(feasLinks.map(l => total(l.key).getOrElse(0L)).sum.toDouble)
      val guarded = linked.filter(l => est != 0.0 && l != 0.0)
      Expected(
        i.key, i.reviewer, i.reporter, i.project, est,
        total(i.key).map(_.toDouble),
        linked,
        guarded.map(l => est - l),
        guarded.map(l => (est - l) / ((est + l) / 2.0) * 100.0))
    }
  }
}
