package graft.benchmark

import org.scalatest.funsuite.AnyFunSuite

class JiraGenSpec extends AnyFunSuite {
  private def lines(b: JiraGen.Batch): Seq[String] =
    b.issues.map(JiraGen.issueJson) ++ b.worklogs.toSeq.sortBy(_._1).map { case (k, w) => JiraGen.worklogJson(k, w) } ++
      b.errored.map(JiraGen.erroredJson)

  test("the same seed and tag give the same batch; another seed or tag gives another") {
    val a = JiraGen.batch(7, "B0", 500)
    assert(lines(a) == lines(JiraGen.batch(7, "B0", 500)))
    assert(JiraGen.expected(a) == JiraGen.expected(JiraGen.batch(7, "B0", 500)))
    assert(lines(a) != lines(JiraGen.batch(8, "B0", 500)))
    assert(lines(a) != lines(JiraGen.batch(7, "B1", 500)).map(_.replace("B1-", "B0-")))
  }

  test("batches stay under the quality gate and every feasibility resolves all three dims") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val b = JiraGen.batch(seed, "B0", 2000)
      assert(b.errored.size < 2000 * 0.2)
      assert(b.errored.nonEmpty)
      b.issues.foreach(i => assert(i.reviewer != null && i.reporter != null && i.project != null))
    }
  }

  test("the oracle covers every null trap") {
    val want = JiraGen.expected(JiraGen.batch(1, "B0", 2000))
    assert(want.exists(_.linked.isEmpty), "no links")
    assert(want.exists(w => w.linked.contains(0.0) && w.delta.isEmpty), "links without worklogs")
    assert(want.exists(w => w.estimateTotal == 0.0 && w.linked.exists(_ > 0) && w.delta.isEmpty), "zero estimates")
    assert(want.exists(_.timespent.isEmpty), "empty or missing worklog")
    assert(want.exists(w => w.delta.nonEmpty && w.deltaPercentage.nonEmpty), "full delta")
  }

  test("the oracle follows the reference's delta formulas") {
    val i = JiraGen.Issue("T-1", "u", "r", "p", "c", None,
      Seq(Some(1.0), None, Some(0.0), Some(2.0), None, None),
      Seq(JiraGen.Link("T-L1", JiraGen.FeasibilityLink, inward = false),
        JiraGen.Link("T-L2", "10200", inward = true),
        JiraGen.Link("T-L3", JiraGen.FeasibilityLink, inward = true)))
    val b = JiraGen.Batch(Seq(i), Map("T-L1" -> Seq(600L, 1200L), "T-L2" -> Seq(50L), "T-L3" -> Nil, "T-1" -> Seq(30L)), Nil)
    val Seq(e) = JiraGen.expected(b)
    assert(e.estimateTotal == 3 * 3600.0)
    assert(e.linked.contains(1800.0)) // the non-feasibility link and the empty worklog add nothing
    assert(e.timespent.contains(30.0))
    assert(e.delta.contains(10800.0 - 1800.0))
    assert(e.deltaPercentage.contains((10800.0 - 1800.0) / ((10800.0 + 1800.0) / 2.0) * 100.0))
  }
}
