package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's self-exonerating outlier protocol is only as good as
  * its ledger coverage: a query with no BASELINE.md line silently
  * escapes the >2× retry/exoneration pass (the r14 defect — a regex
  * that consumed the shared column separator dropped q133–q163,
  * including the iterative tail the extension existed to cover).
  * These tests pin (a) the parser against the packed 3-pair table
  * format, and (b) FULL ledger coverage of the query surface — adding
  * a query without a (provisional) ledger line fails the build, not a
  * future forensics session.
  */
class BenchLedgerSpec extends AnyFunSuite {

  test("parseLedger reads every column of packed multi-pair table rows") {
    // The extension table's 3-pair rows share their separators; the
    // middle pair must not be lost to a consumed trailing pipe.
    val ledger = Bench.parseLedger()
    assert(ledger.contains("q102"), "first extension column")
    assert(ledger.contains("q133"), "middle extension column (the r14 drop)")
    assert(ledger.contains("q148"), "the r13 regression line the protocol must cover")
    assert(ledger.contains("q164"), "last extension column")
    assert(ledger.contains("q01") && ledger.contains("q101"), "original table intact")
    // spot values parse as positive seconds (the extension regenerates
    // per round, so no literal pins — structure is the invariant)
    assert(ledger("q133") > 0 && ledger("q148") > 0)
    assert(ledger("q01") === 1.158) // the original table is immutable
  }

  test("every SparkEntry query has a BASELINE.md ledger line") {
    val ledger = Bench.parseLedger()
    val missing = SparkEntry.queries.keys.map(_.takeWhile(_ != '_')).toVector.distinct
      .filterNot(ledger.contains)
      .sorted
    assert(
      missing.isEmpty,
      s"queries with NO ledger line (outlier retry protocol blind there — add a " +
        s"provisional min-of-5 line to BASELINE.md): ${missing.mkString(", ")}")
  }

  test("ledger segments are declared, ordered, and cover the whole ledger") {
    val segments = Bench.parseLedgerSegments()
    assert(segments.nonEmpty, "LEDGER_SEGMENTS line missing from BASELINE.md")
    assert(segments.forall { case (lo, hi, c) => lo <= hi && c > 0 })
    // every ledger line falls in exactly one declared segment
    val ledger = Bench.parseLedger()
    val uncovered = ledger.keys.toVector.filter { q =>
      val n = q.drop(1).toInt
      segments.count { case (lo, hi, _) => n >= lo && n <= hi } != 1
    }
    assert(uncovered.isEmpty, s"ledger lines outside any (or in multiple) segments: $uncovered")
  }

  test("phase_error: a message with newlines and control chars keeps the detail JSON valid") {
    val msg = "java.lang.IllegalStateException: boom\n\tat graft.X(X.scala:1)\r\u0001 \"q\" \\ end"
    val doc = s"""{\n"queries": {}${Bench.phaseErrorJson(msg)}\n}\n"""
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(doc)
    assert(tree.get("phase_error").asText() == msg)
  }

  test("groupReps: the first group gets the full reps; an exhausted budget sheds the group") {
    // first group: a full budget, no per-unit rate learned yet
    assert(Bench.groupReps(reps = 3, spendable = 3000.0, groupsLeft = 25, perUnitSec = 0.0) == Some(3))
    // nothing (or less than the fork floor) left: shed, whatever the rate
    assert(Bench.groupReps(reps = 3, spendable = 0.0, groupsLeft = 5, perUnitSec = 10.0) == None)
    assert(Bench.groupReps(reps = 3, spendable = -50.0, groupsLeft = 5, perUnitSec = 0.0) == None)
    assert(Bench.groupReps(reps = 3, spendable = Bench.ForkFloorSec - 1, groupsLeft = 1, perUnitSec = 1.0) == None)
    // a tight budget sheds reps before it sheds the group: share 200 s
    // at 40 s/unit is 5 units, 2 of them the fork's own cost
    assert(Bench.groupReps(reps = 5, spendable = 400.0, groupsLeft = 2, perUnitSec = 40.0) == Some(3))
    assert(Bench.groupReps(reps = 5, spendable = 400.0, groupsLeft = 4, perUnitSec = 40.0) == Some(1))
  }
}
