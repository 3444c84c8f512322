package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

class CoreQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and every query has an oracle or is rows-only") {
    // Sweep per query (the Bench/Verify discipline): some operators
    // persist intermediates as a documented contract (q109's count
    // tables), and the finally keeps a mid-loop failure from leaking
    // them into the shared session and later suites' cache asserts.
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val n = fn(spark, sf).count()
        assert(n >= 0, s"$name failed")
      } finally GraftSession.releaseAllCaches(spark)
    }
  }

  test("q06: childless parents keep NULL rollup but 0 linked_total (§2.10-2/3)") {
    val df = SparkEntry.queries("q06_child_rollup")(spark, sf)
    val childless = df.filter(col("worklog_total").isNull)
    if (childless.count() > 0) {
      val r = childless.select("n_entries", "linked_total").collect()(0)
      assert(r.getLong(0) == 0L && r.getDouble(1) == 0.0)
    }
  }

  /** The rows the quality gate keeps, with its cache released. */
  private def gateKept(parents: DataFrame, errored: DataFrame, thresholdPct: Double): Seq[Row] = {
    val (kept, release) = Relational.qualityGate(parents, errored, "k", thresholdPct)
    try kept.collect().toSeq
    finally release()
  }

  test("quality gate aborts above threshold and passes below (etl.js:269-274)") {
    import spark.implicits._
    val parents = Seq(1, 2, 3, 4, 5).toDF("k")
    val errored = Seq(1, 2).toDF("k") // 40% loss
    intercept[IllegalArgumentException] {
      gateKept(parents, errored, 20.0)
    }
    intercept[IllegalArgumentException] {
      gateKept(parents, Seq(1).toDF("k"), 20.0) // a 20% loss reaches a 20% threshold (>=)
    }
    val (ok, release) = Relational.qualityGate(parents, Seq(1).toDF("k"), "k", 25.0)
    try {
      assert(ok.count() == 4)
      assert(ok.columns.toSeq == Seq("k"))
    } finally release()
  }

  test("quality gate: the fused counts equal the left-anti counts on the edge cases") {
    import spark.implicits._
    val cases = Seq(
      ("empty batch", Seq.empty[Option[Int]], Seq(Some(1))),
      ("duplicate errored keys", (1 to 5).map(Some(_)), Seq(Some(2), Some(2), Some(2))),
      ("NULL parent key", Seq(Some(1), None, Some(3), Some(4), Some(5), Some(6)), Seq(Some(1), None)))
    cases.foreach { case (label, ps, es) =>
      val (parents, errored) = (ps.toDF("k"), es.toDF("k"))
      val stats = Relational.qualityGateStats(parents, errored, "k").head()
      val change = math.abs((stats.getLong(1) - stats.getLong(0)).toDouble / stats.getLong(0)) * 100.0
      // The gate aborts at exactly the left-anti change and passes just
      // above it only if its one aggregate counts what the left-anti
      // join counts. An empty batch's 0/0 is NaN, below any threshold.
      val passAt =
        if (change.isNaN) 0.0
        else {
          intercept[IllegalArgumentException](gateKept(parents, errored, change))
          change + 1e-9
        }
      val kept = gateKept(parents, errored, passAt).map(r => String.valueOf(r.get(0)))
      val antiKept = parents.join(errored, Seq("k"), "left_anti").collect().map(r => String.valueOf(r.get(0)))
      assert(kept.sorted == antiKept.toSeq.sorted, label)
    }
  }

  /** The numbering `dimGetOrCreate` used before it moved to the driver:
    * [[Relational.globalRowNumber]] over the distributed new names. The
    * reference for the driver numbering's ids.
    */
  private def dimGetOrCreateDistributed(existing: DataFrame, incomingNames: DataFrame): DataFrame = {
    val maxId = existing.agg(coalesce(max(col("id")), lit(0L)).as("max_id"))
    val newNames = incomingNames
      .select(col("name"))
      .filter(col("name").isNotNull)
      .distinct()
      .join(existing.select("name"), Seq("name"), "left_anti")
    val newRows = Relational
      .globalRowNumber(newNames, "name", numPartitions = 8)
      .crossJoin(maxId)
      .select((col("rn") + col("max_id")).as("id"), col("name"))
    existing.select(col("id"), col("name")).unionByName(newRows)
  }

  test("dimGetOrCreate: driver numbering = the distributed numbering, in Spark's string order") {
    import spark.implicits._
    // U+FF21 sorts before U+1F600 in UTF-8 bytes (Spark) but after it
    // in UTF-16 units (String.compareTo)
    assert("\uFF21".compareTo("\uD83D\uDE00") > 0)
    val existing = Seq((3L, "beta"), (7L, "alpha")).toDF("id", "name")
    val incoming = Seq("\uD83D\uDE00", "\uFF21", "zeta", "beta", "Zeta", "\u00e9", "e", null, "\uFF21")
      .toDF("name")
    def ids(df: DataFrame) = df.collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    val got = ids(Relational.dimGetOrCreate(existing, incoming))
    assert(got == ids(dimGetOrCreateDistributed(existing, incoming)))
    assert(got("\uFF21") == 12L && got("\uD83D\uDE00") == 13L)
    assert(got.values.toSeq.sorted == Seq(3L, 7L) ++ (8L to 13L))
  }

  test("dimGetOrCreate: dense ids, idempotent, appends after existing (schema.sql:105-134)") {
    import spark.implicits._
    val existing = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    val incoming = Seq("beta", "gamma", "delta", "gamma").toDF("name")
    val dim = Relational.dimGetOrCreate(existing, incoming).collect()
    val byName = dim.map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(byName == Map("alpha" -> 1L, "beta" -> 2L, "delta" -> 3L, "gamma" -> 4L))
    // idempotent: re-running with the same incoming adds nothing
    val dimDf = dim.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("id", "name")
    val again = Relational.dimGetOrCreate(dimDf, incoming)
    assert(again.count() == 4)
  }

  test("dimGetOrCreate: NULL names are dropped, not re-created each call") {
    import spark.implicits._
    val existing = Seq((1L, "alpha")).toDF("id", "name")
    val incoming = Seq(Some("beta"), None, None).toDF("name")
    val dim = Relational.dimGetOrCreate(existing, incoming)
    assert(dim.count() == 2)
    assert(dim.filter(col("name").isNull).count() == 0)
    // idempotent under NULLs: a second pass adds nothing
    val again = Relational.dimGetOrCreate(dim, incoming)
    assert(again.count() == 2)
  }

  test("resolveDimFk: only the fk column joins in; pre-existing id survives") {
    import spark.implicits._
    val fact = Seq((10L, "alpha", 1L), (11L, "gamma", 2L)).toDF("id", "proj", "x")
    val dim = Seq((1L, "alpha", "extra-a"), (2L, "beta", "extra-b"))
      .toDF("id", "name", "junk")
    val out = Relational.resolveDimFk(fact, dim, "proj", "fk_project")
    assert(out.columns.sorted.toSeq == Seq("fk_project", "id", "proj", "x"))
    val rows = out.orderBy("id").collect()
    assert(rows(0).getLong(rows(0).fieldIndex("id")) == 10L)
    assert(rows(0).getLong(rows(0).fieldIndex("fk_project")) == 1L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("fk_project"))) // unmatched name
  }
}
