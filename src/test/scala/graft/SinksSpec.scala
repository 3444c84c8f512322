package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.sources.Sinks
import graft.sources.Sinks.DimSpec

/** The trigger-equivalent denormalized write path (reference:
  * schema.sql:141-173): dimension growth, shared-dim resolution
  * (reviewer and reporter through one user dim), NULL-id guard, and
  * idempotence — the whole INSTEAD-OF-INSERT rewrite as one batch API.
  */
class SinksSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = SparkTestSession.spark
  // the slowest test takes 6.2 s in a full run on 4 cores; 2 minutes
  // also covers a cold session start when the spec runs alone
  val timeLimit = 2.minutes

  private def emptyDim = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("id", "name")
  }

  private val specs = Seq(
    DimSpec("reviewer_name", "fk_reviewer", "jira_user"),
    DimSpec("reporter_name", "fk_reporter", "jira_user"),
    DimSpec("project_name", "fk_project", "project"))

  test("normalize: dims grow with dense ids; shared dim resolves both name columns") {
    import spark.implicits._
    val incoming = Seq(
      ("K-1", "alice", "bob", "projA"),
      ("K-2", "bob", "carol", "projB"),
      ("K-3", "alice", "alice", "projA"))
      .toDF("key", "reviewer_name", "reporter_name", "project_name")
    val (dims, fact) = Sinks.normalize(
      incoming,
      Map("jira_user" -> emptyDim, "project" -> emptyDim),
      specs)
    val users = dims("jira_user").collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(users == Map("alice" -> 1L, "bob" -> 2L, "carol" -> 3L))
    assert(dims("project").count() == 2)
    assert(fact.columns.toSet == Set("key", "fk_reviewer", "fk_reporter", "fk_project"))
    val k3 = fact.filter(col("key") === "K-3").collect()(0)
    assert(k3.getLong(k3.fieldIndex("fk_reviewer")) == users("alice"))
    assert(k3.getLong(k3.fieldIndex("fk_reporter")) == users("alice"))
  }

  test("normalize: idempotent — re-running the same batch grows nothing") {
    import spark.implicits._
    val incoming = Seq(("K-1", "alice", "bob", "projA"))
      .toDF("key", "reviewer_name", "reporter_name", "project_name")
    val (dims1, _) = Sinks.normalize(
      incoming,
      Map("jira_user" -> emptyDim, "project" -> emptyDim),
      specs)
    val (dims2, fact2) = Sinks.normalize(incoming, dims1, specs)
    assert(dims2("jira_user").count() == dims1("jira_user").count())
    assert(dims2("project").count() == dims1("project").count())
    assert(Sinks.requireResolved(fact2, specs).count() == 1)
  }

  test("requireResolved: NULL-id guard trips on unresolvable rows (schema.sql:151-152)") {
    import spark.implicits._
    val incoming = Seq(("K-1", "alice", null, "projA"))
      .toDF("key", "reviewer_name", "reporter_name", "project_name")
    // NULL reporter: dimGetOrCreate drops NULL names, so the fk stays null
    val (_, fact) = Sinks.normalize(
      incoming,
      Map("jira_user" -> emptyDim, "project" -> emptyDim),
      specs)
    intercept[IllegalArgumentException] {
      Sinks.requireResolved(fact, specs)
    }
  }

  test("compactParquet: many small files become few uniform ones, data intact") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("compact_src").toString
    val dst = java.nio.file.Files.createTempDirectory("compact_dst").toString
    // 40 tiny files of 5 rows each
    (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v").repartition(40)
      .write.mode("overwrite").parquet(src)
    val (inFiles, outFiles) = Sinks.compactParquet(spark, src, dst, targetRowsPerFile = 100)
    assert(inFiles == 40)
    assert(outFiles == 2) // ceil(200/100)
    val back = spark.read.parquet(dst)
    assert(back.count() == 200)
    assert(back.agg(org.apache.spark.sql.functions.sum(col("id"))).collect()(0).getLong(0) == 20100L)
  }

  test("writeZOrdered: every file spans a narrow range of BOTH dimensions") {
    import spark.implicits._
    val dst = java.nio.file.Files.createTempDirectory("zorder_dst").toString
    // full 64x64 grid, shuffled
    val rnd = new scala.util.Random(3)
    val grid = rnd.shuffle((for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)).toList)
    val n = Sinks.writeZOrdered(grid.toDF("a", "b"), dst, "a", "b", bits = 6, numFiles = 16)
    assert(n == 16)
    val back = spark.read.parquet(dst)
    assert(back.count() == 64 * 64)
    // per-file min/max spans: a z-tile of 4096/16 = 256 cells is a
    // 16x16 tile, so most files span ≤ 16 of 64 in BOTH dimensions
    // (files straddling a high-order z boundary may span more — range
    // bounds are sampled). A single-column sort leaves span_b at ~63
    // in EVERY file; that contrast is the file-skipping argument.
    def spans(dir: String): Seq[(Long, Long)] =
      spark.read.parquet(dir).inputFiles.toSeq.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col("a")), max(col("a")), min(col("b")), max(col("b")))
          .collect()(0)
        (r.getLong(1) - r.getLong(0), r.getLong(3) - r.getLong(2))
      }
    val zSpans = spans(dst)
    val narrowZ = zSpans.count { case (sa, sb) => sa <= 31 && sb <= 31 }
    assert(narrowZ >= 10, s"z-order spans: $zSpans")
    // baseline: sort by `a` only — b stays full-width in every file
    val flat = java.nio.file.Files.createTempDirectory("zorder_flat").toString
    grid.toDF("a", "b").repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(flat)
    val narrowFlat = spans(flat).count { case (sa, sb) => sa <= 31 && sb <= 31 }
    assert(narrowZ > narrowFlat, s"z=$narrowZ flat=$narrowFlat")
  }

  test("writeParquet round-trip with partition pruning layout") {
    import spark.implicits._
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("id", "part", "v")
    val out = java.nio.file.Files.createTempDirectory("sink").toString
    Sinks.writeParquet(df, out, Seq("part"))
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    // partition layout on disk → directory-level pruning
    assert(new java.io.File(out).listFiles().map(_.getName).count(_.startsWith("part=")) == 2)
    assert(back.filter(col("part") === "a").count() == 2)
  }

  test("writeOrc round-trip: values exact, partition layout, stat pushdown reaches the scan") {
    import spark.implicits._
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("id", "part", "v")
    val out = java.nio.file.Files.createTempDirectory("orcsink").toString
    Sinks.writeOrc(df, out, Seq("part"))
    val back = spark.read.orc(out)
    assert(back.select("id", "part", "v").as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)))
    assert(new java.io.File(out).listFiles().map(_.getName).count(_.startsWith("part=")) == 2)
    // predicate pushdown into the native ORC reader, same as parquet
    val plan = back.filter(col("id") > 1L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,1)"), plan.take(800))
    assert(back.filter(col("part") === "a").count() == 2)
  }

  test("overwritePartitionsDynamic: only the batch's partitions are replaced") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("dynpart").toString
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "b", 30.0)).toDF("id", "part", "v")
    Sinks.overwritePartitionsDynamic(v1, out, Seq("part"))
    // refresh ONLY partition b — a must survive untouched
    val v2 = Seq((9L, "b", 99.0)).toDF("id", "part", "v")
    Sinks.overwritePartitionsDynamic(v2, out, Seq("part"))
    val back = spark.read.parquet(out)
    assert(back.filter(col("part") === "a").collect().map(_.getLong(0)).toSet == Set(1L))
    assert(back.filter(col("part") === "b").collect().map(_.getLong(0)).toSet == Set(9L))
    // the foot-gun this sink exists to avoid: a STATIC overwrite of the
    // same batch truncates partition a as well
    val staticOut = java.nio.file.Files.createTempDirectory("statpart").toString
    Sinks.writeParquet(v1, staticOut, Seq("part"))
    Sinks.writeParquet(v2, staticOut, Seq("part"))
    assert(spark.read.parquet(staticOut).filter(col("part") === "a").count() == 0)
  }
}
