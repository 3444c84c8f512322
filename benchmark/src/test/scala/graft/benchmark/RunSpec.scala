package graft.benchmark

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Runs of the benchmark driver on small workloads: failures are
  * counted against attempts, each op's wall is fully attributed to
  * layers, and the summary names every metric `BENCHMARK.json` lists.
  */
class RunSpec extends AnyFunSuite {
  private val data = new File("data/sf0.01").getAbsolutePath
  private val work = Files.createTempDirectory("benchmark_spec").toFile

  private def args(trace: Boolean) =
    Main.Args(workload = "corpus_ops", seed = 1, seconds = 1, trace = trace, data = data, work = work.getPath, cores = 2)

  /** Two catalog queries; the second one's result loses a row before
    * it is fingerprinted.
    */
  private def corrupted: Workload = new Workload {
    private val cat = new CorpusOps(1, data, work)
    private def op(name: String, damage: Boolean) = Op(name, "dedup", ctx => {
      val df = SparkEntry.queries(name)(ctx.spark, data)
      cat.expect(name, Fingerprint(if (damage) df.limit(df.count().toInt - 1) else df))
    })
    def setUp(ctx: Ctx): Unit = ()
    def nominalPassS: Double = 1
    def pass(spark: SparkSession, i: Int): Seq[Op] = Seq(op("q175_bpe_train", damage = false), op("q21_simhash", damage = true))
  }

  private lazy val traced = Main.run(args(trace = true), corrupted)

  private def metricNames(section: String): Seq[(String, String)] = {
    val text = new String(Files.readAllBytes(new File("../BENCHMARK.json").toPath))
    val body = text.substring(text.indexOf("\"" + section + "\""))
    val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
    "\"name\": \"([^\"]+)\", \"unit\": \"([^\"]+)\"".r.findAllMatchIn(list).map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("a wrong query result counts as a failed op, and the summary still prints") {
    val r = traced
    assert(r.ops.count(_.failure.nonEmpty) == r.ops.count(_.name == "q21_simhash"))
    assert(r.ops.filter(_.name == "q21_simhash").forall(_.failure.exists(_.startsWith("wrong output"))))
    assert(r.ops.filter(_.name == "q175_bpe_train").forall(_.failure.isEmpty))
    val line = Summary.json(r)
    assert(line.contains("\"correct\": false"))
    assert(line.contains(s"\"attempted\": ${r.ops.size}, \"failed\": ${r.ops.size / 2}"))
  }

  test("each op's wall splits into disjoint layers") {
    val splits = Summary.splits(traced)
    assert(splits.size == traced.ops.size)
    splits.foreach { case (o, c, s) =>
      assert(s.wall > 0 && c.jobs > 0 && c.actions > 0, o.name)
      assert(s.catalyst >= 0 && s.tasks >= 0, o.name)
      assert(s.driverSelf >= 0, s"${o.name}: Catalyst time overlaps job time by ${-s.driverSelf} ms")
      // Job and task times are whole milliseconds.
      assert(s.unattributed >= -c.jobs, s"${o.name}: task time per core exceeds job time by ${-s.unattributed} ms")
    }
  }

  test("time charged to two layers shows as a negative part") {
    val c = new OpCounters
    c.analysisMs = 30
    c.runMs = 200
    val s = Split(100, Seq((0.0, 80.0)), c, cores = 2)
    assert(s.driverSelf == -10 && s.unattributed == -20)
  }

  test("the summary names every end-to-end and per-layer metric with its unit") {
    def reported(line: String): Seq[(String, String)] =
      "\"([^\"]+)\": \\{\"value\": [-0-9.E]+, \"unit\": \"([^\"]+)\"\\}".r.findAllMatchIn(line)
        .map(m => m.group(1) -> m.group(2)).toSeq
    val e2e = metricNames("end_to_end")
    val layers = metricNames("per_layer")
    assert(e2e.map(_._1).contains("setup_s") && layers.nonEmpty)
    assert(reported(Summary.json(traced.copy(args = args(trace = false)))) == e2e)
    assert(reported(Summary.json(traced)) == layers)
  }
}
