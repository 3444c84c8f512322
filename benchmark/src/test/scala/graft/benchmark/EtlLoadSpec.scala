package graft.benchmark

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** One daily batch through the real pipeline into Derby, checked
  * against the generator's oracle; then a loaded row is corrupted and
  * the same check must fail.
  */
class EtlLoadSpec extends AnyFunSuite {
  test("a loaded batch matches the oracle, and a corrupted Derby row fails the check") {
    val work = Files.createTempDirectory("benchmark_etl").toFile
    val spark = Main.session(2)
    val etl = new EtlLoad(5, work, 2)
    try {
      etl.setUp(new Ctx(spark, Tracer.off))
      val op = etl.pass(spark, 0).head
      val check = op.body(new Ctx(spark, Tracer.off))
      check()
      assert(etl.lastFactRows > EtlLoad.BatchSize / 2)

      val conn = java.sql.DriverManager.getConnection(etl.url, EtlLoad.props)
      try {
        val n = conn.createStatement().executeUpdate(
          """UPDATE "feasibility" SET "delta" = "delta" + 1 WHERE "key" IN
            |(SELECT "key" FROM "feasibility" WHERE "key" LIKE 'B0-%' AND "delta" IS NOT NULL
            | ORDER BY "key" FETCH FIRST 1 ROWS ONLY)""".stripMargin)
        assert(n == 1)
      } finally conn.close()
      val e = intercept[WrongOutput](check())
      assert(e.getMessage.contains("B0-"))
    } finally {
      etl.tearDown()
      spark.stop()
    }
  }
}
