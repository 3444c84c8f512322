package graft.benchmark

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Pins the `corpus_ops` fingerprints. Writes, under `out`, every
  * query's result as parquet together with the query's oracle SQL
  * (`oracle_sql.json`), in the layout `tools/check_parity.py` reads,
  * and `fingerprints.tsv`. Copy that file beside the fixture once the
  * parity check passes.
  */
object Pin {
  def run(a: Main.Args, out: String): Unit = {
    val spark = Main.session(a.cores)
    val names = CorpusOps.Queries.map(_._1)
    Workload.deleteTree(new File(out))
    new File(out).mkdirs()
    val fps = names.map { n =>
      val df = SparkEntry.queries(n)(spark, a.data)
      val fp = Fingerprint(df)
      df.coalesce(1).write.parquet(s"$out/$n")
      graft.GraftSession.releaseAllCaches(spark)
      n -> fp
    }
    val stream = new MediaStream(a.data, new File(a.work))
    write(s"$out/fingerprints.tsv", (fps :+ (stream.Name -> stream.oneShot(spark))).map { case (n, f) => s"$n\t$f\n" }.mkString)
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    write(s"$out/oracle_sql.json", oracles.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${graft.Verify.q(k)}: ${graft.Verify.q(v)}" }.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }

  private def write(path: String, text: String): Unit = Files.writeString(Paths.get(path), text)
}
