package graft.benchmark

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Operator-family catalog queries from `SparkEntry.queries` over the
  * fixture tables, plus a [[MediaStream]] drain. Each query op builds
  * the query (operators may run eager actions while it is built) and
  * then fingerprints the whole result; the fingerprint is compared with
  * one pinned from a run whose outputs matched the DuckDB oracle
  * (`tools/check_parity.py`).
  */
final class CorpusOps(seed: Long, dataDir: String, workDir: File, pinned: Map[String, String]) extends Workload {
  def this(seed: Long, dataDir: String, workDir: File) = this(seed, dataDir, workDir, CorpusOps.pinned(dataDir))

  val stream = new MediaStream(dataDir, workDir)

  /** The output check: `got` must equal the pinned fingerprint. */
  def expect(name: String, got: String): () => Unit = () =>
    WrongOutput.check(pinned.get(name).contains(got), s"$name fingerprint $got, pinned ${pinned.get(name)}")

  val ops: Seq[Op] = CorpusOps.Queries.map { case (name, family) =>
    Op(name, family, ctx => {
      val df = ctx.phase("queries.build")(SparkEntry.queries(name)(ctx.spark, dataDir))
      expect(name, ctx.phase("action")(Fingerprint(df)))
    })
  } :+ stream.op(expect)

  def setUp(ctx: Ctx): Unit = ()

  def nominalPassS: Double = 7.9

  private var prepared = false

  def pass(spark: SparkSession, i: Int): Seq[Op] = {
    if (!prepared) stream.prepare(spark, expect)
    prepared = true
    Workload.order(ops, seed, i)
  }

  override def housekeeping(spark: SparkSession): Unit = {
    super.housekeeping(spark)
    stream.clean()
  }
}

object CorpusOps {
  /** One query per operator family, plus the stream: iterative
    * multi-job loops, eager actions while a query is built, driver-side
    * arms, codec and hash kernels, and cached frames. The other family
    * members (q80, q40 at about 1.3 s each at 4 cores; q113, q139, q148,
    * q20, q97, q195 at 2.5-6 s) are left out so that the warm pass and
    * two timed passes fit the run's time budget.
    */
  val Queries: Seq[(String, String)] = Seq(
    "q51_conncomp" -> "graph",
    "q21_simhash" -> "dedup",
    "q175_bpe_train" -> "text",
    "q197_media_incremental" -> "media")

  /** Pinned fingerprints: `name<TAB>fingerprint` lines beside the data. */
  def pinnedFile(dataDir: String): File = new File(new File(dataDir).getParentFile, "fingerprints.tsv")

  def pinned(dataDir: String): Map[String, String] = {
    val f = pinnedFile(dataDir)
    if (!f.isFile) Map.empty
    else Files.readAllLines(f.toPath).asScala.filter(_.contains('\t')).map { l =>
      val Array(k, v) = l.split('\t'); k -> v
    }.toMap
  }
}
