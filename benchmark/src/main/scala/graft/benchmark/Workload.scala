package graft.benchmark

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What an op body runs against. `phase` times a step of the op as a
  * child span, so jobs the step starts are charged to it.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer) {
  private[benchmark] var parent = 0
  val phases = mutable.LinkedHashMap.empty[String, Double]

  def phase[T](name: String)(body: => T): T = {
    val outer = parent
    val (r, ms) = tracer.span(spark.sparkContext, outer, "phase", name) { id =>
      parent = id
      try body finally parent = outer
    }
    phases(name) = phases.getOrElse(name, 0.0) + ms
    r
  }
}

/** One timed operation. `body` does the work the op's wall covers and
  * returns the output check, which runs after the wall is taken and
  * throws [[WrongOutput]] on a mismatch.
  */
final case class Op(name: String, family: String, body: Ctx => (() => Unit))

final class WrongOutput(msg: String) extends Exception(msg)

object WrongOutput {
  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new WrongOutput(what)
}

/** A workload: inputs built from the seed, a warm-up, and passes of ops. */
trait Workload {
  /** Set-up work beyond the session start, such as a database
    * bootstrap, timed with `ctx.phase`.
    */
  def setUp(ctx: Ctx): Unit

  /** The ops of pass `i`, in that pass's seeded order; pass -1 is the
    * untimed warm pass. Inputs the pass needs are generated here,
    * before any op is timed.
    */
  def pass(spark: SparkSession, i: Int): Seq[Op]

  /** Wall of one timed pass on a 4-core machine, in seconds. */
  def nominalPassS: Double

  /** Timed passes of a run of `seconds`: a fixed number, so that every
    * run does the same work, about `seconds` long on a 4-core machine.
    */
  def passes(seconds: Int): Int = math.max(1, math.round(seconds / nominalPassS).toInt)

  /** Ops of the warm pass that run at once. */
  def warmThreads(cores: Int): Int = cores

  /** Work between ops, the same on every commit; it is timed into the
    * pass wall.
    */
  def housekeeping(spark: SparkSession): Unit = graft.GraftSession.releaseAllCaches(spark)
}

object Workload {
  val Names: Seq[String] = Seq("etl_load", "corpus_ops")

  def apply(name: String, seed: Long, dataDir: String, workDir: java.io.File, cores: Int): Workload = name match {
    case "etl_load" => new EtlLoad(seed, workDir, cores)
    case "corpus_ops" => new CorpusOps(seed, dataDir, workDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other; expected one of ${Names.mkString(", ")}")
  }

  def deleteTree(f: java.io.File): Unit = if (f.exists()) {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala.foreach(java.nio.file.Files.delete)
  }

  /** The seeded op order of one pass. */
  def order[T](ops: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
}
