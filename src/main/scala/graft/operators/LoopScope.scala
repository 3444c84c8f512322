package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Every frame one iterative-operator call persists, and the session
  * its rounds run on.
  *
  * The operator still decides WHEN to persist or release a round; the
  * scope only does it the one way the loops share:
  *  - [[leaf]] persists a frame's row RDD and rewraps it as a plain
  *    leaf — the plan stops there (no analysis cost compounding across
  *    rounds, no Catalyst reordering of the caller's conjuncts), while
  *    the RDD lineage survives executor loss;
  *  - [[cache]] persists a DataFrame for a frame read twice;
  *  - [[rebind]] moves the rounds to the edge-sized loop session once
  *    a materialized count says the session width is too wide
  *    ([[Graph.loopSessionFor]]);
  *  - [[drop]] releases a round a newer one has replaced.
  *
  * [[LoopScope.run]] hands the caller `(result, release)` and, if the
  * call throws, releases everything before rethrowing — so no path out
  * of an operator leaks its caches for the life of the session.
  */
final class LoopScope private (caller: SparkSession) {
  private var loop = caller
  private val leafRdds = new java.util.IdentityHashMap[DataFrame, RDD[Row]]()
  private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** `df`'s rows persisted `MEMORY_AND_DISK` (filled by the next
    * action that reads them), rewrapped as a leaf on the caller session
    * or, after [[rebind]] picked one, the loop session.
    */
  def leaf(df: DataFrame): DataFrame =
    wrap(df.rdd.persist(StorageLevel.MEMORY_AND_DISK), df)

  /** `df` persisted as a DataFrame (filled by the next action). */
  def cache(df: DataFrame): DataFrame = {
    cached += df.persist()
    df
  }

  /** `x` (a [[leaf]] or [[cache]] of this scope) on the loop session
    * that [[Graph.loopSessionFor]] picks for `rows` — an already
    * materialized count. When it keeps the caller session, `x` itself.
    * A cached frame crosses sessions as an RDD leaf that reads through
    * its cache; the scope keeps releasing the original.
    */
  def rebind(x: DataFrame, rows: Long): DataFrame =
    Graph.loopSessionFor(caller, rows) match {
      case None => x
      case Some(s) =>
        loop = s
        Option(leafRdds.get(x)).fold(s.createDataFrame(x.rdd, x.schema))(wrap(_, x))
    }

  /** Releases `x`, a [[leaf]] or [[cache]] that a newer round replaced. */
  def drop(x: DataFrame): Unit =
    Option(leafRdds.remove(x)) match {
      case Some(rdd) => rdd.unpersist(): Unit
      case None =>
        cached.filterInPlace(_ ne x)
        x.unpersist(): Unit
    }

  private def wrap(rdd: RDD[Row], like: DataFrame): DataFrame = {
    val out = loop.createDataFrame(rdd, like.schema)
    leafRdds.put(out, rdd)
    out
  }

  private def release(): Unit = {
    leafRdds.values.forEach(_.unpersist(): Unit)
    leafRdds.clear()
    cached.foreach(_.unpersist())
    cached.clear()
  }
}

object LoopScope {

  /** Runs one operator call against a fresh scope. Returns the body's
    * result and the handle that releases what the scope still holds;
    * a throw releases it all first. The body must not `return`: a
    * non-local return would unwind through here as a throw.
    */
  def run[T](spark: SparkSession)(body: LoopScope => T): (T, () => Unit) = {
    val scope = new LoopScope(spark)
    try (body(scope), () => scope.release())
    catch {
      case t: Throwable =>
        scope.release()
        throw t
    }
  }
}
