package graft.benchmark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a whole result: row count, the sum
  * of per-row hashes modulo a prime, and their XOR. The per-row hash
  * reads every column, so column pruning cannot drop any of the
  * query's computed columns (a bare `count()` would time a scan), and
  * the fingerprint is the action that is timed.
  */
object Fingerprint {
  private val Prime = 2147483647L

  /** Maps have no defined entry order and Spark refuses to hash them;
    * a sorted entry array carries the same content.
    */
  private def hashable(c: Column, t: DataType): Column = t match {
    case MapType(_, _, _) => array_sort(map_entries(c))
    case _ => c
  }

  def apply(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => hashable(col(f.name), f.dataType))
    val r = named
      .select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(Prime))), bit_xor(col("h")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }
}
