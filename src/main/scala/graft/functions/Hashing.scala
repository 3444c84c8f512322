package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic cross-engine hash primitives.
  *
  * Every dedup / LSH operator in this engine needs a hash function that
  * the DuckDB oracle can reproduce bit-for-bit. Spark's `hash()`
  * (murmur3) and `xxhash64` have no DuckDB equivalent, so the shared
  * primitive is md5 — both engines emit the identical lowercase hex —
  * with a fixed-width prefix reinterpreted as a positive BIGINT.
  *
  * All arithmetic downstream of these (mins, parities, band grouping)
  * is integer math, so signatures are bit-identical across engines and
  * across partitionings — the property the driver's hash-parity gate
  * requires, and equally the property that makes a 100 TB dedup run
  * reproducible between reruns.
  */
object Hashing {

  /** 60-bit positive hash: first 15 hex digits of md5 as a BIGINT.
    * DuckDB twin: `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`.
    */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 48-bit variant (12 hex digits) — leaves headroom for SimHash bit
    * re-assembly in a signed 64-bit value.
    * DuckDB twin: `CAST('0x' || substr(md5(s), 1, 12) AS BIGINT)`.
    */
  def h48(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** 32-bit base hash (first 8 hex digits of md5). Cheap affine family
    * members derive from ONE md5 per value — the k-independent-hashes
    * trick that makes MinHash O(md5) instead of O(k·md5).
    * DuckDB twin: `CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)`.
    */
  def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Largest 32-bit prime — modulus of the affine MinHash family. */
  val AffineP: Long = 4294967291L

  /** Affine family member j over a precomputed h32:
    * `(a_j·h + b_j) mod P` with a_j = 2j+3, b_j = 5j+7. Products stay
    * under 2^36 — no 64-bit overflow, identical in DuckDB BIGINT math.
    */
  def affine(h: Column, j: Int): Column =
    (h * lit(2L * j + 3) + lit(5L * j + 7)) % lit(AffineP)

  /** Driver-side replica of [[h60]] over a literal string — for
    * deterministic constants (e.g. SRP hyperplane weights) computed
    * once at plan-build time instead of per row.
    */
  /** Lowercase md5 hex of the UTF-8 bytes — the ONE local digest body
    * both fixed-width local replicas parse from (kept single so a
    * charset/format tweak can never split the replica family from the
    * SQL twins).
    */
  private val HexDigits = "0123456789abcdef".toCharArray

  private def md5HexLocal(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val dg = md.digest(s.getBytes("UTF-8"))
    // Table-driven hex: the idiomatic per-byte "%02x".format allocates
    // a Formatter per byte and dominated the fixture generators'
    // profile (64 h32Local calls per generated image/frame corpus row).
    val out = new Array[Char](dg.length * 2)
    var i = 0
    while (i < dg.length) {
      out(2 * i) = HexDigits((dg(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(dg(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def h60Local(s: String): Long =
    java.lang.Long.parseLong(md5HexLocal(s).substring(0, 15), 16)

  /** JVM-side replica of [[h32]] — for deterministic fixture content
    * generated in typed `Dataset` code (e.g. the block-pattern image
    * payloads) that the DuckDB oracle must reproduce analytically.
    */
  def h32Local(s: String): Long =
    java.lang.Long.parseLong(md5HexLocal(s).substring(0, 8), 16)
}
