package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.functions.GramHashes
import graft.operators.Dedup

/** The native `graft_gram_hashes` expression: bit-equivalence against
  * the independent composed reference ([[Dedup.hofCharGramHashes]] —
  * asciiFold→split→slice/zip_with→md5 per gram) on adversarial inputs
  * including multi-byte code points, codegen fusion, and the row
  * kernel directly.
  */
class GramHashesSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = GraftSession.local(4, appName = "gramhashes-spec")
  // slowest test in a full-suite run on 4 cores: 0.2 s; a cold session
  // start fits too
  val timeLimit = 60.seconds

  test("agrees with the composed lower/split/md5 reference, incl. multi-byte text") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // mixed 1/2/3/4-byte code points, uppercase ASCII (exercises the
    // internal A-Z fold), non-ASCII uppercase É and U+0130 'İ' (which
    // the fold must pass through UNTOUCHED — full lower() would map
    // them engine-divergently), spaces, and repeats
    val alphabet = ("aA bB zZ éÉ ßü 中文 𝒳😀" + "İ").toVector
    val rows: Seq[String] = (0 until 300).map { _ =>
      val n = rnd.nextInt(40)
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
    } ++ Seq("", "a", "ab", "ABC", "ééé", "𝒳𝒳𝒳𝒳", "exact", "İab", "İİİ", "aİb")
    for (k <- Seq(1, 3, 5)) {
      val both = rows.toDF("text")
        .select(
          Dedup.charGramHashes(col("text"), k).as("native"),
          Dedup.hofCharGramHashes(col("text"), k).as("composed"))
        .collect()
      both.zipWithIndex.foreach { case (r, i) =>
        assert(
          r.getSeq[Long](0) == r.getSeq[Long](1),
          s"k=$k row $i (${rows(i).take(30)}): native=${r.getSeq[Long](0)} composed=${r.getSeq[Long](1)}")
      }
    }
  }

  test("shingleHashes is set-identical to the composed distinct-shingle->h32 reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    // tiny alphabet: guarantees repeated grams, so the distinct paths differ
    val rows: Seq[String] = (0 until 200).map { _ =>
      (0 until rnd.nextInt(60)).map(_ => "abAB ".charAt(rnd.nextInt(5))).mkString
    } ++ Seq("", "aaaaaaa", "ababab")
    val both = rows.toDF("text")
      .select(
        Dedup.shingleHashes(col("text"), 5).as("native"),
        Dedup.hofShingleHashes(col("text"), 5).as("composed"))
      .collect()
    both.zipWithIndex.foreach { case (r, i) =>
      // consumers are set-semantics; compare as sorted sets AND assert
      // the native side is already duplicate-free
      val n = r.getSeq[Long](0)
      val c = r.getSeq[Long](1)
      assert(n.distinct == n, s"row $i: native side carries duplicates")
      assert(n.sorted == c.sorted, s"row $i (${rows(i).take(30)}): native=$n composed=$c")
    }
  }

  test("null text propagates null; shorter-than-k yields empty; k must be a literal in range") {
    import spark.implicits._
    // helper level: NULL text coalesces to the composed form's EMPTY
    // array (hofCharGramHashes' otherwise-branch)
    val r = Seq(Tuple1(null: String), Tuple1("ab")).toDF("text")
      .select(
        Dedup.charGramHashes(col("text"), 3).as("h"),
        Dedup.hofCharGramHashes(col("text"), 3).as("hof"))
      .collect()
    assert(r(0).getSeq[Long](0).isEmpty && r(0).getSeq[Long](1).isEmpty)
    assert(r(1).getSeq[Long](0).isEmpty)
    // expression level: NULL propagates (SQL convention)
    val e = Seq(Tuple1(null: String)).toDF("text")
      .select(call_function("graft_gram_hashes", col("text"), lit(3)))
      .collect()
    assert(e(0).isNullAt(0))
    intercept[Exception] {
      Seq(Tuple1("x")).toDF("t")
        .select(call_function("graft_gram_hashes", col("t"), col("t"))).collect()
    }
    intercept[Exception] {
      GramHashes(org.apache.spark.sql.catalyst.expressions.Literal("x"), 0)
    }
    // non-string input rejected at analysis
    intercept[Exception] {
      Seq(Tuple1(1L)).toDF("x").select(Dedup.charGramHashes(col("x"), 3)).collect()
    }
  }

  test("runs inside whole-stage codegen — the reason it exists") {
    import spark.implicits._
    // parquet-backed source: a local relation constant-folds the whole
    // projection away and leaves no codegen stage to inspect
    val df = Tables
      .documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
      .select(size(Dedup.charGramHashes(col("text"), 5)).as("n"))
    assert(df.collect().forall(_.getInt(0) >= 0))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_gram_hashes"), plan.take(1500))
    assert(!plan.contains("CodegenFallback"), plan.take(1500))
  }

  test("row kernel directly: code-point windows over the ASCII-folded bytes") {
    import org.apache.spark.unsafe.types.UTF8String
    def h(s: String, k: Int): Seq[Long] = {
      val ad = GramHashes.compute(UTF8String.fromString(s), k)
      (0 until ad.numElements()).map(ad.getLong)
    }
    def md5h32(s: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
          .take(4)
          .map(b => f"${b & 0xff}%02x")
          .mkString,
        16)
    assert(h("", 2).isEmpty)
    assert(h("a", 2).isEmpty)
    assert(h("AbC", 2) == Seq(md5h32("ab"), md5h32("bc")))
    // ASCII-only fold: non-ASCII uppercase É passes through UNCHANGED
    // (full lower() maps it é on the JVM but the fold must not — the
    // cross-engine contract); grams are code-point windows
    assert(h("Éx中", 2) == Seq(md5h32("Éx"), md5h32("x中")))
    // U+0130 'İ': the code point whose FULL lowercase expands on the
    // JVM (i + combining dot) and simple-maps to 'i' in DuckDB — the
    // fold passes it through untouched, so both engines hash the same
    // bytes and no expansion corner exists at all
    assert(h("İab", 2) == Seq(md5h32("İa"), md5h32("ab")))
  }

  test("malformed UTF-8 segments like UTF8String.numChars (ADVICE r9)") {
    import org.apache.spark.unsafe.types.UTF8String
    // a continuation byte at lead position and a truncated 2-byte
    // sequence: Spark counts invalid leads as 1-byte chars, and the
    // kernel's gram count must track numChars exactly (the composed
    // form's length(text) guard)
    val malformed = Seq(
      Array[Byte]('a', 0x80.toByte, 'b'),        // bare continuation mid-string
      Array[Byte](0xbf.toByte, 0xbf.toByte),     // two bare continuations
      Array[Byte]('x', 0xc3.toByte),             // truncated 2-byte tail
      Array[Byte](0xf5.toByte, 'y', 'z'))        // invalid lead 0xF5
    for (bytes <- malformed; k <- Seq(1, 2)) {
      val s = UTF8String.fromBytes(bytes)
      val got = GramHashes.compute(s, k).numElements()
      val want = math.max(s.numChars() - (k - 1), 0)
      assert(got == want, s"bytes=${bytes.map(b => f"${b & 0xff}%02x").mkString} k=$k: $got != $want")
    }
  }
}
