package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Relational, Similarity, TextAnalysis}

/** Partitioning-invariance: the determinism contract says every
  * operator returns BIT-IDENTICAL results regardless of how the input
  * happens to be partitioned — the property that makes a 100 TB run
  * reproducible across cluster sizes, retries, and AQE re-plans. Each
  * case runs the same operator over adversarially different
  * partitionings and compares full result sets exactly.
  */
class PartitionInvarianceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private def invariant(build: DataFrame => DataFrame, input: DataFrame): Unit = {
    val a = rows(build(input.repartition(1)))
    val b = rows(build(input.repartition(13, col(input.columns.head))))
    assert(a == b, s"partitioning changed the result (${a.size} vs ${b.size} rows)")
  }

  test("minHash signatures are partitioning-invariant") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    invariant(
      d => Dedup.minHashSignature(
        d.select(col("doc_id"), Dedup.charShingles(col("text"), 5).as("sh")),
        "doc_id", "sh", 6).drop("sh"),
      docs)
  }

  test("winnowing fingerprints are partitioning-invariant") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    invariant(
      d => Dedup.winnowFingerprints(d, "text", 5, 4, "fps")
        .select(col("doc_id"), to_json(col("fps")).as("fps")),
      docs)
  }

  test("connected components are partitioning-invariant") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (3L, 10L), (20L, 21L))
      .toDF("a", "b")
    invariant(e => Dedup.connectedComponents(e), edges)
  }

  test("exactQuantiles is invariant to both input partitioning and its own numPartitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = (1 to 400).map(_ => rnd.nextDouble() * 100).toDF("x")
    val a = rows(Relational.exactQuantiles(df.repartition(1), "x", Seq(0.25, 0.5, 0.9), numPartitions = 3))
    val b = rows(Relational.exactQuantiles(df.repartition(11), "x", Seq(0.25, 0.5, 0.9), numPartitions = 17))
    assert(a == b)
  }

  test("int8 quantization + integer dot ranking is partitioning-invariant") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    invariant(
      e => {
        val q8 = Similarity.quantizeInt8(e, "embedding", "q8").select(col("vec_id"), col("q8"))
        val q = q8.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("q8").as("qa"))
        q.join(q8.select(col("vec_id").as("nid"), col("q8").as("qb")), col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"), Similarity.dotInt(col("qa"), col("qb")).as("idot"))
      },
      emb)
  }

  test("multi-table int8 ANN (q102 shape) is partitioning-invariant") {
    // The union-dedup across hash tables and the per-query rank are
    // the two surfaces where partitioning could leak (union order,
    // tie-break order) — pin bit-identical results under adversarial
    // repartitioning at the q102 parameters.
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    invariant(
      e => Similarity.srpAnnTopKInt8(
        e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
        bits = 4, dim = 64, k = 3, probeBitFlips = 1, tables = 2),
      emb)
  }

  test("groupedDiscreteQuantiles is invariant to input partitioning and its own numPartitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1 to 500).map(i => (i % 7, rnd.nextInt(1000))).toDF("g", "v")
    val ps = Seq(0.25, 0.5, 0.9)
    val a = rows(Relational.groupedDiscreteQuantiles(df.repartition(1), "g", "v", ps, numPartitions = 3))
    val b = rows(Relational.groupedDiscreteQuantiles(df.repartition(11, col("g")), "g", "v", ps, numPartitions = 17))
    assert(a == b)
  }

  test("contaminationScreen (q105 shape) is partitioning-invariant") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    invariant(
      d => TextAnalysis.contaminationScreen(
        d, d.filter(col("doc_id") % 20 === 7), "doc_id", "text", 5, 0.3),
      docs)
  }

  test("packSequences (q106 shape) is partitioning-invariant") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    invariant(
      d => TextAnalysis.packSequences(d, "doc_id", "text", 512, 8),
      docs)
  }

  test("leakageSafeSplit (q107 shape) is partitioning-invariant") {
    val emb = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 80)
      .select(col("vec_id"), col("embedding"))
    invariant(
      e => {
        val pairs = Similarity
          .nearDupPairs(e, "vec_id", "embedding", 0.35)
          .select(col("vec_a"), col("vec_b"))
        Dedup.leakageSafeSplit(e, "vec_id", pairs, valPermille = 300)
      },
      emb)
  }

  test("spanDedupStats (q108 shape) is partitioning-invariant") {
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    invariant(
      d => Dedup.spanDedupStats(d, "doc_id", "text", window = 8, stride = 4, boilerplateDocs = 2),
      docs)
  }

  test("byte-BPE budget (q171 shape) is partitioning-invariant") {
    val docs = Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    invariant(
      d => {
        val dw = d
          .select(
            col("doc_id"),
            explode(regexp_extract_all(
              col("text"),
              lit(graft.functions.BpeTokens.preTokenPattern),
              lit(0))).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("n"))
        val toks = dw
          .select(col("word"))
          .distinct()
          .withColumn(
            "n_toks",
            size(call_function("graft_bpe_bytes", col("word"))).cast("long"))
        dw.join(broadcast(toks), Seq("word"))
          .groupBy(col("doc_id"))
          .agg(sum(col("n") * col("n_toks")).as("bpe_tokens"))
      },
      docs)
  }

  test("in-job-gated pairProjection (q146 shape) is partitioning-invariant") {
    val inc = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    invariant(
      i => graft.operators.Bipartite.pairProjection(i, "ok", "pk", minSupport = 2),
      inc)
  }

  test("bloom prefilter keeps an identical row set under repartitioning") {
    import spark.implicits._
    val big = (1L to 500L).map(i => (i, i * 2)).toDF("k", "v")
    val small = Seq(3L, 77L, 412L).map(Tuple1(_)).toDF("sk")
    val a = rows(Relational.bloomPrefilter(big.repartition(1), "k", small, "sk"))
    val b = rows(Relational.bloomPrefilter(big.repartition(9, col("k")), "k", small.repartition(2), "sk"))
    assert(a == b)
  }

  test("importance keep-rule (q111 shape) is partitioning-invariant") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"))
    invariant(
      d => TextAnalysis.importanceKeepRule(d, "text", "doc_id", col("lang") === "en", buckets = 1024),
      docs)
    // the operator persists its bucket table internally; both builds
    // are done, so drop the entries for later suites' cache hygiene
    GraftSession.releaseAllCaches(spark)
  }

  test("source-overlap KMV sketch (q112 shape) is partitioning-invariant") {
    val docs = Tables.documents(spark, sf).select(col("source"), col("text"))
    invariant(
      d => TextAnalysis.sourceOverlapKmv(d, "text", "source", n = 3, k = 64),
      docs)
    GraftSession.releaseAllCaches(spark)
  }

  test("BM25 scoring (q119 shape) is partitioning-invariant") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    invariant(
      d => TextAnalysis.bm25Scores(d, "text", "doc_id", Seq("spark", "join", "filter", "hash")),
      docs)
  }

  test("k-means assignment (q120 shape) is partitioning-invariant") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    invariant(
      e => operators.Similarity.kmeansAssign(e, "vec_id", "embedding", col("vec_id") % 10 === 0, rounds = 2),
      emb)
  }

  test("HLL distinct sketch (q130 shape) is partitioning-invariant") {
    val tri = Tables.documents(spark, sf)
      .select(col("source"), explode(operators.Dedup.wordNGramsAll(col("text"), 3)).as("tri"))
    invariant(t => operators.Relational.hllDistinct(t, "source", "tri"), tri)
  }

  test("JL projection (q128 shape) is partitioning-invariant") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    invariant(e => operators.Similarity.jlProject(e, "vec_id", "embedding", 8, 64), emb)
  }

  test("BPE training (both arms) is partitioning-invariant") {
    // the argmax is a global count-then-(l,r) tie-break and every
    // count is an exact integer — so the trained merge SEQUENCE must
    // not depend on how the corpus arrives. Pinned for both arms (the
    // incremental arm's delta bookkeeping rides shuffles whose layout
    // varies with input partitioning; the local arm collects the word
    // histogram in partition order).
    val docs = Tables.documents(spark, sf).limit(200)
    for (local <- Seq(true, false)) {
      val a = operators.BpeTrainer.train(docs.repartition(1), "text", 12, local = Some(local))
      val b = operators.BpeTrainer.train(
        docs.repartition(13, col("doc_id")), "text", 12, local = Some(local))
      assert(a == b, s"local=$local: partitioning changed the merge sequence")
    }
  }
}
