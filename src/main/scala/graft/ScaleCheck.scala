package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Scaling-slope harness for the corpus-wide dedup/CC/ANN operators:
  * `runMain graft.ScaleCheck --docs=500` vs `--docs=5000` times the
  * UNSLICED operator compositions over the first N documents (and N
  * embeddings) of `--sf-dir`, so the measured growth is 10× genuinely
  * DISTINCT documents from the same generator — unlike the gate
  * queries, whose fixed `doc_id < 1000` slices pin the working set,
  * and unlike `tools/make_scale.py` replicas, whose REPEATED text
  * payloads make every replica a true near-duplicate of its siblings
  * and so inflate the pair space quadratically (real work, but a
  * duplicate-blowup stress test rather than a corpus-growth slope).
  *
  * Workloads (each timed like Probe/Bench — full materialization,
  * cache sweep + forced GC between reps):
  *  - `minhash_pairs`: shingle→h32→MinHash(12)→LSH(12,3 bands)→
  *    hashed exact-Jaccard verify ≥ 0.6 (q20's stages, unsliced)
  *  - `components`: connected components over those verified pairs
  *    (q51's stage, real edge distribution)
  *  - `keeplist`: the full q97/q104-shape ending — pairs → components
  *    → per-document keep verdict
  *  - `ann_topk`: SRP-LSH ANN, 20 fixed queries over the N-vector
  *    corpus (q25's parameters — corpus grows, query set does not)
  *  - `contamination`: q105's n-gram screen with the eval set growing
  *    with the corpus (every 20th doc)
  *  - `packing`: q106's greedy no-straddle sequence packing, 32 shards
  *  - `spans`: q108's cross-document span dedup stats (8-token spans,
  *    stride 4, boilerplate at ≥ 2 docs)
  *  - `collocations`: q109's lift-scored bigram mining (count floor 5)
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val cfg = Config(args)
    val sfDir = cfg.get("sf-dir", "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cfg.get("cpus", "SPARK_GRAFT_CPUS", "32").toInt
    val reps = cfg.get("reps", "SPARK_GRAFT_REPS", "2").toInt
    val nDocs = cfg.get("docs", "SPARK_GRAFT_SCALE_DOCS", "0").toLong // 0 = all
    val only = cfg.get("only", "SPARK_GRAFT_SCALE_ONLY", "").split(',').filter(_.nonEmpty).toSet
    val spark = GraftSession.local(cpus, appName = "graft-scalecheck")
    spark.sparkContext.setLogLevel("WARN")

    def bound(df: DataFrame, idCol: String): DataFrame =
      if (nDocs > 0) df.filter(col(idCol) < nDocs) else df

    val docs = bound(Tables.documents(spark, sfDir), "doc_id")
      .select(col("doc_id"), col("text"))
    val emb = bound(Tables.embeddings(spark, sfDir), "vec_id")
      .select(col("vec_id"), col("embedding"))

    // Tables.documents already applies spreadFewSplits at the source —
    // no per-workload wrapper needed.
    def shingled: DataFrame = docs
      .select(col("doc_id"), Dedup.shingleHashes(col("text"), 5).as("hs"))

    def verifiedPairs: DataFrame = {
      val sh = shingled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sig = Dedup.minHashSignatureFromHashes(sh, "doc_id", "hs", 12).drop("hs")
      Dedup
        .lshCandidates(sig, "doc_id", 12, 3)
        .join(sh.select(col("doc_id").as("id_a"), col("hs").as("sh_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("hs").as("sh_b")), "id_b")
        .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.6)
        .select(col("id_a"), col("id_b"))
    }

    // Synthetic LARGE-VOCABULARY corpus for the BPE-trainer arms (the
    // fixtures' 31-word vocabulary can never exercise the incremental
    // arm's regime): --docs (default 400k) DISTINCT
    // hex words of length 8-15 over the 16-char alphabet, each row one
    // word repeated by a skewed weight — the trainer's corpus pass
    // collapses this to an N-row word-frequency table, so --docs IS
    // the vocabulary size.
    def bigVocabCorpus: DataFrame = {
      val v = if (nDocs > 0) nDocs else 400000L
      spark
        .range(v)
        .select(
          concat_ws(
            " ",
            array_repeat(
              substring(md5(col("id").cast("string")), lit(1), (pmod(col("id"), lit(8)) + 8).cast("int")),
              (lit(1) + pmod(col("id"), lit(3)) +
                when(pmod(col("id"), lit(100)) === 0, lit(40)).otherwise(lit(0))).cast("int")))
            .as("text"))
    }
    // --merges sizes the trainer probes (512 = the local-vs-distributed
    // comparison recorded in BpeTrainer.train's auto-select comment)
    val nMerges = cfg.get("merges", "SPARK_GRAFT_SCALE_MERGES", "12").toInt
    def bpeTrain(local: Boolean): DataFrame =
      graft.operators.BpeTrainer
        .trainDf(bigVocabCorpus, "text", nMerges, local = Some(local))

    val workloads: Seq[(String, () => DataFrame)] = Seq(
      "bpetrain_incr" -> (() => bpeTrain(local = false)),
      "bpetrain_local" -> (() => bpeTrain(local = true)),
      "minhash_pairs" -> (() => verifiedPairs),
      "components" -> (() => Dedup.connectedComponents(verifiedPairs)),
      "keeplist" -> (() => Dedup.keepList(docs, "doc_id", verifiedPairs)),
      "ann_topk" -> (() =>
        Similarity.srpAnnTopK(
          emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 8, 64, 3)),
      // q105 shape: eval set grows with the corpus (every 20th doc) so
      // BOTH the broadcast universe and the probe side scale.
      "contamination" -> (() =>
        graft.operators.TextAnalysis.contaminationScreen(
          docs, docs.filter(col("doc_id") % 20 === 7), "doc_id", "text", 5, 0.3)),
      // q106 shape: greedy no-straddle packing, 32 shards.
      "packing" -> (() =>
        graft.operators.TextAnalysis.packSequences(docs, "doc_id", "text", 512, 32)),
      // q108 shape: span-granularity dedup over the whole slice.
      "spans" -> (() =>
        Dedup.spanDedupStats(docs, "doc_id", "text", 8, 4, 2)),
      // q109 shape: corpus-wide bigram lift mining.
      "collocations" -> (() =>
        graft.operators.TextAnalysis.collocationLift(docs, "text", 5)),
      // q111 shape: DSIR keep-rule — two corpus bigram passes, bucket
      // table broadcast back over the gram stream.
      "importance" -> (() =>
        graft.operators.TextAnalysis.importanceKeepRule(
          bound(Tables.documents(spark, sfDir), "doc_id")
            .select(col("doc_id"), col("text"), col("lang")),
          "text", "doc_id", col("lang") === "en", 1024)),
      // q112 shape: per-source bottom-k sketches in one pass + the
      // tiny sketch self-join.
      "overlap" -> (() =>
        graft.operators.TextAnalysis.sourceOverlapKmv(
          bound(Tables.documents(spark, sfDir), "doc_id")
            .select(col("source"), col("text")),
          "text", "source", 3, 64))
      ,
      // q120 shape at FIXED k: the first 40 vectors seed regardless of
      // the corpus bound, so the slope isolates n-growth at constant
      // cluster count — the realistic regime (k does not track corpus
      // size; the gate query's %50 seeds would grow k with n and
      // measure the O(n·k) product instead).
      "kmeans" -> (() =>
        Similarity.kmeansAssign(emb, "vec_id", "embedding", col("vec_id") < 40, rounds = 2)),
      // q119 shape: seed-query BM25 over the growing corpus (two
      // linear scans + a broadcast totals row).
      "bm25" -> (() =>
        graft.operators.TextAnalysis.bm25Scores(
          docs, "text", "doc_id", Seq("spark", "join", "filter", "hash")))
      ,
      // q132 head-to-head: top-3 line items per PART (high-cardinality
      // groups — where the bounded-heap operator's O(n log k) beats the
      // Window plan's full per-group sort). Same result set, two plans.
      "topk_heap" -> (() => {
        val li = Tables.lineitem(spark, sfDir)
          .select(col("l_partkey"), col("l_extendedprice"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("tie"))
        graft.operators.Relational.topKPerGroup(li, 3, "l_partkey", "l_extendedprice", "tie")
      }),
      "topk_window" -> (() => {
        import org.apache.spark.sql.expressions.Window
        val li = Tables.lineitem(spark, sfDir)
          .select(col("l_partkey"), col("l_extendedprice"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("tie"))
        val w = Window.partitionBy(col("l_partkey")).orderBy(col("l_extendedprice").desc, col("tie"))
        li.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3).drop("__rn")
      }),
      // q139/q148 shapes: the O(n²)-prefiltered cosine pair build
      // feeding the iterative loops — corpus (= vector count) grows,
      // so the slope shows BOTH the quadratic-but-cheap prefilter and
      // the subgraph-tracking round costs.
      "kcore" -> (() =>
        graft.operators.Graph.kCore(
          Similarity.nearDupPairs(emb, "vec_id", "embedding", threshold = 0.35)
            .select(col("vec_a"), col("vec_b")),
          k = 2, maxRounds = 16)),
      "bfs" -> (() =>
        graft.operators.Graph.bfsDistances(
          Similarity.nearDupPairs(emb, "vec_id", "embedding", threshold = 0.35)
            .select(col("vec_a"), col("vec_b")),
          emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")),
          maxHops = 6)),
      // q151 shape: weighted min-plus distances over the co-supply
      // projection; --docs bounds the order key so the incidence (and
      // the projected graph) grows.
      "wdist" -> (() => {
        val ords = Tables.orders(spark, sfDir)
        val bounded = if (nDocs > 0) ords.filter(col("o_orderkey") < nDocs) else ords
        val cs = bounded
          .filter(col("o_orderkey") % 4 === 0)
          .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
          .distinct()
        val proj = graft.operators.Bipartite
          .pairProjection(cs, "c", "sk", minSupport = 5)
          .select(col("item_a").as("sa"), col("item_b").as("sb"),
            expr("greatest(1, 1000 div w)").as("cost"))
        graft.operators.Graph.weightedDistances(
          proj, cs.select(col("sk")).distinct().filter(col("sk") % 10 === 0), rounds = 4)
      }),
      // q149 shape: 5 greedy coverage rounds; corpus (= item universe
      // AND doc candidates) grows with --docs.
      "cover" -> (() =>
        graft.operators.Coverage.greedyMaxCoverage(
          docs.select(col("doc_id"), explode(split(col("text"), " ")).as("item")), 5)),
      // q156 shape: earliest-arrival over the temporal co-supply
      // projection; --docs bounds the order key so the temporal edge
      // list grows.
      "tarrival" -> (() => {
        val ords = Tables.orders(spark, sfDir)
        val bounded = if (nDocs > 0) ords.filter(col("o_orderkey") < nDocs) else ords
        val cs = bounded
          .filter(col("o_orderkey") % 4 === 0)
          .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
          .select(
            col("o_custkey").as("c"),
            col("l_suppkey").as("sk"),
            datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01"))).cast("long").as("day"))
          .distinct()
        val te = graft.operators.Bipartite.temporalPairProjection(cs, "c", "sk", "day")
        graft.operators.Graph.earliestArrival(
          te, cs.select(col("sk")).distinct().filter(col("sk") % 10 === 0), rounds = 3)
      }),
      // q168 shape: distinct-word BPE (merge-rank kernel once per
      // vocabulary word) broadcast back over the growing corpus — the
      // slope should be flat-ish in the vocab stage and linear in the
      // rollup.
      "bpe" -> (() => {
        val dw = docs
          .filter(col("text").isNotNull)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("n"))
        val wordToks = dw
          .select(col("word"))
          .distinct()
          .withColumn("n_toks", size(call_function("graft_bpe", col("word"))).cast("long"))
        dw.join(wordToks, Seq("word")) // hint-free since r13 — matches joinWordMap
          .groupBy(col("doc_id"))
          .agg(sum(col("n") * col("n_toks")).as("bpe_tokens"), sum(col("n")).as("n_words"))
      }),
      // q171 shape: GPT-2-style pre-tokenize + BYTE-alphabet BPE over
      // the distinct pre-token universe, broadcast back — the regex
      // scan is the only per-corpus-row stage, so the slope should
      // track the corpus linearly like the char-mode row.
      "bpe_bytes" -> (() => {
        val dw = docs
          .filter(col("text").isNotNull)
          .select(
            col("doc_id"),
            explode(regexp_extract_all(
              col("text"),
              lit(graft.functions.BpeTokens.preTokenPattern),
              lit(0))).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("n"))
        val wordToks = dw
          .select(col("word"))
          .distinct()
          .withColumn("n_toks", size(call_function("graft_bpe_bytes", col("word"))).cast("long"))
        dw.join(wordToks, Seq("word")) // hint-free since r13 — matches joinWordMap
          .groupBy(col("doc_id"))
          .agg(sum(col("n") * col("n_toks")).as("bpe_tokens"), sum(col("n")).as("n_words"))
      }),
      // q174 shape: hashed-bigram classifier inference — per-corpus-row
      // explode + broadcast weight join + doc-grain map-side-combined
      // sum; the slope should track the corpus linearly.
      "classifier" -> (() => {
        val (bias, w) = graft.operators.TextAnalysis.qualityClassifier
        graft.operators.TextAnalysis.classifierKeepRule(docs, "text", "doc_id", w, bias)
      }),
      // q180 shape END-TO-END: train 16 byte merges on the corpus,
      // tokenize the SAME corpus with the trained table, roll up per
      // source — the r13 vocabulary-GROWTH scaling row (run against
      // make_scale.py --vocab-grow dirs, where distinct pre-tokens
      // grow with the replicas instead of repeating).
      "train_tokenize" -> (() =>
        graft.queries.Round12Queries.q180TrainTokenize(spark, sfDir)),
      // q190 shape END-TO-END: real PNG encode→decode→hash per doc
      // (strictly per-row — linear) + the banded Hamming equi-join
      // whose bucket mass is bounded by chunk-value collisions, so the
      // slope should track the corpus ~linearly; the pair space never
      // materializes n².
      "imagehash" -> (() =>
        graft.queries.Round14Queries.imageNearDupOver(docs)),
      // q194 shape END-TO-END: real Y4M parse + per-sampled-frame raw-
      // plane dHash (per-row byte arithmetic — linear) + the gated
      // banded join at frame grain + the clip-pair rollup; like
      // imagehash the pair space never materializes n².
      "videohash" -> (() =>
        graft.queries.Round15Queries.videoNearDupOver(docs)),
      // q196 shape END-TO-END: the heaviest composition in the suite —
      // two codec passes (PNG + WAV), two gated banded joins, the
      // cross-modal edge union, the CC label loop, and the keep-list
      // rollup; every stage an equi-join or hash agg, so the slope
      // should track the corpus near-linearly with the CC round count
      // adding a log-diameter term.
      "crossmodal" -> (() =>
        graft.queries.Round15Queries.crossModalKeepListOver(docs)),
      // q140 shape over the trading graph; --docs bounds the ORDER key
      // here so the edge list (and with it the node universe) grows.
      "hits" -> (() => {
        val ords = Tables.orders(spark, sfDir)
        val bounded = if (nDocs > 0) ords.filter(col("o_orderkey") < nDocs) else ords
        graft.operators.Graph.hits(
          bounded
            .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
            .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst")),
          iterations = 2)
      })
    )

    // Same inter-region protocol as Bench: sweep caches, force a GC so
    // ContextCleaner can delete the previous region's shuffle files,
    // and `sync` so their writeback debt is paid OUTSIDE the next
    // timed region (without it, reps degraded 17→91 s on identical
    // code+data on the slow-writeback container class).
    def quiesce(): Unit = {
      GraftSession.releaseAllCaches(spark)
      System.gc()
      try { new ProcessBuilder("sync").inheritIO().start().waitFor(): Unit }
      catch { case _: Throwable => () }
      Thread.sleep(300)
    }
    workloads.filter { case (name, _) => only.isEmpty || only(name) }.foreach { case (name, mk) =>
      // Untimed warmup (JIT + codegen + parquet footers) so rep1 isn't
      // a compiler benchmark; min-of-reps is the headline statistic.
      try { mk().queryExecution.toRdd.count(): Unit }
      catch { case _: Throwable => () }
      quiesce()
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = mk().queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        quiesce()
        println(f"[scale] $name docs=$nDocs rep$i: $dt%.3f s ($n rows)")
      }
    }
    spark.stop()
  }
}
