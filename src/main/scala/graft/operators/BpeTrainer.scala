package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge-table TRAINING (Sennrich et al. 2016) — the
  * vocabulary-induction stage itself, in-engine. The inference side
  * ships as the native kernels (`graft_bpe` / `graft_bpe_bytes`,
  * `functions/BpeTokens`); this operator produces the merge table
  * those kernels consume, so a pipeline can induce its tokenizer from
  * the corpus it is about to budget — no detour through a driver-side
  * script at 100 TB.
  *
  * Determinism contract (identical to `tools/make_bpe.py`, the
  * INDEPENDENT python implementation the spec cross-gates against):
  *  - pair counting: every adjacent symbol pair, overlapping allowed,
  *    weighted by word frequency;
  *  - merge pick: highest count, ties broken (left ASC, right ASC).
  *    Spark orders strings by their UTF-8 bytes and python compares
  *    code points — the SAME order for every string, since UTF-8 is
  *    code-point-order-preserving by construction. So the tie-break
  *    coincides in BOTH alphabets: the char mode's arbitrary corpus
  *    code points and the byte mode's U+0100..U+01FF symbols alike
  *    (not just ASCII);
  *  - merge apply: ONE left-to-right non-overlapping fold pass;
  *  - stop: after `nMerges` merges or when no pair count ≥
  *    `minPairCount`; merges containing control chars are skipped so
  *    the kernels' U+0001 pair-key encoding stays collision-free.
  *
  * Scale shape: the CORPUS pays exactly one pass (the distinct-word
  * count aggregate — vocabulary ≪ corpus, the same q167/q168
  * observation the inference side exploits). Every training round
  * then runs on VOCABULARY-sized state, on one of TWO arms chosen from
  * the OBSERVED vocabulary (see [[train]]):
  *
  *  - LOCAL (vocabulary ≤ [[LocalVocabCeil]]): collect the word
  *    histogram and finish the greedy loop on the driver
  *    ([[trainLocal]]).
  *  - INCREMENTAL (larger vocabularies): maintain the (l, r, c) pair
  *    table by DELTA — the fix every real BPE trainer ships. Applying
  *    merge (l, r) only changes pair counts inside words that CONTAIN
  *    (l, r) adjacently, so each round filters the word table to
  *    those rows, folds the merge over just them, and subtracts their
  *    old / adds their new pair rows into the running table in ONE
  *    re-aggregate. Exact integer bookkeeping, bit-equal to the local
  *    arm (BpeTrainerSpec arm-equality cases). Per-round shuffle
  *    volume is the touched-word delta + the distinct-pair table, not
  *    every adjacent pair in the vocabulary (~Σ|word|).
  *
  * The incremental arm is still exactly ONE argmax action per merge —
  * inherent to greedy BPE (each pick depends on the previous fold) —
  * so a 32k-merge production vocabulary remains 32k small jobs; what
  * the delta maintenance removes is the per-round O(Σ|word|)
  * explode+shuffle that made each job vocabulary-sized. Word and
  * count tables are leaf-materialized each round (checkpointed row
  * RDD, rewrapped) so round plans never stack — the graph loops'
  * checkpoint discipline; materialization rides the NEXT round's
  * argmax job (each argmax computes exactly one deferred generation:
  * counts_k ← delta_k ← words_(k-1)), keeping the one-job-per-merge
  * floor. Requires
  * `spark.checkpoint.checkpointAllMarkedAncestors=true` (set by
  * [[graft.GraftSession]]): the deferred generations mean more than
  * one marked RDD per action path, and default truncation stops at
  * the first — closure nesting would grow with round count until task
  * deserialization overflows the executor stack (measured at 64 byte
  * rounds).
  *
  * Character (code-point) alphabet: the initial split uses
  * `regexp_extract_all(w, '(?s).')` — java.util.regex matches `.`
  * per CODE POINT, matching the kernel's `codePointAt` walk and the
  * python trainer's `list(w)`. Byte alphabet (`byteAlphabet = true`):
  * pre-tokenized words split into chr(256+b)-mapped UTF-8 bytes —
  * the `make_bpe.py --bytes` / `graft_bpe_bytes` production form.
  */
object BpeTrainer {

  /** Adjacent symbol pairs (overlapping allowed) as an array of
    * (l, r) structs — the incremental arm's explode source. Empty for 0/1-symbol arrays (zero-length slices).
    */
  private def adjPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))

  /** True iff the symbol array contains (l, r) adjacently — the
    * touched-word predicate. NOT an `exists` over [[adjPairs]]: that
    * allocates the whole pair-struct array per row per scan
    * (interpreted HOF), which measured as expensive as the explode it
    * was supposed to avoid (400k vocabulary; README's BPE-arm section).
    * Instead one codegen'd substring scan over the U+0001-joined
    * symbol string: `⊕s1⊕s2⊕…⊕` contains `⊕l⊕r⊕` IFF (l, r) is an
    * adjacent symbol pair — exact because no MERGE symbol can contain
    * U+0001 (the trainer skips control-char merges; multi-char
    * symbols only arise from merges) and a single-char BASE symbol
    * equal to U+0001 only produces separator runs, never a spurious
    * `⊕l⊕r⊕` window.
    */
  private def hasPair(syms: Column, l: String, r: String): Column = {
    val sep = "\u0001"
    concat(lit(sep), concat_ws(sep, syms), lit(sep))
      .contains(lit(sep + l + sep + r + sep))
  }

  /** Raw frequency-weighted adjacent-pair rows of a (n, syms) frame —
    * (l, r, c = ±n) per pair occurrence, UNAGGREGATED, so the caller
    * can union several sides and pay ONE shuffle (the incremental
    * arm's counts update would otherwise carry three groupBys per
    * round, and per-round stage count is the cost driver at small
    * vocabularies).
    */
  private def pairRows(words: DataFrame, negate: Boolean): DataFrame =
    words
      .filter(size(col("syms")) > 1)
      .select(
        (if (negate) -col("n") else col("n")).as("c"),
        explode(adjPairs(col("syms"))).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"), col("c"))

  /** One left-to-right non-overlapping merge pass over a symbol
    * array — the `list_reduce` fold of the q167 oracle, as a Spark
    * `aggregate` HOF. Vocabulary-sized input only (never corpus-grain:
    * HOFs evaluate interpreted).
    */
  private def mergeFold(syms: Column, l: String, r: String): Column =
    aggregate(
      syms,
      typedLit(Seq.empty[String]),
      (acc, x) =>
        when(
          // try_element_at: ANSI element_at THROWS on the empty
          // accumulator's index -1 (DuckDB's acc[-1] yields NULL —
          // the oracle fold relies on exactly that null-to-false)
          try_element_at(acc, lit(-1)) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Bounded-collect ceiling for the driver-side arm (r12 verdict
    * Next #3): the word histogram may come down to the driver only
    * when the OBSERVED vocabulary count (already materialized for the
    * loop-session sizing) clears this — the Relational.scala
    * pre-collect-count guard idiom. 1M distinct words ≈ tens of MB of
    * symbol arrays: trivially driver-resident, while a genuinely huge
    * crawl vocabulary stays on the incremental arm.
    */
  final val LocalVocabCeil: Long = 1L << 20

  /** Train `nMerges` merges over the corpus's whitespace-word
    * frequencies (empties dropped — the corpus convention shared with
    * q167 and the python trainer). Returns the merges in rank order.
    *
    * `byteAlphabet = true` trains the production GPT-2 form instead:
    * words come from [[graft.functions.BpeTokens.preTokenPattern]]
    * (the RE2∩Java pre-tokenizer) and base symbols are the word's
    * UTF-8 BYTES in the chr(256+b) mapped alphabet — exactly
    * `make_bpe.py --bytes` / [[graft.functions.BpeTokens.encodeBytes]].
    * The byte mapping runs as a column expression (per-byte binary
    * substring → hex → chr) over the vocabulary-sized word table only.
    *
    * `local` forces an arm: `Some(true)` the driver-side arm (fails
    * loudly above [[LocalVocabCeil]]), `Some(false)` the incremental
    * arm; `None` defers to `GRAFT_BPE_LOCAL=on|off`, then to the
    * observed-vocabulary auto-select.
    */
  def train(
      corpus: DataFrame,
      textCol: String,
      nMerges: Int,
      minPairCount: Long = 2L,
      byteAlphabet: Boolean = false,
      local: Option[Boolean] = None): Seq[(String, String)] = {
    require(nMerges >= 1 && nMerges <= 100000, s"nMerges in [1, 100000]; got $nMerges")
    require(minPairCount >= 1, s"minPairCount >= 1; got $minPairCount")
    val spark = corpus.sparkSession
    val wordExpr =
      if (byteAlphabet)
        regexp_extract_all(col(textCol), lit(graft.functions.BpeTokens.preTokenPattern), lit(0))
      else split(col(textCol), " ")
    // Byte → symbol via a 256-char literal lookup (Spark's chr() masks
    // its argument to 8 bits, so it cannot emit U+0100+); byte value
    // b indexes the string of chars U+0100..U+01FF. Vocabulary-sized
    // rows only — the per-byte hex walk is bounded bookkeeping.
    val byteMap = (0x100 to 0x1FF).map(_.toChar).mkString
    def byteSyms(w: Column): Column =
      transform(
        sequence(lit(1), octet_length(w)),
        i =>
          lit(byteMap).substr(
            conv(hex(w.cast("binary").substr(i, lit(1))), 16, 10).cast("int") + 1,
            lit(1)))
    // The ONE corpus-grain stage: distinct-word counts + symbol split.
    val words0 = corpus
      .filter(col(textCol).isNotNull)
      .select(explode(wordExpr).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("n"),
        (if (byteAlphabet) byteSyms(col("w"))
         else regexp_extract_all(col("w"), lit("(?s)."), lit(0))).as("syms"))

    // localCheckpoint, not plain persist: the RDD-leaf trick cuts the
    // SQL plan per round, but RDD objects still reference their
    // parents, so at BPE depths (48-64 rounds ≫ the graph loops'
    // ≤ 12) the serialized task closure nests thousands of
    // ObjectInputStream frames and task DESERIALIZATION overflows the
    // executor stack (hit at 64 byte-mode rounds on the adversarial
    // corpus). localCheckpoint truncates the lineage after the first
    // job that computes the RDD — which is the very next round's
    // argmax action. Consequence: the PREVIOUS round may only
    // unpersist after its successor has been computed (a truncated
    // RDD cannot be recomputed), hence the one-round-deferred
    // unpersist below.
    // FAILURE MODE at cluster scale: localCheckpoint trades fault
    // tolerance for lineage truncation — a checkpointed block lost to
    // executor death or cache eviction mid-training is UNRECOVERABLE
    // (Spark cannot recompute a truncated RDD) and the whole train()
    // dies. Acceptable in local mode and for the vocabulary-sized
    // state here (blocks are tiny, eviction is implausible), but a
    // long-running cluster train should either set a checkpoint dir
    // and use reliable checkpoint() for the round state, or wrap
    // train() in a retry-from-words0 loop — training is deterministic,
    // so a retry reproduces the identical merge table.
    // The training rounds run on a session sized from the MATERIALIZED
    // vocabulary count (Graph.loopSessionFor): the word
    // table is vocabulary-sized — tiny against the corpus-tuned
    // session width — and each of the 48-64 rounds is one action
    // whose cost is dominated by per-task scheduler wakeups across
    // near-empty partitions plus AQE's per-exchange planning jobs.
    // Measured at sf0.1/32cpu (min of 2): q175 10.0 -> 7.2 s, q176
    // 10.5 -> 7.7 s on the clone — the residual is per-ACTION job
    // latency (one argmax action per merge is inherent to greedy
    // BPE), which is the acceptable cost of a TRAINING operator run
    // once per corpus, not per query. At a genuinely huge vocabulary
    // the derived width clamps to the session setting and nothing
    // changes.
    val words0Rdd = words0.rdd
    words0Rdd.localCheckpoint()
    val vocabRows = words0Rdd.count()
    val loopSpark = Graph.loopSessionFor(spark, vocabRows).getOrElse(spark)
    val words0Df = loopSpark.createDataFrame(words0Rdd, words0.schema)
    // Arm choice, explicit > env > auto. Auto keys on the OBSERVED
    // vocabulary alone (r16): the incremental arm costs one argmax
    // ACTION per merge — pure scheduler latency whenever the word
    // table is driver-sized — and the local arm is bit-equal by spec
    // (BpeTrainerSpec arm-equality, 512 byte-alphabet merges) with its
    // collect guarded by LocalVocabCeil. Measured: q175/q176 (48/64
    // merges, 31-word fixture vocab) spent 13.7 s of BENCH_r15 on
    // distributed job round-trips; at 512 merges over 50k words (32
    // cores, README's BPE-arm section) the local arm took 5.3 s
    // against 421.9 s for a distributed per-round recount. A genuinely
    // huge vocabulary (> 2^20 observed words) stays distributed, so
    // the 100 TB regime is unchanged.
    val useLocal =
      graft.Config.armOverride(local, "GRAFT_BPE_LOCAL").getOrElse(vocabRows <= LocalVocabCeil)
    try {
      if (useLocal) trainLocal(words0Df, nMerges, minPairCount, vocabRows)
      else trainIncremental(loopSpark, words0Df, nMerges, minPairCount)
    } finally words0Rdd.unpersist(): Unit
  }

  /** UTF-8 binary order — the order Spark's string sort (and so the
    * distributed argmax's tie-break) uses. java.lang.String.compareTo
    * is UTF-16 code-UNIT order, which disagrees above the BMP
    * (supplementary characters sort below U+E000 there); comparing
    * the UTF-8 bytes unsigned reproduces Spark exactly.
    */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def hasControlChar(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) <= '\u001f') return true
      i += 1
    }
    false
  }

  /** The left-to-right non-overlapping merge pass — [[mergeFold]]'s
    * exact semantics on a plain array. Returns `null` when the pair
    * never fires (callers treat that as "untouched").
    */
  private def foldLocal(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var changed = false
    var i = 0
    while (i < syms.length) {
      if (out.nonEmpty && out.last == l && syms(i) == r) {
        out(out.length - 1) = l + r
        changed = true
      } else out += syms(i)
      i += 1
    }
    if (changed) out.toArray else null
  }

  /** Driver-side merge loop (r12 verdict Next #3 — the production-
    * vocabulary path): after the ONE corpus-grain distinct-word
    * count, the word histogram is usually small enough to finish the
    * greedy loop on the driver — one scheduler round-trip per merge ×
    * a GPT-2-sized 32k vocabulary is ~32k jobs on the incremental
    * arm, pure per-action latency. The collect is guarded by the
    * OBSERVED vocabulary count ([[LocalVocabCeil]] — the
    * Relational.scala pre-collect-count idiom); the genuinely huge
    * vocab case stays distributed.
    *
    * Exact same recurrence as the incremental arm (BpeTrainerSpec
    * pins arm-equality at 512 merges): frequency-weighted adjacent
    * pair counts with overlap multiplicity, argmax (c DESC, l, r —
    * the tie-break compares [[utf8Cmp]] UTF-8 binary order, matching
    * Spark's string sort), control-char merges never selected,
    * sub-threshold pairs retained (a count may RISE later when two
    * merge paths produce the same symbol string), exact zeros
    * dropped. Incremental maintenance mirrors [[trainIncremental]]:
    * a pair→words occurrence index limits each round's work to the
    * touched words; a lazy max-heap (every count change pushes an
    * entry; stale entries discard at pop) makes argmax O(log P)
    * amortized instead of a per-round table scan.
    */
  private[graft] def trainLocal(
      words0: DataFrame,
      nMerges: Int,
      minPairCount: Long,
      vocabRows: Long): Seq[(String, String)] = {
    require(
      vocabRows <= LocalVocabCeil,
      s"BpeTrainer local arm: observed vocabulary $vocabRows exceeds the " +
        s"driver-collect ceiling $LocalVocabCeil — use the incremental arm " +
        "(local = Some(false) or GRAFT_BPE_LOCAL=off)")
    import scala.collection.mutable
    val rows = words0.select(col("n"), col("syms")).collect()
    val wordN = new Array[Long](rows.length)
    val wordSyms = new Array[Array[String]](rows.length)
    var w = 0
    while (w < rows.length) {
      wordN(w) = rows(w).getLong(0)
      wordSyms(w) = rows(w).getSeq[String](1).toArray
      w += 1
    }
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    val heapOrd = new java.util.Comparator[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        if (a._1 != b._1) return java.lang.Long.compare(b._1, a._1) // c DESC
        val dl = utf8Cmp(a._2, b._2)
        if (dl != 0) dl else utf8Cmp(a._3, b._3)
      }
    }
    val heap = new java.util.PriorityQueue[(Long, String, String)](64, heapOrd)
    def push(p: (String, String), c: Long): Unit =
      if (c >= minPairCount && !hasControlChar(p._1 + p._2)) heap.add((c, p._1, p._2)): Unit
    def bump(p: (String, String), delta: Long): Unit = {
      val c = counts.getOrElse(p, 0L) + delta
      if (c == 0L) counts.remove(p) else counts(p) = c
      if (delta != 0L) push(p, c)
    }
    // init quietly (no per-increment heap churn), then seed the heap
    // once per final pair
    w = 0
    while (w < rows.length) {
      val s = wordSyms(w)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + wordN(w)
        occ.getOrElseUpdate(p, mutable.HashSet.empty) += w
        i += 1
      }
      w += 1
    }
    for ((p, c) <- counts) push(p, c)
    val merges = Vector.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      // pop stale entries: valid iff the entry's count IS the current
      // count (every change pushed a fresh entry, so the current
      // value of every live pair is represented)
      var top: (String, String) = null
      while (top == null && !heap.isEmpty) {
        val e = heap.poll()
        if (counts.getOrElse((e._2, e._3), 0L) == e._1) top = (e._2, e._3)
      }
      if (top == null) exhausted = true
      else {
        val (l, r) = top
        merges += ((l, r))
        // No winner re-push: the fold below consumes every (l, r)
        // adjacency (each occurrence merges), so the delta bookkeeping
        // drives the winner's count to 0 and removes it — a re-push
        // with the pre-fold count would be a guaranteed-stale heap
        // entry. If a later fold RE-CREATES the pair (a merge whose
        // output borders l), bump() pushes it fresh like any pair.
        val touched = occ.getOrElse(top, mutable.HashSet.empty).toArray
        java.util.Arrays.sort(touched) // determinism of HashMap-free iteration
        for (idx <- touched) {
          val old = wordSyms(idx)
          val next = foldLocal(old, l, r)
          if (next != null) {
            val n = wordN(idx)
            val delta = mutable.HashMap.empty[(String, String), Long]
            var i = 0
            while (i < old.length - 1) {
              val p = (old(i), old(i + 1))
              delta(p) = delta.getOrElse(p, 0L) - n
              i += 1
            }
            i = 0
            while (i < next.length - 1) {
              val p = (next(i), next(i + 1))
              delta(p) = delta.getOrElse(p, 0L) + n
              i += 1
            }
            val oldSet = old.iterator.zip(old.iterator.drop(1)).toSet
            val newSet = next.iterator.zip(next.iterator.drop(1)).toSet
            for (p <- oldSet if !newSet.contains(p))
              occ.get(p).foreach { s => s -= idx; if (s.isEmpty) occ.remove(p): Unit }
            for ((p, d) <- delta if d != 0L) bump(p, d)
            for (p <- newSet if !oldSet.contains(p))
              occ.getOrElseUpdate(p, mutable.HashSet.empty) += idx
            wordSyms(idx) = next
          }
        }
        round += 1
      }
    }
    merges.result()
  }

  private type RowRdd = org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]

  /** Checkpoint-mark a frame and rewrap it as an RDD-leaf DataFrame on
    * the loop session. LAZY: partitions persist (and lineage
    * truncates) at the first job that computes the RDD — a later
    * round's argmax, so materialization rides the
    * existing one-job-per-merge floor instead of adding jobs. Not a
    * [[LoopScope.leaf]]: a checkpointed generation may only be
    * released after its successor is computed (the deferred release
    * of the incremental arm).
    */
  private def leafMark(loopSpark: org.apache.spark.sql.SparkSession, df: DataFrame): (DataFrame, RowRdd) = {
    val rdd = df.rdd
    rdd.localCheckpoint()
    (loopSpark.createDataFrame(rdd, df.schema), rdd)
  }

  /** The argmax pick over a (l, r, c) pair-count frame: highest count,
    * ties (l ASC, r ASC); control-char merges skipped (they would
    * collide with the kernels' U+0001 pair-key encoding — as in the
    * python trainer). One 1-row collect per round — the
    * [[Coverage.greedyMaxCoverage]] driver-bookkeeping pattern.
    */
  private def argmax(counts: DataFrame, minPairCount: Long): Array[org.apache.spark.sql.Row] =
    counts
      .filter(col("c") >= minPairCount)
      .filter(!concat(col("l"), col("r")).rlike("[\\x00-\\x1f]"))
      .orderBy(col("c").desc, col("l"), col("r"))
      .limit(1)
      .collect()

  /** Incremental arm: maintain the (l, r, c) pair-count table by
    * delta. Applying merge (l, r) only changes counts of pairs inside
    * words containing (l, r) adjacently, so each round:
    *
    *   touched_k  = words_(k-1) filtered to hasPair(l, r), with the
    *                fold applied alongside the old symbols
    *   counts_k   = (counts_(k-1) ∪ -pairs(touched.old)
    *                            ∪ +pairs(touched.new)) re-aggregated,
    *                zero rows dropped
    *   words_k    = words_(k-1) with the fold applied to the rows
    *                that contain (l, r), in place
    *
    * Exact integer bookkeeping — counts_k is bit-equal to a full
    * recount of words_k (arm equality with [[trainLocal]] pinned in
    * BpeTrainerSpec), and
    * a pair's count may RISE later (two merge paths can produce the
    * same symbol string, e.g. (a,bc) and (ab,c) both yield "abc"), so
    * sub-threshold pairs stay in the table; only exact zeros drop.
    *
    * Job shape: round k's argmax reads counts_(k-1), which computes
    * the deferred touched_(k-1) and words_(k-2) generations — each
    * argmax materializes exactly one generation of state, keeping one
    * job per merge. A generation may only unpersist after its
    * successor is COMPUTED (truncated RDDs cannot recompute), hence
    * the two-round-deferred release queue.
    *
    * words_k is a narrow map of words_(k-1), never a union with
    * touched_k: an RDD built over a checkpoint-marked leaf keeps the
    * partition objects it saw before truncation, and a union +
    * coalesce partition serializes its parents' partitions, so a
    * per-round union chained every earlier round into each task and
    * overflowed the serializer's stack (≈ 300-500 rounds; the task
    * never launched and the job hung). Map partitions are the words_0
    * leaf's at every depth.
    */
  private def trainIncremental(
      loopSpark: org.apache.spark.sql.SparkSession,
      words0: DataFrame,
      nMerges: Int,
      minPairCount: Long): Seq[(String, String)] = {
    var words = words0
    var wordsRdd: RowRdd = null // null = words0 (caller-owned)
    // every counts generation coalesces back to the words0 width: the
    // union below otherwise ADDS its inputs' partition counts each
    // round (exponential task blowup, measured: 41k tasks/stage by
    // round ~15). coalesce is shuffle-free; the tables are
    // vocabulary-sized.
    val width = words0.rdd.getNumPartitions.max(1)
    // counts_0 is the ONE full-vocabulary pair aggregate the
    // incremental arm ever runs; leaf-marked so its two consumers
    // (round 1's argmax, counts_1) share one computation
    var (counts, countsRdd) =
      leafMark(
        loopSpark,
        pairRows(words0, negate = false).groupBy(col("l"), col("r")).agg(sum(col("c")).as("c")).coalesce(width))
    // Deferred release: a checkpointed generation may only unpersist
    // once every consumer is COMPUTED. counts_k's and touched_k's sole
    // consumer (counts_(k+1), counts_k) computes at the NEXT argmax;
    // words_k is read by words_(k+1)/touched_(k+1), which compute one
    // argmax LATER — hence the two-stage queue. At most ~3
    // vocabulary-sized generations are live at any time.
    var freeAfter1: List[RowRdd] = Nil
    var freeAfter2: List[RowRdd] = Nil
    val merges = Vector.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    try {
      while (round < nMerges && !exhausted) {
        // the 1-row action: computes the current counts generation
        // and, transitively, the one deferred touched/words generation
        // it references — the whole round's materialization in one job
        val top = argmax(counts, minPairCount)
        freeAfter1.foreach(_.unpersist())
        freeAfter1 = freeAfter2
        freeAfter2 = Nil
        if (top.isEmpty) exhausted = true
        else {
          val l = top(0).getString(0)
          val r = top(0).getString(1)
          merges += ((l, r))
          val touchedPred = size(col("syms")) > 1 && hasPair(col("syms"), l, r)
          val (touched, touchedRdd) = leafMark(
            loopSpark,
            words
              .filter(touchedPred)
              .select(col("n"), col("syms").as("old"), mergeFold(col("syms"), l, r).as("syms")))
          val (nextWords, nextWordsRdd) = leafMark(
            loopSpark,
            words.select(
              col("n"),
              when(touchedPred, mergeFold(col("syms"), l, r)).otherwise(col("syms")).as("syms")))
          val (nextCounts, nextCountsRdd) = leafMark(
            loopSpark,
            counts
              .unionByName(pairRows(touched.select(col("n"), col("old").as("syms")), negate = true))
              .unionByName(pairRows(touched.select(col("n"), col("syms")), negate = false))
              .groupBy(col("l"), col("r"))
              .agg(sum(col("c")).as("c"))
              .filter(col("c") > 0)
              .coalesce(width))
          freeAfter1 = touchedRdd :: Option(countsRdd).toList ::: freeAfter1
          freeAfter2 = Option(wordsRdd).toList ::: freeAfter2
          words = nextWords
          wordsRdd = nextWordsRdd
          counts = nextCounts
          countsRdd = nextCountsRdd
          round += 1
        }
      }
      merges.result()
    } finally {
      (freeAfter1 ::: freeAfter2 ::: List(countsRdd, wordsRdd))
        .foreach(r => if (r != null) r.unpersist(): Unit)
    }
  }

  /** [[train]] as a (rank, l, r) DataFrame — the gate-query surface.
    * The merge table is ≤ `nMerges` rows by construction, so the
    * driver-side assembly is bounded bookkeeping, not data movement.
    */
  def trainDf(
      corpus: DataFrame,
      textCol: String,
      nMerges: Int,
      minPairCount: Long = 2L,
      byteAlphabet: Boolean = false,
      local: Option[Boolean] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    train(corpus, textCol, nMerges, minPairCount, byteAlphabet, local).zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "l", "r")
  }
}
