package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Multimodal, Relational}
import graft.queries.CoreQueries.Q

/** Round-14 surface — the r13 verdict's image near-dup ask (Next #6):
  * multimodal payloads decoded pixel-exact since r12, but nothing
  * DEDUPED them — the dedup family was text-only. q189/q190 close it
  * with perceptual hashing over REAL decoded pixels:
  *
  *  - q189 computes dHash/aHash 64-bit fingerprints for a generated
  *    PNG corpus (one block-pattern image per document, plus an
  *    exact-nearest-neighbor RESIZED variant for every fifth doc —
  *    real `javax.imageio` encode→decode→resample→encode→decode
  *    chains on the Spark side);
  *  - q190 runs the banded Hamming join over the dHashes
  *    ([[graft.operators.Dedup.simHashPairs]] machinery at bits = 64:
  *    8 pigeonhole chunks for maxHamming = 7 — lossless, never
  *    all-pairs) and flags base↔variant recoveries.
  *
  * The ORACLE side cannot decode PNGs — instead the fixture is
  * constructed so every pixel is ANALYTIC (8×8 constant-luma blocks
  * valued `h32(seed#bx#by) mod 256`, floor-math resampling), so DuckDB
  * replays the hashes arithmetically. A hash mismatch therefore
  * catches drift anywhere in the real codec chain: a non-identity
  * decode (color management), a resample off-by-one, or a hash-bit
  * ordering regression. The planted variants' Hamming spectrum is
  * deliberately wide (small images + aggressive resizes): ~80% land
  * within the q190 threshold and the rest document the recall
  * boundary — both engines agree on every pair either way.
  */
object Round14Queries {

  /** Total order for a SMALL output above an EXPENSIVE child: a global
    * `orderBy` plans RangePartitioning, whose sampling job EXECUTES
    * the child once more — for these codec pipelines that is a full
    * extra encode/decode pass (measured on q191: 5.1 s with orderBy
    * vs ~2.7 s single-pass). `repartition(1) + sortWithinPartitions`
    * keeps the expensive pass parallel and 1-shot, then totally
    * orders the few hundred result rows in one task — correct ONLY
    * for the PAIR-output queries (q190/q192), whose near-dup pair
    * sets are a small fraction of the corpus. The per-item hash
    * queries (q189/q191) emit ~1.2 rows per document — corpus-sized —
    * so they must NOT funnel through one task: they persist the hash
    * frame and keep the sampled range sort instead (the persist
    * already amortizes the codec pass the single-task sort was
    * avoiding; r14 ADVICE).
    */
  private def orderedSmall(
      df: org.apache.spark.sql.DataFrame,
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** The generated image corpus: one base block-PNG per document
    * (dims 64–124 × 64–116, seeded by doc_id) under img_id = 2·doc_id,
    * plus a real resized variant (48–108 × 48–100) under
    * img_id = 2·doc_id + 1 for every doc_id ≡ 0 (mod 5). All
    * deterministic integer derivations of doc_id, so the oracle
    * reproduces the pixel function without a codec.
    */
  private def imageRecords(s: SparkSession, d: String): Dataset[Multimodal.MediaRecord] =
    imageRecordsFor(Tables.documents(s, d))

  /** The corpus generator over an arbitrary (doc_id, …) frame — shared
    * with q195's image side. */
  private[graft] def imageRecordsFor(docs: org.apache.spark.sql.DataFrame): Dataset[Multimodal.MediaRecord] = {
    val s = docs.sparkSession
    import s.implicits._
    // ONE pass: each id emits its base record and, for every fifth
    // doc, the resized variant built from the just-encoded base bytes
    // (a two-branch union over the same unpersisted Dataset would
    // re-run the full-corpus PNG encode for the variant branch —
    // r14 review finding).
    // Spread BEFORE the codec pass: the media fixture corpora arrive
    // as ONE parquet split and `mapPartitions` preserves input
    // partitioning, so without this every per-corpus codec chain
    // (PNG/WAV/Y4M encode+decode, 200–500 µs/record — the codec
    // microbench in OPTIMIZATION_r16) ran as a SINGLE task at any core
    // count. That microbench's r17 thread-scaling arm showed the
    // kernels parallelize cleanly (4000 recs: 0.92 s @1 thread →
    // 0.16 s @32 — no ImageIO lock pathology), and
    // spreadFewSplits is the identity once the input already has
    // ≥ parallelism splits (the real-crawl case). Every codec pass in
    // the media queries spreads its input the same way.
    Relational.spreadFewSplits(docs.select(col("doc_id")), "doc_id")
      .as[Long].mapPartitions(_.flatMap { id =>
      val wb = (64 + id % 61).toInt
      val hb = (64 + (id / 61) % 53).toInt
      val base = Multimodal.encodeBlockPng(2 * id, id, wb, hb)
      if (id % 5 == 0) {
        val wv = (48 + (id * 3 + 7) % 61).toInt
        val hv = (48 + (id * 5 + 11) % 53).toInt
        Iterator(base, Multimodal.resizeExact(base, 2 * id + 1, wv, hv))
      } else Iterator(base)
    })
  }

  /** q189 — perceptual image hashes over the real-codec pipeline:
    * per image the decoded dims and the dHash/aHash fingerprints as
    * unsigned 32-bit halves (SQL-safe sign handling).
    */
  val q189ImagePhash: Q = (s, d) => {
    // Corpus-sized output (~1.2 rows/doc): the hash frame is PERSISTED
    // and the total order stays a sampled range sort — the range-
    // partitioning sampling job reads the cache instead of re-running
    // the codec pipeline, and no single task ever holds the corpus
    // (the scale contract orderedSmall cannot give here). Measured
    // cost of the scale-correct plan at sf0.1 (min-of-5): 0.94 s vs
    // 0.62 s for the old repartition(1) funnel — +0.3 s of persist
    // build + range shuffle, accepted: the funnel serializes the
    // whole corpus through one task at crawl scale.
    val hashes = Multimodal.imageHashes(imageRecords(s, d))(s).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashes
      .select(
        call_function("div", col("docId"), lit(2L)).as("doc_id"),
        when(col("docId") % 2 === 1, lit("var")).otherwise(lit("base")).as("kind"),
        col("width"),
        col("height"),
        col("dhashHi").as("dhash_hi"),
        col("dhashLo").as("dhash_lo"),
        col("ahashHi").as("ahash_hi"),
        col("ahashLo").as("ahash_lo"))
      .orderBy(col("doc_id"), col("kind"))
  }

  /** The analytic pixel/hash replay shared by both oracles: `lum(X, Y)`
    * is the block value at pixel (X, Y) of an image with display dims
    * (w, h) resampled from base dims (wb, hb) — for base rows w = wb
    * so the mapping is the identity. All `//` operands are
    * non-negative, so DuckDB's truncating division IS floor division.
    */
  private def lumSql(x: String, y: String): String =
    "(CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '#' || " +
      s"CAST((((((($x))*wb)//w)*8)//wb) AS VARCHAR) || '#' || " +
      s"CAST((((((($y))*hb)//h)*8)//hb) AS VARCHAR)), 1, 8) AS BIGINT) % 256)"

  /** CTE chain `imgs → dh → ah` computing (img_id, w, h, dhash, ahash
    * halves) for the generated corpus — the q189/q190 oracle core. */
  private[queries] val hashCtesSql: String =
    s"""ids AS (SELECT doc_id AS id FROM documents),
      |imgs AS (
      |  SELECT 2*id AS img_id, id AS seed,
      |         CAST(64 + id % 61 AS BIGINT) AS wb, CAST(64 + (id // 61) % 53 AS BIGINT) AS hb,
      |         CAST(64 + id % 61 AS BIGINT) AS w,  CAST(64 + (id // 61) % 53 AS BIGINT) AS h
      |  FROM ids
      |  UNION ALL
      |  SELECT 2*id + 1, id,
      |         CAST(64 + id % 61 AS BIGINT), CAST(64 + (id // 61) % 53 AS BIGINT),
      |         CAST(48 + (id*3 + 7) % 61 AS BIGINT), CAST(48 + (id*5 + 11) % 53 AS BIGINT)
      |  FROM ids WHERE id % 5 = 0),
      |dbits AS (
      |  SELECT img_id,
      |         CAST(b AS BIGINT) AS b,
      |         (${lumSql("((b % 8)*w)//9", "((b // 8)*h)//8")} >
      |          ${lumSql("(((b % 8) + 1)*w)//9", "((b // 8)*h)//8")}) AS bit
      |  FROM imgs, unnest(generate_series(0, 63)) AS t(b)),
      |dh AS (
      |  SELECT img_id,
      |    CAST(SUM(CASE WHEN bit AND b >= 32 THEN (CAST(1 AS BIGINT) << CAST(b - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS dhash_hi,
      |    CAST(SUM(CASE WHEN bit AND b < 32 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS dhash_lo
      |  FROM dbits GROUP BY 1),
      |aslots AS (
      |  SELECT img_id,
      |         CAST(i AS BIGINT) AS i,
      |         ${lumSql("((i % 8)*w)//8", "((i // 8)*h)//8")} AS s
      |  FROM imgs, unnest(generate_series(0, 63)) AS t(i)),
      |amean AS (SELECT img_id, CAST(SUM(s) AS BIGINT) // 64 AS mean FROM aslots GROUP BY 1),
      |ah AS (
      |  SELECT a.img_id,
      |    CAST(SUM(CASE WHEN a.s > m.mean AND a.i >= 32 THEN (CAST(1 AS BIGINT) << CAST(a.i - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS ahash_hi,
      |    CAST(SUM(CASE WHEN a.s > m.mean AND a.i < 32 THEN (CAST(1 AS BIGINT) << CAST(a.i AS INTEGER)) ELSE 0 END) AS BIGINT) AS ahash_lo
      |  FROM aslots a JOIN amean m USING (img_id) GROUP BY 1)""".stripMargin

  val q189Sql: String =
    s"""WITH $hashCtesSql
      |SELECT (img_id // 2) AS doc_id,
      |  CASE WHEN img_id % 2 = 1 THEN 'var' ELSE 'base' END AS kind,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  dhash_hi, dhash_lo, ahash_hi, ahash_lo
      |FROM imgs JOIN dh USING (img_id) JOIN ah USING (img_id)
      |ORDER BY doc_id NULLS FIRST, kind NULLS FIRST""".stripMargin

  /** q190 — image near-dup pairs: banded Hamming self-join over the
    * q189 dHashes (8 pigeonhole chunks ⇒ lossless at maxHamming = 7),
    * exactly the [[Dedup.simHashPairs]] scale shape — candidate
    * generation is an equi-join on (chunk, value), never the O(n²)
    * pair space. `same_doc` flags base↔variant recoveries; the rare
    * same_doc = false row is a genuine cross-image dHash collision
    * (images with equal dims share deterministic always-zero bits —
    * adjacent grid samples inside one block — shrinking effective
    * entropy), kept in the output as the gate's negative side. The
    * oracle verifies the full pair set via the exact all-pairs scan
    * DuckDB can afford at oracle scale.
    */
  val q190ImageNearDup: Q = (s, d) => {
    val hashes = Multimodal.imageHashes(imageRecords(s, d))(s).toDF()
    // Persisted: BOTH sides of the banded self-join (and the chunk
    // explode above them) would otherwise re-run the codec pipeline —
    // the winnowCandidatePairs cache-before-explode discipline over an
    // expensive lineage (A/B min-of-3 at sf0.1: this is the class
    // where the cache WINS, unlike q184/q186's per-row regex chains).
    val sh = hashes.select(
      col("docId").as("img_id"),
      expr("shiftleft(dhashHi, 32) | dhashLo").as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup
      .simHashPairs(sh, "img_id", maxHamming = 7, bits = 64)
      .select(
        col("id_a"),
        col("id_b"),
        col("hamming"),
        (call_function("div", col("id_a"), lit(2L)) ===
          call_function("div", col("id_b"), lit(2L))).as("same_doc"))
      .transform(orderedSmall(_, col("id_a"), col("id_b")))
  }

  val q190Sql: String =
    s"""WITH $hashCtesSql,
      |p AS (
      |  SELECT a.img_id AS id_a, b.img_id AS id_b,
      |    CAST(bit_count(xor(a.dhash_hi, b.dhash_hi)) + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS BIGINT) AS hamming
      |  FROM dh a JOIN dh b ON a.img_id < b.img_id)
      |SELECT id_a, id_b, hamming, ((id_a // 2) = (id_b // 2)) AS same_doc
      |FROM p WHERE hamming <= 7
      |ORDER BY id_a NULLS FIRST, id_b NULLS FIRST""".stripMargin

  // ---- q191/q192: audio perceptual hash + near-dup --------------------

  /** The generated audio corpus — the image fixture's audio twin: one
    * real PCM WAV per document from its ASCII-projected text (the
    * UTF-16-unit `charAt & 0xff` in the sample formula and SQL's
    * code-point `substr`/`ord` agree only on ASCII — the q79-class
    * cross-engine trap, dodged by construction), under
    * clip_id = 2·doc_id; every fifth doc adds a REAL
    * decode→amplitude-halve→re-encode variant under 2·doc_id + 1.
    * Docs whose text projects to nothing are excluded on both sides.
    */
  private[graft] def audioRecordsFor(docs: org.apache.spark.sql.DataFrame): Dataset[Multimodal.MediaRecord] = {
    val s = docs.sparkSession
    import s.implicits._
    // Spread BEFORE the codec pass — see imageRecordsFor; the shuffle
    // carries (id, ASCII projection) only.
    Relational.spreadFewSplits(
      docs
        .filter(col("text").isNotNull)
        .select(col("doc_id"), regexp_replace(col("text"), "[^ -~]", "").as("__t"))
        .filter(length(col("__t")) >= 1),
      "doc_id")
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val base = Multimodal.encodePcmWav(2 * id, t)
        if (id % 5 == 0)
          Iterator(base, Multimodal.scaleAmplitudeExact(base, 2 * id + 1, 2))
        else Iterator(base)
      })
  }

  /** q191 — perceptual audio fingerprints over the real-codec chain
    * (WAV encode → decode → [for variants: floor-halve → encode →
    * decode] → 65-window energy contour): the DuckDB oracle replays
    * every SAMPLE analytically (`s_i = ((c_i·257 + i·131) mod 2¹⁶) −
    * 2¹⁵` over the ASCII projection; the variant's decoded samples
    * are exactly `floorDiv(s_i, 2)` because the 16-bit WAV round trip
    * is sample-exact), so a drifted codec, window boundary, or bit
    * assembly fails the hash gate.
    */
  val q191AudioPhash: Q = (s, d) => {
    // Corpus-sized output: persist + sampled range sort, not the
    // single-task repartition(1) — same rationale and A/B as q189
    // (2.68 vs 2.47 s min-of-5 at sf0.1: the WAV codec dominates, so
    // the persist's relative cost is smaller here).
    val hashes = Multimodal.audioHashes(audioRecordsFor(Tables.documents(s, d)))(s).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashes
      .select(
        call_function("div", col("docId"), lit(2L)).as("doc_id"),
        when(col("docId") % 2 === 1, lit("half")).otherwise(lit("base")).as("kind"),
        col("nSamples").as("n_samples"),
        col("ahashHi").as("ahash_hi"),
        col("ahashLo").as("ahash_lo"))
      .orderBy(col("doc_id"), col("kind"))
  }

  /** The analytic sample/window/hash replay shared by both audio
    * oracles: `dv` = the amplitude divisor (1 for base clips, 2 for
    * variants — the decoded variant sample IS floorDiv(base, 2)).
    * Floor division on negatives via the canonical non-negative
    * residue; every window w ∈ [0, 64] is non-empty for n ≥ 65.
    */
  private[queries] val audioHashCtesSql: String = audioHashCtes()

  /** The audio CTE chain with a caller-chosen name for its FINAL CTE —
    * so a composing oracle (q195) can avoid colliding with the image
    * chain's `ah` without string surgery on shared SQL.
    */
  private[queries] def audioHashCtes(finalName: String = "ah"): String = {
    def fd(a: String, m: String): String =
      s"((($a) - (((($a) % ($m)) + ($m)) % ($m))) // ($m))"
    val sExpr = "((((ord(substr(t, CAST(i % l AS INTEGER) + 1, 1)) * 257) + (i * 131)) % 65536) - 32768)"
    s"""src AS (SELECT doc_id AS id, regexp_replace(text, '[^ -~]', '', 'g') AS t
      |        FROM documents WHERE text IS NOT NULL),
      |ok AS (SELECT id, t, CAST(len(t) AS BIGINT) AS l,
      |              CAST(256 + len(t) % 512 AS BIGINT) AS n
      |       FROM src WHERE len(t) >= 1),
      |clips AS (
      |  SELECT 2*id AS clip_id, t, l, n, CAST(1 AS BIGINT) AS dv FROM ok
      |  UNION ALL
      |  SELECT 2*id + 1, t, l, n, CAST(2 AS BIGINT) FROM ok WHERE id % 5 = 0),
      |wen AS (
      |  SELECT clip_id, ((i * 65) // n) AS w,
      |         SUM(abs(${fd(sExpr, "dv")})) AS e
      |  FROM clips, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS u(i)
      |  GROUP BY 1, 2),
      |$finalName AS (
      |  SELECT a.clip_id,
      |    CAST(SUM(CASE WHEN a.e > b.e AND a.w >= 32 THEN (CAST(1 AS BIGINT) << CAST(a.w - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS ahash_hi,
      |    CAST(SUM(CASE WHEN a.e > b.e AND a.w < 32 THEN (CAST(1 AS BIGINT) << CAST(a.w AS INTEGER)) ELSE 0 END) AS BIGINT) AS ahash_lo
      |  FROM wen a JOIN wen b ON b.clip_id = a.clip_id AND b.w = a.w + 1
      |  WHERE a.w < 64
      |  GROUP BY 1)""".stripMargin
  }

  val q191Sql: String =
    s"""WITH $audioHashCtesSql
      |SELECT (clip_id // 2) AS doc_id,
      |  CASE WHEN clip_id % 2 = 1 THEN 'half' ELSE 'base' END AS kind,
      |  n AS n_samples, ahash_hi, ahash_lo
      |FROM clips JOIN ah USING (clip_id)
      |ORDER BY doc_id NULLS FIRST, kind NULLS FIRST""".stripMargin

  /** q192 — audio near-dup pairs: the q190 shape over the energy-
    * contour fingerprints (8 pigeonhole chunks, maxHamming 7,
    * lossless banding). Amplitude halving preserves the energy ORDER
    * except near-exact ties, so planted pairs sit at Hamming ~0 —
    * and unlike dHash there are no structurally-forced zero bits, so
    * cross-clip collisions are vanishing (the oracle's exact
    * all-pairs scan proves the recovered set either way).
    */
  val q192AudioNearDup: Q = (s, d) => {
    val hashes = Multimodal.audioHashes(audioRecordsFor(Tables.documents(s, d)))(s).toDF()
    // Persisted for the same both-join-sides reason as q190 (measured:
    // 5.5 s with the codec child executing twice vs ~2.6 s cached).
    val sh = hashes.select(
      col("docId").as("clip_id"),
      expr("shiftleft(ahashHi, 32) | ahashLo").as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup
      .simHashPairs(sh, "clip_id", maxHamming = 7, bits = 64)
      .select(
        col("id_a"),
        col("id_b"),
        col("hamming"),
        (call_function("div", col("id_a"), lit(2L)) ===
          call_function("div", col("id_b"), lit(2L))).as("same_doc"))
      .transform(orderedSmall(_, col("id_a"), col("id_b")))
  }

  val q192Sql: String =
    s"""WITH $audioHashCtesSql,
      |p AS (
      |  SELECT a.clip_id AS id_a, b.clip_id AS id_b,
      |    CAST(bit_count(xor(a.ahash_hi, b.ahash_hi)) + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT) AS hamming
      |  FROM ah a JOIN ah b ON a.clip_id < b.clip_id)
      |SELECT id_a, id_b, hamming, ((id_a // 2) = (id_b // 2)) AS same_doc
      |FROM p WHERE hamming <= 7
      |ORDER BY id_a NULLS FIRST, id_b NULLS FIRST""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q189_image_phash", q189ImagePhash, q189Sql),
    Query("q190_image_neardup", q190ImageNearDup, q190Sql),
    Query("q191_audio_phash", q191AudioPhash, q191Sql),
    Query("q192_audio_neardup", q192AudioNearDup, q192Sql))
}
