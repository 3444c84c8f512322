package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Multimodal, Relational}
import graft.queries.CoreQueries.Q

/** Round-15 surface — closing the last modality (r14 verdict Next #5)
  * and compacting media duplicates (Next #4):
  *
  *  - q193/q194 bring VIDEO into the oracle-gated dedup family the
  *    same way q189/q191 brought image/audio: real container bytes on
  *    the Spark side (Y4M — an uncompressed format whose parse is
  *    pure byte-offset arithmetic, so no JDK codec gap applies),
  *    analytic frame content so DuckDB replays every sampled pixel,
  *    per-frame dHash, and the (now bucket-gated) banded Hamming join.
  *    Planted variants are REAL temporal trims (parse → drop trailing
  *    frames → re-encode), so shared frames match at Hamming 0.
  *  - q195 compacts media near-dup PAIRS into duplicate GROUPS and
  *    canonical survivors — the components→keep-list step text dedup
  *    has had since q104 but the r14 media flagships stopped short of:
  *    image and audio pair sets are unioned in doc-id space
  *    (cross-modal: a duplicate in EITHER modality merges the docs),
  *    clustered with [[Dedup.connectedComponents]], and labeled with
  *    [[Dedup.keepList]] semantics. The oracle rebuilds both pair
  *    sets exactly (the q190/q192 CTEs) and walks components with a
  *    recursive CTE (the q104 pattern).
  *
  * Video corpus: every EVEN doc_id carries one Y4M clip (multimodal
  * sparsity is the realistic shape — and it halves the oracle's
  * all-pairs frame scan); every 10th doc adds a trimmed variant.
  * All dims/frame-counts are integer derivations of doc_id, so the
  * oracle reproduces the pixel function without touching bytes.
  */
object Round15Queries {

  /** Total order for the KNOWN-SMALL pair/group outputs (the
    * [[Round14Queries]] orderedSmall contract — pair sets are a small
    * fraction of the corpus; per-item outputs must NOT use this).
    */
  private def orderedSmall(
      df: org.apache.spark.sql.DataFrame,
      cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** The generated video corpus: one base Y4M per even doc_id under
    * vid_id = 2·doc_id (w = 24 + id mod 13, h = 16 + (id div 13) mod
    * 11, nFrames = 3 + id mod 3), plus a REAL trimmed variant (first
    * nFrames − 1 frames, verbatim bytes) under vid_id = 2·doc_id + 1
    * for every doc_id ≡ 0 (mod 10).
    */
  private[graft] def videoRecordsFor(docs: org.apache.spark.sql.DataFrame): Dataset[Multimodal.MediaRecord] = {
    val s = docs.sparkSession
    import s.implicits._
    // Spread BEFORE the codec pass — see Round14Queries.imageRecordsFor.
    Relational
      .spreadFewSplits(docs.filter(col("doc_id") % 2 === 0).select(col("doc_id")), "doc_id")
      .as[Long]
      .mapPartitions(_.flatMap { id =>
        val w = (24 + id % 13).toInt
        val h = (16 + (id / 13) % 11).toInt
        val n = (3 + id % 3).toInt
        val base = Multimodal.encodeBlockY4m(2 * id, id, w, h, n)
        if (id % 10 == 0) Iterator(base, Multimodal.trimFramesExact(base, 2 * id + 1, n - 1))
        else Iterator(base)
      })
  }

  private val FrameStride = 2

  /** q193 — video frame-sample dHashes over the real-container
    * pipeline: per sampled frame (every 2nd) the clip geometry and the
    * raw-plane dHash as unsigned 32-bit halves. Corpus-sized output
    * (~2.3 rows per clip): hash frame persisted, sampled range sort.
    */
  val q193VideoFrameHash: Q = (s, d) => {
    val hashes = Multimodal
      .videoFrameHashes(videoRecordsFor(Tables.documents(s, d)), FrameStride)(s)
      .toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashes
      .select(
        call_function("div", col("docId"), lit(2L)).as("doc_id"),
        when(col("docId") % 2 === 1, lit("trim")).otherwise(lit("base")).as("kind"),
        col("frameIdx").as("frame_idx"),
        col("width"),
        col("height"),
        col("nFrames").as("n_frames"),
        col("dhashHi").as("dhash_hi"),
        col("dhashLo").as("dhash_lo"))
      .orderBy(col("doc_id"), col("kind"), col("frame_idx"))
  }

  /** The analytic frame/pixel/hash replay shared by the video oracles:
    * `vlum(X, Y)` is the block value at pixel (X, Y) of frame `f` —
    * frames are at native dims (a trim touches no pixels), so the
    * block mapping has no resample term. All `//` operands
    * non-negative ⇒ truncating division IS floor division.
    */
  private def vlumSql(x: String, y: String): String =
    "(CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '#' || CAST(f AS VARCHAR) || '#' || " +
      s"CAST((((($x))*8)//w) AS VARCHAR) || '#' || " +
      s"CAST((((($y))*8)//h) AS VARCHAR)), 1, 8) AS BIGINT) % 256)"

  /** CTE chain `vids → fr → dh` computing (vid_id, w, h, n, f, dhash
    * halves) for every SAMPLED frame of the generated corpus — the
    * q193/q194 oracle core.
    */
  private val videoHashCtesSql: String =
    s"""ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 2 = 0),
      |vids AS (
      |  SELECT 2*id AS vid_id, id AS seed,
      |         CAST(24 + id % 13 AS BIGINT) AS w, CAST(16 + (id // 13) % 11 AS BIGINT) AS h,
      |         CAST(3 + id % 3 AS BIGINT) AS n
      |  FROM ids
      |  UNION ALL
      |  SELECT 2*id + 1, id,
      |         CAST(24 + id % 13 AS BIGINT), CAST(16 + (id // 13) % 11 AS BIGINT),
      |         CAST(3 + id % 3 AS BIGINT) - 1
      |  FROM ids WHERE id % 10 = 0),
      |fr AS (
      |  SELECT vid_id, seed, w, h, n, CAST(f AS BIGINT) AS f
      |  FROM vids, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS t(f)
      |  WHERE f % $FrameStride = 0),
      |vbits AS (
      |  SELECT vid_id, f,
      |         CAST(b AS BIGINT) AS b,
      |         (${vlumSql("((b % 8)*w)//9", "((b // 8)*h)//8")} >
      |          ${vlumSql("(((b % 8) + 1)*w)//9", "((b // 8)*h)//8")}) AS bit
      |  FROM fr, unnest(generate_series(0, 63)) AS u(b)),
      |dh AS (
      |  SELECT vid_id, f,
      |    CAST(SUM(CASE WHEN bit AND b >= 32 THEN (CAST(1 AS BIGINT) << CAST(b - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS dhash_hi,
      |    CAST(SUM(CASE WHEN bit AND b < 32 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS dhash_lo
      |  FROM vbits GROUP BY 1, 2)""".stripMargin

  val q193Sql: String =
    s"""WITH $videoHashCtesSql
      |SELECT (vid_id // 2) AS doc_id,
      |  CASE WHEN vid_id % 2 = 1 THEN 'trim' ELSE 'base' END AS kind,
      |  CAST(f AS INTEGER) AS frame_idx,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |  CAST(n AS INTEGER) AS n_frames, dhash_hi, dhash_lo
      |FROM vids JOIN dh USING (vid_id)
      |ORDER BY doc_id NULLS FIRST, kind NULLS FIRST, frame_idx NULLS FIRST""".stripMargin

  /** q194 — video near-dup pairs: the gated banded Hamming join at
    * FRAME grain (fid = vid_id·8 + frame_idx — frame counts are < 8,
    * so fid is collision-free and pure arithmetic both engines can
    * replay), aggregated to clip pairs with the matched-frame-pair
    * count and the best frame distance. A trimmed variant's sampled
    * frames are byte-identical to its base's, so planted pairs carry
    * min_hamming = 0; cross-clip rows are dHash near-collisions
    * (same-dims frames share structurally-zero bits), kept as the
    * gate's negative side exactly like q190. Oracle: exact all-pairs
    * frame scan.
    */
  val q194VideoNearDup: Q = (s, d) => {
    val hashes = Multimodal
      .videoFrameHashes(videoRecordsFor(Tables.documents(s, d)), FrameStride)(s)
      .toDF()
    // Persisted: the banded self-join consumes the frame-hash lineage
    // three ways (two sides + the bucket gate); the parse+hash pass
    // must run once (the q190/q192 discipline).
    // fid = vid·8 + frame is collision-free ONLY for < 8 frames; the
    // corpus caps nFrames at 5, but the encoding must fail loudly (not
    // silently merge frames across clips) if ever fed longer clips —
    // the in-plan guard raises before any pair is attributed wrong.
    val sh = hashes.select(
      when(col("nFrames") <= 8, col("docId") * 8 + col("frameIdx"))
        .otherwise(expr("raise_error('q194_video_neardup: fid encoding (vid*8 + frame) needs nFrames <= 8')"))
        .as("fid"),
      expr("shiftleft(dhashHi, 32) | dhashLo").as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = Dedup
      .simHashPairs(sh, "fid", maxHamming = 7, bits = 64)
      .select(
        call_function("div", col("id_a"), lit(8L)).as("vid_a"),
        call_function("div", col("id_b"), lit(8L)).as("vid_b"),
        col("hamming"))
      .filter(col("vid_a") =!= col("vid_b"))
      .groupBy(col("vid_a"), col("vid_b"))
      .agg(count(lit(1)).as("n_frame_pairs"), min(col("hamming")).as("min_hamming"))
      .select(
        col("vid_a"),
        col("vid_b"),
        col("n_frame_pairs"),
        col("min_hamming"),
        (call_function("div", col("vid_a"), lit(2L)) ===
          call_function("div", col("vid_b"), lit(2L))).as("same_doc"))
    orderedSmall(out, col("vid_a"), col("vid_b"))
  }

  val q194Sql: String =
    s"""WITH $videoHashCtesSql,
      |p AS (
      |  SELECT a.vid_id AS va, b.vid_id AS vb,
      |    CAST(bit_count(xor(a.dhash_hi, b.dhash_hi)) + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS BIGINT) AS hamming
      |  FROM dh a JOIN dh b ON ((a.vid_id * 8) + a.f) < ((b.vid_id * 8) + b.f))
      |SELECT va AS vid_a, vb AS vid_b,
      |  COUNT(*) AS n_frame_pairs, MIN(hamming) AS min_hamming,
      |  ((va // 2) = (vb // 2)) AS same_doc
      |FROM p
      |WHERE hamming <= 7 AND va <> vb
      |GROUP BY va, vb
      |ORDER BY vid_a NULLS FIRST, vid_b NULLS FIRST""".stripMargin

  // ---- q195/q196: media pairs → clusters → keep-list ------------------

  /** q195 — media duplicate COMPACTION: the q190/q192 pair sets stop
    * at pairs; this runs the components→keep-list step text dedup has
    * had since q104 over BOTH media families at once. Images and audio
    * clips share one media-id space (2·img_id for images,
    * 2·clip_id + 1 for clips — disjoint by parity, replayable in SQL),
    * each modality's gated banded Hamming join contributes its edges,
    * [[Dedup.connectedComponents]] clusters them, and every media item
    * is labeled (canonical, cluster size, keep). The planted
    * multi-variant clusters resolve to one canonical: a base image and
    * its resized variant (or a clip and its amplitude-halved variant)
    * share a component whose min id is the base.
    *
    * Cost decomposition at sf0.1 (min-of-5): ≈ q190 (1.2 s) + q192
    * (3.1 s) + the compaction marginal — one full-edge materialize in
    * CC, six label rounds at ~0.4 s (real collision CHAINS: the
    * distributed arm's label sum kept falling for 5 rounds, one
    * `labelSum` job each under `graft.Probe`), and
    * the keep-list joins — every stage an equi-join or hash agg, no
    * new quadratic surface.
    */
  val q195MediaKeepList: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // Each hash frame feeds the banded join three ways (two sides +
    // the bucket gate) and the item universe — persist once per
    // modality (the q190/q192 discipline; released by the harness
    // sweep, or compose via the *Releasable operators in a library).
    val imgSh = Multimodal.imageHashes(Round14Queries.imageRecordsFor(docs))(s).toDF()
      .select(
        (col("docId") * 2).as("media_id"),
        expr("shiftleft(dhashHi, 32) | dhashLo").as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val audSh = Multimodal.audioHashes(Round14Queries.audioRecordsFor(docs))(s).toDF()
      .select(
        (col("docId") * 2 + 1).as("media_id"),
        expr("shiftleft(ahashHi, 32) | ahashLo").as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = Dedup.simHashPairs(imgSh, "media_id", maxHamming = 7, bits = 64)
      .select(col("id_a"), col("id_b"))
      .unionByName(
        Dedup.simHashPairs(audSh, "media_id", maxHamming = 7, bits = 64)
          .select(col("id_a"), col("id_b")))
    val items = imgSh.select("media_id").unionByName(audSh.select("media_id"))
    Dedup.keepList(items, "media_id", edges)
      .select(
        col("media_id"),
        when(col("media_id") % 2 === 0, lit("image")).otherwise(lit("audio")).as("modality"),
        col("canonical_id"),
        col("cluster_size"),
        col("keep"))
      .orderBy(col("media_id"))
  }

  /** The q104 recursive-components + keep-list tail, shared by the two
    * compaction oracles: `prs(ma, mb)` pairs in, labeled universe out.
    */
  private def keepListTailSql(univSql: String, idName: String): String =
    s"""edges AS (SELECT ma AS src, mb AS dst FROM prs UNION SELECT mb, ma FROM prs),
      |walk(node, comp) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e2.dst, w.comp FROM walk w JOIN edges e2 ON e2.src = w.node),
      |comp AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node),
      |univ AS ($univSql),
      |lab AS (SELECT u.$idName, COALESCE(c.component, u.$idName) AS canonical_id
      |        FROM univ u LEFT JOIN comp c ON u.$idName = c.node),
      |sz AS (SELECT canonical_id, COUNT(*) AS cluster_size FROM lab GROUP BY canonical_id)""".stripMargin

  val q195Sql: String =
    s"""WITH RECURSIVE
      |${Round14Queries.hashCtesSql},
      |${Round14Queries.audioHashCtes(finalName = "aah")},
      |ip AS (
      |  SELECT 2*a.img_id AS ma, 2*b.img_id AS mb
      |  FROM dh a JOIN dh b ON a.img_id < b.img_id
      |  WHERE (bit_count(xor(a.dhash_hi, b.dhash_hi)) + bit_count(xor(a.dhash_lo, b.dhash_lo))) <= 7),
      |ap AS (
      |  SELECT 2*a.clip_id + 1 AS ma, 2*b.clip_id + 1 AS mb
      |  FROM aah a JOIN aah b ON a.clip_id < b.clip_id
      |  WHERE (bit_count(xor(a.ahash_hi, b.ahash_hi)) + bit_count(xor(a.ahash_lo, b.ahash_lo))) <= 7),
      |prs AS (SELECT ma, mb FROM ip UNION SELECT ma, mb FROM ap),
      |${keepListTailSql("SELECT 2*img_id AS media_id FROM imgs UNION ALL SELECT 2*clip_id + 1 FROM clips", "media_id")}
      |SELECT CAST(l.media_id AS BIGINT) AS media_id,
      |  CASE WHEN l.media_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
      |  CAST(l.canonical_id AS BIGINT) AS canonical_id,
      |  CAST(sz.cluster_size AS BIGINT) AS cluster_size,
      |  l.media_id = l.canonical_id AS keep
      |FROM lab l JOIN sz USING (canonical_id)
      |ORDER BY media_id NULLS FIRST""".stripMargin

  /** q196 — CROSS-MODAL dedup compaction at DOCUMENT grain: a document
    * is a duplicate of another if ANY shared modality says so, so the
    * image and audio pair sets are unioned in doc-id space before
    * clustering — overlapping per-modality groups MERGE (the reason
    * the union step exists). Planted structure: every run of 3
    * consecutive docs shares its IMAGE content (seed = id − id mod 3;
    * dims still vary per doc, so the pairs are near- not exact-dup),
    * and every run of 5 shares its AUDIO (each doc's clip is encoded
    * from its group leader's text — identical samples, Hamming 0).
    * The overlapping mod-3 / mod-5 runs chain components toward
    * lcm = 15-doc clusters wherever both modalities connect, which no
    * single modality produces on its own. Oracle: both pair sets
    * replayed analytically + the q104 recursive walk.
    */
  val q196CrossModalKeepList: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val dId = col("doc_id")
    import s.implicits._
    // image per doc: q189's base geometry, seed shared across id - id%3
    val imgSh = groupImageSh(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // audio per doc: the LEADER doc's ASCII projection (equi-join on
    // the derived leader id — cheap, hash-partitioned, replayable)
    val leaderTxt = docs
      .filter(col("text").isNotNull)
      .select(dId.as("leader"), regexp_replace(col("text"), "[^ -~]", "").as("__t"))
      .filter(length(col("__t")) >= 1)
    // Spread before the codec pass — see Round14Queries.imageRecordsFor
    // (the leader join inherits the single-split scan's partitioning
    // via a broadcast, so the WAV encode would otherwise run as one
    // task).
    val audRecords = Relational
      .spreadFewSplits(
        docs
          .select(dId, (dId - dId % 5).as("leader"))
          .join(leaderTxt, "leader")
          .select(dId, col("__t")),
        "doc_id")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => Multimodal.encodePcmWav(id, t) })
    val audSh = Multimodal.audioHashes(audRecords)(s).toDF()
      .select(col("docId").as("doc_id"), expr("shiftleft(ahashHi, 32) | ahashLo").as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = Dedup.simHashPairs(imgSh, "doc_id", maxHamming = 7, bits = 64)
      .select(col("id_a"), col("id_b"))
      .unionByName(
        Dedup.simHashPairs(audSh, "doc_id", maxHamming = 7, bits = 64)
          .select(col("id_a"), col("id_b")))
    Dedup.keepList(docs.select(dId), "doc_id", edges).orderBy(dId)
  }

  /** q189's lum formula with the identity resample (base dims only)
    * and the GROUP seed: lum(X, Y) of doc id's image.
    */
  private def glum(x: String, y: String): String =
    "(CAST('0x' || substr(md5(CAST(id - id % 3 AS VARCHAR) || '#' || " +
      s"CAST(((($x))*8)//w AS VARCHAR) || '#' || " +
      s"CAST(((($y))*8)//h AS VARCHAR)), 1, 8) AS BIGINT) % 256)"

  /** CTE chain `gi → gbits → gdh`: the GROUP-seeded image corpus's
    * dHashes (shared by the q196 and q197 oracles).
    */
  private val groupImageCtesSql: String =
    s"""gi AS (SELECT doc_id AS id,
      |              CAST(64 + doc_id % 61 AS BIGINT) AS w,
      |              CAST(64 + (doc_id // 61) % 53 AS BIGINT) AS h
      |       FROM documents),
      |gbits AS (
      |  SELECT id, CAST(b AS BIGINT) AS b,
      |         (${glum("((b % 8)*w)//9", "((b // 8)*h)//8")} >
      |          ${glum("(((b % 8) + 1)*w)//9", "((b // 8)*h)//8")}) AS bit
      |  FROM gi, unnest(generate_series(0, 63)) AS t(b)),
      |gdh AS (
      |  SELECT id,
      |    CAST(SUM(CASE WHEN bit AND b >= 32 THEN (CAST(1 AS BIGINT) << CAST(b - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(SUM(CASE WHEN bit AND b < 32 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS lo
      |  FROM gbits GROUP BY 1)""".stripMargin

  val q196Sql: String = {
    val sExpr = "((((ord(substr(t, CAST(i % l AS INTEGER) + 1, 1)) * 257) + (i * 131)) % 65536) - 32768)"
    s"""WITH RECURSIVE
      |$groupImageCtesSql,
      |ltxt AS (SELECT doc_id AS leader, regexp_replace(text, '[^ -~]', '', 'g') AS t
      |         FROM documents WHERE text IS NOT NULL),
      |lok AS (SELECT leader, t, CAST(len(t) AS BIGINT) AS l,
      |               CAST(256 + len(t) % 512 AS BIGINT) AS n
      |        FROM ltxt WHERE len(t) >= 1),
      |aclips AS (
      |  SELECT d.doc_id AS id, k.t, k.l, k.n
      |  FROM documents d JOIN lok k ON k.leader = d.doc_id - d.doc_id % 5),
      |awen AS (
      |  SELECT id, ((i * 65) // n) AS wdw, SUM(abs($sExpr)) AS e
      |  FROM aclips, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS u(i)
      |  GROUP BY 1, 2),
      |adh AS (
      |  SELECT a.id,
      |    CAST(SUM(CASE WHEN a.e > b.e AND a.wdw >= 32 THEN (CAST(1 AS BIGINT) << CAST(a.wdw - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(SUM(CASE WHEN a.e > b.e AND a.wdw < 32 THEN (CAST(1 AS BIGINT) << CAST(a.wdw AS INTEGER)) ELSE 0 END) AS BIGINT) AS lo
      |  FROM awen a JOIN awen b ON b.id = a.id AND b.wdw = a.wdw + 1
      |  WHERE a.wdw < 64
      |  GROUP BY 1),
      |ip AS (SELECT a.id AS ma, b.id AS mb FROM gdh a JOIN gdh b ON a.id < b.id
      |       WHERE (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))) <= 7),
      |ap AS (SELECT a.id AS ma, b.id AS mb FROM adh a JOIN adh b ON a.id < b.id
      |       WHERE (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))) <= 7),
      |prs AS (SELECT ma, mb FROM ip UNION SELECT ma, mb FROM ap),
      |${keepListTailSql("SELECT doc_id FROM documents", "doc_id")}
      |SELECT CAST(l.doc_id AS BIGINT) AS doc_id,
      |  CAST(l.canonical_id AS BIGINT) AS canonical_id,
      |  CAST(sz.cluster_size AS BIGINT) AS cluster_size,
      |  l.doc_id = l.canonical_id AS keep
      |FROM lab l JOIN sz USING (canonical_id)
      |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  /** q197 — INCREMENTAL media dedup, the daily-ingest shape: today's
    * batch (every doc_id ≡ 2 mod 3) is screened against the EXISTING
    * store (the other docs) with [[Dedup.simHashIncremental]] — a
    * batch×corpus chunk equi-join that touches only the buckets the
    * batch lands in, never corpus×corpus (the q99 shape for the
    * perceptual-hash family). The group-seeded image corpus (q196's
    * fixture) plants guaranteed recoveries: each batch doc's image
    * shares its seed with its two mod-3 group siblings, both of which
    * live in the corpus side. `same_group` flags them; the rest are
    * genuine cross-group dHash collisions. Oracle: exact batch×corpus
    * Hamming scan.
    */
  /** (doc_id, simhash = dHash64) over the GROUP-seeded image corpus —
    * the q196/q197 fixture hasher, shared with the streaming twin's
    * spec ([[graft.streaming.EventStreams.runMediaDedupAvailableNow]]).
    */
  private[graft] def groupImageSh(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Spread before the codec pass — see Round14Queries.imageRecordsFor.
    val imgRecords = Relational
      .spreadFewSplits(docs.select(col("doc_id")), "doc_id")
      .as[Long].mapPartitions(_.map { id =>
        val w = (64 + id % 61).toInt
        val h = (64 + (id / 61) % 53).toInt
        Multimodal.encodeBlockPng(id, id - id % 3, w, h)
      })
    Multimodal.imageHashes(imgRecords)(s).toDF()
      .select(col("docId").as("doc_id"), expr("shiftleft(dhashHi, 32) | dhashLo").as("simhash"))
  }

  val q197MediaIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // One codec pass serves both sides of the split (batch + corpus
    // filters are cache reads), plus each side's gate + join legs.
    val sh = groupImageSh(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = Dedup
      .simHashIncremental(
        sh.filter(col("doc_id") % 3 === 2),
        sh.filter(col("doc_id") % 3 =!= 2),
        "doc_id", maxHamming = 7, bits = 64)
      .select(
        col("new_id"),
        col("old_id"),
        col("hamming"),
        ((col("new_id") - col("new_id") % 3) ===
          (col("old_id") - col("old_id") % 3)).as("same_group"))
    // Corpus-PROPORTIONAL output (the fixture plants ~2 recoveries per
    // batch doc, ~0.67 rows/document): sampled range sort, not the
    // single-task funnel — the same r14-ADVICE rule q189/q191 follow;
    // the sampling job's re-execution reads the persisted sh cache.
    out.orderBy(col("new_id"), col("old_id"))
  }

  val q197Sql: String =
    s"""WITH
      |$groupImageCtesSql,
      |p AS (
      |  SELECT b.id AS new_id, c.id AS old_id,
      |    CAST(bit_count(xor(b.hi, c.hi)) + bit_count(xor(b.lo, c.lo)) AS BIGINT) AS hamming
      |  FROM gdh b JOIN gdh c ON b.id % 3 = 2 AND c.id % 3 <> 2)
      |SELECT new_id, old_id, hamming,
      |  ((new_id - new_id % 3) = (old_id - old_id % 3)) AS same_group
      |FROM p WHERE hamming <= 7
      |ORDER BY new_id NULLS FIRST, old_id NULLS FIRST""".stripMargin

  /** q198 — video SCENE-CUT detection (shot segmentation, the step a
    * video training pipeline runs before sampling representative
    * frames): hash EVERY frame of the scene-structured Y4M corpus
    * (odd doc_ids; frames within a scene are identical, boundaries
    * jump), then compare CONSECUTIVE frame hashes with an equi-join on
    * (clip, frame + 1) — no Window, no sort; a boundary is a cut when
    * the Hamming distance exceeds the threshold. Within-scene
    * boundaries land at exactly 0; scene boundaries at the unrelated-
    * pattern distance (~25–35 bits). Corpus-sized output: persist +
    * range sort. Oracle: the analytic frame replay with the scene
    * index `f div sceneLen` in the seed.
    */
  val q198VideoSceneCut: Q = (s, d) => {
    import s.implicits._
    // Spread before the codec pass — see Round14Queries.imageRecordsFor.
    val recs = Relational
      .spreadFewSplits(
        Tables.documents(s, d).filter(col("doc_id") % 2 === 1).select(col("doc_id")),
        "doc_id")
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (24 + id % 13).toInt
        val h = (16 + (id / 13) % 11).toInt
        val n = (6 + id % 5).toInt
        Multimodal.encodeBlockY4m(id, id, w, h, n, sceneLen = (2 + id % 2).toInt)
      })
    val fh = Multimodal.videoFrameHashes(recs, stride = 1)(s).toDF()
      .select(
        col("docId").as("doc_id"),
        col("frameIdx").as("f"),
        expr("shiftleft(dhashHi, 32) | dhashLo").as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nxt = fh.select(col("doc_id"), (col("f") - 1).as("f"), col("sh").as("sh_next"))
    fh.join(nxt, Seq("doc_id", "f"))
      .select(
        col("doc_id"),
        (col("f") + 1).as("boundary_idx"),
        expr("bit_count(sh ^ sh_next)").cast("long").as("hamming"))
      .withColumn("is_cut", col("hamming") > 10)
      .orderBy(col("doc_id"), col("boundary_idx"))
  }

  val q198Sql: String = {
    def slum(x: String, y: String): String =
      "(CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '#' || CAST((f // sl) AS VARCHAR) || '#' || " +
        s"CAST((((($x))*8)//w) AS VARCHAR) || '#' || " +
        s"CAST((((($y))*8)//h) AS VARCHAR)), 1, 8) AS BIGINT) % 256)"
    s"""WITH
      |sids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 2 = 1),
      |svids AS (
      |  SELECT id AS vid_id, id AS seed,
      |         CAST(24 + id % 13 AS BIGINT) AS w, CAST(16 + (id // 13) % 11 AS BIGINT) AS h,
      |         CAST(6 + id % 5 AS BIGINT) AS n, CAST(2 + id % 2 AS BIGINT) AS sl
      |  FROM sids),
      |sfr AS (
      |  SELECT vid_id, seed, w, h, sl, CAST(f AS BIGINT) AS f
      |  FROM svids, unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS t(f)),
      |sbits AS (
      |  SELECT vid_id, f,
      |         CAST(b AS BIGINT) AS b,
      |         (${slum("((b % 8)*w)//9", "((b // 8)*h)//8")} >
      |          ${slum("(((b % 8) + 1)*w)//9", "((b // 8)*h)//8")}) AS bit
      |  FROM sfr, unnest(generate_series(0, 63)) AS u(b)),
      |sdh AS (
      |  SELECT vid_id, f,
      |    CAST(SUM(CASE WHEN bit AND b >= 32 THEN (CAST(1 AS BIGINT) << CAST(b - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(SUM(CASE WHEN bit AND b < 32 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS lo
      |  FROM sbits GROUP BY 1, 2)
      |SELECT a.vid_id AS doc_id, CAST(a.f + 1 AS INTEGER) AS boundary_idx,
      |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming,
      |  ((bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))) > 10) AS is_cut
      |FROM sdh a JOIN sdh b ON b.vid_id = a.vid_id AND b.f = a.f + 1
      |ORDER BY doc_id NULLS FIRST, boundary_idx NULLS FIRST""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q193_video_framehash", q193VideoFrameHash, q193Sql),
    Query("q194_video_neardup", q194VideoNearDup, q194Sql),
    Query("q195_media_keeplist", q195MediaKeepList, q195Sql),
    Query("q196_crossmodal_keeplist", q196CrossModalKeepList, q196Sql),
    Query("q197_media_incremental", q197MediaIncremental, q197Sql),
    Query("q198_video_scenecut", q198VideoSceneCut, q198Sql))
}
