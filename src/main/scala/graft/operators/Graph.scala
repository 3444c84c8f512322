package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the Pregel-shaped
  * companion to [[Dedup.connectedComponents]] (min-label propagation).
  *
  * The reference has no graph surface (SURVEY.md §2: a batch star-schema
  * ETL); this is green-field capability for the training-data pipeline:
  * link-graph centrality is a standard document-quality prior (the
  * original PageRank use), and the same fixed-point join loop is the
  * scaffold for label propagation / influence spread over entity graphs.
  *
  * Design for 100 TB: each iteration is ONE shuffle — an equi-join of
  * the (persisted, hash-partitioned) edge list with the current rank
  * frame on the source key, then a `groupBy(dst).sum` whose map-side
  * partial aggregation collapses per-destination contributions before
  * the exchange. Rounds stack lazily and the rank frame is
  * checkpoint-materialized (persisted row RDD, rewrapped as a leaf)
  * every few rounds, so one action evaluates a bounded multi-round
  * plan — per-round scheduler latency amortizes, while analysis cost
  * never compounds past the checkpoint interval (the plan-depth
  * discipline of the CC loop, applied at interval).
  *
  * Every operator here runs its call in a [[LoopScope]]: the scope
  * persists the leaves and caches the operator asks for, moves the
  * rounds to the edge-sized session of [[loopSessionFor]], and
  * releases what it holds through the returned handle — or before
  * rethrowing, when an action inside the call throws.
  */
object Graph {

  /** Rows per loop-shuffle partition: the target that sizes the
    * iterative rounds' exchanges from the MATERIALIZED edge count
    * instead of the corpus-sized session setting.
    */
  private val LoopRowsPerPartition = 500000L

  /** Right-size the iterative rounds for edge-sized data.
    *
    * The loop operators' per-round frames are node/edge-sized — tiny
    * relative to the corpus the session's `spark.sql.shuffle.partitions`
    * is tuned for — yet every round's join/agg exchange inherits the
    * session setting, so at small-to-medium graph sizes each of the
    * loop's many stages pays per-task scheduler wakeups for dozens of
    * near-empty partitions, and AQE adds a per-exchange planning job
    * on top. Measured on the r10 container (sf0.1, 32 session
    * partitions): q113 PageRank 5.7 → 1.9 s and q140 HITS 7.4 → 3.6 s
    * with loop shuffles at the edge-derived width and AQE's per-stage
    * orchestration off for the rounds.
    *
    * Mechanism: once the loop's input is materialized (its count is an
    * action the loops already pay), partitions = `ceil(rows / 500k)`
    * clamped to the session setting. If that equals the session
    * setting — the 100 TB regime — this returns None and NOTHING
    * changes: same session, AQE stays on, skew handling intact.
    * Otherwise Some(clone) (shared SparkContext, shared cache manager,
    * and — with `GraftSession`'s artifact isolation off — the same
    * task class loader, so the clone's generated classes come from the
    * codegen cache the caller session filled) with the derived width
    * and AQE off — justified for the rounds
    * only, whose shapes are fixed node-sized equi-join + map-side-
    * combined agg with no skew or stats surprises for AQE to exploit.
    * [[LoopScope.rebind]] moves an operator's materialized input onto
    * the clone as an RDD-backed leaf (reading THROUGH the caller-
    * session cache), which also freezes the caller's optimized plan —
    * the conjunct-leak guard the loops already require.
    */
  private[operators] def loopSessionFor(
      sess: org.apache.spark.sql.SparkSession,
      rows: Long): Option[org.apache.spark.sql.SparkSession] = {
    val sessParts = sess.sessionState.conf.numShufflePartitions
    val p = math.max(
      1L,
      math.min(sessParts.toLong, (rows + LoopRowsPerPartition - 1) / LoopRowsPerPartition)).toInt
    if (p >= sessParts) None
    else {
      val loop = sess.newSession()
      loop.conf.set("spark.sql.shuffle.partitions", p.toString)
      loop.conf.set("spark.sql.adaptive.enabled", "false")
      Some(loop)
    }
  }

  /** PageRank in integer micro-units — deterministic across engines,
    * partitionings, and reruns.
    *
    * Floating-point PageRank is order-sensitive (FP addition does not
    * associate), so two runs of the *same* code on different partition
    * layouts disagree in the last ulp — unacceptable for an
    * oracle-gated operator. This variant does ALL arithmetic in
    * integers: ranks are micro-units (`scale` = 1 rank unit), each node
    * sends `rank div outdeg` along every out-edge (truncating integer
    * division — every value non-negative, so trunc ≡ floor and any SQL
    * engine's `//` agrees), and the damping update is
    * `((100-dampingPct)·scale) div 100 + (dampingPct·Σcontrib) div 100`.
    * The tiny mass lost to truncation is a deterministic, documented
    * bias — the RANKING is what the operator sells, not the 10th
    * decimal of the stationary distribution.
    *
    * Contract: `edges` is a 2-column (src, dst) directed edge list;
    * duplicates are dropped. Every node appearing only as a dst (a
    * dangling node) keeps receiving mass but sends none — its unsent
    * mass is dropped, the standard simplification. For an undirected
    * graph pass `undirected = true` with the UNMIRRORED pair list —
    * the operator canonicalizes, dedups once, and mirrors from its
    * own cache (pre-mirroring by the caller doubles the dedup shuffle
    * and re-evaluates the upstream pipeline); no node dangles then.
    *
    * `seeds` (TrustRank): a 1-column node-id whitelist. Initial mass
    * and the per-round teleport term go ONLY to seed nodes, so trust
    * reaches the rest of the graph through links alone — the classic
    * seed-propagation curation prior (rank documents/hosts by
    * proximity to a trusted set). `None` = uniform PageRank.
    *
    * `weightCol` (weighted PageRank): name of a positive integral
    * weight column on `edges` — each node's mass splits ∝ edge weight
    * (`(rank·w) div Σw`, exact in DECIMAL); parallel edges SUM their
    * weights instead of collapsing, and in undirected mode both
    * orientations of a pair pool theirs. `None` = every distinct edge
    * weighs 1 (identical arithmetic: `rank div outdeg`). Long
    * arithmetic holds while `nodes·scale ≤ ~9·10^16 / dampingPct`
    * (ANSI mode throws on overflow rather than corrupting — at
    * planetary node counts, lower `scale`).
    *
    * Returns (node: long, rank: long) — one row per node.
    */
  def integerPageRank(
      edges: DataFrame,
      iterations: Int = 3,
      dampingPct: Int = 85,
      scale: Long = 1000000L,
      undirected: Boolean = false,
      seeds: Option[DataFrame] = None,
      weightCol: Option[String] = None): DataFrame =
    integerPageRankReleasable(
      edges, iterations, dampingPct, scale,
      undirected = undirected, seeds = seeds, weightCol = weightCol)._1

  /** Rounds the PageRank and label-propagation loops stack lazily
    * between two leaf-materialized rank frames.
    */
  private val MaterializeEvery = 4

  /** [[integerPageRank]] plus a release handle for the persisted frames
    * backing the result (the final rank RDD + the edge/degree caches) —
    * same contract as [[Dedup.connectedComponentsReleasable]]: the
    * result stays cached for the consume-immediately case; long-lived
    * sessions call the handle once materialized.
    */
  def integerPageRankReleasable(
      edges: DataFrame,
      iterations: Int = 3,
      dampingPct: Int = 85,
      scale: Long = 1000000L,
      undirected: Boolean = false,
      seeds: Option[DataFrame] = None,
      weightCol: Option[String] = None): (DataFrame, () => Unit) = {
    require(iterations >= 1, "integerPageRank: need at least one iteration")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct is a percentage")
    require(scale >= 100L, "scale below 100 micro-units loses the damping term to truncation")
    // First two columns are (src, dst); a weight column is addressed
    // by name and may sit anywhere else in the frame.
    val srcName = edges.columns(0)
    val dstName = edges.columns(1)
    require(
      !weightCol.exists(wc => wc == srcName || wc == dstName),
      "integerPageRank: weightCol collides with the (src, dst) columns")
    LoopScope.run(edges.sparkSession) { scope =>
      // `undirected = true`: the input is an unordered pair list. Dedup
      // the CANONICAL (min, max) pair — ONE shuffle over the raw input —
      // and mirror from the cache with a narrow column flip, instead of
      // having the caller pre-mirror (which would evaluate the upstream
      // pipeline twice and push 2× the rows through the dedup shuffle —
      // measured on the q113 edge build: the mirrored-input plan scanned
      // and joined the fact tables twice and distinct'd 1.17 M rows where
      // this shape distinct's 585 k once). Self-loops are dropped (their
      // mirror would double-count the edge); directed mode keeps them.
      val cached = {
        val cast = weightCol match {
          case None =>
            edges.select(col(srcName).cast("long").as("a"), col(dstName).cast("long").as("b"), lit(1L).as("w"))
          case Some(wc) =>
            edges.select(col(srcName).cast("long").as("a"), col(dstName).cast("long").as("b"), col(wc).cast("long").as("w"))
        }
        val canon =
          if (undirected)
            cast
              .select(least(col("a"), col("b")).as("src"), greatest(col("a"), col("b")).as("dst"), col("w"))
              .filter(col("src") =!= col("dst"))
          else cast.select(col("a").as("src"), col("b").as("dst"), col("w"))
        // Unweighted: duplicates collapse to a single unit edge.
        // Weighted: parallel edges SUM their weights — one dedup/agg
        // shuffle either way.
        scope.cache(
          if (weightCol.isEmpty)
            canon.select(col("src"), col("dst")).distinct().withColumn("w", lit(1L))
          else canon.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
      }
      // Materialize FULLY before anything else reads the cache (an
      // isEmpty probe would cache only one partition's worth and every
      // later scan would replay the upstream edge pipeline — the CC
      // lesson, Dedup.scala:473-484).
      val edgeRows = cached.count()
      if (edgeRows == 0L) {
        scope.drop(cached)
        cached.select(col("src").as("node"), col("src").as("rank"))
      } else {
        // Edge-derived loop sizing (Graph.loopSessionFor): the rounds
        // below run at a shuffle width matched to the materialized edge
        // count, not the corpus-sized session setting.
        val loopEdges = scope.rebind(cached, edgeRows)
        // Canonical pairs are strictly (min < max), so the mirrored rows
        // cannot collide with the originals — no second dedup needed; the
        // mirror carries the pair's weight in both directions.
        val e =
          if (undirected)
            loopEdges.unionByName(loopEdges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
          else loopEdges
        // Per-source outgoing totals fold into a persisted per-edge sender
        // frame (src, dst, w, wsum) — iteration-invariant, computed once.
        // The node universe is persisted too: it seeds rank 0 and anchors
        // the per-round left join (a node with no in-edges keeps its base
        // mass). No eager count on either: every read below is a FULL
        // scan (the partial-cache trap needs a take(1)-shaped probe), so
        // the first full scan fills the cache and later ones hit it.
        val wsums = e.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
        // The node universe carries an `is_seed` flag: uniform PageRank is
        // the all-seeds case; a seed set (TrustRank) restricts BOTH the
        // initial mass and the per-round teleport term to the seeds, so
        // trust reaches non-seeds only through links. The seed frame is
        // broadcast — a trust whitelist is small by construction.
        val nodes = {
          val uni = e.select(col("src").as("node"))
            .unionByName(e.select(col("dst").as("node")))
            .distinct()
          scope.cache(seeds match {
            case None => uni.withColumn("is_seed", lit(true))
            case Some(sd) =>
              val s0 = sd.select(col(sd.columns.head).cast("long").as("node"), lit(true).as("__s")).distinct()
              uni.join(broadcast(s0), Seq("node"), "left")
                .select(col("node"), coalesce(col("__s"), lit(false)).as("is_seed"))
          })
        }
        val sender = scope.cache(e.join(wsums, Seq("src")))
        val base = ((100L - dampingPct) * scale) / 100L
        // Per-edge contribution. Unweighted stays pure-long (`rank div
        // wsum`, wsum ≡ out-degree). Weighted routes the multiply through
        // DECIMAL(38,0): rank·w can exceed Long while the QUOTIENT is
        // always ≤ rank (w ≤ wsum), so IntegralDivide's long result is
        // safe — ANSI mode would throw on a long multiply instead.
        val contribExpr =
          if (weightCol.isEmpty) "rank div wsum"
          else "(CAST(rank AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) div CAST(wsum AS DECIMAL(38,0))"
        // Rounds STACK LAZILY — one action evaluates several rounds as a
        // single multi-stage job instead of paying scheduler + cache-write
        // latency per round (measured: per-round materialization tripled
        // the 3-round wall-clock). Every `MaterializeEvery` rounds the
        // rank frame becomes a leaf so analysis cost never compounds past
        // a bounded plan depth (the unbounded-iteration discipline of the
        // CC loop, applied at interval).
        var rank = nodes.select(col("node"), when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("rank"))
        var rankLeaf: Option[DataFrame] = None
        for (i <- 1 to iterations) {
          val contrib = sender
            .join(rank.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node"), expr(contribExpr).as("c"))
            .groupBy(col("node"))
            .agg(sum(col("c")).as("csum"))
          val damped = expr(s"($dampingPct * coalesce(csum, CAST(0 AS BIGINT))) div 100")
          // Undirected + no seed set: the mirror guarantees every node an
          // in-edge, so `contrib` already covers the full node universe
          // and the teleport term is a constant — the anchor join would be
          // a per-round no-op (one saved broadcast join + stage per round).
          // Seeded or directed graphs keep the left join: it carries the
          // per-node is_seed flag and re-anchors danglers' targets.
          rank =
            if (undirected && seeds.isEmpty)
              contrib.select(col("node"), (lit(base) + damped).as("rank"))
            else
              nodes
                .join(contrib, Seq("node"), "left")
                .select(
                  col("node"),
                  (when(col("is_seed"), lit(base)).otherwise(lit(0L)) + damped).as("rank"))
          if (i % MaterializeEvery == 0 && i < iterations) {
            rank = scope.leaf(rank)
            rank.count()
            rankLeaf.foreach(scope.drop)
            rankLeaf = Some(rank)
          }
        }
        rank
      }
    }
  }

  /** Semi-supervised label propagation — spread integer labels from a
    * labeled seed subset across a (typically similarity) graph: each
    * round every node takes the MOST FREQUENT label among its
    * neighbors' current labels, ties broken by the SMALLEST label, and
    * seed nodes are clamped (never change). Fully deterministic — the
    * argmax is `max(struct(count, -label))`, integer all the way, so
    * the labeling is bit-identical across engines and partitionings.
    * Nodes no labeled node can reach stay null.
    *
    * This is the corpus-curation "spread the audited labels" move:
    * topic/quality labels exist for a small human-labeled subset, and
    * the near-dup/similarity graph carries them to the rest.
    *
    * `edges` is a 2-column pair list, treated as undirected (mirrored
    * from cache, like [[integerPageRank]]'s undirected mode — a
    * similarity relation is symmetric). `seedLabels` is (node, label)
    * with NON-NEGATIVE integral labels (the tie-break negates them);
    * conflicting seed rows resolve to the smallest label. Each round
    * is two aggregations and one equi-join on the
    * persisted edge frame — rounds stack lazily with interval
    * checkpoint-materialization, same as the PageRank loop.
    */
  def labelPropagation(
      edges: DataFrame,
      seedLabels: DataFrame,
      iterations: Int = 3): DataFrame =
    labelPropagationReleasable(edges, seedLabels, iterations)._1

  /** [[labelPropagation]] plus the cache release handle. */
  def labelPropagationReleasable(
      edges: DataFrame,
      seedLabels: DataFrame,
      iterations: Int = 3): (DataFrame, () => Unit) = {
    require(iterations >= 1, "labelPropagation: need at least one iteration")
    LoopScope.run(edges.sparkSession) { scope =>
      // Raw leaf first, then canonicalize over plain rows — the
      // conjunct-leak guard shared with kCore/bfsDistances: a lazy
      // canonicalization lets Catalyst push its cheap conjuncts into
      // the caller's pair plan and reorder them with the caller's own
      // filters (measured re-running an exact decimal verify for every
      // candidate pair, 32 s vs 1 s).
      val (canon0, canonRows) = canonPairLeaf(scope, edges)
      if (canonRows == 0L) {
        scope.drop(canon0)
        canon0.select(col("src").as("node"), lit(null).cast("long").as("label"))
      } else {
        val canon = scope.rebind(canon0, canonRows)
        val e = canon.unionByName(canon.select(col("dst").as("src"), col("src").as("dst")))
        // Conflicting seed rows for one node resolve to the smallest label
        // (deterministic; also collapses exact duplicates) — a plain
        // distinct would leave two rows and FAN OUT the node join below.
        val seeds = scope.cache(
          seedLabels
            .select(
              col(seedLabels.columns(0)).cast("long").as("node"),
              col(seedLabels.columns(1)).cast("long").as("seed_label"))
            .groupBy(col("node"))
            .agg(min(col("seed_label")).as("seed_label")))
        val nodes = scope.cache(
          canon.select(col("src").as("node"))
            .unionByName(canon.select(col("dst").as("node")))
            .distinct()
            .join(seeds, Seq("node"), "left"))
        var labels = nodes.select(col("node"), col("seed_label").as("label"))
        var labelsLeaf: Option[DataFrame] = None
        for (i <- 1 to iterations) {
          // Votes: each labeled neighbor contributes one count to its label.
          val votes = e
            .join(
              labels.filter(col("label").isNotNull).withColumnRenamed("node", "src"),
              Seq("src"))
            .groupBy(col("dst").as("node"), col("label"))
            .agg(count(lit(1)).as("c"))
          // Deterministic argmax: max count, ties to the SMALLEST label
          // (labels are non-negative, so -label orders ties correctly).
          val pick = votes
            .groupBy(col("node"))
            .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
            .select(col("node"), (-col("m.nl")).as("picked"))
          labels = nodes
            .join(pick, Seq("node"), "left")
            .select(col("node"), coalesce(col("seed_label"), col("picked")).as("label"))
          if (i % MaterializeEvery == 0 && i < iterations) {
            labels = scope.leaf(labels)
            labels.count()
            labelsLeaf.foreach(scope.drop)
            labelsLeaf = Some(labels)
          }
        }
        labels
      }
    }
  }

  /** Per-node triangle counts over an undirected pair list — the
    * cluster-cohesion diagnostic for near-dup graphs: a clean
    * duplicate cluster is a near-clique (every member triangulates),
    * while a drift chain (A≈B≈C with no A≈C) has none, so triangle
    * participation separates "true duplicates" from "transitive
    * drift" before a keep-one compaction.
    *
    * Algorithm (the scalable shape, not the naive triple join): orient
    * every edge from its lower-(degree, id) endpoint to the higher —
    * each triangle then forms EXACTLY ONE wedge at its smallest
    * vertex, and a node's wedge fan-out is bounded by its ORIENTED
    * out-degree, which the orientation caps near √(2·|E|) even for
    * hubs (the classic heavy-hitter fix; a naive neighbor self-join
    * explodes quadratically on the highest-degree node). Wedge
    * generation and the closing-edge check are both equi-joins.
    * All-integer → deterministic; self-loops and duplicate pairs
    * collapse first. Returns (node, triangles) with zeros for
    * triangle-free nodes.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsReleasable(edges)._1

  /** [[triangleCounts]] plus the cache release handle. */
  def triangleCountsReleasable(edges: DataFrame): (DataFrame, () => Unit) =
    LoopScope.run(edges.sparkSession) { scope =>
      // Same raw-leaf-first conjunct-leak guard as labelPropagation —
      // but no loop-session rebinding: the wedge join's fan-out is
      // quadratic in hub degree, so the edge-derived loop width
      // underestimates badly and AQE's skew-split is wanted (see
      // canonPairLeaf scaladoc).
      val (canon0, canonRows) = canonPairLeaf(scope, edges)
      val canon = canon0.select(col("src").as("a"), col("dst").as("b"))
      if (canonRows == 0L) {
        scope.drop(canon0)
        canon.select(col("a").as("node"), col("a").as("triangles"))
      } else {
        val deg = canon.select(col("a").as("node"))
          .unionByName(canon.select(col("b").as("node")))
          .groupBy(col("node"))
          .agg(count(lit(1)).as("deg"))
        // Orient each edge low→high by (deg, id); carry the head's order
        // key so the wedge filter needs no extra degree join.
        val oriented = {
          val ordA = struct(col("da").as("d"), col("a").as("n"))
          val ordB = struct(col("db").as("d"), col("b").as("n"))
          scope.cache(
            canon
              .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
              .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
              .select(
                when(ordA < ordB, col("a")).otherwise(col("b")).as("lo"),
                when(ordA < ordB, col("b")).otherwise(col("a")).as("hi"),
                when(ordA < ordB, ordB).otherwise(ordA).as("hiOrd")))
        }
        oriented.count()
        val w1 = oriented.select(col("lo").as("u"), col("hi").as("x"), col("hiOrd").as("xOrd"))
        val w2 = oriented.select(col("lo").as("u"), col("hi").as("y"), col("hiOrd").as("yOrd"))
        val wedges = w1
          .join(w2, Seq("u"))
          .filter(col("xOrd") < col("yOrd"))
          .select(col("u"), col("x"), col("y"))
        val triangles = wedges
          .join(
            canon.select(col("a"), col("b")),
            least(col("x"), col("y")) === col("a") && greatest(col("x"), col("y")) === col("b"))
          .select(col("u"), col("x"), col("y"))
        val perNode = triangles
          .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
          .groupBy(col("node"))
          .agg(count(lit(1)).as("t"))
        deg
          .join(perNode, Seq("node"), "left")
          .select(col("node"), coalesce(col("t"), lit(0L)).as("triangles"))
      }
    }

  /** k-core decomposition by iterated peeling (Seidman 1983): drop
    * every node whose degree among SURVIVORS is < k, recompute, repeat
    * to fixpoint. The maximal subgraph with minimum degree ≥ k — on a
    * near-dup graph the 2-core is exactly the cycle-containing cluster
    * set (stars and transitive drift chains peel away), the structural
    * complement of [[triangleCounts]]' per-node diagnostic.
    *
    * Returns (node, deg) for the surviving core, `deg` the in-core
    * degree. Throws if the peel has not reached its fixpoint within
    * `maxRounds` — a silent truncation would return a superset of the
    * core, not the core.
    *
    * Scale shape: each round is one map-side-combined degree count
    * over the CURRENT edge list plus two semi-shaped equi-joins that
    * shrink that edge list to the survivors — no Window, no collect
    * beyond the one-row survivor COUNT that drives the convergence
    * test. The peeled edge list (not just the survivor set) carries
    * forward, materialized as an RDD leaf each round, so round r
    * scans only the edges still alive after round r-1 — dropping an
    * edge once means never scanning it again (filtering the round-r
    * edge set from the round-(r-1) edges is equivalent to filtering
    * from the full list, because survivors only shrink). Convergence
    * needs O(peel depth) rounds, bounded by the longest chain the
    * graph hangs off its core.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12): DataFrame =
    kCoreReleasable(edges, k, maxRounds)._1

  /** [[kCore]] plus the cache release handle. */
  def kCoreReleasable(edges: DataFrame, k: Int, maxRounds: Int = 12): (DataFrame, () => Unit) = {
    require(k >= 1, s"kCore: k must be >= 1; got $k")
    require(maxRounds >= 1, s"kCore: need at least one round; got $maxRounds")
    LoopScope.run(edges.sparkSession) { scope =>
      // Raw leaf first, then the canonical distinct over plain rows (the
      // conjunct-leak guard, see canonPairLeaf). NO loop-session
      // rebinding: the peel loop ran SLOWER under the 1-partition clone
      // (q139 4.83 vs 3.27 s at sf0.1); like CC, its per-round
      // convergence action over the shrinking survivor joins loses more
      // to single-partition serialization than it saves in stage wakeups.
      val (canon, nCanon) = canonPairLeaf(scope, edges)
      if (nCanon == 0L) {
        scope.drop(canon)
        canon.select(col("src").as("node"), lit(0L).as("deg")).limit(0)
      } else {
        // Each round materializes through an RDD-backed LEAF (the PageRank
        // loop's checkpoint trick): a plain DataFrame.persist/unpersist
        // chain CASCADES — unpersisting round r-1 invalidates round r's
        // cached plan, and every later consumption recomputes the whole
        // lineage including the (possibly O(n²)) pair generator feeding
        // `edges`, doubling work per round. The leaf cuts lineage, so an
        // unpersisted predecessor can never be re-demanded.
        //
        // Only the EDGE list is leaf-materialized; the survivor frame
        // stays a lazy aggregate over the cached edge leaf. The survivor
        // frame is consumed three times per round (two semi-joins + the
        // convergence count), but each consumption just re-runs one
        // map-side-combined agg over the cached leaf — cheap, bounded,
        // and it keeps each round at ONE action (the count), so the
        // per-round scheduler latency that dominated the 3-job-per-round
        // variant on small rounds is paid once, not three times.
        def degrees(ed: DataFrame): DataFrame =
          ed.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        var eCur = scope.leaf(canon.unionByName(canon.select(col("dst").as("src"), col("src").as("dst"))))
        var alive = degrees(eCur)
        var aliveCount = alive.count()
        var converged = false
        var round = 0
        // One peel per convergence action: batching two peels per action
        // halved the actions but recomputed the staged inner survivor agg
        // for both of the next peel's joins — q139 5.83 s batched vs
        // 3.67 s unbatched at sf0.1/32cpu. Loops over self-joining frames
        // want one cheap action per round.
        while (!converged && round < maxRounds) {
          // Peel the EDGES to the current survivors first, then count
          // degrees over the shrunken list — identical recurrence to
          // re-filtering the full list (see scaladoc), but round cost
          // tracks the live subgraph instead of the original graph.
          val nextE = scope.leaf(
            eCur
              .join(alive.select(col("node").as("src")), Seq("src"))
              .join(alive.select(col("node").as("dst")), Seq("dst")))
          round += 1
          val next = degrees(nextE).filter(col("deg") >= k)
          val nextCount = next.count()
          // next ⊆ alive by construction (peeling only removes), so equal
          // cardinality IS set equality — the fixpoint test needs no join.
          converged = nextCount == aliveCount
          scope.drop(eCur)
          alive = next
          eCur = nextE
          aliveCount = nextCount
        }
        if (!converged)
          throw new IllegalStateException(
            s"kCore(k=$k) did not converge in $maxRounds rounds ($aliveCount survivors) — raise maxRounds")
        alive
      }
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge
    * list — the mutual-reinforcement centrality pair PageRank's
    * single score can't express: auth(i) = Σ hub(j) over j→i,
    * hub(j) = Σ auth(i) over j→i, alternating. On a bipartite
    * buyer→seller graph the split is exactly the two business roles
    * (hubby buyers spread across many authoritative sellers).
    *
    * Integer-exact like [[integerPageRank]] (float HITS is
    * addition-order-sensitive and un-gateable): scores live in
    * `scale` micro-units, and the usual L2 normalization — whose
    * `sqrt` engines round differently — is replaced by max-rescaling
    * `s · scale div max(s)`, which preserves the RANKING (the only
    * thing HITS output means) and keeps every value an exact
    * integer. Overflow-safe by construction: raw ≤ maxdeg·scale and
    * the rescale multiplies by `scale` once (≲ 10¹⁵ at scale = 10⁶
    * for maxdeg ≲ 10³; callers with larger fan-in lower `scale`).
    *
    * Returns (node, hub, auth). Scale shape: per half-round one
    * equi-join of the persisted edge list with the current score
    * frame + a map-side-combined sum, plus a 1-row broadcast max.
    * Unlike the PageRank loop, rounds must NOT stack lazily here:
    * each rescale reads its raw-sum frame twice (max + join) and the
    * final output joins hub AND auth, so an unmaterialized stack
    * re-derives the base edge join ~2^(2·iterations) times. Every
    * double-consumed frame is therefore cached (held until release)
    * while the rounds themselves still stack lazily into one action —
    * the score frames are node-sized, not edge-sized, so the cached
    * footprint is trivial at any scale.
    */
  def hits(edges: DataFrame, iterations: Int = 2, scale: Long = 1000000L): DataFrame =
    hitsReleasable(edges, iterations, scale)._1

  /** [[hits]] plus the cache release handle. */
  def hitsReleasable(
      edges: DataFrame,
      iterations: Int = 2,
      scale: Long = 1000000L): (DataFrame, () => Unit) = {
    require(iterations >= 1 && iterations <= 6,
      s"hits: iterations in [1,6] (rounds stack lazily); got $iterations")
    require(scale >= 1L, s"hits: scale must be positive; got $scale")
    val srcName = edges.columns(0)
    val dstName = edges.columns(1)
    LoopScope.run(edges.sparkSession) { scope =>
      val e = scope.cache(
        edges
          .select(col(srcName).cast("long").as("src"), col(dstName).cast("long").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct())
      // Pin one evaluation of the edge cache BEFORE anything fans out
      // over it: the node-universe union reads e in two concurrent
      // branches, and racing first-touch stages each recompute an
      // uncached upstream (see bfsDistances — measured ~6x on an
      // expensive pair build).
      val eRows = e.count()
      // Edge-derived loop sizing (Graph.loopSessionFor): the alternating
      // hub/auth rounds run at a shuffle width matched to the
      // materialized edge count, not the corpus-sized session setting.
      val eLoop = scope.rebind(e, eRows)
      val nodes = scope.cache(
        eLoop.select(col("src").as("node"))
          .unionByName(eLoop.select(col("dst").as("node")))
          .distinct())
      if (nodes.count() == 0L) {
        scope.drop(e); scope.drop(nodes)
        nodes.select(col("node"), lit(0L).as("hub"), lit(0L).as("auth")).limit(0)
      } else {
        // Cut the fan-out with plain DataFrame caches held until release:
        // every double-consumed frame (raw → max + join; the final-round
        // hub/auth → output join) computes once into its cache and is
        // re-read from there. No RDD leaf and no per-frame count() — the
        // whole stack still evaluates in ONE final action (no per-round
        // scheduler latency), and no mid-loop unpersist means the cascade
        // the PageRank/kCore loops guard against can't start. The cached
        // frames are node-sized, so holding all 4·iterations of them is
        // trivial at any scale.
        def rescaled(rawPlan: DataFrame, outCol: String): DataFrame = {
          val raw = scope.cache(rawPlan)
          // The rescale denominator is a 1-row aggregate — collect it as a
          // driver scalar (scalable: it's a max, not data) instead of a
          // crossJoin(broadcast(...)), which cost a broadcast-exchange job
          // per half-round. This action also materializes raw's cache, so
          // its two consumers (this max, the join below) compute it once.
          val mxRow = raw.agg(max(col("raw")).as("mx")).first()
          val mx = if (mxRow.isNullAt(0)) 1L else mxRow.getLong(0)
          require(mx > 0L, s"hits: non-positive rescale max $mx — degenerate graph")
          scope.cache(
            nodes
              .join(raw, Seq("node"), "left")
              .select(
                col("node"),
                coalesce(expr(s"(raw * $scale) div $mx"), lit(0L)).as(outCol)))
        }
        var hub = nodes.select(col("node"), lit(scale).as("hub"))
        var auth = nodes.select(col("node"), lit(0L).as("auth"))
        for (_ <- 1 to iterations) {
          auth = rescaled(
            eLoop.join(hub.withColumnRenamed("node", "src"), Seq("src"))
              .groupBy(col("dst").as("node"))
              .agg(sum(col("hub")).as("raw")),
            "auth")
          hub = rescaled(
            eLoop.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
              .groupBy(col("src").as("node"))
              .agg(sum(col("auth")).as("raw")),
            "hub")
        }
        hub.join(auth, Seq("node"))
      }
    }
  }

  /** Multi-source BFS hop distance over an UNDIRECTED edge list: the
    * graph family's distance primitive — [[integerPageRank]] ranks,
    * [[Dedup.connectedComponents]] partitions, this MEASURES (hops to
    * the nearest seed: "how far is each document from the trusted
    * set", the distance analogue of TrustRank's mass-propagation
    * prior). Exact small-integer output — no floating point anywhere.
    *
    * Returns (node, dist) for every node within `maxHops` of a seed,
    * including the seeds at dist 0; unreachable nodes are absent (the
    * caller left-joins if it wants NULLs). Seeds not present in the
    * edge list still appear at dist 0 — a seed is trusted whether or
    * not it has neighbors.
    *
    * Scale shape: classic frontier expansion — round r is one
    * equi-join of the (persisted, mirrored) edge list with the
    * round-(r-1) frontier plus an anti-join against the visited set,
    * ONE action per round. The visited set is a lazy union of the
    * per-round RDD-leaf frontiers (each already cached), so no
    * re-materialization compounds; rounds stop early when a frontier
    * comes back empty. O(min(maxHops, diameter)) rounds total — the
    * frontier never revisits a node, so total join work across ALL
    * rounds is O(|E|), not O(rounds·|E|).
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    bfsDistancesReleasable(edges, seeds, maxHops)._1

  /** [[bfsDistances]] plus the cache release handle. */
  def bfsDistancesReleasable(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int): (DataFrame, () => Unit) = {
    require(maxHops >= 1 && maxHops <= 64,
      s"bfsDistances: maxHops in [1,64] (one materialized round each); got $maxHops")
    // RDD-leaf materialization, NOT DataFrame.persist: caching the
    // canonicalized plan re-optimizes it under the cache's own
    // compilation, which loses the caller plan's cheap-filter-first
    // ordering (measured 33.7 s vs 1.0 s on the prefiltered near-dup
    // pair build — the decimal fold re-ran for all 12.5M candidates).
    // The leaf executes through the session planner once, pins one
    // evaluation (no first-touch race), and every round reads rows.
    LoopScope.run(edges.sparkSession) { scope =>
      // NO loop-session rebinding for BFS (4.68 s rebound vs
      // 4.38 s at sf0.1 — the frontier loop's per-round action +
      // growing visited anti-join sits on the CC/kCore side of the
      // line, unlike the fixed-round relaxations below which measured
      // faster under the clone).
      val (canon, _) = canonPairLeaf(scope, edges)
      val e = canon.unionByName(canon.select(col("dst").as("src"), col("src").as("dst")))
      val seedCol = seeds.columns(0)
      var frontier = scope.leaf(
        seeds.select(col(seedCol).cast("long").as("node")).distinct().withColumn("dist", lit(0L)))
      val rounds = scala.collection.mutable.ArrayBuffer(frontier)
      var frontierSize = frontier.count()
      var hop = 0
      while (frontierSize > 0L && hop < maxHops) {
        hop += 1
        val visited = rounds.reduce(_ unionByName _).select(col("node"))
        val next = scope.leaf(
          e.join(frontier.select(col("node").as("src")), Seq("src"))
            .select(col("dst").as("node"))
            .distinct()
            .join(visited, Seq("node"), "left_anti")
            .withColumn("dist", lit(hop.toLong)))
        frontierSize = next.count()
        if (frontierSize > 0L) rounds += next
        frontier = next
      }
      rounds.reduce(_ unionByName _)
    }
  }

  /** Weighted shortest-path distance within `rounds` hops — the
    * min-plus (Bellman-Ford) generalization of [[bfsDistances]]:
    * hop COUNT becomes summed integer edge COST, so "near" can mean
    * strongly-connected-through-cheap-edges rather than few-hops.
    * Unlike BFS, a node's distance can IMPROVE after first contact
    * (a longer-hop path may be cheaper), so there is no visited-set
    * pruning; the relaxation recurrence is run for exactly `rounds`
    * rounds (the caller's hop horizon, matching a fixed SQL unroll —
    * rounds past the fixpoint are no-ops).
    *
    * `edges` is (src, dst, cost): undirected, canonicalized + deduped
    * here with the MIN cost per pair; costs must be positive integers
    * — ENFORCED in-operator (one count on the cached canonical leaf;
    * a cost ≤ 0 throws rather than silently collapsing path lengths,
    * e.g. a `1000 div w` caller cost truncating to 0 once w > 1000 at
    * larger scale factors). Returns (node, dist) for nodes within
    * `rounds` hops of a seed; seeds at dist 0.
    *
    * Scale shape: per round ONE action — an equi-join of the
    * (persisted, mirrored) edge list with the node-sized distance
    * frame, then a map-side-combined MIN per node folded with the
    * previous frame. O(rounds·|E|) join work total, the standard
    * Bellman-Ford bound; each round's frame is an RDD leaf so plan
    * depth never compounds.
    */
  def weightedDistances(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    weightedDistancesReleasable(edges, seeds, rounds)._1

  /** [[weightedDistances]] plus the cache release handle. */
  def weightedDistancesReleasable(
      edges: DataFrame,
      seeds: DataFrame,
      rounds: Int): (DataFrame, () => Unit) = {
    require(rounds >= 1 && rounds <= 16,
      s"weightedDistances: rounds in [1,16] (one relaxation action each); got $rounds")
    val Array(srcName, dstName, wName) = edges.columns.take(3)
    LoopScope.run(edges.sparkSession) { scope =>
      // RDD-leaf materialization of the canonical edge list — same
      // rationale as bfsDistances (a DataFrame cache would re-optimize
      // the caller plan under the cache's compilation and can lose its
      // cheap-filter-first ordering). Raw leaf first — same
      // conjunct-leak guard as kCore/bfsDistances.
      val raw = scope.leaf(
        edges.select(
          col(srcName).cast("long").as("src"),
          col(dstName).cast("long").as("dst"),
          col(wName).cast("long").as("w")))
      val canon0 = scope.leaf(
        raw
          .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"), col("w"))
          .filter(col("src") =!= col("dst"))
          .groupBy(col("src"), col("dst"))
          .agg(min(col("w")).as("w")))
      val canonRows = canon0.count()
      scope.drop(raw)
      // Rounds rebind to the edge-sized loop session once the canonical
      // count is known (Graph.loopSessionFor).
      val canon = scope.rebind(canon0, canonRows)
      // Positive-cost contract check: the count reads the already-cached
      // canonical leaf (no recompute).
      val nonPos = canon.filter(col("w") < 1L).count()
      require(nonPos == 0L,
        s"weightedDistances: $nonPos edge(s) with non-positive cost — " +
          "integer costs must be >= 1 (clamp caller-derived costs, e.g. greatest(1, ...))")
      val e = canon.unionByName(
        canon.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val seedCol = seeds.columns(0)
      var dist = scope.leaf(
        seeds.select(col(seedCol).cast("long").as("node")).distinct().withColumn("dist", lit(0L)))
      dist.count()
      for (_ <- 1 to rounds) {
        val relaxed = e
          .join(dist.select(col("node").as("src"), col("dist")), Seq("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        dist = scope.leaf(
          dist.unionByName(relaxed).groupBy(col("node")).agg(min(col("dist")).as("dist")))
        dist.count()
      }
      dist
    }
  }

  /** Earliest-arrival reachability over a TEMPORAL directed edge list
    * — the time-respecting generalization of [[bfsDistances]] /
    * [[weightedDistances]]: an edge (src, dst, dep, arr) can carry
    * influence only if its departure is no earlier than influence
    * ARRIVED at src, so paths must be time-increasing. The standard
    * temporal-graph reachability model ("when could contamination /
    * influence first have reached each node"), which static distance
    * operators cannot express: a short path that departs too early
    * carries nothing.
    *
    * `edges`: 4 columns (src, dst, dep, arr), dep < arr enforced
    * in-operator; directed — NO mirroring (time-respecting edges are
    * inherently one-way). `seeds` start with arrival 0 (times are
    * positive day/epoch integers). Relaxation recurrence, `rounds`
    * fixed (matching a SQL unroll; rounds past the fixpoint are
    * no-ops): arr'(v) = min(arr(v), min over e=(u,v,dep,arr) with
    * dep ≥ arr(u) of e.arr). Returns (node, arrival).
    *
    * Scale shape: identical to [[weightedDistances]] — per round ONE
    * action (edge equi-join on src against the node-sized arrival
    * frame, a non-equi departure filter riding the join, then a
    * map-side-combined MIN folded with the previous frame); the edge
    * list is leaf-materialized once through the conjunct-leak guard.
    * O(rounds·|E|) join work.
    */
  def earliestArrival(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    earliestArrivalReleasable(edges, seeds, rounds)._1

  /** [[earliestArrival]] plus the cache release handle. */
  def earliestArrivalReleasable(
      edges: DataFrame,
      seeds: DataFrame,
      rounds: Int): (DataFrame, () => Unit) = {
    require(rounds >= 1 && rounds <= 16,
      s"earliestArrival: rounds in [1,16] (one relaxation action each); got $rounds")
    val Array(srcName, dstName, depName, arrName) = edges.columns.take(4)
    LoopScope.run(edges.sparkSession) { scope =>
      // Raw leaf first (conjunct-leak guard), then dedup + the dep<arr
      // contract filter over plain rows.
      val raw = scope.leaf(
        edges.select(
          col(srcName).cast("long").as("src"),
          col(dstName).cast("long").as("dst"),
          col(depName).cast("long").as("dep"),
          col(arrName).cast("long").as("arr")))
      val e0 = scope.leaf(
        raw
          .filter(col("src") =!= col("dst") && col("dep") < col("arr"))
          .distinct())
      val eRows = e0.count()
      scope.drop(raw)
      // Rounds rebind to the edge-sized loop session once the temporal
      // edge count is known (Graph.loopSessionFor).
      val e = scope.rebind(e0, eRows)
      val seedCol = seeds.columns(0)
      var at = scope.leaf(
        seeds.select(col(seedCol).cast("long").as("node")).distinct().withColumn("at", lit(0L)))
      at.count()
      for (_ <- 1 to rounds) {
        val relaxed = e
          .join(at.select(col("node").as("src"), col("at")), Seq("src"))
          .filter(col("dep") >= col("at"))
          .select(col("dst").as("node"), col("arr").as("at"))
        at = scope.leaf(
          at.unionByName(relaxed).groupBy(col("node")).agg(min(col("at")).as("at")))
        at.count()
      }
      at.select(col("node"), col("at").as("arrival"))
    }
  }

  /** Canonicalized-undirected-pair RDD leaf: freezes the CALLER's
    * optimized edge plan (first two columns) into a raw leaf first,
    * then dedups the (min, max) pair over plain rows. Canonicalizing
    * lazily instead lets Catalyst push the least/greatest/self-loop
    * conjuncts into the caller plan and reorder them with its filters
    * — measured on the prefiltered near-dup pair build: the exact
    * decimal-cosine conjunct ran before the cheap double prefilter,
    * for all 12.5M candidates (32 s vs 1 s, identical rows).
    *
    * Returns the canonical leaf and its row count; the raw leaf is
    * already released. The canonical frame stays on the CALLER session
    * (session shuffle width, AQE on): the edge-derived loop sizing is
    * justified only for iterative rounds whose shapes are fixed
    * node-sized equi-joins, so only such a caller applies
    * [[LoopScope.rebind]]. An operator whose fan-out EXCEEDS the edge
    * count — triangleCounts' wedge join is quadratic in hub degree —
    * must not inherit the narrow width, and AQE's skew-split is useful
    * exactly there (q118 at sf0.1/32cpu, Profile min-of-3: 1.62 s
    * unrebound vs 2.97 s rebound, 1.83×).
    */
  private def canonPairLeaf(scope: LoopScope, edges: DataFrame): (DataFrame, Long) = {
    val raw = scope.leaf(
      edges.select(col(edges.columns(0)).cast("long").as("src"), col(edges.columns(1)).cast("long").as("dst")))
    val canon = scope.leaf(
      raw
        .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct())
    val rows = canon.count()
    scope.drop(raw)
    (canon, rows)
  }
}
