package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge-list DataFrames — the batch-synchronous
  * ("Pregel-shaped") loop expressed as plain relational rounds: each round is
  * one join (scatter messages along edges) + one aggregation (gather per
  * destination), which is exactly the shape Spark distributes well — hash
  * shuffle on the vertex key, map-side partial aggregation, AQE skew handling
  * for power-law vertices. Complements [[graft.llm.Dedup.dupClusters]]
  * (connected components / min-label propagation) with a weighted-importance
  * operator.
  */
object Graph {

  /** Per-vertex triangle counts via DEGREE-ORIENTED wedge closure (the
    * "forward" algorithm, Schank & Wagner 2005 — the standard
    * MapReduce-scalable form): orient every undirected edge from its
    * lower-(degree, id)-ranked endpoint to the higher, enumerate wedges
    * only at each edge's LOWER endpoint, and close them against the
    * oriented edge set. Each triangle is found exactly once, and wedge
    * work per vertex is C(outdeg, 2) with outdegree bounded by O(√m) —
    * the join never degenerates into the hub vertex's C(deg, 2) blow-up
    * a naive adjacency self-join pays on power-law graphs. Three hash
    * joins + one hash agg; the oriented edge frame is persisted across
    * its three uses.
    *
    * Input: (src, dst) in any orientation; self-loops and duplicates are
    * dropped. Output: (node, n_tri) for every vertex in ≥1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      // consumed by both degree legs and the oriented-edge join —
      // materialize the deduped edge list once instead of re-running
      // the upstream edge derivation per reference (r14, guide §5)
      .localCheckpoint(true)
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val or = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(aLower, col("a")).otherwise(col("b")).as("u"),
        when(aLower, col("b")).otherwise(col("a")).as("w"),
        when(aLower, col("db")).otherwise(col("da")).as("dw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e1 = or.select(col("u"), col("w").as("v"), col("dw").as("dv"))
    val wedges = e1.join(or, Seq("u"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val tris = wedges
      .join(or.select(col("u").as("v"), col("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Pin the per-round shuffle width to the materialized edge frame's
    * own (post-AQE, size-coalesced) partition count for the duration of
    * an iterative loop. The session default is sized
    * for whole-table scans; an iterative kernel re-shuffles node/edge-
    * sized frames every round, so the right width tracks the DATA: at
    * fixture scale the rounds stop paying a core-count-wide exchange for
    * KB frames, at 100 TB the edge frame's thousands of partitions carry
    * through unchanged — derived from input, never a constant. */
  private[graft] def withLoopWidth[T](anchor: DataFrame)(body: => T): T =
    graft.GraftSession.withConf(anchor.sparkSession, "spark.sql.shuffle.partitions",
      math.max(anchor.rdd.getNumPartitions, 1).toString)(body)

  /** Exact-integer PageRank over a directed edge list, `iters` fixed
    * rounds.
    *
    * Scores live in integer units of `scaleUnit⁻¹` (default 10⁻¹²):
    * initialization is `scaleUnit DIV N`, each round sends
    * `score DIV out_degree` along every out-edge and gathers
    * `base + (dampingPct · Σ inbound) DIV 100`. Every operation is BIGINT
    * arithmetic — order-free, overflow-checked by construction (total mass
    * ≤ scaleUnit, so `dampingPct · Σ` stays far below 2⁶³) — which makes a
    * fixed-iteration run bit-identical on ANY engine evaluating the same
    * recurrence: the property that turns an iterative float kernel, normally
    * only comparable by tolerance, into a hash-checkable query. The
    * quantization error vs float PageRank is ≤ N·iters·scaleUnit⁻¹ — noise
    * at default scale.
    *
    * Semantics notes: dangling nodes (no out-edges) leak their mass — the
    * standard simplification; symmetrize the edge list (as undirected graphs
    * do anyway) to avoid it. Nodes = edge endpoints; isolated vertices are
    * the caller's concern. `DIV` truncates toward zero in Spark and floors
    * in DuckDB — identical on the non-negative values this recurrence
    * produces, which is why the contract requires a non-negative
    * `dampingPct`.
    *
    * Scale: each round is one (edges ⋈ scores) shuffle on the vertex key +
    * one map-side-partial sum. The out-degree is joined onto the edge list
    * ONCE before the loop (one long per edge, checkpointed) — iteration-
    * invariant work never repeats inside a round. */
  def pageRankInt(
      edges: DataFrame, // (src: long, dst: long)
      iters: Int = 5,
      dampingPct: Int = 85,
      scaleUnit: Long = 1000000000000L): DataFrame =
    pageRank(edges, None, iters, None, dampingPct, scaleUnit)._1

  /** Personalized PageRank (fixed-round, exact-integer — the
    * [[pageRankInt]] discipline with a SEED-restricted teleport): the
    * random surfer restarts only into `seeds`, so scores measure
    * proximity TO the seed set — the graph-retrieval / expansion read
    * (similar-entity search, trust propagation). Seeds outside the
    * graph are dropped (semi join); seed count enters as a broadcast
    * scalar-agg, never an eager driver count. Integer `DIV` throughout
    * — both engines walk bit-identical rounds. */
  def personalizedPageRankInt(
      edges: DataFrame, // (src: long, dst: long)
      seeds: DataFrame, // (node: long)
      iters: Int = 5,
      dampingPct: Int = 85,
      scaleUnit: Long = 1000000000000L): DataFrame =
    pageRank(edges, Some(seeds), iters, None, dampingPct, scaleUnit)._1

  /** Epsilon-stop PageRank — [[pageRankInt]]'s CONVERGENCE-WITNESSED
    * twin: iterates the IDENTICAL
    * exact-integer recurrence, measuring in each round the exact L1
    * residual Σ|sᵣ − sᵣ₋₁| in scale units (total |Δ| is ≤ 2·scaleUnit by
    * mass conservation, so the sum is a plain BIGINT), and stopping at the
    * FIRST round whose residual ≤ `epsilonUnits`, or at `maxIters`.
    *
    * Returns (scores, stopRound, residuals-by-round). The realized stop
    * round is the convergence WITNESS: the caller rides it on every
    * output row and the oracle runs the same recurrence (q69's) under
    * the same stop rule, finding the stop round and the final residual
    * itself — so the loop's termination behavior, not just its final
    * scores, is oracle-checked. Under a
    * row-stochastic damped update the residual contracts by ≤
    * dampingPct/100 per round (dangling leak only shrinks it), so the
    * residual sequence is non-increasing — pinned as a GraphSpec law —
    * and the stop round is a deterministic function of the data. */
  def pageRankIntConverged(
      edges: DataFrame, // (src: long, dst: long)
      maxIters: Int = 20,
      epsilonUnits: Long = 100000000000L,
      dampingPct: Int = 85,
      scaleUnit: Long = 1000000000000L): (DataFrame, Int, Seq[Long]) = {
    require(epsilonUnits >= 0, s"epsilonUnits must be >= 0")
    pageRank(edges, None, maxIters, Some(epsilonUnits), dampingPct, scaleUnit)
  }

  /** The one PageRank kernel behind the three forms above: teleport into
    * `seeds` (all nodes when absent — then `DIV ns` is `DIV N` and every
    * node is a seed, so the uniform form falls out exactly), `maxIters`
    * rounds, stopping early at the first round whose L1 residual is ≤
    * `epsilonUnits` when one is given. Each round frame carries the
    * previous score next to the new one, so the residual is a scalar
    * aggregate over the round itself. */
  private def pageRank(
      edges: DataFrame,
      seeds: Option[DataFrame],
      maxIters: Int,
      epsilonUnits: Option[Long],
      dampingPct: Int,
      scaleUnit: Long): (DataFrame, Int, Seq[Long]) = {
    require(maxIters >= 1 && maxIters <= 50, s"iters must be in [1,50], got $maxIters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    require(scaleUnit >= 1000000L, s"scaleUnit too coarse: $scaleUnit")
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .localCheckpoint(true)
    withLoopWidth(e) {
    // the out-degree is iteration-INVARIANT: join it onto the edge list
    // once, outside the loop, so each round pays one join (scores), not
    // two — at scale this halves the per-round probe work on the
    // edge-sized frame
    val eDeg = e
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    val teleport = seeds.fold(nodes)(
      _.select(col("node").cast("long").as("node")).distinct()
        .join(nodes, Seq("node"), "left_semi")
        .localCheckpoint(true))
    val seeded = teleport.select(col("node"), lit(true).as("is_seed"))
    // the seed count enters as a broadcast scalar-agg cross join — a pure
    // plan, no eager count() on the driver (the withClassWeights discipline)
    val nsFrame = teleport.agg(count(lit(1)).as("ns"))
    val init = (if (seeds.isEmpty) seeded else nodes.join(seeded, Seq("node"), "left_outer"))
      .crossJoin(broadcast(nsFrame))
      .select(col("node"),
        when(col("is_seed"), expr(s"$scaleUnit DIV ns")).otherwise(0L).as("score"),
        when(col("is_seed"),
          expr(s"(${100 - dampingPct} * ($scaleUnit DIV ns)) DIV 100"))
          .otherwise(0L).as("base"))
      .localCheckpoint(true)
    val run = Fixpoint.frames("Graph.pageRank", maxIters,
        epsilonUnits.map(_ => sum(abs(col("score") - col("prev_score")))),
        epsilonUnits.getOrElse(0L))(init) { (scores, _) =>
      val msgs = eDeg
        .join(scores.select(col("node"), col("score")), eDeg("src") === col("node"))
        .select(col("dst"), expr("score DIV deg").as("msg"))
        .groupBy(col("dst")).agg(sum(col("msg")).as("inbound"))
      scores
        .select(col("node"), col("base"), col("score").as("prev_score"))
        .join(msgs, scores("node") === msgs("dst"), "left_outer")
        .select(col("node"),
          (col("base") +
            expr(s"($dampingPct * coalesce(inbound, 0L)) DIV 100")).as("score"),
          col("base"), col("prev_score"))
    }
    (run.state.select(col("node"), col("score")), run.rounds, run.witnesses)
    }
  }

  /** Multi-source BFS hop distances: every node reachable from `seeds`
    * within `maxHops`, labeled with its shortest hop count. Classic
    * frontier expansion — each round joins ONLY the last round's new
    * nodes (the frontier) against the edge list, anti-joins away
    * already-visited nodes (so a node's recorded hop is its first visit
    * = BFS distance), and stops early when a round finds no new node
    * (the witness: the new frontier's size). Scale: per-round work is
    * |frontier ⋈ edges|, the frontier never revisits nodes, and total
    * rows are bounded by |reachable| — never walk-enumeration (the
    * naive recursive-CTE UNION ALL blowup). Directed; pass both
    * orientations for an undirected graph. */
  def bfsHops(
      edges: DataFrame, // (src: long, dst: long)
      seeds: DataFrame, // (node: long)
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50, s"maxHops must be in [1,50], got $maxHops")
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .localCheckpoint(true)
    withLoopWidth(e) {
    val init = seeds
      .select(col("node").cast("long").as("node")).distinct()
      .select(col("node"), lit(0).as("hop"), lit(true).as("fresh"))
      .localCheckpoint(true)
    val run = Fixpoint.frames("Graph.bfsHops", maxHops,
        Some(sum(col("fresh").cast("long"))))(init) { (dist, h) =>
      val frontier = dist.filter(col("fresh")).select(col("node"))
      val next = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(dist.select(col("node").as("__v")),
          col("node") === col("__v"), "left_anti")
      dist.select(col("node"), col("hop"), lit(false).as("fresh"))
        .unionByName(next.select(col("node"), lit(h).as("hop"), lit(true).as("fresh")))
    }
    run.state.select(col("node"), col("hop"))
    }
  }

  /** Synchronous min-label propagation, `rounds` fixed iterations:
    * every node starts as its own label and each round takes the min of
    * its label and its neighbors' labels — after k rounds equal labels
    * certify connectivity within distance k (run to fixpoint it is
    * connected components; the FIXED round count keeps the operator
    * oracle-replayable round-for-round). Edges must be symmetric
    * (caller unions both directions); on a directed list a node takes
    * its out-neighbors' (dst) labels.
    *
    * Scale shape: round 1 is the vertex distinct itself (one min
    * aggregate), and each later round is one shuffle join edges⋈labels on
    * the dst node plus one min aggregate by node over labels ∪ messages —
    * data-proportional, see [[minLabels]]. */
  def minLabelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // materialize the edge list once: it feeds every round's join, and
    // left as a plan each round would re-run its whole upstream
    // (joins/distinct/union)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    withLoopWidth(e) {
      minLabels("Graph.minLabelPropagation", e, rounds - 1)
    }
  }

  /** The min-label kernel behind [[minLabelPropagation]] and
    * [[graft.llm.Dedup.dupClusters]], over a materialized directed edge
    * list (src, dst); returns (node, label).
    *
    *   - Round 1 is folded into the vertex distinct:
    *     `(src, least(src, dst)) ∪ (dst, dst)` grouped by node with a min
    *     is exactly the first round for any edge direction, so the
    *     [[Fixpoint]] loop runs at most `maxRounds` further rounds.
    *   - A round is `labels ∪ (e ⋈ labels on dst = node → (src, label))`
    *     and one `groupBy(node).min`: one two-sided join shuffle (the
    *     edges by dst, the labels by node) and one aggregate shuffle,
    *     then the loop's checkpoint.
    *   - With `witness`, the aggregate also keeps each node's previous
    *     label (`prev`); labels only ever decrease, so the count of nodes
    *     whose label dropped is an exact fixpoint witness for any
    *     orderable id type, and the loop stops at the first round that
    *     drops none (at the cap it throws with `throwAtCap`). */
  private[graft] def minLabels(
      loop: String,
      e: DataFrame,
      maxRounds: Int,
      witness: Boolean = false,
      throwAtCap: Boolean = false): DataFrame = {
    // both endpoint rows of an edge come from one scan (a union would
    // scan the edges twice, in twice the tasks)
    val init = e
      .select(explode(array(
        struct(col("src").as("node"), least(col("src"), col("dst")).as("label")),
        struct(col("dst").as("node"), col("dst").as("label")))).as("v"))
      .groupBy(col("v.node").as("node")).agg(min(col("v.label")).as("label"))
      .localCheckpoint(true)
    // a witnessed round carries each node's own label through as `prev`
    val (own, prev) =
      if (witness) (Seq(col("label").as("prev")), Seq(min(col("prev")).as("prev")))
      else (Nil, Nil)
    Fixpoint.frames(loop, maxRounds,
        Option.when(witness)(sum(when(col("label") < col("prev"), 1L))),
        throwAtCap = throwAtCap)(init) { (labels, _) =>
      val msgs = e.join(labels, col("dst") === col("node"))
        .select(col("src").as("node"), col("label"))
      labels.select(col("node") +: col("label") +: own: _*)
        .unionByName(msgs, allowMissingColumns = true)
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"), prev: _*)
    }.state.select(col("node"), col("label"))
  }

  /** Degree histogram of a symmetric edge list: per-node degree (one
    * grouped count over edges), then the distribution (degree →
    * node count) — the graph-shape profile read before any iterative
    * algorithm (a heavy tail says "salt or cap the hubs"). Two map-side
    * partial aggregates; output is at most max-degree rows. */
  def degreeHistogram(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))

  /** No-change-stop Bellman–Ford — the weighted-shortest-path analog of
    * [[pageRankIntConverged]]: union+min relaxation rounds, counting in
    * each round the exact number of IMPROVED entries — nodes newly
    * reached or whose distance strictly dropped — and stopping at the
    * first round that improves NOTHING, or at `maxIters` (q330 passes its
    * fixed round count as the cap: the rounds after a no-change round
    * would repeat the same distances). Distances are non-increasing
    * integers bounded below and |V|−1 relaxation rounds always suffice
    * with non-negative weights, so the stop is reached, and every
    * pre-stop round improved ≥1 entry BY CONSTRUCTION (a
    * zero-improvement round exits the loop). The round's min-aggregate
    * also keeps each node's previous distance (`p`, null for a newly
    * reached node), so the improved count rides the round itself.
    *
    * Returns (dist, stopRound, improvedByRound). Fixed-round equality —
    * running the fixed-round recurrence `stopRound` (or more) rounds
    * yields bit-identical distances — is the GraphSpec law that lets
    * q330 cap the same loop at a fixed round count. */
  def bellmanFordConverged(
      edges: DataFrame, // (src, dst, w) — non-negative integer weights
      seeds: DataFrame, // (node)
      maxIters: Int = 20): (DataFrame, Int, Seq[Long]) = {
    require(maxIters >= 1 && maxIters <= 50,
      s"maxIters must be in [1,50], got $maxIters")
    val e = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .localCheckpoint(true)
    withLoopWidth(e) {
    val init = seeds
      .select(col("node").cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("d"))
      .localCheckpoint(true)
    val run = Fixpoint.frames("Graph.bellmanFord", maxIters,
        Some(sum(when(col("p").isNull || col("d") < col("p"), 1L))))(init) {
      (dist, _) =>
        val relaxed = e.join(dist, e("src") === dist("node"))
          .select(col("dst").as("node"), (col("d") + col("w")).as("d"),
            lit(null).cast("long").as("p"))
        dist.select(col("node"), col("d"), col("d").as("p"))
          .unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("d")).as("d"), min(col("p")).as("p"))
    }
    (run.state.select(col("node"), col("d")), run.rounds, run.witnesses)
    }
  }

  /** HITS hubs & authorities on a directed edge list, in integer ppm:
    * each round sets a(v) = Σ_{u→v} h(u) and then h(u) = Σ_{u→v} a(v),
    * each half-step max-normalized to the 10⁶ grid (score·10⁶ div max —
    * exact and order-free; the max is a broadcast scalar-agg, never a
    * driver collect). Hubs start at 10⁶. Runs `maxIters` rounds, or with
    * `epsilonPerHub` stops at the first round whose exact hub L1
    * residual Σ|hᵣ − hᵣ₋₁| is ≤ `epsilonPerHub` × #hubs — a relative
    * epsilon that, unlike an absolute one, a 10× larger hub set still
    * reaches. The hub set (the edge sources) is round-invariant, so the
    * previous hub score rides the hub aggregate of the round and the
    * residual is a scalar over the round itself.
    *
    * Returns (hubs (node, h), authorities (node, a), rounds,
    * residuals-by-round — empty without `epsilonPerHub`). */
  def hits(
      edges: DataFrame, // (src: long, dst: long), distinct
      maxIters: Int,
      epsilonPerHub: Option[Long] = None): (DataFrame, DataFrame, Int, Seq[Long]) = {
    val e = edges.localCheckpoint(true)
    withLoopWidth(e) {
    val hub0 = e.select(col("src").as("node")).distinct()
      .withColumn("h", lit(1000000L))
      .localCheckpoint(true)
    val eps = epsilonPerHub.map(_ * hub0.count())
    val run = Fixpoint[(DataFrame, DataFrame)]("Graph.hits", maxIters,
        eps.map(_ => sum(abs(col("h") - col("hp")))), eps.getOrElse(0L))(
        (hub0, null)) { case ((hub, _), _) =>
      val a0 = e.join(hub.select(col("node"), col("h")), e("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("h")).as("a0"))
      val auth = a0
        .crossJoin(broadcast(a0.agg(max(col("a0")).as("mxa"))))
        .select(col("dst").as("node"), expr("a0 * 1000000 div mxa").as("a"))
        .localCheckpoint(true)
      val h0 = e.join(auth, e("dst") === auth("node"))
        .select(col("src"), col("a"), lit(null).cast("long").as("hp"))
        .unionByName(hub.select(col("node").as("src"),
          lit(null).cast("long").as("a"), col("h").as("hp")))
        .groupBy(col("src")).agg(sum(col("a")).as("h0"), max(col("hp")).as("hp"))
      val nextHub = h0
        .crossJoin(broadcast(h0.agg(max(col("h0")).as("mxh"))))
        .select(col("src").as("node"), expr("h0 * 1000000 div mxh").as("h"),
          col("hp"))
      (nextHub, m => (m, auth))
    }
    val (hub, auth) = run.state
    (hub.select(col("node"), col("h")), auth, run.rounds, run.witnesses)
    }
  }
}
