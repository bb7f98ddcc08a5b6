package graft.operators

import graft.operators.Checkpoints.Checkpointed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlBridge.rebind
import org.apache.spark.sql.functions._

/**
 * Distributed primitives over an undirected edge list `(u, v)` with
 * u < v — the graph tier next to the connected-components labeller in
 * [[Dedup.clusters]] and the triangle counter on the gate
 * (`orders_triangle_count`). Everything here is join/aggregate-shaped:
 * degrees are one symmetric groupBy, a peel is a semi-join, and the
 * k-core loop's per-round driver traffic is a single row count.
 */
object Graphs {

  /** Both directions of the undirected edge list. */
  def symmetric(edges: DataFrame): DataFrame =
    edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))

  /** (node, deg) — nodes with at least one edge. */
  def degrees(edges: DataFrame): DataFrame =
    symmetric(edges).groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))

  /**
   * ONE k-core peel step: drop every node of degree < k and return
   * the induced edge set. One degree aggregation + two semi-joins —
   * the fan-out never exceeds the edge list.
   */
  def peel(edges: DataFrame, k: Int): DataFrame = {
    val keep = degrees(edges).filter(col("deg") >= k).select("node")
    edges
      .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
      .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
      .select("u", "v") // using-column joins reorder; keep the contract
  }

  /**
   * Full k-core: the maximal subgraph where every node has degree
   * >= k, by iterated peeling to a fixpoint. Each round is one
   * degree aggregation + two semi-joins over the SHRINKING edge set,
   * `localCheckpoint` truncates lineage, and the per-round driver
   * scalar is an edge count. Iteration count is the peeling depth —
   * small on clustered graphs (each round removes whole fringes),
   * but inherently O(n) on an adversarial path graph at k = 2 (one
   * endpoint pair per round); distributed k-core has no better
   * worst-case round bound, so size `maxIters` to the expected
   * fringe depth, not the node count. On a multi-executor cluster
   * prefer `checkpoint()` with a checkpoint dir if executor loss
   * mid-loop must be survivable.
   */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 50): DataFrame =
    // loop physical hygiene — LoopOpt scaladoc (partitions from the
    // measured edge size, no per-round broadcast builds, no per-stage
    // AQE jobs or codegen compiles over KB-sized rounds)
    LoopOpt.withLoopConf(edges.select("u", "v").checkpointed()) { (cur0, _) =>
      var cur = cur0
      var n = cur.count()
      var it = 0
      var done = false
      while (!done && it < maxIters) {
        // lazy checkpoint: the count right after materializes it — one
        // driver job per round instead of eager-materialize + count
        val next = peel(cur, k).checkpointed(eager = false)
        val m = next.count()
        done = m == n
        Checkpoints.free(cur) // round k−1's blocks: nothing reads them again
        cur = next
        n = m
        it += 1
      }
      require(done, s"k-core peeling did not converge in $maxIters iterations")
      cur
    }

  /**
   * BFS HOP DISTANCES from a seed set: (node, dist) for every node
   * within `maxHops` of any seed — multi-source unweighted shortest
   * paths, the reachability primitive behind influence radii and
   * "within N links of a flagged entity" audits. Classic frontier
   * iteration: each round joins the CURRENT frontier to the edge
   * list and anti-joins everything already visited, so a node enters
   * exactly once at its minimal distance and total rows processed
   * are Σ_frontier deg — the BFS tree's edge fan-out, never
   * rounds × |E|. Rounds = min(eccentricity, maxHops) with one
   * frontier-count driver scalar each; `localCheckpoint` truncates
   * the growing lineage. `maxHops` doubles as the contract an
   * oracle's fixed-depth recursive expansion can state exactly.
   */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int = 15): DataFrame = {
    // loop physical hygiene (LoopOpt scaladoc); the edge list is
    // additionally co-partitioned by u so the frontier expansion join
    // is exchange-free every round (frontier comes out of a node-keyed
    // distinct, which the checkpoint preserves — guide §2.4)
    LoopOpt.withLoopConf(symmetric(edges).checkpointed()) { (sym0, nP) =>
      val sym = sym0.repartition(nP, col("u")).checkpointed()
      Checkpoints.free(sym0)
      var visited = rebind(sym0.sparkSession, seeds).select(col("node")).distinct()
        .repartition(nP, col("node"))
        .withColumn("dist", lit(0L)).checkpointed()
      var frontier = visited
      var d = 0L
      var n = frontier.count()
      while (n > 0 && d < maxHops) {
        d += 1
        frontier = frontier
          .join(sym, frontier("node") === sym("u"))
          .select(col("v").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti")
          .withColumn("dist", lit(d))
          .checkpointed(eager = false) // lazy: the count materializes it
        n = frontier.count()
        // visited stays a plain union OVER checkpointed frontiers — a
        // flat lineage that replays nothing; checkpointing it would
        // re-materialize the whole visited set every round
        visited = visited.unionByName(frontier)
      }
      visited
    }
  }

  /**
   * K-HOP-BOUNDED WEIGHTED SHORTEST PATHS (distributed Bellman-Ford)
   * from a seed set over an undirected weighted edge list
   * `(u, v, w)`: after round k, `dist(v)` is EXACTLY the minimum
   * total weight over paths from any seed using <= k edges — a
   * well-defined quantity whether or not the global fixpoint is
   * reached, which is what lets a fixed-depth recursive oracle state
   * the identical result (and why this runs exactly `rounds`
   * relaxations with an early exit only when a round changes
   * nothing, after which further rounds are no-ops — sound for any
   * weights, because an unchanged round IS a fixpoint of the
   * deterministic relaxation map). Each round is one
   * (frontier ⋈ edges) join + a min-aggregate keyed on the node —
   * per-round data is |sym edges| + |reached|, nothing broadcasts.
   */
  def weightedHops(edges: DataFrame, seeds: DataFrame, rounds: Int = 12): DataFrame = {
    require(rounds >= 1, "at least one relaxation round")
    // loop physical hygiene (LoopOpt scaladoc); edges co-partitioned
    // by u so the relaxation join is exchange-free (dist comes out of
    // a node-keyed groupBy, preserved by the checkpoint — §2.4)
    LoopOpt.withLoopConf(edges.select(col("u"), col("v"), col("w"))
        .union(edges.select(col("v").as("u"), col("u").as("v"), col("w")))
        .checkpointed()) { (sym0, nP) =>
      val sym = sym0.repartition(nP, col("u")).checkpointed()
      Checkpoints.free(sym0)
      var dist = rebind(sym0.sparkSession, seeds).select(col("node")).distinct()
        .repartition(nP, col("node"))
        .withColumn("dist", lit(0L)).checkpointed()
      var it = 0
      var changed = true
      while (changed && it < rounds) {
        val next = dist
          .join(sym, dist("node") === sym("u"))
          .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
          .unionByName(dist)
          .groupBy("node").agg(min("dist").as("dist"))
          .checkpointed(eager = false) // lazy: the changed-probe materializes it
        changed = next.join(dist.withColumnRenamed("dist", "_prev"),
            Seq("node"), "left_outer")
          .filter(col("_prev").isNull || col("dist") =!= col("_prev"))
          .limit(1).count() > 0
        Checkpoints.free(dist) // round k−1's blocks: nothing reads them again
        dist = next
        it += 1
      }
      dist
    }
  }

  /**
   * CORE DECOMPOSITION: the core number of every node — the largest
   * k such that the node survives in the k-core — via the h-index
   * fixpoint (Lü et al., "The H-index of a network node and its
   * relation to degree and coreness", 2016 — a public, provably
   * convergent distributed algorithm): initialize c(v) = deg(v) and
   * iterate c(v) = H({c(u) : u ~ v}), the largest h such that at
   * least h neighbors currently hold a value >= h. Every node's
   * sequence is non-increasing and the fixpoint is exactly coreness,
   * so extra rounds past convergence are no-ops — which is what lets
   * a fixed-iteration WITH RECURSIVE oracle state the same result.
   *
   * Distributed shape per round: one (edges ⋈ estimates) equi-join +
   * one node-keyed window (rank neighbor values desc; H =
   * max(min(rank, c))) — all shuffles are keyed on the node, nothing
   * broadcasts, per-round data is exactly |sym edges| rows. The
   * per-round driver scalar is the changed-node count off the two
   * checkpointed estimate tables. Round count is bounded by the
   * longest strictly-decreasing estimate chain — empirically a few
   * dozen on real graphs (vs the peel-per-k alternative whose rounds
   * are Σ_k depth_k).
   */
  def coreNumbers(edges: DataFrame, maxIters: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // loop physical hygiene (LoopOpt scaladoc); edges co-partitioned
    // by v — the neighbor-estimate probe's key — so the per-round join
    // is exchange-free (est comes out of a node-keyed aggregate,
    // preserved by the checkpoint — §2.4)
    LoopOpt.withLoopConf(symmetric(edges).checkpointed()) { (sym0, nP) =>
      val sym = sym0.repartition(nP, col("v")).checkpointed()
      Checkpoints.free(sym0)
      var est = sym.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("c")).checkpointed()
      var changed = 1L
      var it = 0
      while (changed > 0 && it < maxIters) {
        val nb = sym.join(est.select(col("node").as("v"), col("c").as("cv")), "v")
          .select(col("u").as("node"), col("cv"))
        val w = Window.partitionBy("node").orderBy(col("cv").desc)
        val next = nb
          .withColumn("m", least(row_number().over(w).cast("long"), col("cv")))
          .groupBy("node").agg(max("m").as("c"))
          .checkpointed(eager = false) // lazy: the changed-count materializes it
        changed = next.join(est.select(col("node"), col("c").as("_prev")), "node")
          .filter(col("c") =!= col("_prev")).count()
        Checkpoints.free(est) // round k−1's blocks: nothing reads them again
        est = next
        it += 1
      }
      require(changed == 0,
        s"core-number h-index iteration did not converge in $maxIters rounds")
      est.select(col("node"), col("c").as("core_k"))
    }
  }

  /**
   * TRIANGLE COUNT over a rank-oriented edge list `(s, t, rt)` where
   * every edge points from lower to higher rank and `rt` is the
   * target's rank (compact-forward orientation — the caller packs
   * (degree, id) so wedge fan-out per node is O(sqrt(E))). A triangle
   * a<b<c is counted exactly once at its lowest edge (a,b) as
   * c ∈ N+(a) ∩ N+(b).
   *
   * Two physical strategies behind one size gate:
   *  - `nEdges <= broadcastMaxEdges`: EDGE-INTERSECTION closure — the
   *    out-adjacency table (total payload Σ out-deg = |E|, each edge
   *    in exactly one list) broadcasts, and per-edge intersections
   *    run map-side where the edges live; the Σ out-deg² wedge set
   *    never materializes through an exchange.
   *  - above the gate (the 100× case — |E| with list payloads
   *    outgrows any sane broadcast): WEDGE SELF-JOIN — generate the
   *    rank-ordered wedges (t1, t2) per source and equi-join them
   *    against the edge list re-keyed on (t1, t2). The wedge set
   *    shuffles, but nothing broadcasts and every join is a plain
   *    keyed exchange that scales with the data.
   * Both count the same triangles; orientation makes each exactly
   * once.
   */
  def triangleCount(oriented: DataFrame, nEdges: Long,
                    broadcastMaxEdges: Long = 5000000L): DataFrame =
    if (nEdges <= broadcastMaxEdges) {
      val adj = oriented.groupBy("s").agg(collect_list(col("t")).as("nb"))
      oriented
        .join(broadcast(adj.select(col("s"), col("nb").as("nbs"))), Seq("s"))
        .join(broadcast(adj.select(col("s").as("t"), col("nb").as("nbt"))), Seq("t"))
        .select(size(array_intersect(col("nbs"), col("nbt"))).cast("long").as("c"))
        .agg(coalesce(sum("c"), lit(0L)).as("n_triangles"))
    } else {
      val o1 = oriented.select(col("s"), col("t").as("t1"), col("rt").as("r1"))
      val o2 = oriented.select(col("s"), col("t").as("t2"), col("rt").as("r2"))
      val wedges = o1.join(o2, Seq("s"))
        .filter(col("r1") < col("r2")).select("t1", "t2")
      val closing = oriented.select(col("s").as("t1"), col("t").as("t2"))
      wedges.join(closing, Seq("t1", "t2"))
        .agg(count(lit(1)).as("n_triangles"))
    }

  /**
   * ANCESTOR ROLLUP: aggregate per-node contributions up a parent
   * hierarchy — each node's result is the sum of `w` over itself and
   * every descendant (BOM explosion, org-chart rollup, category-tree
   * revenue). `edges` is the parent relation `(child, parent)`;
   * `contrib` is `(node, w)`.
   *
   * The fact-sized work happens BEFORE this call (aggregate facts to
   * per-node contributions once); the closure then iterates over
   * dimension-scale data: each round joins the shrinking frontier to
   * the edge table and re-aims contributions at the parent, so total
   * rows processed are Σ_nodes depth(node) — the transitive-closure
   * size, reached in depth rounds with ONE driver job per round: the
   * count on the freshly checkpointed frontier doubles as the
   * materialization trigger and the loop guard (a separate
   * limit(1).count() probe would pay an extra job launch per level
   * for metadata-scale work). Cycles in `edges` would never drain
   * the frontier: the `maxIters` require fires rather than looping
   * silently.
   *
   * Precondition: `edges` is a FOREST projection — at most one
   * parent per child, no duplicate (child, parent) rows (the
   * `.distinct()` here removes exact duplicates; a genuine
   * multi-parent DAG would still double-count one contribution per
   * extra ancestor path, which is path-counting, not a rollup).
   */
  def ancestorRollup(edges: DataFrame, contrib: DataFrame,
                     maxIters: Int = 30): DataFrame = {
    // checkpoint the edge table: before this every round's frontier
    // join re-executed the edges plan (a per-round re-scan); with the
    // loop conf (LoopOpt scaladoc) each climb level is one small job
    LoopOpt.withLoopConf(
        edges.select(col("child"), col("parent")).distinct().checkpointed()) { (e0, nP) =>
      val e = e0.repartition(nP, col("child")).checkpointed()
      Checkpoints.free(e0)
      var acc = rebind(e0.sparkSession, contrib).select(col("node"), col("w"))
      var frontier = acc.repartition(nP, col("node")).checkpointed()
      var n = frontier.count()
      var it = 0
      while (n > 0 && it < maxIters) {
        frontier = frontier
          .join(e, frontier("node") === e("child"))
          .select(col("parent").as("node"), col("w"))
          .repartition(nP, col("node"))
          .checkpointed(eager = false) // lazy: the count materializes it
        n = frontier.count()
        acc = acc.union(frontier)
        it += 1
      }
      require(it < maxIters || n == 0,
        s"hierarchy deeper than $maxIters levels (or cyclic)")
      acc.groupBy("node").agg(sum("w").as("subtree_w"))
    }
  }

  /**
   * HyperBall / ANF neighborhood function (Boldi, Rosa & Vigna,
   * "HyperBall: counting by leaps and bounds" — public algorithm,
   * re-derived on Spark's DataSketches HLL aggregates): per node, an
   * HLL sketch of every node within `hops` hops (self included).
   * state_0(v) = HLL({v}); state_t(v) = union(state_{t-1}(v),
   * ⋃_{(v,w)∈E} state_{t-1}(w)). Feed `hll_sketch_estimate(sk)` for
   * the reach census, or keep unioning upward (per-community, whole
   * graph) — HLL union is an idempotent semilattice, so partials
   * compose freely.
   *
   * This is the form that survives 100 TB where the exact t-hop
   * DISTINCT dies: the exact census gathers O(Σ_v deg(v)^t) (seed,
   * reached) pairs before its distinct — degree² fan-out already at
   * t = 2 — while each HyperBall round shuffles exactly |E| + |V|
   * FIXED-SIZE sketch rows (2^lgK registers, ~1-16 KB) keyed by the
   * edge list, with map-side partial unions. Per-round cost is flat
   * in t; total work is t · O(|E|) regardless of how fast balls
   * grow. `sym` must contain both directions of each edge (use
   * [[symmetric]]); `localCheckpoint` truncates the per-round
   * lineage exactly like the other iterative operators here.
   */
  def reachSketch(sym: DataFrame, hops: Int, lgK: Int = 14): DataFrame = {
    require(hops >= 1, s"hops must be >= 1, got $hops")
    // checkpoint the edge list: every hop joins it, and an un-
    // materialized `sym` re-executed its whole upstream plan per hop;
    // loop conf per LoopOpt scaladoc
    LoopOpt.withLoopConf(sym.checkpointed()) { (symC, _) =>
      val nodes = symC.select(col("u").as("node")).distinct().checkpointed()
      var state = nodes.groupBy("node")
        .agg(expr(s"hll_sketch_agg(node, $lgK)").as("sk")).checkpointed()
      (1 to hops).foreach { _ =>
        // neighbor sketches + the node's own sketch, one keyed union:
        // the self edge keeps state monotone (a ball never shrinks)
        val prev = state
        state = symC.select(col("u").as("node"), col("v").as("src"))
          .unionByName(nodes.select(col("node"), col("node").as("src")))
          .join(state.select(col("node").as("src"), col("sk")), Seq("src"))
          // all inputs share this operator's lgK, so no
          // allowDifferentLgConfigK (the boolean 2nd param) is needed
          .groupBy("node").agg(expr("hll_union_agg(sk)").as("sk"))
          .checkpointed()
        Checkpoints.free(prev) // hop k−1's blocks: nothing reads them again
      }
      state
    }
  }

  /**
   * Truncated harmonic centrality at radius 2, EXACT:
   * H2(v) = |dist = 1| + |dist = 2| / 2 over the symmetric edge list,
   * reported in integer millis (n1·1000 + n2·500). The
   * closeness-style "how much of the graph is near me" number — the
   * metric HyperBall exists to estimate at scale: at 100 TB run
   * [[reachSketch]] per radius and difference the ball estimates
   * (fixed-size sketch rows, |E|-keyed shuffles); this exact form is
   * the oracle-checkable face, paying the distance-2 distinct gather
   * (Σ deg² pairs — the same honest bound as the reach census).
   * Input must be the SYMMETRIC distinct edge list.
   */
  def harmonic2(sym: DataFrame): DataFrame = {
    val d1 = sym.select(col("u").as("seed"), col("v").as("r"))
    val two = sym.select(col("u").as("seed"), col("v").as("m"))
      .join(sym.select(col("u").as("m"), col("v").as("r")), "m")
      .filter(col("r") =!= col("seed"))
      .select("seed", "r").distinct()
    val d2 = two.join(d1, Seq("seed", "r"), "left_anti")
    val n1 = d1.groupBy("seed").agg(count(lit(1)).as("n1"))
    val n2 = d2.groupBy("seed").agg(count(lit(1)).as("n2"))
    n1.join(n2, Seq("seed"), "left")
      .select(col("seed").as("node"), col("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        (col("n1") * 1000 + coalesce(col("n2"), lit(0L)) * 500).as("h2_milli"))
  }

  /**
   * PageRank run to TOLERANCE-based convergence — the loop form of
   * the `graph_pagerank_step` power step, in the same exact integer
   * micro-unit discipline (every node starts at 1e6 micros; each
   * round a node emits `r div out_degree` along each out-edge and
   * refreshes to 150000 + 850·received div 1000), so every engine
   * replaying the same rounds derives the identical ranks — no float
   * accumulation order anywhere. The loop stops at the FIRST round
   * whose max per-node |delta| <= `tolMicros` (computed as one
   * joined max — a driver scalar, not data), which an oracle can
   * restate as a post-hoc selection over a fixed-depth recursion.
   *
   * Scale posture: per round, one (rank ⋈ out-degree) projection, one
   * edge-keyed contribution aggregate (map-side combinable), one
   * node-keyed refresh join — all well-keyed shuffles over the edge
   * list; `localCheckpoint` truncates lineage and per-round driver
   * traffic is ONE scalar. Round count is a property of the graph's
   * mixing (damping contraction ~0.85/round), NOT its size — disjoint
   * replicas converge in the base graph's round count (SCALE
   * pagerank). Nodes with no out-edges simply emit nothing (sink-drop
   * convention), stated rather than hidden.
   */
  def pageRank(edges: DataFrame, tolMicros: Long = 100000L,
               maxIters: Int = 25): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).checkpointed()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .withColumn("base", lit(150000L)).checkpointed()
    prConverge(e, nodes, nodes.select(col("node"), lit(1000000L).as("r")),
      tolMicros, maxIters)
  }

  /**
   * Personalized PageRank: the teleport mass concentrates on a SEED
   * set instead of spreading uniformly — rank measures proximity to
   * the seeds (the recommendation/related-items primitive). Same
   * exact integer dynamics as [[pageRank]] with per-node base =
   * 150000·[node ∈ seeds] and initial rank = base (mass grows from
   * the seeds toward the fixpoint, contraction ~0.85/round), same
   * first-round-under-tolerance stop, same oracle-stateable loop.
   * `seeds` is a (node) DataFrame; rows not present in the graph are
   * ignored.
   */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           tolMicros: Long = 10000L,
                           maxIters: Int = 25): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).checkpointed()
    val s = seeds.select(col("node").cast("long").as("node")).distinct()
      .withColumn("_s", lit(1L))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(s, Seq("node"), "left")
      .select(col("node"), (coalesce(col("_s"), lit(0L)) * 150000L).as("base"))
      .checkpointed()
    prConverge(e, nodes, nodes.select(col("node"), col("base").as("r")),
      tolMicros, maxIters)
  }

  /**
   * Stationary distribution of a transition-count matrix to
   * TOLERANCE-based convergence — the loop form of the
   * `events_stationary_step` power step, same exact integer
   * discipline: π0 = 1e6 micros per state, π'_j = Σ_i π_i·n_ij div
   * r_i (per-edge integral division), stop at the FIRST round whose
   * max |delta| <= tolMicros. The matrix is restricted ONCE to edges
   * whose src also appears as a destination and whose dst also
   * appears as a source (totals recomputed after the restriction),
   * and π is keyed on src ∪ dst OF THE RESTRICTED MATRIX — a single
   * pass is not a true recurrent core (an edge B→C can survive while
   * C keeps no outgoing edge), so keying on src alone would silently
   * drop the mass sent to such a C while a relational recursion
   * keeps emitting C's row; src ∪ dst keying carries exactly the
   * same state set in both engines. States without outgoing
   * restricted edges hold only their per-round inflow (their own
   * mass leaks — a defined, engine-stable contract, not a
   * recurrent-core stationary distribution). Integer division
   * plateaus a few micros above zero, so tolMicros must sit above
   * the rounding floor (~|states| micros), never at 0.
   *
   * `transitions`: (src, dst, n) counts. Output: (state, pi_micros).
   * State per round is |states| rows — metadata-sized; the loop's
   * cost is round count x two tiny keyed exchanges.
   */
  def stationaryFixpoint(transitions: DataFrame, tolMicros: Long = 100L,
                         maxIters: Int = 10): DataFrame = {
    val core = transitions.select(col("src"), col("dst"), col("n"))
      .join(transitions.select(col("dst").as("src")).distinct(), Seq("src"), "left_semi")
      .join(transitions.select(col("src").as("dst")).distinct(), Seq("dst"), "left_semi")
    val totals = core.groupBy("src").agg(sum("n").as("row_total"))
    // loop physical hygiene (LoopOpt scaladoc); matrix co-partitioned
    // by src so the per-round (matrix ⋈ pi) join is exchange-free (pi
    // comes out of a state-keyed exchange, preserved by the
    // checkpoint — §2.4)
    LoopOpt.withLoopConf(core.join(totals, "src").checkpointed()) { (matrix0, nP) =>
      val matrix = matrix0.repartition(nP, col("src")).checkpointed()
      Checkpoints.free(matrix0)
      val states = matrix.select(col("src").as("state"))
        .union(matrix.select(col("dst").as("state"))).distinct()
        .repartition(nP, col("state")).checkpointed()
      var pi = states.withColumn("p", lit(1000000L)).checkpointed()
      Checkpoints.free(states) // consumed once by pi's eager checkpoint
      var it = 0
      var delta = Long.MaxValue
      while (delta > tolMicros && it < maxIters) {
        val recv = matrix.join(pi, matrix("src") === pi("state"))
          .select(col("dst"), expr("(p * n) div row_total").as("c"))
          .groupBy(col("dst").as("state")).agg(sum("c").as("tot"))
        val next = pi.select(col("state"), col("p").as("_prev"))
          .join(recv, Seq("state"), "left")
          .select(col("state"), coalesce(col("tot"), lit(0L)).as("p"), col("_prev"))
          .checkpointed(eager = false)
        delta = next.agg(max(abs(col("p") - col("_prev")))).head().getLong(0)
        Checkpoints.free(pi) // round k−1's blocks: nothing reads them again
        pi = next.select("state", "p")
        it += 1
      }
      require(delta <= tolMicros,
        s"stationary fixpoint did not converge to $tolMicros micros in $maxIters iterations (delta=$delta)")
      pi.select(col("state"), col("p").as("pi_micros"))
    }
  }

  /** Shared tolerance-stopped power loop over (node, base) with the
    * integer refresh r' = base + 850·(Σ_in r div out_deg) div 1000.
    * The loop STATE carries (node, base, d, r) so each round is ONE
    * projection (shares), ONE edge join + combinable aggregate
    * (contrib), ONE state join producing the refreshed rank BESIDE
    * the previous one, and ONE max-delta aggregate that doubles as
    * the round's single materializing action (lazy checkpoint, the
    * kCore idiom) — round latency is stage count x scheduler floor
    * on small graphs, so stages are kept minimal. */
  private def prConverge(e: DataFrame, nodes: DataFrame, init: DataFrame,
                         tolMicros: Long, maxIters: Int): DataFrame = {
    // Loop physical hygiene (LoopOpt scaladoc): partition count
    // derived from the MEASURED edge-list size, the edge list
    // co-partitioned by src and the state by node ONCE
    // (localCheckpoint preserves partitioning, guide §2.4 — every
    // round's two joins are then exchange-free sort-merge joins over
    // the standing layout; the round's one exchange is the
    // contribution groupBy), broadcast auto-conversion off inside the
    // loop (each round's BHJ was a driver collect + torrent rebuild
    // of state that changes every round).
    LoopOpt.withLoopConf(e) { (e, nP) =>
      val s = e.sparkSession
      val ep = e.repartition(nP, col("src")).checkpointed()
      val outdeg = ep.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      var st = rebind(s, nodes).join(outdeg, Seq("node"), "left")
        .join(rebind(s, init), "node")
        .select(col("node"), col("base"), col("d"), col("r"))
        .repartition(nP, col("node"))
        .checkpointed()
      var it = 0
      var delta = Long.MaxValue
      while (delta > tolMicros && it < maxIters) {
        val shares = st.filter(col("d").isNotNull)
          .select(col("node").as("src"), expr("r div d").as("share"))
        val contrib = ep.join(shares, "src")
          .groupBy(col("dst").as("node")).agg(sum("share").as("tot"))
        val next = st.select(col("node"), col("base"), col("d"), col("r").as("_prev"))
          .join(contrib, Seq("node"), "left")
          .select(col("node"), col("base"), col("d"),
            (col("base") + expr("(850 * coalesce(tot, 0)) div 1000")).as("r"),
            col("_prev"))
          .checkpointed(eager = false)
        delta = next.agg(max(abs(col("r") - col("_prev")))).head().getLong(0)
        Checkpoints.free(st) // round k−1's blocks: nothing reads them again
        st = next
        it += 1
      }
      require(delta <= tolMicros,
        s"pagerank did not converge to $tolMicros micros in $maxIters iterations (delta=$delta)")
      st.select("node", "r")
    }
  }
}
