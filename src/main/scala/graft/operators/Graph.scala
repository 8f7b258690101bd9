package graft.operators

import graft.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Iterative graph analytics as Spark plans. Companion to the
  * connected-components operator in [[Dedup.duplicateClusters]]: same
  * driver-side iteration loop, same per-round `localCheckpoint` discipline
  * (cut lineage so round N does not replay rounds 1..N-1 or the edge
  * build), same determinism rule — every per-iteration float passes
  * through a fixed-scale portable round, so the converged values are
  * bit-identical across engines, partitionings and AQE re-plans. */
object Graph {

  /** PageRank with a fixed iteration count and the "leaky" dangling-mass
    * formulation (nodes without out-edges contribute nothing — mass sums
    * slightly below 1 when they exist; well-defined and cheap to mirror
    * in an oracle).
    *
    * Per iteration: contribution of edge (u→v) is round(r_u · d/deg_u),
    * summed EXACTLY as decimals per target node, plus the (1−d)/N
    * teleport. A zero-weight self-loop per node keeps rankless nodes in
    * the frontier (so isolated nodes hold the teleport rank) — that
    * trick also lets the DuckDB recursive-CTE oracle reference the
    * working table exactly once.
    *
    * Scale shape: the partitioned PageRank of the Spark RDD paper
    * (Zaharia et al., NSDI 2012, §3.2.2). ranks ⋈ contribs is a shuffled
    * hash join built on the rank state, never a broadcast: a broadcast
    * rank state cannot scale to 10⁹ nodes, and even a small string-keyed
    * broadcast relation pins whole memory pages until Spark's
    * ContextCleaner drops it. Each round's grouped sum leaves the state
    * hash-partitioned by node, so the state side needs no exchange, and
    * the exchange over contribs is the same every round, so Spark reuses
    * it — the edge list shuffles a fixed number of times, not once per
    * round. Iteration count is a fixed parameter (rounds, not convergence
    * polling), so the driver never inspects data between rounds. */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 5,
               damping: Double = 0.85): DataFrame = {
    // N as a bounded driver scalar (shortestPaths' maxD discipline, read
    // once BEFORE the rounds): a per-round crossJoin(broadcast(nn)) would
    // re-build the 1-row count subquery as its own broadcast stage in
    // EVERY round — Spark does not dedup cross-branch subplans.
    // lit(teleport/n) is the same IEEE double division a broadcast column
    // would feed, so every rank is bit-identical.
    val nD = nodes.queryExecution.toRdd.count().toDouble
    rankRounds(nodes, edges, iters, damping, lit(1.0 / nD), tele => lit(tele / nD), "rank")
  }

  /** The bulk-synchronous round chain shared by [[pageRank]] and
    * [[personalizedPageRank]]: they differ only in the initial ranks
    * `init`, the teleport term (a function of the 1e-12-rounded (1−d))
    * and the output column. Both node-keyed joins are shuffled hash joins
    * built on the node-bounded side (`outdeg`, `ranks`), so no round
    * broadcasts. */
  private def rankRounds(nodes: DataFrame, edges: DataFrame, iters: Int,
                         damping: Double, init: Column,
                         teleport: Double => Column, out: String): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters out of range: $iters")
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val contribs = edges.join(outdeg.hint("shuffle_hash"), "src")
      .select(col("src"), col("dst"),
        portableRound(lit(damping) / col("deg"), 12).as("w"))
      .unionByName(nodes.select(col("node").as("src"), col("node").as("dst"),
        lit(0.0).as("w")))
      .localCheckpoint() // reused every round: never replay the edge build
    // teleport rounded to 1e-12 so it is BIT-identical to the oracle's
    // decimal literal: 1.0 - 0.85 in binary floating point is
    // 0.15000000000000002, one ulp above the parsed 0.15
    val tele = teleport(math.floor((1.0 - damping) * 1e12 + 0.5) / 1e12)
    var ranks = nodes.select(col("node"), init.as("r"))
    // checkpoint the rank frame every few rounds, not every round: the
    // expensive lineage (the edge build) is already cut by contribs'
    // checkpoint, so short runs execute as one job — but Catalyst
    // re-optimizes the whole accumulated plan per round, which grows
    // superlinearly past a handful of nested join+agg rounds (measured:
    // 50 uncheckpointed rounds hang analysis), so bound the segment depth.
    // The chain is node-bounded, so it executes HERE, inside a
    // loop-state-sized conf scope ending in a lineage cut: the returned
    // frame replays node-sized in-memory blocks, and the caller's action
    // plans only its own operators at the session conf.
    val spark = nodes.sparkSession
    graft.util.LoopConf.withShuffleParts(spark,
      graft.util.LoopConf.sizedParts(spark, graft.util.LoopConf.rowsOf(contribs))) {
      for (i <- 1 to iters) {
        ranks = ranks.hint("shuffle_hash").join(contribs, ranks("node") === contribs("src"))
          .groupBy(col("dst"))
          .agg(sum(portableRound(col("r") * col("w"), 12).cast("decimal(28,12)"))
            .as("contrib"))
          .select(col("dst").as("node"),
            portableRound(tele + col("contrib").cast("double"), 10).as("r"))
        if (i % 5 == 0 && i < iters) ranks = ranks.localCheckpoint()
      }
      ranks.select(col("node"), col("r").as(out)).localCheckpoint()
    }
  }

  /** Exact triangle count over an UNDIRECTED edge list, by DEGREE-ORDERED
    * wedge closure (Cohen 2009 / the MapReduce-triangles refinement):
    * canonicalize + dedup the edges, compute each node's degree, orient
    * every edge from the (degree, id)-lexicographically smaller endpoint
    * to the larger, enumerate wedges at the smaller endpoint, and close
    * them against the oriented edge list. Each triangle {x,y,z} with
    * rank x < y < z yields oriented edges x→y, x→z, y→z and is counted
    * exactly once — as the wedge (x→y, x→z) closed by y→z.
    *
    * Why degree order and not id order: wedge volume is Σ_u C(outdeg(u),2),
    * and degree-ordering bounds every node's OUT-degree by O(√m) (a node
    * of degree d only points at neighbors of degree ≥ d, and there are at
    * most 2m/d ≥-d nodes) — on a skewed graph the id-ordered variant puts
    * a hub's full Σd² wedge set on whichever hubs have low ids, the
    * classic blowup (GraphSpec measures the collapse on a star fixture).
    *
    * Scale: degrees are one id-width aggregation; the orientation adds two
    * id-width joins; the wedge join shuffles on the shared endpoint and
    * the closing join on the (v, w) pair — every exchanged row is ids +
    * one long degree. */
  def triangleCount(edges: DataFrame): DataFrame = {
    // materialize the oriented edge list ONCE: the wedge join's two
    // branches and the closing join otherwise each rebuild the
    // undirected-dedup + degree joins (three copies of the same subtree —
    // exchange reuse only dedups the identical deepest exchanges, not the
    // join work above them)
    val o = orientEdges(edges, byDegree = true).localCheckpoint()
    orientedWedgesOf(o, byDegree = true)
      .join(o.select(col("u").as("cu"), col("v").as("cv")),
        col("w1") === col("cu") && col("w2") === col("cv"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Canonical undirected edge set: low-id→high-id, self-loops dropped,
    * duplicates removed. */
  private def undirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Edges oriented small→large by (degree, id) rank (`byDegree = true`)
    * or by id alone — output (u, v, dv) where dv is v's degree under
    * degree order (carried so the wedge join can compare ranks without a
    * second degree lookup). */
  private[operators] def orientEdges(edges: DataFrame, byDegree: Boolean): DataFrame = {
    val und = undirected(edges)
    if (!byDegree)
      und.select(col("a").as("u"), col("b").as("v"), lit(0L).as("dv"))
    else {
      val deg = und.select(col("a").as("node"))
        .unionByName(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val aFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      und
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        .select(
          when(aFirst, col("a")).otherwise(col("b")).as("u"),
          when(aFirst, col("b")).otherwise(col("a")).as("v"),
          when(aFirst, col("db")).otherwise(col("da")).as("dv"))
    }
  }

  /** k-core decomposition (fixed k): iteratively peel every node whose
    * degree in the SURVIVING subgraph is < k until nothing changes, and
    * return the core's nodes with their within-core degrees — the dense
    * backbone extractor (community seeds, near-dup cluster cores, spam
    * farms).
    *
    * Each round is one degree aggregation + two keep-set semi-joins
    * (strategy left to AQE — see below); rounds needed = peel depth, which
    * is ≤ the longest chain the peel erodes — bounded, like the CC
    * fixpoint, by graph structure rather than size. Edges are
    * `localCheckpoint`ed per round so the plan tree stays flat across
    * iterations (same discipline as [[graft.operators.Dedup]]'s CC loop),
    * and convergence is the edge COUNT reaching a fixpoint: peeling only
    * ever removes edges, so an unchanged count is exactly "no node fell
    * below k this round" — no probabilistic signature needed.
    *
    * At 100× scale the shape holds: degree agg shuffles (node, 1) pairs,
    * the keep-set semi-joins carry id-only rows, and each round's edge
    * set only shrinks. The semi-joins deliberately carry NO broadcast
    * hint: in round 1 the keep set is close to ALL nodes (peeling has
    * removed nothing yet), so a forced broadcast would ship a multi-GB
    * node set to every executor on a 10⁹-node graph. Left unhinted, AQE
    * picks BroadcastHashJoin from runtime sizes once late-round peeling
    * has shrunk the set, and a shuffled semi-join before that — the
    * decision that is right at both scales. */
  private def coreDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))

  /** One peel round, exposed (package-private) so the spec can assert the
    * plan shape: the keep-set semi-joins must carry no mandatory
    * broadcast hint — the scale contract documented on [[kCore]]. */
  private[graft] def kCorePeelRound(e: DataFrame, k: Int): DataFrame = {
    val keep = coreDegrees(e).filter(col("core_deg") >= k).select(col("node"))
    e.join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
  }

  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var e = undirected(edges).localCheckpoint()
    var nEdges = e.count()
    var rounds = 0
    var converged = false
    // per-round peels are actions on the edge-bounded loop state: size
    // their shuffles to that state, not the session's scan default
    val spark = edges.sparkSession
    graft.util.LoopConf.withShuffleParts(spark,
      graft.util.LoopConf.sizedParts(spark, nEdges)) {
      while (!converged && rounds < maxRounds && nEdges > 0) {
        val e2 = kCorePeelRound(e, k).localCheckpoint()
        val n2 = e2.count()
        converged = n2 == nEdges
        e = e2; nEdges = n2; rounds += 1
      }
    }
    coreDegrees(e)
  }

  /** Synchronous label-propagation community detection with a fixed round
    * count and a DETERMINISTIC vote: every node starts labeled as itself;
    * each round it adopts its neighbors' most frequent label, ties to the
    * smallest label, isolated nodes keep their own. Fixed rounds + total
    * tie order make the result a pure function of the graph — the async
    * random-order LPA of the original paper is neither reproducible nor
    * oracle-replayable, so this is the engine-grade variant (same move
    * GraphFrames' LPA makes).
    *
    * Per round: one join of the neighbor list to the label frame on the
    * node key, one (node, label) count aggregation, and a top-1-per-node
    * via [[graft.plans.TopKPerKey]] (no sort, partial per partition) —
    * the textbook BSP round, label state one row per node, lineage cut
    * per round like [[pageRank]]. At 100 TB labels ⋈ neighbors is a
    * shuffle join on node id and the vote agg is map-side combinable;
    * nothing holds more than (node, label) pairs. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
                       rounds: Int = 4): DataFrame = {
    val labels = lpConverged(nodes, edges, rounds)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "lbl")
      .select(col("node"), col("lbl").as("community"), col("community_size"))
  }

  /** [[labelPropagation]] WITHOUT the community-size rollup: the exact
    * same converged (node, community) assignment, straight off the
    * final round's checkpointed label frame. Callers that drop
    * `community_size` (mod1's audit, louv1's move round) were paying
    * the sizes aggregation + join in EVERY branch that referenced the
    * assignment — Spark does not dedup cross-branch subplans. */
  def lpLabels(nodes: DataFrame, edges: DataFrame,
               rounds: Int = 4): DataFrame =
    lpConverged(nodes, edges, rounds)
      .select(col("node"), col("lbl").as("community"))

  /** The propagation loop itself: converged (node, lbl), checkpointed. */
  private def lpConverged(nodes: DataFrame, edges: DataFrame,
                          rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds out of range: $rounds")
    val und = undirected(edges)
    val nbrs = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint() // reused every round: never replay the edge build
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    // per-round label checkpoints are actions on neighbor-bounded state:
    // size their shuffles to that state, not the session's scan default
    val spark = nodes.sparkSession
    graft.util.LoopConf.withShuffleParts(spark,
      graft.util.LoopConf.sizedParts(spark, graft.util.LoopConf.rowsOf(nbrs))) {
      for (_ <- 1 to rounds) {
        val votes = lpVotes(nbrs, labels)
        val top = graft.plans.TopKPerKey(votes, Seq("node"),
          Seq(("c", false), ("lbl", true)), 1)
          .select(col("node"), col("lbl").as("newl"))
        labels = labels.join(top, Seq("node"), "left")
          .select(col("node"), coalesce(col("newl"), col("lbl")).as("lbl"))
          .localCheckpoint()
      }
    }
    labels
  }

  /** One propagation round's vote table — each node's neighbor labels
    * counted. Exposed for GraphSpec's skew assertions (the orientedWedges
    * treatment): a 10⁵-degree hub contributes 10⁵ (node, lbl) vote rows,
    * and the count MUST partial-aggregate map-side so the hub's shuffle
    * payload is per-(partition, label), never per-edge. */
  private[operators] def lpVotes(nbrs: DataFrame, labels: DataFrame): DataFrame = {
    val l = labels.select(col("node").as("ln"), col("lbl"))
    nbrs.join(l, col("nbr") === col("ln"))
      .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("c"))
  }

  /** Wedges (u; w1, w2) with rank(w1) < rank(w2) under the chosen
    * orientation — the unit whose volume Σ_u C(outdeg(u), 2) is the cost
    * of triangle counting (exposed for GraphSpec's skew measurement). */
  private[operators] def orientedWedges(edges: DataFrame, byDegree: Boolean): DataFrame =
    orientedWedgesOf(orientEdges(edges, byDegree), byDegree)

  /** [[orientedWedges]] over an ALREADY-oriented (and ideally
    * materialized) edge list — lets [[triangleCount]] share one oriented
    * build across the wedge branches and the closing join. */
  private def orientedWedgesOf(o: DataFrame, byDegree: Boolean): DataFrame = {
    val rankLt =
      if (byDegree) col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("w1") < col("w2"))
      else col("w1") < col("w2")
    o.select(col("u"), col("v").as("w1"), col("dv").as("d1"))
      .join(o.select(col("u"), col("v").as("w2"), col("dv").as("d2")), "u")
      .filter(rankLt)
      .select(col("u"), col("w1"), col("w2"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) with a fixed iteration count
    * and L1 normalization — the mutual-reinforcement leg of the graph
    * family (pr1 ranks by a single random-walk score; HITS separates "who
    * points at the good ones" from "who the good ones point at", the
    * asymmetry a directed trade graph actually has).
    *
    * Per half-step: authority_raw(v) = Σ_{u→v} hub(u) summed EXACTLY as
    * decimals (scores are grid-rounded doubles, so the decimal sum is
    * exact), then L1-normalized (divide by the exact decimal total) and
    * grid-rounded to 1e-10 — Kleinberg's L2 norm would put an irrational
    * sqrt between the engines, while the L1 variant (standard in the
    * textbook treatments) keeps every intermediate a replayable rational.
    * Nodes with no in-edges hold score 0 (no teleport in HITS); an empty
    * raw total short-circuits to all-zero rather than 0/0.
    *
    * Scale shape: each half-step is one hash join of the score frame to
    * the edge list on the node key + one map-side-combinable decimal sum,
    * plus a 1-row broadcast for the normalizer — the same
    * bulk-synchronous round as [[pageRank]], state one row per node.
    * Fixed iteration count: the driver never inspects data between
    * rounds, and the oracle unrolls digit-exact. */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val e = edges.localCheckpoint() // reused 2×iters times: build edges once
    val nn = nodes.agg(count(lit(1)).cast("double").as("n"))
    val init = nodes.crossJoin(broadcast(nn))
      .select(col("node"), portableRound(lit(1.0) / col("n"), 12).as("score"))
    // one push half-step: sum `scores` over edges from srcCol onto dstCol,
    // L1-normalize, grid-round; left join keeps in-edge-less nodes at 0.
    // `raw` is consumed TWICE (normalizer + join) — without a lineage cut
    // here the plan doubles every half-step (measured: 5.4k-line dump at
    // 8 half-steps); the checkpoint is one node-sized frame per half-step
    def push(scores: DataFrame, srcCol: String, dstCol: String): DataFrame = {
      val raw = scores.as("s").join(e, col("s.node") === col(srcCol))
        .groupBy(col(dstCol).as("node"))
        .agg(sum(col("s.score").cast("decimal(28,12)")).as("raw"))
        .localCheckpoint()
      val tot = raw.agg(sum(col("raw")).as("tot"))
      nodes.join(raw, Seq("node"), "left").crossJoin(broadcast(tot))
        .select(col("node"),
          when(col("tot").isNull || col("tot") === 0, lit(0.0))
            .otherwise(portableRound(
              coalesce(col("raw"), lit(0).cast("decimal(28,12)")).cast("double") /
                col("tot").cast("double"), 10)).as("score"))
    }
    var h = init
    var a = init
    // each push half-step checkpoints a node-sized frame: size those
    // actions' shuffles to the edge state, not the session's scan default
    val spark = nodes.sparkSession
    graft.util.LoopConf.withShuffleParts(spark,
      graft.util.LoopConf.sizedParts(spark, graft.util.LoopConf.rowsOf(e))) {
      for (i <- 1 to iters) {
        a = push(h, "src", "dst")
        h = push(a, "dst", "src")
        if (i % 2 == 0 && i < iters) { a = a.localCheckpoint(); h = h.localCheckpoint() }
      }
    }
    h.select(col("node"), col("score").as("hub"))
      .join(a.select(col("node"), col("score").as("authority")), "node")
      .orderBy(col("node"))
  }

  /** Modularity audit of a community assignment (Newman 2004): per
    * community, its internal edge count e_c, total degree d_c, and exact
    * modularity contribution — Q = Σ_c [ e_c/m − (d_c/2m)² ]. The engine
    * never leaves integer space: contribution × 4m² = 4·m·e_c − d_c², an
    * exact BIGINT, divided once at the end on the 1e-10 grid. This is the
    * quality readout lp1's fixed-round label propagation lacks — "did the
    * partition actually concentrate edges inside communities?" — and the
    * objective any Louvain-style refiner would climb.
    *
    * Scale shape: one hash join of the (node → community) map onto each
    * edge endpoint (the map is node-table-sized; AQE broadcasts it while
    * it fits), then two map-side-combinable integer aggregations. No
    * iteration, no driver state. */
  def modularity(communities: DataFrame, edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val ca = communities.select(col("node").as("a"), col("community").as("comm_a"))
    val cb = communities.select(col("node").as("b"), col("community").as("comm_b"))
    val tagged = und.join(ca, "a").join(cb, "b").localCheckpoint()
    val m = tagged.agg(count(lit(1)).as("m"))
    // d_c counts BOTH endpoints (a self-community edge adds 2 to d_c)
    val deg = tagged.select(col("comm_a").as("community"))
      .unionByName(tagged.select(col("comm_b").as("community")))
      .groupBy(col("community")).agg(count(lit(1)).as("d_c"))
    val internal = tagged.filter(col("comm_a") === col("comm_b"))
      .groupBy(col("comm_a").as("community")).agg(count(lit(1)).as("e_c"))
    deg.join(internal, Seq("community"), "left")
      .select(col("community"), coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("e_c"), col("d_c"),
        portableRound((lit(4L) * col("m") * col("e_c") - col("d_c") * col("d_c"))
          .cast("double") / (lit(4L) * col("m") * col("m")).cast("double"), 10)
          .as("q_contrib"))
      .orderBy(col("community"))
  }

  /** One SYNCHRONOUS Louvain local-move round (Blondel et al. 2008 §2,
    * the move step) over an existing community assignment: every node
    * evaluates, against the CURRENT assignment, the exact modularity
    * gain of adopting each neighbor community, moves iff the best gain
    * is strictly positive (ties to the smallest community label), and
    * all moves apply at once. Turns [[modularity]]'s audit into the
    * optimizer it measures for: output is the before/after per-community
    * modularity table (`phase` ∈ before|after), so the climb — or a
    * synchronous round's occasional overshoot — is visible row by row.
    *
    * Exactness: the gain never leaves integer space — moving v from A
    * to B changes Q by ΔQ·4m² = 4m·(k_vB − k_vA\v) − 2·k_v·(d_B − d_A +
    * k_v), every term a BIGINT count (k_vc = v's edges into community c,
    * k_v = v's degree, d_c = community degree mass, m = edge count) — so
    * the argmax and the applied assignment replay digit-exact in SQL.
    * The synchronous sweep (vs the paper's sequential scan) is the
    * BSP-determinism trade [[labelPropagation]] makes: a pure function
    * of the graph, oracle-replayable, one exchange per table instead of
    * a driver-sequenced node loop.
    *
    * Scale shape: k_vc is ONE (node, community) count off the
    * label-tagged neighbor list (map-side combinable), d_c one grouped
    * sum, the argmax a TopK-per-node window — all keyed exchanges on
    * node/community ids; no driver state beyond the 1-row m. */
  def louvainMove(communities: DataFrame, edges: DataFrame): DataFrame = {
    val und = undirected(edges).localCheckpoint() // feeds nbrs + 2 audits
    val lbl = communities.select(col("node"), col("community"))
    val nbrs = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("node"), col("a").as("nbr")))
    val kv = nbrs.groupBy(col("node")).agg(count(lit(1)).as("k_v"))
    // NOTE (r15): the weightedMoveRoundOn single-rollup + window-k_va
    // restructure was tried here and measured ~10% SLOWER — louv1 runs as
    // ONE AQE action, where the duplicated nlab branches execute in
    // parallel and every join broadcasts, while the window adds a
    // serialization point. Kept in the per-round (small-partition) form
    // only, where the duplicate join dominates.
    val nlab = nbrs
      .join(lbl.select(col("node").as("nbr"), col("community").as("cand")),
        Seq("nbr"))
      .groupBy(col("node"), col("cand")).agg(count(lit(1)).as("k_vc"))
    val cur = lbl.select(col("node"), col("community").as("cur"))
    val dC = lbl.join(kv, Seq("node"))
      .groupBy(col("community")).agg(sum(col("k_v")).as("d_c"))
    val mDf = und.agg(count(lit(1)).as("m"))
    val kvA = nlab.join(cur, Seq("node"))
      .filter(col("cand") === col("cur"))
      .select(col("node"), col("k_vc").as("k_va"))
    val gains = nlab.join(cur, Seq("node"))
      .filter(col("cand") =!= col("cur"))
      .join(kvA, Seq("node"), "left")
      .join(kv, Seq("node"))
      .join(dC.select(col("community").as("cand"), col("d_c").as("d_b")),
        Seq("cand"))
      .join(dC.select(col("community").as("cur"), col("d_c").as("d_a")),
        Seq("cur"))
      .crossJoin(broadcast(mDf))
      .select(col("node"), col("cand"),
        (lit(4L) * col("m") * (col("k_vc") - coalesce(col("k_va"), lit(0L)))
          - lit(2L) * col("k_v")
            * (col("d_b") - col("d_a") + col("k_v"))).as("gain"))
      .filter(col("gain") > 0)
    val w = Window.partitionBy(col("node"))
      .orderBy(col("gain").desc, col("cand").asc)
    val moves = gains.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("node"), col("cand").as("newc"))
    val after = lbl.join(moves, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("newc"), col("community")).as("community"))
    // ONE phase-keyed audit pass instead of two full [[modularity]]
    // calls: the before/after assignments union (phase-tagged) and tag
    // the SAME checkpointed edge list once, so every audit exchange —
    // the endpoint joins, m, d_c, e_c — runs once keyed by (phase,
    // community) instead of twice (louv1 profiled 91 jobs; the audit
    // duplication owned the biggest block). Arithmetic is modularity's,
    // unchanged; per-phase m is that phase's tagged count, exactly the
    // per-call m of the two-call form.
    val both = lbl.withColumn("phase", lit("before"))
      .unionByName(after.withColumn("phase", lit("after")))
    val pa = both.select(col("node").as("a"), col("phase"),
      col("community").as("comm_a"))
    val pb = both.select(col("node").as("b"), col("phase"),
      col("community").as("comm_b"))
    val tagged = und.join(pa, Seq("a")).join(pb, Seq("b", "phase"))
      .localCheckpoint()
    val mP = tagged.groupBy(col("phase")).agg(count(lit(1)).as("m"))
    val deg = tagged.select(col("phase"), col("comm_a").as("community"))
      .unionByName(tagged.select(col("phase"), col("comm_b").as("community")))
      .groupBy(col("phase"), col("community")).agg(count(lit(1)).as("d_c"))
    val internal = tagged.filter(col("comm_a") === col("comm_b"))
      .groupBy(col("phase"), col("comm_a").as("community"))
      .agg(count(lit(1)).as("e_c"))
    deg.join(internal, Seq("phase", "community"), "left")
      .select(col("phase"), col("community"),
        coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
      .join(broadcast(mP), Seq("phase"))
      .select(col("phase"), col("community"), col("e_c"), col("d_c"),
        portableRound((lit(4L) * col("m") * col("e_c") - col("d_c") * col("d_c"))
          .cast("double") / (lit(4L) * col("m") * col("m")).cast("double"), 10)
          .as("q_contrib"))
      .orderBy(col("phase"), col("community"))
  }

  /** The label-independent inputs of a move round — neighbor lists,
    * weighted degrees (2·w per self-loop), total edge mass. Computed
    * once per graph LEVEL and reused across rounds (degrees never change
    * between moves; only the label frame does), checkpointed so round N
    * never replays the edge build. */
  private def moveRoundInvariants(
      wedges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val proper = wedges.filter(col("a") =!= col("b"))
    val nbrs = proper.select(col("a").as("node"), col("b").as("nbr"), col("w"))
      .unionByName(proper.select(col("b").as("node"), col("a").as("nbr"),
        col("w")))
      .localCheckpoint()
    val selfW = wedges.filter(col("a") === col("b"))
      .select(col("a").as("node"), (col("w") * 2).as("w"))
    val kv = nbrs.select(col("node"), col("w")).unionByName(selfW)
      .groupBy(col("node")).agg(sum(col("w")).as("k_v"))
      .localCheckpoint()
    val mDf = wedges.agg(sum(col("w")).as("m")).localCheckpoint()
    (nbrs, kv, mDf)
  }

  /** One synchronous WEIGHTED Louvain move round over the
    * [[moveRoundInvariants]] of an edge list `(a, b, w)` that may carry
    * self-loops (a = b) — the [[louvainMove]] gain arithmetic
    * generalized to the coarsened graph, where an edge's
    * weight is an inter-community edge COUNT and a self-loop holds a
    * community's internal count. Everything stays in integer space:
    * k_vc = Σ w of v's edges into community c (self-loops excluded — they
    * move with v and cancel in the gain), k_v = Σ w over neighbors +
    * 2·w_self, d_c = Σ k_v, m = Σ w (each undirected edge once,
    * self-loops once), gain·4m² = 4m·(k_vB − k_vA\v) − 2·k_v·(d_B − d_A
    * + k_v). With w ≡ 1 and no self-loops this is exactly
    * [[louvainMove]]'s round.
    *
    * Synchronous singleton-swap guard (Lu, Halappanavar & Kalyanaraman
    * 2015 §4.1, the parallel-Louvain minimum-labeling heuristic): two
    * adjacent singletons would otherwise adopt each other's label in the
    * same synchronous sweep forever (u→{v}, v→{u} — a livelock the
    * sequential scan never sees). A vertex in a singleton community may
    * move to another singleton community only toward the SMALLER label,
    * so exactly one side of every would-be swap moves and the pair
    * merges. */
  private def weightedMoveRoundOn(communities: DataFrame, nbrs: DataFrame,
                                  kv: DataFrame, mDf: DataFrame): DataFrame = {
    val lbl = communities.select(col("node"), col("community"))
    // ONE nbr→candidate rollup per round, with the node's own label
    // attached BEFORE the aggregation (cur is constant within a node, so
    // max() carries it through the groupBy) and the own-community mass
    // k_va recovered by a window over the SAME rollup — the earlier form
    // built the nbrs ⋈ labels join + aggregation twice (once for kvA,
    // once for gains): Spark does not dedup cross-branch subplans (the
    // pref1 lesson), so every move round paid that corpus-of-the-level
    // join double. Semantics unchanged: at most one cand = cur row per
    // node exists, so the window max IS the old left-joined k_va (null →
    // coalesce 0 when the node has no neighbor in its own community).
    val cur = lbl.select(col("node"), col("community").as("cur"))
    val nlab = nbrs
      .join(cur, Seq("node"))
      .join(lbl.select(col("node").as("nbr"), col("community").as("cand")),
        Seq("nbr"))
      .groupBy(col("node"), col("cand"))
      .agg(sum(col("w")).as("k_vc"), max(col("cur")).as("cur"))
    // degree mass AND size in ONE community rollup — the two stats share
    // the exchange (same key), halving the per-round community shuffles
    val cStats = lbl.join(kv, Seq("node"), "left")
      .select(col("community"), coalesce(col("k_v"), lit(0L)).as("k_v"))
      .groupBy(col("community"))
      .agg(sum(col("k_v")).as("d_c"), count(lit(1)).as("cs"))
    val wNode = Window.partitionBy(col("node"))
    val gains = nlab
      .withColumn("k_va",
        max(when(col("cand") === col("cur"), col("k_vc"))).over(wNode))
      .filter(col("cand") =!= col("cur"))
      .join(kv, Seq("node"))
      .join(cStats.select(col("community").as("cand"),
        col("d_c").as("d_b"), col("cs").as("size_b")), Seq("cand"))
      .join(cStats.select(col("community").as("cur"),
        col("d_c").as("d_a"), col("cs").as("size_a")), Seq("cur"))
      .crossJoin(broadcast(mDf))
      .filter(!(col("size_a") === 1 && col("size_b") === 1
        && col("cand") > col("cur")))
      .select(col("node"), col("cand"),
        (lit(4L) * col("m") * (col("k_vc") - coalesce(col("k_va"), lit(0L)))
          - lit(2L) * col("k_v")
            * (col("d_b") - col("d_a") + col("k_v"))).as("gain"))
      .filter(col("gain") > 0)
    val w = Window.partitionBy(col("node"))
      .orderBy(col("gain").desc, col("cand").asc)
    val moves = gains.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("node"), col("cand").as("newc"))
    lbl.join(moves, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("newc"), col("community")).as("community"))
  }

  /** Full Louvain (Blondel et al. 2008, both phases): fixed synchronous
    * local-move rounds from a SINGLETON start, then ONE COARSENING level
    * — communities become weighted super-nodes, inter-community edge
    * counts become weights, internal counts become self-loops — then
    * fixed move rounds on the coarse graph, with the final assignment
    * mapped back to the original nodes. [[louvainMove]] is one round of
    * phase 1; this is the operator the family is named for. Fixed round
    * counts (not convergence polling) keep the whole run a pure function
    * of the graph, replayable CTE by CTE in the oracle — the
    * [[labelPropagation]] BSP-determinism trade.
    *
    * Output: per original node `(node, c0, community, e_c, d_c,
    * q_contrib)` — the level-0 community after phase 1, the final
    * community after coarse refinement, and [[modularity]]'s audit of
    * the FINAL assignment computed on the ORIGINAL graph (the coarse
    * graph's weighted modularity equals it by the Louvain invariant;
    * auditing at level 0 keeps the check independent of the coarsening
    * arithmetic). ISOLATED nodes (no incident edges) are kept: their
    * community never appears in the edge-derived audit, so the audit
    * join is a left join with e_c = d_c = 0 and q_contrib = 0 — the
    * exact contribution of an edgeless community.
    *
    * Scale shape: the corpus-sized work is the one edge build
    * (checkpointed once); every move round is a handful of keyed
    * exchanges on node/community-sized frames, and the coarse graph is
    * strictly smaller still. Driver state: round COUNTERS only. */
  def louvain(nodes: DataFrame, edges: DataFrame, moveRounds: Int = 4,
              coarseRounds: Int = 2): DataFrame = {
    require(moveRounds >= 1 && moveRounds <= 10,
      s"moveRounds out of range: $moveRounds")
    require(coarseRounds >= 1 && coarseRounds <= 10,
      s"coarseRounds out of range: $coarseRounds")
    val und = undirected(edges).localCheckpoint() // feeds rounds + audit
    val undW = und.select(col("a"), col("b"), lit(1L).as("w"))
    // move rounds, the coarse build and the coarse rounds are all actions
    // on edge/community-bounded state: size their shuffles to that state,
    // not the session's scan default
    val spark = nodes.sparkSession
    var lbl = nodes.select(col("node"), col("node").as("community"))
    var clbl: DataFrame = null
    graft.util.LoopConf.withShuffleParts(spark,
      graft.util.LoopConf.sizedParts(spark, graft.util.LoopConf.rowsOf(und))) {
      val (nbrs0, kv0, m0) = moveRoundInvariants(undW)
      for (_ <- 1 to moveRounds)
        lbl = weightedMoveRoundOn(lbl, nbrs0, kv0, m0).localCheckpoint()
      val coarse = und
        .join(lbl.select(col("node").as("a"), col("community").as("comm_a")),
          Seq("a"))
        .join(lbl.select(col("node").as("b"), col("community").as("comm_b")),
          Seq("b"))
        .select(least(col("comm_a"), col("comm_b")).as("a"),
          greatest(col("comm_a"), col("comm_b")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
        .localCheckpoint()
      val (nbrs1, kv1, m1) = moveRoundInvariants(coarse)
      clbl = lbl.select(col("community").as("node")).distinct()
        .select(col("node"), col("node").as("community"))
      for (_ <- 1 to coarseRounds)
        clbl = weightedMoveRoundOn(clbl, nbrs1, kv1, m1).localCheckpoint()
    }
    val finalLbl = lbl.select(col("node"), col("community").as("c0"))
      .join(clbl.select(col("node").as("c0"), col("community")), Seq("c0"))
    val audit = modularity(finalLbl.select(col("node"), col("community")),
      und.select(col("a").as("src"), col("b").as("dst")))
    finalLbl.join(audit, Seq("community"), "left")
      .select(col("node"), col("c0"), col("community"),
        coalesce(col("e_c"), lit(0L)).as("e_c"),
        coalesce(col("d_c"), lit(0L)).as("d_c"),
        coalesce(col("q_contrib"), lit(0.0)).as("q_contrib"))
      .orderBy(col("node"))
  }

  /** Personalized PageRank / random walk with restart (Haveliwala 2002;
    * Tong et al. 2006) from one source node: [[pageRank]] ranks globally,
    * this measures PROXIMITY — every restart teleports back to the
    * source, so a node's score is the stationary probability of a
    * damping-decayed walk that always begins at `source`. The
    * recommendation primitive ("what is near THIS node") the global walk
    * cannot express.
    *
    * Same exactness discipline as [[pageRank]]: per-edge weights and
    * per-round scores snap to decimal grids (1e-12 / 1e-10), sums fold
    * as decimal(28,12), and the oracle unrolls the fixed rounds digit
    * for digit. Init mass 1 at the source; the teleport term is
    * (1−damping) AT THE SOURCE ONLY, so unreached nodes hold exact 0.
    * Scale shape identical to pageRank (the same round function): one
    * co-partitioned hash join + one grouped sum per round on a node-sized
    * frame, edges checkpointed once. */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
                           source: String, iters: Int = 5,
                           damping: Double = 0.85): DataFrame =
    rankRounds(nodes, edges, iters, damping,
      when(col("node") === source, 1.0).otherwise(0.0),
      tele => when(col("dst") === source, lit(tele)).otherwise(lit(0.0)),
      "proximity")

  /** BFS1 — single-source shortest paths + shortest-path COUNTS over a
    * directed graph, the min-plus leg the graph family lacked (d7 finds
    * components, pr1 ranks, tri1/kcore1 measure density, lp1 partitions
    * — nothing answered "how far, and along how many geodesics").
    *
    * Distances: `iters` fixed bulk-synchronous relaxation rounds —
    * dist_{k+1}(v) = min(dist_k(v), 1 + min over in-edges) — all exact
    * longs, nodes still NULL after `iters` rounds report unreachable
    * (iters must cover the diameter; on the bounded 25-node trade graph
    * 8 is ample). Then path counts by layer DP over the FINAL distances:
    * σ(v) = Σ_{u→v, dist u = dist v − 1} σ(u), one tiny join per layer —
    * exact longs, the σ of Brandes' betweenness forward pass.
    *
    * Scale shape: the data-sized work is building `edges` (corpus scans
    * — the caller's rollup, same as pr1); every round here runs on the
    * node-table-bounded frames with the per-round localCheckpoint
    * discipline. Fixed iteration counts mean the driver never inspects
    * data between rounds and the oracle unrolls digit-exact. */
  def shortestPaths(nodes: DataFrame, edges: DataFrame, source: String,
                    iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters out of range: $iters")
    val e = edges.localCheckpoint()
    // checkpoint every third round, not every round (pageRank's measured
    // discipline): the expensive lineage — the edge build — is already
    // cut by e's checkpoint, and each eager localCheckpoint is a whole
    // job barrier, which dominates wall clock on a bounded graph
    var dist = nodes.select(col("node"),
      when(col("node") === source, 0L).as("dist"))
    // relaxation/count rounds are actions on node/edge-bounded state:
    // size their shuffles to that state, not the session's scan default
    val spark = nodes.sparkSession
    val loopParts = graft.util.LoopConf.sizedParts(spark, graft.util.LoopConf.rowsOf(e))
    graft.util.LoopConf.withShuffleParts(spark, loopParts) {
      for (i <- 1 to iters) {
        val relaxed = dist.filter(col("dist").isNotNull).as("d")
          .join(e, col("d.node") === col("src"))
          .select(col("dst").as("node"), (col("d.dist") + 1L).as("dist"))
        dist = dist.unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        if (i % 3 == 0 || i == iters) dist = dist.localCheckpoint()
      }
    }
    // count layers only to the OBSERVED eccentricity: stages past it are
    // identities (the oracle keeps all `iters` of them — same output),
    // and on a low-diameter graph this halves the round count. The one
    // driver inspection reads a single bounded scalar off the finished
    // distance frame, not mid-iteration state.
    val maxD = dist.agg(max(col("dist"))).head.getAs[Any](0) match {
      case null => 0L
      case v: Long => v
    }
    var f = dist.withColumn("paths",
      when(col("dist") === 0, 1L).otherwise(lit(null).cast("long")))
    val layers = math.min(iters.toLong, maxD).toInt
    graft.util.LoopConf.withShuffleParts(spark, loopParts) {
      for (k <- 1 to layers) {
        val contrib = f.filter(col("dist") === k - 1).as("s")
          .join(e, col("s.node") === col("src"))
          .groupBy(col("dst")).agg(sum(col("paths")).as("p"))
          .withColumnRenamed("dst", "node")
        f = f.join(contrib, Seq("node"), "left")
          .select(col("node"), col("dist"),
            when(col("dist") === k, col("p")).otherwise(col("paths"))
              .as("paths"))
        if (k % 3 == 0 && k < layers) f = f.localCheckpoint()
      }
    }
    f.select(col("node"), col("dist").isNotNull.as("reached"),
      coalesce(col("dist"), lit(-1L)).as("dist"),
      coalesce(col("paths"), lit(0L)).as("paths"))
      .orderBy(col("node"))
  }
}
