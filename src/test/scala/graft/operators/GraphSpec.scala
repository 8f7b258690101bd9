package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  private val nodes = Seq("a", "b", "c", "d").toDF("node")

  test("louvain: two 4-cliques joined by one bridge resolve to exactly " +
    "the two cliques; coarse refinement does NOT merge them") {
    val ns = Seq("a1", "a2", "a3", "a4", "b1", "b2", "b3", "b4").toDF("node")
    def clique(p: String) = for {
      i <- 1 to 4; j <- (i + 1) to 4
    } yield (s"$p$i", s"$p$j")
    val edges = (clique("a") ++ clique("b") :+ ("a4" -> "b1"))
      .toDF("src", "dst")
    val got = Graph.louvain(ns, edges).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.size == 8)
    val aComm = Set("a1", "a2", "a3", "a4").map(got(_).getString(2))
    val bComm = Set("b1", "b2", "b3", "b4").map(got(_).getString(2))
    assert(aComm.size == 1 && bComm.size == 1 && aComm != bComm,
      got.values.map(_.mkString(",")).mkString("; "))
    // per-clique audit: 6 internal edges, degree mass 13, positive Q
    got.values.foreach { r =>
      assert(r.getLong(3) == 6L && r.getLong(4) == 13L
        && r.getDouble(5) > 0.2, r.mkString(","))
    }
  }

  test("louvain: an ISOLATED node (no incident edges) stays in the " +
    "output as its own community with e_c = d_c = 0 and q_contrib = 0") {
    val ns = Seq("a1", "a2", "a3", "lone").toDF("node")
    val edges = Seq(("a1", "a2"), ("a2", "a3"), ("a1", "a3"))
      .toDF("src", "dst")
    val got = Graph.louvain(ns, edges).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.size == 4, got.keys.mkString(","))
    val lone = got("lone")
    assert(lone.getString(2) == "lone" && lone.getLong(3) == 0L
      && lone.getLong(4) == 0L && lone.getDouble(5) == 0.0,
      lone.mkString(","))
    // the connected triangle is unaffected by the isolated node
    val tri = Set("a1", "a2", "a3").map(got(_).getString(2))
    assert(tri.size == 1 && got("a1").getLong(3) == 3L)
  }

  test("louvain: a single-edge pair MERGES — the singleton-swap guard " +
    "lets exactly one side move instead of livelocking") {
    val ns = Seq("u", "v").toDF("node")
    val edges = Seq(("u", "v")).toDF("src", "dst")
    val got = Graph.louvain(ns, edges).collect()
      .map(r => (r.getString(0), r.getString(2)))
    assert(got.toMap == Map("u" -> "u", "v" -> "u"), got.mkString(","))
  }

  test("pageRank: in-link-rich node ranks first, mass is conserved") {
    // b, c, d all point at a; a points back at b only
    val edges = Seq(("b", "a"), ("c", "a"), ("d", "a"), ("a", "b"))
      .toDF("src", "dst")
    // the a<->b 2-cycle oscillates with period 2 and amplitude decaying
    // by d^2 per round; 50 rounds leave ~1e-5 of swing against a fixed-
    // point gap of ~0.035, so the order assertion is stable
    val r = Graph.pageRank(nodes, edges, iters = 50)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("a") > r("b") && r("b") > r("c"), r.toString)
    assert(r("c") == r("d")) // symmetric peers tie exactly
    // every node has an out-edge, so no dangling leak: mass sums to ~1
    assert(math.abs(r.values.sum - 1.0) < 1e-6, r.values.sum.toString)
  }

  test("pageRank: deterministic under repartitioning") {
    val edges = Seq(("b", "a"), ("c", "a"), ("d", "a"), ("a", "b"))
      .toDF("src", "dst")
    val r1 = Graph.pageRank(nodes, edges, iters = 5).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    val r2 = Graph.pageRank(nodes.repartition(3), edges.repartition(5), iters = 5)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r1 == r2) // bit-identical, not approximately equal
  }

  /** Executed plans of every `localCheckpoint` action `body` runs. The
    * QueryExecutionListener sits on Spark's shared listener queue, which
    * delivers in posting order, so once a marked sentinel query is seen
    * every plan `body` posted has been recorded. */
  private def checkpointPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(funcName -> qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("plan_capture_sentinel").collect()
      val deadline = System.nanoTime() + 30000000000L
      def drained = plans.asScala.exists(_._2.output.exists(_.name == "plan_capture_sentinel"))
      while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
      assert(drained, "listener queue did not drain")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.collect { case ("localCheckpoint", p) => p }.toSeq
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Does `p` read only the checkpointed contribs frame (src, dst, w)? */
  private def overContribs(p: SparkPlan): Boolean = PlanWalk.collectLeaves(p).forall {
    case s: RDDScanExec => s.output.map(_.name) == Seq("src", "dst", "w")
    case _ => false
  }

  test("pageRank/personalizedPageRank: rounds are co-partitioned shuffled hash " +
    "joins — no broadcast, and the contribs exchange does not grow with iters") {
    val edges = Seq(("b", "a"), ("c", "a"), ("d", "a"), ("a", "b"), ("a", "c"))
      .toDF("src", "dst")
    for ((name, run) <- Seq[(String, Int => Unit)](
        "pageRank" -> (n => Graph.pageRank(nodes, edges, iters = n)),
        "personalizedPageRank" ->
          (n => Graph.personalizedPageRank(nodes, edges, "a", iters = n)))) {
      // per round-segment plan (the rank chain checkpoints every 5
      // rounds): (ranks ⋈ contribs joins, fresh exchanges over contribs)
      def segments(iters: Int): Seq[(Int, Int)] = {
        val plans = checkpointPlans(run(iters))
        val broadcasts = plans.flatMap(p => PlanWalk.collect(p) {
          case j: BroadcastHashJoinExec => j
          case x: BroadcastExchangeExec => x
        })
        assert(broadcasts.isEmpty, s"$name at iters=$iters broadcasts: " +
          broadcasts.map(_.nodeName).mkString(", "))
        plans.map { p =>
          val rounds = PlanWalk.collect(p) {
            case j: ShuffledHashJoinExec if j.output.exists(_.name == "r") => j
          }
          val fresh = PlanWalk.collect(p) {
            case x: ShuffleExchangeExec if overContribs(x) => x
          }
          (rounds.size, fresh.size)
        }.filter(_._1 > 0)
      }
      val five = segments(5)
      val ten = segments(10)
      assert(five.map(_._1) == Seq(5) && ten.map(_._1) == Seq(5, 5),
        s"$name: ranks ⋈ contribs is not a ShuffledHashJoin in every round: $five / $ten")
      // Spark reuses the contribs exchange across the rounds of a segment,
      // so doubling iters adds no edge shuffle to any segment
      assert(five.head._2 < 5, s"$name: contribs re-shuffled every round: $five")
      assert(ten.map(_._2).distinct == Seq(five.head._2),
        s"$name: fresh contribs exchanges per segment $five at iters=5 vs $ten at iters=10")
    }
  }

  test("triangleCount: counts each triangle once, collapses direction/dups") {
    // K4 minus one edge = 2 triangles; edges arrive directed, duplicated
    // and with a self-loop — canonicalization must absorb all of it
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("a", "c"),
      ("b", "d"), ("b", "d"), ("d", "d"))
      .toDF("src", "dst")
    val n = Graph.triangleCount(edges).collect().head.getLong(0)
    assert(n == 2L, s"expected abc + bcd, got $n") // abc, bcd; no abd (no ad)
  }

  test("triangleCount: degree ordering collapses hub wedges on a star graph") {
    // star: hub 0 joined to leaves 1..40, plus one leaf-leaf edge (1,2)
    // closing exactly one triangle. Under id order the hub has the lowest
    // id, so every wedge lands on it: C(40,2) + its closure wedge. Under
    // (degree, id) order the hub ranks LAST — each star edge orients
    // leaf→hub, leaves have out-degree ≤ 2, and the wedge volume
    // collapses from Σd² to O(edges): the 100×-skew shape the operator
    // must survive.
    val star = ((1 to 40).map(i => (0L, i.toLong)) :+ (1L, 2L)).toDF("src", "dst")
    val byId = Graph.orientedWedges(star, byDegree = false).count()
    val byDeg = Graph.orientedWedges(star, byDegree = true).count()
    assert(byId >= 780L, s"id-ordered wedge volume: $byId")  // C(40,2) hub wedges
    assert(byDeg <= 41L, s"degree-ordered wedge volume: $byDeg")
    // and the count itself is right: exactly the (0,1,2) triangle
    assert(Graph.triangleCount(star).collect().head.getLong(0) == 1L)
  }

  test("labelPropagation: 1e5-degree hub — votes combine map-side, top-1 spills not OOMs") {
    import org.apache.spark.sql.functions.{col, lit}
    // star graph: hub 0 — leaves 1..1e5. The hub's vote table is 1e5
    // (node, lbl) rows; per-edge shuffling or an in-memory-only top-1
    // would be the two ways this shape dies at 100 TB.
    val n = 100000L
    val edges = spark.range(1L, n + 1L)
      .select(lit(0L).as("src"), col("id").as("dst"))
    val starNodes = spark.range(0L, n + 1L).select(col("id").as("node"))

    // (a) the vote count partial-aggregates BEFORE the exchange: the hub's
    // shuffle payload is one partial count per (partition, label), not one
    // row per incident edge
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
    val nbrs = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("node"), col("a").as("nbr")))
    val labels = starNodes.select(col("node"), col("node").as("lbl"))
    val votePlan = Graph.lpVotes(nbrs, labels).queryExecution.executedPlan.toString
    assert(votePlan.contains("partial_count"),
      s"vote aggregation lost its map-side partial:\n$votePlan")

    // (b) the per-round top-1 survives a zero heap budget — TopKPerKeyExec
    // must take its sort-based spill path, not OOM, and the result must be
    // bit-identical to the in-memory path
    def communities() = Graph.labelPropagation(starNodes, edges, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val inMemory = communities()
    spark.conf.set("spark.graft.topk.maxMemoryBytes", "0") // force spill every partition
    val spilled = try communities()
      finally spark.conf.unset("spark.graft.topk.maxMemoryBytes")
    assert(spilled == inMemory)
    // and the dynamics are right: the star bipartitions (hub vs leaves
    // oscillate), so exactly two communities of sizes {1, n}
    assert(inMemory.map(_._2).distinct.length == 2)
    assert(inMemory.map(_._3).toSet == Set(1L, n))
  }

  test("kCore: peeling cascades — the tail unravels link by link, the clique stays") {
    // K4 clique {a,b,c,d} with a pendant chain d-e-f: in the 2-core, f
    // peels first (deg 1), which DROPS e to deg 1 — only the cascade
    // removes e; a single-pass degree filter would keep it
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"), ("e", "f")).toDF("src", "dst")
    val core = Graph.kCore(edges, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("kCore: peel round has NO mandatory broadcast of the keep set") {
    // The scale contract: in round 1 the keep set is ~all nodes, so a
    // hard broadcast() hint would force shipping a data-sized id set to
    // every executor. The plan must leave the strategy to AQE — i.e. the
    // analyzed plan carries no ResolvedHint anywhere, and both keep-set
    // joins are LeftSemi.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint}
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")).toDF("a", "b")
    val round = Graph.kCorePeelRound(e, 2)
    val analyzed = round.queryExecution.analyzed
    val hints = analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"mandatory join hints in kCore peel: $hints")
    val semis = analyzed.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semis.size == 2, s"expected 2 keep-set semi-joins, got ${semis.size}")
    // and the round itself is correct: d (deg 1) peels, triangle survives
    assert(round.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("a", "b"), ("b", "c"), ("a", "c")))
  }

  test("kCore: k above the densest core returns empty; dup/direction collapse first") {
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("a", "b"), // dups + reverse = ONE edge
      ("b", "c"), ("a", "c")).toDF("src", "dst")
    assert(Graph.kCore(edges, 3).count() == 0) // triangle is only a 2-core
    val two = Graph.kCore(edges, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(two == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("pageRank: node without in-edges keeps ~the teleport rank") {
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val r = Graph.pageRank(nodes, edges, iters = 5)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("c") - 0.15 / 4) < 1e-9, r("c").toString)
    assert(r("d") == r("c"))
  }

  test("labelPropagation: disjoint cliques converge to their min label; isolates keep their own") {
    // two triangles + an isolated node: tie-breaks walk each triangle to
    // its smallest member within 3 sync rounds (a→"b", b/c→"a", then all
    // "a"); the isolate never votes and stays itself
    val ns = Seq("a", "b", "c", "x", "y", "z", "q").toDF("node")
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("a", "c"),
      ("x", "y"), ("y", "z"), ("x", "z")).toDF("src", "dst")
    val got = Graph.labelPropagation(ns, edges, rounds = 4)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got("a") == (("a", 3L)) && got("b") == (("a", 3L)) && got("c") == (("a", 3L)))
    assert(got("x") == (("x", 3L)) && got("y") == (("x", 3L)) && got("z") == (("x", 3L)))
    assert(got("q") == (("q", 1L)))
  }

  test("shortestPaths: diamond counts both geodesics, unreachable " +
    "reports -1/0, direction respected") {
    val ns = Seq("a", "b", "c", "d", "e").toDF("node")
    // a->b->d and a->c->d (two geodesics to d); e isolated; d->a makes
    // a cycle but cannot shorten anything
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("d", "a")).toDF("src", "dst")
    val got = Graph.shortestPaths(ns, edges, source = "a").collect()
      .map(r => r.getString(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((true, 0L, 1L)))
    assert(got("b") == ((true, 1L, 1L)) && got("c") == ((true, 1L, 1L)))
    assert(got("d") == ((true, 2L, 2L)), s"two geodesics: ${got("d")}")
    assert(got("e") == ((false, -1L, 0L)))
  }

  test("shortestPaths: deterministic under repartitioning and exact on " +
    "a two-path-length asymmetry") {
    val ns = Seq("a", "b", "c", "d").toDF("node")
    // short route a->d direct, long route a->b->c->d: dist 1, count 1
    val edges = Seq(("a", "d"), ("a", "b"), ("b", "c"), ("c", "d"))
      .toDF("src", "dst")
    val r1 = Graph.shortestPaths(ns, edges, source = "a").collect()
      .map(_.toString).toSeq
    val r2 = Graph.shortestPaths(ns.repartition(3), edges.repartition(5),
      source = "a").collect().map(_.toString).toSeq
    assert(r1 == r2)
    val d = Graph.shortestPaths(ns, edges, source = "a").collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(d("d") == ((1L, 1L)), s"direct edge wins: ${d("d")}")
  }

  test("hits: authority concentrates on the pointed-at node, hubs on its " +
    "pointers, L1 mass sums to 1") {
    // b and c both point at a; a points back at b; c has no in-edges
    val ns = Seq("a", "b", "c").toDF("node")
    val edges = Seq(("b", "a"), ("c", "a"), ("a", "b")).toDF("src", "dst")
    val r = Graph.hits(ns, edges, iters = 8).collect()
      .map(x => x.getString(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    val (hub, auth) = (r.view.mapValues(_._1).toMap, r.view.mapValues(_._2).toMap)
    assert(auth("a") > auth("b") && auth("b") > 0, auth.toString)
    assert(auth("c") == 0.0, "no in-edges => zero authority")
    // b and c point at the same single target: hubs tie exactly, above a
    assert(hub("b") == hub("c") && hub("b") > hub("a"), hub.toString)
    assert(math.abs(hub.values.sum - 1.0) < 1e-8, hub.values.sum.toString)
    assert(math.abs(auth.values.sum - 1.0) < 1e-8, auth.values.sum.toString)
  }

  test("hits: deterministic under repartitioning, zero graph short-circuits") {
    val ns = Seq("a", "b", "c").toDF("node")
    val edges = Seq(("b", "a"), ("c", "a"), ("a", "b")).toDF("src", "dst")
    val r1 = Graph.hits(ns, edges, iters = 4).collect().map(_.toString).toSeq
    val r2 = Graph.hits(ns.repartition(3), edges.repartition(5), iters = 4)
      .collect().map(_.toString).toSeq
    assert(r1 == r2) // bit-identical, not approximately equal
    // edgeless graph: no 0/0 — every score is exactly 0 after one push
    val none = Graph.hits(ns, Seq.empty[(String, String)].toDF("src", "dst"),
      iters = 2).collect()
    assert(none.forall(x => x.getDouble(1) == 0.0 && x.getDouble(2) == 0.0))
  }

  test("personalizedPageRank: proximity decays along the chain, " +
    "unreached nodes hold exact 0, restart keeps the source on top") {
    val ns = Seq("s", "x", "y", "z").toDF("node")
    // s -> x -> y; z is disconnected from the walk
    val edges = Seq(("s", "x"), ("x", "y"), ("z", "s")).toDF("src", "dst")
    val r = Graph.personalizedPageRank(ns, edges, "s", iters = 8).collect()
      .map(p => p.getString(0) -> p.getDouble(1)).toMap
    assert(r("s") > r("x") && r("x") > r("y"), r.toString)
    assert(r("z") == 0.0) // the walk starts at s and can never reach z
    assert(r.values.sum <= 1.0 + 1e-9)
    // z -> s exists, so GLOBAL pagerank gives z mass; proximity must not
    val global = Graph.pageRank(ns, edges, iters = 8).collect()
      .map(p => p.getString(0) -> p.getDouble(1)).toMap
    assert(global("z") > 0.0 && r("z") == 0.0)
    val r2 = Graph.personalizedPageRank(ns.repartition(3),
      edges.repartition(2), "s", iters = 8).collect()
      .map(p => p.getString(0) -> p.getDouble(1)).toMap
    assert(r2 == r) // bit-identical under repartitioning
  }

  test("modularity: two cliques with a bridge score 35/196 each; " +
    "one-community graph scores 0; degree mass = 2m") {
    // K3 {a,b,c} + K3 {d,e,f} + bridge c-d: m = 7
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")).toDF("src", "dst")
    val comm = Seq(("a", "A"), ("b", "A"), ("c", "A"),
      ("d", "B"), ("e", "B"), ("f", "B")).toDF("node", "community")
    val r = Graph.modularity(comm, edges).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    // e_A = 3 internal, d_A = 7 endpoint slots; (4·7·3 − 49)/196 = 35/196
    assert(r.toSeq == Seq(("A", 3L, 7L, 0.1785714286), ("B", 3L, 7L, 0.1785714286)),
      r.mkString(", "))
    assert(r.map(_._3).sum == 14L) // Σd_c = 2m exactly
    val one = Seq(("a", "X"), ("b", "X"), ("c", "X"), ("d", "X"), ("e", "X"),
      ("f", "X")).toDF("node", "community")
    val q = Graph.modularity(one, edges).collect()
    assert(q.length == 1 && q.head.getDouble(3) == 0.0, q.mkString(", "))
  }

  test("louvainMove: a misassigned clique member moves home (exact gain), " +
    "nodes with no better community stay, and the optimal split is a " +
    "fixed point") {
    // K3 {a,b,c} + K3 {d,e,f} + bridge c-d, but c starts in B: moving c
    // to A gains ΔQ·4m² = 4·7·(2−1) − 2·3·(4−10+3) = 46 > 0; a and b
    // would LOSE by following the bridge (−32), d/e/f see no foreign
    // community at a gain — so exactly one move happens
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")).toDF("src", "dst")
    val comm = Seq(("a", "A"), ("b", "A"), ("c", "B"),
      ("d", "B"), ("e", "B"), ("f", "B")).toDF("node", "community")
    val r = Graph.louvainMove(comm, edges).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getDouble(4)))
    val before = r.filter(_._1 == "before").map(t => (t._2, t._3, t._4, t._5))
    val after = r.filter(_._1 == "after").map(t => (t._2, t._3, t._4, t._5))
    // before: A={a,b} e=1 d=4 → 12/196; B={c,d,e,f} e=4 d=10 → 12/196
    assert(before.toSeq == Seq(("A", 1L, 4L, 0.0612244898),
      ("B", 4L, 10L, 0.0612244898)), before.mkString(", "))
    // after: the two cliques, 35/196 each — Q climbed 0.122 → 0.357
    assert(after.toSeq == Seq(("A", 3L, 7L, 0.1785714286),
      ("B", 3L, 7L, 0.1785714286)), after.mkString(", "))
    // the optimal partition is a fixed point: before == after
    val opt = Seq(("a", "A"), ("b", "A"), ("c", "A"),
      ("d", "B"), ("e", "B"), ("f", "B")).toDF("node", "community")
    val fp = Graph.louvainMove(opt, edges).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getDouble(4)))
    assert(fp.filter(_._1 == "before").map(_.copy(_1 = "")).toSeq ==
      fp.filter(_._1 == "after").map(_.copy(_1 = "")).toSeq, fp.mkString(", "))
  }
}
