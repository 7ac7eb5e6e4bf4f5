package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels every node with its component minimum") {
    // two chains and a triangle: {1-2-3-4}, {10-11}, {20-21-22 triangle}, isolated 99
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L, 22L, 99L).toDF("id")
    val out = Graph.connectedComponents(edges, nodes = Some((nodes, "id")))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      99L -> 99L))
  }

  test("connectedComponents tolerates self-loops, duplicates, and reversed edges") {
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L))
      .toDF("src", "dst")
    val out = Graph.connectedComponents(edges).as[(Long, Long)].collect().toMap
    // 5 appears only in a self-loop -> drops out of the edge set entirely
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents handles a long path (transitivity chain)") {
    // path 0-1-2-...-63: one component, root 0; converges in O(log n) rounds
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = Graph.connectedComponents(edges).as[(Long, Long)].collect()
    assert(out.length == 64)
    assert(out.forall(_._2 == 0L))
  }

  test("connectedComponents on an empty edge list returns singletons for nodes") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val nodes = Seq(7L, 8L).toDF("id")
    val out = Graph.connectedComponents(edges, nodes = Some((nodes, "id")))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(7L -> 7L, 8L -> 8L))
  }

  test("adversarial hub skew: ~50% of all edges through one node — O(log n) rounds, partial agg on both star steps") {
    // The classic CC hot key: a mega-component whose root every member
    // groupBy-hits. 1000 of 2000 edges go through hub 0; the other 1000
    // form 10 disjoint 100-edge chains. The defense at scale is map-side
    // combine (partial_min) on the star steps' groupBy — the hub's rows
    // collapse per input partition before the shuffle, so no single task
    // materializes the full neighborhood.
    val hubEdges = (1L to 1000L).map(i => (0L, i))
    val chainEdges = (0 until 10).flatMap { c =>
      val base = 10000L + c * 1000L
      (0L until 100L).map(i => (base + i, base + i + 1))
    }
    val edges = (hubEdges ++ chainEdges).toDF("src", "dst")
    // plan-level proof of map-side combine: BOTH star steps' aggregations
    // run partial_min before the exchange (no all-rows-of-a-key-in-one-
    // task pre-shuffle blowup)
    Seq(Graph.largeStar(edges), Graph.smallStar(edges)).foreach { step =>
      val plan = step.queryExecution.executedPlan.toString
      assert(plan.contains("partial_min"),
        s"star step must partial-aggregate before its shuffle:\n$plan")
    }
    // rounds stay O(log n): 2101 nodes, maxIter 10 — non-convergence throws
    val out = Graph.connectedComponents(edges, maxIter = 10)
      .as[(Long, Long)].collect()
    val byComp = out.groupBy(_._2)
    assert(byComp(0L).length == 1001, "hub component holds hub + 1000 leaves")
    assert(byComp.size == 11, s"10 chains + hub component, got ${byComp.size}")
    (0 until 10).foreach { c =>
      val root = 10000L + c * 1000L
      assert(byComp(root).length == 101, s"chain $c must resolve to its min")
    }
  }

  test("incrementalComponents == full recompute; untouched labels stable; merges adopt the min") {
    val edges1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 99L).toDF("id")
    val base = Graph.connectedComponents(edges1, nodes = Some((nodes, "id")))
    // batch 2: bridge {1,2,3} and {10,11}; extend {20,21}; touch isolated 99
    val edges2 = Seq((3L, 10L), (21L, 22L), (99L, 98L)).toDF("src", "dst")
    val inc = Graph.incrementalComponents(base, edges2)
      .as[(Long, Long)].collect().toMap
    val full = Graph.connectedComponents(edges1.union(edges2),
      nodes = Some((nodes, "id"))).as[(Long, Long)].collect().toMap
    // every previously-labeled node agrees with the from-scratch answer
    full.foreach { case (id, comp) =>
      assert(inc(id) == comp, s"node $id: incremental ${inc(id)} != full $comp")
    }
    assert(inc(10L) == 1L && inc(11L) == 1L, "merged components adopt the min id")
    assert(inc(20L) == 20L && inc(22L) == 20L, "extended component keeps its label")
    assert(inc(99L) == 98L, "former singleton joins its new neighbor's component")
  }

  test("keepClusterCanonical keeps exactly one doc per cluster (the root)") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "z")).toDF("doc_id", "text")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val comps = Graph.connectedComponents(edges,
      nodes = Some((docs.select("doc_id"), "doc_id")))
    val kept = Graph.keepClusterCanonical(docs, comps, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 9L))
  }

  test("a checkpoint dir makes every loop durable, with the local run's rows") {
    // a directed graph with a cycle, a chain, a dense core and an
    // isolated pair — every operator below has work to do on it
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
        (5L, 6L), (6L, 4L), (4L, 7L), (100L, 101L)) ++
      (0L until 12L).map(i => (20L + i, 21L + i)))
      .toDF("src", "dst")
    val weighted = edges.withColumn("w", (col("src") + col("dst")) % 3 + 1)
    val chain = ((0L until 63L).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val vecs = Seq((0L, Seq(3.0f, 4.0f, 1.0f)), (1L, Seq(-3.0f, -2.0f, 0.0f)),
      (2L, Seq(6.0f, 8.0f, 2.0f)), (3L, Seq(-1.0f, -8.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val cov = graft.functions.VectorFunctions.covarianceMatrix(vecs, "embedding")
    val docs = Seq("low lower lowest low", "newer newest new wider",
      "lower newer lowest newest").zipWithIndex.map(_.swap).toDF("doc_id", "text")
    val operators: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "connectedComponents" -> (() => Graph.connectedComponents(edges)),
      "connectedComponents on a 64-node chain" -> (() => Graph.connectedComponents(chain)),
      "pageRank" -> (() => Graph.pageRank(edges, iterations = 3)),
      "personalizedPageRank" -> (() =>
        Graph.personalizedPageRank(edges, seeds, iterations = 3)),
      "hopDistances" -> (() => Graph.hopDistances(edges, seeds)),
      "kCore" -> (() => Graph.kCore(edges, k = 2)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, iterations = 3)),
      "stronglyConnectedComponents" -> (() => Graph.stronglyConnectedComponents(edges)),
      "powerIteration" -> (() =>
        graft.functions.VectorFunctions.powerIteration(cov, iterations = 3)),
      "shortestPaths" -> (() => Graph.shortestPaths(weighted, source = 1L)),
      "hits" -> (() => Graph.hits(edges, iterations = 3)),
      "Bpe.learnMerges" -> (() => Bpe.learnMerges(docs, "text", numMerges = 5)))
    def rows(op: () => org.apache.spark.sql.DataFrame) =
      op().collect().map(_.toString).sorted.toSeq
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "the local run needs a session without a dir")
    val local = operators.map { case (name, op) => name -> rows(op) }.toMap
    withCheckpointDir { dir =>
      operators.foreach { case (name, op) =>
        val before = filesUnder(dir)
        assert(rows(op) == local(name), s"$name: durable and local checkpointing must agree")
        assert(filesUnder(dir) > before, s"$name wrote no checkpoint files")
      }
    }
    assert(sc.getCheckpointDir.isEmpty, "the dir is unset again for later suites")
  }

  test("pageRank: cycle is uniform, hubs outrank spokes, dangling mass redistributes, sums to 1") {
    // 3-cycle: perfectly regular → uniform 1/3 at every iteration
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val cr = Graph.pageRank(cycle, iterations = 5)
      .as[(Long, Double)].collect().toMap
    cr.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-8, s"$cr"))

    // star: 4 spokes → hub, hub → spoke 1. The hub and spoke 1 trade
    // the mass (period-2 oscillation damping toward the fixed point);
    // both must dominate the in-degree-0 spokes, whose rank is exactly
    // the teleport floor (1-d)/n = 0.03. Ranks sum to ~1.
    val star = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L),
      (10L, 1L)).toDF("src", "dst")
    val sr = Graph.pageRank(star, iterations = 10)
      .as[(Long, Double)].collect().toMap
    assert(sr(10L) > sr(2L) * 3 && sr(1L) > sr(2L) * 3,
      s"the cycle dominates the teleport-only spokes: $sr")
    assert(math.abs(sr(2L) - 0.03) < 1e-9, s"in-degree-0 rank is the teleport floor: $sr")
    assert(math.abs(sr.values.sum - 1.0) < 1e-6, s"mass conserved: ${sr.values.sum}")

    // dangling node: a -> b, b has no out-edges; hand-computed one
    // iteration: r1(a) = 0.075 + 0.85·(0 + 0.25) = 0.2875,
    // r1(b) = 0.075 + 0.85·(0.5 + 0.25) = 0.7125
    val dang = Seq((1L, 2L)).toDF("src", "dst")
    val dr = Graph.pageRank(dang, iterations = 1)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(dr(1L) - 0.2875) < 1e-9 && math.abs(dr(2L) - 0.7125) < 1e-9,
      s"dangling mass redistributes uniformly: $dr")
    assert(math.abs(dr.values.sum - 1.0) < 1e-8)

    // isolated nodes via the nodes param get teleport-only mass; ranks
    // are deterministic across runs
    val withIso = Graph.pageRank(star, iterations = 3,
      nodes = Some((Seq(99L).toDF("id"), "id")))
      .as[(Long, Double)].collect().toMap
    assert(withIso.contains(99L) && withIso(99L) < withIso(10L))
    val again = Graph.pageRank(star, iterations = 10)
      .as[(Long, Double)].collect().toMap
    assert(again == sr, "bit-identical re-run (9-grid DECIMAL sums)")

    intercept[IllegalArgumentException](Graph.pageRank(star, iterations = 0))
    intercept[IllegalArgumentException](Graph.pageRank(star, damping = 1.5))

    // weighted: w=1 everywhere is BIT-identical to the unweighted form;
    // a 3:1 split sends 3x the contribution down the heavy edge.
    // 1->2 (w=3), 1->3 (w=1), one iteration from uniform 1/3 (2 and 3
    // are dangling, mass 2/3 redistributes uniformly):
    // r1(2) = 0.05 + 0.85·(round9(1/3·3/4) + (2/3)/3) = 0.451388889
    // r1(3) = 0.05 + 0.85·(round9(1/3·1/4) + (2/3)/3) = 0.309722222
    val ones = star.withColumn("w", lit(1.0))
    val wRanks = Graph.pageRank(ones, iterations = 10, weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    assert(wRanks == sr, "unit weights ≡ unweighted, bit-for-bit")
    val split = Seq((1L, 2L, 3.0), (1L, 3L, 1.0)).toDF("src", "dst", "w")
    val ws = Graph.pageRank(split, iterations = 1, weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(ws(2L) - 0.451388889) < 1e-9 &&
      math.abs(ws(3L) - 0.309722222) < 1e-9, s"$ws")
    // zero-weight edges drop from the walk; their endpoints remain
    val zeroed = Seq((1L, 2L, 1.0), (1L, 3L, 0.0)).toDF("src", "dst", "w")
    val zr = Graph.pageRank(zeroed, iterations = 1, weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    assert(zr.contains(3L) && zr(2L) > zr(3L), s"$zr")
  }

  test("personalizedPageRank: seed locality, dangling-to-seed restart, all-seeds ≡ pageRank") {
    // two disconnected 3-cycles; seeding only {1} leaves the other
    // cycle with EXACTLY zero mass (no teleport, no path)
    val twoCycles = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (11L, 12L), (12L, 13L), (13L, 11L)).toDF("src", "dst")
    // 30 iterations: a directed 3-cycle oscillates with period 3, so
    // distance-decay only holds near the fixed point, not at iter 5
    val pr = Graph.personalizedPageRank(twoCycles, Seq(1L).toDF("id"),
      iterations = 30).as[(Long, Double)].collect().toMap
    assert(pr(11L) == 0.0 && pr(12L) == 0.0 && pr(13L) == 0.0,
      s"unreachable component gets no mass: $pr")
    assert(pr(1L) > pr(2L) && pr(2L) > pr(3L),
      s"rank decays with walk distance from the seed: $pr")
    assert(math.abs(pr.values.sum - 1.0) < 1e-6, s"mass conserved: $pr")

    // dangling restart goes to the SEEDS, not uniform: a->b, seed {a}.
    // r0 = (1, 0); r1(a) = 0.15·1 = 0.15, r1(b) = 0.85·(1) = 0.85;
    // r2(a) = 0.15 + 0.85·(dang 0.85 · t 1) = 0.8725, r2(b) = 0.85·0.15
    val dang = Seq((1L, 2L)).toDF("src", "dst")
    val d2 = Graph.personalizedPageRank(dang, Seq(1L).toDF("id"),
      iterations = 2).as[(Long, Double)].collect().toMap
    assert(math.abs(d2(1L) - 0.8725) < 1e-9 && math.abs(d2(2L) - 0.1275) < 1e-9,
      s"dangling mass restarts at the seed: $d2")

    // seeding every node IS PageRank (up to 9-grid rounding of t)
    val star = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L),
      (10L, 1L)).toDF("src", "dst")
    val allIds = Seq(1L, 2L, 3L, 4L, 10L).toDF("id")
    val ppr = Graph.personalizedPageRank(star, allIds, iterations = 10)
      .as[(Long, Double)].collect().toMap
    val plain = Graph.pageRank(star, iterations = 10)
      .as[(Long, Double)].collect().toMap
    ppr.foreach { case (id, v) =>
      assert(math.abs(v - plain(id)) < 1e-7, s"uniform seeds ≡ pageRank: $id") }

    // unknown seeds are dropped; all-unknown fails fast; re-run is
    // bit-identical (9-grid DECIMAL discipline)
    val mixed = Graph.personalizedPageRank(twoCycles,
      Seq(1L, 999L).toDF("id"), iterations = 30)
      .as[(Long, Double)].collect().toMap
    assert(mixed == pr, "seeds outside the graph are ignored")
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(twoCycles, Seq(999L).toDF("id"))
    }
    val rerun = Graph.personalizedPageRank(twoCycles, Seq(1L).toDF("id"),
      iterations = 30).as[(Long, Double)].collect().toMap
    assert(rerun == pr, "bit-identical re-run")
  }

  test("triangleCounts: K4, star, and duplicate/direction noise hand-checked") {
    // K4: every node in C(3,2)=3 triangles, degree 3, coefficient 1
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val r4 = Graph.triangleCounts(k4)
      .as[(Long, Long, Long, Double)].collect().map { case (i, t, d, c) => i -> ((t, d, c)) }.toMap
    assert(r4.size == 4 && r4.values.forall(_ == ((3L, 3L, 1.0))), s"$r4")

    // star: no triangles; hub coefficient 0, spokes degree 1 → 0
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("src", "dst")
    val rs = Graph.triangleCounts(star)
      .as[(Long, Long, Long, Double)].collect()
    assert(rs.forall(r => r._2 == 0L && r._4 == 0.0), s"${rs.toSeq}")

    // one triangle + a pendant; duplicate edges, reversed directions and
    // self-loops must not change counts. Node 1: deg 3 (2,3,4), 1
    // triangle → cc = 2·1/(3·2) = 0.333333
    val noisy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (1L, 1L), (1L, 4L)).toDF("src", "dst")
    val rn = Graph.triangleCounts(noisy)
      .as[(Long, Long, Long, Double)].collect().map { case (i, t, d, c) => i -> ((t, d, c)) }.toMap
    assert(rn(1L) == ((1L, 3L, 0.333333)) && rn(2L) == ((1L, 2L, 1.0)) &&
      rn(3L) == ((1L, 2L, 1.0)) && rn(4L) == ((0L, 1L, 0.0)), s"$rn")
  }

  test("pipeline: LSH candidate pairs -> components -> canonical docs") {
    // three identical docs + one unrelated: the cluster collapses to one
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "totally different content with other words entirely here now"))
      .toDF("doc_id", "text")
    val sig = Dedup.minHashSignature(docs, "text", shingleSize = 3, numHashes = 32)
    val pairs = Dedup.minHashCandidatePairs(sig, "doc_id", bands = 8, rowsPerBand = 4)
    val comps = Graph.connectedComponents(pairs, "id_a", "id_b",
      nodes = Some((docs.select("doc_id"), "doc_id")))
    val kept = Graph.keepClusterCanonical(docs, comps, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L))
  }

  test("labelPropagation: two triangles over a bridge settle into two communities") {
    // triangles {1,2,3} and {4,5,6} joined by the single bridge 3-4:
    // within a triangle every node has 2 same-community neighbors, the
    // bridge endpoints have 2 vs 1 — LPA keeps the triangles separate
    // (connectedComponents would merge everything into one component)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val labels = Graph.labelPropagation(e, iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1) == labels(2) && labels(2) == labels(3))
    assert(labels(4) == labels(5) && labels(5) == labels(6))
    assert(labels(1) != labels(4),
      s"bridge must not merge the triangles: $labels")
    val comps = Graph.connectedComponents(e)
      .select("component").distinct().count()
    assert(comps == 1, "sanity: CC sees ONE component across the bridge")
  }

  test("labelPropagation: isolated nodes keep their own label; ties go to the smallest") {
    // star 10-(11,12,13): each leaf's only neighbor is 10, and 10's
    // neighbors all hold distinct labels round 1 (tie) -> smallest (11).
    // Node 99 arrives via `nodes` with no edges and must survive as its
    // own singleton community.
    val e = Seq((10L, 11L), (10L, 12L), (10L, 13L)).toDF("src", "dst")
    val extra = Seq(Tuple1(99L)).toDF("id")
    val labels = Graph.labelPropagation(e, iterations = 1,
        nodes = Some((extra, "id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(10) == 11L, s"tie among {11,12,13} must pick 11: $labels")
    assert(labels(11) == 10L && labels(12) == 10L && labels(13) == 10L)
    assert(labels(99) == 99L, "edge-less node keeps its own label")
  }

  test("labelPropagation: duplicate and reversed edges do not double votes; reruns are identical") {
    // 1's neighbors: 2 (listed 3x, as dup + reverse) and 3, 4 — if dups
    // counted, 2's label would win the vote at iteration 2; collapsed,
    // the vote among distinct neighbors ties to the smallest label
    val e = Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L),
      (2L, 5L)).toDF("src", "dst")
    val a = Graph.labelPropagation(e, iterations = 3)
      .orderBy("id").collect().toSeq
    val b = Graph.labelPropagation(e, iterations = 3)
      .orderBy("id").collect().toSeq
    assert(a == b, "synchronous LPA must be run-to-run deterministic")
    val l1 = a.find(_.getLong(0) == 1L).get.getLong(1)
    // round 1: node 1 sees {2,3,4} once each -> tie -> 2 (smallest)
    assert(Graph.labelPropagation(e, iterations = 1)
      .filter(col("id") === 1L).collect().head.getLong(1) == 2L)
    assert(l1 == a.find(_.getLong(0) == 1L).get.getLong(1))
  }

  test("hopDistances: BFS min-hop levels, directed, maxHops horizon, multi-source") {
    // 0 -> 1 -> 2 -> 3 -> 4 chain, a shortcut 0 -> 3, a back-edge 2 -> 0,
    // a self-loop, and an unreachable island 10 -> 11
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L),
      (2L, 0L), (1L, 1L), (10L, 11L)).toDF("src", "dst")
    val src0 = Seq(Tuple1(0L)).toDF("id")
    val out = Graph.hopDistances(e, src0).as[(Long, Long)].collect().toMap
    // shortcut wins: 3 at dist 1, 4 at dist 2; island omitted
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L), s"$out")

    // horizon: maxHops = 1 keeps only the first frontier
    val near = Graph.hopDistances(e, src0, maxHops = 1)
      .as[(Long, Long)].collect().toMap
    assert(near == Map(0L -> 0L, 1L -> 1L, 3L -> 1L), s"$near")

    // multi-source: min distance from ANY source
    val multi = Graph.hopDistances(e, Seq(Tuple1(0L), Tuple1(10L)).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(multi(10L) == 0L && multi(11L) == 1L && multi(4L) == 2L, s"$multi")

    // undirected reachability = pass both directions
    val und = Graph.hopDistances(
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))),
      Seq(Tuple1(4L)).toDF("id")).as[(Long, Long)].collect().toMap
    assert(und(0L) == 2L, s"4 -> 3 -> 0 via reversed shortcut: $und")
  }

  test("kCore: peel cascade to fixpoint, degrees counted inside the core") {
    // K4 on {1,2,3,4} (a 3-core), plus a tail 4-5-6 and a pendant 7 on 1:
    // peeling at k=3 must cascade the whole tail away and keep exactly K4
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (1L, 7L)).toDF("src", "dst")
    val core3 = Graph.kCore(e, k = 3).as[(Long, Long)].collect().toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"$core3")

    // k=1 keeps everything (degrees in the full graph); k=4 empties
    val core1 = Graph.kCore(e, k = 1).as[(Long, Long)].collect().toMap
    assert(core1.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L) &&
      core1(1L) == 4L && core1(6L) == 1L, s"$core1")
    assert(Graph.kCore(e, k = 4).isEmpty)

    // duplicate/reversed/self-loop edges never double a degree: without
    // collapsing, node 5 would count deg 3 and survive the k=2 peel
    val noisy = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .unionByName(Seq((5L, 5L), (4L, 5L), (5L, 4L)).toDF("src", "dst"))
    val core2 = Graph.kCore(noisy, k = 2).as[(Long, Long)].collect().toMap
    assert(!core2.contains(6L) && !core2.contains(7L), s"$core2")
    assert(!core2.contains(5L),
      s"5's real degree drops to 1 once 6 peels, so 5 peels next: $core2")
  }

  test("adamicAdar: hand-computed scores, adjacency excluded, hub cap") {
    // square 1-2-3-4-1: (1,3) and (2,4) share two deg-2 neighbors each
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val out = Graph.adamicAdar(square)
      .orderBy("a", "b").as[(Long, Long, Double, Long)].collect().toList
    val twoOverLn2 = BigDecimal(2.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(r => (r._1, r._2, r._4)) == List((1L, 3L, 2L), (2L, 4L, 2L)))
    assert(out.forall(r => math.abs(r._3 - twoOverLn2) < 1e-6), s"$out")

    // triangle: every candidate pair is already an edge -> empty
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.adamicAdar(tri).isEmpty)

    // star: center deg 5 > cap 4 -> dropped as a common neighbor
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    assert(Graph.adamicAdar(star, maxDegree = 4).isEmpty)
    assert(Graph.adamicAdar(star, maxDegree = 5).count() == 10L)
    intercept[IllegalArgumentException](Graph.adamicAdar(star, maxDegree = 1))
  }

  test("shortestPaths: weighted relaxation beats fewer-hops, unreachable absent") {
    // 0->1 (w=10); 0->2 (1), 2->3 (1), 3->1 (1): best 0->1 is 3 via hops
    // 9 is disconnected; 4 reachable only via the long edge chain
    val e = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L),
      (1L, 4L, 2L), (9L, 0L, 1L))
      .toDF("src", "dst", "w")
    val out = Graph.shortestPaths(e, source = 0L)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 2L, 4L -> 5L))

    // a cycle does not loop forever: fixpoint reached, distances exact
    val cyc = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 1L)).toDF("src", "dst", "w")
    assert(Graph.shortestPaths(cyc, 0L).as[(Long, Long)].collect().toMap ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L))

    // maxIter truncates relaxation depth
    val chain = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    assert(Graph.shortestPaths(chain, 0L, maxIter = 2)
      .as[(Long, Long)].collect().toMap == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    intercept[IllegalArgumentException](Graph.shortestPaths(chain, 0L, maxIter = 0))
  }

  // --- hits ----------------------------------------------------------------

  test("hits: hand-walked 2 iterations on a 4-node chain-fan") {
    // 1→3, 2→3, 3→4: after two rounds a = {3: 0.8, 4: 0.2},
    // h = {1: 0.8/1.8, 2: 0.8/1.8, 3: 0.2/1.8} (L1-normalized)
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = Graph.hits(e, iterations = 2).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(3L)._2 == 0.8 && out(4L)._2 == 0.2)
    assert(out(1L)._2 == 0.0 && out(2L)._2 == 0.0)
    assert(out(1L)._1 == 0.444444 && out(2L)._1 == 0.444444)
    assert(out(3L)._1 == 0.111111 && out(4L)._1 == 0.0)
  }

  test("hits: star center is a pure hub, leaves pure authorities") {
    val e = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    val out = Graph.hits(e, iterations = 3).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(0L)._1 == 1.0 && out(0L)._2 == 0.0)
    (1L to 5L).foreach { i =>
      assert(out(i)._1 == 0.0 && out(i)._2 == 0.2)
    }
  }

  test("hits: duplicate edges contribute multiply; reruns are bit-identical") {
    val single = Seq((1L, 2L), (3L, 2L), (3L, 4L)).toDF("src", "dst")
    val doubled = Seq((1L, 2L), (1L, 2L), (3L, 2L), (3L, 4L))
      .toDF("src", "dst")
    val s = Graph.hits(single, iterations = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    val d = Graph.hits(doubled, iterations = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(s.toSeq != d.toSeq, "multigraph semantics must see the dup edge")
    val s2 = Graph.hits(single, iterations = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(s.toSeq == s2.toSeq)
    intercept[IllegalArgumentException](Graph.hits(single, iterations = 0))
  }

  test("modularity: two triangles + one bridge = the textbook hand " +
    "case; unlabeled endpoints drop; duplicate/self/reversed edges " +
    "canonicalize") {
    // communities A = {1,2,3}, B = {4,5,6}, bridge 3-4: m = 7,
    // L_A = L_B = 3, D_A = D_B = 7 → Q_c = 3/7 − (7/14)² = 0.178571
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), // dup (1,3)
        (3L, 3L),                                           // self loop
        (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B"), (6L, "B")).toDF("id", "c")
    val out = Graph.modularity(edges, "src", "dst", labels, "id", "c")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("A") == ((3L, 3L, 7L, 0.178571)))
    assert(out("B") == ((3L, 3L, 7L, 0.178571)))
    // drop node 6's label: edges 5-6 and 6-4 leave the labeled
    // subgraph (m = 5), B loses a member
    val partial = Graph.modularity(edges, "src", "dst",
        labels.filter(col("id") =!= 6L), "id", "c")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(partial("A") == 3L && partial("B") == 2L)
  }

  // --- stronglyConnectedComponents -----------------------------------------

  private def scc(edges: Seq[(Long, Long)],
      nodes: Option[Seq[Long]] = None): Map[Long, Long] =
    Graph.stronglyConnectedComponents(edges.toDF("src", "dst"),
        nodes = nodes.map(n => (n.toDF("id"), "id")))
      .as[(Long, Long)].collect().toMap

  test("scc: two cycles over a bridge stay separate where CC merges; " +
    "multi-round peel") {
    // 1→2→3→1 bridged 3→4 into 4→5→6→4: CC sees one component; SCC
    // sees two. The bridge also forces the second cycle into color 1
    // on round one, exercising the multi-round extraction.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L))
    assert(scc(edges) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
    val cc = Graph.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size == 1)
  }

  test("scc: a DAG is all singletons (pure trim path); figure-8 is " +
    "one SCC; 2-cycle; self-loop-only node survives") {
    assert(scc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // figure-8: cycles {1,2} and {2,3} share 2 → mutually reachable
    assert(scc(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(scc(Seq((5L, 6L), (6L, 5L))) == Map(5L -> 5L, 6L -> 5L))
    // 7's only edge is a self-loop: a singleton SCC, not dropped
    assert(scc(Seq((7L, 7L))) == Map(7L -> 7L))
  }

  test("scc: duplicate edges tolerated, isolated nodes come back as " +
    "singletons, deterministic rerun, empty input") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 1L), (1L, 1L))
    assert(scc(edges, nodes = Some(Seq(1L, 2L, 9L))) ==
      Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
    assert(scc(edges) == scc(edges))
    assert(scc(Seq.empty[(Long, Long)]) == Map.empty[Long, Long])
  }

  test("scc: tail into a cycle — tail trims as singletons, cycle " +
    "stays one SCC; agrees with a brute-force reachability reference " +
    "on a pseudo-random graph") {
    // 10→11→12 feeds cycle 0→1→2→3→0
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 0L),
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    assert(scc(edges) == Map(10L -> 10L, 11L -> 11L, 12L -> 12L,
      0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    // pseudo-random functional-ish graph on 24 nodes, two edge rules
    val es = (0L until 24L).flatMap(n =>
      Seq((n, (n * 5 + 3) % 24), (n, (n + 7) % 24)))
    val out = scc(es)
    // brute force: Floyd-Warshall reachability, component = min mutual
    val ns = (0L until 24L)
    val reach = Array.ofDim[Boolean](24, 24)
    for (n <- ns) reach(n.toInt)(n.toInt) = true
    for ((a, b) <- es) reach(a.toInt)(b.toInt) = true
    for (k <- 0 until 24; i <- 0 until 24; j <- 0 until 24)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    val expected = ns.map { u =>
      u -> ns.filter(v => reach(u.toInt)(v.toInt) &&
        reach(v.toInt)(u.toInt)).min
    }.toMap
    assert(out == expected)
  }
}
