package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph clustering for duplicate-cluster resolution.
  *
  * After candidate-pair generation (LSH banding, SimHash buckets, exact
  * content hash — [[Dedup]]), near-duplicate *pairs* must be resolved into
  * *clusters* (connected components) so each group keeps one canonical
  * document. Pairwise output alone under-deduplicates: A~B and B~C must
  * collapse A,B,C together even when (A,C) was never a candidate.
  *
  * The algorithm is alternating large-star/small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) expressed as
  * DataFrame plans: each half-round is one hash-shuffle groupBy + one
  * shuffle join on node id, and the edge set converges to stars
  * (min-id root -> member) in O(log n) rounds — the proven shape for
  * multi-TB graphs, vs O(diameter) rounds for naive label propagation.
  * Per-round [[Materialize]] truncates lineage so the loop's plan does
  * not grow (a 20-round lineage would otherwise blow up the optimizer
  * and re-execute every prior round on each action). Every truncation
  * here is LAZY (r18): the round's own convergence action or the next
  * round's first job materializes it, so an eager checkpoint's
  * dedicated job per round was pure scheduling overhead at toy scale
  * and a redundant extra pass at cluster scale. Whether a truncation
  * is local or durable is [[Materialize]]'s call: durable once the
  * session has a checkpoint directory.
  */
object Graph {

  private def canonical(e: DataFrame): DataFrame =
    e.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()

  /** Both directions of an undirected edge list. */
  private def bothDirs(e: DataFrame): DataFrame =
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))

  /** Large-star: every node connects its strictly-larger neighbors to the
    * minimum of its neighborhood (including itself). Emits raw (possibly
    * duplicated) edges — the caller canonicalizes once per round; m < v
    * always holds so no self-loops appear. */
  private[operators] def largeStar(e: DataFrame): DataFrame = {
    val nb = bothDirs(e)
    val m = nb.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
    nb.join(m, "src")
      .filter(col("dst") > col("src"))
      .select(col("m").as("src"), col("dst").as("dst"))
  }

  /** Small-star: every node connects its smaller-or-equal neighborhood
    * (and itself) to that neighborhood's minimum. Emits raw edges (m is
    * the strict minimum, so m < partner always — no self-loops). */
  private[operators] def smallStar(e: DataFrame): DataFrame = {
    val nb = bothDirs(e).filter(col("dst") < col("src"))
    val m = nb.groupBy("src").agg(min(col("dst")).as("m"))
    m.select(col("m").as("src"), col("src").as("dst"))
      .union(nb.join(m, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("m").as("src"), col("dst").as("dst")))
  }

  /** Distinct-set fingerprint in one job: (row count, two independent
    * 64-bit hash sums accumulated in DECIMAL(38,0) — overflow-free).
    * Equal fingerprints on canonical (distinct) edge sets imply equality
    * up to a ~2^-128 collision — far below hardware error rates; used
    * only to detect the loop's fixpoint. */
  private def fingerprint(e: DataFrame): Seq[Any] =
    e.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
        sum(xxhash64(col("dst"), col("src"), lit(7L)).cast("decimal(38,0)")))
      .collect()(0).toSeq

  /** Connected components of the undirected graph given by `edges`
    * (columns `srcCol`, `dstCol`; self-loops and duplicate/reversed edges
    * tolerated). Returns (`id`, `component`) for every node appearing in
    * an edge, where `component` is the minimum node id of the component.
    *
    * Nodes of `nodes` (optional, column `idCol`) that appear in no edge
    * come back as singleton components of themselves — callers pass the
    * full corpus so isolated documents aren't dropped from the output.
    *
    * Per-round lineage truncation ([[Materialize]]) goes to
    * executor-local blocks (fast, but on a real cluster a lost executor
    * makes the truncated lineage unrecoverable mid-loop) unless the
    * session has a checkpoint directory, in which case every round is
    * written there and survives node loss — the production path for
    * long runs; set `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    * to reap superseded round files. */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
                          dstCol: String = "dst",
                          nodes: Option[(DataFrame, String)] = None,
                          maxIter: Int = 25): DataFrame = {
    // the convergence fingerprint is a full scan, so letting IT
    // materialize the lazy checkpoint folds two actions (checkpoint job +
    // fingerprint job) into one pass per round
    var e = Materialize(canonical(edges.select(
        col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))))
    var sig = fingerprint(e)
    var converged = sig.head == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      // TWO full large/small-star rounds per materialized job (the r10
      // verdict's round-batching): each intermediate is a LAZY
      // checkpoint — one RDD shared by every reference, so the chained
      // plan neither regrows lineage nor recomputes a round per
      // reference through AQE replan boundaries (the r3 4×-slower
      // finding concerned UN-checkpointed chaining); only the second
      // round's output materializes, through its convergence
      // fingerprint. Halving the materialization boundaries halves
      // both the toy-scale driver job count and the cluster-scale
      // checkpoint passes; the star shuffles themselves are unchanged.
      // A star step's both-directions union can race two concurrent
      // tasks onto one lazily-checkpointed parent partition (each
      // caches the same deterministic result — benign duplicate work,
      // bounded by one extra star evaluation and measured far below a
      // scheduled job's cost at every scale tried). Convergence is
      // checked every TWO rounds: worst case one redundant fixpoint
      // round, paid once.
      val half1 = Materialize(largeStar(e).distinct())
      val next1 = Materialize(smallStar(half1).distinct())
      val half2 = Materialize(largeStar(next1).distinct())
      val next = Materialize(smallStar(half2).distinct())
      val nextSig = fingerprint(next)
      converged = nextSig == sig
      e = next
      sig = nextSig
      iter += 2
    }
    if (!converged && iter >= maxIter)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
        "(expected O(log n); is the edge list adversarial or maxIter too small?)")
    // converged edge set is a union of stars rooted at each component min
    val fromEdges = bothDirs(e)
      .groupBy("src")
      .agg(least(min(col("dst")), col("src")).as("component"))
      .withColumnRenamed("src", "id")
    nodes match {
      case None => fromEdges
      case Some((n, idCol)) =>
        val ids = n.select(col(idCol).cast("long").as("id")).distinct()
        ids.join(fromEdges, Seq("id"), "left")
          .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    }
  }

  /** Canonical-document selection: given components and the corpus, keep
    * the member with the minimum id per cluster (= the component root).
    * The dedup "resolution" step after clustering. */
  def keepClusterCanonical(docs: DataFrame, components: DataFrame,
                           idCol: String): DataFrame =
    docs.join(components.filter(col("id") === col("component"))
        .select(col("id").as(idCol)), Seq(idCol), "left_semi")

  /** Damped PageRank over a directed edge list — the link-analysis
    * importance signal (web-crawl quality weighting, citation ranking,
    * dedup-cluster canonical election by centrality). Standard power
    * iteration: r'(v) = (1-d)/N + d · (Σ_{u→v} r(u)/outdeg(u) +
    * dangling_mass/N), run for a FIXED `iterations` (the production
    * norm — convergence tests on rank vectors are fleet-specific).
    *
    * Deterministic/oracle-exact (the q73 discipline): per-edge
    * contributions round to the 9-grid and accumulate in DECIMAL(28,9),
    * and each iteration's rank re-rounds to the grid — so ranks are
    * bit-identical across partitionings, re-runs, and engines. Dangling
    * nodes (no out-edges) redistribute their mass uniformly via a 1-row
    * broadcast aggregate — no driver-side collect in the loop.
    *
    * Scale shape per iteration: one (src-keyed) contribution join, one
    * dst-keyed sum shuffle, one left join back to the node set —
    * O(edges) work, O(log-free) fixed rounds. `localCheckpoint` per
    * iteration truncates lineage exactly as [[connectedComponents]]
    * does (local unless the session has a checkpoint directory).
    *
    * Returns (id, pagerank) for every node (edge endpoints ∪ optional
    * `nodes`). Ranks sum to ~1 (grid rounding leaves ~1e-9·N slack). */
  def pageRank(edges: DataFrame, srcCol: String = "src",
               dstCol: String = "dst", iterations: Int = 10,
               damping: Double = 0.85,
               nodes: Option[(DataFrame, String)] = None,
               weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping >= 0.0 && damping <= 1.0,
      s"damping must be in [0,1], got $damping")
    // weighted variant: a walker leaves u along (u,v) with probability
    // w(u,v) / Σ_out w(u) — link strength (co-citation counts, click
    // weights) steers the rank flow. w = 1 reduces BIT-exactly to the
    // unweighted form (x·1.0 = x in IEEE; count ≡ sum of ones).
    val w = weightCol.fold(lit(1.0))(c => col(c).cast("double"))
    // non-positive weights carry no walk probability: dropped from the
    // walk (an all-nonpositive source degrades to a dangling node, never
    // a zero-out-weight division) but their endpoints stay in the node
    // set, exactly like any dangling endpoint
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), w.as("__w"))
    val e = e0.filter(col("__w") > 0)
    val nodeIds = Materialize({
      val fromEdges = e0.select(col("src").as("id"))
        .union(e0.select(col("dst").as("id")))
      nodes.fold(fromEdges) { case (df, c) =>
        fromEdges.union(df.select(col(c).cast("long").as("id")))
      }.distinct()
    })
    val n = nodeIds.count().toDouble
    val outdeg = Materialize(
      e.groupBy("src").agg(sum(col("__w")).cast("double").as("__deg")))
    val dec9 = (c: org.apache.spark.sql.Column) =>
      round(c, 9).cast("decimal(28,9)")
    var ranks = nodeIds.select(col("id"),
      round(lit(1.0) / lit(n), 9).as("pagerank"))
    for (_ <- 1 to iterations) {
      val contribs = ranks
        .join(outdeg, col("id") === col("src"))
        .join(e, "src")
        .select(col("dst"),
          dec9(col("pagerank") * col("__w") / col("__deg")).as("__c"))
      val sums = contribs.groupBy("dst").agg(sum(col("__c")).as("__in"))
      val dangling = ranks
        .join(outdeg, col("id") === col("src"), "left_anti")
        .agg(coalesce(sum(dec9(col("pagerank"))),
          lit(java.math.BigDecimal.ZERO).cast("decimal(28,9)")).as("__dang"))
      ranks = Materialize(
        nodeIds.join(sums, col("id") === col("dst"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("id"),
            round(lit(1.0 - damping) / lit(n) + lit(damping) *
              (coalesce(col("__in").cast("double"), lit(0.0)) +
                col("__dang").cast("double") / lit(n)), 9).as("pagerank")))
    }
    ranks
  }

  /** Personalized PageRank (random walk with restart) — the seeded
    * variant of [[pageRank]] for *related-item* retrieval: teleport mass
    * returns to the `seeds` set instead of spreading uniformly, so ranks
    * measure proximity TO the seeds (find documents related to this one,
    * expand a labeled quality set along the link graph, topic-sensitive
    * crawl weighting). r'(v) = (1-d)·t(v) + d·(Σ_{u→v} r(u)/outdeg(u) +
    * dangling_mass·t(v)), where t(v) = 1/|S| for seeds and 0 otherwise —
    * dangling mass restarts at the seeds too, keeping Σr = 1.
    *
    * Same determinism discipline as [[pageRank]] (per-edge contributions
    * on the 9-grid accumulated in DECIMAL(28,9), ranks re-rounded per
    * iteration) and the same per-iteration scale shape: one src-keyed
    * contribution join, one dst-keyed sum, one join back to the node
    * set. The teleport vector is a node-keyed column, not a broadcast —
    * |S| may be anything from one doc to a whole labeled corpus.
    *
    * With `seeds` = all nodes this IS PageRank up to grid rounding of
    * the teleport constant (t rounds once to the 9-grid; [[pageRank]]
    * keeps 1/N exact in the update), so ranks agree to ~1e-9.
    *
    * Returns (id, pagerank) for every node; seeds not present in the
    * graph are ignored (a walk cannot restart at an unknown node). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           srcCol: String = "src", dstCol: String = "dst",
                           seedCol: String = "id", iterations: Int = 10,
                           damping: Double = 0.85,
                           nodes: Option[(DataFrame, String)] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping >= 0.0 && damping <= 1.0,
      s"damping must be in [0,1], got $damping")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodeIds = Materialize({
      val fromEdges = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
      nodes.fold(fromEdges) { case (df, c) =>
        fromEdges.union(df.select(col(c).cast("long").as("id")))
      }.distinct()
    })
    val seedIds = Materialize(
      seeds.select(col(seedCol).cast("long").as("id")).distinct()
        .join(nodeIds, Seq("id"), "left_semi"))
    val sCount = seedIds.count()
    require(sCount >= 1,
      "personalizedPageRank needs at least one seed present in the graph")
    val tele = Materialize(
      nodeIds.join(
          seedIds.select(col("id"),
            round(lit(1.0) / lit(sCount.toDouble), 9).as("__tele")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("__tele"), lit(0.0)).as("__tele")))
    val outdeg = Materialize(
      e.groupBy("src").agg(count(lit(1)).cast("double").as("__deg")))
    val dec9 = (c: org.apache.spark.sql.Column) =>
      round(c, 9).cast("decimal(28,9)")
    var ranks = tele.select(col("id"), col("__tele").as("pagerank"))
    for (_ <- 1 to iterations) {
      val contribs = ranks
        .join(outdeg, col("id") === col("src"))
        .join(e, "src")
        .select(col("dst"), dec9(col("pagerank") / col("__deg")).as("__c"))
      val sums = contribs.groupBy("dst").agg(sum(col("__c")).as("__in"))
      val dangling = ranks
        .join(outdeg, col("id") === col("src"), "left_anti")
        .agg(coalesce(sum(dec9(col("pagerank"))),
          lit(java.math.BigDecimal.ZERO).cast("decimal(28,9)")).as("__dang"))
      ranks = Materialize(
        tele.join(sums, col("id") === col("dst"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("id"),
            round(lit(1.0 - damping) * col("__tele") + lit(damping) *
              (coalesce(col("__in").cast("double"), lit(0.0)) +
                col("__dang").cast("double") * col("__tele")), 9)
              .as("pagerank")))
    }
    ranks
  }

  /** Triangle counting + local clustering coefficient — the cohesion
    * signal beside reachability ([[connectedComponents]]), importance
    * ([[pageRank]]) and communities ([[labelPropagation]]): how CLIQUISH
    * is each node's neighborhood (link-farm detection, community
    * density, graph-feature extraction).
    *
    * Edges are treated as UNDIRECTED (canonicalized, self-loops and
    * duplicates dropped). Enumeration uses the degree-ordered
    * orientation (Chiba–Nishizeki / Suri–Vassilvitskii): each edge
    * points from its lower-(degree, id) endpoint to the higher, wedges
    * are built only from each apex's OUT-neighbors, and a wedge counts
    * as a triangle iff its closing edge exists. Every triangle has
    * exactly one min-(degree, id) corner, so it is found exactly once —
    * and out-degrees are bounded by O(√m) on any graph (the arboricity
    * argument), so the wedge self-join never explodes on hubs the way a
    * naive id-ordered orientation does: a degree-10⁶ celebrity vertex
    * contributes wedges only through its LOW-degree neighbors.
    *
    * Scale shape: two narrow degree joins, one src-keyed wedge
    * self-join (fan-out bounded as above), one equi-join against the
    * edge set to close wedges, one explode + count. All shuffles are
    * keyed by node/edge ids — no corpus-wide single-partition step.
    *
    * Returns (id, triangles, degree, clustering_coeff) for every edge
    * endpoint; coefficient = 2t / d(d−1) on the round-6 grid, 0 when
    * degree < 2. */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    val e = canonical(edges.select(
      col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")))
    val deg = bothDirs(e).groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
    val withDeg = e
      .join(deg.select(col("id").as("src"), col("degree").as("__ds")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("__dd")), "dst")
    val oriented = withDeg.select(
      when(col("__ds") < col("__dd") ||
          (col("__ds") === col("__dd") && col("src") < col("dst")),
        struct(col("src").as("u"), col("dst").as("v")))
        .otherwise(struct(col("dst").as("u"), col("src").as("v"))).as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"))
    val wedges = oriented.select(col("u"), col("v").as("x"))
      .join(oriented.select(col("u"), col("v").as("y")), "u")
      .filter(col("x") < col("y"))
    val tri = wedges.join(e,
        least(col("x"), col("y")) === col("src") &&
        greatest(col("x"), col("y")) === col("dst"))
      .select(col("u"), col("x"), col("y"))
    val perNode = tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        col("degree"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering_coeff"))
  }

  /** Incremental connected components: fold `newEdges` into an existing
    * (id, component) labeling without re-clustering the full graph. The
    * prior labeling IS its own contracted graph — each component is one
    * star edge (root, member) — so the union of star edges + new edges
    * has one node per previously-labeled doc but only O(components)
    * internal structure: the CC loop re-converges in rounds bounded by
    * the NEW structure's depth, not the historical graph's. The
    * ingest-time companion to [[Dedup.dedupAgainstStore]]: each batch's
    * candidate pairs fold into the corpus clustering as they arrive.
    *
    * Component ids remain the member-minimum, so labels are stable:
    * a component untouched by new edges keeps its id, and merged
    * components adopt the smallest involved id. Result is IDENTICAL to a
    * full recompute over (all original edges ∪ newEdges) — star edges
    * preserve exactly the connectivity of the labeling (GraphSpec). */
  def incrementalComponents(components: DataFrame, newEdges: DataFrame,
                            srcCol: String = "src", dstCol: String = "dst",
                            newNodes: Option[(DataFrame, String)] = None,
                            maxIter: Int = 25): DataFrame = {
    val starEdges = components
      .select(col("component").cast("long").as("src"), col("id").cast("long").as("dst"))
    val newE = newEdges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    // nodes = every previously-labeled id, every new-edge endpoint, and
    // (via `newNodes`) the batch's edge-LESS documents: prior singletons
    // keep their label, brand-new nodes get one, and a novel doc with no
    // candidate pair still comes back as a singleton of itself
    val allNodes = components.select(col("id").cast("long").as("id"))
      .union(newE.select(col("src").as("id")))
      .union(newE.select(col("dst").as("id")))
      .union(newNodes.fold(newE.select(col("src").as("id")).limit(0)) {
        case (df, c) => df.select(col(c).cast("long").as("id"))
      })
    connectedComponents(starEdges.union(newE), "src", "dst",
      nodes = Some((allNodes, "id")),
      maxIter = maxIter)
  }

  /** Single-source (or multi-source) shortest hop distances — BFS over a
    * DIRECTED edge list: (id, dist) for every node reachable from
    * `sources` within `maxHops`, where dist is the minimum hop count
    * from any source (sources themselves at 0). Unreached nodes are
    * OMITTED (emitting the whole node set would force an output row per
    * corpus node for what is usually a local neighborhood; callers
    * left-join if they want nulls). Undirected reachability = pass both
    * edge directions.
    *
    * Level-synchronous frontier expansion — the textbook distributed
    * BFS: each round joins the CURRENT FRONTIER (only newly-reached
    * nodes, never the full visited set) against the edge list, anti-joins
    * out already-visited nodes, and stops early when the frontier
    * empties. Work per round is O(frontier out-edges); total O(edges
    * within the horizon). Per-round [[Materialize]] truncates lineage
    * exactly as [[connectedComponents]];
    * the empty-frontier test rides the checkpoint's materialization
    * (one action per round). Self-loops and duplicate edges are
    * harmless: a revisited node is anti-joined away. */
  def hopDistances(edges: DataFrame, sources: DataFrame,
                   srcCol: String = "src", dstCol: String = "dst",
                   sourceCol: String = "id", maxHops: Int = 20): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    var frontier = Materialize(
      sources.select(col(sourceCol).cast("long").as("id")).distinct())
    var dist = frontier.select(col("id"), lit(0L).as("dist"))
    var hop = 0
    var frontierEmpty = frontier.limit(1).isEmpty
    while (!frontierEmpty && hop < maxHops) {
      hop += 1
      val next = Materialize(
        frontier.join(e, frontier("id") === e("src"))
          .select(col("dst").as("id")).distinct()
          .join(dist, Seq("id"), "left_anti"))
      frontierEmpty = next.limit(1).isEmpty
      if (!frontierEmpty) {
        // the visited set re-materializes per level — the Pregel
        // vertex-state-per-superstep cost, O(visited) per round. The
        // alternative (a lazy union of per-level frontier checkpoints)
        // avoids the rewrite but deepens the anti-join plan by one scan
        // per level, and measured ~1.5× SLOWER at sf0.1 (scheduling
        // dominates tiny scans); depth is bounded by maxHops either way
        dist = Materialize(
          dist.union(next.select(col("id"), lit(hop.toLong).as("dist"))))
        frontier = next
      }
    }
    dist
  }

  /** k-core decomposition (one k): the maximal subgraph where every node
    * has >= k neighbors WITHIN the subgraph — the standard density gate
    * for web/link corpora (link farms and spam rings survive high-k
    * cores; the periphery peels away) and a community-detection
    * preconditioner. Edges are undirected (canonicalized, self-loops and
    * duplicates dropped — a parallel edge must not double a degree).
    * Returns (id, degree) for every core member, degree counted INSIDE
    * the core.
    *
    * Iterative peeling: drop all nodes of degree < k, recompute degrees,
    * repeat to fixpoint. Peeling only ever REMOVES edges, so the
    * edge-count action each round is an exact convergence test (count
    * stable on a monotone set implies set stable). Rounds are bounded by
    * the longest peel cascade — in practice a handful; each is one
    * degree aggregation + two semi-joins, all keyed shuffles (no
    * corpus-wide single-partition step), with per-round lineage
    * truncation as in [[connectedComponents]]. */
  def kCore(edges: DataFrame, k: Int, srcCol: String = "src",
            dstCol: String = "dst", maxIter: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var e = Materialize(canonical(edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))))
    var nEdges = e.count()
    var converged = nEdges == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val keep = bothDirs(e).groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k).select("id")
      val next = Materialize(
        e.join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst"))
      val n = next.count()
      converged = n == nEdges
      e = next
      nEdges = n
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore did not converge in $maxIter rounds — a peel cascade " +
        "longer than maxIter; raise maxIter")
    bothDirs(e).groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
  }

  /** Synchronous label propagation — community detection beside
    * [[connectedComponents]] (which finds *reachability*; LPA finds
    * *densely linked* groups inside one component) and [[pageRank]]
    * (node importance). Every node starts labeled with its own id; each
    * round, every node adopts the most frequent label among its
    * NEIGHBORS, ties broken by the smallest label — the deterministic
    * synchronous variant (Raghavan et al. 2007's async coin-flips would
    * never hash-reproduce across engines or runs). Isolated nodes keep
    * their own label. Fixed `iterations` (communities stabilize in a few
    * rounds; synchronous LPA can 2-cycle on bipartite structure, so a
    * fixed budget IS the convergence policy, same as [[pageRank]]).
    *
    * Scale shape (the [[pageRank]] loop discipline): per round ONE
    * (node, label) count aggregation over the edge-join — map-side
    * combined — then a second, strictly smaller aggregation collapses
    * each node's vote via `min_by(label, (-cnt, label))`; both
    * partial-aggregate (a row_number window could not). A left join
    * against the node set keeps isolated nodes. Per-round
    * [[Materialize]] truncates lineage.
    * Labels are node ids (longs) — `min_by` on the (-cnt, label) struct
    * is exact integer comparison, no float grids involved.
    *
    * Output: (id, label) — nodes sharing a label form one community. */
  def labelPropagation(edges: DataFrame, srcCol: String = "src",
                       dstCol: String = "dst", iterations: Int = 5,
                       nodes: Option[(DataFrame, String)] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // undirected neighbor list, self-loops dropped, parallel edges
    // collapsed (a duplicate edge must not double a vote)
    val e = bothDirs(canonical(edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))))
    val nodeIds = Materialize({
      val fromEdges = e.select(col("src").as("id")).distinct()
      nodes.fold(fromEdges) { case (df, c) =>
        fromEdges.union(df.select(col(c).cast("long").as("id"))).distinct()
      }
    })
    var labels = nodeIds.select(col("id"), col("id").as("label"))
    for (_ <- 1 to iterations) {
      val votes = e.join(labels, e("dst") === labels("id"))
        .select(e("src").as("__v"), col("label").as("__l"))
        .groupBy(col("__v"), col("__l")).agg(count(lit(1)).as("__cnt"))
        .groupBy(col("__v"))
        .agg(min_by(col("__l"),
          struct((col("__cnt") * -1).as("nc"), col("__l"))).as("__new"))
      labels = Materialize(
        labels.join(votes, labels("id") === votes("__v"), "left")
          .select(col("id"), coalesce(col("__new"), col("label")).as("label")))
    }
    labels
  }

  /** Adamic–Adar link prediction: score non-adjacent node pairs by
    * Σ_{z ∈ N(a)∩N(b)} 1/ln(deg(z)) — common neighbors weighted down by
    * how promiscuous they are (a shared hub says little; a shared
    * degree-2 node says a lot).
    *
    * Plan: the undirected neighbor list keyed by the common neighbor z
    * self-joins on z (`nbr_a < nbr_b` halves the output), anti-joins the
    * existing canonical edges, then aggregates per pair. Every stage
    * shuffles on z or on the pair — never all-pairs.
    *
    * The z-self-join emits deg(z)² candidates per node, so hubs are the
    * scale hazard: `maxDegree` drops z's above the cap BEFORE the join
    * (one degree agg + a filter). That is standard for this score —
    * a hub's 1/ln(deg) contribution is asymptotically noise, and capping
    * bounds the join at maxDegree × |edges| whatever the degree
    * distribution (the same valve as SetSimJoin's maxBlockSize).
    *
    * Determinism: 1/ln(deg) rounds to the 9-grid before the DECIMAL sum
    * (associative — no double reassociation hazard).
    *
    * Output: (a, b, aa_score DOUBLE round-6, n_common) for pairs with at
    * least one common neighbor, NOT already connected.
    */
  def adamicAdar(edges: DataFrame, srcCol: String = "src",
                 dstCol: String = "dst", maxDegree: Int = 10000): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val canon = canonical(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val und = bothDirs(canon)
    val deg = und.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    val nb = und.select(col("src").as("z"), col("dst").as("nbr"))
      .join(deg.filter(col("deg") <= maxDegree)
        .select(col("id").as("z"), col("deg")), "z")
    val cand = nb.select(col("z"), col("nbr").as("a"), col("deg"))
      .join(nb.select(col("z"), col("nbr").as("b")), "z")
      .filter(col("a") < col("b"))
    cand
      .join(canon.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
      .groupBy(col("a"), col("b"))
      .agg(round(sum(round(lit(1.0) / log(col("deg").cast("double")), 9)
          .cast("decimal(28,9)")).cast("double"), 6).as("aa_score"),
        count(lit(1)).as("n_common"))
  }

  /** Single-source weighted shortest paths (Bellman–Ford supersteps):
    * min-plus relaxation rounds over non-negative integer weights.
    *
    * Each round relaxes ONLY the frontier — nodes whose distance
    * improved last round — against their out-edges (one keyed join),
    * then min-merges candidates into the distance table (one keyed
    * agg + join). Work per round is O(frontier out-edges), the
    * [[hopDistances]] BFS shape generalized to weights; convergence is
    * exact (an empty improvement set is the fixpoint, reached in at
    * most |V|−1 rounds on any graph without negative cycles; weights
    * are assumed non-negative — `maxIter` bounds the rounds
    * regardless). Per-round lineage truncation via localCheckpoint as
    * in every iterative operator here.
    *
    * Output: (id, dist) for every node reachable from `source`.
    */
  def shortestPaths(edges: DataFrame, source: Long,
                    srcCol: String = "src", dstCol: String = "dst",
                    weightCol: String = "w",
                    maxIter: Int = 50): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // lazy: the frontier-empty test materializes each truncation
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(weightCol).cast("long").as("w"))
    val spark = edges.sparkSession
    import spark.implicits._
    var dist = Materialize(Seq((source, 0L)).toDF("id", "dist"))
    var frontier = dist
    var it = 0
    var done = frontier.limit(1).isEmpty
    while (!done && it < maxIter) {
      it += 1
      val candidates = frontier.join(e, frontier("id") === e("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("dist") + col("w")).as("cand"))
      val improved = Materialize(
        candidates.join(dist, Seq("id"), "left")
          .filter(col("dist").isNull || col("cand") < col("dist"))
          .select(col("id"), col("cand").as("dist")))
      done = improved.limit(1).isEmpty
      if (!done) {
        dist = Materialize(
          dist.join(improved.select(col("id")), Seq("id"), "left_anti")
            .union(improved))
        frontier = improved
      }
    }
    dist
  }

  /** HITS hubs & authorities (Kleinberg) — the DIRECTED complement to
    * [[pageRank]]'s single importance score: an authority is pointed
    * at by good hubs, a hub points at good authorities (citation
    * corpora, link farms, crawl frontiers distinguish the two roles;
    * PageRank conflates them). Mutual recursion a(v) = Σ_{u→v} h(u),
    * h(u) = Σ_{u→v} a(v), each vector L1-normalized per half-step —
    * L1, not the textbook L2, so the normalizer is an EXACT DECIMAL
    * sum of 9-grid scores and the iteration stays bit-reproducible
    * (any norm preserves the ranking fixpoint).
    *
    * Same execution discipline as [[pageRank]]: per half-step one
    * endpoint-keyed contribution join + one DECIMAL(28,9) sum, the
    * normalizer a 1-row broadcast (never a driver collect), per-round
    * lineage truncation. Duplicate edges contribute multiply
    * (multigraph semantics — pre-`distinct` to change that); nodes
    * without in-edges (out-edges) hold authority (hub) exactly 0.
    *
    * Returns (id, hub, authority) rounded 6 for every edge endpoint.
    * Requires at least one edge (normalizers are positive). */
  def hits(edges: DataFrame, srcCol: String = "src",
           dstCol: String = "dst", iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = Materialize(edges
      .select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst"))
      .filter(col("__src").isNotNull && col("__dst").isNotNull))
    val nodes = Materialize(e.select(col("__src").as("id"))
      .unionByName(e.select(col("__dst").as("id")))
      .distinct())
    val dec = (c: Column) => round(c, 9).cast("decimal(28,9)")
    def normalize(raw: DataFrame, valCol: String, outCol: String): DataFrame = {
      val total = raw.agg(sum(col(valCol)).as("__tot"))
      nodes.join(raw, Seq("id"), "left")
        .crossJoin(broadcast(total))
        .select(col("id"),
          round(coalesce(col(valCol).cast("double"), lit(0.0)) /
            col("__tot").cast("double"), 9).as(outCol))
    }
    var h = nodes.withColumn("__h", lit(1.0))
    var a = nodes.withColumn("__a", lit(0.0))
    for (_ <- 1 to iterations) {
      val araw = e
        .join(h.select(col("id").as("__src"), col("__h")), "__src")
        .groupBy(col("__dst").as("id"))
        .agg(sum(dec(col("__h"))).as("__ar"))
      a = Materialize(normalize(araw, "__ar", "__a"))
      val hraw = e
        .join(a.select(col("id").as("__dst"), col("__a")), "__dst")
        .groupBy(col("__src").as("id"))
        .agg(sum(dec(col("__a"))).as("__hr"))
      h = Materialize(normalize(hraw, "__hr", "__h"))
    }
    h.join(a, Seq("id"))
      .select(col("id"), round(col("__h"), 6).as("hub"),
        round(col("__a"), 6).as("authority"))
  }

  /** Newman modularity of a GIVEN node partition — the quality score
    * for [[labelPropagation]]/[[connectedComponents]] outputs (or any
    * domain grouping): per community c, contribution
    * Q_c = L_c/m − (D_c/2m)² with L_c the intra-community edge count,
    * D_c the community's degree sum and m the edge count; Q = Σ Q_c,
    * 0 for random structure, → 1 for dense isolated communities.
    *
    * Graph semantics: undirected simple — edges canonicalize to
    * (least, greatest), duplicates collapse, self-loops drop. The
    * score is of the LABELED subgraph: an edge with an unlabeled
    * endpoint drops (and degrees recompute over what is kept), so
    * partial labelings score the part they cover. All arithmetic is
    * exact-integer counts into two double divisions rounded 6 —
    * engine-stable. Shape: one edge canonicalization, two broadcast-
    * able label joins, two count aggs — no iteration.
    *
    * Output per community: (community, n_nodes, intra_edges,
    * degree_sum, contribution); Σ contribution is Q. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, labelIdCol: String,
                 labelCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("__u"),
        greatest(col(srcCol), col(dstCol)).as("__v"))
      .filter(col("__u").isNotNull && col("__v").isNotNull &&
        col("__u") =!= col("__v"))
      .distinct()
    val lab = labels.select(col(labelIdCol).as("__n"),
        col(labelCol).as("__c"))
      .filter(col("__n").isNotNull && col("__c").isNotNull)
    val labeled = canon
      .join(lab.select(col("__n").as("__u"), col("__c").as("__cu")), "__u")
      .join(lab.select(col("__n").as("__v"), col("__c").as("__cv")), "__v")
    val m = labeled.agg(count(lit(1)).as("__m"))
    val degBySide = labeled.select(col("__u").as("__n"), col("__cu").as("__c"))
      .unionAll(labeled.select(col("__v").as("__n"), col("__cv").as("__c")))
    val comm = degBySide.groupBy(col("__c"))
      .agg(count_distinct(col("__n")).as("n_nodes"),
        count(lit(1)).as("degree_sum"))
    val intra = labeled.filter(col("__cu") === col("__cv"))
      .groupBy(col("__cu").as("__c"))
      .agg(count(lit(1)).as("intra_edges"))
    comm.join(intra, Seq("__c"), "left").crossJoin(broadcast(m))
      .select(col("__c").as("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        round(coalesce(col("intra_edges"), lit(0L)).cast("double") /
            col("__m") -
          (col("degree_sum").cast("double") / (lit(2.0) * col("__m"))) *
            (col("degree_sum").cast("double") / (lit(2.0) * col("__m"))),
          6).as("contribution"))
  }

  /** Strongly connected components of the DIRECTED graph — the
    * directed sibling [[connectedComponents]] cannot express (CC
    * symmetrizes; mutual reachability does not): cycle detection in
    * dependency/link graphs, condensation before any DAG-only
    * algorithm. Returns (id, component) for every node appearing in
    * an edge (plus `nodes` singletons), component = the minimum node
    * id of the SCC.
    *
    * Algorithm: iterative trim + forward-min coloring + backward mark
    * (Orzan's coloring, the standard distributed SCC): each outer
    * round (1) TRIMS vertices with no remaining in- or out-edges as
    * singleton SCCs (eats DAG mass — a pure path peels entirely
    * through trims), (2) propagates min ids FORWARD to a fixpoint —
    * c(v) = the least id that reaches v, so every color root r
    * (c(r) = r) anchors exactly the SCC {v : c(v) = r ∧ v reaches r},
    * (3) marks that set BACKWARD along in-edges WITHIN the color and
    * extracts it. Each round extracts at least the SCC of the least
    * remaining id, so termination is guaranteed; rounds scale with
    * the SCC-DAG chain depth and propagation with the directed
    * diameter (the known bounds for label-propagation SCC — there is
    * no O(log n) pointer-doubling trick on directed reachability).
    * Every step is a keyed join/agg; per-step lineage truncation
    * follows the [[connectedComponents]] discipline; fixpoints detect via xxhash64 fingerprints /
    * monotone counts, never a collect of the frontier.
    *
    * Contract: self-loops and duplicate edges tolerated (a self-loop
    * never makes a cycle by itself); `maxIter` bounds EACH loop
    * (outer rounds and both inner fixpoints) and overflow throws
    * rather than returning a partial labeling. */
  def stronglyConnectedComponents(edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      nodes: Option[(DataFrame, String)] = None,
      maxIter: Int = 100): DataFrame = {
    // LAZY checkpoints throughout (r18): each was an EAGER one — a
    // scheduled job of its own — but every one of these frames is
    // followed by a count()/fingerprint or consumed by the next round's
    // first job, which materializes the lazy checkpoint for free. Same
    // truncated lineage, roughly half the driver jobs per outer round
    // (the toy-scale wall here is job scheduling, not shuffle work — the
    // CC round-batching finding).
    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // the vertex set keeps self-loop-only nodes; the edge set drops
    // self-loops (never cycle-forming) before everything
    var rem = Materialize(raw.select(col("src").as("id"))
      .union(raw.select(col("dst").as("id"))).distinct())
    var e = Materialize(
      raw.filter(col("src") =!= col("dst")).distinct())
    var doneParts = List.empty[DataFrame]
    var outer = 0
    var remCount = rem.count()
    while (remCount > 0 && outer < maxIter) {
      val srcs = e.select(col("src").as("id")).distinct()
      val dsts = e.select(col("dst").as("id")).distinct()
      val trimmed = Materialize(
        rem.join(srcs, Seq("id"), "left_anti")
          .union(rem.join(dsts, Seq("id"), "left_anti")).distinct())
      doneParts ::= trimmed.select(col("id"), col("id").as("component"))
      val rem2 = Materialize(rem.join(trimmed, Seq("id"), "left_anti"))
      val rem2Count = rem2.count()
      if (rem2Count > 0) {
        val e2 = Materialize(e
          .join(rem2.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(rem2.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
        // forward min-id coloring to fixpoint. TWO propagation steps
        // per materialized round, each intermediate a LAZY checkpoint
        // materialized through the convergence fingerprint — one
        // driver job per round instead of four (the CC round-batching
        // + fingerprint-materializes-checkpoint discipline; the toy-scale
        // wall here is job-scheduling overhead, not shuffle work). Worst
        // case one redundant fixpoint round, paid once.
        def colorStep(c: DataFrame): DataFrame = {
          val contrib = e2
            .join(c.select(col("id").as("src"), col("c").as("__cs")),
              Seq("src"))
            .groupBy(col("dst").as("id")).agg(min(col("__cs")).as("__cin"))
          c.join(contrib, Seq("id"), "left")
            .select(col("id"),
              least(col("c"), coalesce(col("__cin"), col("c"))).as("c"))
        }
        def colorSig(c: DataFrame): Seq[Any] =
          c.agg(count(lit(1)), sum(xxhash64(col("id"), col("c"))
            .cast("decimal(38,0)"))).collect()(0).toSeq
        var colors = Materialize(rem2.select(col("id"), col("id").as("c")))
        var sig = colorSig(colors)
        var stable = false
        var cIter = 0
        while (!stable && cIter < maxIter) {
          val half = Materialize(colorStep(colors))
          val next = Materialize(colorStep(half))
          val nextSig = colorSig(next)
          stable = nextSig == sig
          colors = next; sig = nextSig
          cIter += 2
        }
        if (!stable) throw new IllegalStateException(
          s"SCC forward coloring did not converge in $maxIter rounds " +
          "(directed diameter exceeds maxIter?)")
        // backward mark within color from the roots; the monotone
        // marked count doubles as materializer and convergence test
        def markStep(m: DataFrame): DataFrame = {
          val step = e2
            .join(m.select(col("id").as("dst"), col("component")),
              Seq("dst"))
            .select(col("src").as("id"), col("component"))
            .join(colors, Seq("id"))
            .filter(col("c") === col("component"))
            .select(col("id"), col("component"))
          m.union(step).distinct()
        }
        var marked = Materialize(colors.filter(col("id") === col("c"))
          .select(col("id"), col("c").as("component")))
        var mCount = marked.count()
        var grown = true
        var mIter = 0
        while (grown && mIter < maxIter) {
          val half = Materialize(markStep(marked))
          val next = Materialize(markStep(half))
          val nCount = next.count()
          grown = nCount != mCount
          marked = next; mCount = nCount
          mIter += 2
        }
        if (grown) throw new IllegalStateException(
          s"SCC backward marking did not converge in $maxIter rounds")
        doneParts ::= marked
        rem = Materialize(rem2.join(marked, Seq("id"), "left_anti"))
        e = Materialize(e2
          .join(marked.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(marked.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .select(col("src"), col("dst")))
      } else {
        rem = rem2
        e = Materialize(e.limit(0))
      }
      remCount = rem.count()
      outer += 1
    }
    if (remCount > 0) throw new IllegalStateException(
      s"stronglyConnectedComponents did not finish in $maxIter outer " +
      "rounds (SCC-DAG chain deeper than maxIter?)")
    val fromEdges =
      if (doneParts.isEmpty) rem.select(col("id"), col("id").as("component"))
      else doneParts.reduce(_ unionAll _)
    nodes match {
      case None => fromEdges
      case Some((n, idCol)) =>
        val ids = n.select(col(idCol).cast("long").as("id")).distinct()
        ids.join(fromEdges, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("component"), col("id")).as("component"))
    }
  }
}
