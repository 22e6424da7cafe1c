package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond [[Dedup.connectedComponents]]'s
  * min-label propagation: PageRank over an edge list, in EXACT integer
  * arithmetic so every round is oracle-able as an unrolled SQL CTE
  * (the `kmeans_train` device).
  *
  * Integer formulation: ranks live in micro units (start 10^6 per
  * node); one round is
  *
  *   rank' = 150000 + (Σ_in (rank div outdeg) · 17) div 20
  *
  * i.e. damping 0.85 and teleport 0.15 as the integer cross-multiplies
  * (x·17) div 20 and (10^6·15) div 100 — floor division on non-negative
  * longs is identical in Spark (`div`) and DuckDB (`//`). Headroom: the
  * total rank mass stays ≤ N·10^6, so the ·17 step stays under int64
  * past 10^11 nodes.
  *
  * Scale posture per round: edges pre-joined with out-degrees ONCE and
  * cached (registered with [[Caches]], released between queries);
  * each round is one shuffle join of the rank table into
  * that edge layout keyed by src + one partial-aggregated sum keyed by
  * dst — with a round cut through [[Loop]] every 5th round (see
  * [[CutEvery]]).
  */
object Graph {

  /** Per-node triangle counts over an UNDIRECTED graph (edges may be
    * passed in either or both directions; they are canonicalized to
    * src < dst first). The count is exact and each triangle is
    * enumerated ONCE via the ordered orientation a < b < c — at the
    * canonical edge (a, b), every common element of the two
    * higher-neighbor sets closes a distinct triangle.
    *
    * Scale posture — compact-forward, NOT a wedge join: the naive
    * wedge build materializes Σ deg_lo·deg_hi rows through a shuffle
    * (measured 49M wedges from 1.2M edges on the clique-dense
    * co-purchase graph at sf0.1). Instead the higher-neighbor
    * adjacency (one groupBy of the canonical edges) joins back to the
    * edge list TWICE — edge-count-sized rows only — and each edge
    * intersects two sorted in-row arrays (`array_intersect`, linear in
    * degree sum); the per-corner contributions explode from that one
    * frame in a single pass. Hot hubs are bounded by the orientation:
    * a vertex's higher-neighbor set holds only larger-keyed neighbors.
    * Output: (node, n_triangles), one row per node on ≥1 triangle.
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // the canonical edge list feeds the adjacency build AND two probe
    // arms — materialize once (MEMORY_AND_DISK: an edge list can
    // exceed memory; spilling beats recomputing its lineage).
    //
    // Deliberately NOT hash-partitioned on `a` (the r13 bfs/k-core
    // insurance pattern): r14 measured both repartition placements and
    // each was strictly worse — the per-edge intersect work (∝ the
    // endpoint degrees) piles onto the hub vertices' partitions under
    // hash(a), 46 s → 271–866 s task time at sf0.1 for +0.5M shuffle
    // records, while the distinct's (a, b) hash keeps that work evenly
    // spread. The broadcast-flip cost this declines to insure (one
    // extra edge exchange when `adj` outgrows the broadcast threshold,
    // SOAK_r13's 19.5x-records-at-10x point, linear past the flip) is
    // the cheaper side of the trade on a skewed-degree graph: records
    // are a constant 2x, CPU balance is not.
    val und = Caches.register(edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val adj = und.groupBy(col("a").as("node"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    val withCommon = und
      .join(adj.select(col("node").as("a"), col("nbrs").as("na")), "a")
      .join(adj.select(col("node").as("b"), col("nbrs").as("nb")), "b")
      .withColumn("common", array_intersect(col("na"), col("nb")))
      .filter(size(col("common")) > 0)
    // one pass: corner a and corner b each credit |common| triangles,
    // every common c credits one
    val contrib = withCommon.select(explode(concat(
        array(struct(col("a").as("node"), size(col("common")).cast("long").as("n")),
          struct(col("b").as("node"), size(col("common")).cast("long").as("n"))),
        transform(col("common"), c => struct(c.as("node"), lit(1L).as("n"))))).as("e"))
      .select(col("e.node").as("node"), col("e.n").as("n"))
    contrib.groupBy(col("node")).agg(sum(col("n")).as("n_triangles"))
  }

  /** Every `CutEvery`-th round but the last is cut through [[Loop]];
    * the rounds between stay lazy, so a short run (the suite's 3
    * rounds) runs no cut job at all.
    * The price is plan growth between cuts: only a pageRank round reads
    * its predecessor once, so only its uncut plan grows linearly;
    * labelPropagation, bfsHops and kCorePeel rounds read it more than
    * once and their uncut plans grow geometrically (kCorePeel fastest),
    * which the cadence caps at 5 rounds.
    */
  private val CutEvery = 5

  /** BFS hop distances from a seed set over a DIRECTED edge list (pass
    * both directions for undirected reachability): after `rounds`
    * expansions every node whose shortest path from any seed is
    * ≤ `rounds` carries that exact distance; unreached nodes are
    * absent. Each round expands ONLY the frontier — the nodes first
    * reached in the previous round (`hops === round`) — not the whole
    * reached set: a node at distance d is discovered exactly when the
    * distance-(d−1) frontier expands, and re-expanding older nodes can
    * only produce distances the min-fold already beat, so the result
    * is identical while the per-round edge join shrinks from
    * |reached-so-far| to |new frontier|. Honest accounting: on the
    * clique-dense co-purchase graph the win is ~nil (hop 2 already
    * reaches every node, so the last frontier IS the graph — measured
    * identical shuffle volume, 2.63M records either way at sf0.1); the
    * discipline matters on large-diameter graphs — k-hop reachability
    * over a road/citation network — where re-expanding the whole
    * reached set every round multiplies the join by the round count.
    * It never loses: the frontier is a subset of the reached set. Same
    * exact-arithmetic / unrolled-CTE oracle shape as [[pageRank]],
    * with the same [[Loop]] cut cadence.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, rounds: Int = 3,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node"): DataFrame = {
    require(rounds >= 1, s"bfsHops: rounds must be >= 1, got $rounds")
    // persist the edge list ALREADY hash-partitioned on the probe key:
    // the cached layout (InMemoryRelation preserves outputPartitioning)
    // satisfies every round's join requirement, so the rounds shuffle
    // only frontiers, never the edges. Without this, any round whose
    // frontier outgrows the broadcast threshold re-shuffles the whole
    // edge list — measured 102M shuffle records vs 10M at the soak's
    // 10x corpus (the frontier after hop 1 is graph-sized there)
    val e = Caches.register(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("hops", lit(0L))
    val cuts = new Loop
    var round = 0
    while (round < rounds) {
      // the frontier: nodes whose exact distance IS `round` (first
      // reached by the previous expansion; round 0 = the seeds).
      // SHUFFLE_HASH on the frontier side: the cached edge layout
      // already satisfies the join's partitioning, and a hash build
      // over the (small) frontier probes the edges with NO sort — the
      // default sort-merge would re-sort the full cached edge
      // partitions every round (sort order, unlike partitioning, is
      // not preserved by the cache). MEMORY TRADE (r13 advice): the
      // hash build holds one partition of the frontier in memory, and
      // on a dense graph the frontier after hop 1 can be graph-sized —
      // a build partition that outgrows execution memory fails where
      // sort-merge would spill. Accepted deliberately: the frontier is
      // |V|-bounded (node, hops) rows — narrow — while the per-round
      // re-sort SMJ would pay covers the |E|-sized edge cache; size
      // the shuffle partition count so |V|/partitions fits, and drop
      // the hint (accepting the re-sort) only if a deployment sees
      // build-side OOMs here.
      val expanded = e.join(dist.filter(col("hops") === lit(round.toLong))
          .withColumnRenamed("node", "src").hint("SHUFFLE_HASH"), "src")
        .select(col("dst").as("node"), (col("hops") + lit(1L)).as("hops"))
      val next = dist.unionByName(expanded)
        .groupBy(col("node")).agg(min(col("hops")).as("hops"))
      round += 1
      dist = if (round % CutEvery == 0 && round < rounds) cuts.cut(next)._1 else next
    }
    cuts.keep()
    dist
  }

  /** PageRank over a DIRECTED edge list (pass both directions for an
    * undirected graph), optionally WEIGHTED: with a `weightCol`, a
    * node's rank flows to each out-neighbor proportional to the edge
    * weight — contrib = (rank · w) div Σ out-weights, still pure floor
    * arithmetic, and the unweighted path is EXACTLY the w = 1 special
    * case ((rank · 1) div outdeg), so one implementation serves both.
    * Headroom: rank · w_max must stay under 2^63 (rank mass ≤ N·10^6).
    * Nodes with no in-edges settle at the teleport mass; dangling nodes
    * (no out-edges) contribute nothing, and a duplicated edge counts
    * twice in both out-weight and contribution (multigraph semantics —
    * dedupe upstream for simple-graph ranks) — standard
    * simplifications, stated rather than hidden. Output:
    * (node, rank_micros) after `iters` rounds.
    */
  def pageRank(edges: DataFrame, iters: Int = 3, srcCol: String = "src",
      dstCol: String = "dst", weightCol: String = ""): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    val w = if (weightCol.isEmpty) lit(1L) else col(weightCol).cast("long")
    // materialize the edge list ONCE: nodes, out-weights, and the probe
    // layout all derive from it — without this the caller's (possibly
    // expensive) edge derivation re-runs for each derived frame
    val e = Caches.register(edges.select(col(srcCol).as("src"),
        col(dstCol).as("dst"), w.as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nodes = Caches.register(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache())
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    // the per-round probe layout, built once: (src, dst, w, wsum) —
    // cached HASH-PARTITIONED on src (when outw broadcasts, the join
    // output would otherwise inherit the scan's arbitrary layout), so
    // every round's rank join consumes the cache's partitioning and
    // the edge layout is never re-shuffled, whatever size the rank
    // table grows to (the bfsHops/kCorePeel lesson: rank tables
    // outgrow the broadcast threshold long before 100 TB)
    val eo = Caches.register(e.join(outw, "src").repartition(col("src")).cache())
    var ranks = nodes.withColumn("rank", lit(1000000L))
    val cuts = new Loop
    var iter = 0
    while (iter < iters) {
      val inc = eo.join(ranks.withColumnRenamed("node", "src")
          .hint("SHUFFLE_HASH"), "src")
        .select(col("dst").as("node"), expr("(rank * w) div wsum").as("contrib"))
        .groupBy(col("node")).agg(sum(col("contrib")).as("inc"))
      val next = nodes.join(inc, Seq("node"), "left")
        .select(col("node"),
          expr("CAST(150000 AS BIGINT) + (coalesce(inc, CAST(0 AS BIGINT)) * 17) div 20")
            .as("rank"))
      iter += 1
      ranks = if (iter % CutEvery == 0 && iter < iters) cuts.cut(next)._1 else next
    }
    cuts.keep()
    ranks.select(col("node"), col("rank").as("rank_micros"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007, made
    * DETERMINISTIC): every node starts labeled with itself; each round,
    * every node with in-neighbors adopts the most frequent label among
    * them, ties broken by SMALLEST label — no randomness, so rounds
    * unroll exactly in the DuckDB oracle and re-runs agree
    * bit-for-bit. Direction matters: labels flow src → dst; pass an
    * undirected graph as both edge directions (the co-purchase
    * builders' `ordered = false` form). Nodes with no in-edges keep
    * their own label. The classic community-detection sweep at 100 TB
    * scale: each round is one join + one (node, label) count + one
    * per-node argmax — all hash exchanges on node ids, no windows over
    * skewed keys (argmax is a max_by aggregate, map-side combined),
    * with [[pageRank]]'s [[Loop]] cut cadence.
    *
    * Output: (node, label) after `rounds` rounds — nodes sharing a
    * label are one community.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 3,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(rounds >= 1, s"labelPropagation: rounds must be >= 1, got $rounds")
    // cached hash-partitioned on src (distinct leaves (src, dst)
    // partitioning): every round's label join reuses the layout — same
    // rationale as pageRank's eo
    val e = Caches.register(edges.select(col(srcCol).as("src"),
        col(dstCol).as("dst")).distinct().repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nodes = Caches.register(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache())
    var labels = nodes.withColumn("label", col("node"))
    val cuts = new Loop
    var iter = 0
    while (iter < rounds) {
      // votes: each in-neighbor's CURRENT label, counted per (dst, label)
      val votes = e.join(labels.withColumnRenamed("node", "src")
          .hint("SHUFFLE_HASH"), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("n"))
      // argmax with the smallest-label tie-break, as ONE max_by over an
      // order-embedding struct (count desc ⇒ n first; label asc ⇒
      // negated... labels are ids of unknown sign, so embed via a
      // two-field struct compared lexicographically: (n, -1·rank) is
      // unavailable without a total negate — use min_by on (-n, label))
      val adopted = votes.groupBy(col("node"))
        .agg(min_by(col("label"), struct((-col("n")).as("a"),
          col("label").as("b"))).as("adopt"))
      val next = labels.join(adopted, Seq("node"), "left")
        .select(col("node"), coalesce(col("adopt"), col("label")).as("label"))
      iter += 1
      labels = if (iter % CutEvery == 0 && iter < rounds) cuts.cut(next)._1 else next
    }
    cuts.keep()
    labels
  }

  /** Bounded k-core peel (Seidman 1983 degeneracy peeling, unrolled):
    * `rounds` synchronous rounds of "remove every node whose degree in
    * the CURRENT subgraph is < k". Peeling is monotone and idempotent
    * past convergence, so a fixed round count stays oracle-unrollable
    * (no data-dependent early stop to desynchronize engines) — when a
    * round removes nothing the remaining set IS the exact k-core, and
    * extra rounds change nothing. Input edges are symmetrized and
    * deduped (core degree is undirected). Output: (node, peeled_round)
    * with 0 = survives all rounds, r = removed in round r — the
    * "peel depth" a curation pipeline uses to rank how peripheral a
    * node is. Each round is two alive-semijoins + one degree aggregate
    * on node keys; [[pageRank]]'s [[Loop]] cut cadence.
    *
    * `symmetric = true` is the pre-canonicalized contract: the caller
    * vouches the edge list ALREADY holds each undirected edge exactly
    * once per direction — (a,b) and (b,a) both present, no duplicate
    * rows, no self-loops — so the symmetrize-union and the full-edge
    * `distinct()` (one shuffle over 2|E| rows, the single largest
    * constant in the peel at bench scale) are skipped. An edge list
    * built by a groupBy over both ordered pairs (e.g. the co-purchase
    * build) satisfies it by construction; when in doubt leave it
    * false — a violated contract silently inflates degrees.
    */
  def kCorePeel(edges: DataFrame, k: Long, rounds: Int = 3,
      srcCol: String = "src", dstCol: String = "dst",
      symmetric: Boolean = false): DataFrame = {
    require(k >= 1, s"kCorePeel: k must be >= 1, got $k")
    require(rounds >= 1, s"kCorePeel: rounds must be >= 1, got $rounds")
    val dir0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val canon = if (symmetric) dir0
      else dir0.unionAll(dir0.select(col("dst").as("src"),
        col("src").as("dst"))).distinct()
    // cache the (symmetric) edge list hash-partitioned on src: the
    // degree build (groupBy src), EVERY round's decrement join (probe
    // on src — see below), and the final node distinct all consume
    // that one layout from the cache, so no round ever re-shuffles the
    // edge list (the bfsHops lesson: at 10x the removal frontier
    // outgrows the broadcast threshold and each round would otherwise
    // pay a full-edge exchange)
    val e = Caches.register(canon.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // DELTA peeling (the Matula–Beck shape): the full degree table is
    // computed ONCE; each later round only touches edges incident to
    // the nodes removed in the PREVIOUS round (decrement their
    // neighbors' degrees) — round cost is proportional to the peel
    // frontier, never the whole graph, which is what survives a 100 TB
    // edge list. Synchronous-round semantics are unchanged: degree
    // within alive_{r−1} = deg_{r−1} − (neighbors removed in round
    // r−1), exactly.
    var degAlive = Caches.register(e.groupBy(col("src")).agg(count(lit(1))
      .as("deg")).withColumnRenamed("src", "node").cache())
    def removals(deg: DataFrame, round: Long): DataFrame =
      deg.filter(col("deg") < k).select(col("node"), lit(round).as("peeled_round"))
    var removed = removals(degAlive, 1L)
    var peeled = removed
    // two iterated lineages, the peeled labels and the live degrees
    // (the next round's removals are a filter of them)
    val peelCuts = new Loop
    val degCuts = new Loop
    var iter = 1
    while (iter < rounds) {
      iter += 1
      degAlive = degAlive.join(removed.select(col("node")), Seq("node"),
        "left_anti")
      // probe on SRC, not dst: the list is symmetric (both branches
      // above guarantee it), so "edges whose dst was removed,
      // decrement src" ≡ "edges whose src was removed, decrement dst"
      // — and the src probe reuses the cached partitioning. The hash
      // hint keeps the round sort-free (the removal set builds the
      // hash table; cached partitions carry no sort order)
      val dec = e.join(removed.select(col("node").as("src"))
          .hint("SHUFFLE_HASH"), "src")
        .groupBy(col("dst").as("node")).agg(count(lit(1)).as("ndec"))
      val degNew = degAlive.join(dec, Seq("node"), "left")
        .select(col("node"),
          (col("deg") - coalesce(col("ndec"), lit(0L))).as("deg"))
      removed = removals(degNew, iter.toLong)
      degAlive = degNew
      val nextPeeled = peeled.unionAll(removed)
      if (iter % CutEvery == 0 && iter < rounds) {
        // peeled labels first: only they read their previous cut, while
        // both read the degree lineage that the degree cut then frees
        peeled = peelCuts.cut(nextPeeled)._1
        degAlive = degCuts.cut(degNew)._1
        removed = removals(degAlive, iter.toLong)
      } else peeled = nextPeeled
    }
    peelCuts.keep()
    degCuts.keep()
    val nodes = e.select(col("src").as("node")).distinct()
    nodes.join(peeled, Seq("node"), "left")
      .select(col("node"), coalesce(col("peeled_round"), lit(0L))
        .as("peeled_round"))
  }
}
