package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge lists — the family beyond
  * [[DedupClusters]]' connected components: here the per-node VALUE
  * (centrality) matters, not just the partition. First member:
  * fixed-point PageRank, the standard authority score over a
  * similarity graph (which near-dup cluster member is the "center"?
  * which documents anchor a topic neighborhood?).
  *
  * Determinism contract: the usual float PageRank is unreproducible
  * across engines (summation order changes ulps every iteration, and
  * the drift compounds). This implementation runs ENTIRELY in int64
  * fixed-point — rank mass starts at [[PrScale]] per node, every
  * division is integer `div` (floor on the non-negative values here),
  * and the damping update is the cross-multiplied
  * `(15·S)/100 + (85·inflow) div 100`. Two engines replaying these
  * integer ops agree bit-for-bit at every iteration — the DuckDB
  * oracle unrolls the same update k times and hash-matches.
  *
  * Scale shape: per iteration, ONE shuffle — edges join the current
  * rank vector on src (both sides hash-partitioned on the join key;
  * the edge side's partitioning is REUSED every iteration, so a real
  * deployment pre-partitions/buckets edges by src once), then a
  * hash-agg on dst with map-side partials. No all-pairs anything; a
  * 1000-executor run is bounded by the edge shuffle, exactly like one
  * round of [[DedupClusters]]. Lineage grows linearly with
  * iterations — past ~10, checkpoint the rank vector (the
  * deployment seam; at the fixture's 5 iterations the single DAG is
  * fine and keeps the whole query oracle-checkable).
  *
  * Dangling nodes (in-edges only) receive the base share and emit
  * nothing, matching the "leaked mass" PageRank variant; integer
  * flooring also leaks ≤ 1 unit per division by design — both leaks
  * are identical in any engine running the same integer ops.
  */
object Graph {

  /** Initial rank mass per node (fixed-point 1.0). At 10⁹+ nodes pair
    * with the overflow headroom note on [[pageRank]]. */
  val PrScale: Long = 1000000000000L

  /** Damping split: pr' = (15·S)/100 + (85·inflow) div 100. */
  val DampingPctKeep = 85L

  /** (id, pr) after `iters` synchronous fixed-point PageRank updates
    * over the directed edge list. Nodes = distinct src ∪ dst. Inflow
    * of u = Σ over edges v→u of pr(v) div outdeg(v).
    *
    * Overflow headroom: every pr is bounded by the total mass n·S,
    * so the damped numerator stays < 100·n·S — keep n·S below ~9·10¹⁶
    * (e.g. scale S down past 10⁵ nodes; S is a dial, ranks only need
    * relative order).
    *
    * Lineage: the rank vector is truncated every `checkpointEvery`
    * iterations (the plan otherwise grows one join+agg per round).
    * The battery's 5 iterations stay under the default of 8 — a
    * single oracle-checkable DAG; runs past that truncate, and
    * `checkpointDir` upgrades the truncation to a reliable checkpoint
    * that survives executor loss ([[graft.core.IterCheckpoint]]).
    *
    * The EDGE list is materialized once (GraphX's cache-the-graph
    * move; [[DedupClusters.components]] likewise reads its pairs once):
    * callers here feed DERIVED graphs — a k-NN graph is
    * itself an LSH-bucket + top-k pipeline — and without the
    * truncation every round's DAG re-inlines that whole subtree,
    * growing planning + codegen linearly in rounds even when AQE
    * dedupes the execution. The truncation is LAZY (`eager = false`):
    * constructing the DataFrame stays job-free (an `explain()` costs
    * nothing), the edges materialize at the first action, and every
    * round's plan is then a reference to the materialized blocks,
    * which live until the wrapping RDD is GC'd.
    */
  def pageRank(
      edges: DataFrame,
      iters: Int = 5,
      srcCol: String = "src",
      dstCol: String = "dst",
      scale: Long = PrScale,
      checkpointEvery: Int = 8,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    val e = graft.core.IterCheckpoint.truncate(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), checkpointDir,
      eager = false)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val eDeg = e.join(deg, Seq("src"))

    val baseShare = (100L - DampingPctKeep) * scale / 100L
    var pr = nodes.select(col("id"), lit(scale).as("pr"))
    // the previous checkpoint is dead once the NEXT one has eagerly
    // materialized from it — release it then (IterCheckpoint.release)
    // instead of holding every epoch's rank vector until driver GC
    var prevCp: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val inflow = eDeg
        .join(pr, col("src") === col("id"))
        .select(col("dst").as("id"), expr("pr div __deg").as("__c"))
        .groupBy(col("id")).agg(sum(col("__c")).as("__in"))
      pr = nodes
        .join(inflow, Seq("id"), "left")
        .select(col("id"),
          (lit(baseShare) +
            expr(s"($DampingPctKeep * coalesce(__in, 0L)) div 100")).as("pr"))
      if (i % checkpointEvery == 0 && i < iters) {
        pr = graft.core.IterCheckpoint.truncate(pr, checkpointDir)
        prevCp.foreach(graft.core.IterCheckpoint.release)
        prevCp = Some(pr)
      }
    }
    pr
  }

  /** Canonical undirected edge list from a (possibly directed,
    * possibly duplicated) edge stream: self-loops dropped, each edge
    * once as (lo, hi) with lo < hi. One distinct (= one shuffle). */
  def canonicalEdges(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .where(col("lo") =!= col("hi"))
      .distinct()

  /** Degree-ordered orientation of a canonical (lo < hi) edge set:
    * each undirected edge emitted exactly once as src→dst where src
    * precedes dst in the total order (degree, id) — lower degree
    * first, ties broken by lower id. This is the classic triangle-
    * counting refinement (Schank–Wagner / Latapy "compact-forward"):
    * a node's OUT-degree under this orientation is at most O(√m),
    * because a node with out-degree d has d neighbors of degree ≥ its
    * own, so d² ≤ Σ deg = 2m. The output carries `dst_deg` (the
    * head's undirected degree) so the wedge stage can order a node's
    * out-neighbors by the same (degree, id) key without re-joining
    * degrees. Two broadcast-sized joins against the degree table —
    * on a real cluster the degree frame is a hash-agg of the edge
    * list, shuffled on the same key the edge list already uses.
    */
  def orientByDegree(canonical: DataFrame): DataFrame = {
    val deg = canonical.select(col("lo").as("id")).union(canonical.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("__d"))
    val lk = struct(col("__dlo"), col("lo"))
    val hk = struct(col("__dhi"), col("hi"))
    canonical
      .join(deg.select(col("id").as("lo"), col("__d").as("__dlo")), "lo")
      .join(deg.select(col("id").as("hi"), col("__d").as("__dhi")), "hi")
      .select(
        when(lk < hk, col("lo")).otherwise(col("hi")).as("src"),
        when(lk < hk, col("hi")).otherwise(col("lo")).as("dst"),
        when(lk < hk, col("__dhi")).otherwise(col("__dlo")).as("dst_deg"))
  }

  /** Ordered wedge frame over a degree-oriented edge set: one row
    * (a, b, c) per pair of out-neighbors b ≺ c of a pivot a, where ≺
    * is the same (degree, id) order [[orientByDegree]] used. Every
    * triangle x ≺ y ≺ z appears exactly once, as the wedge pivoted at
    * its LOWEST-ordered corner x — so closing the wedge is a single
    * semi-join of (b, c) against the oriented edges (b ≺ c means the
    * closing edge, if present, is oriented b→c). The row count is
    * Σ_a C(outdeg(a), 2) ≤ m·√m/2 on ANY graph — a power-law hub has
    * huge IN-degree but O(√m) out-degree, so it no longer explodes
    * the join. Exposed (rather than inlined in [[triangleStats]]) so
    * scale tests can bound the candidate frame directly.
    */
  def orientedWedges(oriented: DataFrame): DataFrame =
    oriented.select(col("src").as("a"), col("dst").as("b"), col("dst_deg").as("__bd"))
      .join(oriented.select(col("src").as("a"), col("dst").as("c"), col("dst_deg").as("__cd")), "a")
      .where(struct(col("__bd"), col("b")) < struct(col("__cd"), col("c")))
      .select(col("a"), col("b"), col("c"))

  /** Whole-graph triangle census — edges, wedges (open 2-paths),
    * triangles, and the global clustering coefficient ×10⁶. On a
    * similarity graph this is the standard cohesion probe: a near-dup
    * cluster that is a clique (cc → 1) is one document family; a hub
    * with no closed wedges (cc → 0) is an LSH-bucket artifact worth
    * re-confirming.
    *
    * Shape: [[orientByDegree]] orients each canonical edge low-degree
    * → high-degree, [[orientedWedges]] pairs out-neighbors at each
    * pivot, and a left-semi join against the oriented edges closes
    * them — each triangle counted exactly once at its lowest-ordered
    * corner. Never an all-pairs product, and — unlike the naive
    * id-ordered wedge join — the candidate frame is bounded at
    * Σ C(outdeg, 2) ≤ m·√m/2 on ANY degree distribution: a power-law
    * hub contributes O(√m)² wedges, not deg(hub)². The triangle SET
    * is orientation-invariant, so results match any engine's census.
    * Reported wedge count is the exact Σ deg·(deg−1)/2 over true
    * undirected degrees; everything is int64, division is integer
    * `div`.
    */
  def triangleStats(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = e.select(col("lo").as("id")).union(e.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("__d"))
    val degStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("__d * (__d - 1) div 2")).as("n_wedges"))
    val o = orientByDegree(e)
    val tri = orientedWedges(o)
      .join(o.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val edgeCount = e.agg(count(lit(1)).as("n_edges"))
    degStats.crossJoin(edgeCount).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          expr("(3 * n_triangles * 1000000) div n_wedges"))
          .otherwise(lit(0L)).as("global_cc_x1e6"))
  }

  /** Synchronous label propagation — community detection over the
    * similarity graph, the cluster-granularity complement of
    * [[DedupClusters]]' connected components: LPA splits a connected
    * blob into dense communities (topic/style families for corpus
    * mixture reporting) instead of merging everything reachable.
    *
    * Fully deterministic variant of the classic algorithm: labels
    * start as node ids; each round EVERY node simultaneously adopts
    * its neighbors' most frequent label, ties broken by the SMALLEST
    * label (the usual random tie-break is what makes textbook LPA
    * unreproducible — min-label keeps two engines bit-identical, at
    * the cost of a mild bias toward low ids). Fixed `iters` rounds,
    * no convergence test — synchronous LPA can 2-cycle on bipartite
    * structures, so a fixed-round replay is both the reproducible and
    * the oracle-checkable contract.
    *
    * Shape per round: edges ⋈ labels on src (the SAME reusable
    * partitioning as [[pageRank]] — bucket edges by src once in a
    * real deployment), one (dst, label) count hash-agg, one `max_by`
    * argmax hash-agg — no window sort anywhere. The label vector is
    * truncated every `checkpointEvery` rounds (reliable when
    * `checkpointDir` is set), same contract as [[pageRank]].
    */
  def labelPropagation(
      edges: DataFrame,
      iters: Int = 4,
      srcCol: String = "src",
      dstCol: String = "dst",
      checkpointEvery: Int = 8,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    // edge materialization: same rationale as [[pageRank]]
    val e0 = graft.core.IterCheckpoint.truncate(
      canonicalEdges(edges, srcCol, dstCol), checkpointDir, eager = false)
    val sym = e0.select(col("lo").as("src"), col("hi").as("dst"))
      .union(e0.select(col("hi").as("src"), col("lo").as("dst")))
    val nodes = sym.select(col("src").as("id")).distinct()
    var lab = nodes.select(col("id"), col("id").as("community"))
    var prevCp: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val votes = sym.join(lab, col("src") === col("id"))
        .groupBy(col("dst"), col("community"))
        .agg(count(lit(1)).as("__n"))
      // every node in `nodes` has ≥1 neighbor by construction, so the
      // argmax re-labels the full node set each round
      lab = votes.groupBy(col("dst"))
        .agg(max_by(col("community"), struct(col("__n"), -col("community")))
          .as("community"))
        .select(col("dst").as("id"), col("community"))
      if (i % checkpointEvery == 0 && i < iters) {
        lab = graft.core.IterCheckpoint.truncate(lab, checkpointDir)
        prevCp.foreach(graft.core.IterCheckpoint.release) // dead epoch
        prevCp = Some(lab)
      }
    }
    lab
  }

  /** Bounded multi-source BFS — exact hop distance from the nearest
    * seed, up to `maxHops`. The "blast radius" primitive over a
    * similarity graph: distance-from-curated-seed as a quality prior,
    * contamination spread from known-bad documents, label smoothing
    * neighborhoods. Nodes unreached within the bound are absent
    * (distance is a partial function, not a sentinel).
    *
    * Frontier (delta) iteration, not dense relaxation: round i joins
    * ONLY the nodes first reached at distance i−1 against the edge
    * list, then anti-joins the visited set — so total work is
    * O(Σ frontier-adjacent edges), the textbook BFS bound, instead of
    * |reached|·deg per round. The visited set grows monotonically and
    * is truncated every `checkpointEvery` rounds (reliable when
    * `checkpointDir` is set), same contract as [[pageRank]]. Each
    * round is two shuffle equijoins on the same src key — the
    * bucket-once partitioning all iterative ops here share.
    */
  def bfs(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int = 4,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedIdCol: String = "id",
      checkpointEvery: Int = 8,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    // edge materialization: same rationale as [[pageRank]]
    val e = graft.core.IterCheckpoint.truncate(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), checkpointDir,
      eager = false)
    var dist = seeds.select(col(seedIdCol).as("id")).distinct()
      .withColumn("dist", lit(0L))
    var frontier = dist.select(col("id"))
    var prevCps: Seq[DataFrame] = Nil
    for (i <- 1 to maxHops) {
      val reached = e.join(frontier, col("src") === col("id"))
        .select(col("dst").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
      dist = dist.unionByName(reached.withColumn("dist", lit(i.toLong)))
      frontier = reached.select(col("id"))
      if (i % checkpointEvery == 0 && i < maxHops) {
        dist = graft.core.IterCheckpoint.truncate(dist, checkpointDir)
        frontier = graft.core.IterCheckpoint.truncate(frontier.toDF(), checkpointDir)
        // the previous (dist, frontier) checkpoints are dead now that
        // both new ones have eagerly materialized from them
        prevCps.foreach(graft.core.IterCheckpoint.release)
        prevCps = Seq(dist, frontier)
      }
    }
    dist
  }
}
