package graft

import graft.operators.Graph

/** Model tests for the fixed-point PageRank: the distributed update
  * must equal a sequential integer replay on small crafted graphs,
  * including dangling nodes and asymmetric in-degree.
  */
class GraphSpec extends SparkSpecBase {

  /** Sequential replay of the exact integer update. */
  private def model(
      edges: Seq[(Long, Long)], iters: Int, scale: Long): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = (100L - Graph.DampingPctKeep) * scale / 100L
    var pr = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val inflow = edges
        .map { case (s, d) => d -> pr(s) / deg(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      pr = nodes.map(n =>
        n -> (base + Graph.DampingPctKeep * inflow.getOrElse(n, 0L) / 100L)).toMap
    }
    pr
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst"), iters = iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("pageRank equals the sequential integer model (cycle + authority)") {
    // 1→2, 2→3, 3→1 cycle plus everyone also pointing at hub 4
    val edges = Seq[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (2L, 4L), (3L, 4L))
    for (iters <- Seq(1, 3, 5)) {
      assert(run(edges, iters) === model(edges, iters, Graph.PrScale),
        s"iters=$iters")
    }
  }

  test("dangling node receives inflow, emits nothing, and is ranked") {
    // 4 is a pure sink; 1 is a pure source (no in-edges → base share)
    val edges = Seq[(Long, Long)]((1L, 2L), (2L, 4L), (3L, 4L), (2L, 3L))
    val got = run(edges, 5)
    assert(got === model(edges, 5, Graph.PrScale))
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    // pure source holds exactly the base share after any iteration
    assert(got(1L) === (100L - Graph.DampingPctKeep) * Graph.PrScale / 100L)
    // the two-in-edge sink outranks its feeders
    assert(got(4L) > got(2L) && got(4L) > got(3L))
  }

  test("pageRank on a randomized graph equals the model (fixed seed)") {
    val rnd = new scala.util.Random(42L)
    val n = 30
    val edges = (for {
      s <- 0L until n.toLong
      d <- Seq.fill(1 + rnd.nextInt(3))(rnd.nextLong(n.toLong).abs) if d != s
    } yield (s, d)).distinct
    assert(run(edges, 4) === model(edges, 4, Graph.PrScale))
  }

  private def triangles(edges: Seq[(Long, Long)]): (Long, Long, Long, Long, Long) = {
    import spark.implicits._
    val r = Graph.triangleStats(edges.toDF("src", "dst")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  test("triangleStats: triangle + pendant gives exact census and cc") {
    // triangle 1-2-3 plus pendant 3-4: deg = (2,2,3,1) → wedges 1+1+3 = 5
    val got = triangles(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(got === ((4L, 4L, 5L, 1L, 3L * 1000000L / 5L)))
  }

  test("triangleStats canonicalizes direction, dups and self-loops") {
    // same graph with reversed, duplicated and self-loop edges mixed in
    val got = triangles(Seq(
      (2L, 1L), (1L, 2L), (3L, 2L), (1L, 3L), (3L, 1L), (4L, 3L), (2L, 2L)))
    assert(got === ((4L, 4L, 5L, 1L, 600000L)))
  }

  test("triangleStats: star has wedges but no triangles; K4 closes all") {
    // star center 0 with 4 leaves: wedges = C(4,2) = 6, no triangles
    assert(triangles(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))) ===
      ((5L, 4L, 6L, 0L, 0L)))
    // complete K4: every one of the 12 wedges closes — cc = 1
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    assert(triangles(k4) === ((4L, 6L, 12L, 4L, 1000000L)))
  }

  test("triangleStats equals a brute-force census on a random graph") {
    val rnd = new scala.util.Random(23L)
    val n = 20
    val canon = (for {
      a <- 0L until n.toLong; b <- (a + 1) until n.toLong
      if rnd.nextInt(4) == 0
    } yield (a, b)).toSet
    val adj = canon ++ canon.map(_.swap)
    val nodes = adj.map(_._1)
    val degOf = adj.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    val wedges = degOf.values.map(d => d * (d - 1) / 2).sum
    val tris = (for {
      a <- nodes.toSeq; b <- nodes.toSeq if a < b; c <- nodes.toSeq if b < c
      if canon((a, b)) && canon((b, c)) && canon((a, c))
    } yield 1L).sum
    val cc = if (wedges > 0) 3L * tris * 1000000L / wedges else 0L
    assert(triangles(canon.toSeq) ===
      ((nodes.size.toLong, canon.size.toLong, wedges, tris, cc)))
  }

  test("degree orientation bounds the wedge frame on a power-law hub") {
    import spark.implicits._
    // hub 0 joined to leaves 1..n, plus a leaf chain i—(i+1) that
    // closes n−1 triangles through the hub. Under id order the hub
    // (lowest id, degree n) pivots C(n,2) wedges; under degree order
    // every hub edge points INTO the hub, so wedges only pivot at
    // leaves (out-degree ≤ 2) and the frame stays O(n).
    val n = 200L
    val edges = ((1L to n).map(i => (0L, i)) ++
      (1L until n).map(i => (i, i + 1))).toDF("src", "dst")
    val e = Graph.canonicalEdges(edges)
    val wedgeRows = Graph.orientedWedges(Graph.orientByDegree(e)).count()
    val idOrderedRows = n * (n - 1) / 2 // what pivoting at the hub costs
    assert(wedgeRows <= 2 * n, s"wedge frame $wedgeRows should be O(n)")
    assert(wedgeRows * 10 < idOrderedRows,
      s"degree order ($wedgeRows) must beat id order ($idOrderedRows) by >10x")
    // and the census itself is still exact: n−1 hub triangles
    val r = Graph.triangleStats(edges).head()
    assert(r.getLong(3) === n - 1)
  }

  /** Sequential replay of deterministic LPA (min-label ties). */
  private def lpaModel(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val sym = canon ++ canon.map(_.swap)
    var lab = sym.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      lab = sym.groupBy(_._2).map { case (dst, es) =>
        val counts = es.map(e => lab(e._1))
          .groupBy(identity).map { case (c, xs) => (c, xs.size) }
        dst -> counts.toSeq.sortBy { case (c, n) => (-n, c) }.head._1
      }
    }
    lab
  }

  private def lpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.labelPropagation(edges.toDF("src", "dst"), iters = iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("labelPropagation separates two triangles across a bridge") {
    val edges = Seq[(Long, Long)](
      (1L, 2L), (2L, 3L), (1L, 3L),   // community A
      (4L, 5L), (5L, 6L), (4L, 6L),   // community B
      (3L, 4L))                       // bridge
    val got = lpa(edges, 4)
    assert(got === lpaModel(edges, 4))
    assert(Set(got(1L), got(2L), got(3L)).size === 1, "triangle A converges")
    assert(Set(got(4L), got(5L), got(6L)).size === 1, "triangle B converges")
    assert(got(1L) !== got(4L), "the bridge does not merge the communities")
  }

  test("labelPropagation equals the sequential model on a random graph") {
    val rnd = new scala.util.Random(7L)
    val edges = (for {
      s <- 0L until 25L
      d <- Seq.fill(2)(rnd.nextLong(25L).abs) if d != s
    } yield (s, d)).distinct
    for (iters <- Seq(1, 3))
      assert(lpa(edges, iters) === lpaModel(edges, iters), s"iters=$iters")
  }

  // --------------------------------------------------------------- BFS

  /** Sequential BFS distances up to maxHops from the seed set. */
  private def bfsModel(
      edges: Seq[(Long, Long)], seeds: Set[Long], maxHops: Int): Map[Long, Long] = {
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (i <- 1 to maxHops) {
      val reached = edges.collect {
        case (s, d) if frontier.contains(s) && !dist.contains(d) => d
      }.toSet
      dist ++= reached.map(_ -> i.toLong)
      frontier = reached
    }
    dist
  }

  private def bfs(
      edges: Seq[(Long, Long)], seeds: Set[Long], maxHops: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.bfs(
        edges.toDF("src", "dst"),
        seeds.toSeq.toDF("id"),
        maxHops = maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("bfs finds nearest-seed hop distances, directed, bounded") {
    // 0→1→2→3→4 chain plus a shortcut 0→3; seed {0}
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L))
    val got = bfs(edges, Set(0L), maxHops = 2)
    // 3 is reached at hop 1 via the shortcut, 4 at hop 2; 2 also hop 2;
    // edges are DIRECTED — nothing upstream of 0 exists to reach
    assert(got === Map(0L -> 0L, 1L -> 1L, 3L -> 1L, 2L -> 2L, 4L -> 2L))
    // hop bound respected: maxHops=1 must not reach 2 or 4
    assert(bfs(edges, Set(0L), maxHops = 1) === Map(0L -> 0L, 1L -> 1L, 3L -> 1L))
  }

  test("bfs multi-source takes the nearest seed; isolated seeds still emit") {
    val edges = Seq((1L, 2L), (2L, 3L), (9L, 3L))
    val got = bfs(edges, Set(1L, 9L, 50L), maxHops = 3)
    // 3 is 1 hop from seed 9, not 2 hops from seed 1; 50 has no edges
    assert(got === Map(1L -> 0L, 9L -> 0L, 50L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("bfs equals the sequential model on a random graph") {
    val rnd = new scala.util.Random(11L)
    val edges = (for {
      s <- 0L until 30L
      d <- Seq.fill(2)(rnd.nextLong(30L).abs) if d != s
    } yield (s, d)).distinct
    val seeds = Set(0L, 7L, 13L)
    for (hops <- Seq(1, 3, 5))
      assert(bfs(edges, seeds, hops) === bfsModel(edges, seeds, hops), s"hops=$hops")
  }
}
