package graft

import scala.jdk.CollectionConverters._

import graft.operators.DedupClusters

/** Semantics tests for connected-component cluster resolution
  * ([[graft.operators.DedupClusters]]): hand-checkable graphs pin the
  * star-contraction output; a seeded randomized differential test
  * checks every component assignment against a driver-side union-find
  * ground truth (the fixture-scale battery covers oracle parity).
  */
class DedupClustersSpec extends SparkSpecBase {

  import spark.implicits._

  private def comps(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    DedupClusters
      .components(pairs.toDF("doc_a", "doc_b"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  test("a chain resolves to one component rooted at the minimum") {
    // worst case for label propagation (diameter = n), routine for
    // star contraction
    val chain = (0L until 9L).map(i => (i, i + 1))
    val got = comps(chain)
    assert(got === (0L to 9L).map(_ -> 0L).toMap)
  }

  test("disjoint components keep separate minima; duplicates and reversed edges collapse") {
    val got = comps(Seq((5L, 3L), (3L, 5L), (5L, 3L), (10L, 11L), (12L, 11L)))
    assert(got === Map(3L -> 3L, 5L -> 3L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("self-loops and empty input are tolerated") {
    assert(comps(Seq((7L, 7L))) === Map.empty)
    assert(comps(Seq.empty) === Map.empty)
  }

  test("resolve emits cluster size and exactly one canonical doc per cluster") {
    val res = DedupClusters
      .resolve(Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("doc_a", "doc_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(res === Array(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (8L, 8L, 2L, true), (9L, 8L, 2L, false)))
  }

  private def resolved(pairs: Seq[(Long, Long)]) =
    DedupClusters.resolve(pairs.toDF("doc_a", "doc_b"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)

  test("merge(resolve(P1), P2) == resolve(P1 ∪ P2): bridge, new docs, untouched cluster") {
    val p1 = Seq((1L, 2L), (2L, 3L), (8L, 9L), (20L, 21L))
    // bridges clusters {1,2,3} and {8,9}, adds brand-new {30,31};
    // {20,21} is untouched and must pass through
    val p2 = Seq((3L, 8L), (30L, 31L))
    val got = rows(DedupClusters.merge(resolved(p1), p2.toDF("doc_a", "doc_b")))
    assert(got === rows(resolved(p1 ++ p2)))
  }

  test("merge drops self-pairs exactly as resolve does (the bit-identical contract)") {
    // doc 5's ONLY new pair is a self-pair: resolve(P1 ∪ {(5,5)})
    // filters the self-loop and emits no row for 5; merge must not
    // smuggle 5 in through its scope union. A self-pair on an EXISTING
    // member (2,2) must likewise change nothing.
    val p1 = Seq((1L, 2L))
    val p2 = Seq((5L, 5L), (2L, 2L))
    val got = rows(DedupClusters.merge(resolved(p1), p2.toDF("doc_a", "doc_b")))
    assert(got === rows(resolved(p1 ++ p2)))
    assert(!got.exists(_._1 == 5L))
  }

  test("merge with no new pairs returns the prior assignment unchanged") {
    val prior = resolved(Seq((1L, 2L), (5L, 6L)))
    val got = rows(DedupClusters.merge(prior,
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")))
    assert(got === rows(prior))
  }

  test("merge randomized: arbitrary pair splits equal the one-shot resolve (seeded)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 50
      val all = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val (p1, p2) = all.partition(_ => rnd.nextBoolean())
      val got = rows(DedupClusters.merge(resolved(p1), p2.toDF("doc_a", "doc_b")))
      assert(got === rows(resolved(all)))
    }
  }

  /** Driver-side union-find ground truth: node → minimum reachable id
    * for every node of a non-self-loop edge. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.filter { case (a, b) => a != b }.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
  }

  test("randomized graphs match a union-find ground truth (seeded)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(comps(edges) === unionFind(edges))
    }
  }

  test("union-find differential: null ids on either side drop their row") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(120) {
      def id = if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(50).toLong)
      (id, id)
    }
    val got = DedupClusters.components(edges.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(edges.exists(_._1.isEmpty) && edges.exists(_._2.isEmpty))
    assert(got === unionFind(edges.collect { case (Some(a), Some(b)) => (a, b) }))
  }

  test("union-find differential: int ids stay int, in components and resolve") {
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(80)((rnd.nextInt(60), rnd.nextInt(60)))
    val pairs = edges.toDF("doc_a", "doc_b")
    val comp = DedupClusters.components(pairs)
    assert(comp.schema.map(_.dataType) ===
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType))
    assert(comp.collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap ===
      unionFind(edges.map { case (a, b) => (a.toLong, b.toLong) }))
    val res = DedupClusters.resolve(pairs).schema
    assert(res("doc_id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(res("cluster_id").dataType === org.apache.spark.sql.types.IntegerType)
  }

  test("union-find differential: ids at Long.MinValue and Long.MaxValue") {
    val (lo, hi) = (Long.MinValue, Long.MaxValue)
    val edges = Seq((hi, hi - 1), (hi - 1, 0L), (0L, lo + 1), (lo, lo + 1),
      (hi - 5, hi - 6), (lo + 7, hi - 7), (-1L, 1L))
    val got = comps(edges)
    assert(got === unionFind(edges))
    assert(got(hi) === lo)
  }

  test("union-find differential: a 20,000-leaf star plus a 500-node chain") {
    // the star's root neighbours every leaf: its run must stream, and the
    // chain forces several rounds in the same input
    val star = (1L to 20000L).map(i => (100000L + i, 100000L))
    val chain = (0L until 499L).map(i => (i + 1, i))
    val edges = star ++ chain
    assert(comps(edges) === unionFind(edges))
  }

  /** Driver-side large-star/small-star on edge SETS: the number of
    * rounds the algorithm needs to reach a star forest. */
  private def starRounds(pairs: Seq[(Long, Long)]): Int = {
    def isStarForest(e: Set[(Long, Long)]) =
      e.groupBy(_._1).values.forall(_.size == 1) &&
        e.map(_._1).intersect(e.map(_._2)).isEmpty
    var e = pairs.collect { case (a, b) if a != b => (a max b, a min b) }.toSet
    var rounds = 0
    while (!isStarForest(e)) {
      val nbrs = (e.toSeq ++ e.toSeq.map(_.swap)).groupBy(_._1)
        .map { case (u, es) => u -> es.map(_._2) }
      val large = nbrs.toSeq.flatMap { case (u, vs) =>
        val m = (vs :+ u).min
        vs.filter(_ > u).map(v => (v, m))
      }.toSet
      e = large.groupBy(_._1).toSeq.flatMap { case (u, es) =>
        val ws = es.map(_._2)
        (ws + u - ws.min).map(w => (w, ws.min))
      }.toSet
      rounds += 1
    }
    rounds
  }

  /** Jobs `body` launches, counted by a listener under a fresh job
    * group. A marker job in the same group runs after `body`; listener
    * events arrive in order, so once its start is seen every earlier
    * job start has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          starts.put(String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "components")
      try {
        body
        sc.setJobDescription("marker")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val seen = Iterator.continually(starts.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != "marker").size
      seen
    } finally sc.removeSparkListener(listener)
  }

  test("components launches one job per round plus one for the input") {
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val rounds = starRounds((0L until 63L).map(i => (i, i + 1)))
    assert(rounds >= 3, s"a 64-node path should need several rounds, got $rounds")
    assert(jobsOf(DedupClusters.components(path)) === 1 + rounds)
    // all-disjoint pairs are already a star forest: the input job only
    val disjoint = (0L until 40L).map(i => (2 * i, 2 * i + 1)).toDF("doc_a", "doc_b")
    assert(jobsOf(DedupClusters.components(disjoint)) === 1)
  }

  test("components never writes session conf while it runs") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val watcher = new Thread(() => while (running) {
      seen.add(spark.conf.get(key))
      Thread.sleep(1)
    })
    watcher.start()
    try {
      val path = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      assert(DedupClusters.components(path).collect().map(_.getLong(1)).toSet === Set(0L))
    } finally {
      running = false
      watcher.join()
    }
    assert(seen.asScala.toSet === Set(before),
      s"$key changed while components ran: saw ${seen.asScala.mkString(", ")}")
  }
}
