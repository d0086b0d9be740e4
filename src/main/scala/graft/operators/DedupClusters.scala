package graft.operators

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.util.LongAccumulator

/** Cluster resolution over near-duplicate pairs — the step every real
  * dedup pipeline needs AFTER pair detection and that the reference's
  * per-key `UniqueFilterTransformer` (tiny_etl/transformers/
  * aggregators.py:71-132) cannot express: near-duplication is not an
  * equivalence relation (A≈B and B≈C do not imply A≈C), so confirmed
  * pairs form an arbitrary graph and "keep one per duplicate group"
  * means CONNECTED COMPONENTS of that graph, then one canonical doc per
  * component.
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
  * MapReduce and Beyond", SoCC'14). The edge list provably never grows
  * and converges to a star forest — every node pointing at its
  * component's minimum id — in O(log² n) rounds on ANY graph, where
  * min-label propagation needs O(diameter) rounds and template-drift
  * chains (A≈B≈C≈… with A≉C) give near-dup graphs unbounded diameter.
  *
  * Execution: plain RDD work, ONE Spark job per round and no per-round
  * query plan or session conf write. Edges point child → parent, the
  * parent being the smaller id, and between rounds each edge is held
  * from both ends as (node, neighbour) records, partitioned by node and
  * sorted — so in a node's run its parents come first, and every pass
  * streams the run without buffering it (after round one a root
  * neighbours its whole near-dup cluster). A round is two shuffles:
  * large-star → small-star keyed by child, small-star → the round-end
  * pass keyed by node, whose output is the next round's input. The
  * round-end pass also raises the not-converged flag, so the round's one
  * action both materializes its truncated runs and settles convergence.
  * Truncation is `localCheckpoint` unless `checkpointDir` asks for a
  * RELIABLE checkpoint — see [[graft.core.IterCheckpoint]].
  */
object DedupClusters {

  /** Safety cap: large-star/small-star converges in O(log² n) rounds;
    * 40 alternations cover any conceivable corpus (2^20 diameter). */
  val MaxRounds = 40

  /** Shuffles records into node runs sorted by (node, neighbour). */
  private def byNode(recs: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Long)] =
    recs.map((_, ())).repartitionAndSortWithinPartitions(part).keys

  /** `f(node, neighbour, head)` per record of sorted runs, where `head`
    * is the first — smallest — neighbour of the record's run. */
  private def withHead[T](runs: Iterator[(Long, Long)])(
      f: (Long, Long, Long) => Iterator[T]): Iterator[T] = {
    var node, head = 0L
    var started = false
    runs.flatMap { case (x, y) =>
      if (!started || x != node) { node = x; head = y; started = true }
      f(x, y, head)
    }
  }

  /** An edge child → parent as the records of both of its ends. */
  private def bothWays(child: Long, parent: Long) = Iterator((child, parent), (parent, child))

  /** Large-star: a node points each LARGER neighbour at the minimum of
    * its neighbourhood and itself. Emits (child, offered parent). */
  private def largeStar(runs: Iterator[(Long, Long)]) = withHead(runs) { (x, y, head) =>
    if (y > x) Iterator.single((y, math.min(x, head))) else Iterator.empty
  }

  /** Small-star over offers keyed by child: the smallest offer becomes
    * the parent of the node and of every other offered parent. */
  private def smallStar(runs: Iterator[(Long, Long)]) = withHead(runs) { (x, y, head) =>
    if (y == head) bothWays(x, head) else bothWays(y, head)
  }

  /** Round end: drops duplicate records and raises `unstable` where a
    * node breaks the star-forest property — a second parent, or a child
    * after a parent. The flag only goes up, so task retries cannot
    * change what it reads as. */
  private def roundEnd(runs: Iterator[(Long, Long)], unstable: LongAccumulator) = {
    var node, prev = 0L
    var started, hasParent = false
    runs.filter { case (x, y) =>
      val nextNode = !started || x != node
      val fresh = nextNode || y != prev
      if (fresh) {
        if (nextNode) { node = x; hasParent = false; started = true }
        if (hasParent) unstable.add(1)
        if (y < x) hasParent = true
        prev = y
      }
      fresh
    }
  }

  /** Connected components of the undirected graph given as a pair list.
    *
    * @param pairs  confirmed near-dup pairs (each row one undirected
    *               edge with integral ids; self-loops, duplicates and
    *               rows with a null id tolerated)
    * @param checkpointDir  when set, per-round lineage truncation uses
    *               a RELIABLE `checkpoint` into this fault-tolerant
    *               directory instead of executor-block
    *               `localCheckpoint` — the deployment dial for long
    *               jobs where an executor loss mid-iteration must not
    *               kill the run (see [[graft.core.IterCheckpoint]])
    * @return (node, component) for every node that appears in `pairs`,
    *         where component = the minimum node id reachable from it,
    *         both of the ids' input type
    */
  def components(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      checkpointDir: Option[String] = None): DataFrame = {
    val sess = pairs.sparkSession
    // greatest/least skip nulls: a row with one null id is a self-loop
    val oriented = pairs.select(
      greatest(col(aCol), col(bCol)).as("u"), least(col(aCol), col(bCol)).as("v"))
    val idType = oriented.schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"components needs integral ids; $aCol, $bCol are ${idType.simpleString}")
    val input = oriented.where(col("u") =!= col("v"))
      .select(col("u").cast(LongType), col("v").cast(LongType)).queryExecution
    // routes a (node, neighbour) record by its node alone
    val n = sess.sessionState.conf.numShufflePartitions
    val part = new Partitioner {
      val numPartitions = n
      def getPartition(key: Any) = java.lang.Math.floorMod(
        java.lang.Long.hashCode(key.asInstanceOf[(Long, Long)]._1), numPartitions)
    }
    // a round's one job: the count materializes its runs and its flag
    def settle(recs: RDD[(Long, Long)]): (RDD[(Long, Long)], Boolean) = {
      val unstable = sess.sparkContext.longAccumulator
      val runs = graft.core.IterCheckpoint.truncate(
        byNode(recs, part).mapPartitions(roundEnd(_, unstable)), checkpointDir)
      runs.count()
      (runs, unstable.value == 0)
    }
    // the input pass runs the pair plan as one SQL execution, so the UI
    // and query listeners still see it; an input that is already a star
    // forest (all disjoint pairs) converges here, with zero rounds
    var (runs, converged) = SQLExecution.withNewExecutionId(input, Some("components"))(
      settle(input.toRdd.flatMap(r => bothWays(r.getLong(0), r.getLong(1)))))
    var round = 0
    while (!converged && round < MaxRounds) {
      val prev = runs
      val (next, done) = settle(
        byNode(prev.mapPartitions(largeStar), part).mapPartitions(smallStar))
      // prev is dead once the next round has materialized from it: free
      // its blocks now, not at driver GC (see IterCheckpoint.release)
      prev.unpersist(blocking = false)
      runs = next
      converged = done
      round += 1
    }
    require(converged, s"components() did not converge in $MaxRounds rounds")
    // star forest: a non-root's run is headed by its one parent, the
    // root; a root's run holds only children
    val assignment = runs.mapPartitions(withHead(_) { (x, y, head) =>
      if (y == head) Iterator.single(Row(x, math.min(x, head))) else Iterator.empty
    })
    // Row + schema plans as a codegen'd RDD scan; a tuple RDD would not
    sess.createDataFrame(assignment, new StructType()
        .add("node", LongType, nullable = false).add("component", LongType, nullable = false))
      .select(Seq("node", "component").map(c => col(c).cast(idType).as(c)): _*)
  }

  /** Full dedup-cluster resolution: components + per-cluster size +
    * the keep/drop verdict (canonical = the cluster's minimum doc id —
    * deterministic, join-free to name, and stable under re-runs).
    * The size window hash-partitions by component: one shuffle, run
    * by the caller's action, not while the frame is built. */
  def resolve(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val comp = components(pairs, aCol, bCol)
    comp
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(
        col("node").as("doc_id"),
        col("component").as("cluster_id"),
        col("cluster_size"),
        (col("node") === col("component")).as("is_canonical"))
  }

  /** Incremental cluster maintenance: fold a tranche of NEW confirmed
    * pairs into an EXISTING cluster assignment without re-clustering
    * the corpus. Output is bit-identical to
    * `resolve(allPriorPairs ∪ pairs)` — the correctness theorem is
    * that contracting a component to its star (member → cluster
    * minimum, which is itself a member) preserves connectivity, so
    * CC(star(CC(P₁)) ∪ P₂) = CC(P₁ ∪ P₂); the fixture battery proves
    * it by hashing `merge` against the one-shot recursive-CTE oracle.
    *
    * 100 TB shape — the cost is bounded by the INCREMENT, not the
    * corpus: only clusters with a member incident to a new pair can
    * change, so the star edges entering the contraction loop are one
    * semi-join away from the new pairs' node set (two hash shuffles),
    * and every untouched cluster row passes through as a narrow
    * anti-join scan with its size and canonical flag intact. A star
    * forest is already a fixed point of the contraction, so the loop's
    * work tracks how much the increment actually perturbs — disjoint
    * tranches converge in the input pass, with zero rounds. Assignment
    * rows are two longs; the pass-through scan is the cheap part at any
    * scale.
    *
    * @param clusters prior assignment in [[resolve]]'s shape (one row
    *                 per doc: doc_id, cluster_id, cluster_size,
    *                 is_canonical; cluster_id = component minimum)
    * @param pairs    new confirmed pairs (aCol, bCol); may reference
    *                 docs absent from `clusters` (brand-new tranche
    *                 members) or bridge existing clusters
    */
  def merge(
      clusters: DataFrame,
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      checkpointDir: Option[String] = None): DataFrame = {
    // Input truncation (lazy): the new-pair plan feeds THREE consumers
    // — the contraction loop, the touched-cluster semi-join, and the
    // scope union — and in real use it is the expensive end of a
    // banded-candidate + confirm pipeline. Without the truncation each
    // consumer re-runs that pipeline from the scan; with it the pairs
    // materialize once on first action and every consumer reads the
    // blocks (the contraction's round-0 truncation then sees an
    // already-materialized input). Self-pairs are dropped HERE, not
    // just inside the contraction: a doc whose only new pair is a
    // self-pair must not enter the scope union, or merge would emit a
    // singleton row for a doc that resolve() (which filters self-loops)
    // never emits — breaking the bit-identical merge == resolve
    // contract the whole operator stands on.
    val newEdges = graft.core.IterCheckpoint.truncate(
      pairs.select(col(aCol), col(bCol)).where(col(aCol) =!= col(bCol)),
      checkpointDir, eager = false)
    val newNodes = newEdges.select(col(aCol).as("doc_id"))
      .union(newEdges.select(col(bCol).as("doc_id")))
      .distinct()
    // clusters that can change = those owning a node of some new pair
    val touched = clusters.join(newNodes, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val affected = clusters.join(touched, Seq("cluster_id"), "left_semi")
    val untouched = clusters.join(touched, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
    // star edges of the affected clusters ∪ the increment; the prior
    // minimum is itself a member, so connectivity is preserved exactly
    val starEdges = affected.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(aCol), col("cluster_id").as(bCol))
    val comp = components(starEdges.unionByName(newEdges), aCol, bCol,
      checkpointDir)
    // every affected-or-new doc gets a row; docs isolated in the edge
    // view (singleton prior clusters, self-pair-only tranche docs) are
    // their own component
    val scope = affected.select(col("doc_id")).union(newNodes).distinct()
    val merged = scope
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"),
        (col("doc_id") === col("component")).as("is_canonical"))
    untouched.unionByName(merged)
  }
}
